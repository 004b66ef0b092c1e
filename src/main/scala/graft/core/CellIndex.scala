package graft.core

/** Hilbert curve code for locality-preserving ordering (SURVEY.md §2.6
  * spatial sort; reference: apps/gdalalg_vector_sort.cpp:40 `hilbert`
  * method over alg/hilbert.cpp GDALHilbertCode — implemented here from
  * the published rotate/reflect d-index construction, and the same curve
  * family FlatGeoBuf's packed R-tree sorts by, packedrtree.h:93-112). */
object Hilbert {
  /** (x, y) on a 2^order × 2^order grid → distance along the Hilbert
    * curve. Standard bottom-up rotation accumulation. */
  def xy2d(order: Int, x0: Int, y0: Int): Long = {
    var rx = 0
    var ry = 0
    var d = 0L
    var x = x0
    var y = y0
    var s = 1 << (order - 1)
    while (s > 0) {
      rx = if ((x & s) > 0) 1 else 0
      ry = if ((y & s) > 0) 1 else 0
      d += s.toLong * s.toLong * ((3 * rx) ^ ry)
      // rotate quadrant
      if (ry == 0) {
        if (rx == 1) {
          x = s - 1 - x
          y = s - 1 - y
        }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Inverse: curve distance → (x, y). */
  def d2xy(order: Int, d0: Long): (Int, Int) = {
    var x = 0
    var y = 0
    var t = d0
    var s = 1
    while (s < (1 << order)) {
      val rx = (1L & (t / 2)).toInt
      val ry = (1L & (t ^ rx)).toInt
      if (ry == 0) {
        if (rx == 1) {
          x = s - 1 - x
          y = s - 1 - y
        }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t /= 4
      s <<= 1
    }
    (x, y)
  }

  /** lon/lat → Hilbert code at `order` bits per axis (the engine's
    * locality key for range partitioning). */
  def ofLonLat(lon: Double, lat: Double, order: Int): Long = {
    val n = 1 << order
    val x = math.min(n - 1, math.max(0, math.floor((lon + 180.0) / 360.0 * n).toInt))
    val y = math.min(n - 1, math.max(0, math.floor((90.0 - lat) / 180.0 * n).toInt))
    xy2d(order, x, y)
  }
}

/** Quadtree cell index over plain lon/lat (EPSG:4326) space.
  *
  * Plays the role H3/S2 plays in the north star: a deterministic,
  * dependency-free global grid whose cell ids are ordinary long columns, so
  * spatial joins become equi-joins and Catalyst/AQE handle the rest. The
  * reference's analog is its per-driver spatial indexes (CPLQuadTree
  * port/cpl_quad_tree.h:48-72, FlatGeoBuf packed Hilbert R-tree
  * ogr/ogrsf_frmts/flatgeobuf/packedrtree.h:78-139) — ours is a global
  * key scheme instead of an in-memory structure, because the join is
  * distributed.
  *
  * Grid: level L splits lon [-180,180) and lat [-90,90) each into 2^L bins
  * (cells are 2:1 aspect in degrees; irrelevant for indexing correctness).
  * Cell id layout = same pack as TileMath: (level<<58)|(x<<29)|y.
  */
object CellIndex {
  val MaxLevel = 28

  @inline def cellX(lon: Double, level: Int): Int = {
    val n = 1 << level
    val v = math.floor((lon + 180.0) / 360.0 * n).toInt
    math.max(0, math.min(n - 1, v))
  }

  @inline def cellY(lat: Double, level: Int): Int = {
    val n = 1 << level
    val v = math.floor((90.0 - lat) / 180.0 * n).toInt
    math.max(0, math.min(n - 1, v))
  }

  @inline def cell(lon: Double, lat: Double, level: Int): Long =
    TileMath.pack(level, cellX(lon, level), cellY(lat, level))

  /** All cells at `level` intersecting the lon/lat envelope (inclusive).
    * An inverted envelope contains no point and covers nothing. */
  def cover(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double, level: Int): Array[Long] = {
    if (minLon > maxLon || minLat > maxLat) return Array.emptyLongArray
    val x0 = cellX(minLon, level); val x1 = cellX(maxLon, level)
    val y0 = cellY(maxLat, level); val y1 = cellY(minLat, level)
    val out = new Array[Long]((x1 - x0 + 1) * (y1 - y0 + 1))
    var i = 0
    var x = x0
    while (x <= x1) {
      var y = y0
      while (y <= y1) { out(i) = TileMath.pack(level, x, y); i += 1; y += 1 }
      x += 1
    }
    out
  }

  /** Pick a cover level so the envelope maps to ≤ maxCells cells (coarse
    * geometries get coarse cells — bounds the explode factor). */
  def adaptiveLevel(minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
                    finest: Int, maxCells: Int): Int = {
    var lvl = finest
    while (lvl > 0) {
      val nx = cellX(maxLon, lvl) - cellX(minLon, lvl) + 1
      val ny = cellY(minLat, lvl) - cellY(maxLat, lvl) + 1
      if (nx.toLong * ny <= maxCells) return lvl
      lvl -= 1
    }
    0
  }

  /** Ring of cells at Chebyshev distance exactly `k` around a cell (the
    * k-ring expansion step of the kNN search; k=0 → the cell itself). */
  def ring(cellId: Long, k: Int): Array[Long] = {
    val level = TileMath.unpackZ(cellId)
    val cx = TileMath.unpackX(cellId)
    val cy = TileMath.unpackY(cellId)
    val n = 1 << level
    if (k == 0) return Array(cellId)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    var dx = -k
    while (dx <= k) {
      var dy = -k
      while (dy <= k) {
        if (math.max(math.abs(dx), math.abs(dy)) == k) {
          // lon wraps around the antimeridian; lat clamps at the poles
          val x = ((cx + dx) % n + n) % n
          val y = cy + dy
          if (y >= 0 && y < n) buf += TileMath.pack(level, x, y)
        }
        dy += 1
      }
      dx += 1
    }
    buf.toArray
  }

  /** All cells at Chebyshev distance ≤ r (rings 0..r) — the kNN candidate
    * block; lon wraps, lat clamps. */
  def block(cellId: Long, r: Int): Array[Long] = {
    val level = TileMath.unpackZ(cellId)
    val cx = TileMath.unpackX(cellId)
    val cy = TileMath.unpackY(cellId)
    val n = 1 << level
    val buf = new scala.collection.mutable.ArrayBuffer[Long]((2 * r + 1) * (2 * r + 1))
    var dy = -r
    while (dy <= r) {
      val y = cy + dy
      if (y >= 0 && y < n) {
        var dx = -r
        while (dx <= r) {
          val x = ((cx + dx) % n + n) % n
          buf += TileMath.pack(level, x, y)
          dx += 1
        }
      }
      dy += 1
    }
    buf.distinct.toArray // low levels: lon wrap can alias cells
  }

  /** Envelope of a cell: (minLon, minLat, maxLon, maxLat). */
  def envelope(cellId: Long): (Double, Double, Double, Double) = {
    val level = TileMath.unpackZ(cellId)
    val n = 1 << level
    val x = TileMath.unpackX(cellId)
    val y = TileMath.unpackY(cellId)
    val lonSpan = 360.0 / n
    val latSpan = 180.0 / n
    (-180.0 + x * lonSpan, 90.0 - (y + 1) * latSpan, -180.0 + (x + 1) * lonSpan, 90.0 - y * latSpan)
  }
}
