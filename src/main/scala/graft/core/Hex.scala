package graft.core

/** Hexagonal cell index (the H3-style binning the north star names;
  * `CellIndex`'s quadkey cells remain the join-key workhorse — hexes add
  * the uniform-adjacency binning H3 is used for: density surfaces,
  * neighborhood smoothing, chorochromatic maps).
  *
  * Pointy-top axial coordinates over the lon/lat plane: the fractional
  * axial coords of a point are
  *   q̃ = (√3/3 · lon − 1/3 · lat) / size,  r̃ = (2/3 · lat) / size
  * and the containing hex is the CUBE ROUND (Amit Patel's canonical
  * construction): round each cube coordinate, then repair the one with
  * the largest rounding error so x+y+z = 0 holds. `size` is the hex
  * circumradius in degrees.
  *
  * Determinism/oracle notes: every step is plain IEEE double arithmetic
  * in a FIXED op order, rounding is explicit floor(v + 0.5) (Java
  * Math.round and SQL round() disagree at .5 boundaries; floor+0.5 is
  * identical everywhere), so the whole kernel is bit-replicable in an
  * ANSI oracle. Axial coords are bounded (|q|,|r| < 2^19 enforced) and
  * pack into one long.
  */
object Hex {
  /** Packed hex id of (lon, lat) for circumradius `size` degrees. */
  def hexOf(lon: Double, lat: Double, size: Double): Long = {
    val qt = (math.sqrt(3.0) / 3.0 * lon - (1.0 / 3.0) * lat) / size
    val rt = ((2.0 / 3.0) * lat) / size
    // cube coords: x = q, z = r, y = -x-z
    val yt = -qt - rt
    var rx = math.floor(qt + 0.5)
    var ry = math.floor(yt + 0.5)
    var rz = math.floor(rt + 0.5)
    val dx = math.abs(rx - qt)
    val dy = math.abs(ry - yt)
    val dz = math.abs(rz - rt)
    if (dx > dy && dx > dz) rx = -ry - rz
    else if (dy > dz) ry = -rx - rz
    else rz = -rx - ry
    pack(rx.toLong, rz.toLong)
  }

  def pack(q: Long, r: Long): Long = {
    require(math.abs(q) < (1L << 19) && math.abs(r) < (1L << 19),
      s"hex axial coords out of packing range: ($q, $r)")
    ((q + (1L << 20)) << 21) | (r + (1L << 20))
  }

  def unpackQ(id: Long): Long = (id >> 21) - (1L << 20)
  def unpackR(id: Long): Long = (id & ((1L << 21) - 1)) - (1L << 20)

  /** Center of a hex id in lon/lat — the exact inverse of the axial
    * transform: lat = 3/2·size·r, lon = √3·size·(q + r/2). */
  def center(id: Long, size: Double): (Double, Double) = {
    val q = unpackQ(id).toDouble; val r = unpackR(id).toDouble
    (math.sqrt(3.0) * size * (q + r / 2.0), 1.5 * size * r)
  }

  /** Hex ids whose CENTER lies in the envelope expanded by one
    * circumradius — the candidate cover for hex-keyed spatial joins.
    * Recall guarantee: for any point p inside the envelope, the center
    * of hexOf(p) is within `size` of p (circumradius bound), hence
    * inside the expanded envelope, hence enumerated — so
    * join-on-cover ⊇ join-exact, and an exact refine after the equi-join
    * restores equality (the H3 polyfill-with-buffer recipe). */
  def coverCenters(minx: Double, miny: Double, maxx: Double, maxy: Double,
                   size: Double): Array[Long] = {
    // fail loudly: size <= 0 / NaN would saturate the loop bounds and
    // silently return an EMPTY cover — a join that quietly drops rows
    require(size > 0.0, s"hex size must be positive, got $size")
    // an inverted envelope contains no point; expanding it by `size`
    // must not turn it into a non-empty box
    if (minx > maxx || miny > maxy) return Array.emptyLongArray
    // expand by the circumradius plus a rounding slack: a point on a hex
    // vertex is exactly `size` from its center, and that center computed
    // in doubles can land an ulp outside a box expanded by `size` alone
    val mag = math.max(math.max(math.abs(minx), math.abs(maxx)), math.max(math.abs(miny), math.abs(maxy)))
    val pad = size + 1e-9 * (size + mag)
    val x0 = minx - pad; val x1 = maxx + pad
    val y0 = miny - pad; val y1 = maxy + pad
    val s3 = math.sqrt(3.0) * size
    val rLo = math.floor((2.0 / 3.0) * y0 / size).toLong - 1
    val rHi = math.ceil((2.0 / 3.0) * y1 / size).toLong + 1
    val buf = scala.collection.mutable.ArrayBuffer[Long]()
    var r = rLo
    while (r <= rHi) {
      val latC = 1.5 * size * r
      if (latC >= y0 && latC <= y1) {
        val qLo = math.floor(x0 / s3 - r / 2.0).toLong - 1
        val qHi = math.ceil(x1 / s3 - r / 2.0).toLong + 1
        var q = qLo
        while (q <= qHi) {
          val lonC = s3 * (q + r / 2.0)
          if (lonC >= x0 && lonC <= x1) buf += pack(q, r)
          q += 1
        }
      }
      r += 1
    }
    buf.toArray
  }

  /** The six axial directions — SYMMETRIC under negation (q171's
    * scatter-vs-gather oracle equivalence depends on this; keep it the
    * single definition). */
  val Directions: Seq[(Int, Int)] =
    Seq((1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1))

  /** The six axial neighbor ids of a hex. */
  def neighbors(id: Long): Seq[Long] = {
    val q = unpackQ(id); val r = unpackR(id)
    Directions.map { case (dq, dr) => pack(q + dq, r + dr) }
  }
}
