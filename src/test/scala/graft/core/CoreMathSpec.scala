package graft.core

import org.scalatest.funsuite.AnyFunSuite

class CoreMathSpec extends AnyFunSuite {

  test("geotransform apply + invert roundtrip") {
    val gt = Array(440720.0, 60.0, 0.0, 3751320.0, 0.0, -60.0)
    val inv = GeoTransform.invert(gt).get
    for ((px, py) <- Seq((0.0, 0.0), (10.5, 3.25), (20.0, 20.0))) {
      val gx = GeoTransform.applyX(gt, px, py)
      val gy = GeoTransform.applyY(gt, px, py)
      assert(math.abs(GeoTransform.applyX(inv, gx, gy) - px) < 1e-9)
      assert(math.abs(GeoTransform.applyY(inv, gx, gy) - py) < 1e-9)
    }
    // rotated transform envelope
    val rot = Array(100.0, 1.0, 0.5, 200.0, -0.25, -1.0)
    val (minx, miny, maxx, maxy) = GeoTransform.envelope(rot, 10, 10)
    assert(minx <= maxx && miny <= maxy)
    val inv2 = GeoTransform.invert(rot).get
    val gx = GeoTransform.applyX(rot, 3.0, 7.0)
    val gy = GeoTransform.applyY(rot, 3.0, 7.0)
    assert(math.abs(GeoTransform.applyX(inv2, gx, gy) - 3.0) < 1e-9)
  }

  test("degenerate geotransform has no inverse; unknown srid is a named error") {
    assert(GeoTransform.invert(Array(0.0, 0, 0, 0, 0, 0)).isEmpty)
    val e = intercept[IllegalArgumentException](CrsTransform.toLonLat(9999, 0, 0))
    assert(e.getMessage == "unsupported srid 9999")
  }

  test("mercator known values and roundtrip") {
    assert(math.abs(Mercator.x(180.0) - 20037508.342789244) < 1e-6)
    assert(math.abs(Mercator.x(0.0)) < 1e-9)
    assert(math.abs(Mercator.y(0.0)) < 1e-9)
    // y(MaxLat) == HalfWorld by construction of MaxLat
    // MaxLat is the conventional truncated constant → sub-mm, not exact
    assert(math.abs(Mercator.y(Mercator.MaxLat) - Mercator.HalfWorld) < 1e-3)
    for (lat <- Seq(-80.0, -33.3, 0.0, 12.34, 66.6); lon <- Seq(-179.0, -1.5, 0.0, 100.25)) {
      assert(math.abs(Mercator.lon(Mercator.x(lon)) - lon) < 1e-9)
      assert(math.abs(Mercator.lat(Mercator.y(lat)) - lat) < 1e-9)
    }
  }

  test("utm roundtrip sub-mm and sane zone-11 values") {
    for (srid <- Seq(32611, 32631); lat <- Seq(0.5, 33.9, 60.0); dlon <- Seq(-2.5, 0.0, 2.9)) {
      val lon0 = (Utm.zoneOf(srid) * 6 - 183).toDouble
      val (e, n) = Utm.forward(srid, lon0 + dlon, lat)
      val (lonBack, latBack) = Utm.inverse(srid, e, n)
      assert(math.abs(lonBack - (lon0 + dlon)) < 1e-8, s"lon roundtrip $srid")
      assert(math.abs(latBack - lat) < 1e-8, s"lat roundtrip $srid")
    }
    // central meridian maps to E0=500000 exactly, equator to N=0
    val (e0, n0) = Utm.forward(32611, -117.0, 0.0)
    assert(math.abs(e0 - 500000.0) < 1e-6 && math.abs(n0) < 1e-6)
    // scale factor at central meridian: 1km of latitude ≈ 0.9996 * arc
    val (_, n1) = Utm.forward(32611, -117.0, 0.01)
    assert(math.abs((n1 - n0) / (0.01 * 110574.0) - 0.9996) < 1e-3)
  }

  test("tile math ladder + byte.tif placement tiles to z11 (354, 818)") {
    assert(math.abs(TileMath.resolution(0) - 156543.03392804097) < 1e-9)
    assert(TileMath.matrixSize(11) == 2048)
    // byte.tif UTM-11 envelope (FIXTURES.md golden; reference case
    // autotest/utilities/test_gdalalg_raster_tile.py:55-69)
    val gt = RefFixtures.ByteGt
    val (minE, minN, maxE, maxN) = GeoTransform.envelope(gt, 20, 20)
    val corners = Seq((minE, minN), (minE, maxN), (maxE, minN), (maxE, maxN))
      .map { case (e, n) => Utm.inverse(32611, e, n) }
    val lons = corners.map(_._1); val lats = corners.map(_._2)
    val minx = Mercator.x(lons.min); val maxx = Mercator.x(lons.max)
    val miny = Mercator.y(lats.min); val maxy = Mercator.y(lats.max)
    val (tx0, ty0, tx1, ty1) = TileMath.tileRange(minx, miny, maxx, maxy, 11)
    assert(tx0 == 354 && tx1 == 354 && ty0 == 818 && ty1 == 818,
      s"got ($tx0,$ty0)-($tx1,$ty1)")
  }

  test("tile bounds invert tile indices; geotransform is consistent") {
    for (z <- Seq(3, 11); x <- Seq(0, 5); y <- Seq(0, 3)) {
      if (x < TileMath.matrixSize(z) && y < TileMath.matrixSize(z)) {
        val (minx, miny, maxx, maxy) = TileMath.tileBounds(z, x, y)
        val cx = (minx + maxx) / 2; val cy = (miny + maxy) / 2
        assert(TileMath.tileX(cx, z) == x && TileMath.tileY(cy, z) == y)
        val tgt = TileMath.tileGeoTransform(z, x, y)
        assert(math.abs(GeoTransform.applyX(tgt, 256, 0) - maxx) < 1e-6)
        assert(math.abs(GeoTransform.applyY(tgt, 0, 256) - miny) < 1e-6)
      }
    }
  }

  test("quadkey matches the Bing convention") {
    // Bing documentation example: tile (3,5) at level 3 → "213"
    assert(TileMath.quadkey(3, 3, 5) == "213")
    assert(TileMath.quadkey(1, 0, 0) == "0")
    assert(TileMath.quadkey(2, 3, 3) == "33")
    for (z <- 1 to 6; x <- Seq(0, (1 << z) - 1); y <- Seq(0, (1 << z) / 2)) {
      assert(TileMath.quadkeyToTile(TileMath.quadkey(z, x, y)) == ((z, x, y)))
    }
  }

  test("xyz/tms flip and packing") {
    assert(TileMath.flipY(11, 818) == 2048 - 1 - 818)
    val packed = TileMath.pack(11, 354, 818)
    assert(TileMath.unpackZ(packed) == 11)
    assert(TileMath.unpackX(packed) == 354)
    assert(TileMath.unpackY(packed) == 818)
  }

  test("cell index cover / ring / adaptive level") {
    val c = CellIndex.cell(-117.64, 33.9, 12)
    val (minLon, minLat, maxLon, maxLat) = CellIndex.envelope(c)
    assert(-117.64 >= minLon && -117.64 < maxLon && 33.9 >= minLat && 33.9 < maxLat)
    val cover = CellIndex.cover(minLon + 1e-9, minLat + 1e-9, maxLon - 1e-9, maxLat - 1e-9, 12)
    assert(cover.length == 1 && cover(0) == c)
    val ring1 = CellIndex.ring(c, 1)
    assert(ring1.length == 8 && !ring1.contains(c))
    val lvl = CellIndex.adaptiveLevel(-10, -10, 10, 10, 14, 64)
    val nCells = CellIndex.cover(-10, -10, 10, 10, lvl).length
    assert(nCells <= 64, s"level $lvl gives $nCells cells")
  }

  test("morton interleave is monotone in locality blocks") {
    assert(TileMath.morton(0, 0) == 0L)
    assert(TileMath.morton(1, 0) == 1L)
    assert(TileMath.morton(0, 1) == 2L)
    assert(TileMath.morton(1, 1) == 3L)
    assert(TileMath.morton(2, 2) == 12L)
  }
}
