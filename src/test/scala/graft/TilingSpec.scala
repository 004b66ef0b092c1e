package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core._
import graft.expr.functions._
import graft.gen.Fixtures
import graft.ops.Tiling

class TilingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A synthesized twin of byte.tif's placement: 20×20 gray, UTM-11 georef
    * (autotest fixture byte.tif; tiles to z11 354/818 —
    * autotest/utilities/test_gdalalg_raster_tile.py:55-69). */
  private def byteTwin = {
    val r = Fixtures.patternRaster(0, 20, 20, 1)
    Seq((0L, "twin", ImageCodec.encodePng(r), 20, 20, "png", "cap", 0L,
      Seq(440720.0, 60.0, 0.0, 3751320.0, 0.0, -60.0), 32611))
      .toDF("key", "image_id", "bytes", "w", "h", "fmt", "caption", "phash", "gt", "srid")
  }

  test("byte.tif twin assigns to exactly z11 (354, 818)") {
    val tiles = Tiling.assign(byteTwin, 11, 11)
      .select(tile_z(col("tile")), tile_x(col("tile")), tile_y(col("tile")))
      .as[(Int, Int, Int)].collect()
    assert(tiles.toSeq == Seq((11, 354, 818)))
  }

  test("base tile of byte twin warps real content with validity edges") {
    val tiles = Tiling.baseTiles(byteTwin, 11, kernel = "near")
    val rows = tiles.select(col("tile"), col("n_images"), planes_checksums(col("buf")).as("cks"),
      col("buf")).collect()
    assert(rows.length == 1)
    val buf = rows(0).getAs[Array[Byte]]("buf")
    val cks = rows(0).getAs[scala.collection.Seq[Int]]("cks")
    assert(cks.length == 4, "rgb + validity planes")
    val validCount = buf.slice(3 * 65536, 4 * 65536).count(_ != 0)
    assert(validCount > 100 && validCount < 65536, s"partial coverage, got $validCount")
    // deterministic: second run identical
    val again = Tiling.baseTiles(byteTwin, 11, kernel = "near")
      .select(planes_checksums(col("buf"))).as[Seq[Int]].collect()(0)
    assert(cks == again)
  }

  test("mosaic is partitioning-invariant (commutative blend)") {
    val images = Fixtures.imagesFromParts(spark, TestSpark.Sf).filter(col("key") % 7 === 0)
    def run(parts: Int) =
      Tiling.baseTiles(images.repartition(parts), 3)
        .select(col("tile"), planes_checksums(col("buf")).as("cks"))
        .as[(Long, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(run(2) == run(13), "different partitionings must give identical mosaics")
  }

  /** Full-tile RGB + validity planes straight from `Warp.warpInto`: the
    * reference render, independent of `WarpWindow` and `MosaicAgg.blend`. */
  private def renderFull(d: Raster, meta: Array[Double], tile: Long): Array[Byte] = {
    val px = graft.expr.PlaneBuf.PlanePx
    val src = if (d.nBands == 3) d else Raster(d.w, d.h, Array.fill(3)(d.bands(0)))
    val out = Array.ofDim[Int](3, px)
    val dstGt = TileMath.tileGeoTransform(TileMath.unpackZ(tile), TileMath.unpackX(tile), TileMath.unpackY(tile))
    val (x0, y0, x1, y1) = Warp.warpInto(src, meta.slice(3, 9), meta(2).toInt, dstGt, 3857, 256, 256,
      "near", -1, out)
    val buf = new Array[Byte](4 * px)
    for (y <- y0 to y1; x <- x0 to x1) {
      val i = y * 256 + x
      if (out.forall(_(i) != -1)) {
        (0 until 3).foreach(b => buf(b * px + i) = out(b)(i).toByte)
        buf(3 * px + i) = 1
      }
    }
    buf
  }

  test("window fragments mosaic byte-identically to full-tile warps merged per tile") {
    // the fixture corpus plus one image above Mercator's 85.05° limit:
    // tile_cover clamps it onto the top row of tiles, but its warp window
    // there is empty
    val img = Fixtures.genImage(2L)
    val polar = img.copy(key = -1L, gt = Array(10.0, 2.0 / img.w, 0.0, 88.0, 0.0, -2.0 / img.h), srid = 4326)
    val images = Fixtures.imagesFromParts(spark, TestSpark.Sf).unionByName(Seq(polar).toDF())
    val rows = images.select("bytes", "fmt", "w", "h", "gt", "srid")
      .as[(Array[Byte], String, Int, Int, Seq[Double], Int)].collect()
    for (z <- Seq(5, 6)) {
      val pairs = rows.toSeq.flatMap { case (bytes, fmt, w, h, gt, srid) =>
        val meta = Array(w.toDouble, h.toDouble, srid.toDouble) ++ gt
        val env = graft.expr.GeoKernels.footprint(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(gt.toArray), w, h, srid)
        val decoded = ImageCodec.decode(bytes, fmt, w, h)
        graft.expr.GeoKernels.tileCover(env, z, z).toLongArray().toSeq.map(t => (t, decoded, meta))
      }
      assert(pairs.exists { case (t, d, m) => graft.expr.WarpKernels.warpWindow(d, m, t, "near").nPx == 0 },
        s"z$z: no (image, tile) pair with an empty warp window")
      val want = pairs.groupBy(_._1).map { case (t, ps) =>
        val bufs = ps.map { case (_, d, m) =>
          val full = graft.expr.WarpKernels.warpRasterToTile(d, m, t, "near")
          assert(java.util.Arrays.equals(full, renderFull(d, m, t)), s"z$z tile $t warpRasterToTile")
          full
        }
        t -> (ps.length.toLong, bufs.reduce(graft.expr.MosaicAgg.merge))
      }
      assert(want.values.exists(_._1 == 1), s"z$z: no tile hit by exactly one image")
      val got = Tiling.baseTiles(images, z).as[(Long, Long, Array[Byte])].collect()
      assert(got.map(_._1).sorted.toSeq == want.keys.toSeq.sorted, s"z$z tile ids")
      got.foreach { case (t, n, buf) =>
        assert(n == want(t)._1, s"z$z tile $t n_images")
        assert(java.util.Arrays.equals(buf, want(t)._2), s"z$z tile $t buffer")
      }
    }
  }

  test("pyramid: every parent tile is the packed parent of its children") {
    val images = Fixtures.imagesFromParts(spark, TestSpark.Sf).filter(col("key") % 7 === 0)
    val base = Tiling.baseTiles(images, 4).cache()
    val up = Tiling.overviewStep(base)
    val children = base.select(tile_z(col("tile")).as("z"), tile_x(col("tile")).as("x"), tile_y(col("tile")).as("y"))
      .as[(Int, Int, Int)].collect().toSet
    val parents = up.select(tile_z(col("tile")).as("z"), tile_x(col("tile")).as("x"), tile_y(col("tile")).as("y"))
      .as[(Int, Int, Int)].collect().toSet
    assert(parents.nonEmpty)
    assert(parents == children.map { case (z, x, y) => (z - 1, x / 2, y / 2) })
    // sum of n_images is preserved through the reduce
    val baseSum = base.agg(sum("n_images")).as[Long].collect()(0)
    val upSum = up.agg(sum("n_images")).as[Long].collect()(0)
    assert(baseSum == upSum)
  }

  test("pyramid persists are tracked and released after the consumer materializes") {
    graft.pipeline.Caches.release() // clean slate (suites share the session)
    val images = Fixtures.imagesFromParts(spark, TestSpark.Sf).filter(col("key") % 7 === 0)
    val pyr = Tiling.pyramid(images, 2, 4)
    assert(pyr.count() > 0)
    assert(graft.pipeline.Caches.tracked >= 3, "each level must be tracked")
    val released = graft.pipeline.Caches.release()
    assert(released >= 3)
    assert(graft.pipeline.Caches.tracked == 0)
  }

  test("single-image overview equals direct downsample of the child mosaic") {
    val base = Tiling.baseTiles(byteTwin, 11)
    val childBuf = base.select(col("buf")).as[Array[Byte]].collect()(0)
    val childTile = base.select(col("tile")).as[Long].collect()(0)
    val parentBufs = Tiling.overviewStep(base).select(col("buf")).as[Array[Byte]].collect()
    assert(parentBufs.length == 1)
    val expected = graft.expr.WarpKernels.downsampleToParent(childBuf, childTile)
    assert(parentBufs(0).sameElements(expected))
  }

  test("rendered tiles decode back as PNG with quadkey parity") {
    val r = Tiling.rendered(Tiling.baseTiles(byteTwin, 11)).collect()(0)
    assert(r.getAs[Int]("z") == 11 && r.getAs[Int]("x") == 354 && r.getAs[Int]("y") == 818)
    assert(r.getAs[String]("qk") == TileMath.quadkey(11, 354, 818))
    val png = r.getAs[Array[Byte]]("png")
    val decoded = ImageCodec.decode(png, "png", 256, 256)
    assert(decoded.w == 256 && decoded.h == 256)
  }

  test("zone_stats kernel equals direct masked fold") {
    val raster = Fixtures.patternRaster(3, 16, 16, 1)
    val bytes = ImageCodec.encodeRaw(raster)
    val gt = Array(0.0, 1.0, 0.0, 16.0, 0.0, -1.0)
    val zone = Wkb.writeBox(2, 3, 9, 12)
    val df = Seq((bytes, "raw", Seq(16.0, 16.0, 4326.0) ++ gt.toSeq, zone))
      .toDF("bytes", "fmt", "meta", "wkb")
    val zs = df.select(zone_stats(col("bytes"), col("fmt"), col("meta"), col("wkb"))).as[Seq[Double]].collect()(0)
    // direct fold: pixel centers inside (2,3)-(9,12) in geo == x∈[2,9), rows y_geo
    var cnt = 0; var mn = Double.MaxValue; var mx = -Double.MaxValue; var sum = 0.0
    for (py <- 0 until 16; px <- 0 until 16) {
      val gx = 0.0 + (px + 0.5) * 1.0
      val gy = 16.0 - (py + 0.5) * 1.0
      if (gx > 2 && gx < 9 && gy > 3 && gy < 12) {
        val v = raster.bands(0)(py * 16 + px).toDouble
        cnt += 1; mn = math.min(mn, v); mx = math.max(mx, v); sum += v
      }
    }
    assert(zs == Seq(cnt.toDouble, mn, mx, sum))
  }

  test("polygonize expression recovers quantized regions consistently") {
    val grid = Array.tabulate(64)(i => if (i % 8 < 4) 64 else 192) // two vertical stripes
    val raster = Raster(8, 8, Array(grid))
    val df = Seq((ImageCodec.encodeRaw(raster), "raw", Seq(8.0, 8.0, 4326.0, 0.0, 1.0, 0.0, 8.0, 0.0, -1.0)))
      .toDF("bytes", "fmt", "meta")
    val regs = df.select(explode(polygonize_regions(col("bytes"), col("fmt"), col("meta"), lit(false), lit(6))).as("r"))
      .select(col("r.value"), col("r.pixels")).as[(Int, Int)].collect().sortBy(_._1)
    assert(regs.toSeq == Seq((1, 32), (3, 32))) // 64>>6=1, 192>>6=3
  }
}
