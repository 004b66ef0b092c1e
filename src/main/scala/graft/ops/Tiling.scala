package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expr.functions._

/** XYZ tile pyramid over the image corpus (SURVEY.md §2.8 — the
  * distributed restatement of `gdal raster tile`,
  * apps/gdalalg_raster_tile.cpp).
  *
  * Scaling shape mirrors the reference exactly: base zoom = one warp per
  * (image, covering tile) — the reference's per-tile WarpRegionToBuffer
  * (:655-700) becomes a tile-keyed shuffle + mosaic aggregate; overview
  * zoom z−1 tiles reduce 4 z-children each (:1487) — a groupBy(parent)
  * 2×2 aggregate. One tile = one task's worth of work; AQE skew-join/agg
  * splitting handles hot low-zoom tiles.
  *
  * Images DataFrame contract: image_id, bytes, fmt, w, h,
  * gt array<double>[6], srid int.
  */
object Tiling {

  /** [w, h, srid, gt0..gt5] packed for the warp expression. */
  def meta9: Column = array(
    col("w").cast("double"), col("h").cast("double"), col("srid").cast("double"),
    col("gt")(0), col("gt")(1), col("gt")(2), col("gt")(3), col("gt")(4), col("gt")(5))

  /** images → (tile, image rows) assignment at zooms [zmin, zmax] —
    * the GetTileIndices explode. */
  def assign(images: DataFrame, zmin: Int, zmax: Int): DataFrame =
    images
      .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
      .withColumn("tile", explode(tile_cover(col("env"), zmin, zmax)))

  /** Base-zoom tiles: warp each image onto its covering tiles map-side,
    * shuffle the warped windows by tile key, mosaic-merge reduce-side.
    *
    * Each image is decoded once, then warped to every tile its footprint
    * covers; warp work is partitioned by IMAGE (uniform), not by tile
    * (skewed at low zooms). The shuffled payload per (image, tile) pair is
    * a [[graft.expr.WarpWindow]]: only the tile pixels the image can reach,
    * so shuffle bytes scale with the image's footprint, not the tile's
    * area. A pair whose window is empty still ships (with no pixels) and
    * counts toward `n_images`.
    *
    * Deliberately NOT groupBy().agg(mosaic_agg): a hash aggregate would
    * hold one 262 KB mosaic buffer per tile seen by a task (≈ all tiles at
    * low zoom → GBs per task), and ObjectHashAggregate's 128-group
    * sort-fallback degrades into an external sort of rendered buffers.
    * mapGroups streams one tile at a time: one zero buffer per tile, each
    * window blended in by MosaicAgg's commutative rule, so results are
    * partitioning-invariant and equal to merging full-tile renderings.
    * Returns (tile, n_images, buf). */
  def baseTiles(images: DataFrame, z: Int, kernel: String = "near"): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images
      .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
      .select(col("bytes"), col("fmt"), meta9.as("meta"), col("env"))
      .as[(Array[Byte], String, Seq[Double], Seq[Double])]
      .flatMap { case (bytes, fmt, metaSeq, envSeq) =>
        val meta = metaSeq.toArray
        val e = new org.apache.spark.sql.catalyst.util.GenericArrayData(envSeq.toArray)
        val tiles = graft.expr.GeoKernels.tileCover(e, z, z).toLongArray()
        val decoded = graft.core.ImageCodec.decode(bytes, fmt, meta(0).toInt, meta(1).toInt)
        tiles.iterator.map(t => (t, graft.expr.WarpKernels.warpWindow(decoded, meta, t, kernel)))
      }
      .groupByKey(_._1)
      .mapGroups { (tile, windows) =>
        val buf = new Array[Byte](4 * graft.expr.PlaneBuf.PlanePx)
        var n = 0L
        windows.foreach { case (_, win) => graft.expr.MosaicAgg.blend(buf, win); n += 1 }
        (tile, n, buf)
      }
      .toDF("tile", "n_images", "buf")
  }

  /** One overview step: tiles at z → tiles at z−1 (4-child 2×2 reduce,
    * same reduce-side merge shape as baseTiles). */
  def overviewStep(tiles: DataFrame): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val parent =
      shiftleft(tile_z(col("tile")).cast("bigint") - 1, 58)
        .bitwiseOR(shiftleft(shiftrightunsigned(tile_x(col("tile")).cast("bigint"), 1), 29))
        .bitwiseOR(shiftrightunsigned(tile_y(col("tile")).cast("bigint"), 1))
    tiles
      .select(parent.as("ptile"), col("tile"), col("n_images"), col("buf"))
      .as[(Long, Long, Long, Array[Byte])]
      .groupByKey(_._1)
      .mapGroups { (p, rows) =>
        var buf: Array[Byte] = null
        var n = 0L
        rows.foreach { case (_, childTile, cn, cbuf) =>
          val d = graft.expr.WarpKernels.downsampleToParent(cbuf, childTile)
          buf = if (buf == null) d else graft.expr.MosaicAgg.merge(buf, d)
          n += cn
        }
        (p, n, buf)
      }
      .toDF("tile", "n_images", "buf")
  }

  /** Full pyramid zmax→zmin: base tiles once, then iterative 2×2 reduce.
    * Returns the union of all zoom levels (tile, n_images, buf).
    *
    * Every level is PERSISTED: the result unions all levels and each
    * overview derives from the previous one, so without persistence the
    * base-tile warp would recompute once per union branch (measured ~3×
    * on the pyramid query). Long pipelines should still checkpoint
    * levels through pipeline.Pipeline for resumability. */
  def pyramid(images: DataFrame, zmin: Int, zmax: Int, kernel: String = "near"): DataFrame = {
    var level = graft.pipeline.Caches.persist(baseTiles(images, zmax, kernel))
    var acc = level
    var z = zmax
    while (z > zmin) {
      level = graft.pipeline.Caches.persist(overviewStep(level))
      acc = acc.union(level)
      z -= 1
    }
    acc
  }

  /** Render tiles to PNG + quadkey — the partitioned tile sink shape
    * (write with .partitionBy("z","x")). */
  def rendered(tiles: DataFrame): DataFrame =
    tiles.select(
      tile_z(col("tile")).as("z"),
      tile_x(col("tile")).as("x"),
      tile_y(col("tile")).as("y"),
      quadkey(tile_z(col("tile")), tile_x(col("tile")), tile_y(col("tile"))).as("qk"),
      col("n_images"),
      encode_png_planes(col("buf")).as("png"))

  /** Materialize the z/x/y tree: explicit RANGE partitioning on (z,
    * quadkey) — the Hilbert/locality-sort story of SURVEY §2.6 — so each
    * output file holds spatially adjacent tiles, then a hive-style
    * partitionBy(z) layout (the tile app's directory convention). */
  def writeTiles(tiles: DataFrame, path: String, filesPerZoom: Int = 8): Unit =
    rendered(tiles)
      .repartitionByRange(filesPerZoom, col("z"), col("qk"))
      .write.mode("overwrite").partitionBy("z").parquet(path)
}
