package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one timing main (driver contract): times the headline queries on
  * SPARK_GRAFT_SF_DIR and the flagship image pipeline, prints ONE JSON
  * line. `value` = total seconds over the headline set; extra key
  * `pipeline_images_per_sec` carries the north-rule throughput metric.
  * SPARK_GRAFT_BENCH_ONLY=q1,q2 times just those registered queries;
  * set to an empty string it times the pipeline alone
  * (tools/scaling_bench.sh runs one such rung per fresh JVM). An
  * unregistered name fails the run before anything is timed.
  * A query that throws in any pass is named in `failed` and counted in
  * `n_failed`, stays out of `value`, and makes the run exit 1 after the
  * line is printed.
  *
  * The emitted line is a GATED artifact (round-3 bwgate methodology,
  * BENCH/BASELINE.md): a memory-bandwidth probe runs before and after
  * the timed region (`bw_pre_gbps` / `bw_post_gbps` GiB/s, `bw_gated`
  * = both at or above `BwProbe.Gate`) and every query and the pipeline
  * is timed over SPARK_GRAFT_BENCH_PASSES (default 2) passes with the
  * MINIMUM wall reported — steal only ever ADDS time, so min-wall is
  * the noise-robust estimator on a shared host. An untimed pipeline
  * pass of max(500, n/8) images heats the JIT and codegen caches first.
  */
object Bench {
  val Headline: Seq[String] = Seq(
    "q01_summary_agg", "q02_groupby_agg", "q07_join_inner", "q10_window_topk",
    "q16_events_window", "q20_cell_encode", "q21_tile_assign", "q22_pip_join",
    "q24_crs_3857", "q25_knn", "q26_grid_metrics", "q27_tile_pyramid_counts",
    "q28_rasterize_count", "q30_image_stats", "q31_tile_pyramid",
    "q35_focal_dem", "q36_sample_at", "q38_contour",
    "q40_dedup_exact", "q44_cosine_topk", "q46_minhash_lsh", "q50_ann_lsh",
    // round-2 operator families
    "q61_layer_intersection", "q64_dissolve", "q67_zonal_full", "q70_grid_nearest",
    // round-3 operator families
    "q85_sql_intersects_join", "q86_line_clip", "q87_buffer", "q88_grid_linear",
    "q89_density_mosaic", "q90_grid_data_metrics", "q92_make_valid",
    "q93_gcp_poly", "q95_rpc_forward", "q96_point_overlay", "q97_pansharpen",
    // round-4 operator families
    "q39_contour_polygons", "q99_ivf_topk", "q101_gcp_warp_tiles",
    "q102_concave_hull", "q103_grid_linear_tiled", "q104_incremental_tiles",
    "q105_cosine_neardup", "q106_color_relief", "q107_hillshade_modes",
    "q108_zt_family", "q109_tpi_tri", "q110_aspect", "q111_focal_stats",
    "q112_raster_blend",
    "q113_phash_neardup", "q114_phash_clusters", "q115_bm25_topk",
    "q116_stratified_sample", "q117_stratified_topk", "q118_dedup_pipeline",
    "q119_decontaminate", "q120_repetition", "q121_nearblack",
    "q122_homography", "q123_los", "q124_geoloc", "q125_surf_match",
    "q126_suggested_output", "q127_ivfpq_topk", "q128_equalize", "q129_segment_dedup",
    "q130_kmeans", "q131_semdedup", "q132_gopher_filter", "q133_temperature_mix", "q134_pii_mask", "q135_hist_match", "q136_aspect_batches",
    "q137_raster_compare", "q138_xyz_extract", "q139_dsir_topk", "q140_voronoi_assign", "q141_label_outliers", "q142_image_chips",
    "q143_gcp_refine", "q144_shard_pack", "q145_image_quality", "q146_caption_align",
    "q147_bpe_tokens", "q148_augment", "q149_resize_crop", "q150_norm_stats",
    "q151_scale_stretch", "q152_leakage_split", "q153_ann_recall",
    "q154_epoch_shuffle", "q155_contour_rings", "q156_sequence_pack",
    "q157_spatial_split",
    // round-5 operator families
    "q158_contour_ring_features", "q159_tps_warp_tiles", "q160_simplify_topo",
    "q161_rpc_warp_tiles", "q162_join_first_match",
    "q163_asof_join", "q164_interval_join", "q165_rollup",
    "q166_hll_distinct", "q167_token_quantiles", "q168_cms_heavyhitters",
    "q169_cell_skew_profile", "q170_hex_bin", "q171_hex_smooth",
    "q172_hex_pip_join")

  /** SPARK_GRAFT_CPUS, else the host's core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(
    Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  def buildSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("gdalspark")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The queries a main runs: `default` when `env` is unset, else the
    * comma-separated names in it, empty entries dropped (so "" selects
    * none). Every name must be registered: an unknown one throws rather
    * than silently selecting nothing. */
  def select(env: String, default: Seq[String]): Seq[String] = {
    val names = sys.env.get(env).fold(default)(
      _.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown queries (from $env or the default list): ${unknown.mkString(", ")}")
    names
  }

  /** North-rule pipeline: decode→stats → footprint → cell/PIP join →
    * tile-assign → warp each image onto its z6 tiles → per-tile mosaic →
    * checksums. Returns (images, elapsedSec). Generation is materialized
    * (persist+count) BEFORE the timer: corpus synthesis is not pipeline
    * work. */
  def pipelineThroughput(spark: SparkSession, n: Long): (Long, Double) = {
    import graft.expr.functions._
    val images = graft.gen.Fixtures.imagesFromRange(spark, n,
      spark.sparkContext.defaultParallelism)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nImages = images.count()
    val regions = regionsDf(spark)
    val t0 = System.nanoTime()
    // stats + footprint + the region PIP probe all ride ONE codegen span
    // over the persisted corpus. Only stats(0) — the band count — is used;
    // the filter on it is pushed into the scan Filter, where BandCountRule
    // reads it from the image header, so an image the probe drops is never
    // decoded and baseTiles decodes each matched image exactly once. The
    // region layer is dim-sized, so the probe is a broadcast STR-tree
    // (envMatchIndexed): the only Exchange is baseTiles' tile-key shuffle
    // of warped windows
    val joined = images
      .withColumn("stats", image_stats(col("bytes"), col("fmt"), col("w"), col("h")))
      .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
      .filter(col("stats")(0) >= 1)
      .transform(df => graft.ops.SpatialJoin.envMatchIndexed(df, regions))
      .filter(col("n_regions") >= 1) // render each matched image once
    val tiles = graft.ops.Tiling.baseTiles(joined, z = 6, kernel = "near")
      .withColumn("cks", planes_checksums(col("buf")))
      .select(col("tile"), col("n_images"), col("cks"))
    tiles.write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    images.unpersist()
    (nImages, sec)
  }

  def regionsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until 25).map { k =>
      val (minx, miny, maxx, maxy) = graft.gen.Fixtures.regionBoxesSpec(k)
      (k.toLong, graft.core.Wkb.writeBox(minx, miny, maxx, maxy))
    }.toDF("region_id", "wkb")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt)
    val benchN = sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "8000").toLong
    val names = select("SPARK_GRAFT_BENCH_ONLY", Headline)
    val bwPre = graft.tools.BwProbe.gbps()
    val spark = buildSession()
    val qs = SparkEntry.queries
    // untimed warm-up: parquet footers, codegen, corpus materialization
    if (names.nonEmpty) {
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      graft.gen.Fixtures.imagesFromParts(spark, sfDir)
    }
    val results = names.map { name =>
      val walls = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        try {
          qs(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
          Right((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable => Left(e) }
        finally graft.pipeline.Caches.release()
      }
      walls.collectFirst { case Left(e) => e }.foreach { e =>
        System.err.println(s"bench: $name failed")
        e.printStackTrace()
      }
      // a query that fails in any pass is a failed query: named in
      // `failed`, counted in `n_failed`, left out of the total, and the
      // run exits non-zero
      val good = walls.collect { case Right(s) => s }
      (name, if (good.isEmpty) -1.0 else good.min, walls.exists(_.isLeft))
    }
    val failed = results.collect { case (name, _, true) => name }
    pipelineThroughput(spark, math.max(500L, benchN / 8)) // untimed warm-up
    val (nImages, pipeSec) = (1 to passes).map(_ => pipelineThroughput(spark, benchN)).minBy(_._2)
    val ips = nImages / pipeSec
    spark.stop()
    val bwPost = graft.tools.BwProbe.gbps()
    val gated = graft.tools.BwProbe.healthy(bwPre) && graft.tools.BwProbe.healthy(bwPost)
    val qJson = results.map { case (k, v, _) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, v, false) => v }.sum + pipeSec
    println(f"""{"metric":"headline_total","value":$total%.3f,"unit":"sec","queries":$qJson,"sf":"$sfDir","pipeline_images":$nImages,"pipeline_sec":$pipeSec%.3f,"pipeline_images_per_sec":$ips%.1f,"cpus":"$cpus","passes":$passes,"bw_pre_gbps":$bwPre%.1f,"bw_post_gbps":$bwPost%.1f,"bw_gated":$gated,"n_failed":${failed.length},"failed":$failedJson}""")
    if (failed.nonEmpty) sys.exit(1)
  }
}
