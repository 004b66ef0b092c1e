package graft.perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.expr.functions._

/** What a run shares with its workload. */
final case class Ctx(spark: SparkSession, seed: Long, scale: Double, workDir: File,
                     ledger: Ledger) {
  def sized(n: Long, min: Long): Long = math.max(min, math.round(n * scale))
}

/** One timed pass: its wall time, a digest of its output and the bytes of
  * that output. */
final case class Pass(wallS: Double, digest: Seq[Long], outBytes: Long)

abstract class Workload(val c: Ctx) {
  protected def spark: SparkSession = c.spark
  def name: String
  /** Input items one pass processes (images or points). */
  def items: Long
  /** Synthesize, persist and count the inputs. */
  def synth(): Unit
  /** Untimed warm-up pass over a slice of the inputs (part of set-up). */
  def warm(): Unit
  def pass(): Pass
  /** The same public calls as `pass`, with every layer call materialized
    * inside its own span. */
  def tracedPass(t: Tracer): Pass
  /** Untimed output checks, given every pass of the run (traced included). */
  def check(passes: Seq[Pass]): Unit
  def resultBytesPerItem(passes: Seq[Pass]): Double = passes.head.outBytes.toDouble / items
  /** What the input looks like, measured in this run. */
  def describe(): Seq[(String, Any)]
  /** Per-layer figures this workload exercises (the rest are reported as 0). */
  def layers(t: Tracer, rec: StageRecorder, passes: Seq[Pass]): Map[String, Double]
  def release(): Unit = spark.sqlContext.clearCache()

  protected def persistCount(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  protected def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val out = body
    ((System.nanoTime() - t0) / 1e9, out)
  }

  protected def longs(r: Row): Seq[Long] =
    (0 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getAs[Number](i).longValue)

  protected def stable(label: String, passes: Seq[Pass]): Unit =
    c.ledger.check(s"check.$name.$label") {
      val distinct = passes.map(_.digest).distinct
      (distinct.length == 1, s"pass digests differ: ${distinct.mkString(" / ")}")
    }
}

object Workload {
  val Names: Seq[String] = Seq("tile_base", "pip_join", "tile_ingest")

  def apply(name: String, c: Ctx): Workload = name match {
    case "tile_base" => new TileBase(c)
    case "pip_join" => new PipJoin(c)
    case "tile_ingest" => new TileIngest(c)
  }
}

/** Shared by the two tile workloads: a persisted seeded image corpus. */
abstract class TileWorkload(c: Ctx) extends Workload(c) {
  def z: Int
  protected var images: DataFrame = _

  def synth(): Unit =
    images = persistCount(Inputs.corpus(spark, c.seed, items, spark.sparkContext.defaultParallelism))

  /** The first 64 corpus images. */
  protected def kernelSample: Seq[graft.gen.Fixtures.ImageRow] =
    (0L until math.min(64L, items)).map(i => graft.gen.Fixtures.genImage(Inputs.corpusKey(c.seed, i)))

  /** Tile digest columns: count, Σn_images, xor of (tile, n_images) hashes,
    * xor of (tile, n_images, payload) hashes, Σ payload bytes. */
  protected def tileDigest(tiles: DataFrame, payload: String): Seq[Long] = longs(tiles.agg(
    count(lit(1)), sum(col("n_images")),
    bit_xor(xxhash64(col("tile"), col("n_images"))),
    bit_xor(xxhash64(col("tile"), col("n_images"), col(payload))),
    sum(length(col("buf")))).head())

  protected def tilePass(body: => Seq[Long]): Pass = {
    val (s, d) = timed(body)
    Pass(s, d.take(4), d(4))
  }

  protected def describeCorpus(): Seq[(String, Any)] = Seq(
    "images" -> items, "first_key" -> Inputs.corpusKey(c.seed, 0), "zoom" -> z,
    "input_digest" -> longs(images.agg(bit_xor(xxhash64(col("key"), col("bytes"), col("gt")))).head()).head)
}

/** The north-rule flagship: stats → footprint → 25-region envMatchIndexed
  * probe → Tiling.baseTiles(z = 6) → planes_checksums, the public calls of
  * Bench.pipelineThroughput in the same order. The sink aggregates the
  * checksums into a digest instead of writing to a noop sink. */
final class TileBase(c: Ctx) extends TileWorkload(c) {
  val name = "tile_base"
  val z = 6
  val items: Long = c.sized(1497, 48)
  private var regions: DataFrame = _
  private lazy val expected = expectedTiles()

  override def synth(): Unit = {
    super.synth()
    regions = graft.Bench.regionsDf(spark)
  }

  private def statsFootprint(imgs: DataFrame): DataFrame = imgs
    .withColumn("stats", image_stats(col("bytes"), col("fmt"), col("w"), col("h")))
    .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
    .filter(col("stats")(0) >= 1)

  private def probe(df: DataFrame): DataFrame =
    graft.ops.SpatialJoin.envMatchIndexed(df, regions).filter(col("n_regions") >= 1)

  private def baseTiles(df: DataFrame): DataFrame = graft.ops.Tiling.baseTiles(df, z = z, kernel = "near")

  private def checksums(tiles: DataFrame): Seq[Long] =
    tileDigest(tiles.withColumn("cks", planes_checksums(col("buf"))), "cks")

  def warm(): Unit = checksums(baseTiles(probe(statsFootprint(images.where(col("key") % 16 === 0)))))

  def pass(): Pass = tilePass(checksums(baseTiles(probe(statsFootprint(images)))))

  def tracedPass(t: Tracer): Pass = tilePass(t.span("pass") {
    val sf = t.span("expr.stats_footprint")(persistCount(statsFootprint(images)))
    val pr = t.span("ops.probe")(persistCount(probe(sf)))
    val tl = t.span("ops.base_tiles")(persistCount(baseTiles(pr)))
    val d = t.span("expr.checksums")(checksums(tl))
    Seq(sf, pr, tl).foreach(_.unpersist())
    d
  })

  /** Independent driver-side expectation: footprint × region-box envelope
    * test × tile_cover(z) over every image, counted per tile. */
  private def expectedTiles(): TileBase.Expected = {
    val boxes = (0 until 25).map(graft.gen.Fixtures.regionBoxesSpec)
    val perTile = scala.collection.mutable.HashMap.empty[Long, Long]
    var matched = 0L
    images.select("w", "h", "gt", "srid").collect().foreach { r =>
      val gt = r.getSeq[Double](2).toArray
      val env = graft.expr.GeoKernels.footprint(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(gt), r.getInt(0), r.getInt(1), r.getInt(3))
        .toDoubleArray()
      val hit = boxes.exists { case (x0, y0, x1, y1) =>
        env(0) <= x1 && x0 <= env(2) && env(1) <= y1 && y0 <= env(3) }
      if (hit) {
        matched += 1
        Kernels.tiles(env, z).foreach(t => perTile(t) = perTile.getOrElse(t, 0L) + 1)
      }
    }
    val session = spark
    import session.implicits._
    val d = longs(perTile.toSeq.toDF("tile", "n_images").agg(
      count(lit(1)), sum(col("n_images")), bit_xor(xxhash64(col("tile"), col("n_images")))).head())
    TileBase.Expected(matched, perTile.values.sum, d)
  }

  def check(passes: Seq[Pass]): Unit = {
    c.ledger.check(s"check.$name.tiles_equal_footprint_cover") {
      val got = passes.head.digest.take(3)
      (got == expected.digest, s"(tiles, Σn_images, tile hash) = $got, independent count ${expected.digest}")
    }
    stable("checksum_digest_stable", passes)
  }

  def describe(): Seq[(String, Any)] = describeCorpus() ++ Seq(
    "regions" -> 25, "tile.match_ratio" -> expected.matched.toDouble / items,
    "tile.pairs_per_image" -> expected.pairs.toDouble / items)

  def layers(t: Tracer, rec: StageRecorder, passes: Seq[Pass]): Map[String, Double] =
    Kernels.raster(kernelSample, z) ++
      rec.group(spark.sparkContext, "ops.probe").metrics("ops.probe") ++
      rec.group(spark.sparkContext, "ops.base_tiles").metrics("ops.base_tiles") ++ Map(
      "tile.match_ratio" -> expected.matched.toDouble / items,
      "tile.pairs_per_image" -> expected.pairs.toDouble / items)
}

object TileBase {
  final case class Expected(matched: Long, pairs: Long, digest: Seq[Long])
}

/** Point-in-polygon join through the SQL surface: CellJoinRule rewrites it
  * into a cell-keyed equi-join over a corpus-sized box layer; half of the
  * points sit in four hot cells. No pixel is decoded. */
final class PipJoin(c: Ctx) extends Workload(c) {
  val name = "pip_join"
  val items: Long = c.sized(600000, 2000)
  val nPolys: Long = c.sized(200000, 600)
  val hotPerSpot = 40
  private val hotEvery = math.max(1L, nPolys / (Inputs.HotSpots * hotPerSpot)).toInt
  private val level = Inputs.CellLevel

  private val Query =
    """SELECT count(*) AS n, bit_xor(xxhash64(p.point_id, g.poly_id)) AS h
      |FROM pts p JOIN polys g ON st_contains_point(g.wkb, p.lon, p.lat)""".stripMargin

  def synth(): Unit = {
    val parts = spark.sparkContext.defaultParallelism
    persistCount(Inputs.points(spark, c.seed, items, parts)).createOrReplaceTempView("pts")
    persistCount(Inputs.polygons(spark, c.seed, nPolys, hotEvery, parts)).createOrReplaceTempView("polys")
  }

  private var lastPlan = ""

  private def joinPass(df: => DataFrame): Pass = {
    var run: DataFrame = null
    val (s, d) = timed { run = df; longs(run.collect().head) }
    lastPlan = run.queryExecution.executedPlan.toString
    Pass(s, d, 16L * d.head) // two int64 ids per result pair
  }

  /** Join operators of an executed (adaptive, final) plan. */
  private def joinOperators(plan: String): String =
    """\b(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin|BroadcastNestedLoopJoin|CartesianProduct)\b""".r
      .findAllIn(plan).toSeq.distinct.mkString(",")

  def warm(): Unit = spark.sql(Query + " WHERE p.point_id % 16 = 0").collect()

  def pass(): Pass = joinPass(spark.sql(Query))

  def tracedPass(t: Tracer): Pass = {
    var df: DataFrame = null
    val (s, d) = timed(t.span("pass") {
      t.span("sql.plan") { df = spark.sql(Query); df.queryExecution.executedPlan }
      t.span("ops.join")(longs(df.collect().head))
    })
    Pass(s, d, 16L * d.head)
  }

  /** Driver-side polygons: (id, wkb, envelope). */
  private lazy val polys: Array[(Long, Array[Byte], (Double, Double, Double, Double))] =
    spark.table("polys").collect().map { r =>
      val wkb = r.getAs[Array[Byte]](1)
      (r.getLong(0), wkb, graft.core.Wkb.envelope(wkb))
    }

  private lazy val sample: Seq[(Long, Double, Double)] = (0 until 256).map { k =>
    val i = (Inputs.mix(c.seed * 31 + k) & Long.MaxValue) % items
    val (x, y) = Inputs.point(c.seed, i)
    (i, x, y)
  }.distinctBy(_._1)

  private def bruteForce(x: Double, y: Double): Seq[Long] = polys.iterator.collect {
    case (id, wkb, (x0, y0, x1, y1)) if x >= x0 && x <= x1 && y >= y0 && y <= y1 &&
      graft.core.Pip.contains(wkb, x, y) => id
  }.toSeq

  def check(passes: Seq[Pass]): Unit = {
    c.ledger.check(s"check.$name.sample_equals_brute_force") {
      // The timed join, unfiltered: the sample is picked out after the join,
      // so its pairs come through the same cell-keyed shuffle and skew
      // handling as the timed result, which the same run also reproduces.
      val run = spark.sql(
        s"""SELECT count(*) AS n, bit_xor(xxhash64(p.point_id, g.poly_id)) AS h,
           |  collect_list(CASE WHEN p.point_id IN (${sample.map(_._1).mkString(",")})
           |    THEN named_struct('p', p.point_id, 'g', g.poly_id) END) AS s
           |FROM pts p JOIN polys g ON st_contains_point(g.wkb, p.lon, p.lat)""".stripMargin)
      val r = run.collect().head
      val pairs = Seq(r.getLong(0), r.getLong(1))
      val ops = joinOperators(run.queryExecution.executedPlan.toString)
      val got = r.getSeq[Row](2).map(q => (q.getLong(0), q.getLong(1))).toSet
      val want = sample.flatMap { case (i, x, y) => bruteForce(x, y).map(i -> _) }.toSet
      (got == want && want.nonEmpty && pairs == passes.head.digest &&
        ops == joinOperators(lastPlan),
        s"${got.size} pairs from the join, ${want.size} by brute force, ${(got diff want).size} extra, " +
          s"${(want diff got).size} missing; (pairs, hash) $pairs against the timed " +
          s"${passes.head.digest}; join operators $ops against the timed ${joinOperators(lastPlan)}")
    }
    stable("pair_digest_stable", passes)
  }

  /** (Σ cover cells of the polygons, equi-join candidates, hot-point share). */
  private lazy val cellFigures: (Long, Long, Double) = {
    val pc = spark.sql(s"SELECT cell_of(lon, lat, $level) AS c, count(*) AS np FROM pts GROUP BY 1")
    val gc = spark.sql(s"SELECT c, count(*) AS ng FROM (SELECT explode(cells_at(st_env(wkb), $level)) AS c FROM polys) GROUP BY c")
      .persist()
    val cells = longs(gc.agg(sum(col("ng"))).head()).head
    val cand = longs(pc.join(gc, "c").agg(sum(col("np") * col("ng"))).head()).head
    val hot = pc.orderBy(col("np").desc).limit(Inputs.HotSpots).agg(sum(col("np"))).head().getLong(0)
    gc.unpersist()
    (cells, cand, hot.toDouble / items)
  }

  def describe(): Seq[(String, Any)] = Seq(
    "points" -> items, "polygons" -> nPolys,
    "input_digest" -> (digest("pts", "point_id", "lon", "lat") ++ digest("polys", "poly_id", "wkb")).mkString(":"),
    "hot_spots" -> Inputs.HotSpots,
    "hot_polygons_per_spot" -> hotPerSpot, "cell_level" -> level,
    "hot_point_share" -> cellFigures._3,
    "join_operators" -> joinOperators(lastPlan))

  private def digest(table: String, cols: String*): Seq[Long] =
    longs(spark.table(table).agg(bit_xor(xxhash64(cols.map(col): _*))).head())

  def layers(t: Tracer, rec: StageRecorder, passes: Seq[Pass]): Map[String, Double] = {
    val byCell = scala.collection.mutable.HashMap.empty[Long, List[Array[Byte]]]
    polys.foreach { case (_, wkb, (x0, y0, x1, y1)) =>
      graft.core.CellIndex.cover(x0, y0, x1, y1, level).foreach(cell =>
        byCell(cell) = wkb :: byCell.getOrElse(cell, Nil))
    }
    // refine work as the join sees it: each sampled point against every
    // polygon of its cell
    val pairs = sample.flatMap { case (_, x, y) =>
      byCell.getOrElse(graft.core.CellIndex.cell(x, y, level), Nil).map(wkb => (wkb, x, y))
    }
    rec.group(spark.sparkContext, "ops.join").metrics("ops.join") ++ Map(
      "core.pip_ns" -> Kernels.pip(pairs),
      "sql.plan_s" -> t.all.filter(_.name == "sql.plan").map(_.ns).sum / 1e9,
      "join.cells_per_poly" -> cellFigures._1.toDouble / nPolys,
      "join.candidates_per_pair" -> cellFigures._2.toDouble / math.max(1L, passes.head.digest.head))
  }
}

/** Tile ingest: the corpus arrives in waves, each merged into an on-disk
  * parquet tile store by Streams.upsertTiles(z = 5). Every pass starts
  * from an empty store. */
final class TileIngest(c: Ctx) extends TileWorkload(c) {
  val name = "tile_ingest"
  val z = 5
  val waves = 3
  val items: Long = c.sized(499, 48)
  private val store = new File(c.workDir, "tile_store")
  private var io = (0L, 0L) // (bytes read, bytes written) of the traced pass

  private def wave(imgs: DataFrame, w: Int): DataFrame = imgs.where(col("key") % waves === w)

  /** Parquet data files of the store: path → bytes. */
  private def storeFiles(): Map[String, Long] = {
    def walk(f: File): Seq[File] = if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(store).filter(_.getName.endsWith(".parquet")).map(f => f.getPath -> f.length()).toMap
  }

  /** One pass from an empty store. Traced, each upsertTiles call gets a
    * span, and the store files each call replaces (read back for the merge)
    * and adds (written) are summed from listings around the call. */
  private def ingest(imgs: DataFrame, t: Option[Tracer] = None): Pass = {
    org.apache.commons.io.FileUtils.deleteDirectory(store)
    val (s, _) = timed(t.fold(waveCalls(imgs, None))(tr => tr.span("pass")(waveCalls(imgs, Some(tr)))))
    Pass(s, storeDigest(), storeFiles().values.sum)
  }

  private def waveCalls(imgs: DataFrame, t: Option[Tracer]): Unit = (0 until waves).foreach { w =>
    def call(): Unit = graft.streaming.Streams.upsertTiles(wave(imgs, w), z, store.getPath)
    t match {
      case None => call()
      case Some(tr) =>
        val before = storeFiles()
        tr.span("streaming.wave")(call())
        val after = storeFiles()
        io = (io._1 + (before -- after.keySet).values.sum, io._2 + (after -- before.keySet).values.sum)
    }
  }

  private def storeDigest(): Seq[Long] = tileDigest(spark.read.parquet(store.getPath), "buf").take(4)

  /** One upsert of a slice into an empty store; the merge path warms up in
    * the uncounted passes. */
  def warm(): Unit = {
    org.apache.commons.io.FileUtils.deleteDirectory(store)
    graft.streaming.Streams.upsertTiles(images.where(col("key") % 16 === 0), z, store.getPath)
  }

  def pass(): Pass = ingest(images)

  def tracedPass(t: Tracer): Pass = ingest(images, Some(t))

  def check(passes: Seq[Pass]): Unit = {
    c.ledger.check(s"check.$name.store_equals_one_shot_base_tiles") {
      val want = tileDigest(graft.ops.Tiling.baseTiles(images, z), "buf").take(4)
      (passes.last.digest == want, s"store (tiles, Σn_images, tile hash, buf hash) = ${passes.last.digest}, " +
        s"one-shot baseTiles $want")
    }
    stable("store_digest_stable", passes)
  }

  def describe(): Seq[(String, Any)] = describeCorpus() ++ Seq("waves" -> waves)

  def layers(t: Tracer, rec: StageRecorder, passes: Seq[Pass]): Map[String, Double] = {
    val waveNs = t.all.filter(_.name == "streaming.wave").map(_.ns)
    // the upsertTiles stages (baseTiles warp + mosaic, store merge, write)
    Kernels.raster(kernelSample, z) ++
      rec.group(spark.sparkContext, "streaming.wave").metrics("ops.base_tiles") ++ Map(
      "streaming.wave_s" -> waveNs.sum / 1e9 / math.max(1, waveNs.length),
      "io.bytes_read" -> io._1.toDouble, "io.bytes_written" -> io._2.toDouble,
      "io.rewrite_amplification" -> io._2.toDouble / math.max(1L, passes.last.outBytes))
  }
}
