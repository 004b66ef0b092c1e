package graft.perfbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import Json.Obj

/** Counts every attempted operation and names every failed one. Nothing is
  * swallowed: a failure is printed with its stack trace, counted, and makes
  * the run exit non-zero. */
final class Ledger {
  var attempted = 0L
  val failed: ArrayBuffer[(String, String)] = ArrayBuffer.empty
  val checksPassed: ArrayBuffer[String] = ArrayBuffer.empty

  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += name -> e.toString
        System.err.println(s"FAILED $name: $e")
        e.printStackTrace(System.err)
        None
    }
  }

  /** An output check: the body returns (passed, detail for the failure). */
  def check(name: String)(body: => (Boolean, String)): Unit = op(name) {
    val (ok, detail) = body
    if (!ok) throw new IllegalStateException(s"check failed: $detail")
    checksPassed += name
  }
}

/** Benchmark entry point (launched by perfbench/run.py):
  * --workload tile_base|pip_join|tile_ingest --seed N --seconds S --trace 0|1
  * [--scale F] --work-dir DIR --trace-dir DIR [--commit C]
  * [--source-digest D]. Prints an inputs record, a summary record and, as
  * the last line, the result object. */
object Main {
  /** Set-ups per run; setup_s is their median. */
  val Setups = 3
  val MinPasses = 3
  /** Full passes after set-up that still warm up: run and checked, not counted. */
  val WarmPasses = 2

  val EndToEnd: Seq[(String, String)] =
    Seq("items_per_s" -> "1/s", "result_bytes_per_item" -> "B", "setup_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "core.decode_ns" -> "ns", "expr.warp_ns" -> "ns", "expr.merge_ns" -> "ns", "core.pip_ns" -> "ns",
    "tile.match_ratio" -> "ratio", "tile.pairs_per_image" -> "count") ++
    Seq("ops.probe", "ops.base_tiles", "ops.join").flatMap(p =>
      GroupStats.Fields.map { case (f, u) => s"$p.$f" -> u }) ++ Seq(
    "sql.plan_s" -> "s", "join.cells_per_poly" -> "count", "join.candidates_per_pair" -> "ratio",
    "streaming.wave_s" -> "s", "io.bytes_written" -> "B", "io.bytes_read" -> "B",
    "io.rewrite_amplification" -> "ratio", "gen.s" -> "s",
    "self.expr_s" -> "s", "self.ops_s" -> "s", "self.sql_s" -> "s", "self.streaming_s" -> "s",
    "self.driver_s" -> "s", "trace.untraced_wall_s" -> "s", "trace.traced_wall_s" -> "s",
    "trace.residue_s" -> "s", "trace.overhead_s" -> "s")

  /** Layers whose span self times are reported as self.<layer>_s. */
  val SpanLayers = Seq("expr", "ops", "sql", "streaming")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        scale: Double, workDir: File, traceDir: File,
                        commit: String, sourceDigest: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m.get("scale").fold(1.0)(_.toDouble),
      new File(m("work-dir")), new File(m("trace-dir")),
      m.getOrElse("commit", "unknown"), m.getOrElse("source-digest", "unknown"))
    require(Workload.Names.contains(o.workload), s"unknown workload ${o.workload}")
    require(Set("0", "1").contains(m("trace")), "--trace takes 0 or 1")
    o
  }

  def session(o: Opts, nproc: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("gdalspark-perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(o.workDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.workDir, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.expr.GraftExtensions.register(s)
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val nproc = Runtime.getRuntime.availableProcessors
    val ledger = new Ledger
    val runId = s"${o.workload}-${o.seed}-${System.currentTimeMillis()}"
    var spark: SparkSession = null
    var rec: StageRecorder = null
    var w: Workload = null
    var persistedBytes = 0L
    val setupS, genS = ArrayBuffer.empty[Double]

    // set-up, repeated: session start, input synthesis, persist, warm-up
    var ok = true
    for (k <- 1 to Setups if ok) ok = ledger.op(s"setup.$k") {
      if (spark != null) { w.release(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session(o, nproc)
      rec = new StageRecorder(nproc)
      spark.sparkContext.addSparkListener(rec)
      w = Workload(o.workload, Ctx(spark, o.seed, o.scale, o.workDir, ledger))
      val g0 = System.nanoTime()
      w.synth()
      genS += (System.nanoTime() - g0) / 1e9
      persistedBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      w.warm()
      setupS += (System.nanoTime() - t0) / 1e9
    }.isDefined

    // untraced passes for --seconds, at least MinPasses of them counted;
    // the first WarmPasses full passes after set-up are not counted
    val passes = ArrayBuffer.empty[Pass]
    val end = System.nanoTime() + (o.seconds * 1e9).toLong
    while (ok && (passes.length < WarmPasses + MinPasses || System.nanoTime() < end))
      ok = ledger.op(s"pass.${passes.length}")(w.pass()).map(passes += _).isDefined
    val counted = passes.drop(WarmPasses).map(_.wallS).toSeq

    val tracer = if (ok && o.trace) Some(new Tracer(runId, spark.sparkContext)) else None
    val traced = tracer.flatMap(t => ledger.op("pass.traced")(w.tracedPass(t)))
    if (tracer.isDefined && traced.isEmpty) ok = false
    val all = passes.toSeq ++ traced
    if (ok) w.check(all)

    val metrics = ArrayBuffer.empty[(String, Double)]
    val inputs = ArrayBuffer.empty[(String, Any)]
    if (ok) ledger.op("report") {
      val storageMem = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum
      inputs ++= Seq("workload" -> o.workload, "seed" -> o.seed, "scale" -> o.scale) ++ w.describe() ++ Seq(
        "persisted_input_bytes" -> persistedBytes, "storage_memory_bytes" -> storageMem,
        "fits_in_storage_memory" -> (persistedBytes <= storageMem), "nproc" -> nproc,
        "heap_bytes" -> Runtime.getRuntime.maxMemory, "spark" -> spark.version,
        "java" -> System.getProperty("java.version"), "commit" -> o.commit,
        "source_digest" -> o.sourceDigest)
      val untraced = Kernels.median(counted)
      if (!o.trace) metrics ++= Seq(
        "items_per_s" -> w.items / untraced,
        "result_bytes_per_item" -> w.resultBytesPerItem(all),
        "setup_s" -> Kernels.median(setupS.toSeq))
      else {
        val t = tracer.get
        val root = t.all.find(_.name == "pass").get
        val layerSpans = t.all.filter(_.id != root.id)
        val selfS = SpanLayers.map(l => l -> layerSpans.filter(_.layer == l).map(t.selfNs).sum / 1e9).toMap
        val measured = w.layers(t, rec, all) ++ Map(
          "gen.s" -> Kernels.median(genS.toSeq),
          "self.driver_s" -> t.selfNs(root) / 1e9,
          "trace.untraced_wall_s" -> untraced, "trace.traced_wall_s" -> root.ns / 1e9,
          "trace.residue_s" -> (untraced - selfS.values.sum),
          "trace.overhead_s" -> (root.ns / 1e9 - untraced)) ++
          selfS.map { case (l, s) => s"self.${l}_s" -> s }
        val unknown = measured.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
        metrics ++= PerLayer.map { case (n, _) => n -> measured.getOrElse(n, 0.0) }
        o.traceDir.mkdirs()
        val file = new File(o.traceDir, s"$runId.json")
        java.nio.file.Files.writeString(file.toPath, t.toJson + "\n")
        inputs += "trace_file" -> file.getPath
      }
    }
    if (spark != null) spark.stop()

    val units = (EndToEnd ++ PerLayer).toMap
    val failed = ledger.failed.length
    println(Json(Map("inputs" -> Obj(inputs.toSeq))))
    println(Json(Map("summary" -> Obj(Seq(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "setup_s" -> setupS, "gen_s" -> genS, "pass_s" -> passes.map(_.wallS),
      "checks_passed" -> ledger.checksPassed.toSeq,
      "attempted" -> ledger.attempted, "failed" -> failed,
      "failed_share" -> failed.toDouble / math.max(1L, ledger.attempted),
      "failed_ops" -> ledger.failed.map { case (n, e) => Obj(Seq("op" -> n, "error" -> e)) }.toSeq)))))
    println(Json(Obj(Seq(
      "correct" -> (failed == 0), "attempted" -> ledger.attempted, "failed" -> failed,
      "metrics" -> Obj(metrics.toSeq.map { case (n, v) => n -> Obj(Seq("value" -> v, "unit" -> units(n))) })))))
    System.out.flush()
    sys.exit(if (failed == 0) 0 else 1)
  }
}
