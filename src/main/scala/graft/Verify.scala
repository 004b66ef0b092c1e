package graft
import java.nio.file.{Files, Paths, StandardCopyOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Hardened after round 4 shipped an EMPTY driver correctness artifact
  * while the identical in-repo path passed 146/148 — the most likely
  * mechanism is a driver-side time budget killing this process partway
  * (the artifact went empty the round the query count crossed ~150):
  *  - oracle_sql.json is written FIRST, so a partial run still compares.
  *  - VERIFY_SUMMARY.json is (re)written after EVERY query — per-query
  *    wall seconds, row count, error — so any truncation is diagnosable
  *    from the artifact itself, and the round can commit a self-run copy.
  *  - queries run on a small thread pool (SPARK_GRAFT_VERIFY_THREADS,
  *    default 3): with ~150 queries the per-query fixed stage latency
  *    dominates the wall, and concurrent jobs overlap it. Operator
  *    caches are scoped per thread (pipeline.Caches.scoped), outputs go
  *    to disjoint dirs, and no query mutates session conf, so the runs
  *    are independent.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // local-iteration filter (unset in driver runs → all queries)
    val names = Bench.select("SPARK_GRAFT_ONLY", SparkEntry.queries.keys.toSeq.sorted)
    val spark = Bench.buildSession()
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

    // oracle SQL first: a run killed mid-query still leaves a comparable
    // artifact for every query dir that finished.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    final case class Res(name: String, rows: Long, wallMs: Long, err: Option[String])
    val results = new java.util.concurrent.ConcurrentHashMap[String, Res]()
    val t0 = System.nanoTime()
    def writeSummary(): Unit = {
      import scala.jdk.CollectionConverters._
      val done = results.values.asScala.toSeq.sortBy(_.name)
      val items = done.map { r =>
        s"${q(r.name)}: {${q("rows")}: ${r.rows}, ${q("wall_ms")}: ${r.wallMs}, " +
          s"${q("err")}: ${r.err.map(q).getOrElse("null")}}"
      }.mkString(",")
      val body = s"""{${q("sf_dir")}: ${q(sfDir)}, ${q("n_total")}: ${names.length}, """ +
        s"""${q("n_done")}: ${done.length}, ${q("n_err")}: ${done.count(_.err.isDefined)}, """ +
        s"""${q("wall_ms")}: ${(System.nanoTime() - t0) / 1000000}, ${q("queries")}: {$items}}"""
      // atomic replace so a reader never sees a torn file
      val tmp = Paths.get(s"$outDir/.VERIFY_SUMMARY.json.tmp")
      Files.writeString(tmp, body)
      Files.move(tmp, Paths.get(s"$outDir/VERIFY_SUMMARY.json"),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    }
    writeSummary()

    def runOne(name: String): Unit = {
      val fn = SparkEntry.queries(name)
      val qt0 = System.nanoTime()
      // scope releases even when the query throws (errOpt carries it out)
      val (errOpt, _) = graft.pipeline.Caches.scoped() {
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable => Some(e) }
      }
      val res = errOpt match {
        case None =>
          // metadata-only count over the just-written footers (cheap)
          val rows = spark.read.parquet(s"$outDir/$name").count()
          Res(name, rows, (System.nanoTime() - qt0) / 1000000, None)
        case Some(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Res(name, -1L, (System.nanoTime() - qt0) / 1000000,
            Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300)))
      }
      results.put(name, res)
      writeSummary()
    }

    val threads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "3").toInt.max(1)
    if (threads == 1) names.foreach(runOne)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      names.foreach(n => pool.submit(new Runnable { def run(): Unit = runOne(n) }))
      pool.shutdown()
      pool.awaitTermination(24, java.util.concurrent.TimeUnit.HOURS)
    }
    writeSummary()
    spark.stop()
  }
}
