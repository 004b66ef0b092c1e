package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.expr.functions._
import graft.gen.Fixtures
import graft.ops.SpatialJoin
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline.Stage
import graft.sql.Cells.Quad
import java.nio.file.{Files, Paths}
import java.util.Comparator

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val executed = scala.collection.mutable.ArrayBuffer.empty[String]

  private def stages(dir: String): Seq[Stage] = Seq(
    Stage("decode", Nil, "v1", (s: SparkSession, _: Map[String, DataFrame]) => {
      executed += "decode"
      Fixtures.imagesFromParts(s, dir).filter(col("key") % 3 === 0)
        .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
        .select("key", "image_id", "env")
    }),
    Stage("join", Seq("decode"), "v1", (s: SparkSession, in: Map[String, DataFrame]) => {
      executed += "join"
      SpatialJoin.join(in("decode"), Fixtures.regionBoxes(s, dir),
          st_intersects_env(col("wkb"), col("env")), Quad(5))
        .select("key", "region_id", "env")
    }),
    Stage("tiles", Seq("join"), "v1", (_: SparkSession, in: Map[String, DataFrame]) => {
      executed += "tiles"
      in("join")
        .withColumn("tile", explode(tile_cover(col("env"), 0, 4)))
        .groupBy(col("tile")).agg(count(lit(1)).as("n"))
    }))

  private def rmrf(p: String): Unit = {
    val path = Paths.get(p)
    if (Files.exists(path))
      Files.walk(path).sorted(Comparator.reverseOrder[java.nio.file.Path]()).forEach(f => Files.delete(f))
  }

  test("resume skips complete stages and reproduces byte-identical output") {
    val root = Files.createTempDirectory("graft_ckpt").toString
    try {
      executed.clear()
      val first = Pipeline.run(spark, root, stages(TestSpark.Sf))
      assert(executed.toSeq == Seq("decode", "join", "tiles"))
      assert(first.forall(!_.skipped))
      val firstOut = first.last.df.as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(firstOut.nonEmpty)
      // manifests carry rows + per-partition metrics + lineage
      val m = Files.readString(Pipeline.manifestPath(root, "tiles"))
      assert(m.contains("\"row_count\"") && m.contains("\"partitions\"")
        && m.contains("\"lineage_fingerprint\"") && m.contains("\"files\""))

      // simulate a crash after stage 2: final stage's checkpoint is lost
      rmrf(Paths.get(root, "tiles").toString)
      executed.clear()
      val second = Pipeline.run(spark, root, stages(TestSpark.Sf))
      assert(executed.toSeq == Seq("tiles"), s"only the lost stage reruns, got $executed")
      assert(second.take(2).forall(_.skipped) && !second.last.skipped)
      val secondOut = second.last.df.as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(secondOut == firstOut, "resumed run must equal uninterrupted run")

      // third run: everything cached
      executed.clear()
      val third = Pipeline.run(spark, root, stages(TestSpark.Sf))
      assert(executed.isEmpty && third.forall(_.skipped))
    } finally rmrf(root)
  }

  test("upstream change invalidates downstream stages via lineage fingerprint") {
    val root = Files.createTempDirectory("graft_ckpt2").toString
    try {
      Pipeline.run(spark, root, stages(TestSpark.Sf))
      executed.clear()
      // bump the version of stage 1 → its fingerprint changes → all rerun
      val bumped = stages(TestSpark.Sf).map(s => if (s.name == "decode") s.copy(version = "v2") else s)
      val res = Pipeline.run(spark, root, bumped)
      assert(executed.toSeq == Seq("decode", "join", "tiles"))
      assert(res.forall(!_.skipped))
    } finally rmrf(root)
  }

  test("a stage with a missing manifest but stale data reruns cleanly") {
    val root = Files.createTempDirectory("graft_ckpt3").toString
    try {
      Pipeline.run(spark, root, stages(TestSpark.Sf))
      // corrupt: delete only the manifest, leave parquet data behind
      Files.delete(Pipeline.manifestPath(root, "join"))
      executed.clear()
      val res = Pipeline.run(spark, root, stages(TestSpark.Sf))
      // join reruns; tiles' lineage saw a new join manifest → also reruns
      assert(executed.toSeq == Seq("join", "tiles"))
      assert(res.map(_.skipped) == Seq(true, false, false))
    } finally rmrf(root)
  }
}
