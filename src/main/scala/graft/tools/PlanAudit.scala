package graft.tools

/** Prints the formatted physical plan of every registered query (or the
  * SPARK_GRAFT_ONLY list, as in Verify) plus `Tiling.baseTiles`, for
  * grepping the properties that matter at scale (filter pushdown, pruned
  * read schema, broadcast choice, codegen spans). Run per round;
  * findings land in PLANS.md. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = graft.Bench.select("SPARK_GRAFT_ONLY", graft.SparkEntry.queries.keys.toSeq.sorted)
    val spark = graft.Bench.buildSession()
    names.foreach { n =>
      println(s"\n########## $n ##########")
      val df = graft.SparkEntry.queries(n)(spark, sf)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    println("\n########## tiling_base ##########")
    val images = graft.gen.Fixtures.imagesFromParts(spark, sf)
    println(graft.ops.Tiling.baseTiles(images, 4).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    spark.stop()
  }
}
