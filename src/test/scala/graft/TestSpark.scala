package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** One shared local session for all Spark suites. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("gdalspark-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.expr.GraftExtensions.register(s)
    s
  }
  val Sf = "/root/testdata/sf0.001"

  /** Brute-force theta join: the cross product is materialized before
    * `pred` filters it, so no optimizer rule can cell-key it — the
    * independent reference the cell-keyed joins are checked against. */
  def bruteJoin(left: DataFrame, right: DataFrame, pred: Column): DataFrame =
    left.crossJoin(right).localCheckpoint().filter(pred)
}
