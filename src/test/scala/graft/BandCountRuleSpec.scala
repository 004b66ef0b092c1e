package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import graft.core.{ImageCodec, Raster}
import graft.expr.{ImageBandCount, ImageStats}
import graft.expr.functions._
import graft.gen.Fixtures

class BandCountRuleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def images = Fixtures.imagesFromParts(spark, TestSpark.Sf)

  private def stats = image_stats(col("bytes"), col("fmt"), col("w"), col("h"))

  /** Every fixture class: each format, 1 and 3 bands, every fixture size. */
  private val encoded: Seq[(String, Raster, Array[Byte])] = for {
    fmt <- Seq("raw", "png", "jpeg")
    bands <- Seq(1, 3)
    size <- Fixtures.Sizes.toSeq
  } yield {
    val r = Fixtures.patternRaster(size + bands, size, size, bands)
    (fmt, r, ImageCodec.encode(r, fmt))
  }

  private def thrown(body: => Any): Throwable = intercept[Throwable](body)

  test("flagship plan reads the band count from the header, never image_stats, in its Filter") {
    val flagship = images
      .withColumn("stats", stats)
      .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
      .filter(col("stats")(0) >= 1)
      .transform(df => graft.ops.SpatialJoin.envMatchIndexed(df, Bench.regionsDf(spark)))
      .filter(col("n_regions") >= 1)
    val plan = ops.Tiling.baseTiles(flagship, 6).queryExecution.optimizedPlan
    val conditions = plan.collect { case f: Filter => f.condition }
    assert(conditions.nonEmpty)
    assert(!conditions.exists(_.exists(_.isInstanceOf[ImageStats])), plan.treeString)
    assert(conditions.exists(_.exists(_.isInstanceOf[ImageBandCount])), plan.treeString)
    assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[ImageStats]))),
      s"stats is unused after the filter, so no decode should remain:\n${plan.treeString}")
  }

  test("header band count equals the decoded band count over every fixture class") {
    encoded.foreach { case (fmt, r, bytes) =>
      val n = ImageCodec.bandCount(bytes, fmt, r.w, r.h)
      assert(n == ImageCodec.decode(bytes, fmt, r.w, r.h).nBands, s"$fmt ${r.nBands}-band ${r.w}x${r.h}")
      if (fmt != "jpeg" || r.nBands == 1) assert(n == r.nBands, s"$fmt ${r.nBands}-band ${r.w}x${r.h}")
    }
  }

  test("rewritten stats[0] equals the full kernel's first value over the corpus") {
    val df = images.select(stats.as("s"), stats(0).as("n"))
    assert(df.queryExecution.optimizedPlan.expressions.exists(_.exists(_.isInstanceOf[ImageBandCount])))
    val rows = df.as[(Seq[Double], Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (s, n) => assert(s.head == n) }
    assert(rows.map(_._2).toSet == Set(1.0, 3.0))
  }

  test("selecting the stats column keeps all five values") {
    val rows = images.withColumn("stats", stats).filter(col("stats")(0) >= 1)
      .select(col("stats")).as[Seq[Double]].collect()
    assert(rows.nonEmpty && rows.forall(_.length == 5))
    val direct = images.select(col("bytes"), col("fmt"), col("w"), col("h"))
      .as[(Array[Byte], String, Int, Int)].collect()
      .map { case (b, f, w, h) => graft.expr.GeoKernels.imageStats(b, f, w, h).toDoubleArray().toSeq }
    assert(rows.sortBy(_.mkString(",")).toSeq == direct.sortBy(_.mkString(",")).toSeq)
  }

  test("malformed rows raise the same named errors as decode") {
    val (_, r, raw) = encoded.find(e => e._1 == "raw" && e._2.nBands == 3).get
    val (_, p, png) = encoded.find(_._1 == "png").get
    val (_, j, jpeg) = encoded.find(_._1 == "jpeg").get
    val bad: Seq[(Array[Byte], String, Int, Int)] = Seq(
      (raw, "tiff", r.w, r.h), // unsupported fmt
      (raw.dropRight(1), "raw", r.w, r.h), // raw size mismatch
      (png, "png", p.w + 1, p.h), // declared width ≠ payload
      (jpeg, "jpeg", j.w, j.h - 1), // declared height ≠ payload
      (Array[Byte](1, 2, 3), "png", 2, 2)) // not an image
    bad.foreach { case (b, f, w, h) =>
      val d = thrown(ImageCodec.decode(b, f, w, h))
      val c = thrown(ImageCodec.bandCount(b, f, w, h))
      assert(d.getClass == c.getClass && d.getMessage == c.getMessage, s"$f ${w}x$h: $d vs $c")
    }
    assert(thrown(ImageCodec.bandCount(png, "png", p.w + 1, p.h)).isInstanceOf[ImageCodec.SizeMismatch])
    assert(thrown(ImageCodec.bandCount(raw, "tiff", r.w, r.h)).getMessage == "unsupported fmt tiff")
    // the same error surfaces from the rewritten filter (checkpointed, so
    // the optimizer cannot evaluate the filter over a local relation)
    val df = Seq((raw.dropRight(1), "raw", r.w, r.h)).toDF("bytes", "fmt", "w", "h")
      .localCheckpoint().filter(stats(0) >= 1)
    assert(df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(_.isInstanceOf[ImageBandCount]))))
    val e = thrown(df.collect())
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains(s"raw size ${raw.length - 1} not multiple of ${r.w} x ${r.h}"))), e.toString)
  }
}
