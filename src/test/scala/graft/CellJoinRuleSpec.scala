package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.Wkb
import graft.expr.functions._
import graft.gen.Fixtures
import graft.ops.SpatialJoin
import graft.sql.Cells.Hex

/** CellJoinRule: brute-force spatial-predicate joins must rewrite to
  * cell-keyed equi-joins (no nested-loop/cartesian plan) with unchanged
  * results (SURVEY §4 auto-rewrite rule), and SpatialJoin.join builds the
  * same plans for DataFrames. */
class CellJoinRuleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def points = {
    val rnd = new scala.util.Random(21)
    (1L to 3000L).map(i =>
      (i, rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 170 - 85))
      .toDF("point_id", "lon", "lat")
  }

  private def polys = (0 until 25).map { k =>
    val (minx, miny, maxx, maxy) = graft.gen.Fixtures.regionBoxesSpec(k)
    (k.toLong, Wkb.writeBox(minx, miny, maxx, maxy))
  }.toDF("region_id", "wkb")

  test("cross join + pip filter rewrites to a cell equi-join with identical results") {
    val p = points
    val g = polys
    val brute = p.crossJoin(g)
      .filter(st_contains_point(col("wkb"), col("lon"), col("lat")))
      .select(col("point_id"), col("region_id"))

    val plan = brute.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"rule did not rewrite:\n$plan")
    assert(plan.contains("cell_of") || plan.contains("__pip_cell"), "cell key absent from plan")

    val viaRule = brute.as[(Long, Long)].collect().toSet
    val reference = TestSpark.bruteJoin(p, g, st_contains_point(col("wkb"), col("lon"), col("lat")))
      .select(col("point_id"), col("region_id")).as[(Long, Long)].collect().toSet
    assert(viaRule == reference)
    assert(viaRule.nonEmpty)
  }

  test("SQL-surface spatial join gets the same rewrite") {
    points.createOrReplaceTempView("pts_cjr")
    polys.createOrReplaceTempView("polys_cjr")
    val df = spark.sql(
      """SELECT p.point_id, g.region_id
        |FROM pts_cjr p JOIN polys_cjr g
        |  ON st_contains_point(g.wkb, p.lon, p.lat)""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    assert(df.count() > 0)
  }

  test("joins that already carry an equi-key are left alone") {
    val a = Seq((1L, 5L, 0.5, 0.5), (2L, 6L, 10.0, 10.0)).toDF("id", "k", "lon", "lat")
    val b = Seq((5L, Wkb.writeBox(0, 0, 1, 1)), (6L, Wkb.writeBox(9, 9, 11, 11)))
      .toDF("k2", "wkb")
    val j = a.join(b, col("k") === col("k2")
      && st_contains_point(col("wkb"), col("lon"), col("lat")))
    // equi-key present → no Generate/explode inserted by the rule
    assert(!j.queryExecution.optimizedPlan.toString.contains("__poly_cell"))
    assert(j.count() == 2)
  }

  test("multipolygon and extra conjuncts survive the rewrite") {
    val mp = Wkb.writeMultiPolygon(Array(
      Array(Array(0.0, 0, 5, 0, 5, 5, 0, 5, 0, 0)),
      Array(Array(20.0, 20, 25, 20, 25, 25, 20, 25, 20, 20))))
    val g = Seq((1L, mp)).toDF("region_id", "wkb")
    val p = Seq((1L, 2.0, 2.0), (2L, 22.0, 22.0), (3L, 10.0, 10.0), (4L, 2.0, 2.0))
      .toDF("point_id", "lon", "lat")
    val out = p.crossJoin(g)
      .filter(st_contains_point(col("wkb"), col("lon"), col("lat")) && col("point_id") < 4)
      .select(col("point_id")).as[Long].collect().toSet
    assert(out == Set(1L, 2L))
  }

  test("st_intersects geometry×geometry join rewrites to a cell equi-join") {
    // two polygon layers: shifted grids so some pairs intersect, some
    // share several covering cells (canonical-cell dedup must fire)
    val rnd = new scala.util.Random(29)
    val layerA = (0 until 120).map { i =>
      val x = rnd.nextDouble() * 300 - 150; val y = rnd.nextDouble() * 140 - 70
      (i.toLong, Wkb.writeBox(x, y, x + 3 + rnd.nextDouble() * 8, y + 3 + rnd.nextDouble() * 8))
    }.toDF("a_id", "wkb_a")
    val layerB = (0 until 90).map { i =>
      val x = rnd.nextDouble() * 300 - 150; val y = rnd.nextDouble() * 140 - 70
      (i.toLong, Wkb.writeBox(x, y, x + 3 + rnd.nextDouble() * 8, y + 3 + rnd.nextDouble() * 8))
    }.toDF("b_id", "wkb_b")

    val joined = layerA.join(layerB, st_intersects(col("wkb_a"), col("wkb_b")))
      .select(col("a_id"), col("b_id"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"geometry-pair join did not rewrite:\n$plan")

    val viaRule = joined.as[(Long, Long)].collect().toList
    // exactly-once multiplicity (the canonical-cell conjunct)
    assert(viaRule.size == viaRule.toSet.size, "pairs must surface exactly once")
    val reference = TestSpark.bruteJoin(layerA, layerB, st_intersects(col("wkb_a"), col("wkb_b")))
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
    assert(viaRule.toSet == reference)
    assert(viaRule.nonEmpty)
  }

  test("SQL-surface st_intersects join gets the same rewrite") {
    val boxesA = (0 until 30).map { i =>
      (i.toLong, Wkb.writeBox(i * 2.0, 0.0, i * 2.0 + 3.0, 3.0))
    }.toDF("a_id", "wkb")
    val boxesB = (0 until 30).map { i =>
      (i.toLong, Wkb.writeBox(i * 2.0 + 1.0, 1.0, i * 2.0 + 4.0, 4.0))
    }.toDF("b_id", "wkb")
    boxesA.createOrReplaceTempView("geoms_a_cjr")
    boxesB.createOrReplaceTempView("geoms_b_cjr")
    val df = spark.sql(
      """SELECT a.a_id, b.b_id
        |FROM geoms_a_cjr a JOIN geoms_b_cjr b
        |  ON st_intersects(a.wkb, b.wkb)""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    // each box overlaps its own-index partner and neighbors: closed form
    // a_i = [2i, 2i+3], b_j = [2j+1, 2j+4] intersect iff 2j+1 <= 2i+3 and 2i <= 2j+4
    val expect = (for { i <- 0 until 30; j <- 0 until 30
                        if 2 * j + 1 <= 2 * i + 3 && 2 * i <= 2 * j + 4 } yield (i.toLong, j.toLong)).toSet
    assert(df.as[(Long, Long)].collect().toSet == expect)
  }

  test("SQL semi/anti PIP joins are cell-keyed and partition the point set") {
    val pts = Fixtures.pointsFromOrders(spark, TestSpark.Sf).select("point_id", "lon", "lat")
    val polys = Fixtures.regionBoxes(spark, TestSpark.Sf)
    pts.createOrReplaceTempView("pts_semi_cjr")
    polys.createOrReplaceTempView("polys_semi_cjr")
    def pointsThat(kind: String) = spark.sql(
      s"""SELECT p.point_id FROM pts_semi_cjr p LEFT $kind JOIN polys_semi_cjr g
         |  ON st_contains_point(g.wkb, p.lon, p.lat)""".stripMargin)
    val (in, out) = (pointsThat("SEMI"), pointsThat("ANTI"))
    for (df <- Seq(in, out)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"semi/anti PIP join did not rewrite:\n$plan")
    }
    val inIds = in.as[Long].collect()
    val outIds = out.as[Long].collect()
    val all = pts.select("point_id").as[Long].collect().toSet
    assert(inIds.length + outIds.length == all.size)
    assert(inIds.toSet.intersect(outIds.toSet).isEmpty && (inIds ++ outIds).toSet == all)
    val brute = TestSpark.bruteJoin(pts, polys, st_contains_point(col("wkb"), col("lon"), col("lat")))
    assert(inIds.toSet == brute.select("point_id").as[Long].collect().toSet && inIds.nonEmpty)

    // polygons on the preserved left: exploding them would repeat each
    // polygon once per covering cell, so the join stays unrewritten
    val polysWithPoints = spark.sql(
      """SELECT g.region_id FROM polys_semi_cjr g LEFT SEMI JOIN pts_semi_cjr p
        |  ON st_contains_point(g.wkb, p.lon, p.lat)""".stripMargin)
    assert(!polysWithPoints.queryExecution.optimizedPlan.toString.contains("__poly_cell"))
    val regionIds = polysWithPoints.as[Long].collect()
    assert(regionIds.length == regionIds.distinct.length)
    assert(regionIds.toSet == brute.select("region_id").as[Long].collect().toSet)
  }

  test("SpatialJoin.join keys hexes and semi/anti joins, and names what it cannot key") {
    val (p, g) = (points, polys)
    val contains = st_contains_point(col("wkb"), col("lon"), col("lat"))
    val brute = TestSpark.bruteJoin(p, g, contains)
      .select(col("point_id"), col("region_id")).as[(Long, Long)].collect().toSet
    val hex = SpatialJoin.join(p, g, contains, Hex(4.0))
      .select(col("point_id"), col("region_id")).as[(Long, Long)].collect().toList
    assert(hex.size == hex.toSet.size && hex.toSet == brute && brute.nonEmpty)

    val semi = SpatialJoin.join(p, g, contains, how = "left_semi").select("point_id").as[Long].collect()
    val anti = SpatialJoin.join(p, g, contains, how = "left_anti").select("point_id").as[Long].collect()
    assert(semi.length == semi.distinct.length && semi.toSet == brute.map(_._1))
    assert(semi.length + anti.length == 3000 && (semi.toSet & anti.toSet).isEmpty)

    val noPredicate = intercept[IllegalArgumentException] {
      SpatialJoin.join(p, g, col("point_id") === col("region_id"))
    }
    assert(noPredicate.getMessage.contains("SpatialJoin.join"))
    val polygonsPreserved = intercept[IllegalArgumentException] {
      SpatialJoin.join(g, p, contains, how = "left_semi")
    }
    assert(polygonsPreserved.getMessage.contains("SpatialJoin.join"))
  }
}
