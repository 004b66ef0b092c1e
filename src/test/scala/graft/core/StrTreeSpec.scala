package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.expr.functions.st_contains_point

/** Packed STR R-tree (FlatGeoBuf packedrtree / CPLQuadTree analog). */
class StrTreeSpec extends AnyFunSuite {

  test("query returns exactly the brute-force envelope hits") {
    val rnd = new scala.util.Random(17)
    val envs = Array.fill(500) {
      val x = rnd.nextDouble() * 100
      val y = rnd.nextDouble() * 100
      (x, y, x + rnd.nextDouble() * 10, y + rnd.nextDouble() * 10)
    }
    val tree = StrTree.build(envs)
    (1 to 200).foreach { _ =>
      val qx = rnd.nextDouble() * 110 - 5
      val qy = rnd.nextDouble() * 110 - 5
      val qx2 = qx + rnd.nextDouble() * 15
      val qy2 = qy + rnd.nextDouble() * 15
      val got = tree.query(qx, qy, qx2, qy2).toSet
      val want = envs.indices.filter(i =>
        Pip.bboxIntersects(envs(i)._1, envs(i)._2, envs(i)._3, envs(i)._4, qx, qy, qx2, qy2)).toSet
      assert(got == want)
    }
  }

  test("point queries, single-entry tree, and fanout edge sizes") {
    val one = StrTree.build(Array((0.0, 0.0, 1.0, 1.0)))
    assert(one.queryPoint(0.5, 0.5).toSeq == Seq(0))
    assert(one.queryPoint(5.0, 5.0).isEmpty)
    // sizes around fanout boundaries
    Seq(1, 2, 15, 16, 17, 255, 256, 257).foreach { n =>
      val envs = Array.tabulate(n)(i => (i.toDouble, 0.0, i + 0.5, 1.0))
      val t = StrTree.build(envs)
      (0 until n).foreach { i =>
        assert(t.queryPoint(i + 0.25, 0.5).toSeq == Seq(i), s"n=$n i=$i")
      }
    }
  }

  test("indexed PIP join equals the cell-join operator") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val pts = (1L to 2000L).map(i =>
      (i, rnd.nextDouble() * 360 - 180, rnd.nextDouble() * 170 - 85)).toDF("point_id", "lon", "lat")
    val polys = (0 until 25).map { k =>
      val (minx, miny, maxx, maxy) = graft.gen.Fixtures.regionBoxesSpec(k)
      (k.toLong, Wkb.writeBox(minx, miny, maxx, maxy))
    }.toDF("region_id", "wkb")
    val indexed = graft.ops.SpatialJoin.pipJoinIndexed(pts, polys)
      .select("point_id", "region_id").as[(Long, Long)].collect().toSet
    val cellJoin = graft.ops.SpatialJoin.join(pts, polys,
        st_contains_point(col("wkb"), col("lon"), col("lat")))
      .select("point_id", "region_id").as[(Long, Long)].collect().toSet
    assert(indexed == cellJoin)
    assert(indexed.nonEmpty)
    // no shuffle on the point side
    val plan = graft.ops.SpatialJoin.pipJoinIndexed(pts, polys)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"indexed join must not shuffle:\n$plan")
  }

  test("indexed PIP join fails fast when the polygon side exceeds maxPolys") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val pts = Seq((1L, 0.0, 0.0)).toDF("point_id", "lon", "lat")
    val polys = (0L until 50L).map(k =>
      (k, Wkb.writeBox(-1.0, -1.0, 1.0, 1.0))).toDF("region_id", "wkb")
    val e = intercept[IllegalArgumentException] {
      graft.ops.SpatialJoin.pipJoinIndexed(pts, polys, maxPolys = 10)
    }
    assert(e.getMessage.contains("SpatialJoin.join"), "error must point to the shuffle-join alternative")
  }
}
