package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.Wkb
import graft.expr.functions._
import graft.gen.Fixtures
import graft.ops.{Knn, SpatialJoin}
import graft.sql.Cells.Quad

class SpatialOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pipJoin equals brute-force filter-refine on mixed polygon shapes") {
    val pts = Fixtures.pointsFromOrders(spark, TestSpark.Sf).select("point_id", "lon", "lat")
    // boxes + convex pentagon + concave C + polygon with hole
    val polys = Seq(
      (1L, Wkb.writeBox(-120.0005, 20.0005, -60.0005, 50.0005)),
      (2L, Wkb.writePolygon(Array(Array(10.0, 10, 40, 5, 55, 25, 30, 45, 5, 30, 10, 10)))),
      (3L, Wkb.writePolygon(Array(Array(60.0, -40, 110, -40, 110, -30, 75, -30, 75, 0, 110, 0, 110, 10, 60, 10, 60, -40)))),
      (4L, Wkb.writePolygon(Array(
        Array(-40.0, -70, 30, -70, 30, -20, -40, -20, -40, -70),
        Array(-20.0, -55, 10, -55, 10, -35, -20, -35, -20, -55)))))
      .toDF("region_id", "wkb")
    val contains = st_contains_point(col("wkb"), col("lon"), col("lat"))
    val fast = SpatialJoin.join(pts, polys, contains)
      .select("point_id", "region_id").as[(Long, Long)].collect().toSet
    val brute = TestSpark.bruteJoin(pts, polys, contains)
      .select("point_id", "region_id").as[(Long, Long)].collect().toSet
    assert(fast == brute)
    assert(brute.nonEmpty, "fixture must produce matches")
    // the hole polygon must exclude interior points that a plain bbox test keeps
    val holeMatches = brute.count(_._2 == 4L)
    val bboxMatches = pts.filter(col("lon") > -40 && col("lon") < 30 && col("lat") > -70 && col("lat") < -20).count()
    assert(holeMatches < bboxMatches, "hole must carve out points")
  }

  test("Grid.dataMetrics / averageDistancePts match brute force bit-for-bit") {
    import graft.ops.Grid
    val nodes = Fixtures.nodesFromSuppliers(spark, TestSpark.Sf)
    val pts = Fixtures.valuedPointsFromOrders(spark, TestSpark.Sf)
    val r = 5.0
    val bruteCand = nodes.crossJoin(pts)
      .withColumn("dist2",
        (col("p_lon") - col("t_lon")) * (col("p_lon") - col("t_lon"))
          + (col("p_lat") - col("t_lat")) * (col("p_lat") - col("t_lat")))
      .filter(col("dist2") <= r * r)
    val bruteMetrics = bruteCand
      .withColumn("__dq", floor(sqrt(col("dist2")) * lit(1e6)).cast("bigint"))
      .groupBy("t_id")
      .agg(min("value_i").as("min_v"), max("value_i").as("max_v"),
        (max(col("value_i")) - min(col("value_i"))).as("range_v"),
        count(lit(1)).as("n_pts"), sum("__dq").as("sum_dist_q"))
      .select("t_id", "min_v", "max_v", "range_v", "n_pts", "sum_dist_q")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val fastMetrics = Grid.dataMetrics(nodes, pts, r)
      .select("t_id", "min_v", "max_v", "range_v", "n_pts", "sum_dist_q")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(fastMetrics == bruteMetrics)
    assert(bruteMetrics.nonEmpty, "fixture must hit some nodes")

    val c = bruteCand.select(col("t_id"), col("p_id"), col("p_lon"), col("p_lat"))
    val brutePairs = c.as("a").join(c.as("b"),
        col("a.t_id") === col("b.t_id") && col("a.p_id") < col("b.p_id"))
      .select(col("a.t_id").as("t_id"),
        (((col("a.p_lon") - col("b.p_lon")) * (col("a.p_lon") - col("b.p_lon")))
          + ((col("a.p_lat") - col("b.p_lat")) * (col("a.p_lat") - col("b.p_lat")))).as("dist2"))
      .withColumn("__dq", floor(sqrt(col("dist2")) * lit(1e6)).cast("bigint"))
      .groupBy("t_id")
      .agg(count(lit(1)).as("n_pairs"), sum("__dq").as("sum_dist_q"))
      .select("t_id", "n_pairs", "sum_dist_q")
      .as[(Long, Long, Long)].collect().toSet
    val fastPairs = Grid.averageDistancePts(nodes, pts, r)
      .select("t_id", "n_pairs", "sum_dist_q")
      .as[(Long, Long, Long)].collect().toSet
    assert(fastPairs == brutePairs)
    assert(brutePairs.nonEmpty, "fixture must yield ≥1 multi-point node")
  }

  test("knnJoin matches brute force bit-for-bit (k=5 and k=17)") {
    val pts = Fixtures.pointsFromOrders(spark, TestSpark.Sf)
      .select(col("point_id").as("p_id"), col("lon").as("p_lon"), col("lat").as("p_lat"))
    val targets = Fixtures.targetsFromRegions(spark, TestSpark.Sf)
    for (k <- Seq(5, 17)) {
      val fast = Knn.knnJoin(targets, pts, k, level = 6)
        .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
      val brute = Knn.bruteForce(targets, pts, k)
        .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
      assert(fast.length == brute.length, s"k=$k sizes")
      assert(fast.sameElements(brute), s"k=$k rows must match exactly")
    }
  }

  test("knnJoin survives k larger than any ring (full-cover fallback)") {
    val pts = Seq((1L, 0.0, 0.0), (2L, 10.0, 10.0), (3L, -170.0, 80.0))
      .toDF("p_id", "p_lon", "p_lat")
    val targets = Seq((7L, 1.0, 1.0)).toDF("t_id", "t_lon", "t_lat")
    val res = Knn.knnJoin(targets, pts, k = 5, level = 4, maxRounds = 10)
    assert(res.count() == 3, "only 3 points exist; all must be returned")
  }

  test("envJoin matches brute-force polygon-box intersection") {
    val images = Fixtures.imagesFromParts(spark, TestSpark.Sf).filter(col("srid") === 4326)
      .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
      .select("key", "env")
    val polys = Fixtures.regionBoxes(spark, TestSpark.Sf)
    val intersects = st_intersects_env(col("wkb"), col("env"))
    val joined = SpatialJoin.join(images, polys, intersects, Quad(5))
    val fast = joined.select("key", "region_id").as[(Long, Long)].collect().toList
    val brute = TestSpark.bruteJoin(images, polys, intersects)
      .select("key", "region_id").as[(Long, Long)].collect().toSet
    // exactly once with no dedup: the canonical cell, not an aggregate
    // over (key, region_id), keeps pairs that share several cells single
    assert(fast.size == fast.toSet.size, "pairs must surface exactly once")
    assert(fast.toSet == brute)
    assert(brute.nonEmpty)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Aggregate"), s"envelope join must not dedup:\n$plan")
  }

  test("envMatchIndexed counts equal the envJoin per-key match counts") {
    val images = Fixtures.imagesFromParts(spark, TestSpark.Sf).filter(col("srid") === 4326)
      .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
      .select("key", "env")
    val polys = Fixtures.regionBoxes(spark, TestSpark.Sf)
    val viaJoin = SpatialJoin.join(images, polys, st_intersects_env(col("wkb"), col("env")), Quad(5))
      .groupBy("key").count().as[(Long, Long)].collect().toMap
    val viaProbe = SpatialJoin.envMatchIndexed(images, polys)
      .select(col("key"), col("n_regions").cast("long"))
      .as[(Long, Long)].collect()
    // probe emits EVERY left row once; zero-match rows are the semi-join complement
    assert(viaProbe.map(_._1).distinct.length == viaProbe.length)
    assert(viaProbe.filter(_._2 > 0).map(identity).toMap == viaJoin)
  }

  test("envMatchIndexed: empty and null-geometry polygon layers match nothing") {
    val images = Fixtures.imagesFromParts(spark, TestSpark.Sf).filter(col("srid") === 4326)
      .withColumn("env", footprint(col("gt"), col("w"), col("h"), col("srid")))
      .select("key", "env").limit(20)
    val empty = Fixtures.regionBoxes(spark, TestSpark.Sf).filter(col("region_id") < 0)
    assert(SpatialJoin.envMatchIndexed(images, empty)
      .filter(col("n_regions") =!= 0).count() == 0L)
    val withNull = Fixtures.regionBoxes(spark, TestSpark.Sf).limit(1)
      .select(col("region_id"), lit(null).cast("binary").as("wkb"))
    assert(SpatialJoin.envMatchIndexed(images, withNull)
      .filter(col("n_regions") =!= 0).count() == 0L)
  }

  test("PIP join at a 50%-hot cell equals brute force") {
    // half the corpus lands in a 0.01° cluster (a dense metro; its points
    // on lat = 45 fall one level-7 cell north), the rest spreads; one
    // region covers the hot cluster
    val n = 4000L
    val pts = spark.range(n).select(col("id").as("point_id"),
        when(col("id") % 2 === 0, lit(10.0) + (col("id") % 97).cast("double") / 10000.0)
          .otherwise((col("id") * 37 % 340).cast("double") - 170.0 + 0.21).as("lon"),
        when(col("id") % 2 === 0, lit(45.0) + (col("id") % 89).cast("double") / 10000.0)
          .otherwise((col("id") * 53 % 150).cast("double") - 75.0 + 0.37).as("lat"))
    val polys = Seq(
      (1L, Wkb.writeBox(9.5, 44.5, 10.5, 45.5)),   // covers the hot cluster
      (2L, Wkb.writeBox(-60.0, -30.0, 20.0, 50.0)), // wide box
      (3L, Wkb.writeBox(100.0, 10.0, 120.0, 30.0))).toDF("region_id", "wkb")
    val hottest = pts.groupBy(cell_of(col("lon"), col("lat"), 7)).count()
      .agg(max(col("count"))).as[Long].head()
    assert(hottest >= n * 45 / 100, s"the hottest level-7 cell holds only $hottest points")
    val contains = st_contains_point(col("wkb"), col("lon"), col("lat"))
    val got = SpatialJoin.join(pts, polys, contains).select("point_id", "region_id")
      .as[(Long, Long)].collect().toList
    val brute = TestSpark.bruteJoin(pts, polys, contains).select("point_id", "region_id")
      .as[(Long, Long)].collect().toSet
    assert(got.size == got.toSet.size && got.toSet == brute && brute.nonEmpty)
  }

  test("writeTiles lays out a hive-partitioned z/x/y tree") {
    val images = Fixtures.imagesFromParts(spark, TestSpark.Sf).filter(col("key") % 11 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_tiles").toString
    graft.ops.Tiling.writeTiles(graft.ops.Tiling.pyramid(images, 2, 4), dir)
    val back = spark.read.parquet(dir)
    assert(back.select("z").distinct().count() == 3)
    assert(back.columns.toSet == Set("z", "x", "y", "qk", "n_images", "png"))
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("z=")))
  }

  test("cell join plan broadcasts the small polygon side and stays codegen'd") {
    val pts = Fixtures.pointsFromOrders(spark, TestSpark.Sf).select("point_id", "lon", "lat")
    val polys = Fixtures.regionBoxes(spark, TestSpark.Sf)
    val plan = SpatialJoin.join(pts, polys, st_contains_point(col("wkb"), col("lon"), col("lat")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    // exact PIP refine must ride ON the join, not as a post-filter
    assert(plan.contains("BroadcastHashJoin [__pip_cell") && plan.contains("st_contains_point"), plan)
  }
}
