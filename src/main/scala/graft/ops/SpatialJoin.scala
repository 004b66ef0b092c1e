package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import graft.sql.{CellJoinRule, Cells}
import graft.sql.Cells.Quad

/** Distributed filter-refine spatial joins (SURVEY.md §2.3).
  *
  * [[join]] is the cell-keyed shuffle join for layers of any size: the
  * geometry side explodes to the cells covering its envelope (a coarse
  * global index — the distributed replacement for the reference's
  * per-layer spatial indexes), the cell is an ordinary long equi-join key
  * (Catalyst picks broadcast/SMJ, AQE splits skewed hot cells), and the
  * join's own spatial predicate refines — the two-phase contract of
  * OGRLayer::FilterGeometry (ogrlayer.cpp:4004-4072). Point-in-polygon
  * joins key the point side on its single cell; geometry/envelope pairs
  * explode both sides and keep each pair only on its canonical cell (the
  * cell of the envelope intersection's min corner), so every pair
  * surfaces exactly once with no dedup pass. The plan is built by
  * [[graft.sql.CellJoinRule.rewrite]], the same builder the SQL surface
  * uses. [[pipJoinIndexed]] and [[envMatchIndexed]] are the broadcast
  * STR-tree alternatives for polygon layers that fit in memory.
  */
object SpatialJoin {

  /** `left.join(right, on, how)` planned as a cell-keyed join on `cells`.
    * `on` must hold `st_contains_point(wkb, lon, lat)`, `st_intersects(a,
    * b)` or `st_intersects_env(wkb, env)` with its arguments split across
    * the sides; other conjuncts refine alongside it. `how` is "inner", or
    * "left_semi"/"left_anti" for a PIP join whose points are on the left. */
  def join(left: DataFrame, right: DataFrame, on: Column, cells: Cells = Quad(7),
           how: String = "inner"): DataFrame = {
    val plan = Some(left.join(right, on, how).queryExecution.analyzed)
      .collect { case j: Join => j }
      .flatMap(CellJoinRule.rewrite(_, cells, cells))
      .getOrElse(throw new IllegalArgumentException(
        s"SpatialJoin.join: $on has no st_contains_point, st_intersects or st_intersects_env " +
          s"predicate splitting across the two sides, or a $how join of that shape cannot be " +
          "cell-keyed (semi/anti joins need a PIP predicate with the points on the left)"))
    Bridge.ofRows(left.sparkSession, plan)
  }

  /** Broadcast-indexed PIP join: the polygon side is collected, bulk-
    * loaded into a packed STR R-tree (core.StrTree — the per-partition
    * local-index plan of SURVEY §4: coarse cells globally, fine R-tree
    * locally), broadcast, and each point partition probes the tree then
    * refines exactly. No shuffle AT ALL on the point side — the
    * alternative physical plan to [[join]] when the polygon side fits in
    * memory (dims, region tables); semantics identical. */
  def pipJoinIndexed(points: DataFrame, polys: DataFrame,
                     lonCol: String = "lon", latCol: String = "lat",
                     wkbCol: String = "wkb", maxPolys: Int = 1000000): DataFrame = {
    val spark = points.sparkSession
    // fail fast instead of OOMing the driver on an oversized build side:
    // collect at most maxPolys+1 rows and reject if the cap is exceeded
    val polyRows = polys.limit(maxPolys + 1).collect()
    require(polyRows.length <= maxPolys,
      s"pipJoinIndexed: polygon side exceeds maxPolys=$maxPolys rows; " +
        "it must fit in driver/executor memory to broadcast — use " +
        "SpatialJoin.join (cell-keyed shuffle join) for large polygon layers")
    val wkbIdx = polys.schema.fieldIndex(wkbCol)
    val envs = polyRows.map { r =>
      val (a, b, c, d) = graft.core.Wkb.envelope(r.getAs[Array[Byte]](wkbIdx))
      (a, b, c, d)
    }
    val treeBc = spark.sparkContext.broadcast(
      (graft.core.StrTree.build(envs), polyRows))
    val outSchema = org.apache.spark.sql.types.StructType(points.schema ++ polys.schema)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val lonIdx = points.schema.fieldIndex(lonCol)
    val latIdx = points.schema.fieldIndex(latCol)
    val wkbIdxLocal = wkbIdx
    points.mapPartitions { it =>
      val (tree, rows) = treeBc.value
      it.flatMap { p =>
        val lon = p.getDouble(lonIdx)
        val lat = p.getDouble(latIdx)
        tree.queryPoint(lon, lat).iterator
          .filter(i => graft.core.Pip.contains(rows(i).getAs[Array[Byte]](wkbIdxLocal), lon, lat))
          .map(i => org.apache.spark.sql.Row.merge(p, rows(i)))
      }
    }(enc)
  }

  /** Broadcast-indexed envelope match: each left row gains `n_regions` =
    * #polygons its envelope intersects, via a codegen'd probe of a
    * driver-built STR-tree over the polygon layer ([[graft.expr.EnvIndex]]
    * — pipJoinIndexed's envelope×polygon sibling). ZERO shuffle on the
    * left side and no dedup pass: the semi-join filter is
    * `n_regions >= 1`. Use for dim-sized polygon layers; the fail-fast
    * cap names [[join]] (cell-keyed shuffle join) as the alternative
    * when the polygon side is corpus-sized. */
  def envMatchIndexed(lefts: DataFrame, polys: DataFrame, wkbCol: String = "wkb",
                      envCol: String = "env", maxPolys: Int = 1000000): DataFrame = {
    // null geometries match nothing (the cell join's null-intolerant filter
    // semantics), and an empty layer yields n_regions = 0 everywhere
    // rather than an executor-side empty-STR-tree failure
    val polyRows = polys.select(col(wkbCol)).filter(col(wkbCol).isNotNull)
      .limit(maxPolys + 1).collect()
    require(polyRows.length <= maxPolys,
      s"envMatchIndexed: polygon side exceeds maxPolys=$maxPolys rows; " +
        "use SpatialJoin.join (cell-keyed shuffle join) for large polygon layers")
    if (polyRows.isEmpty) lefts.withColumn("n_regions", lit(0))
    else {
      val idx = graft.expr.EnvIndex(polyRows.map(_.getAs[Array[Byte]](0)))
      lefts.withColumn("n_regions", graft.expr.functions.env_match_count(col(envCol), idx))
    }
  }
}
