package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expr.functions._
import graft.sql.Cells.Quad

/** Geometry-output layer algebra (SURVEY.md §2.3; reference:
  * OGRLayer::Intersection ogrlayer.cpp:5385, Union :5803, SymDifference
  * :6340, Identity :6770, Update :7188, Clip :7537, Erase :7846).
  *
  * Distributed shape shared by every op: candidate pairs come from
  * `SpatialJoin.join` on `Quad(level)` cells (the scalable replacement for
  * the reference's per-feature SetSpatialFilterRect index walk): both
  * layers explode their geometry envelopes to covering cells, pair on the
  * cell equi-join, and keep each pair only on its canonical cell (the
  * cell of the envelope intersection's min corner), so a pair surfaces
  * once with no dedup pass; exact geometry overlay refines. Per-pair
  * geometry kernels are core.Clip (convex method/clip geometries — the
  * engine's whole clip surface: boxes, tiles, envelopes, hulls).
  *
  * Field semantics follow the reference: Intersection/Union/Identity emit
  * attributes of BOTH layers (absent side null, like OGR's combined field
  * scheme); Clip/Erase keep only the input layer's attributes; Update
  * keeps the input schema and appends method features mapped by name.
  *
  * Scale notes: the only grouping is per-input-feature (collect of the
  * OVERLAPPING method geometries — bounded by spatial overlap degree, not
  * layer size); no all-pairs stage exists. Method features that overlap
  * everything (a world polygon) concentrate on their cells — pre-split
  * such geometries or raise `level` (documented guard).
  */
object LayerAlgebra {

  /** Pairs where b's geometry intersects a's envelope, each once. */
  private def pairGeoms(a: DataFrame, b: DataFrame, aWkb: String, bWkb: String,
                        level: Int): DataFrame =
    SpatialJoin.join(a, b, st_intersects_env(col(bWkb), st_env(col(aWkb))), Quad(level))

  /** Intersection: one row per intersecting pair, fields from both,
    * geom = a ∩ b (pairs whose exact intersection is empty are dropped). */
  def intersection(a: DataFrame, b: DataFrame, aKey: String, bKey: String,
                   aWkb: String = "wkb_a", bWkb: String = "wkb_b", level: Int = 6): DataFrame =
    pairGeoms(a, b, aWkb, bWkb, level)
      .withColumn("geom", st_intersection(col(aWkb), col(bWkb)))
      .filter(col("geom").isNotNull)

  /** Per-input-feature method-geometry gather: (aKey, __clips array). */
  private def clipsPerFeature(a: DataFrame, b: DataFrame, aKey: String, bKey: String,
                              aWkb: String, bWkb: String, level: Int): DataFrame =
    pairGeoms(a.select(col(aKey), col(aWkb)), b.select(col(bKey), col(bWkb)), aWkb, bWkb, level)
      .groupBy(col(aKey))
      .agg(collect_list(col(bWkb)).as("__clips"))

  /** Erase: input features minus every overlapping method geometry;
    * features fully erased are dropped, untouched features pass through. */
  def erase(a: DataFrame, b: DataFrame, aKey: String, bKey: String,
            aWkb: String = "wkb_a", bWkb: String = "wkb_b", level: Int = 6): DataFrame = {
    val hits = clipsPerFeature(a, b, aKey, bKey, aWkb, bWkb, level)
    a.join(hits, Seq(aKey), "left")
      .withColumn("geom", st_difference_all(col(aWkb), col("__clips")))
      .filter(col("geom").isNotNull)
      .drop("__clips")
  }

  /** Clip: input features cropped to the method layer's coverage — one row
    * per input feature, geometry = union of the per-pair intersections
    * (exact for disjoint method geometries, e.g. region/tile grids;
    * overlapping method geometries contribute overlapping parts, same as
    * the per-pair reference loop). */
  def clip(a: DataFrame, b: DataFrame, aKey: String, bKey: String,
           aWkb: String = "wkb_a", bWkb: String = "wkb_b", level: Int = 6): DataFrame = {
    val pieces = pairGeoms(a.select(col(aKey), col(aWkb)), b.select(col(bKey), col(bWkb)),
      aWkb, bWkb, level)
      .withColumn("__piece", st_intersection(col(aWkb), col(bWkb)))
      .filter(col("__piece").isNotNull)
      .groupBy(col(aKey))
      .agg(st_collect(collect_list(col("__piece"))).as("geom"))
    a.join(pieces, Seq(aKey))
  }

  /** SymDifference: (A − B) ∪ (B − A); fields of both, absent side null. */
  def symDifference(a: DataFrame, b: DataFrame, aKey: String, bKey: String,
                    aWkb: String = "wkb_a", bWkb: String = "wkb_b", level: Int = 6): DataFrame = {
    val aOnly = erase(a, b, aKey, bKey, aWkb, bWkb, level)
    val bOnly = erase(b, a, bKey, aKey, bWkb, aWkb, level)
    aOnly.unionByName(bOnly, allowMissingColumns = true)
  }

  /** Union: A∩B pieces + A-only remainders + B-only remainders
    * (ogrlayer.cpp:5803 result composition). */
  def union(a: DataFrame, b: DataFrame, aKey: String, bKey: String,
            aWkb: String = "wkb_a", bWkb: String = "wkb_b", level: Int = 6): DataFrame = {
    val both = intersection(a, b, aKey, bKey, aWkb, bWkb, level)
    both.unionByName(symDifference(a, b, aKey, bKey, aWkb, bWkb, level), allowMissingColumns = true)
  }

  /** Identity: input features split by the method layer — A∩B pieces plus
    * the A remainders (method fields null on remainders). */
  def identity(a: DataFrame, b: DataFrame, aKey: String, bKey: String,
               aWkb: String = "wkb_a", bWkb: String = "wkb_b", level: Int = 6): DataFrame = {
    val both = intersection(a, b, aKey, bKey, aWkb, bWkb, level)
    both.unionByName(erase(a, b, aKey, bKey, aWkb, bWkb, level), allowMissingColumns = true)
  }

  /** Update: method features patch over the input — input minus method
    * coverage, plus the method features themselves (input schema kept;
    * method columns mapped by name, geometry column renamed to `geom`). */
  def update(a: DataFrame, b: DataFrame, aKey: String, bKey: String,
             aWkb: String = "wkb_a", bWkb: String = "wkb_b", level: Int = 6): DataFrame = {
    val patched = erase(a, b, aKey, bKey, aWkb, bWkb, level)
    val bAsGeom = b.withColumn("geom", col(bWkb))
    patched.unionByName(bAsGeom, allowMissingColumns = true)
  }

  /** Dissolve: group by key columns, union the (convex, hole-free)
    * geometries per group (gdalalg_vector_dissolve.cpp = GROUP BY field +
    * union geometry). Partial aggregation applies map-side, so the shuffle
    * carries partially-dissolved multipolygons, not raw feature lists. */
  def dissolve(a: DataFrame, groupCols: Seq[String], wkbCol: String = "wkb"): DataFrame =
    a.groupBy(groupCols.map(col): _*)
      .agg(st_union_agg(col(wkbCol)).as("geom"), count(lit(1)).as("n_features"))
}
