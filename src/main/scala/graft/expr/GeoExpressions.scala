package graft.expr

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Custom Catalyst expressions (SURVEY.md §2.7/§2.10): the spatial surface
  * Spark lacks, wired for whole-stage codegen — each doGenCode emits a
  * direct static call into GeoKernels/core, so scans stay inside one
  * codegen span (north star: "batch-encodes footprints inside a Catalyst
  * codegen'd expression").
  */

/** cell_of(lon, lat, level) → packed quadtree cell id (long). */
case class CellOf(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_of"
  override protected def nullSafeEval(lon: Any, lat: Any, lvl: Any): Any =
    graft.core.CellIndex.cell(lon.asInstanceOf[Double], lat.asInstanceOf[Double], lvl.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, lvl) => s"graft.core.CellIndex.cell($lon, $lat, $lvl)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): CellOf =
    copy(first = f, second = s, third = t)
}

/** hex_of(lon, lat, size) → packed axial hex cell id (core.Hex — the
  * H3-style hexagonal binning; `size` = circumradius in degrees). */
case class HexOf(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(DoubleType, DoubleType, DoubleType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hex_of"
  override protected def nullSafeEval(lon: Any, lat: Any, size: Any): Any =
    graft.core.Hex.hexOf(lon.asInstanceOf[Double], lat.asInstanceOf[Double], size.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, size) => s"graft.core.Hex.hexOf($lon, $lat, $size)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): HexOf =
    copy(first = f, second = s, third = t)
}

/** hex_cover(env, size) → array<long> hex ids covering the envelope
  * (core.Hex.coverCenters — center-in-expanded-box rule, recall-safe
  * superset for hex-keyed joins). */
case class HexCover(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] =
    Seq(ArrayType(DoubleType), DoubleType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hex_cover"
  override protected def nullSafeEval(env: Any, size: Any): Any = {
    val e = env.asInstanceOf[ArrayData]
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.core.Hex.coverCenters(e.getDouble(0), e.getDouble(1), e.getDouble(2), e.getDouble(3),
        size.asInstanceOf[Double]))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (env, size) =>
      s"""new org.apache.spark.sql.catalyst.util.GenericArrayData(
          graft.core.Hex.coverCenters($env.getDouble(0), $env.getDouble(1),
            $env.getDouble(2), $env.getDouble(3), $size))""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HexCover =
    copy(left = l, right = r)
}

/** st_env(wkb) → array<double>[minx,miny,maxx,maxy] without full parse. */
case class WkbEnvelope(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_env"
  override protected def nullSafeEval(wkb: Any): Any =
    GeoKernels.wkbEnvelope(wkb.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, wkb => s"graft.expr.GeoKernels.wkbEnvelope($wkb)")
  override protected def withNewChildInternal(c: Expression): WkbEnvelope = copy(child = c)
}

/** st_contains_point(wkb, lon, lat) → boolean; exact even-odd PIP — the
  * refine predicate of the filter-refine join (ogrlayer.cpp:4004-4072). */
case class StContainsPoint(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(BinaryType, DoubleType, DoubleType)
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_contains_point"
  override protected def nullSafeEval(wkb: Any, lon: Any, lat: Any): Any =
    graft.core.Pip.contains(wkb.asInstanceOf[Array[Byte]], lon.asInstanceOf[Double], lat.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (wkb, lon, lat) => s"graft.core.Pip.contains($wkb, $lon, $lat)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): StContainsPoint =
    copy(first = f, second = s, third = t)
}

/** st_intersects_env(wkb, env4) → boolean; polygon×box exact test. */
case class StIntersectsEnv(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(BinaryType, ArrayType(DoubleType))
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_intersects_env"
  override protected def nullSafeEval(wkb: Any, env: Any): Any =
    GeoKernels.intersectsEnv(wkb.asInstanceOf[Array[Byte]], env.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (wkb, env) => s"graft.expr.GeoKernels.intersectsEnv($wkb, $env)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): StIntersectsEnv =
    copy(left = l, right = r)
}

/** Driver-built broadcast region index for envelope probes: packed
  * STR-tree over the polygon envelopes, exact polygon×box refine per
  * candidate (the pipJoinIndexed local-index plan for envelope inputs).
  * The tree is @transient-lazy so only the WKB payload rides the task
  * closure; each executor rebuilds it once. */
final case class EnvIndex(wkbs: Array[Array[Byte]]) extends Serializable {
  @transient private lazy val tree =
    graft.core.StrTree.build(wkbs.map(graft.core.Wkb.envelope))
  def count(env: ArrayData): Int = {
    val minx = env.getDouble(0); val miny = env.getDouble(1)
    val maxx = env.getDouble(2); val maxy = env.getDouble(3)
    val cand = tree.query(minx, miny, maxx, maxy)
    var n = 0
    var i = 0
    while (i < cand.length) {
      if (graft.core.Pip.polygonIntersectsBox(wkbs(cand(i)), minx, miny, maxx, maxy)) n += 1
      i += 1
    }
    n
  }
}

/** env_match_count(env4) → int: #polygons of a driver-built [[EnvIndex]]
  * the envelope intersects — the zero-shuffle spatial-join probe for
  * dim-sized polygon layers (broadcast object via addReferenceObj, the
  * GCP-transformer pattern). */
case class EnvMatchCount(child: Expression, index: EnvIndex)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "env_match_count"
  override protected def nullSafeEval(env: Any): Any =
    index.count(env.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("envIndex", index, classOf[EnvIndex].getName)
    defineCodeGen(ctx, ev, e => s"$ref.count($e)")
  }
  override protected def withNewChildInternal(c: Expression): EnvMatchCount =
    copy(child = c)
}

/** cells_covering(env4, finest, maxCells) → array<long> adaptive-level cover. */
case class CellsCovering(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(ArrayType(DoubleType), IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cells_covering"
  override protected def nullSafeEval(env: Any, finest: Any, maxCells: Any): Any =
    GeoKernels.cellsCovering(env.asInstanceOf[ArrayData], finest.asInstanceOf[Int], maxCells.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (env, f, m) => s"graft.expr.GeoKernels.cellsCovering($env, $f, $m)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): CellsCovering =
    copy(first = f, second = s, third = t)
}

/** cells_at(env4, level) → array<long> fixed-level cover (join-key side). */
case class CellsAt(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(ArrayType(DoubleType), IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cells_at"
  override protected def nullSafeEval(env: Any, level: Any): Any =
    GeoKernels.cellsCoveringAt(env.asInstanceOf[ArrayData], level.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (env, l) => s"graft.expr.GeoKernels.cellsCoveringAt($env, $l)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CellsAt =
    copy(left = l, right = r)
}

/** tile_cover(env4_lonlat, zmin, zmax) → array<long> packed (z,x,y) ids —
  * the tile-assignment join key generator (gdalalg_raster_tile
  * GetTileIndices semantics). */
case class TileCover(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(ArrayType(DoubleType), IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "tile_cover"
  override protected def nullSafeEval(env: Any, zmin: Any, zmax: Any): Any =
    GeoKernels.tileCover(env.asInstanceOf[ArrayData], zmin.asInstanceOf[Int], zmax.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (env, z0, z1) => s"graft.expr.GeoKernels.tileCover($env, $z0, $z1)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): TileCover =
    copy(first = f, second = s, third = t)
}

/** footprint(gt6, w, h, srid) → lon/lat env array<double>[4]. */
case class Footprint(first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(ArrayType(DoubleType), IntegerType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "footprint"
  override protected def nullSafeEval(gt: Any, w: Any, h: Any, srid: Any): Any =
    GeoKernels.footprint(gt.asInstanceOf[ArrayData], w.asInstanceOf[Int], h.asInstanceOf[Int], srid.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (gt, w, h, srid) => s"graft.expr.GeoKernels.footprint($gt, $w, $h, $srid)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression, q: Expression): Footprint =
    copy(first = f, second = s, third = t, fourth = q)
}

/** checksum_bands(bytes, fmt, w, h) → array<int> per-band GDAL checksum. */
case class ChecksumBands(first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(BinaryType, StringType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "checksum_bands"
  override protected def nullSafeEval(bytes: Any, fmt: Any, w: Any, h: Any): Any =
    GeoKernels.checksumBands(bytes.asInstanceOf[Array[Byte]], fmt.toString, w.asInstanceOf[Int], h.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, f, w, h) => s"graft.expr.GeoKernels.checksumBands($b, $f.toString(), $w, $h)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression, q: Expression): ChecksumBands =
    copy(first = f, second = s, third = t, fourth = q)
}

/** image_stats(bytes, fmt, w, h) → array<double>[nbands,min,max,mean,checksum0]. */
case class ImageStats(first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(BinaryType, StringType, IntegerType, IntegerType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "image_stats"
  override protected def nullSafeEval(bytes: Any, fmt: Any, w: Any, h: Any): Any =
    GeoKernels.imageStats(bytes.asInstanceOf[Array[Byte]], fmt.toString, w.asInstanceOf[Int], h.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, f, w, h) => s"graft.expr.GeoKernels.imageStats($b, $f.toString(), $w, $h)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression, q: Expression): ImageStats =
    copy(first = f, second = s, third = t, fourth = q)
}

/** `image_stats(bytes, fmt, w, h)[0]` — the band count — read from the
  * image header without decoding pixels (`ImageCodec.bandCount`). Not
  * registered: `graft.sql.BandCountRule` substitutes it for that one
  * element of the stats array. */
case class ImageBandCount(first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(BinaryType, StringType, IntegerType, IntegerType)
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "image_band_count"
  override protected def nullSafeEval(bytes: Any, fmt: Any, w: Any, h: Any): Any =
    graft.core.ImageCodec.bandCount(bytes.asInstanceOf[Array[Byte]], fmt.toString, w.asInstanceOf[Int], h.asInstanceOf[Int]).toDouble
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, f, w, h) => s"(double) graft.core.ImageCodec.bandCount($b, $f.toString(), $w, $h)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression, q: Expression): ImageBandCount =
    copy(first = f, second = s, third = t, fourth = q)
}

/** phash64(bytes, fmt, w, h) → 64-bit perceptual average-hash. */
case class Phash64(first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends QuaternaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(BinaryType, StringType, IntegerType, IntegerType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "phash64"
  override protected def nullSafeEval(bytes: Any, fmt: Any, w: Any, h: Any): Any =
    GeoKernels.phash64(bytes.asInstanceOf[Array[Byte]], fmt.toString, w.asInstanceOf[Int], h.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, f, w, h) => s"graft.expr.GeoKernels.phash64($b, $f.toString(), $w, $h)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression, q: Expression): Phash64 =
    copy(first = f, second = s, third = t, fourth = q)
}

/** merc_xy(lon, lat) → array<double>[mx,my] EPSG:3857 forward. */
case class MercXY(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(DoubleType, DoubleType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "merc_xy"
  override protected def nullSafeEval(lon: Any, lat: Any): Any =
    GeoExprHelpers.mercXY(lon.asInstanceOf[Double], lat.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat) => s"graft.expr.GeoExprHelpers.mercXY($lon, $lat)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MercXY =
    copy(left = l, right = r)
}

/** tile_xy(lon, lat, z) → array<long>[x,y] XYZ tile of a point. */
case class TileXY(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "tile_xy"
  override protected def nullSafeEval(lon: Any, lat: Any, z: Any): Any =
    GeoExprHelpers.tileXY(lon.asInstanceOf[Double], lat.asInstanceOf[Double], z.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, z) => s"graft.expr.GeoExprHelpers.tileXY($lon, $lat, $z)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): TileXY =
    copy(first = f, second = s, third = t)
}

/** quadkey(z, x, y) → Bing quadkey string. */
case class QuadkeyExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(IntegerType, IntegerType, IntegerType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "quadkey"
  override protected def nullSafeEval(z: Any, x: Any, y: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      graft.core.TileMath.quadkey(z.asInstanceOf[Int], x.asInstanceOf[Int], y.asInstanceOf[Int]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (z, x, y) =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(graft.core.TileMath.quadkey($z, $x, $y))")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): QuadkeyExpr =
    copy(first = f, second = s, third = t)
}

/** hilbert_code(lon, lat, order) → long curve distance (spatial-sort key,
  * apps/gdalalg_vector_sort.cpp:40 hilbert method). */
case class HilbertCode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(DoubleType, DoubleType, IntegerType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hilbert_code"
  override protected def nullSafeEval(lon: Any, lat: Any, order: Any): Any =
    graft.core.Hilbert.ofLonLat(lon.asInstanceOf[Double], lat.asInstanceOf[Double], order.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (lon, lat, o) => s"graft.core.Hilbert.ofLonLat($lon, $lat, $o)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): HilbertCode =
    copy(first = f, second = s, third = t)
}

/** Non-codegen helpers with primitive-friendly signatures. */
object GeoExprHelpers {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import graft.core.{Mercator, TileMath}

  def mercXY(lon: Double, lat: Double): ArrayData =
    new GenericArrayData(Array(Mercator.x(lon), Mercator.y(lat)))

  def tileXY(lon: Double, lat: Double, z: Int): ArrayData = {
    val mx = Mercator.x(lon)
    val my = Mercator.y(Mercator.clampLat(lat))
    new GenericArrayData(Array(TileMath.tileX(mx, z).toLong, TileMath.tileY(my, z).toLong))
  }
}
