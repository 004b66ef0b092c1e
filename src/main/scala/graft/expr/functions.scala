package graft.expr

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.graft.Bridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** cell_block(cell, r) → array<long>: rings 0..r around a cell (kNN
  * candidate fetch, quadtree-radius-search analog of alg/gdalgrid.cpp:277). */
case class CellBlock(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(LongType, IntegerType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cell_block"
  override protected def nullSafeEval(cell: Any, r: Any): Any =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.core.CellIndex.block(cell.asInstanceOf[Long], r.asInstanceOf[Int]))
  override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                   ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev, (c, r) =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.core.CellIndex.block($c, $r))")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CellBlock =
    copy(left = l, right = r)
}

/** Column-API facade over the custom expressions (the library's public
  * function surface, mirroring org.apache.spark.sql.functions style). */
object functions {
  def cell_of(lon: Column, lat: Column, level: Int): Column =
    toCol(CellOf(toExpr(lon), toExpr(lat), org.apache.spark.sql.catalyst.expressions.Literal(level)))

  def hex_of(lon: Column, lat: Column, size: Double): Column =
    toCol(HexOf(toExpr(lon), toExpr(lat), org.apache.spark.sql.catalyst.expressions.Literal(size)))

  def hex_cover(env: Column, size: Double): Column =
    toCol(HexCover(toExpr(env), org.apache.spark.sql.catalyst.expressions.Literal(size)))

  def cell_block(cell: Column, r: Column): Column =
    toCol(CellBlock(toExpr(cell), toExpr(r)))

  def st_env(wkb: Column): Column = toCol(WkbEnvelope(toExpr(wkb)))

  def quantized_dot(a: Column, b: Column): Column =
    toCol(QuantizedDot(toExpr(a), toExpr(b)))

  def pq_encode(emb: Column, cell: Column, model: PqModel): Column =
    toCol(PqEncode(toExpr(emb), toExpr(cell), model))

  def pq_adc(codes: Column, lut: Column): Column =
    toCol(PqAdc(toExpr(codes), toExpr(lut)))

  def quantize_emb(emb: Column): Column = toCol(QuantizeEmb(toExpr(emb)))

  def int_dot(a: Column, b: Column): Column =
    toCol(IntDot(toExpr(a), toExpr(b)))

  def vec_sum(qx: Column): Column =
    org.apache.spark.sql.functions.udaf(VecSumAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()).apply(qx)

  def kmeans_assign(qx: Column, model: KmeansModel): Column =
    toCol(KmeansAssign(toExpr(qx), model))

  def st_contains_point(wkb: Column, lon: Column, lat: Column): Column =
    toCol(StContainsPoint(toExpr(wkb), toExpr(lon), toExpr(lat)))

  def st_intersects_env(wkb: Column, env: Column): Column =
    toCol(StIntersectsEnv(toExpr(wkb), toExpr(env)))

  def env_match_count(env: Column, idx: EnvIndex): Column =
    toCol(EnvMatchCount(toExpr(env), idx))

  def cells_covering(env: Column, finest: Int, maxCells: Int): Column =
    toCol(CellsCovering(toExpr(env),
      org.apache.spark.sql.catalyst.expressions.Literal(finest),
      org.apache.spark.sql.catalyst.expressions.Literal(maxCells)))

  def cells_at(env: Column, level: Int): Column =
    toCol(CellsAt(toExpr(env), org.apache.spark.sql.catalyst.expressions.Literal(level)))

  def tile_cover(env: Column, zmin: Int, zmax: Int): Column =
    toCol(TileCover(toExpr(env),
      org.apache.spark.sql.catalyst.expressions.Literal(zmin),
      org.apache.spark.sql.catalyst.expressions.Literal(zmax)))

  def footprint(gt: Column, w: Column, h: Column, srid: Column): Column =
    toCol(Footprint(toExpr(gt), toExpr(w), toExpr(h), toExpr(srid)))

  def checksum_bands(bytes: Column, fmt: Column, w: Column, h: Column): Column =
    toCol(ChecksumBands(toExpr(bytes), toExpr(fmt), toExpr(w), toExpr(h)))

  def image_stats(bytes: Column, fmt: Column, w: Column, h: Column): Column =
    toCol(ImageStats(toExpr(bytes), toExpr(fmt), toExpr(w), toExpr(h)))

  def phash64(bytes: Column, fmt: Column, w: Column, h: Column): Column =
    toCol(Phash64(toExpr(bytes), toExpr(fmt), toExpr(w), toExpr(h)))

  def merc_xy(lon: Column, lat: Column): Column = toCol(MercXY(toExpr(lon), toExpr(lat)))

  def hilbert_code(lon: Column, lat: Column, order: Int): Column =
    toCol(HilbertCode(toExpr(lon), toExpr(lat), org.apache.spark.sql.catalyst.expressions.Literal(order)))

  def tile_xy(lon: Column, lat: Column, z: Int): Column =
    toCol(TileXY(toExpr(lon), toExpr(lat), org.apache.spark.sql.catalyst.expressions.Literal(z)))

  def quadkey(z: Column, x: Column, y: Column): Column =
    toCol(QuadkeyExpr(toExpr(z), toExpr(x), toExpr(y)))

  def warp_tile(bytes: Column, fmt: Column, meta9: Column, tile: Column, kernel: Column): Column =
    toCol(WarpTile(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(tile), toExpr(kernel))))

  def downsample_to_parent(buf: Column, tile: Column): Column =
    toCol(DownsampleToParent(toExpr(buf), toExpr(tile)))

  def encode_png_planes(buf: Column): Column = toCol(EncodePngPlanes(toExpr(buf)))

  def planes_checksums(buf: Column): Column = toCol(PlanesChecksums(toExpr(buf)))

  def zone_stats(bytes: Column, fmt: Column, meta9: Column, zoneWkb: Column): Column =
    toCol(ZoneStats(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(zoneWkb))))

  def zone_stats_full(bytes: Column, fmt: Column, meta9: Column, zoneWkb: Column, weightsBand: Column): Column =
    toCol(ZoneStatsFull(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(zoneWkb), toExpr(weightsBand))))

  def polygonize_regions(bytes: Column, fmt: Column, meta9: Column, connect8: Column, shift: Column): Column =
    toCol(PolygonizeRegions(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(connect8), toExpr(shift))))

  def rasterize_count(wkb: Column, meta9: Column): Column =
    toCol(RasterizeCount(toExpr(wkb), toExpr(meta9)))

  def image_profile(bytes: Column, fmt: Column, w: Column, h: Column): Column =
    toCol(ImageProfile(Seq(toExpr(bytes), toExpr(fmt), toExpr(w), toExpr(h))))

  def focal_op(bytes: Column, fmt: Column, meta9: Column, op: Column): Column =
    toCol(FocalOp(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(op))))

  def focal_multi(bytes: Column, fmt: Column, meta9: Column, ops: Column): Column =
    toCol(FocalMulti(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(ops))))

  def color_relief_multi(bytes: Column, fmt: Column, meta9: Column, ramp: Column, modes: Column): Column =
    toCol(ColorReliefMulti(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(ramp), toExpr(modes))))

  def blend_self(bytes: Column, fmt: Column, meta9: Column, modes: Column, opacityPct: Column): Column =
    toCol(BlendSelf(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(modes), toExpr(opacityPct))))

  def sample_at(bytes: Column, fmt: Column, meta9: Column, lon: Column, lat: Column): Column =
    toCol(SampleAt(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(lon), toExpr(lat))))

  def sample_at_alg(bytes: Column, fmt: Column, meta9: Column, lon: Column, lat: Column, alg: Column): Column =
    toCol(SampleAtAlg(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(lon), toExpr(lat), toExpr(alg))))

  def gcp_to_gt(pxs: Column, pys: Column, gxs: Column, gys: Column): Column =
    toCol(GcpToGt(Seq(toExpr(pxs), toExpr(pys), toExpr(gxs), toExpr(gys))))

  def tps_to_gt(pxs: Column, pys: Column, gxs: Column, gys: Column): Column =
    toCol(TpsToGt(Seq(toExpr(pxs), toExpr(pys), toExpr(gxs), toExpr(gys))))

  def rpc_refit_gt(gt: Column, w: Column, h: Column): Column =
    toCol(RpcRefitGt(Seq(toExpr(gt), toExpr(w), toExpr(h))))

  def viewshed_vis(bytes: Column, fmt: Column, w: Column, h: Column,
                   ox: Column, oy: Column, obsH: Column, tgtH: Column): Column =
    toCol(ViewshedVis(Seq(toExpr(bytes), toExpr(fmt), toExpr(w), toExpr(h),
      toExpr(ox), toExpr(oy), toExpr(obsH), toExpr(tgtH))))

  def suggest_warp_output(w: Column, h: Column, h9: Column): Column =
    toCol(SuggestWarpOutput(toExpr(w), toExpr(h), toExpr(h9)))

  def surf_points(bytes: Column, fmt: Column, w: Column, h: Column,
                  octStart: Column, octEnd: Column, threshold: Column): Column =
    toCol(SurfPoints(Seq(toExpr(bytes), toExpr(fmt), toExpr(w), toExpr(h),
      toExpr(octStart), toExpr(octEnd), toExpr(threshold))))

  def surf_match(pointsA: Column, pointsB: Column, matchThreshold: Column): Column =
    toCol(SurfMatch(Seq(toExpr(pointsA), toExpr(pointsB), toExpr(matchThreshold))))

  def equalize_stats(bytes: Column, fmt: Column, meta9: Column): Column =
    toCol(EqualizeStats(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9))))

  def band_hist(bytes: Column, fmt: Column, meta9: Column): Column =
    toCol(BandHist(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9))))

  def hist_match_stats(bytes: Column, fmt: Column, meta9: Column, corpus: Array[Long]): Column =
    toCol(HistMatchStats(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9)), corpus))

  def los_visible(bytes: Column, fmt: Column, w: Column, h: Column,
                  xa: Column, ya: Column, za: Column,
                  xb: Column, yb: Column, zb: Column): Column =
    toCol(LosVisible(Seq(toExpr(bytes), toExpr(fmt), toExpr(w), toExpr(h),
      toExpr(xa), toExpr(ya), toExpr(za), toExpr(xb), toExpr(yb), toExpr(zb))))

  def sieve_stats(bytes: Column, fmt: Column, meta9: Column, shift: Column, threshold: Column, connect8: Column): Column =
    toCol(SieveStats(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(shift), toExpr(threshold), toExpr(connect8))))

  def proximity_stats(bytes: Column, fmt: Column, meta9: Column, shift: Column, targetClass: Column): Column =
    toCol(ProximityStats(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(shift), toExpr(targetClass))))

  def fill_nodata_stats(bytes: Column, fmt: Column, meta9: Column, nodata: Column, maxDist: Column): Column =
    toCol(FillNodataStats(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(nodata), toExpr(maxDist))))

  def nearblack_stats(bytes: Column, fmt: Column, meta9: Column, nearDist: Column, maxNonBlack: Column, white: Column): Column =
    toCol(NearBlackStats(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(nearDist), toExpr(maxNonBlack), toExpr(white))))

  def raster_compare(bytesA: Column, fmtA: Column, wA: Column, hA: Column,
                     bytesB: Column, fmtB: Column, wB: Column, hB: Column): Column =
    toCol(RasterCompare(Seq(toExpr(bytesA), toExpr(fmtA), toExpr(wA), toExpr(hA),
      toExpr(bytesB), toExpr(fmtB), toExpr(wB), toExpr(hB))))

  def raster_xyz(bytes: Column, fmt: Column, meta9: Column, nodata: Column): Column =
    toCol(RasterXyz(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(nodata))))

  def raster_quality(bytes: Column, fmt: Column, w: Column, h: Column): Column =
    toCol(RasterQuality(Seq(toExpr(bytes), toExpr(fmt), toExpr(w), toExpr(h))))

  def raster_augment(bytes: Column, fmt: Column, w: Column, h: Column): Column =
    toCol(RasterAugment(Seq(toExpr(bytes), toExpr(fmt), toExpr(w), toExpr(h))))

  def raster_resize(bytes: Column, fmt: Column, w: Column, h: Column, factor: Column): Column =
    toCol(RasterResize(Seq(toExpr(bytes), toExpr(fmt), toExpr(w), toExpr(h), toExpr(factor))))

  def raster_moments(bytes: Column, fmt: Column, w: Column, h: Column): Column =
    toCol(RasterMoments(Seq(toExpr(bytes), toExpr(fmt), toExpr(w), toExpr(h))))

  def nearest_site_strict(px: Column, py: Column, packedSites: Array[Long]): Column =
    toCol(NearestSiteStrict(toExpr(px), toExpr(py), packedSites))

  def raster_scale(bytes: Column, fmt: Column, w: Column, h: Column,
                   srcMin: Column, srcMax: Column, dstMin: Column, dstMax: Column, exponent: Column): Column =
    toCol(RasterScale(Seq(toExpr(bytes), toExpr(fmt), toExpr(w), toExpr(h),
      toExpr(srcMin), toExpr(srcMax), toExpr(dstMin), toExpr(dstMax), toExpr(exponent))))

  def raster_chips(bytes: Column, fmt: Column, meta9: Column, chip: Column, stride: Column): Column =
    toCol(RasterChips(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(chip), toExpr(stride))))

  def raster_histogram(bytes: Column, fmt: Column, w: Column, h: Column, nBuckets: Column, vmin: Column, vmax: Column): Column =
    toCol(RasterHistogram(Seq(toExpr(bytes), toExpr(fmt), toExpr(w), toExpr(h), toExpr(nBuckets), toExpr(vmin), toExpr(vmax))))

  def slice_raster(bytes: Column, fmt: Column, meta9: Column, x0: Column, y0: Column, winW: Column, winH: Column): Column =
    toCol(SliceRaster(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(x0), toExpr(y0), toExpr(winW), toExpr(winH))))

  def pixel_calc(bytes: Column, fmt: Column, w: Column, h: Column, calcExpr: Column): Column =
    toCol(PixelCalcExpr(Seq(toExpr(bytes), toExpr(fmt), toExpr(w), toExpr(h), toExpr(calcExpr))))

  def reclassify(bytes: Column, fmt: Column, w: Column, h: Column,
                 lo: Column, hi: Column, values: Column, default: Column): Column =
    toCol(ReclassifyExpr(Seq(toExpr(bytes), toExpr(fmt), toExpr(w), toExpr(h),
      toExpr(lo), toExpr(hi), toExpr(values), toExpr(default))))

  def warp_tile_cut(bytes: Column, fmt: Column, meta9: Column, tile: Column, kernel: Column, cutWkb: Column): Column =
    toCol(WarpTileCut(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(tile), toExpr(kernel), toExpr(cutWkb))))

  def pansharpen_profile(bytes: Column, fmt: Column, w: Column, h: Column): Column =
    toCol(PansharpenProfile(Seq(toExpr(bytes), toExpr(fmt), toExpr(w), toExpr(h))))

  def rgb_to_palette(bytes: Column, fmt: Column, w: Column, h: Column, nColors: Column): Column =
    toCol(RgbToPalette(Seq(toExpr(bytes), toExpr(fmt), toExpr(w), toExpr(h), toExpr(nColors))))

  def median_cut_split(bytes: Column, fmt: Column, w: Column, h: Column): Column =
    toCol(MedianCutSplit(Seq(toExpr(bytes), toExpr(fmt), toExpr(w), toExpr(h))))

  def contour_lines(bytes: Column, fmt: Column, meta9: Column, levels: Column): Column =
    toCol(ContourLines(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(levels))))

  def contour_polygons(bytes: Column, fmt: Column, meta9: Column, levels: Column, emitWkb: Column): Column =
    toCol(ContourPolygons(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(levels), toExpr(emitWkb))))

  def contour_rings(bytes: Column, fmt: Column, meta9: Column, levels: Column, emitWkb: Column): Column =
    toCol(ContourRings(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(levels), toExpr(emitWkb))))

  def contour_ring_feats(bytes: Column, fmt: Column, meta9: Column, levels: Column, emitWkb: Column): Column =
    toCol(ContourRingFeats(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(levels), toExpr(emitWkb))))

  // ---- geometry measures + overlay kernels (§2.7 / §2.3) ----
  def st_area(wkb: Column): Column = toCol(StArea(toExpr(wkb)))
  def st_length(wkb: Column): Column = toCol(StLength(toExpr(wkb)))
  def st_centroid(wkb: Column): Column = toCol(StCentroid(toExpr(wkb)))
  def st_num_points(wkb: Column): Column = toCol(StNumPoints(toExpr(wkb)))
  def st_distance(a: Column, b: Column): Column = toCol(StDistance(toExpr(a), toExpr(b)))
  def st_intersects(a: Column, b: Column): Column = toCol(StIntersects(toExpr(a), toExpr(b)))
  def st_disjoint(a: Column, b: Column): Column = toCol(StDisjoint(toExpr(a), toExpr(b)))

  private def pred(op: String, a: Column, b: Column): Column =
    toCol(StPredicate(org.apache.spark.sql.catalyst.expressions.Literal(
      org.apache.spark.unsafe.types.UTF8String.fromString(op), org.apache.spark.sql.types.StringType),
      toExpr(a), toExpr(b)))
  def st_within(a: Column, b: Column): Column = pred("within", a, b)
  def st_contains(a: Column, b: Column): Column = pred("contains", a, b)
  def st_overlaps(a: Column, b: Column): Column = pred("overlaps", a, b)
  def st_touches(a: Column, b: Column): Column = pred("touches", a, b)
  def st_crosses(a: Column, b: Column): Column = pred("crosses", a, b)
  def st_equals(a: Column, b: Column): Column = pred("equals", a, b)
  def st_convexhull(wkb: Column): Column = toCol(StConvexHull(toExpr(wkb)))
  def st_concave_hull(wkb: Column, ratio: Column): Column =
    toCol(StConcaveHull(toExpr(wkb), toExpr(ratio)))
  def st_intersection(subject: Column, convexClip: Column): Column =
    toCol(StIntersection(toExpr(subject), toExpr(convexClip)))
  def st_difference(subject: Column, convexClip: Column): Column =
    toCol(StDifference(toExpr(subject), toExpr(convexClip)))
  def st_difference_all(subject: Column, convexClips: Column): Column =
    toCol(StDifferenceAll(toExpr(subject), toExpr(convexClips)))
  def st_transform(wkb: Column, fromSrid: Column, toSrid: Column): Column =
    toCol(StTransform(toExpr(wkb), toExpr(fromSrid), toExpr(toSrid)))
  def st_make_box(minx: Column, miny: Column, maxx: Column, maxy: Column): Column =
    toCol(StMakeBox(toExpr(minx), toExpr(miny), toExpr(maxx), toExpr(maxy)))
  def st_collect(wkbs: Column): Column = toCol(StCollect(toExpr(wkbs)))
  def st_area2_q(wkb: Column, scale: Column): Column =
    toCol(StArea2Q(toExpr(wkb), toExpr(scale)))
  def st_make_point(x: Column, y: Column): Column =
    toCol(StMakePoint(toExpr(x), toExpr(y)))
  def st_swap_xy(wkb: Column): Column = toCol(StSwapXY(toExpr(wkb)))
  def st_segmentize(wkb: Column, maxLen: Column): Column =
    toCol(StSegmentize(toExpr(wkb), toExpr(maxLen)))
  def st_simplify(wkb: Column, tolerance: Column): Column =
    toCol(StSimplify(toExpr(wkb), toExpr(tolerance)))
  def st_simplify_topo(wkb: Column, tolerance: Column): Column =
    toCol(StSimplifyTopo(toExpr(wkb), toExpr(tolerance)))
  def st_dump(wkb: Column): Column = toCol(StDump(toExpr(wkb)))
  def st_buffer(wkb: Column, distance: Column, quadsegs: Column): Column =
    toCol(StBuffer(toExpr(wkb), toExpr(distance), toExpr(quadsegs)))
  def st_make_valid(wkb: Column): Column = toCol(StMakeValid(toExpr(wkb)))
  def st_is_valid(wkb: Column): Column = toCol(StIsValid(toExpr(wkb)))

  /** Dissolve aggregate: union of convex hole-free polygons per group. */
  def st_union_agg(wkb: Column): Column =
    org.apache.spark.sql.functions.udaf(UnionAgg, org.apache.spark.sql.Encoders.BINARY).apply(wkb)

  /** tile id accessors are plain bit ops — stay on Spark built-ins. */
  def tile_z(tile: Column): Column = org.apache.spark.sql.functions.shiftrightunsigned(tile, 58).cast("int")
  def tile_x(tile: Column): Column =
    org.apache.spark.sql.functions.shiftrightunsigned(tile, 29).bitwiseAND(org.apache.spark.sql.functions.lit(0x1FFFFFFFL)).cast("int")
  def tile_y(tile: Column): Column =
    tile.bitwiseAND(org.apache.spark.sql.functions.lit(0x1FFFFFFFL)).cast("int")

  def warp_tile_alpha(bytes: Column, fmt: Column, meta9: Column, tile: Column,
                      kernel: Column, alpha: Column): Column =
    toCol(WarpTileAlpha(Seq(toExpr(bytes), toExpr(fmt), toExpr(meta9), toExpr(tile),
      toExpr(kernel), toExpr(alpha))))

  /** The typed mosaic aggregator as a DataFrame aggregate column. */
  def mosaic_agg(buf: Column): Column =
    org.apache.spark.sql.functions.udaf(MosaicAgg, org.apache.spark.sql.Encoders.BINARY).apply(buf)

  /** Density-blending mosaic (see DensityMosaic) as an aggregate column. */
  def mosaic_density_agg(buf: Column): Column =
    org.apache.spark.sql.functions.udaf(MosaicDensityAgg, org.apache.spark.sql.Encoders.BINARY).apply(buf)
}

/** SQL registration: exposes the expression surface to spark.sql(...) via
  * SparkSessionExtensions (SURVEY.md §2.10 — the swq_custom_func_registrar
  * analog). Usable as
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or config
  * spark.sql.extensions=graft.expr.GraftExtensions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._
  override def apply(ext: SparkSessionExtensions): Unit = {
    registry.foreach { case (name, (info, builder)) =>
      ext.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder))
    }
    optimizerRules.foreach(rule => ext.injectOptimizerRule(_ => rule))
  }
}

object GraftExtensions {
  /** Optimizer rules both registration paths install. */
  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(graft.sql.CellJoinRule, graft.sql.BandCountRule)

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.expr", null, name, usage, "", "", "", "", "4.0.0", "", "built-in")

  val registry: Seq[(String, (ExpressionInfo, Seq[Expression] => Expression))] = Seq(
    "cell_of" -> ((info("cell_of", "cell_of(lon, lat, level) - packed quadtree cell id"),
      (e: Seq[Expression]) => CellOf(e(0), e(1), e(2)))),
    "hex_of" -> ((info("hex_of", "hex_of(lon, lat, size) - packed axial hex cell id"),
      (e: Seq[Expression]) => HexOf(e(0), e(1), e(2)))),
    "hex_cover" -> ((info("hex_cover", "hex_cover(env, size) - hex ids covering an envelope"),
      (e: Seq[Expression]) => HexCover(e(0), e(1)))),
    "cell_block" -> ((info("cell_block", "cell_block(cell, r) - cells within Chebyshev ring r"),
      (e: Seq[Expression]) => CellBlock(e(0), e(1)))),
    "st_env" -> ((info("st_env", "st_env(wkb) - [minx,miny,maxx,maxy]"),
      (e: Seq[Expression]) => WkbEnvelope(e(0)))),
    "quantized_dot" -> ((info("quantized_dot", "quantized_dot(a, b) - sum(round(a_d*b_d*2^20)) as bigint"),
      (e: Seq[Expression]) => QuantizedDot(e(0), e(1)))),
    "st_contains_point" -> ((info("st_contains_point", "st_contains_point(wkb, lon, lat)"),
      (e: Seq[Expression]) => StContainsPoint(e(0), e(1), e(2)))),
    "st_intersects_env" -> ((info("st_intersects_env", "st_intersects_env(wkb, env)"),
      (e: Seq[Expression]) => StIntersectsEnv(e(0), e(1)))),
    "cells_covering" -> ((info("cells_covering", "cells_covering(env, finest, maxCells)"),
      (e: Seq[Expression]) => CellsCovering(e(0), e(1), e(2)))),
    "cells_at" -> ((info("cells_at", "cells_at(env, level)"),
      (e: Seq[Expression]) => CellsAt(e(0), e(1)))),
    "tile_cover" -> ((info("tile_cover", "tile_cover(env, zmin, zmax) - packed tile ids"),
      (e: Seq[Expression]) => TileCover(e(0), e(1), e(2)))),
    "footprint" -> ((info("footprint", "footprint(gt, w, h, srid) - lon/lat env"),
      (e: Seq[Expression]) => Footprint(e(0), e(1), e(2), e(3)))),
    "checksum_bands" -> ((info("checksum_bands", "checksum_bands(bytes, fmt, w, h)"),
      (e: Seq[Expression]) => ChecksumBands(e(0), e(1), e(2), e(3)))),
    "image_stats" -> ((info("image_stats", "image_stats(bytes, fmt, w, h)"),
      (e: Seq[Expression]) => ImageStats(e(0), e(1), e(2), e(3)))),
    "phash64" -> ((info("phash64", "phash64(bytes, fmt, w, h)"),
      (e: Seq[Expression]) => Phash64(e(0), e(1), e(2), e(3)))),
    "merc_xy" -> ((info("merc_xy", "merc_xy(lon, lat) - EPSG:3857 [x,y]"),
      (e: Seq[Expression]) => MercXY(e(0), e(1)))),
    "tile_xy" -> ((info("tile_xy", "tile_xy(lon, lat, z) - [x,y]"),
      (e: Seq[Expression]) => TileXY(e(0), e(1), e(2)))),
    "quadkey" -> ((info("quadkey", "quadkey(z, x, y) - Bing quadkey"),
      (e: Seq[Expression]) => QuadkeyExpr(e(0), e(1), e(2)))),
    "warp_tile" -> ((info("warp_tile", "warp_tile(bytes, fmt, meta9, tile, kernel)"),
      (e: Seq[Expression]) => WarpTile(e))),
    "downsample_to_parent" -> ((info("downsample_to_parent", "downsample_to_parent(buf, tile)"),
      (e: Seq[Expression]) => DownsampleToParent(e(0), e(1)))),
    "encode_png_planes" -> ((info("encode_png_planes", "encode_png_planes(buf)"),
      (e: Seq[Expression]) => EncodePngPlanes(e(0)))),
    "planes_checksums" -> ((info("planes_checksums", "planes_checksums(buf)"),
      (e: Seq[Expression]) => PlanesChecksums(e(0)))),
    "zone_stats" -> ((info("zone_stats", "zone_stats(bytes, fmt, meta9, zone_wkb)"),
      (e: Seq[Expression]) => ZoneStats(e))),
    "polygonize_regions" -> ((info("polygonize_regions", "polygonize_regions(bytes, fmt, meta9, connect8, shift)"),
      (e: Seq[Expression]) => PolygonizeRegions(e))),
    "rasterize_count" -> ((info("rasterize_count", "rasterize_count(wkb, meta9)"),
      (e: Seq[Expression]) => RasterizeCount(e(0), e(1)))),
    "image_profile" -> ((info("image_profile", "image_profile(bytes, fmt, w, h) - fused decode metrics"),
      (e: Seq[Expression]) => ImageProfile(e))),
    "focal_op" -> ((info("focal_op", "focal_op(bytes, fmt, meta9, op) - hillshade/slope/aspect/roughness/tpi/tri"),
      (e: Seq[Expression]) => FocalOp(e))),
    "sample_at" -> ((info("sample_at", "sample_at(bytes, fmt, meta9, lon, lat) - nearest value at point"),
      (e: Seq[Expression]) => SampleAt(e))),
    "contour_lines" -> ((info("contour_lines", "contour_lines(bytes, fmt, meta9, levels) - marching-squares iso-lines"),
      (e: Seq[Expression]) => ContourLines(e))),
    "contour_polygons" -> ((info("contour_polygons", "contour_polygons(bytes, fmt, meta9, levels, emit_wkb) - iso-polygons between levels"),
      (e: Seq[Expression]) => ContourPolygons(e))),
    "contour_rings" -> ((info("contour_rings", "contour_rings(bytes, fmt, meta9, levels, emit_wkb) - merged iso-polygon rings (shells + nested holes)"),
      (e: Seq[Expression]) => ContourRings(e))),
    "contour_ring_feats" -> ((info("contour_ring_feats", "contour_ring_feats(bytes, fmt, meta9, levels, emit_wkb) - one feature per shell with nested holes"),
      (e: Seq[Expression]) => ContourRingFeats(e))),
    "st_area" -> ((info("st_area", "st_area(wkb) - shoelace area, holes subtract"),
      (e: Seq[Expression]) => StArea(e(0)))),
    "st_length" -> ((info("st_length", "st_length(wkb) - perimeter/length"),
      (e: Seq[Expression]) => StLength(e(0)))),
    "st_centroid" -> ((info("st_centroid", "st_centroid(wkb) - [cx, cy]"),
      (e: Seq[Expression]) => StCentroid(e(0)))),
    "st_num_points" -> ((info("st_num_points", "st_num_points(wkb)"),
      (e: Seq[Expression]) => StNumPoints(e(0)))),
    "st_distance" -> ((info("st_distance", "st_distance(a, b) - min euclidean distance"),
      (e: Seq[Expression]) => StDistance(e(0), e(1)))),
    "st_convexhull" -> ((info("st_convexhull", "st_convexhull(wkb) - monotone-chain hull"),
      (e: Seq[Expression]) => StConvexHull(e(0)))),
    "st_intersection" -> ((info("st_intersection", "st_intersection(subject, convexClip)"),
      (e: Seq[Expression]) => StIntersection(e(0), e(1)))),
    "st_difference" -> ((info("st_difference", "st_difference(subject, convexClip)"),
      (e: Seq[Expression]) => StDifference(e(0), e(1)))),
    "st_difference_all" -> ((info("st_difference_all", "st_difference_all(subject, array<convexClip>)"),
      (e: Seq[Expression]) => StDifferenceAll(e(0), e(1)))),
    "st_transform" -> ((info("st_transform", "st_transform(wkb, fromSrid, toSrid) - per-vertex reprojection"),
      (e: Seq[Expression]) => StTransform(e(0), e(1), e(2)))),
    "st_make_box" -> ((info("st_make_box", "st_make_box(minx, miny, maxx, maxy) - box polygon wkb"),
      (e: Seq[Expression]) => StMakeBox(e(0), e(1), e(2), e(3)))),
    "st_collect" -> ((info("st_collect", "st_collect(array<wkb>) - gather parts into a multipolygon"),
      (e: Seq[Expression]) => StCollect(e(0)))),
    "st_area2_q" -> ((info("st_area2_q", "st_area2_q(wkb, scale) - 2x area in exact quantized int units"),
      (e: Seq[Expression]) => StArea2Q(e(0), e(1)))),
    "st_make_point" -> ((info("st_make_point", "st_make_point(x, y) - point wkb"),
      (e: Seq[Expression]) => StMakePoint(e(0), e(1)))),
    "st_concave_hull" -> ((info("st_concave_hull", "st_concave_hull(wkb, ratio) - chi-shape concave hull"),
      (e: Seq[Expression]) => StConcaveHull(e(0), e(1)))),
    "zone_stats_full" -> ((info("zone_stats_full", "zone_stats_full(bytes, fmt, meta9, zone_wkb, weights_band) - full zonal stat record"),
      (e: Seq[Expression]) => ZoneStatsFull(e))),
    "focal_multi" -> ((info("focal_multi", "focal_multi(bytes, fmt, meta9, ops) - all focal derivatives from one decode"),
      (e: Seq[Expression]) => FocalMulti(e))),
    "color_relief_multi" -> ((info("color_relief_multi", "color_relief_multi(bytes, fmt, meta9, ramp, modes) - gdaldem color-relief channel stats per selection mode"),
      (e: Seq[Expression]) => ColorReliefMulti(e))),
    "blend_self" -> ((info("blend_self", "blend_self(bytes, fmt, meta9, modes, opacity_pct) - raster blend composition stats vs self-derived overlays"),
      (e: Seq[Expression]) => BlendSelf(e))),
    "sample_at_alg" -> ((info("sample_at_alg", "sample_at_alg(bytes, fmt, meta9, lon, lat, alg) - near/bilinear/cubicspline point interpolation"),
      (e: Seq[Expression]) => SampleAtAlg(e))),
    "sieve_stats" -> ((info("sieve_stats", "sieve_stats(bytes, fmt, meta9, shift, threshold, connect8)"),
      (e: Seq[Expression]) => SieveStats(e))),
    "proximity_stats" -> ((info("proximity_stats", "proximity_stats(bytes, fmt, meta9, shift, target_class)"),
      (e: Seq[Expression]) => ProximityStats(e))),
    "fill_nodata_stats" -> ((info("fill_nodata_stats", "fill_nodata_stats(bytes, fmt, meta9, nodata, max_dist)"),
      (e: Seq[Expression]) => FillNodataStats(e))),
    "nearblack_stats" -> ((info("nearblack_stats", "nearblack_stats(bytes, fmt, meta9, near_dist, max_non_black, white) - collar trim mask size + checksum"),
      (e: Seq[Expression]) => NearBlackStats(e))),
    "raster_histogram" -> ((info("raster_histogram", "raster_histogram(bytes, fmt, w, h, nBuckets, vmin, vmax)"),
      (e: Seq[Expression]) => RasterHistogram(e))),
    "slice_raster" -> ((info("slice_raster", "slice_raster(bytes, fmt, meta9, x0, y0, winW, winH) - windowed read"),
      (e: Seq[Expression]) => SliceRaster(e))),
    "pixel_calc" -> ((info("pixel_calc", "pixel_calc(bytes, fmt, w, h, expr) - per-pixel expression plane (muParser analog)"),
      (e: Seq[Expression]) => PixelCalcExpr(e))),
    "reclassify" -> ((info("reclassify", "reclassify(bytes, fmt, w, h, lo, hi, values, default) - range-table reclassify"),
      (e: Seq[Expression]) => ReclassifyExpr(e))),
    "warp_tile_cut" -> ((info("warp_tile_cut", "warp_tile_cut(bytes, fmt, meta9, tile, kernel, cut_wkb) - cutline-masked warp"),
      (e: Seq[Expression]) => WarpTileCut(e))),
    "pansharpen_profile" -> ((info("pansharpen_profile", "pansharpen_profile(bytes, fmt, w, h) - weighted-Brovey fusion metrics"),
      (e: Seq[Expression]) => PansharpenProfile(e))),
    "rgb_to_palette" -> ((info("rgb_to_palette", "rgb_to_palette(bytes, fmt, w, h, nColors) - median-cut + dither"),
      (e: Seq[Expression]) => RgbToPalette(e))),
    "hilbert_code" -> ((info("hilbert_code", "hilbert_code(lon, lat, order) - locality-sort curve distance"),
      (e: Seq[Expression]) => HilbertCode(e(0), e(1), e(2)))),
    "st_intersects" -> ((info("st_intersects", "st_intersects(a, b) - exact geometry intersects"),
      (e: Seq[Expression]) => StIntersects(e(0), e(1)))),
    "st_disjoint" -> ((info("st_disjoint", "st_disjoint(a, b)"),
      (e: Seq[Expression]) => StDisjoint(e(0), e(1)))),
    "st_swap_xy" -> ((info("st_swap_xy", "st_swap_xy(wkb)"),
      (e: Seq[Expression]) => StSwapXY(e(0)))),
    "st_segmentize" -> ((info("st_segmentize", "st_segmentize(wkb, maxLen)"),
      (e: Seq[Expression]) => StSegmentize(e(0), e(1)))),
    "st_buffer" -> ((info("st_buffer", "st_buffer(wkb, distance, quadsegs) - Minkowski buffer; negative erodes"),
      (e: Seq[Expression]) => StBuffer(e(0), e(1), e(2)))),
    "st_make_valid" -> ((info("st_make_valid", "st_make_valid(wkb) - even-odd linework repair; valid input unchanged"),
      (e: Seq[Expression]) => StMakeValid(e(0)))),
    "st_is_valid" -> ((info("st_is_valid", "st_is_valid(wkb) - polygonal validity (crossings/T-junctions/dup vertices)"),
      (e: Seq[Expression]) => StIsValid(e(0)))),
    "st_simplify" -> ((info("st_simplify", "st_simplify(wkb, tolerance) - Douglas-Peucker"),
      (e: Seq[Expression]) => StSimplify(e(0), e(1)))),
    "st_simplify_topo" -> ((info("st_simplify_topo", "st_simplify_topo(wkb, tolerance) - DP that never collapses or crosses rings"),
      (e: Seq[Expression]) => StSimplifyTopo(e(0), e(1)))),
    "st_dump" -> ((info("st_dump", "st_dump(wkb) - array of parts"),
      (e: Seq[Expression]) => StDump(e(0)))),
    "st_predicate" -> ((info("st_predicate", "st_predicate(op, a, b) - within/contains/overlaps/touches/crosses/equals"),
      (e: Seq[Expression]) => StPredicate(e(0), e(1), e(2)))))

  /** Imperative registration for sessions built without extensions. */
  def register(spark: SparkSession): Unit = {
    registry.foreach { case (name, (info, builder)) =>
      spark.sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
    }
    val installed = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = installed ++ optimizerRules.filterNot(installed.contains)
  }
}
