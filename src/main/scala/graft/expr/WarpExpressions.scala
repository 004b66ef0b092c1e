package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, ExpectsInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import graft.core._

/** Heavy per-row raster expressions. These do O(tile-pixels) work per call,
  * so codegen of the call site is irrelevant — CodegenFallback keeps the
  * surrounding stage compiled and just virtual-calls eval() here (same
  * shape as the reference's per-chunk warp kernel calls,
  * alg/gdalwarpkernel.cpp PerformWarp).
  *
  * Buffer convention ("planes buffer"): warped tile pixels travel between
  * stages as a single binary column of (nBands+1) planes of tileSize²
  * bytes — band planes then a 0/1 validity plane. Compact, shuffle-friendly,
  * and mergeable without decoding.
  */
object PlaneBuf {
  val TileSize = 256
  val PlanePx: Int = TileSize * TileSize

  def nPlanes(buf: Array[Byte]): Int = buf.length / PlanePx

  def toRaster(buf: Array[Byte]): (Raster, Array[Byte]) = {
    val planes = nPlanes(buf)
    val bands = planes - 1
    val out = Array.ofDim[Array[Int]](bands)
    var b = 0
    while (b < bands) {
      val arr = new Array[Int](PlanePx)
      var i = 0
      val off = b * PlanePx
      while (i < PlanePx) { arr(i) = buf(off + i) & 0xFF; i += 1 }
      out(b) = arr
      b += 1
    }
    val validity = java.util.Arrays.copyOfRange(buf, bands * PlanePx, planes * PlanePx)
    (Raster(TileSize, TileSize, out), validity)
  }

  def fromRaster(r: Raster, validity: Array[Byte]): Array[Byte] = {
    val buf = new Array[Byte]((r.nBands + 1) * PlanePx)
    var b = 0
    while (b < r.nBands) {
      val band = r.bands(b)
      val off = b * PlanePx
      var i = 0
      while (i < PlanePx) { buf(off + i) = band(i).toByte; i += 1 }
      b += 1
    }
    System.arraycopy(validity, 0, buf, r.nBands * PlanePx, PlanePx)
    buf
  }
}

/** warp_tile(bytes, fmt, meta9, tile, kernel) → planes buffer.
  * meta9 = [w, h, srid, gt0..gt5]. Warps the source image onto WebMercator
  * tile `tile` (packed z/x/y) at 256², marking out-of-source pixels invalid. */
case class WarpTile(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  require(children.length == 5, "warp_tile(bytes, fmt, meta9, tile, kernel)")
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] =
    Seq(BinaryType, StringType, ArrayType(DoubleType), LongType, StringType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "warp_tile"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.exists(_ == null)) return null
    val bytes = vals(0).asInstanceOf[Array[Byte]]
    val fmt = vals(1).toString
    val meta = vals(2).asInstanceOf[ArrayData].toDoubleArray()
    val tile = vals(3).asInstanceOf[Long]
    val kernel = vals(4).toString
    WarpKernels.warpToTile(bytes, fmt, meta, tile, kernel)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): WarpTile = copy(children = c)
}

/** downsample_to_parent(buf, tile) → planes buffer of the PARENT tile with
  * this child's 2×-downsampled content placed in its quadrant — the
  * overview/pyramid reduce step (z−1 tile from 4 z children,
  * apps/gdalalg_raster_tile.cpp:1487 semantics). Mosaic-agg the 4 results. */
case class DownsampleToParent(left: Expression, right: Expression)
    extends Expression with ExpectsInputTypes with CodegenFallback {
  override def children: Seq[Expression] = Seq(left, right)
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(BinaryType, LongType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "downsample_to_parent"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val b = left.eval(input)
    val t = right.eval(input)
    if (b == null || t == null) null
    else WarpKernels.downsampleToParent(b.asInstanceOf[Array[Byte]], t.asInstanceOf[Long])
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): DownsampleToParent =
    DownsampleToParent(c(0), c(1))
}

/** encode_png_planes(buf) → PNG bytes of the band planes (validity ignored;
  * invalid pixels are already 0 = the tile app's transparent analog). */
case class EncodePngPlanes(child: Expression)
    extends Expression with ExpectsInputTypes with CodegenFallback {
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "encode_png_planes"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val b = child.eval(input)
    if (b == null) null
    else {
      val (raster, _) = PlaneBuf.toRaster(b.asInstanceOf[Array[Byte]])
      ImageCodec.encodePng(raster)
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): EncodePngPlanes =
    EncodePngPlanes(c(0))
}

/** planes_checksums(buf) → array<int> GDAL checksum of every plane
  * (validity plane included last — drop it if unwanted). */
case class PlanesChecksums(child: Expression)
    extends Expression with ExpectsInputTypes with CodegenFallback {
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "planes_checksums"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val b = child.eval(input)
    if (b == null) null
    else {
      val buf = b.asInstanceOf[Array[Byte]]
      val n = PlaneBuf.nPlanes(buf)
      val out = new Array[Int](n)
      var p = 0
      while (p < n) {
        val plane = java.util.Arrays.copyOfRange(buf, p * PlaneBuf.PlanePx, (p + 1) * PlaneBuf.PlanePx)
        out(p) = GdalChecksum.ofBytes(plane, PlaneBuf.TileSize, PlaneBuf.TileSize)
        p += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): PlanesChecksums =
    PlanesChecksums(c(0))
}

/** image_profile(bytes, fmt, w, h) → struct<nbands:int, pmin:int, pmax:int,
  * mean:double, checksums:array<int>, phash:bigint> — ONE decode feeding
  * every per-image metric (stats + per-band GDAL checksums + perceptual
  * hash). The multimodal feature-extraction operator: fuse at the decode,
  * never decode a payload twice in one pass. */
case class ImageProfile(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  require(children.length == 4, "image_profile(bytes, fmt, w, h)")
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] =
    Seq(BinaryType, StringType, IntegerType, IntegerType)
  override def dataType: DataType = StructType(Seq(
    StructField("nbands", IntegerType, nullable = false),
    StructField("pmin", IntegerType, nullable = false),
    StructField("pmax", IntegerType, nullable = false),
    StructField("mean", DoubleType, nullable = false),
    StructField("stdev", DoubleType, nullable = false),
    StructField("checksums", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("phash", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "image_profile"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.exists(_ == null)) return null
    val r = ImageCodec.decode(vals(0).asInstanceOf[Array[Byte]], vals(1).toString,
      vals(2).asInstanceOf[Int], vals(3).asInstanceOf[Int])
    val b0 = r.bands(0)
    var mn = Int.MaxValue; var mx = Int.MinValue; var sum = 0L; var sum2 = 0L
    var i = 0
    while (i < b0.length) {
      val v = b0(i)
      if (v < mn) mn = v
      if (v > mx) mx = v
      sum += v
      sum2 += v.toLong * v
      i += 1
    }
    val nd = b0.length.toDouble
    val mean = sum.toDouble / nd
    // population stdev from exact int sums, fixed IEEE op order (the
    // ComputeStatistics stddev analog; oracle mirrors this sequence)
    val stdev = math.sqrt((sum2.toDouble / nd) - (mean * mean))
    val cks = r.bands.map(b => GdalChecksum.ofInts(b, r.w, r.h))
    org.apache.spark.sql.catalyst.InternalRow(
      r.nBands, mn, mx, mean, stdev,
      new GenericArrayData(cks), GeoKernels.phashOfRaster(r))
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ImageProfile =
    copy(children = c)
}

/** contour_lines(bytes, fmt, meta9, levels) → array<struct<level:double,
  * n_points:int, closed:boolean, wkb:binary>> — per-image marching-squares
  * iso-lines in geo coordinates (§2.8 contour). */
case class ContourLines(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  require(children.length == 4, "contour_lines(bytes, fmt, meta9, levels)")
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] =
    Seq(BinaryType, StringType, ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("level", DoubleType, nullable = false),
    StructField("n_points", IntegerType, nullable = false),
    StructField("closed", BooleanType, nullable = false),
    StructField("wkb", BinaryType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "contour_lines"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.exists(_ == null)) return null
    val meta = vals(2).asInstanceOf[ArrayData].toDoubleArray()
    val w = meta(0).toInt; val h = meta(1).toInt
    val gt = java.util.Arrays.copyOfRange(meta, 3, 9)
    val levels = vals(3).asInstanceOf[ArrayData].toDoubleArray()
    val r = ImageCodec.decode(vals(0).asInstanceOf[Array[Byte]], vals(1).toString, w, h)
    val lines = Contour.contours(r.bands(0), w, h, gt, levels.toSeq)
    new GenericArrayData(lines.map { l =>
      val bb = java.nio.ByteBuffer.allocate(9 + 8 * l.coords.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put(1: Byte).putInt(Wkb.LineStringType).putInt(l.nPoints)
      l.coords.foreach(bb.putDouble)
      org.apache.spark.sql.catalyst.InternalRow(l.level, l.nPoints, l.closed, bb.array())
    }.toArray[Any])
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ContourLines =
    copy(children = c)
}

/** contour_polygons(bytes, fmt, meta9, levels, emit_wkb) →
  * array<struct<iv:int, lvl_lo:double, lvl_hi:double, n_pieces:int,
  * area_q:bigint, wkb:binary>> — per-image iso-POLYGONS between
  * consecutive levels (§2.8 contour polygon mode, alg/contour.cpp:569
  * polygonize branch). One struct per interval including the open
  * under/over classes (lvl_lo/lvl_hi = ±inf at the ends); area_q is the
  * exact quantized region area in 2^-23 cell² units (Contour.bands).
  * Pass emit_wkb=false on wide scans: the multipolygon WKB of a 64²
  * image is ~MB-scale, while the numeric fields are what aggregation
  * pipelines consume. */
case class ContourPolygons(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  require(children.length == 5, "contour_polygons(bytes, fmt, meta9, levels, emit_wkb)")
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] =
    Seq(BinaryType, StringType, ArrayType(DoubleType), ArrayType(DoubleType), BooleanType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("iv", IntegerType, nullable = false),
    StructField("lvl_lo", DoubleType, nullable = false),
    StructField("lvl_hi", DoubleType, nullable = false),
    StructField("n_pieces", IntegerType, nullable = false),
    StructField("area_q", LongType, nullable = false),
    StructField("wkb", BinaryType, nullable = true))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "contour_polygons"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.exists(_ == null)) return null
    val meta = vals(2).asInstanceOf[ArrayData].toDoubleArray()
    val w = meta(0).toInt; val h = meta(1).toInt
    val gt = java.util.Arrays.copyOfRange(meta, 3, 9)
    val levels = vals(3).asInstanceOf[ArrayData].toDoubleArray()
    val emitWkb = vals(4).asInstanceOf[Boolean]
    val r = ImageCodec.decode(vals(0).asInstanceOf[Array[Byte]], vals(1).toString, w, h)
    val bands = Contour.bands(r.bands(0), w, h, gt, levels.toSeq, emitWkb)
    new GenericArrayData(bands.map { b =>
      org.apache.spark.sql.catalyst.InternalRow(
        b.iv, b.lvlLo, b.lvlHi, b.nPieces, b.areaQ, b.wkb)
    }.toArray[Any])
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ContourPolygons =
    copy(children = c)
}

/** contour_rings(bytes, fmt, meta9, levels, emit_wkb) →
  * array<struct<iv:int, lvl_lo:double, lvl_hi:double, n_shells:int,
  * n_holes:int, ring_area_q:bigint, wkb:binary>> — per-image MERGED
  * iso-polygon rings per interval (the reference's actual polygon layer:
  * alg/contour.cpp:569 + alg/marching_squares/polygon_ring_appender.h
  * ring merging — behavior only). Shells carry nested holes in the
  * multipolygon WKB; ring_area_q (signed shoelace sum, 2^-23 cell²)
  * equals the interval's triangle-sum area exactly (Contour.ringBands). */
case class ContourRings(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  require(children.length == 5, "contour_rings(bytes, fmt, meta9, levels, emit_wkb)")
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] =
    Seq(BinaryType, StringType, ArrayType(DoubleType), ArrayType(DoubleType), BooleanType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("iv", IntegerType, nullable = false),
    StructField("lvl_lo", DoubleType, nullable = false),
    StructField("lvl_hi", DoubleType, nullable = false),
    StructField("n_shells", IntegerType, nullable = false),
    StructField("n_holes", IntegerType, nullable = false),
    StructField("ring_area_q", LongType, nullable = false),
    StructField("wkb", BinaryType, nullable = true))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "contour_rings"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.exists(_ == null)) return null
    val meta = vals(2).asInstanceOf[ArrayData].toDoubleArray()
    val w = meta(0).toInt; val h = meta(1).toInt
    val gt = java.util.Arrays.copyOfRange(meta, 3, 9)
    val levels = vals(3).asInstanceOf[ArrayData].toDoubleArray()
    val emitWkb = vals(4).asInstanceOf[Boolean]
    val r = ImageCodec.decode(vals(0).asInstanceOf[Array[Byte]], vals(1).toString, w, h)
    val bands = Contour.ringBands(r.bands(0), w, h, gt, levels.toSeq, emitWkb)
    new GenericArrayData(bands.map { b =>
      org.apache.spark.sql.catalyst.InternalRow(
        b.iv, b.lvlLo, b.lvlHi, b.nShells, b.nHoles, b.ringAreaQ, b.wkb)
    }.toArray[Any])
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ContourRings =
    copy(children = c)
}

/** contour_ring_feats(bytes, fmt, meta9, levels, emit_wkb) →
  * array<struct<iv:int, lvl_lo:double, lvl_hi:double, n_holes:int,
  * feat_area_q:bigint, wkb:binary>> — the reference's per-FEATURE contour
  * polygon layout (alg/marching_squares/polygon_ring_appender.h emits one
  * feature per polygon): ONE entry per shell, its holes nested in the
  * entry's own polygon WKB. feat_area_q = shell shoelace + its holes'
  * (negative) shoelace; summed over an interval it equals contour_rings'
  * ring_area_q exactly. */
case class ContourRingFeats(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  require(children.length == 5, "contour_ring_feats(bytes, fmt, meta9, levels, emit_wkb)")
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] =
    Seq(BinaryType, StringType, ArrayType(DoubleType), ArrayType(DoubleType), BooleanType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("iv", IntegerType, nullable = false),
    StructField("lvl_lo", DoubleType, nullable = false),
    StructField("lvl_hi", DoubleType, nullable = false),
    StructField("n_holes", IntegerType, nullable = false),
    StructField("feat_area_q", LongType, nullable = false),
    StructField("wkb", BinaryType, nullable = true))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "contour_ring_feats"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.exists(_ == null)) return null
    val meta = vals(2).asInstanceOf[ArrayData].toDoubleArray()
    val w = meta(0).toInt; val h = meta(1).toInt
    val gt = java.util.Arrays.copyOfRange(meta, 3, 9)
    val levels = vals(3).asInstanceOf[ArrayData].toDoubleArray()
    val emitWkb = vals(4).asInstanceOf[Boolean]
    val r = ImageCodec.decode(vals(0).asInstanceOf[Array[Byte]], vals(1).toString, w, h)
    val feats = Contour.ringFeatures(r.bands(0), w, h, gt, levels.toSeq, emitWkb)
    new GenericArrayData(feats.map { f =>
      org.apache.spark.sql.catalyst.InternalRow(
        f.iv, f.lvlLo, f.lvlHi, f.nHoles, f.featAreaQ, f.wkb)
    }.toArray[Any])
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ContourRingFeats =
    copy(children = c)
}

/** sample_at(bytes, fmt, meta9, lon, lat) → int: band-0 value at a geo
  * point via inverse geotransform + nearest-neighbor kernel (the
  * GDALInterpolateAtPoint surface, alg/gdal_interpolateatpoint.cpp:415
  * semantics for 'near'); null when the point misses the raster. */
case class SampleAt(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  require(children.length == 5, "sample_at(bytes, fmt, meta9, lon, lat)")
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] =
    Seq(BinaryType, StringType, ArrayType(DoubleType), DoubleType, DoubleType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "sample_at"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.exists(_ == null)) return null
    val meta = vals(2).asInstanceOf[ArrayData].toDoubleArray()
    val w = meta(0).toInt; val h = meta(1).toInt
    val gt = java.util.Arrays.copyOfRange(meta, 3, 9)
    val inv = GeoTransform.invert(gt).getOrElse(return null)
    val lon = vals(3).asInstanceOf[Double]
    val lat = vals(4).asInstanceOf[Double]
    val px = math.floor(GeoTransform.applyX(inv, lon, lat)).toInt
    val py = math.floor(GeoTransform.applyY(inv, lon, lat)).toInt
    if (px < 0 || px >= w || py < 0 || py >= h) null
    else {
      val r = ImageCodec.decode(vals(0).asInstanceOf[Array[Byte]], vals(1).toString, w, h)
      r.bands(0)(py * w + px)
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SampleAt =
    copy(children = c)
}

/** focal_op(bytes, fmt, meta9, op) → struct<mean:double, checksum:int> of
  * the derived focal raster (op ∈ hillshade|slope|aspect|roughness|tpi|tri)
  * computed on band 0 with the image's own cell resolution — the §2.5
  * focal/DEM surface as a per-row expression (no halo: kernels stay
  * inside one image). Slope/aspect/tpi/tri checksums use the reference's
  * float→int conversion (GdalChecksum.ofDoubles). */
case class FocalOp(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  require(children.length == 4, "focal_op(bytes, fmt, meta9, op)")
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] =
    Seq(BinaryType, StringType, ArrayType(DoubleType), StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("mean", DoubleType, nullable = false),
    StructField("checksum", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "focal_op"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.exists(_ == null)) return null
    val meta = vals(2).asInstanceOf[ArrayData].toDoubleArray()
    val w = meta(0).toInt; val h = meta(1).toInt
    val ewRes = math.abs(meta(4)); val nsRes = math.abs(meta(8))
    val r = ImageCodec.decode(vals(0).asInstanceOf[Array[Byte]], vals(1).toString, w, h)
    val b0 = r.bands(0)
    vals(3).toString match {
      case "hillshade" =>
        val hs = Focal.hillshade(b0, w, h, ewRes, nsRes)
        var s = 0L; var i = 0
        while (i < hs.length) { s += hs(i); i += 1 }
        org.apache.spark.sql.catalyst.InternalRow(s.toDouble / hs.length, GdalChecksum.ofInts(hs, w, h))
      case "roughness" =>
        val rg = Focal.roughness(b0, w, h)
        var s = 0L; var i = 0
        while (i < rg.length) { s += rg(i); i += 1 }
        org.apache.spark.sql.catalyst.InternalRow(s.toDouble / rg.length, GdalChecksum.ofInts(rg, w, h))
      case op =>
        val d = op match {
          case "slope" => Focal.slope(b0, w, h, ewRes, nsRes)
          case "slope_percent" => Focal.slopePercent(b0, w, h, ewRes, nsRes)
          case "aspect" => Focal.aspect(b0, w, h, ewRes, nsRes)
          case "tpi" => Focal.tpi(b0, w, h)
          case "tri" => Focal.tri(b0, w, h)
          case "tri_riley" => Focal.triRiley(b0, w, h)
          case other => throw new IllegalArgumentException(s"unknown focal op $other")
        }
        org.apache.spark.sql.catalyst.InternalRow(d.sum / d.length, GdalChecksum.ofDoubles(d, w, h))
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): FocalOp =
    copy(children = c)
}

/** sample_at_alg(bytes, fmt, meta9, lon, lat, alg) → double: band-0 value
  * at a geo point via the named interpolation kernel (GDALInterpolateAtPoint,
  * alg/gdal_interpolateatpoint.cpp:415: near | bilinear | cubicspline —
  * unrounded double result); null when the point misses the raster. */
case class SampleAtAlg(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  require(children.length == 6, "sample_at_alg(bytes, fmt, meta9, lon, lat, alg)")
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] =
    Seq(BinaryType, StringType, ArrayType(DoubleType), DoubleType, DoubleType, StringType)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "sample_at_alg"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.exists(_ == null)) return null
    val meta = vals(2).asInstanceOf[ArrayData].toDoubleArray()
    val w = meta(0).toInt; val h = meta(1).toInt
    val gt = java.util.Arrays.copyOfRange(meta, 3, 9)
    val inv = GeoTransform.invert(gt).getOrElse(return null)
    val lon = vals(3).asInstanceOf[Double]
    val lat = vals(4).asInstanceOf[Double]
    val sx = GeoTransform.applyX(inv, lon, lat)
    val sy = GeoTransform.applyY(inv, lon, lat)
    if (sx < 0 || sx > w || sy < 0 || sy > h) return null
    val r = ImageCodec.decode(vals(0).asInstanceOf[Array[Byte]], vals(1).toString, w, h)
    vals(5).toString match {
      case "near" =>
        val px = math.min(w - 1, math.max(0, math.floor(sx).toInt))
        val py = math.min(h - 1, math.max(0, math.floor(sy).toInt))
        r.bands(0)(py * w + px).toDouble
      case "bilinear" => Warp.samplePointBilinear(r.bands(0), w, h, sx, sy)
      case "cubicspline" => Warp.samplePointCubicSpline(r.bands(0), w, h, sx, sy)
      case other => throw new IllegalArgumentException(s"unknown sampling alg $other")
    }
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SampleAtAlg =
    copy(children = c)
}

/** focal_multi(bytes, fmt, meta9, ops) → array<struct<op:string,
  * mean:double, checksum:int>> — EVERY requested focal/DEM derivative from
  * ONE decode (the fusion rule: never decode a payload twice in a pass;
  * same shape as image_profile). Ops as in focal_op. */
case class FocalMulti(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  require(children.length == 4, "focal_multi(bytes, fmt, meta9, ops)")
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] =
    Seq(BinaryType, StringType, ArrayType(DoubleType), ArrayType(StringType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("op", StringType, nullable = false),
    StructField("mean", DoubleType, nullable = false),
    StructField("checksum", IntegerType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "focal_multi"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.exists(_ == null)) return null
    val meta = vals(2).asInstanceOf[ArrayData].toDoubleArray()
    val w = meta(0).toInt; val h = meta(1).toInt
    val ewRes = math.abs(meta(4)); val nsRes = math.abs(meta(8))
    val r = ImageCodec.decode(vals(0).asInstanceOf[Array[Byte]], vals(1).toString, w, h)
    val b0 = r.bands(0)
    val ops = vals(3).asInstanceOf[ArrayData]
    val out = new Array[Any](ops.numElements())
    var k = 0
    while (k < ops.numElements()) {
      val op = ops.getUTF8String(k).toString
      val (mean, cks) = op match {
        case "hillshade" | "hillshade_combined" | "hillshade_multidirectional" |
             "hillshade_zt" | "roughness" =>
          val plane = op match {
            case "hillshade" => Focal.hillshade(b0, w, h, ewRes, nsRes)
            case "hillshade_combined" => Focal.hillshadeCombined(b0, w, h, ewRes, nsRes)
            case "hillshade_multidirectional" => Focal.hillshadeMultiDirectional(b0, w, h, ewRes, nsRes)
            case "hillshade_zt" => Focal.hillshadeZT(b0, w, h, ewRes, nsRes)
            case _ => Focal.roughness(b0, w, h)
          }
          var s = 0L; var i = 0
          while (i < plane.length) { s += plane(i); i += 1 }
          (s.toDouble / plane.length, GdalChecksum.ofInts(plane, w, h))
        case other =>
          val d = other match {
            case "slope" => Focal.slope(b0, w, h, ewRes, nsRes)
            case "slope_percent" => Focal.slopePercent(b0, w, h, ewRes, nsRes)
            case "aspect" => Focal.aspect(b0, w, h, ewRes, nsRes)
            case "slope_zt" => Focal.slopeZT(b0, w, h, ewRes, nsRes)
            case "aspect_zt" => Focal.aspectZT(b0, w, h)
            case "tpi" => Focal.tpi(b0, w, h)
            case "tri" => Focal.tri(b0, w, h)
            case "tri_riley" => Focal.triRiley(b0, w, h)
            case s if s.startsWith("focal_") =>
              Focal.neighborStat(b0, w, h, s.stripPrefix("focal_"))
            case bad => throw new IllegalArgumentException(s"unknown focal op $bad")
          }
          (d.sum / d.length, GdalChecksum.ofDoubles(d, w, h))
      }
      out(k) = org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(op), mean, cks)
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): FocalMulti =
    copy(children = c)
}

/** color_relief_multi(bytes, fmt, meta9, ramp, modes) →
  * array<struct<mode, checksum_r, checksum_g, checksum_b,
  * sum_r, sum_g, sum_b, sum_a>> — the gdaldem color-relief surface
  * (apps/gdaldem_lib.cpp:1639 GDALColorReliefGetRGBA) over band 0, every
  * requested selection mode (interpolate | nearest | exact) from ONE
  * decode (the focal_multi fusion discipline). `ramp` is the flattened
  * ascending (elev, r, g, b, a) table; checksums are GDAL checksums of the
  * derived channel planes, sums exact int64. */
case class ColorReliefMulti(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  require(children.length == 5, "color_relief_multi(bytes, fmt, meta9, ramp, modes)")
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] =
    Seq(BinaryType, StringType, ArrayType(DoubleType), ArrayType(DoubleType), ArrayType(StringType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("mode", StringType, nullable = false),
    StructField("checksum_r", IntegerType, nullable = false),
    StructField("checksum_g", IntegerType, nullable = false),
    StructField("checksum_b", IntegerType, nullable = false),
    StructField("sum_r", LongType, nullable = false),
    StructField("sum_g", LongType, nullable = false),
    StructField("sum_b", LongType, nullable = false),
    StructField("sum_a", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "color_relief_multi"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.exists(_ == null)) return null
    val meta = vals(2).asInstanceOf[ArrayData].toDoubleArray()
    val w = meta(0).toInt; val h = meta(1).toInt
    val ramp = vals(3).asInstanceOf[ArrayData].toDoubleArray()
    val r = ImageCodec.decode(vals(0).asInstanceOf[Array[Byte]], vals(1).toString, w, h)
    val b0 = r.bands(0)
    val modes = vals(4).asInstanceOf[ArrayData]
    val out = new Array[Any](modes.numElements())
    var k = 0
    while (k < modes.numElements()) {
      val modeStr = modes.getUTF8String(k).toString
      val mode = modeStr match {
        case "interpolate" => Focal.ReliefInterpolate
        case "nearest" => Focal.ReliefNearest
        case "exact" => Focal.ReliefExact
        case bad => throw new IllegalArgumentException(s"unknown color-relief mode $bad")
      }
      val (pr, pg, pb, pa) = Focal.colorRelief(b0, ramp, mode)
      @inline def sum(p: Array[Int]): Long = {
        var s = 0L; var i = 0
        while (i < p.length) { s += p(i); i += 1 }
        s
      }
      out(k) = org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(modeStr),
        GdalChecksum.ofInts(pr, w, h), GdalChecksum.ofInts(pg, w, h),
        GdalChecksum.ofInts(pb, w, h),
        sum(pr), sum(pg), sum(pb), sum(pa))
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ColorReliefMulti =
    copy(children = c)
}

/** zone_stats(bytes, fmt, meta9, zoneWkb) → array<double>
  * [count, min, max, sum] of band-0 pixels whose centers fall inside the
  * zone polygon (zonal statistics inner kernel, alg/zonal.cpp:274
  * semantics; fractional coverage weighting not implemented — counts use
  * the same center rule as rasterize). Partials combine per zone. */
case class ZoneStats(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  require(children.length == 4, "zone_stats(bytes, fmt, meta9, zone_wkb)")
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] =
    Seq(BinaryType, StringType, ArrayType(DoubleType), BinaryType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "zone_stats"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.exists(_ == null)) return null
    WarpKernels.zoneStats(
      vals(0).asInstanceOf[Array[Byte]], vals(1).toString,
      vals(2).asInstanceOf[ArrayData].toDoubleArray(), vals(3).asInstanceOf[Array[Byte]])
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): ZoneStats = copy(children = c)
}

/** rasterize_count(wkb, meta9) → int: burn the polygon into a fresh grid of
  * meta9's shape and count burned pixels (gdal_rasterize §2.8 kernel; count
  * is closed-form checkable for boxes). */
case class RasterizeCount(left: Expression, right: Expression)
    extends Expression with ExpectsInputTypes with CodegenFallback {
  override def children: Seq[Expression] = Seq(left, right)
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] = Seq(BinaryType, ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "rasterize_count"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val wkb = left.eval(input)
    val m = right.eval(input)
    if (wkb == null || m == null) return null
    val meta = m.asInstanceOf[ArrayData].toDoubleArray()
    val w = meta(0).toInt; val h = meta(1).toInt
    val gt = java.util.Arrays.copyOfRange(meta, 3, 9)
    val grid = Rasterize.rasterize(w, h, gt, Seq((wkb.asInstanceOf[Array[Byte]], 1)))
    var n = 0
    var i = 0
    while (i < grid.length) { if (grid(i) != 0) n += 1; i += 1 }
    n
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): RasterizeCount =
    RasterizeCount(c(0), c(1))
}

/** polygonize_regions(bytes, fmt, meta9, connect8, shift) → array<struct<
  * value:int, pixels:int, wkb:binary>> — per-image raster→vector regions
  * (§2.8); pixels are pre-quantized by `value >> shift` (shift=0 = raw). */
case class PolygonizeRegions(children: Seq[Expression]) extends Expression with ExpectsInputTypes with CodegenFallback {
  require(children.length == 5, "polygonize_regions(bytes, fmt, meta9, connect8, shift)")
  override def inputTypes: Seq[org.apache.spark.sql.types.DataType] =
    Seq(BinaryType, StringType, ArrayType(DoubleType), BooleanType, IntegerType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("value", IntegerType, nullable = false),
    StructField("pixels", IntegerType, nullable = false),
    StructField("wkb", BinaryType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "polygonize_regions"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.exists(_ == null)) return null
    WarpKernels.polygonizeRegions(
      vals(0).asInstanceOf[Array[Byte]], vals(1).toString,
      vals(2).asInstanceOf[ArrayData].toDoubleArray(), vals(3).asInstanceOf[Boolean],
      vals(4).asInstanceOf[Int])
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): PolygonizeRegions =
    copy(children = c)
}

/** The part of a tile one image's warp can reach: the inclusive pixel
  * window (px0, py0)–(px1, py1), empty when px1 < px0 or py1 < py0, and
  * `planes` — band planes then the 0/1 validity plane, each covering only
  * the window, row-major. A planes buffer restricted to its footprint:
  * what `Tiling.baseTiles` shuffles instead of a full tile buffer. */
final case class WarpWindow(px0: Int, py0: Int, px1: Int, py1: Int, planes: Array[Byte]) {
  def nPx: Int = if (px1 < px0 || py1 < py0) 0 else (px1 - px0 + 1) * (py1 - py0 + 1)
}

object WarpKernels {
  import PlaneBuf.{PlanePx, TileSize}

  // Per-thread scratch for the warp sampling target. Reused across calls:
  // without it each warp allocates ~2.4 MB of int arrays, and at 8+
  // executor threads the resulting multi-GB/s allocation rate stalls the
  // whole stage (measured: identical warps varying 1.3→130 ms).
  private val scratch = new ThreadLocal[Array[Array[Int]]] {
    override def initialValue(): Array[Array[Int]] = Array.ofDim[Int](3, PlanePx)
  }

  def warpToTile(bytes: Array[Byte], fmt: String, meta: Array[Double], tile: Long, kernel: String): Array[Byte] = {
    val w = meta(0).toInt; val h = meta(1).toInt
    val decoded = ImageCodec.decode(bytes, fmt, w, h)
    warpRasterToTile(decoded, meta, tile, kernel)
  }

  /** Warp an already-decoded raster — lets callers decode ONCE per image
    * and warp to every covering tile (the dominant cost split at scale).
    * The full-tile planes buffer: [[warpWindow]] pasted into zeros. */
  def warpRasterToTile(decoded: Raster, meta: Array[Double], tile: Long, kernel: String): Array[Byte] = {
    val buf = new Array[Byte](4 * PlanePx)
    MosaicAgg.blend(buf, warpWindow(decoded, meta, tile, kernel))
    buf
  }

  /** Warp a decoded raster onto one tile, keeping only the window of tile
    * pixels the source can reach (`Warp.warpInto`'s window; empty when the
    * source misses the tile): RGB + validity planes of that window. Every
    * tile pixel outside it is invalid. */
  def warpWindow(decoded: Raster, meta: Array[Double], tile: Long, kernel: String): WarpWindow = {
    val srid = meta(2).toInt
    val gt = java.util.Arrays.copyOfRange(meta, 3, 9)
    // tiles mosaic across images of mixed band counts → normalize to RGB
    // (the tile app's PNG output is band-expanded the same way); gray
    // shares one array 3× — warp only reads the source.
    val src = if (decoded.nBands == 3) decoded
      else Raster(decoded.w, decoded.h, Array(decoded.bands(0), decoded.bands(0), decoded.bands(0)))
    val z = TileMath.unpackZ(tile); val x = TileMath.unpackX(tile); val y = TileMath.unpackY(tile)
    val dstGt = TileMath.tileGeoTransform(z, x, y)
    val nodata = -1
    val out = scratch.get()
    val (px0, py0, px1, py1) = Warp.warpInto(src, gt, srid, dstGt, 3857,
      TileSize, TileSize, kernel, nodata, out)
    val winPx = (px1 - px0 + 1) * (py1 - py0 + 1) // 0 for the empty (0, 0, -1, -1)
    // zero-initialized: pixels with any nodata band stay 0 + invalid
    val planes = new Array[Byte](4 * winPx)
    var j = 0
    var py = py0
    while (py <= py1) {
      var px = px0
      while (px <= px1) {
        val i = py * TileSize + px
        val v0 = out(0)(i); val v1 = out(1)(i); val v2 = out(2)(i)
        if (v0 != nodata && v1 != nodata && v2 != nodata) {
          planes(j) = v0.toByte
          planes(winPx + j) = v1.toByte
          planes(2 * winPx + j) = v2.toByte
          planes(3 * winPx + j) = 1
        }
        px += 1
        j += 1
      }
      py += 1
    }
    WarpWindow(px0, py0, px1, py1, planes)
  }

  /** Binary cutline mask (gdalcutline.cpp:224 analog): zero out pixels —
    * bands AND validity — outside the rasterized cutline polygon (lon/lat
    * WKB reprojected to the tile's 3857 grid). */
  def applyCutline(buf: Array[Byte], tile: Long, cutWkb4326: Array[Byte]): Array[Byte] = {
    val z = TileMath.unpackZ(tile); val x = TileMath.unpackX(tile); val y = TileMath.unpackY(tile)
    val gt = TileMath.tileGeoTransform(z, x, y)
    val cut = GeomOps.transform(cutWkb4326, 4326, 3857)
    val mask = Rasterize.rasterize(TileSize, TileSize, gt, Seq((cut, 1)))
    val out = buf.clone()
    val planes = PlaneBuf.nPlanes(buf)
    var i = 0
    while (i < PlanePx) {
      if (mask(i) == 0) {
        var p = 0
        while (p < planes) { out(p * PlanePx + i) = 0; p += 1 }
      }
      i += 1
    }
    out
  }

  def downsampleToParent(buf: Array[Byte], tile: Long): Array[Byte] = {
    val z = TileMath.unpackZ(tile); val x = TileMath.unpackX(tile); val y = TileMath.unpackY(tile)
    val (r, validity) = PlaneBuf.toRaster(buf)
    val half = TileSize / 2
    val qx = (x & 1) * half
    val qy = (y & 1) * half
    val outBands = Array.fill(r.nBands)(new Array[Int](PlanePx))
    val outValid = new Array[Byte](PlanePx)
    var oy = 0
    while (oy < half) {
      var ox = 0
      while (ox < half) {
        // 2×2 box average of valid child pixels
        var b = 0
        var anyValid = false
        var validCount = 0
        var dy = 0
        while (dy < 2) {
          var dx = 0
          while (dx < 2) {
            if (validity((2 * oy + dy) * TileSize + 2 * ox + dx) != 0) { validCount += 1; anyValid = true }
            dx += 1
          }
          dy += 1
        }
        val outIdx = (qy + oy) * TileSize + (qx + ox)
        if (anyValid) {
          outValid(outIdx) = 1
          b = 0
          while (b < r.nBands) {
            var sum = 0
            var dy2 = 0
            while (dy2 < 2) {
              var dx2 = 0
              while (dx2 < 2) {
                val ci = (2 * oy + dy2) * TileSize + 2 * ox + dx2
                if (validity(ci) != 0) sum += r.bands(b)(ci)
                dx2 += 1
              }
              dy2 += 1
            }
            outBands(b)(outIdx) = math.floor(sum.toDouble / validCount + 0.5).toInt
            b += 1
          }
        }
        ox += 1
      }
      oy += 1
    }
    PlaneBuf.fromRaster(Raster(TileSize, TileSize, outBands), outValid)
  }

  def zoneStats(bytes: Array[Byte], fmt: String, meta: Array[Double], zoneWkb: Array[Byte]): ArrayData = {
    val w = meta(0).toInt; val h = meta(1).toInt
    val gt = java.util.Arrays.copyOfRange(meta, 3, 9)
    val src = ImageCodec.decode(bytes, fmt, w, h)
    // burn zone mask then fold band 0 under it (filter-refine: mask first)
    val mask = Rasterize.rasterize(w, h, gt, Seq((zoneWkb, 1)))
    var count = 0L; var mn = Double.MaxValue; var mx = -Double.MaxValue; var sum = 0.0
    val b0 = src.bands(0)
    var i = 0
    while (i < b0.length) {
      if (mask(i) != 0) {
        val v = b0(i).toDouble
        count += 1
        if (v < mn) mn = v
        if (v > mx) mx = v
        sum += v
      }
      i += 1
    }
    if (count == 0) new GenericArrayData(Array(0.0, 0.0, 0.0, 0.0))
    else new GenericArrayData(Array(count.toDouble, mn, mx, sum))
  }

  def polygonizeRegions(bytes: Array[Byte], fmt: String, meta: Array[Double], connect8: Boolean,
                        shift: Int): ArrayData = {
    val w = meta(0).toInt; val h = meta(1).toInt
    val gt = java.util.Arrays.copyOfRange(meta, 3, 9)
    val src = ImageCodec.decode(bytes, fmt, w, h)
    val band = if (shift == 0) src.bands(0) else src.bands(0).map(_ >> shift)
    val regions = Polygonize.polygonize(band, w, h, gt, connect8)
    val rows = regions.map { r =>
      org.apache.spark.sql.catalyst.InternalRow(r.value, r.pixelCount, r.wkb)
    }
    new GenericArrayData(rows.toArray[Any])
  }
}
