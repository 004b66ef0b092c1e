package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import graft.core.{ImageCodec, Pip}
import graft.expr.{GeoKernels, MosaicAgg, WarpKernels}
import graft.gen.Fixtures.ImageRow
import org.apache.spark.sql.catalyst.util.GenericArrayData

/** Single-thread ns/op of the fused kernels, timed on the driver over a
  * seeded sample of the workload's own inputs. */
object Kernels {
  private var sink = 0L // keeps results observable so the JIT cannot drop them

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** `cycle` performs `ops` operations. Warm up, then time cycles for at
    * least `budgetNs` and at least five times; median ns per operation. */
  def nsPerOp(ops: Int, budgetNs: Long = 300000000L)(cycle: => Long): Double = {
    val warmEnd = System.nanoTime() + budgetNs / 3
    while (System.nanoTime() < warmEnd) sink += cycle
    val samples = ArrayBuffer.empty[Double]
    val end = System.nanoTime() + budgetNs
    while (samples.length < 5 || System.nanoTime() < end) {
      val t0 = System.nanoTime()
      sink += cycle
      samples += (System.nanoTime() - t0).toDouble / ops
    }
    median(samples.toSeq)
  }

  def meta9(r: ImageRow): Array[Double] = Array(r.w.toDouble, r.h.toDouble, r.srid.toDouble) ++ r.gt

  def envelope(r: ImageRow): Array[Double] =
    GeoKernels.footprint(new GenericArrayData(r.gt), r.w, r.h, r.srid).toDoubleArray()

  def tiles(env: Array[Double], z: Int): Array[Long] =
    GeoKernels.tileCover(new GenericArrayData(env), z, z).toLongArray()

  /** core.decode_ns, expr.warp_ns and expr.merge_ns over `sample` at zoom z. */
  def raster(sample: Seq[ImageRow], z: Int): Map[String, Double] = {
    val decodeNs = nsPerOp(sample.length) {
      sample.foldLeft(0L)((acc, r) => acc + ImageCodec.decode(r.bytes, r.fmt, r.w, r.h).w)
    }
    val decoded = sample.map(r => ImageCodec.decode(r.bytes, r.fmt, r.w, r.h))
    val warpOps = sample.zip(decoded).flatMap { case (r, d) =>
      tiles(envelope(r), z).map(t => (d, meta9(r), t))
    }
    val warpNs = nsPerOp(warpOps.length) {
      warpOps.foldLeft(0L) { case (acc, (d, m, t)) =>
        acc + WarpKernels.warpRasterToTile(d, m, t, "near").length }
    }
    // merge writes into its first argument: each cycle merges into fresh copies
    val warped = warpOps.take(33).map { case (d, m, t) => WarpKernels.warpRasterToTile(d, m, t, "near") }
    val pairs = warped.zip(warped.tail)
    val mergeNs = nsPerOp(pairs.length) {
      val fresh = pairs.map { case (a, b) => (a.clone(), b) }
      fresh.foldLeft(0L) { case (acc, (a, b)) => acc + MosaicAgg.merge(a, b).length }
    }
    // the cycle above also clones; time the clones alone and take them out
    val cloneNs = nsPerOp(pairs.length) {
      pairs.foldLeft(0L) { case (acc, (a, _)) => acc + a.clone().length }
    }
    Map("core.decode_ns" -> decodeNs, "expr.warp_ns" -> warpNs,
      "expr.merge_ns" -> math.max(0.0, mergeNs - cloneNs))
  }

  /** core.pip_ns over (point, candidate polygon) pairs. */
  def pip(pairs: Seq[(Array[Byte], Double, Double)]): Double =
    nsPerOp(pairs.length) {
      pairs.foldLeft(0L) { case (acc, (wkb, x, y)) => acc + (if (Pip.contains(wkb, x, y)) 1 else 0) }
    }
}
