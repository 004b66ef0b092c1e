package graft.expr

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** Per-tile mosaic accumulator over planes buffers (SURVEY.md §2.10: the
  * reference's hand-rolled swq_summary accumulators → a typed Aggregator).
  *
  * Blend rule: per-pixel, valid beats invalid; among valid contributions
  * the maximum band value wins. Unlike the reference GTI mosaic's
  * index-order "first wins" (frmts/gti/gdaltileindexdataset.cpp), this rule
  * is commutative + associative, so partial aggregation and shuffle order
  * can't change the result — a requirement the single-threaded reference
  * never had. Deviation documented; goldens are computed under this rule.
  */
object MosaicAgg extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
  override def zero: Array[Byte] = Array.emptyByteArray

  override def reduce(buf: Array[Byte], input: Array[Byte]): Array[Byte] = merge(buf, input)

  override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    if (a.isEmpty) return if (b.isEmpty) a else b.clone()
    if (b.isEmpty) return a
    require(a.length == b.length, s"plane buffer mismatch ${a.length} vs ${b.length}")
    blend(a, WarpWindow(0, 0, PlaneBuf.TileSize - 1, PlaneBuf.TileSize - 1, b))
    a
  }

  /** The blend rule above, written once: blends a window's planes into
    * the full-tile planes buffer `dst` in place. Pixels outside the window are
    * untouched, so blending every window of a tile into a zero buffer
    * equals merging their full-tile renderings. */
  def blend(dst: Array[Byte], win: WarpWindow): Unit = {
    val winW = win.px1 - win.px0 + 1
    val winPx = win.nPx
    if (winPx == 0) return
    val src = win.planes
    val planePx = PlaneBuf.PlanePx
    val bands = src.length / winPx - 1
    require((bands + 1) * winPx == src.length && (bands + 1) * planePx == dst.length,
      s"plane buffer mismatch ${dst.length} vs ${src.length} over a $winPx-pixel window")
    val vOff = bands * planePx
    val wvOff = bands * winPx
    var y = win.py0
    var j = 0
    while (y <= win.py1) {
      var i = y * PlaneBuf.TileSize + win.px0
      val rowEnd = i + winW
      while (i < rowEnd) {
        if (src(wvOff + j) != 0) {
          if (dst(vOff + i) == 0) {
            var bb = 0
            while (bb < bands) { dst(bb * planePx + i) = src(bb * winPx + j); bb += 1 }
            dst(vOff + i) = 1
          } else {
            var bb = 0
            while (bb < bands) {
              val v = src(bb * winPx + j)
              if ((v & 0xFF) > (dst(bb * planePx + i) & 0xFF)) dst(bb * planePx + i) = v
              bb += 1
            }
          }
        }
        i += 1
        j += 1
      }
      y += 1
    }
  }

  override def finish(reduction: Array[Byte]): Array[Byte] = reduction
  override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}
