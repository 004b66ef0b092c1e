package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.sql.Cells
import graft.sql.Cells.{Hex, Quad}

/** The cell contract both cell-keyed join shapes rest on: every point of a
  * closed envelope has its cell in the envelope's cover, each cover cell
  * is listed once, and an inverted envelope covers nothing. Checked on the
  * very expressions the join plans evaluate. */
class CellsSpec extends AnyFunSuite {

  private def of(c: Cells, x: Double, y: Double): Long =
    c.of(Literal(x), Literal(y)).eval().asInstanceOf[Long]

  private def cover(c: Cells, minx: Double, miny: Double, maxx: Double, maxy: Double): Array[Long] =
    c.cover(Literal(new GenericArrayData(Array(minx, miny, maxx, maxy)), ArrayType(DoubleType)))
      .eval().asInstanceOf[ArrayData].toLongArray()

  private val systems: Seq[Cells] =
    (0 to 12).map(Quad(_)) ++ Seq(0.37, 1.0, 4.0, 9.5).map(Hex(_))

  /** Lines where cells meet, within [lo, hi]: quad grid lines, and for
    * hexes the y of every hex vertex row and x of every vertex column. */
  private def boundaries(c: Cells, lo: Double, hi: Double, lon: Boolean): Seq[Double] = {
    val lines = c match {
      case Quad(level) =>
        val n = 1 << level
        if (lon) (0 to n).map(k => -180.0 + k * 360.0 / n) else (0 to n).map(k => 90.0 - k * 180.0 / n)
      case Hex(size) =>
        val step = if (lon) math.sqrt(3.0) * size / 2.0 else size / 2.0
        (math.floor(lo / step).toInt to math.ceil(hi / step).toInt).map(_ * step)
    }
    lines.filter(v => v >= lo && v <= hi).take(12)
  }

  /** Seeded envelopes up to ~12 cells across, a third of them with edges
    * snapped onto cell boundaries, every tenth a degenerate point. */
  private def envelopes(c: Cells, rnd: scala.util.Random): Seq[(Double, Double, Double, Double)] =
    (0 until 60).map { i =>
      val span = 12 * (c match { case Quad(level) => 180.0 / (1 << level); case Hex(size) => size })
      val w = if (i % 10 == 0) 0.0 else rnd.nextDouble() * math.min(40.0, span)
      val h = if (i % 10 == 0) 0.0 else rnd.nextDouble() * math.min(30.0, span)
      val x = rnd.nextDouble() * (360 - w) - 180
      val y = rnd.nextDouble() * (180 - h) - 90
      if (i % 3 == 0) {
        val bx = boundaries(c, x, x + w + 20, lon = true).headOption.getOrElse(x)
        val by = boundaries(c, y, y + h + 20, lon = false).headOption.getOrElse(y)
        val sx = math.min(bx, 180.0 - w); val sy = math.min(by, 90.0 - h)
        (sx, sy, sx + w, sy + h)
      } else (x, y, x + w, y + h)
    }

  /** Points of the closed envelope: corners, edge midpoints, random
    * interior points, and where boundary lines cross the envelope. */
  private def pointsOf(c: Cells, e: (Double, Double, Double, Double),
                       rnd: scala.util.Random): Seq[(Double, Double)] = {
    val (minx, miny, maxx, maxy) = e
    val xs = Seq(minx, maxx, (minx + maxx) / 2) ++ boundaries(c, minx, maxx, lon = true)
    val ys = Seq(miny, maxy, (miny + maxy) / 2) ++ boundaries(c, miny, maxy, lon = false)
    val grid = for (x <- xs; y <- ys) yield (x, y)
    grid ++ Seq.fill(20)((minx + rnd.nextDouble() * (maxx - minx), miny + rnd.nextDouble() * (maxy - miny)))
  }

  test("every point of an envelope has its cell in the envelope's cover, listed once") {
    val rnd = new scala.util.Random(41)
    for (c <- systems; e <- envelopes(c, rnd)) {
      val cov = cover(c, e._1, e._2, e._3, e._4)
      assert(cov.nonEmpty && cov.distinct.length == cov.length, s"$c cover of $e")
      val covSet = cov.toSet
      for ((x, y) <- pointsOf(c, e, rnd))
        assert(covSet.contains(of(c, x, y)), s"$c: point ($x, $y) of $e is not in its cover")
    }
  }

  test("the canonical corner of two intersecting envelopes lies in both covers") {
    val rnd = new scala.util.Random(43)
    var pairs = 0
    for (c <- systems) {
      val es = envelopes(c, rnd)
      for ((a, e) <- es.zip(es.reverse)) {
        // b takes e's size and is placed to touch or overlap a: its min
        // corner moves off a's by dx ∈ [-width of b, width of a], ends included
        val (w, h) = (e._3 - e._1, e._4 - e._2)
        def shift(lo: Double, hi: Double) =
          Seq(lo, hi, 0.0, lo + rnd.nextDouble() * (hi - lo))(rnd.nextInt(4))
        val bx = a._1 + shift(-w, a._3 - a._1)
        val by = a._2 + shift(-h, a._4 - a._2)
        val b = (bx, by, bx + w, by + h)
        if (a._1 <= b._3 && b._1 <= a._3 && a._2 <= b._4 && b._2 <= a._4) {
          pairs += 1
          val corner = of(c, math.max(a._1, b._1), math.max(a._2, b._2))
          assert(cover(c, a._1, a._2, a._3, a._4).contains(corner), s"$c: corner not in cover of $a")
          assert(cover(c, b._1, b._2, b._3, b._4).contains(corner), s"$c: corner not in cover of $b")
        }
      }
    }
    assert(pairs > systems.size * 40, s"only $pairs intersecting pairs")
  }

  test("an inverted envelope covers nothing through SQL cells_at and hex_cover") {
    val spark = TestSpark.spark
    val row = spark.sql(
      """SELECT cells_at(array(10, 0, 0, 10), 7), cells_at(array(10, 10, 0, 0), 7),
        |       cells_at(array(0, 10, 10, 0), 7), hex_cover(array(10, 0, 9, 10), 4.0),
        |       cells_at(array(0, 0, 10, 10), 7)""".stripMargin).head()
    for (i <- 0 until 4) assert(row.getSeq[Long](i).isEmpty, s"column $i: ${row.getSeq[Long](i)}")
    assert(row.getSeq[Long](4).nonEmpty)
  }
}
