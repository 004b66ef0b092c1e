package graft.sql

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import graft.expr.{CellOf, CellsAt, HexCover, HexOf}

/** The cell system a cell-keyed spatial join keys on.
  *
  * Contract: for every point (x, y) of a closed envelope `env`, `of(x, y)`
  * is an element of `cover(env)`, and `cover(env)` lists each cell once.
  * An inverted envelope contains no point and covers nothing. The one-sided
  * PIP join needs the first part (a contained point meets its polygon on
  * its own cell), the canonical-cell rule of the two-sided join needs both
  * (an intersecting pair meets on exactly one cell). `CellsSpec` checks it.
  */
sealed trait Cells {
  /** The cell of point (x, y): a long-valued expression. */
  def of(x: Expression, y: Expression): Expression
  /** The cells of envelope `env` (array<double>[minx, miny, maxx, maxy]):
    * an array<long>-valued expression. */
  def cover(env: Expression): Expression
}

object Cells {
  /** Quadkey cells at `level` (core.CellIndex): hierarchical, 2:1 in degrees. */
  final case class Quad(level: Int) extends Cells {
    def of(x: Expression, y: Expression): Expression = CellOf(x, y, Literal(level))
    def cover(env: Expression): Expression = CellsAt(env, Literal(level))
  }

  /** Axial hexes of circumradius `size` degrees (core.Hex): ~30% fewer
    * cover cells per area than quadkeys, but no parent/child relation. */
  final case class Hex(size: Double) extends Cells {
    def of(x: Expression, y: Expression): Expression = HexOf(x, y, Literal(size))
    def cover(env: Expression): Expression = HexCover(env, Literal(size))
  }
}
