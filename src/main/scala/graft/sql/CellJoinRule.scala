package graft.sql

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.LongType
import graft.expr.{CellOf, CellsAt, HexCover, HexOf, StContainsPoint, StIntersects, StIntersectsEnv, WkbEnvelope}
import graft.sql.Cells.Quad

/** Cell-keyed filter-refine spatial joins (SURVEY.md §4 / §7.5 sql
  * module). [[rewrite]] is the one place such a join plan is built: this
  * optimizer rule calls it for brute-force spatial-predicate joins, and
  * `graft.ops.SpatialJoin.join` calls it for DataFrame joins. A coarse
  * cell key proposes candidate pairs and the join's own spatial predicate
  * refines them — the two-phase contract of OGRLayer::FilterGeometry
  * (ogrlayer.cpp:4004-4072). Two shapes:
  *
  * 1. `st_contains_point(wkb, lon, lat)` — point in polygon. Only the
  *    polygon side explodes:
  *
  *    points side  += __pip_cell = of(lon, lat)
  *    polygon side += Generate(explode(cover(st_env(wkb))))
  *    join condition := (__pip_cell = __poly_cell) AND original
  *
  *    A point meets each polygon on its own cell only, so multiplicity is
  *    unchanged. Inner joins, and LeftSemi/LeftAnti joins whose preserved
  *    left side is the point side; any other layout would explode the
  *    preserved side (repeating or wrongly keeping its rows) and is left
  *    unrewritten.
  *
  * 2. `st_intersects(a_wkb, b_wkb)` or `st_intersects_env(wkb, env)` —
  *    geometry pairs, inner joins only. BOTH sides explode the cover of
  *    their envelope (`st_env(wkb)`, or the env argument itself) and join
  *    on the cell. A pair whose envelopes share k cells would surface k
  *    times, so a CANONICAL-CELL conjunct keeps it only on the cell of the
  *    envelope intersection's min corner (max(minxₐ,minx_b),
  *    max(minyₐ,miny_b)): a point in both envelopes whenever they
  *    intersect, hence in both covers. Exactly-once output with no
  *    dropDuplicates (and no shuffle for it) in the plan.
  *
  * Both shapes need the predicate's arguments to split cleanly across the
  * join sides, no cell expression already in the condition, and no usable
  * equi-key (Catalyst would hash-join on it anyway). Without the rewrite
  * Catalyst can only plan these joins as BroadcastNestedLoopJoin /
  * CartesianProduct — O(|A|·|B|) comparisons. The output schema is
  * restored by a trailing Project. Idempotent: a rewritten join carries a
  * cell equi-key and no longer matches.
  */
object CellJoinRule extends Rule[LogicalPlan] {

  // geometry pairs explode both sides, so they key one level coarser
  // than PIP to bound the explode factor
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j: Join => rewrite(j, Quad(7), Quad(6)).getOrElse(j)
  }

  /** The cell-keyed plan of `j` — PIP joins keyed on `pipCells`, geometry
    * pairs on `pairCells` — or None when `j` has neither shape. */
  def rewrite(j: Join, pipCells: Cells, pairCells: Cells): Option[LogicalPlan] = {
    val conjuncts = j.condition.toSeq.flatMap(splitConjuncts)
    if (conjuncts.exists(keyed(j, _))) None
    else conjuncts.collectFirst(Function.unlift(pip(j, _, pipCells)))
      .orElse(conjuncts.collectFirst(Function.unlift(pair(j, _, pairCells))))
  }

  private def pip(j: Join, pred: Expression, cells: Cells): Option[LogicalPlan] = pred match {
    case StContainsPoint(wkb, x, y) => sidesSplit(j, wkb, Seq(x, y)).filter { case (_, points) =>
      j.joinType match {
        case Inner | Cross => true
        case LeftSemi | LeftAnti => points eq j.left
        case _ => false
      }
    }.map { case (polys, points) =>
      val key = Alias(cells.of(x, y), "__pip_cell")()
      val (polyCells, polyCell) = explode(polys, cells.cover(WkbEnvelope(wkb)), "__poly_cell")
      cellJoin(j, points eq j.left, Project(points.output :+ key, points), polyCells,
        EqualTo(key.toAttribute, polyCell))
    }
    case _ => None
  }

  private def pair(j: Join, pred: Expression, cells: Cells): Option[LogicalPlan] = {
    val envs = pred match {
      case StIntersects(a, b) => Some((a, b, WkbEnvelope(a), WkbEnvelope(b)))
      case StIntersectsEnv(wkb, env) => Some((wkb, env, WkbEnvelope(wkb), env))
      case _ => None
    }
    envs.filter(_ => j.joinType == Inner || j.joinType == Cross).flatMap { case (a, b, envA, envB) =>
      sidesSplit(j, a, Seq(b)).map { case (aSide, bSide) =>
        val (aCells, aCell) = explode(aSide, cells.cover(envA), "__cell_a")
        val (bCells, bCell) = explode(bSide, cells.cover(envB), "__cell_b")
        val corner = cells.of(
          Greatest(Seq(GetArrayItem(envA, Literal(0)), GetArrayItem(envB, Literal(0)))),
          Greatest(Seq(GetArrayItem(envA, Literal(1)), GetArrayItem(envB, Literal(1)))))
        cellJoin(j, aSide eq j.left, aCells, bCells,
          And(EqualTo(aCell, bCell), EqualTo(aCell, corner)))
      }
    }
  }

  private def explode(side: LogicalPlan, cover: Expression, name: String): (LogicalPlan, Attribute) = {
    val cell = AttributeReference(name, LongType, nullable = false)()
    (Generate(Explode(cover), unrequiredChildIndex = Nil, outer = false, qualifier = None,
      generatorOutput = Seq(cell), child = side), cell)
  }

  /** `j` over its two keyed sides on `key AND` the original condition. */
  private def cellJoin(j: Join, firstIsLeft: Boolean, first: LogicalPlan, second: LogicalPlan,
                       key: Expression): LogicalPlan = {
    val (l, r) = if (firstIsLeft) (first, second) else (second, first)
    val joinType = if (j.joinType == Cross) Inner else j.joinType
    Project(j.output, Join(l, r, joinType, Some(And(key, j.condition.get)), j.hint))
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  /** Returns (sideOfWkb, sideOfOtherArgs) when the predicate arguments
    * split cleanly across the two join children. */
  private def sidesSplit(j: Join, wkb: Expression,
                         otherArgs: Seq[Expression]): Option[(LogicalPlan, LogicalPlan)] = {
    val wRefs = wkb.references
    val pRefs = AttributeSet(otherArgs.flatMap(_.references))
    if (wRefs.isEmpty || pRefs.isEmpty) None
    else if (wRefs.subsetOf(j.left.outputSet) && pRefs.subsetOf(j.right.outputSet))
      Some((j.left, j.right))
    else if (wRefs.subsetOf(j.right.outputSet) && pRefs.subsetOf(j.left.outputSet))
      Some((j.right, j.left))
    else None
  }

  /** A conjunct that already keys the join: an explicit cell expression
    * (idempotence, and explicit cell joins are respected) or an equi-key
    * across the sides. */
  private def keyed(j: Join, c: Expression): Boolean =
    c.exists { case _: CellOf | _: CellsAt | _: HexOf | _: HexCover => true; case _ => false } ||
      (c match {
        case EqualTo(a, b) => sidesSplit(j, a, Seq(b)).isDefined
        case _ => false
      })
}
