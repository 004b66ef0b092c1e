package graft.sql

import org.apache.spark.sql.catalyst.expressions.{GetArrayItem, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType
import graft.expr.{ImageBandCount, ImageStats}

/** Band-count pushdown: `image_stats(b, f, w, h)[0]` becomes
  * [[graft.expr.ImageBandCount]], which reads the band count from the image
  * header instead of decoding every pixel for min/max/mean/checksum. The
  * flagship pipeline's `stats[0] >= 1` validity filter is pushed into the
  * scan Filter ahead of the region probe, so without this rule every image
  * is fully decoded before the probe drops the ones that match no region
  * (the Raptor principle: test metadata first, touch pixels only for rows
  * that survive). Other uses of the stats array keep the full kernel.
  * Runs in the user-provided optimizer batch, after predicate pushdown has
  * inlined the `stats` alias into the Filter. */
object BandCountRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case GetArrayItem(ImageStats(b, f, w, h), Literal(0, IntegerType), _) => ImageBandCount(b, f, w, h)
  }
}
