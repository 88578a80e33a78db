package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.ThetaSketchEstimate
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, ThetaSketchAgg}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate

/** Scoped Catalyst rewrite: `COUNT(DISTINCT x)` → Spark's theta sketch
  * (`theta_sketch_estimate(theta_sketch_agg(x, lgNomEntries))`).
  *
  * Why: exact distinct aggregation is the classic 100 TB chokepoint —
  * Spark plans it as a two-phase expand/shuffle whose intermediate is
  * one row per (group, value). The theta sketch replaces that with a
  * mergeable bounded buffer per group flowing through ordinary
  * partial/final aggregation: one shuffle of fixed-size state, EXACT
  * below 2^lgNomEntries distinct values, ~1/√k relative error above.
  *
  * [[rewrite]] transforms one DataFrame without touching session state
  * (a session flag flipped inside one query closure would leak into
  * every later query of the same session); SQL users write the
  * `theta_*` built-ins directly.
  *
  * Only single-child, unfiltered COUNT(DISTINCT) over a type the theta
  * sketch accepts rewrites; grouping sets / multi-column distinct /
  * FILTER clauses / other input types keep exact semantics.
  */
object SketchDistinctRewrite {
  def rewrite(df: DataFrame, lgNomEntries: Int = 12): DataFrame =
    GraftColumnBridge.ofRows(df.sparkSession,
      df.queryExecution.analyzed.transform {
        case agg: Aggregate =>
          agg.transformExpressions {
            case e @ AggregateExpression(Count(Seq(c)), _, true, None, _) =>
              val sketch = new ThetaSketchAgg(c, lgNomEntries)
              if (sketch.checkInputDataTypes().isFailure) e
              else ThetaSketchEstimate(sketch.toAggregateExpression())
          }
      })
}
