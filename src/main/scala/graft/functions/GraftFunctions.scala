package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL-surface registration for the graft expressions, so the engine's
  * custom functions are first-class in `spark.sql(...)` queries:
  *
  * {{{
  *   graft.functions.GraftFunctions.register(spark)
  *   spark.sql("SELECT graft_dot(a, b) FROM pairs")
  * }}}
  *
  * or session-wide via the Catalyst extension point (no code changes at
  * call sites):
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * }}}
  */
object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) if v.isValidInt => v.toInt
    case _ => throw new IllegalArgumentException(s"$what must be a literal 32-bit integer")
  }

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _)  => v.toLong
    case Literal(v: Long, _) => v
    case _ => throw new IllegalArgumentException(s"$what must be a literal integer")
  }

  /** (name, builder) for every graft SQL function. */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (args => DotProductD(args(0), args(1))),
    "graft_simhash" -> (args => SimHash64(args(0))),
    "graft_rolling_hash" -> (args => RollingHash64(args(0))),
    "graft_minhash" -> (args => MinHashSignature(args(0),
      intLit(args(1), "k"),
      if (args.length > 2) longLit(args(2), "seed") else 42L)),
    "graft_sign_lsh" -> (args => SignLsh(args(0),
      intLit(args(1), "bits"),
      if (args.length > 2) longLit(args(2), "seed") else 7L)),
    "graft_nearest_centroid" -> (args => NearestCentroidL2(args(0), args(1))),
    "graft_nfc" -> (args => NfcNormalize(args(0))),
    "graft_deletion_neighborhood" -> (args => DeletionNeighborhood(args(0),
      intLit(args(1), "maxDist"))),
    // aggregates: the sketches are usable directly in SQL GROUP BYs
    // (distinct counts: Spark's built-in theta_* functions)
    "graft_cms" -> (args => CountMinAgg(args(0),
      intLit(args(1), "depth"), intLit(args(2), "width"))
      .toAggregateExpression()),
    "graft_topk_sketch" -> (args => TopKFreqSketch(args(0), Literal(1L),
      intLit(args(1), "m")).toAggregateExpression()),
    "graft_topk_weighted" -> (args => TopKFreqSketch(args(0), args(1),
      intLit(args(2), "m")).toAggregateExpression()),
    // the sketch consumes longs; cast like the Column entry point does
    "graft_kll_quantiles" -> (args => KllQuantiles(
      org.apache.spark.sql.catalyst.expressions.Cast(args(0),
        org.apache.spark.sql.types.LongType),
      intLit(args(1), "k"),
      if (args.length > 2) doubleArrayLit(args(2), "ps")
      else Seq(0.25, 0.5, 0.75)).toAggregateExpression()),
    "graft_bloom_agg" -> (args => BloomFilterAgg(args(0),
      if (args.length > 1) intLit(args(1), "numBits") else 1 << 17,
      if (args.length > 2) intLit(args(2), "numHashes") else 5)
      .toAggregateExpression()),
  )

  private def doubleArrayLit(e: Expression, what: String): Seq[Double] = e match {
    // SQL numeric literals arrive cast-wrapped (0.5 → cast(0.5 as
    // decimal)); anything foldable is fine — evaluate it
    case org.apache.spark.sql.catalyst.expressions.CreateArray(items, _)
        if items.forall(_.foldable) =>
      items.map(i => i.eval() match {
        case d: Double => d
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case n: java.lang.Number => n.doubleValue
        case other => throw new IllegalArgumentException(
          s"$what must be an array of numeric literals, got $other")
      })
    case _ => throw new IllegalArgumentException(
      s"$what must be an array(...) of numeric literals")
  }

  /** Register all functions on an existing session (temp functions). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

/** `spark.sql.extensions` entry point injecting the graft functions
  * into every session built with this extension class.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
    // the grouped-top-k physical operator, available session-wide
    // (TopKPerKey.perKey also self-registers for ad-hoc sessions)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.TopKLimitPushdown)
  }
}
