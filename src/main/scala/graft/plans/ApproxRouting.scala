package graft.plans

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, WindowExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE_EXPRESSION
import org.apache.spark.sql.types.{DataType, DoubleType}

/**
 * Routes exact aggregates to Spark's mergeable sketches under session
 * policy. Two keys, each unset by default (unset means exact):
 *  - `spark.graft.approx.percentileAccuracy = N` (a positive int):
 *    exact percentiles become Greenwald–Khanna `approx_percentile(x, p, N)`,
 *    whose returned value's rank lies within n/N of the target rank;
 *  - `spark.graft.approx.distinctRsd = r` (a double in (0, 0.37],
 *    HyperLogLog++'s valid range): single-argument `COUNT(DISTINCT x)`
 *    becomes `approx_count_distinct(x, r)`, relative standard error ~r.
 *
 * Why at 100 TB: the exact percentile buffers every group value on one
 * reducer, and exact COUNT(DISTINCT) plans an Expand plus a second
 * shuffle keyed on (group, value). Both sketches are fixed-size per
 * group and merge map-side like any partial aggregate.
 *
 * What routes: `PERCENTILE_CONT` and `PERCENTILE_DISC … WITHIN GROUP`,
 * and `percentile(x, p)` whose frequency folds to 1. A DESC ordered-set
 * aggregate routes as the mirrored percentage 1 − p when p folds to a
 * double. The sketch returns an OBSERVED value, so a routed
 * `PERCENTILE_CONT` no longer interpolates. What stays exact, because
 * the sketch cannot preserve it: any other reversed percentage,
 * DISTINCT percentiles, frequency-weighted `percentile(x, p, f)`,
 * multi-argument COUNT(DISTINCT a, b) and other DISTINCT aggregates.
 * FILTER clauses are kept (only the function is swapped), and a sketch
 * result is cast back to the exact form's type, so a routed plan has
 * the same schema.
 *
 * One rule, two hooks: `GraftExtensions` injects it into the optimizer
 * of sessions it builds, and `SqlLifecycle.query` applies it to the
 * door's analyzed plan, so raw sessions built without the extension
 * route door statements too. A malformed value, or a key this rule
 * replaced, fails the statement instead of silently running exact.
 */
case class ApproxRouting(spark: SparkSession) extends Rule[LogicalPlan] {
  import ApproxRouting._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    Retired.foreach { case (old, now) =>
      if (spark.conf.getOption(old).isDefined)
        throw new IllegalArgumentException(
          s"$old is no longer read: set $now instead (unset means exact)")
    }
    val acc = setting(PercentileAccuracyKey, "a positive integer")(v =>
      Try(v.toInt).toOption.filter(_ > 0))
    val rsd = setting(DistinctRsdKey, "a double in (0, 0.37]")(v =>
      Try(v.toDouble).toOption.filter(r => r > 0 && r <= 0.37))
    if (acc.isEmpty && rsd.isEmpty) plan
    else plan.transformAllExpressionsWithPruning(
        _.containsPattern(AGGREGATE_EXPRESSION)) {
      // a window function must stay directly under its WindowExpression,
      // so a type-restoring cast goes around the whole window expression
      case we @ WindowExpression(ae: AggregateExpression, _) =>
        route(ae, acc, rsd).fold[Expression](we)(r =>
          restoreType(we.copy(windowFunction = r), we.dataType))
      case ae: AggregateExpression =>
        route(ae, acc, rsd).fold[Expression](ae)(restoreType(_, ae.dataType))
    }
  }

  private def setting[T](key: String, range: String)(
      parse: String => Option[T]): Option[T] =
    spark.conf.getOption(key).map(v => parse(v).getOrElse(
      throw new IllegalArgumentException(s"$key=$v: expected $range")))

  private def restoreType(e: Expression, dt: DataType): Expression =
    if (e.dataType == dt) e
    else Cast(e, dt, Some(conf.sessionLocalTimeZone))
}

object ApproxRouting {
  val PercentileAccuracyKey = "spark.graft.approx.percentileAccuracy"
  val DistinctRsdKey = "spark.graft.approx.distinctRsd"

  /** Keys earlier releases read, each with the key that replaced it. */
  private val Retired = Seq(
    "spark.graft.quantiles.approx" -> PercentileAccuracyKey,
    "spark.graft.quantiles.accuracy" -> PercentileAccuracyKey,
    "spark.graft.sql.approxPercentile.accuracy" -> PercentileAccuracyKey,
    "spark.graft.sql.approxDistinct.rsd" -> DistinctRsdKey)

  /** The aggregate with its function swapped to the sketch, if it routes. */
  private def route(ae: AggregateExpression, acc: Option[Int],
      rsd: Option[Double]): Option[AggregateExpression] =
    ae.aggregateFunction match {
      // isDistinct must drop with the swap: HLL++ already has set
      // semantics, and a lingering true would plan the Expand it avoids
      case Count(Seq(child)) if ae.isDistinct =>
        rsd.map(r => ae.copy(aggregateFunction = HyperLogLogPlusPlus(child, r),
          isDistinct = false))
      case f if !ae.isDistinct =>
        acc.flatMap(percentileSketch(f, _))
          .map(s => ae.copy(aggregateFunction = s))
      case _ => None
    }

  private def percentileSketch(f: AggregateFunction,
      acc: Int): Option[ApproximatePercentile] = {
    val exact = f match {
      case p: PercentileCont => Some((p.left, p.right, p.reverse))
      case p: PercentileDisc => Some((p.left, p.right, p.reverse))
      case p: Percentile if p.frequencyExpression.foldable &&
          p.frequencyExpression.eval() == 1L =>
        Some((p.child, p.percentageExpression, p.reverse))
      case _ => None
    }
    exact.flatMap { case (child, pct, reverse) =>
      ascending(pct, reverse).map(new ApproximatePercentile(child, _,
        Literal(acc)))
    }
  }

  /** The ascending percentage: a DESC one mirrors to 1 − p. The parser
    * can deliver the literal wrapped in a cast, so fold rather than
    * match a raw Literal. */
  private def ascending(p: Expression, reverse: Boolean): Option[Expression] =
    if (!reverse) Some(p)
    else if (p.foldable && p.dataType == DoubleType)
      Option(p.eval()).map(d => Literal(1.0 - d.asInstanceOf[Double]))
    else None
}
