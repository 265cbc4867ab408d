package graft.plans

import graft.store.Hta
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.SparkSessionExtensions

/** Transparent rollup routing as a Catalyst optimizer rule (SURVEY §4
  * "materialized-view selection"; the reference does this imperatively in
  * retrieve_flex, src/metric.cpp:388-409).
  *
  * Rewrites
  *   Aggregate(metric; SUM(value) / COUNT(value|*) …,
  *             Filter(time >= B AND time < E, rawScan))
  * into the same aggregate over the pre-aggregated level table
  *   (SUM(value) → SUM(sum), COUNT → SUM(count))
  * when [B, E) is aligned to a ladder interval and E is at or below that
  * level's closed WATERMARK (min over metrics of last closed end — the MV
  * freshness snapshot taken at registration). The rewritten scan reads
  * factor^k× fewer rows from one `interval=` partition.
  *
  * min/max are deliberately NOT routed: HTA level minima/maxima include the
  * boundary partial of the following point (A3, tests/retrieve.cpp:152 —
  * bucket [20s,30s) has maximum −30 from the point at 42s), so they answer
  * the HTA display semantics, not the relational MIN/MAX over raw points.
  * SUM-of-home-values and COUNT are exactly the relational semantics.
  *
  * Activation: `RollupRouting.install(spark, hta)` (dynamic, via
  * experimental.extraOptimizations) or `spark.sql.extensions=
  * graft.plans.GraftExtensions` + `register` for a config-driven session.
  */
object RollupRouting {

  final case class Route(rawPaths: Set[String], levelsPlan: LogicalPlan,
                         ladder: Seq[Long], watermarks: Map[Long, Long],
                         minMaxRoutable: Boolean)

  @volatile private[plans] var routes: Seq[Route] = Nil

  /** Watermark per level = min over metrics of its closed end, from the
    * store catalog (no Spark job on an opened store).
    *
    * An interval is routable ONLY if every raw metric has closed rows there:
    * a metric whose points all sit in one open bucket has raw rows but no
    * level rows, and the rewritten Aggregate over the level table would
    * silently drop its group while the raw plan returns it. */
  private[graft] def watermarks(hta: Hta): Map[Long, Long] = {
    val rawMetrics = hta.extents.keySet
    hta.levelExtents.toSeq.groupBy(_._1._1).collect {
      case (i, ends) if rawMetrics.subsetOf(ends.map(_._1._2).toSet) =>
        i -> ends.map(_._2.closedEnd).min
    }
  }

  /** Snapshot the warehouse's routing info ([[watermarks]]) and activate the
    * rule on this session. */
  def install(spark: SparkSession, hta: Hta): Unit = {
    val wm = watermarks(hta)
    val rawPaths = hta.raw.queryExecution.analyzed.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        fs.location.rootPaths.map(_.toString)
    }.flatten.toSet
    val levelsPlan = hta.levels.queryExecution.analyzed
    // MIN/MAX route only through stores whose level files ALL carry the
    // home-only columns: a store mixing legacy rows (null home columns,
    // e.g. .hta-converted files) with new rows must not route, or the
    // rewritten Min/Max silently skips the legacy rows. Gate on the
    // absence of nulls, not the presence of non-nulls.
    val minMaxOk = levelsPlan.output.exists(_.name == "minimum_home") &&
      hta.levels.where(col("minimum_home").isNull).limit(1).count() == 0
    // a re-install (after an append or compact) replaces the store's route:
    // the old one holds stale watermarks and a stale levels file listing
    routes = routes.filterNot(_.rawPaths == rawPaths) :+
      Route(rawPaths, levelsPlan, hta.meta.levelIntervals, wm, minMaxOk)
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[RollupRoutingRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ new RollupRoutingRule
  }

  private[plans] def routeFor(paths: Seq[String]): Option[Route] =
    routes.find(r => paths.exists(r.rawPaths.contains))
}

class RollupRoutingRule extends Rule[LogicalPlan] {
  import RollupRouting._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // column pruning inserts an attribute-only Project between the filter
    // and the aggregate — transparent for routing purposes
    case agg @ Aggregate(groups, aggExprs,
        Project(proj, Filter(cond, rel: LogicalRelation)), _)
        if proj.forall(_.isInstanceOf[AttributeReference]) && routable(rel).isDefined =>
      tryRewrite(agg, groups, aggExprs, cond, rel).getOrElse(agg)
    case agg @ Aggregate(groups, aggExprs, Filter(cond, rel: LogicalRelation), _)
        if routable(rel).isDefined =>
      tryRewrite(agg, groups, aggExprs, cond, rel).getOrElse(agg)
  }

  private def routable(rel: LogicalRelation): Option[Route] = rel.relation match {
    case fs: HadoopFsRelation =>
      routeFor(fs.location.rootPaths.map(_.toString))
    case _ => None
  }

  private def tryRewrite(agg: Aggregate, groups: Seq[Expression],
                         aggExprs: Seq[NamedExpression], cond: Expression,
                         rel: LogicalRelation): Option[LogicalPlan] = {
    val route = routable(rel).get
    def attr(name: String): Option[AttributeReference] =
      rel.output.collectFirst { case a: AttributeReference if a.name == name => a }
    val timeAttr = attr("time").getOrElse(return None)
    val valueAttr = attr("value").getOrElse(return None)
    val metricAttr = attr("metric").getOrElse(return None)

    // the filter must be exactly a [B, E) range on time (+ null guards)
    val conjuncts = splitConjuncts(cond)
    var b: Option[Long] = None; var e: Option[Long] = None
    val residual = conjuncts.filterNot {
      case GreaterThanOrEqual(t: AttributeReference, Literal(v: Long, _))
          if t.semanticEquals(timeAttr) => b = Some(v); true
      case LessThan(t: AttributeReference, Literal(v: Long, _))
          if t.semanticEquals(timeAttr) => e = Some(v); true
      case IsNotNull(t: AttributeReference) if t.semanticEquals(timeAttr) => true
      case _ => false
    }
    if (residual.nonEmpty || b.isEmpty || e.isEmpty) return None

    // grouping must be exactly by metric, or empty (global aggregate)
    val global = groups.isEmpty
    if (!global && !(groups.length == 1 && groups.head.semanticEquals(metricAttr)))
      return None

    // coarsest aligned level whose watermark covers E
    val lvl = route.ladder.reverse.find { i =>
      b.get % i == 0 && e.get % i == 0 &&
        route.watermarks.get(i).exists(_ >= e.get)
    }.getOrElse(return None)

    def lvlAttr(name: String): AttributeReference =
      route.levelsPlan.output.collectFirst {
        case a: AttributeReference if a.name == name => a
      }.get

    // In the grouped form a having-filter on SUM(count) > 0 removes groups
    // made only of count=0 carrier buckets. A GLOBAL aggregate must instead
    // keep its single row and null out value-derived aggregates when the
    // range holds no points (raw returns one row of nulls + count 0, while
    // the level table would contribute sum=0 / ±Inf home identities) —
    // guard each rewrite on SUM(count) > 0 inline.
    def sumCnt: Expression =
      Coalesce(Seq(
        AggregateExpression(Sum(lvlAttr("count")), Complete, isDistinct = false),
        Literal(0L)))
    def nullWhenEmpty(e: Expression): Expression =
      if (!global) e
      else If(GreaterThan(sumCnt, Literal(0L)), e, Literal.create(null, e.dataType))

    // rewrite each aggregate; bail if any is not routable. MIN/MAX go to the
    // home-only columns (HTA level min/max carry A3 boundary partials and
    // answer display semantics, not relational MIN/MAX) — only for stores
    // whose files carry them (route.minMaxRoutable). AVG decomposes to
    // SUM(sum)/SUM(count) over the level table.
    val rewritten = aggExprs.map {
      case a @ Alias(AggregateExpression(Sum(v, em), mode, false, None, id), name)
          if v.semanticEquals(valueAttr) =>
        Some(Alias(nullWhenEmpty(
          AggregateExpression(Sum(lvlAttr("sum"), em), mode, false, None, id)),
          name)(a.exprId, a.qualifier, a.explicitMetadata))
      case a @ Alias(AggregateExpression(Count(args), mode, false, None, id), name)
          if args.forall(x => x.semanticEquals(valueAttr) || x.foldable) =>
        val c = AggregateExpression(Sum(lvlAttr("count")), mode, false, None, id)
        Some(Alias(if (global) Coalesce(Seq(c, Literal(0L))) else c,
          name)(a.exprId, a.qualifier, a.explicitMetadata))
      case a @ Alias(AggregateExpression(Average(v, _), mode, false, None, _), name)
          if v.semanticEquals(valueAttr) =>
        val s = AggregateExpression(Sum(lvlAttr("sum")), mode, isDistinct = false)
        val c = AggregateExpression(Sum(lvlAttr("count")), mode, isDistinct = false)
        Some(Alias(nullWhenEmpty(
          new Divide(s, Cast(c, org.apache.spark.sql.types.DoubleType))),
          name)(a.exprId, a.qualifier, a.explicitMetadata))
      case a @ Alias(AggregateExpression(Min(v), mode, false, None, id), name)
          if route.minMaxRoutable && v.semanticEquals(valueAttr) =>
        Some(Alias(nullWhenEmpty(
          AggregateExpression(Min(lvlAttr("minimum_home")), mode, false, None, id)),
          name)(a.exprId, a.qualifier, a.explicitMetadata))
      case a @ Alias(AggregateExpression(Max(v), mode, false, None, id), name)
          if route.minMaxRoutable && v.semanticEquals(valueAttr) =>
        Some(Alias(nullWhenEmpty(
          AggregateExpression(Max(lvlAttr("maximum_home")), mode, false, None, id)),
          name)(a.exprId, a.qualifier, a.explicitMetadata))
      case g: AttributeReference if g.semanticEquals(metricAttr) =>
        Some(Alias(lvlAttr("metric"), g.name)(g.exprId, g.qualifier))
      case a @ Alias(g: AttributeReference, name) if g.semanticEquals(metricAttr) =>
        Some(Alias(lvlAttr("metric"), name)(a.exprId, a.qualifier, a.explicitMetadata))
      case _ => None
    }
    if (rewritten.exists(_.isEmpty)) return None

    val lt = lvlAttr("time"); val li = lvlAttr("interval")
    val newFilter = Filter(
      And(And(EqualTo(li, Literal(lvl)), GreaterThanOrEqual(lt, Literal(b.get))),
        LessThan(lt, Literal(e.get))),
      route.levelsPlan)
    if (global)
      return Some(Aggregate(Nil, rewritten.map(_.get), newFilter, None))
    // SQL group semantics: a raw-side group exists iff >= 1 point in range,
    // but the level table has rows for count=0 gap-spanning buckets (and
    // their home min/max are the ±Inf identities). Append a hidden
    // SUM(count) and filter groups to > 0, then project it away.
    val cnt = Alias(
      AggregateExpression(Sum(lvlAttr("count")), Complete, isDistinct = false),
      "_routed_cnt")()
    val agg2 = Aggregate(Seq(lvlAttr("metric")), rewritten.map(_.get) :+ cnt,
      newFilter, None)
    val having = Filter(GreaterThan(cnt.toAttribute, Literal(0L)), agg2)
    Some(Project(rewritten.map(_.get.toAttribute), having))
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }
}

/** Config-driven entry point: `spark.sql.extensions=graft.plans.GraftExtensions`.
  * Warehouses still need [[RollupRouting.install]] to publish their routes.
  * Also registers the engine's native expressions (`graft_dot`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => new RollupRoutingRule)
    ext.injectFunction(graft.functions.DotProductLong.descriptor)
    ext.injectFunction(graft.functions.BloomMightContain.descriptor)
    ext.injectFunction(graft.functions.IvfArgminL2.descriptor)
  }
}
