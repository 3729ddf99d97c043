package graft.plans

import graft.core.Tables
import graft.etl.Artifacts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Materialized-view rewrite as a Catalyst optimizer rule — the lakehouse
  * feature that makes a 100 TB event log queryable at interactive cost:
  * the daily (day, event_type) aggregate is materialized ONCE as an
  * artifact, and an injected `Rule[LogicalPlan]` (via
  * `spark.experimental.extraOptimizations`, the public counterpart of
  * `SparkSessionExtensions.injectOptimizerRule`) rewrites any matching
  * aggregate over the RAW events relation into an aggregate over the MV —
  * count(1) merges as sum(n), the micro-unit sum merges as sum(sum_micro),
  * and grouping expressions derived from (day, event_type) — including
  * roll-ups like "by event_type only" — substitute through. The user
  * writes the raw query; the optimizer serves it from the MV.
  *
  * Matching strategy: optimized plans hide the grouping computation
  * behind Project layers (column pruning; PullOutGroupingExpressions
  * extracts complex groupings into child aliases), so the matcher first
  * INLINES every Project between the Aggregate and its leaf — after
  * inlining, expressions reference raw relation attributes and the child
  * must be the bare events LogicalRelation (any Filter or join in
  * between aborts: different semantics). The day/sum subtrees to match
  * are not hard-coded: a PROBE of the canonical daily aggregate runs
  * through the live optimizer (rule suppressed via a reentrancy guard)
  * and its inlined grouping/sum-argument subtrees are what candidates
  * are `semanticEquals`-compared against, after rebasing attributes by
  * name — so whatever shape this Spark version gives `to_date(ts)` or
  * the decimal arithmetic, the matcher compares against that shape. A
  * rewrite happens only when EVERY aggregate call and raw-column
  * reference substitutes away; any residue aborts. Output exprIds are
  * preserved so operators above the aggregate are untouched, and the
  * whole rule is exception-hardened: an optimizer extension must never
  * fail a query it declines to serve.
  *
  * Correctness is certified end-to-end by the registry: the oracle
  * recomputes the entry from RAW events in DuckDB, so a stale or wrong
  * MV fails the hash. PlanSpec pins that the rewritten plan scans ONLY
  * the MV artifact, that an event_type roll-up rewrites AND equals the
  * raw recompute, and that a filtered query does not rewrite.
  */
object MvRewrite {

  val MvName = "events_daily_mv"

  /** Reentrancy guard: probe/artifact plans are themselves optimized by
    * the session that carries this rule; while we build them the rule is
    * a no-op. Driver-side single-threaded planning makes this safe. */
  @volatile private var building = false

  private case class Pattern(dayExpr: Expression, sumArgExpr: Expression,
                             probeSum: Sum)

  private val patterns = new java.util.concurrent.ConcurrentHashMap[String, Pattern]()
  private val mvPlans = new java.util.concurrent.ConcurrentHashMap[String, LogicalPlan]()

  /** The canonical daily-grain aggregate over raw events — the MV's
    * defining query (and the probe the matcher learns shapes from). */
  def dailyAggRaw(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(18,6)") * 1000000).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("sum_micro"))

  /** Ensure the MV artifact exists and the rule is installed. */
  def install(spark: SparkSession, sfDir: String): Unit = synchronized {
    building = true
    try Artifacts.ensureParquet(spark, sfDir, MvName)(dailyAggRaw(spark, sfDir))
    finally building = false
    val existing = spark.experimental.extraOptimizations
    if (!existing.exists(_.isInstanceOf[MvRewriteRule]))
      spark.experimental.extraOptimizations = existing :+ new MvRewriteRule(spark)
  }

  /** Run `body` with the rule suppressed (raw plans, for specs). */
  def suppressed[T](body: => T): T = {
    building = true
    try body finally building = false
  }

  /** Registry entry: the user-facing RAW daily aggregate — the optimizer
    * swaps the events scan for the MV; the DuckDB oracle recomputes from
    * raw events, so the hash certifies rewrite + MV correctness. */
  def mvRewriteDaily(spark: SparkSession, sfDir: String): DataFrame = {
    install(spark, sfDir)
    dailyAggRaw(spark, sfDir)
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("event_type"),
        col("n"), col("sum_micro").cast("long").as("sum_micro"))
      .orderBy("day", "event_type")
  }

  /** Inline every stacked Project below `agg` into its expressions; the
    * result references leaf-relation attributes directly. Returns the
    * inlined groupings/outputs and the first non-Project child. */
  private def inlined(agg: Aggregate): (Seq[Expression], Seq[NamedExpression], LogicalPlan) = {
    var child: LogicalPlan = agg.child
    var groups: Seq[Expression] = agg.groupingExpressions
    var outs: Seq[Expression] = agg.aggregateExpressions
    while (child.isInstanceOf[Project]) {
      val p = child.asInstanceOf[Project]
      val amap: Map[Attribute, Expression] =
        p.projectList.collect { case a: Alias => (a.toAttribute: Attribute) -> a.child }.toMap
      def inl(e: Expression): Expression =
        e.transformUp { case a: Attribute if amap.contains(a) => amap(a) }
      groups = groups.map(inl)
      outs = outs.map(inl)
      child = p.child
    }
    (groups, outs.map {
      case n: NamedExpression => n
      case other => Alias(other, "_inlined")()
    }, child)
  }

  private def eventsSfDir(leaf: LogicalPlan): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    leaf match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.headOption
            .filter(_.getName == "events.parquet")
            .map(_.getParent.toUri.getPath)
        case _ => None
      }
      case _ => None
    }
  }

  private def pattern(spark: SparkSession, sfDir: String): Option[Pattern] =
    Option(patterns.computeIfAbsent(sfDir, _ => {
      building = true
      try {
        val probe = dailyAggRaw(spark, sfDir).queryExecution.optimizedPlan
          .collectFirst { case a: Aggregate => a }
        probe.map { agg =>
          val (groups, outs, _) = inlined(agg)
          val day = groups.find(!_.isInstanceOf[Attribute])
          val sumF = outs.flatMap(_.collect {
            case ae: AggregateExpression => ae.aggregateFunction
          }).collectFirst { case s: Sum => s }
          (day, sumF) match {
            case (Some(d), Some(s)) => Pattern(d, s.child, s)
            case _ => null
          }
        }.orNull
      } finally building = false
    }))

  final class MvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      if (building) return plan
      plan.transformUp {
        case agg: Aggregate =>
          try tryRewrite(agg).getOrElse(agg)
          catch { case NonFatal(_) => agg } // never fail a declined query
      }
    }

    private def tryRewrite(agg: Aggregate): Option[Aggregate] = {
      val (groups, outs, leaf) = inlined(agg)
      val sfDir = eventsSfDir(leaf).getOrElse(return None)
      val mvPath = Artifacts.path(sfDir, MvName)
      if (!Artifacts.exists(mvPath)) return None
      val pat = pattern(spark, sfDir).getOrElse(return None)

      // Rebase the probe's learned subtrees onto the candidate's leaf
      // attributes (same relation ⇒ names and types line up).
      val byName = leaf.output.map(a => a.name -> a).toMap
      def rebase(e: Expression): Option[Expression] = {
        var ok = true
        val r = e.transformUp { case a: AttributeReference =>
          byName.get(a.name) match {
            case Some(c) if c.dataType == a.dataType => c
            case _ => ok = false; a
          }
        }
        if (ok) Some(r) else None
      }
      val expDay = rebase(pat.dayExpr).getOrElse(return None)
      val expSumArg = rebase(pat.sumArgExpr).getOrElse(return None)
      val typeAttr = byName.get("event_type")

      // MV scan plan: analyzed once per sfDir, then re-instanced with
      // FRESH exprIds per rewrite site (a cached plan reused verbatim
      // would collide if the MV lands twice in one query tree).
      val mvPlan = mvPlans.computeIfAbsent(sfDir, _ => {
        building = true
        try graft.core.FileMeta.parquet(spark, mvPath).queryExecution.analyzed
        finally building = false
      }) match {
        case m: org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation =>
          m.newInstance().asInstanceOf[LogicalPlan]
        case other => other
      }
      val mv = mvPlan.output.map(a => a.name -> a).toMap
      val (aDay, aType, aN, aSum) = (mv("day"), mv("event_type"), mv("n"), mv("sum_micro"))

      // Substitute through one expression; None = residue left ⇒ abort.
      def subst(e: Expression): Option[Expression] = {
        val out = e.transformUp {
          case ae: AggregateExpression => ae.aggregateFunction match {
            case Count(Seq(l)) if l.foldable =>
              ae.copy(aggregateFunction = pat.probeSum.copy(child = aN))
            case s: Sum if s.child.semanticEquals(expSumArg) =>
              ae.copy(aggregateFunction = s.copy(child = aSum))
            case _ => ae
          }
          case x if x.semanticEquals(expDay) => aDay
          case a: AttributeReference if typeAttr.exists(_.semanticEquals(a)) => aType
        }
        val residue = out.collectFirst {
          case a: AttributeReference if leaf.outputSet.contains(a) => a
        }
        if (residue.isEmpty) Some(out) else None
      }

      val newGroups = groups.map(g => subst(g).getOrElse(return None))
      val newAggs: Seq[NamedExpression] = outs.map { ne =>
        subst(ne).getOrElse(return None) match {
          case a: Alias => a
          case n: NamedExpression if n.isInstanceOf[Attribute] =>
            Alias(n, ne.name)(exprId = ne.exprId)
          case other: NamedExpression => other
          case other => Alias(other, ne.name)(exprId = ne.exprId)
        }
      }
      // count(1) is non-nullable while sum(n) is nullable — the MV is the
      // aggregate's own materialization, so every group exists; schema
      // nullability relaxation is the standard price of merge-rollup.
      Some(Aggregate(newGroups, newAggs, mvPlan))
    }
  }
}
