package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DateType, DecimalType, StringType, TimestampType}
import org.apache.spark.sql.{functions => F}

/** Registry of MATERIALIZED-VIEW mappings for [[RollupRewriteRule]]:
  * `normalized events-parquet path → index dir` (the directory whose
  * `rollup_index/` a [[graft.ext.RollupIndex]] build committed).
  * Registration is process-wide (the rule fires on whichever session
  * optimizes a matching plan), explicit, and revocable — the
  * maintenance job that builds the rollup is what knows the mapping
  * is fresh enough to serve queries.
  */
object RollupRewrite {
  private val mappings = new ConcurrentHashMap[String, String]()

  private[plans] def normalize(p: String): String = p.stripPrefix("file:")

  def register(eventsPath: String, indexDir: String): Unit =
    mappings.put(normalize(eventsPath), indexDir)

  def unregister(eventsPath: String): Unit = mappings.remove(normalize(eventsPath))

  def clear(): Unit = mappings.clear()

  private[plans] def indexFor(path: String): Option[String] =
    Option(mappings.get(normalize(path)))

  private[plans] def isEmpty: Boolean = mappings.isEmpty
}

/** MATERIALIZED-VIEW AUTO-REWRITE — the fourth Catalyst extension tier
  * (after the codegen expressions, the TypedImperativeAggregates, and
  * [[LevenshteinThresholdRule]]'s predicate rewrite): an optimizer
  * `Rule[LogicalPlan]` that recognizes THE MAINTAINED ROLLUP'S QUERY
  * SHAPE and swaps the corpus scan for a merge of the
  * [[graft.ext.RollupIndex]] segment partials, so a dashboard
  * aggregate over a 100 TB event store reads kilobytes of partials
  * instead of the store — transparently, by the PLANNER, with the
  * query text unchanged. This is the query-rewrite half of the
  * Druid/Pinot segment architecture the index's Scaladoc describes
  * (the build/append half maintains the segments).
  *
  * Matched shape (the rollup's own grain, exactly):
  *
  *   events.groupBy(event_type, to_date(ts)).agg(count(*)?,
  *     sum(cast(value as decimal(18,4)))?)
  *
  * — an `Aggregate` whose child is the registered events parquet
  * relation (through attribute-only Projects), whose grouping is
  * `{event_type, cast(ts as date)}` (`to_date` is already the bare
  * Cast here: RuntimeReplaceables are resolved before optimizer
  * batches run), and whose aggregates are any subset of
  * `count(<foldable>)` / `sum(cast(value as decimal(18,4)))`, neither
  * DISTINCT nor FILTERed. Anything else — another column, a HAVING on
  * a non-grouped attr, the index-building aggregate itself (its HLL
  * sketch column fails the match) — is left untouched.
  *
  * The rewrite: `count(*) → coalesce(sum(n), 0)` and
  * `sum(value) → cast(sum(sum_value) as decimal(28,4))` over the
  * UNION of live segments, one row-group-sized Aggregate replacing a
  * corpus scan (partials for the same (type, day) cell may live in
  * many segments — the merge sums them; exactness is
  * RollupIndexSpec's append==one-shot contract). Every replacement
  * output is re-aliased to the ORIGINAL attribute's exprId/name, so
  * parent operators (sorts, filters on the agg result, further
  * projections) resolve unchanged. Types match the original exactly:
  * `sum(decimal(18,4))`'s decimal(28,4) via the explicit cast (the
  * segment partials carry decimal(28,4); their sum widens to (38,4)
  * and narrows back — lossless whenever the original query itself
  * would not have overflowed), `count`'s non-nullable long via the
  * coalesce. A rewritten plan cannot re-fire: its relation is the
  * index parquet, which no mapping registers.
  *
  * Failure posture: any structural surprise (missing index, schema
  * drift, unreadable segment log) makes the rule RETURN THE ORIGINAL
  * PLAN — a stale registry can never break a query, it only loses the
  * speedup.
  */
object RollupRewriteRule extends Rule[LogicalPlan] {

  import graft.io.SegmentLog

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (RollupRewrite.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate =>
        try rewrite(agg).getOrElse(agg)
        catch { case scala.util.control.NonFatal(_) => agg }
    }

  /** What the candidate Aggregate sits on: the registered-events
    * relation's path and output, plus the exprIds of any
    * `cast(ts as date)` aliases an intermediate Project computed —
    * the optimizer's PullOutGroupingExpressions hoists the grouping
    * cast into exactly such a Project (`_groupingexpression#N`), so
    * the Aggregate's grouping is an AttributeReference to it.
    */
  private case class Base(path: String, relOut: AttributeSet,
      dayAliases: Set[ExprId])

  /** The relation's event timestamp, in either shape
    * [[graft.Tables]] produces: the bare TIMESTAMP column, or the
    * NTZ-file normalization `from_utc_timestamp(cast(ts as
    * timestamp), <sessionTz>)` (the testdata parquet carries
    * TIMESTAMP_NTZ). The index partials are built through the same
    * Tables path, so both shapes denote the index's day grain.
    */
  private def isNormalizedTs(e: Expression, b: Base): Boolean = e match {
    case a: AttributeReference => a.name == "ts" && b.relOut.contains(a)
    case FromUTCTimestamp(inner, Literal(_, StringType)) => inner match {
      case c: Cast if c.dataType == TimestampType =>
        c.child match {
          case a: AttributeReference => a.name == "ts" && b.relOut.contains(a)
          case _ => false
        }
      case _ => false
    }
    case _ => false
  }

  /** Walk Projects down to the relation. Every Project entry must be a
    * bare attribute or an alias of `cast(<relation ts> as date)` —
    * anything computed (a shadowing `value AS value`, an arithmetic
    * column) disqualifies the subtree, because the name-anchored
    * aggregate match below would silently change semantics. A Filter
    * anywhere disqualifies too (the rollup has no predicate grain).
    */
  private def findBase(plan: LogicalPlan): Option[Base] = plan match {
    case Project(pl, child) =>
      findBase(child).flatMap { b =>
        val dayIds = Set.newBuilder[ExprId]
        val ok = pl.forall {
          case _: AttributeReference => true
          case al @ Alias(c: Cast, _)
              if c.dataType == DateType && isNormalizedTs(c.child, b) =>
            dayIds += al.exprId; true
          case _ => false
        }
        if (ok) Some(b.copy(dayAliases = b.dayAliases ++ dayIds.result()))
        else None
      }
    case lr: LogicalRelation =>
      lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.headOption.map(p =>
            Base(RollupRewrite.normalize(p.toString), lr.outputSet, Set.empty))
        case _ => None
      }
    case _ => None
  }

  private def isDayCast(e: Expression, b: Base): Boolean = e match {
    case c: Cast => c.dataType == DateType && isNormalizedTs(c.child, b)
    case a: AttributeReference => b.dayAliases.contains(a.exprId)
    case _ => false
  }

  private def isEventType(e: Expression, b: Base): Boolean = e match {
    case a: AttributeReference => a.name == "event_type" && b.relOut.contains(a)
    case _ => false
  }

  private def isValueDecimalCast(e: Expression, b: Base): Boolean = e match {
    case c: Cast =>
      c.dataType == DecimalType(18, 4) && (c.child match {
        case a: AttributeReference => a.name == "value" && b.relOut.contains(a)
        case _ => false
      })
    case _ => false
  }

  private sealed trait Target
  private case object EtTarget extends Target
  private case object DayTarget extends Target
  private case object CountTarget extends Target
  private case object SumTarget extends Target

  /** Classify one output expression of the candidate Aggregate, or None
    * if it is not part of the rollup's surface.
    */
  private def classify(e: Expression, b: Base): Option[Target] = e match {
    case Alias(child, _) => classify(child, b)
    case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        case c: Count if c.children.forall(_.foldable) => Some(CountTarget)
        case s: Sum if isValueDecimalCast(s.child, b) => Some(SumTarget)
        case _ => None
      }
    case e if isDayCast(e, b) => Some(DayTarget)
    case e if isEventType(e, b) => Some(EtTarget)
    case _ => None
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    val base = findBase(agg.child).getOrElse(return None)
    val idxDir = RollupRewrite.indexFor(base.path).getOrElse(return None)
    // grouping must be exactly {event_type, cast(ts as date)}
    val g = agg.groupingExpressions
    if (g.size != 2 || !g.exists(isEventType(_, base)) ||
      !g.exists(isDayCast(_, base))) return None
    val targets: Seq[Target] = agg.aggregateExpressions.map { ne =>
      classify(ne, base).getOrElse(return None)
    }
    // the maintained index, if one is committed
    val root = graft.ext.RollupIndex.root(idxDir)
    val st = SegmentLog.read(root).getOrElse(return None)
    val spark = SparkSession.active
    val repl = spark.read.parquet(st.segmentPaths(root): _*)
      .groupBy(F.col("event_type"), F.col("day"))
      .agg(
        F.coalesce(F.sum(F.col("n")), F.lit(0L)).as("__graft_n"),
        F.sum(F.col("sum_value")).cast(DecimalType(28, 4)).as("__graft_sv"))
    val replPlan = repl.queryExecution.analyzed
    // .get: a missing column means segment-schema drift — the NonFatal
    // guard in apply() turns that into "leave the plan alone"
    def replAttr(name: String): Attribute =
      replPlan.output.find(_.name == name).get
    val bound: Map[Target, Attribute] = Map(
      EtTarget -> replAttr("event_type"), DayTarget -> replAttr("day"),
      CountTarget -> replAttr("__graft_n"), SumTarget -> replAttr("__graft_sv"))
    val outs: Seq[NamedExpression] =
      agg.aggregateExpressions.zip(targets).map { case (orig, t) =>
        Alias(bound(t), orig.name)(exprId = orig.exprId,
          qualifier = orig.qualifier)
      }
    Some(Project(outs, replPlan))
  }
}
