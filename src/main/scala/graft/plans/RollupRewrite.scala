package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import graft.sources.Readers

/** Materialized-rollup rewrite: a Catalyst optimizer `Rule[LogicalPlan]`
  * that answers covered aggregates from a pre-computed rollup table
  * instead of the base fact scan — Spark's missing materialized-view
  * rewrite, scoped to the additive case that actually matters at scale.
  * A `GROUP BY dims` over a 100 TB fact re-aggregates a KB-sized cube:
  * the scan drops by the fact/cube ratio and the shuffle disappears into
  * a broadcast-scale exchange.
  *
  * Coverage contract (anything else is left untouched):
  *   - the aggregate sits directly on the registered base parquet scan,
  *     with only column-pruning Projects and dim-only Filters between;
  *   - grouping keys are a subset of the cube's dims;
  *   - every aggregate function is `sum(<registered measure column>)`
  *     or `count(*)` / `count(<non-null literal>)`, non-DISTINCT and
  *     unfiltered. Both re-aggregate losslessly from per-group partials
  *     (sum-of-sums, sum-of-counts); only integral measures should be
  *     registered so the regroup is bit-exact (double sums re-associate).
  *
  * The rewrite preserves output names AND `ExprId`s (every rebuilt
  * result column is re-aliased under its original id), so parent
  * operators' attribute references stay valid.
  *
  * Wire-up is runtime-injectable — no session restart:
  * `RollupRewrite.materializeAndRegister(...)` builds the cube parquet,
  * registers the entry, and appends the rule to
  * `spark.experimental.extraOptimizations` once.
  */
object RollupRewrite extends Rule[LogicalPlan] {

  /** A registered rollup: base scan path, its dims (in cube order),
    * measure-column -> cube-sum-column pairs, the cube's count column,
    * its parquet path, and its analyzed read plan. */
  final case class Entry(
      basePath: String,
      dims: Seq[String],
      sumCols: Seq[(String, String)],
      countCol: String,
      cubePath: String,
      cube: LogicalPlan)

  private val entries = new ConcurrentHashMap[String, Entry]()

  def register(name: String, entry: Entry): Unit = entries.put(name, entry)
  def clear(): Unit = entries.clear()

  /** Remove one registered rollup. After this, aggregates over its base
    * path plan against the base scan again (correct, just uncubed). The
    * rule object itself stays in extraOptimizations — with no entries
    * it matches nothing — so register/deregister cycles are cheap and
    * never mutate the session's rule list concurrently. */
  def deregister(name: String): Unit = entries.remove(name)

  /** Build the cube (one shuffle on the dims, partial+final agg), write
    * it as parquet, and register it for rewriting. Idempotent per name;
    * appends this rule to the session's extraOptimizations exactly once. */
  def materializeAndRegister(spark: SparkSession, name: String,
                             base: DataFrame, basePath: String,
                             dims: Seq[String], measures: Seq[String],
                             cubePath: String): Unit = {
    val aggs = measures.map(m => sum(col(m)).as(s"sum_$m")) :+
      count(lit(1)).as("n_rows")
    base.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(cubePath)
    val cube = Readers.parquet(spark, cubePath).queryExecution.analyzed
    register(name, Entry(normalize(basePath), dims,
      measures.map(m => m -> s"sum_$m"), "n_rows", cubePath, cube))
    if (!spark.experimental.extraOptimizations.contains(this)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
    }
  }

  /** Incremental cube maintenance: aggregate ONLY the delta rows, sum-
    * merge them into the existing cube (additive measures re-aggregate
    * losslessly), write the refreshed cube, and swap the registration.
    * The base fact is never re-scanned; history participates at cube
    * (dims-type) size. This is the daily-ETL shape: base append + cube
    * refresh keep the rewrite answering current totals. */
  def refresh(spark: SparkSession, name: String, delta: DataFrame,
              newCubePath: String, fromCubePath: Option[String] = None): Unit = {
    val e = entries.get(name)
    require(e != null, s"no rollup registered under '$name'")
    val readPath = fromCubePath.getOrElse(e.cubePath)
    require(normalize(newCubePath) != normalize(readPath),
      "refresh cannot overwrite the cube it is reading — pass a fresh path")
    val aggs = e.sumCols.map { case (m, sm) => sum(col(m)).as(sm) } :+
      count(lit(1)).as(e.countCol)
    val deltaCube = delta.groupBy(e.dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val mergeAggs = (e.sumCols.map(_._2) :+ e.countCol)
      .map(c => sum(col(c)).as(c))
    Readers.parquet(spark, readPath).unionByName(deltaCube)
      .groupBy(e.dims.map(col): _*).agg(mergeAggs.head, mergeAggs.tail: _*)
      .write.mode("overwrite").parquet(newCubePath)
    val cube = Readers.parquet(spark, newCubePath).queryExecution.analyzed
    register(name, e.copy(cubePath = newCubePath, cube = cube))
  }

  /** The parquet path currently serving a registered rollup. */
  def cubePathOf(name: String): String = {
    val e = entries.get(name)
    require(e != null, s"no rollup registered under '$name'")
    e.cubePath
  }

  private def normalize(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  override def apply(plan: LogicalPlan): LogicalPlan =
    // Empty-registry fast path: with nothing registered the rule can
    // match nothing — skip the per-Aggregate transformUp probe entirely
    // (the rule sits in every enabled session's optimizer; an
    // unregistered session must pay zero per-query cost).
    if (entries.isEmpty) plan
    else plan.transformUp {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }

  /** Walk down through column-pruning Projects and Filters to the scan,
    * collecting filter conditions. Any other operator → no rewrite. */
  private def stripToScan(p: LogicalPlan, conds: Seq[Expression])
      : Option[(LogicalRelation, Seq[Expression])] = p match {
    case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) =>
      stripToScan(child, conds)
    case Filter(cond, child) => stripToScan(child, conds :+ cond)
    case lr: LogicalRelation => Some((lr, conds))
    case _ => None
  }

  private def scanPaths(lr: LogicalRelation): Seq[String] = lr.relation match {
    case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toUri.getPath)
    case _ => Seq.empty
  }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val candidates = entries.values().asScala
    stripToScan(agg.child, Seq.empty).flatMap { case (lr, conds) =>
      candidates.find(e => scanPaths(lr).exists(_ == e.basePath)).flatMap { e =>
        rewriteWith(agg, conds, e)
      }
    }
  }

  private def rewriteWith(agg: Aggregate, conds: Seq[Expression],
                          e: Entry): Option[LogicalPlan] = {
    val cubeAttr: Map[String, Attribute] =
      e.cube.output.map(a => a.name -> a).toMap
    val sumCol: Map[String, String] = e.sumCols.toMap

    // Grouping keys: bare dim columns only.
    val groupsOk = agg.groupingExpressions.forall {
      case a: AttributeReference => e.dims.contains(a.name)
      case _ => false
    }
    // Filters may touch dims only (they re-target the cube unchanged).
    val condsOk = conds.forall(_.references.forall(a => e.dims.contains(a.name)))

    // Every aggregate function must be coverable; everything OUTSIDE the
    // aggregate functions may reference dims only.
    def aggCovered(ae: AggregateExpression): Boolean = ae match {
      case AggregateExpression(s: Sum, _, false, None, _) => s.child match {
        case a: AttributeReference => sumCol.contains(a.name)
        case _ => false
      }
      case AggregateExpression(c: Count, _, false, None, _) =>
        c.children.forall(ch => ch.foldable && ch.eval() != null)
      case _ => false
    }
    val aggsOk = agg.aggregateExpressions.forall { ne =>
      ne.collect { case ae: AggregateExpression => ae }.forall(aggCovered) &&
        ne.references.forall { a =>
          e.dims.contains(a.name) || sumCol.contains(a.name)
        }
    }
    if (!groupsOk || !condsOk || !aggsOk) return None

    // Re-target: aggregate functions merge the cube's partials; dim
    // references move to the cube's attributes.
    def retarget(expr: Expression): Expression = expr.transformUp {
      case ae @ AggregateExpression(s: Sum, _, false, None, _) =>
        val m = s.child.asInstanceOf[AttributeReference].name
        ae.copy(aggregateFunction = Sum(cubeAttr(sumCol(m))))
      case ae @ AggregateExpression(_: Count, _, false, None, _) =>
        Coalesce(Seq(ae.copy(aggregateFunction = Sum(cubeAttr(e.countCol))),
          Literal(0L)))
      case a: AttributeReference if e.dims.contains(a.name) => cubeAttr(a.name)
    }

    val newResult: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
      retarget(ne) match {
        case kept: NamedExpression if kept.exprId == ne.exprId => kept
        case changed => Alias(changed, ne.name)(exprId = ne.exprId)
      }
    }
    val newGroups = agg.groupingExpressions.map(retarget)
    val newChild = conds.foldLeft(e.cube)((p, c) => Filter(retarget(c), p))
    Some(Aggregate(newGroups, newResult, newChild))
  }
}
