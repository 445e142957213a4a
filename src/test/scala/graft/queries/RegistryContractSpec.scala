package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.types._

/** The contracts every registered query keeps, checked against ONE
  * build of each query.
  *
  * The walk builds every registered query once, in sorted name order,
  * on its own session (`spark.newSession()`: a fresh SQL conf over the
  * shared SparkContext and cache, so settings other suites left behind
  * cannot hide a leak) and from an empty cache, and keeps one small
  * [[Built]] record per query.
  * Each test asserts one contract over those records:
  *   - output types: driver-envelope atomics for oracled queries,
  *     parquet-writable types for the rest;
  *   - global (no-partition) windows only on the audited allowlist;
  *   - an executable physical plan;
  *   - session hygiene: the SQL conf after a build equals the conf
  *     before it, apart from an allowlist with a reason per key;
  *   - an optimized-plan size ceiling.
  */
class RegistryContractSpec extends SparkSpec {

  /** What one build showed: the output schema, the number of
    * no-partition windows in the optimized plan, that plan's printed
    * length (cached inner plans included), the construction or
    * planning failure if there was one, and every SQL setting whose
    * value differs after the build (key -> before, after; None = unset).
    * `schema` is None when the query failed before its plan was
    * optimized. */
  private case class Built(schema: Option[StructType], globalWindows: Int,
                           planChars: Int, failure: Option[String],
                           confDiff: Map[String, (Option[String], Option[String])])

  private lazy val walk: SparkSession = spark.newSession()

  /** Builds one query from an empty cache, as Bench and Verify run
    * each query: a persist left by an earlier build (q101's fold
    * history) would otherwise be substituted into this plan and printed
    * inside it. */
  private def build(fn: (SparkSession, String) => DataFrame): Built = {
    walk.catalog.clearCache()
    val before = walk.conf.getAll
    val built =
      try {
        val df = fn(walk, sf)
        val plan = df.queryExecution.optimizedPlan
        val windows = plan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }.size
        val planned = scala.util.Try(df.queryExecution.executedPlan).failed
          .toOption.map(e => s"failed to plan: $e")
        Built(Some(df.schema), windows, plan.toString.length, planned, Map.empty)
      } catch { case scala.util.control.NonFatal(e) =>
        Built(None, 0, 0, Some(s"failed to construct at $sf: $e"), Map.empty) }
    val after = walk.conf.getAll
    built.copy(confDiff = (before.keySet ++ after.keySet).collect {
      case k if before.get(k) != after.get(k) => k -> (before.get(k), after.get(k))
    }.toMap)
  }

  private lazy val records: Map[String, Built] = {
    val active = SparkSession.getActiveSession
    SparkSession.setActiveSession(walk)
    try SparkEntry.queries.toSeq.sortBy(_._1)
      .map { case (name, fn) => name -> build(fn) }.toMap
    finally active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }

  private def schemaOf(name: String): StructType = {
    val b = records(name)
    b.schema.getOrElse(fail(s"$name ${b.failure.getOrElse("failed")}"))
  }

  /* Registry-wide output-type contract (round-6 lesson).
   *
   * The external correctness harness compares Spark parquet dumps to
   * DuckDB oracle results through PANDAS frames. In that path the two
   * engines canonicalize identically ONLY for plain atomic types:
   * string / long / int / double / date / timestamp / boolean. Types
   * that r5 proved outside the envelope:
   *
   *   - DecimalType: Spark parquet -> Decimal objects; DuckDB .df() ->
   *     float64. Same value, different cell string -> hash mismatch
   *     (r5: q132, q161, q162, q211).
   *   - ArrayType (any nesting): pandas sort_values dies on ndarray
   *     cells -> the whole query ERRORS the gate (r5: q159).
   *   - MapType/StructType: same unhashable-cell failure.
   *
   * So: every ORACLED query must emit only envelope types. Fixed-point
   * fractional results are published as scaled integers (`*_e6`/`*_e9`)
   * — the operator APIs keep their exact DECIMAL columns; only the
   * registered projection converts. Non-oracled (rows-only) queries may
   * return arrays (the driver only counts their rows, never sorts
   * cells), but must still be parquet-writable. */
  private val envelope: Set[DataType] = Set(
    StringType, LongType, IntegerType, DoubleType,
    DateType, TimestampType, TimestampNTZType, BooleanType)

  test("every oracled query emits only driver-envelope atomic types") {
    val oracled = SparkEntry.oracleSql.keySet
    val bad = oracled.toSeq.sorted.flatMap { name =>
      schemaOf(name).fields.collect {
        case f if !envelope.contains(f.dataType) =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(bad.isEmpty,
      s"oracled queries with out-of-envelope output types:\n  ${bad.mkString("\n  ")}")
  }

  test("non-oracled queries have parquet-writable, driver-loadable schemas") {
    // The driver loads every dump with pandas to count rows — MapType
    // arrives as an object column and still counts; all Spark SQL
    // types are parquet-writable except CalendarInterval/UDT, which
    // must not appear.
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val bad = rowsOnly.toSeq.sorted.flatMap { name =>
      schemaOf(name).fields.collect {
        case f if f.dataType.isInstanceOf[CalendarIntervalType] ||
          f.dataType.typeName == "interval" =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(bad.isEmpty, s"non-parquet-writable outputs: ${bad.mkString(", ")}")
  }

  /* Audit of NO-PARTITION window operators across the whole registry.
   *
   * A `Window.orderBy(...)` with no `partitionBy` plans a WindowExec
   * over a single partition — Spark warns "No Partition Defined! Moving
   * all data to a single partition" because at corpus scale it IS a
   * scale bug: the entire input sorts through one task. The repo's
   * discipline is that global windows only ever run on post-rollup
   * relations that are provably bounded (day-grain series, deciles,
   * vocabularies, per-group summaries) — this test turns that review
   * rule into a gate: it reads every registered query's optimized plan,
   * collects the queries that plan at least one global window, and
   * asserts the set EQUALS the allowlist below (each entry naming its
   * bound). A new global window over an unbounded relation fails the
   * suite instead of scrolling past as a WARN line; a stale allowlist
   * entry (query stopped planning one) fails too, so the table cannot
   * rot. Bench/Verify silence the WindowExec logger on the strength of
   * exactly this gate.
   *
   * query → the bound that makes its global window(s) safe.
   *
   * "GlobalRank" entries are SIZE-GATED: GlobalRank measures its
   * input (persist + count) and takes the single-partition window
   * form only when the count is at or below
   * spark.graft.globalrank.maxSinglePartitionRows (default 2^20) —
   * so the global window these queries plan at this spec's scale is
   * bounded by a runtime gate, and a corpus-sized input switches to
   * the distributed machinery whose only global window is the
   * per-partition offsets relation: ONE row per shuffle partition
   * (metadata-scale by construction — ≤ spark.sql.shuffle.partitions
   * rows, whatever the data size). The data-sized rank there is
   * partitioned by __pid; GlobalRankSpec pins both paths and their
   * bit-equality. The other bounds are
   * post-rollup grains: days/months (calendar-sized), deciles
   * (10 rows), sources (enum-sized), k seed rows (limit k feeds the
   * window), distinct-x maxima (Skyline's documented bounded-axis
   * contract), topN slice (WindowGroupLimit prunes map-side to
   * ≤ partitions × topN before the single-partition sort). */
  private val bounded: Map[String, String] = Map(
    "q105_token_budget_sample" -> "GlobalRank offsets scan (sampling rank)",
    "q120_quality_deciles" -> "GlobalRank offsets scan (rankBuckets)",
    "q125_user_growth" -> "day-grain cumulative (one row per day)",
    "q128_pareto_frontier" -> "distinct-x maxima (Skyline bounded-axis contract)",
    "q158_quantile_normalize" -> "GlobalRank offsets scan (pooled rank)",
    "q165_model_calibration" -> "GlobalRank offsets scan (score rank)",
    "q171_vocab_growth" -> "GlobalRank offsets scan + decile rollup (10 rows)",
    "q184_peak_concurrency" -> "GlobalRank offsets scan (event-delta prefix sum)",
    "q187_revenue_trend" -> "month rollup (one row per month)",
    "q188_abc_classification" -> "GlobalRank offsets scan (cumulative revenue)",
    "q191_rfm_segments" -> "GlobalRank offsets scans (3 distributed ntiles)",
    "q202_autocorr_revenue" -> "day-series post-rollup (Stats contract)",
    "q203_cusum_revenue" -> "day-series post-rollup (Stats contract)",
    "q208_linear_interp" -> "day calendar spine (sequence off a 1-row agg)",
    "q212_budget_apportion" -> "source rollup (one row per source)",
    "q217_vocab_coverage" -> "GlobalRank offsets scan (vocab rank + share)",
    "q229_rank_auc" -> "GlobalRank offsets scan (score rank)",
    "q242_ks_drift" -> "GlobalRank offsets scan (pooled rank)",
    "q243_mann_whitney" -> "GlobalRank offsets scan (pooled rank)",
    "q256_ewma_revenue" -> "day-series post-rollup (Stats contract)",
    "q266_rfm_segments" -> "GlobalRank offsets scans (3 distributed ntiles)",
    "q273_zipf_slope" -> "topN slice (WindowGroupLimit-pruned)",
    "q295_decile_migration" -> "GlobalRank offsets scans (2 distributed ntiles)",
    "q301_sorted_neighborhood" -> "GlobalRank offsets scan (neighborhood rank)",
    "q310_kmeans_clusters" -> "k seed rows (limit k feeds the window)",
    "q311_cluster_balanced_sample" -> "k seed rows (limit k feeds the window)",
    "q66_pack_sequences" -> "GlobalRank offsets scan (token prefix sum)",
    "q78_curate_corpus" -> "GlobalRank offsets scan (packing prefix sum)")

  test("every registered query that plans a global (no-partition) window does so over a provably bounded relation") {
    records.keys.foreach(schemaOf) // every query built
    val offenders = records.collect { case (name, b) if b.globalWindows > 0 =>
      name -> b.globalWindows }
    val unexpected = offenders.keySet -- bounded.keySet
    val stale = bounded.keySet -- offenders.keySet
    assert(unexpected.isEmpty,
      s"queries planning a global window WITHOUT a documented bound: " +
        unexpected.toSeq.sorted.map(q => s"$q(${offenders(q)})")
          .mkString(", "))
    assert(stale.isEmpty,
      s"allowlist entries that no longer plan a global window " +
        s"(table rot): ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("every registered query has a resolvable, executable plan") {
    records.toSeq.sortBy(_._1).foreach { case (name, b) =>
      assert(b.failure.isEmpty, s"$name ${b.failure.getOrElse("")}")
    }
  }

  /** SQL settings a build may leave changed, each with its reason. */
  private val confChangesAllowed: Map[String, String] = Map(
    "spark.sql.parquet.pushdown.inFilterThreshold" ->
      ("Dedup.probeMinhashIndex (q323) raises it to MaxPushedInValues on the " +
        "session, never lowers it: a pushed IN above the threshold becomes a " +
        "min/max range filter, vacuous over uniformly distributed hashes"))

  test("building a registered query leaves the session SQL conf as it found it") {
    def show(v: Option[String]) = v.getOrElse("<unset>")
    val leaks = records.toSeq.sortBy(_._1).flatMap { case (name, b) =>
      (b.confDiff -- confChangesAllowed.keySet).toSeq.sorted.map {
        case (k, (was, now)) => s"$name: $k ${show(was)} -> ${show(now)}"
      }
    }
    assert(leaks.isEmpty,
      s"builds that left SQL settings changed:\n  ${leaks.mkString("\n  ")}")
  }

  /* Plan-size ceiling: the optimized plan's printed length (the measure
   * ScaleShapeSpec's per-round pins use) prints cached inner plans too,
   * so a loop that chains persisted rounds into one plan (the PageRank
   * persist chain that grew q142's plan dump to 88k lines) fails here.
   * The largest plan in the registry at sf0.001 is q201_triangle_census
   * at 714,267 characters; the ceiling allows about 2x that. */
  private val maxPlanChars = 1500000

  test("every registered query's optimized plan stays under the plan-size ceiling") {
    val over = records.toSeq.sortBy(_._1).collect {
      case (name, b) if b.planChars > maxPlanChars => s"$name (${b.planChars} chars)"
    }
    assert(over.isEmpty,
      s"optimized plans over the $maxPlanChars-char ceiling: ${over.mkString(", ")}")
  }
}
