package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A2/A3/A4: the reference's data-quality layer as first-class operators.
  *
  * The reference's only executable tests are declarative dbt `unique` /
  * `not_null` checks on key columns (reference:
  * dbt/coretelecom/models/facts/schema.yml:9-15,46-54,83-91;
  * dimensions/schema.yml:5-9,26-30), plus run metrics
  * (airflow/dags/plugins/utilities.py:25-67 `OperationMetadata`).
  *
  * Each check returns a *violations DataFrame* (empty = pass) rather than
  * a boolean, so results compose into reports and stay distributed — no
  * driver-side collect of the data itself.
  */
object Quality {

  /** A2: `unique` test — keys appearing more than once, with their counts.
    * NULL keys are excluded (dbt's `unique` test filters `where column
    * is not null` before grouping — two null-keyed rows are not
    * duplicates of each other; `not_null` is the separate test for
    * them). A single hash aggregate: partial (map-side) + final, one
    * shuffle on the key. */
  def uniqueViolations(df: DataFrame, key: String): DataFrame =
    df.filter(col(key).isNotNull)
      .groupBy(col(key)).agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)

  /** A3: `not_null` test — rows where the key is null. The IsNull filter
    * is pushed into the Parquet scan. */
  def notNullViolations(df: DataFrame, key: String): DataFrame =
    df.filter(col(key).isNull)

  def isUnique(df: DataFrame, key: String): Boolean =
    uniqueViolations(df, key).head(1).isEmpty

  def isNotNull(df: DataFrame, key: String): Boolean =
    notNullViolations(df, key).head(1).isEmpty

  /** A4: run-metrics accumulation (reference: utilities.py:25-67 —
    * processed/success/failed/skipped counters + duration; `retried`
    * counts transient failures that were re-attempted and may then have
    * succeeded — the reference's Airflow `retries: 2` task knob,
    * pipeline.py:110, surfaced as a metric instead of scheduler
    * state). */
  final case class OperationMetadata(
      operation: String,
      processed: Long, succeeded: Long, failed: Long, skipped: Long,
      durationSeconds: Double, retried: Long = 0L)

  /** Time a stage and produce its report; counters supplied by the stage
    * body via the returned builder. The counters are atomic: a stage's
    * units may report from several threads at once. */
  final class MetricsBuilder(operation: String) {
    import java.util.concurrent.atomic.AtomicLong
    private val t0 = System.nanoTime()
    private val processed, succeeded, failed, skipped, retried = new AtomicLong
    def succeed(): Unit = { processed.incrementAndGet(); succeeded.incrementAndGet() }
    def fail(): Unit = { processed.incrementAndGet(); failed.incrementAndGet() }
    def skip(): Unit = { skipped.incrementAndGet(); () }
    def retry(): Unit = { retried.incrementAndGet(); () }
    def complete(): OperationMetadata =
      OperationMetadata(operation, processed.get, succeeded.get, failed.get, skipped.get,
        (System.nanoTime() - t0) / 1e9, retried.get)
  }

  def timed(operation: String): MetricsBuilder = new MetricsBuilder(operation)

  /** Distributed counters for executor-side accounting (the Spark analog
    * of the reference's in-process counters). */
  def accumulators(spark: SparkSession, names: String*): Map[String, org.apache.spark.util.LongAccumulator] =
    names.map(n => n -> spark.sparkContext.longAccumulator(n)).toMap

  /** Column profile — the load-preflight report (row count, per-column
    * non-null count, distinct count, min/max) every warehouse loader
    * eyeballs before trusting a new extract; the executable form of the
    * reference's schema.yml expectations (unique/not_null are the
    * pass/fail subset of exactly these numbers).
    *
    * ONE aggregate pass computes every column's stats simultaneously —
    * the naive per-column loop scans the table `cols.size` times.
    * Multiple exact COUNT(DISTINCT)s in one aggregate plan through
    * Catalyst's Expand (one input row fans into cols+1 agg streams):
    * a deliberate trade of cols× map-side rows for single-scan I/O,
    * which at 100 TB is the right side of the trade by an order of
    * magnitude (scan dominates). min/max surface as strings so the
    * report has one schema regardless of the profiled types. */
  /** Count-min-sketch frequency estimates — the fixed-memory answer to
    * "how often does each of THESE keys appear" over a stream too wide
    * for an exact group-by dictionary. Spark's built-in CMS aggregates
    * distributed (mergeable row/width counter grids, partials map-side;
    * only the KB-scale grid crosses to the driver); probing the handful
    * of requested keys is driver-side arithmetic on that grid. The CMS
    * guarantee is one-sided: estimates NEVER undercount, and
    * overcount <= eps·N with probability >= confidence (specced against
    * exact counts). Completes the sketch ladder next to HLL (q26),
    * GK quantiles (q89), Bloom (q96), MinHash/SimHash. */
  def cmsFrequencies(df: DataFrame, column: String, keys: Seq[Any],
                     eps: Double = 0.001, confidence: Double = 0.99,
                     seed: Int = 42): DataFrame = {
    require(keys.nonEmpty, "cmsFrequencies needs probe keys")
    val cms = df.stat.countMinSketch(column, eps, confidence, seed)
    val spark = df.sparkSession
    import spark.implicits._
    keys.map(k => (k.toString, cms.estimateCount(k)))
      .toDF(column, "est_count")
  }

  /** Driver-green verdict for [[cmsFrequencies]]: the CMS estimates
    * checked against exact per-key counts — the sketch's one-sided
    * guarantee (never an undercount) and width bound (overcount ≤
    * eps·N, deterministic for a fixed seed and dataset) emitted as
    * booleans next to the EXACT count (plain SQL on any engine).
    *
    * Scale shape: the sketch is the existing single-pass build; the
    * exact side is one grouped count sharing the scan; N arrives via a
    * broadcast 1-row aggregate, never a driver-side count action. */
  def cmsFrequenciesVerdict(df: DataFrame, column: String, keys: Seq[Any],
                            eps: Double = 0.001, confidence: Double = 0.99,
                            seed: Int = 42): DataFrame = {
    // ceil(eps·N) in exact integer arithmetic for ANY decimal eps: find
    // the smallest power-of-10 denominator that makes eps integral
    // (eps = mult/scale exactly) and compute (N·mult + scale-1) DIV
    // scale. A non-decimal eps (or one finer than 1e-9) fails loudly
    // here instead of silently checking a different bound — the old
    // hardcoded /1000 form rounded eps=0.0025 to 3/1000 and collapsed
    // eps<5e-4 to a zero bound.
    require(eps > 0, "eps must be positive")
    val scale = (0 to 9).map(k => math.pow(10, k).toLong)
      .find { s =>
        val m = math.round(eps * s)
        // absolute closeness to the rational m/s, not closeness of the
        // scaled product to an integer — at s = 1e9 the latter admits
        // ANY eps (every double is within 1 of an integer at that
        // magnitude) and would silently check a different bound
        m >= 1 && math.abs(eps - m.toDouble / s) <= 1e-12
      }
      .getOrElse(throw new IllegalArgumentException(
        s"eps=$eps is not a decimal rational with <= 9 fractional digits; " +
          "the exact-integer width bound needs eps = k/10^d"))
    val mult = math.round(eps * scale)
    val est = cmsFrequencies(df, column, keys, eps, confidence, seed)
    val exact = df.groupBy(col(column))
      .agg(count(lit(1)).as("exact_count"))
    val n = df.agg(count(lit(1)).as("__n"))
    est.join(exact, column)
      .crossJoin(broadcast(n))
      .select(col(column), col("exact_count"),
        (col("est_count") >= col("exact_count")).as("never_undercounts"),
        (col("est_count") <= col("exact_count")
          + expr(s"(__n * $mult + ${scale - 1}) DIV $scale"))
          .as("overcount_within_eps"))
  }

  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profileColumns needs at least one column")
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"${c}__nn"),
      countDistinct(col(c)).as(s"${c}__nd"),
      min(col(c)).cast("string").as(s"${c}__min"),
      max(col(c)).cast("string").as(s"${c}__max")) }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    val stackArgs = cols.map(c =>
      s"'$c', `${c}__nn`, `${c}__nd`, `${c}__min`, `${c}__max`").mkString(", ")
    one.selectExpr("__n AS n_rows",
        s"stack(${cols.size}, $stackArgs) AS (column_name, n_nonnull, n_distinct, min_value, max_value)")
      .select("column_name", "n_rows", "n_nonnull", "n_distinct",
        "min_value", "max_value")
  }

  /** Column-profile DRIFT between two table snapshots (the monitoring
    * companion to [[profileColumns]]): per column, row/non-null/
    * distinct counts on both sides, exact integer-e6 null rates, and a
    * `drifted` verdict — null-rate delta > 1% OR distinct cardinality
    * off by more than 2× in either direction (both checks pure integer
    * compares, so the verdict is engine-exact). This is the schema-
    * stability gate a 100 TB ingest runs between yesterday's and
    * today's partition before promoting.
    *
    * Scale shape: one multi-aggregate pass per side (profileColumns —
    * a single shuffle each with map-side partials), then a
    * COLUMNS-sized join. */
  def profileDrift(a: DataFrame, b: DataFrame, cols: Seq[String]): DataFrame = {
    def side(df: DataFrame, tag: String) =
      profileColumns(df, cols).select(col("column_name"),
        col("n_rows").as(s"n_rows_$tag"),
        col("n_nonnull").as(s"n_nonnull_$tag"),
        col("n_distinct").as(s"n_distinct_$tag"))
    side(a, "a").join(side(b, "b"), Seq("column_name"))
      .select(col("column_name"),
        col("n_rows_a"), col("n_nonnull_a"), col("n_distinct_a"),
        col("n_rows_b"), col("n_nonnull_b"), col("n_distinct_b"),
        expr("((n_rows_a - n_nonnull_a) * 1000000L) DIV n_rows_a")
          .as("null_rate_a_e6"),
        expr("((n_rows_b - n_nonnull_b) * 1000000L) DIV n_rows_b")
          .as("null_rate_b_e6"),
        expr("""abs((((n_rows_a - n_nonnull_a) * 1000000L) DIV n_rows_a)
                  - (((n_rows_b - n_nonnull_b) * 1000000L) DIV n_rows_b)) > 10000
                OR n_distinct_a * 2 < n_distinct_b
                OR n_distinct_b * 2 < n_distinct_a""").as("drifted"))
  }

  /** dbt's `accepted_values` test: rows whose column value falls
    * outside the allowed set, reported as (value, n_rows) — NULLs pass
    * (dbt's does not flag them; not_null is the separate test), exactly
    * like uniqueViolations mirrors dbt's null handling. One filter +
    * one hash aggregate; the allowed set is a literal, so the filter
    * pushes into the scan. */
  def acceptedValuesViolations(df: DataFrame, column: String,
                               allowed: Seq[String]): DataFrame = {
    df.filter(col(column).isNotNull && !col(column).isin(allowed: _*))
      .groupBy(col(column).as("value"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** dbt's `relationships` test: child rows whose foreign key has no
    * match in the parent — reported per orphan key value. A left-anti
    * join on the key (broadcast when the parent's key projection is
    * small, AQE decides); NULL FKs pass, as in dbt. */
  def relationshipViolations(child: DataFrame, fkCol: String,
                             parent: DataFrame, pkCol: String): DataFrame = {
    child.filter(col(fkCol).isNotNull)
      .join(parent.select(col(pkCol).as(fkCol)), Seq(fkCol), "left_anti")
      .groupBy(col(fkCol).as("orphan_key"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** Format-signature profiling: collapse every string into its
    * character-class shape — letter runs → `A`, digit runs → `9`,
    * punctuation kept verbatim — and count the distinct shapes per
    * column ("Customer#000000001" → "A#9"). One signature dominating a
    * column is a format CONTRACT; a long tail is dirty data the
    * min/max/null profile (profileColumns) cannot see. NULLs count as
    * their own shape (absence is a finding here, unlike the dbt
    * tests).
    *
    * Scale shape: the same single melted scan as keySkewReport — the
    * signature is a projection, then one hash aggregate on
    * (column, signature), a relation bounded by format variety, not
    * rows. */
  def formatSignatures(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "formatSignatures needs at least one column")
    val melted = df.select(explode(map(
      cols.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*))
      .as(Seq("__col", "__val")))
    melted
      .select(col("__col").as("column_name"),
        regexp_replace(regexp_replace(col("__val"), "[A-Za-z]+", "A"),
          "[0-9]+", "9").as("signature"))
      .groupBy("column_name", "signature")
      .agg(count(lit(1)).as("n_rows"))
  }

  /** Join-key skew report: for each candidate key column, the distinct
    * key count, the hottest key and its row count, and that key's share
    * of the relation in parts-per-million (exact integer division — no
    * float ratios to drift). The pre-shuffle health check for a planned
    * join or aggregation: a top share in the percents says "salt this
    * key or expect a straggler" (SkewJoin.saltedEquiJoin is the
    * companion fix).
    *
    * Scale shape: ONE scan — the columns are melted to (column, value)
    * pairs in a single generator projection, counted in one hash
    * aggregate (map-side partials absorb the hot key itself), then
    * reduced per column with a min-struct argmax, ties on the count
    * broken by the SMALLEST value string so the report is
    * deterministic. The per-column formulation would scan k times. */
  def keySkewReport(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "keySkewReport needs at least one column")
    val melted = df.select(explode(map(
      cols.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*))
      .as(Seq("__col", "__val")))
    val counts = melted.groupBy("__col", "__val")
      .agg(count(lit(1)).as("__n"))
    counts.groupBy(col("__col").as("column_name"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum("__n").as("n_rows"),
        min(struct((-col("__n")).as("__neg"), col("__val"))).as("__top"))
      .select(col("column_name"), col("n_keys"), col("n_rows"),
        col("__top.__val").as("top_key"),
        (-col("__top.__neg")).as("top_n"),
        // integer DIV, not Column./ — the double quotient can cross an
        // integer boundary within an ulp and flip the truncation
        expr("(-`__top`.`__neg`) * 1000000L DIV n_rows").as("top_share_ppm"))
  }

  /** Candidate-key discovery across a set of tables: for each listed
    * column, its row/non-null/distinct counts and whether it is a valid
    * unique key (distinct == non-null == rows). This is the content
    * side of the reference's table-discovery story (information_schema
    * walk, snowflake_load.py:147-154) — discovery tells you the tables
    * exist; this tells you which columns can KEY them.
    *
    * Scale shape: one aggregate scan per table covering all of its
    * listed columns at once (count_distinct plans two-phase with
    * map-side partials), melted to rows with a single `stack`
    * generator; the union is metadata-sized (one row per column). */
  def keyCandidates(tables: Seq[(String, DataFrame, Seq[String])]): DataFrame = {
    require(tables.nonEmpty, "keyCandidates needs at least one table")
    tables.map { case (name, df, cols) =>
      require(cols.nonEmpty, s"keyCandidates($name) needs at least one column")
      val aggs = cols.flatMap { c => Seq(
        count(col(c)).as(s"${c}__nn"),
        countDistinct(col(c)).as(s"${c}__nd")) }
      val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
      val stackArgs = cols.map(c => s"'$c', `${c}__nn`, `${c}__nd`").mkString(", ")
      one.selectExpr(s"'$name' AS table_name", "__n AS n_rows",
          s"stack(${cols.size}, $stackArgs) AS (column_name, n_nonnull, n_distinct)")
        .select(col("table_name"), col("column_name"), col("n_rows"),
          col("n_nonnull"), col("n_distinct"),
          when(col("n_distinct") === col("n_rows")
            && col("n_nonnull") === col("n_rows"), 1L).otherwise(0L)
            .as("is_unique_key"))
    }.reduce(_ unionByName _)
  }

  /** Inclusion-dependency (foreign-key) discovery: how much of the
    * child column's distinct value set is contained in the parent
    * column's. containment_e6 == 1e6 means every child key resolves —
    * a valid FK edge; partial containment localizes orphan keys before
    * a migration (Reconcile is the row-level companion). NULL child
    * values are excluded, mirroring relationshipViolations/dbt.
    *
    * Scale shape: both sides collapse to DISTINCT key projections
    * first (two-phase partial distinct), so the probe join is
    * key-type-sized, never row-sized; AQE broadcasts the parent side
    * when small. Output is one row per candidate edge. */
  def inclusionCoverage(pairs: Seq[(String, DataFrame, String, String, DataFrame, String)]): DataFrame = {
    require(pairs.nonEmpty, "inclusionCoverage needs at least one candidate pair")
    pairs.map { case (childName, child, childCol, parentName, parent, parentCol) =>
      val childKeys = child.filter(col(childCol).isNotNull)
        .select(col(childCol).cast("long").as("__k")).distinct()
      val parentKeys = parent.filter(col(parentCol).isNotNull)
        .select(col(parentCol).cast("long").as("__k")).distinct()
        .withColumn("__hit", lit(1L))
      childKeys.join(parentKeys, Seq("__k"), "left")
        .agg(count(lit(1)).as("n_child_keys"), count(col("__hit")).as("n_contained"))
        .select(
          lit(s"$childName.$childCol").as("child_ref"),
          lit(s"$parentName.$parentCol").as("parent_ref"),
          col("n_child_keys"), col("n_contained"),
          expr("n_contained * 1000000L DIV n_child_keys").as("containment_e6"))
    }.reduce(_ unionByName _)
  }

  /** Exact equi-join cardinality forecast WITHOUT running the join:
    * |A ⋈ B| = Σ_k c_A(k)·c_B(k), computed on the two per-key count
    * relations — the planner diagnostic that says whether a proposed
    * join explodes (fanout) or starves (no key overlap) before anyone
    * pays for it. Also reports the max single-key contribution: the
    * skew headline (one hot key owning most of the output is the
    * salted-join trigger, SkewJoin).
    *
    * Scale shape: one count-aggregate per side (map-side partials),
    * then a key-sized ⋈ key-sized join — never touches row-sized data
    * beyond the two scans. Output: one row (predicted_rows, n_keys_a,
    * n_keys_b, n_common_keys, max_key_rows). */
  def joinSizeForecast(a: DataFrame, aKey: String,
                       b: DataFrame, bKey: String): DataFrame = {
    val ca = a.filter(col(aKey).isNotNull)
      .groupBy(col(aKey).as("__k")).agg(count(lit(1)).as("__ca"))
    val cb = b.filter(col(bKey).isNotNull)
      .groupBy(col(bKey).as("__k")).agg(count(lit(1)).as("__cb"))
    val keysA = ca.agg(count(lit(1)).as("n_keys_a"))
    val keysB = cb.agg(count(lit(1)).as("n_keys_b"))
    ca.join(cb, Seq("__k"))
      .agg(coalesce(sum(col("__ca") * col("__cb")), lit(0L)).as("predicted_rows"),
        count(lit(1)).as("n_common_keys"),
        coalesce(max(col("__ca") * col("__cb")), lit(0L)).as("max_key_rows"))
      .crossJoin(broadcast(keysA))
      .crossJoin(broadcast(keysB))
      .select(col("predicted_rows"), col("n_keys_a"), col("n_keys_b"),
        col("n_common_keys"), col("max_key_rows"))
  }
}
