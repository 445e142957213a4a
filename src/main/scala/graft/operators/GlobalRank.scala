package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Generate
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed EXACT global ranking — row_number / ntile / prefix sums
  * over a total order WITHOUT a single-partition window.
  *
  * `Window.orderBy(...)` with no partition moves the whole relation
  * through one task — fine for the post-rollup day/vocab-sized
  * relations most of this repo's global windows run on (audited in
  * GlobalWindowAuditSpec), a scale bug for anything keys-sized: a
  * customer or part rollup at 100 TB is 10^8-10^9 rows, and one task
  * sorting 10^9 rows is the plan that never finishes. This operator is
  * the two-pass parallel scan instead (the classic distributed
  * ranking):
  *
  *   1. `repartitionByRange` on the sort order — ranges are ordered by
  *      partition id, so partition i's keys all precede partition
  *      i+1's;
  *   2. a per-partition window (row_number / running sum) — parallel,
  *      no single-task sort;
  *   3. a one-row-per-partition offsets relation (counts / sums summed
  *      over earlier partitions — its own global window is over
  *      ≤ numShufflePartitions rows, bounded by construction), joined
  *      back broadcast.
  *
  * The result equals the single-partition form for ANY boundary
  * placement: local rank + everything in earlier ranges is the global
  * rank under any partitioning of a total order. `sortExprs` must
  * therefore be a TOTAL order (add a key tiebreaker) — ties across a
  * range boundary would otherwise make the rank undefined.
  *
  * The pid-stamped relation is persisted before it forks into the
  * rank and offsets consumers: repartitionByRange SAMPLES its input
  * to pick boundaries, and with a nondeterministically-partitioned
  * upstream (a join under AQE) the two recomputed copies can sample
  * DIFFERENT boundaries — rows then carry a __gr_pid from one
  * partitioning while offsets are summed over another (the corruption
  * the q78 sf0.1 oracle caught in round 6; see
  * Curation.exclusivePrefixSum). The cache pins ONE partitioning that
  * both consumers read; the relations ranked here are rollups (keys-
  * sized), not facts, so the footprint is the small side.
  *
  * SIZE-ADAPTIVE DISPATCH (optimization guide §2 — derive partitioning
  * from measured input size, not a constant), two stages:
  *
  *  1. STATS PRE-GATE (round 15, zero-cost): if the optimizer's size
  *     estimate (`optimizedPlan.stats.sizeInBytes`, rooted in actual
  *     file bytes at the scans) is at or below
  *     `spark.graft.globalrank.maxSinglePartitionBytes` (default 2^26;
  *     0 disables), return the plain single-partition window form with
  *     NO persist and NO counting job — the exact pre-round-14 plan.
  *     This is safe because Spark's size-only stats propagation never
  *     shrinks an estimate below the scanned bytes except by column-
  *     width ratios, LIMIT and SAMPLE (Filter, Aggregate and Join keep
  *     or grow their child's size): an estimate ≤ 64 MB can only arise
  *     when every scan feeding the relation is itself tiny — at 100 TB
  *     the estimate is TB-scale and the pre-gate never fires. Generate
  *     (explode and friends) is the exception: it keeps its child's
  *     estimate while the rows multiply, so a plan containing one
  *     never takes the pre-gate and goes to the count gate. Round 14
  *     paid a persist + count() job per public call for the dispatch
  *     alone, 3× for nested ntile callers — measured +0.45-0.77 s per
  *     query at sf0.1 (q266 0.17→0.77, q191 0.30→1.07), pure fixed
  *     overhead at any scale where the small path wins.
  *  2. MEASURED COUNT GATE: past the pre-gate, the input is persisted
  *     and counted. At or below
  *     `spark.graft.globalrank.maxSinglePartitionRows` (default 2^20;
  *     0 disables the small path entirely, pre-gate included) the
  *     single-partition window runs over the persisted input —
  *     bit-identical by GlobalRankSpec's parity pins. Past the bound
  *     the distributed machinery runs, and the SAME persisted input
  *     feeds both the range-boundary sampling and the shuffle — one
  *     upstream pass where the unpersisted form paid two.
  *
  * Both thresholds are genuine scale gates, not local tuning: one task
  * sorting ≤ 2^20 rollup rows (~tens of MB) is sub-second on any
  * executor, while a 100 TB customer rollup (10^8-10^9 rows) exceeds
  * both gates and takes the distributed plan. Multi-ranking callers
  * (RFM quintiles, decile migration) should use [[ntiles]], which
  * dispatches ONCE for all k rankings instead of re-persisting and
  * re-counting per nested call.
  *
  * Cache discipline: the persisted input (and, on the distributed
  * path, the pid-stamped shuffle) stay cached for the caller's action;
  * Bench/Verify clearCache() between queries releases them, and
  * library callers release via unpersist/clearCache as with every
  * other persisted operator here. */
object GlobalRank {

  /** Rows at or below which the single-partition window form is used.
    * 0 forces the distributed machinery (plan-shape specs use this). */
  private def smallLimit(df: DataFrame): Long =
    df.sparkSession.conf
      .get("spark.graft.globalrank.maxSinglePartitionRows", (1L << 20).toString)
      .toLong

  /** Zero-cost stats pre-gate (dispatch stage 1, see the class doc):
    * true when the optimizer's size estimate — rooted in real file
    * bytes at the scans, and never shrunk below them by the size-only
    * propagation rules except via width ratios / LIMIT / SAMPLE — says
    * the relation is comfortably one-task-sortable. Disabled whenever
    * the row gate is 0 (the specs' force-distributed switch must win)
    * or the bytes gate is set to 0, and for any plan with a Generate,
    * whose estimate does not grow with its rows. */
  private def statsSmall(df: DataFrame): Boolean = {
    if (smallLimit(df) <= 0) return false
    val maxBytes = df.sparkSession.conf
      .get("spark.graft.globalrank.maxSinglePartitionBytes",
        (1L << 26).toString).toLong
    val plan = df.queryExecution.optimizedPlan
    maxBytes > 0 && plan.find(_.isInstanceOf[Generate]).isEmpty &&
      plan.stats.sizeInBytes <= BigInt(maxBytes)
  }

  /** Persist the input and measure it: the count both drives the
    * dispatch and pins ONE materialization that every downstream
    * consumer (window, or sampling + shuffle + offsets) reads. */
  private def pinned(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  /** Internal columns all carry this reserved prefix — a caller's
    * resultCol may be anything else (q188 ranks into `__cum`), but a
    * relation that already uses the prefix would be silently clobbered
    * by the withColumn/drop plumbing, so fail loud instead. */
  private def checkReserved(df: DataFrame, resultCols: String*): Unit = {
    val clash = df.columns.filter(_.startsWith("__gr_")) ++
      resultCols.filter(_.startsWith("__gr_"))
    require(clash.isEmpty,
      s"GlobalRank reserves the __gr_ column prefix; found ${clash.mkString(", ")}")
  }

  private def parted(df: DataFrame, sortExprs: Seq[Column],
                     numParts: Int): DataFrame = {
    val parts = if (numParts > 0) numParts
      else df.sparkSession.sessionState.conf.numShufflePartitions
    df.repartitionByRange(parts, sortExprs: _*)
      .withColumn("__gr_pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Exclusive prefix-sum of the per-partition totals of `agg`: one
    * row per partition, `__gr_off` = sum over strictly-earlier ranges.
    * The global window here is over ≤ numShufflePartitions rows —
    * metadata-scale by construction. */
  private def offsetsOf(p: DataFrame, agg: Column): DataFrame =
    p.groupBy("__gr_pid").agg(agg.as("__gr_psum"))
      .withColumn("__gr_off",
        coalesce(sum(col("__gr_psum")).over(
          Window.orderBy("__gr_pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("__gr_pid", "__gr_off")

  /** Exact global `row_number()` (1-based, long) in `sortExprs` order,
    * as `resultCol`. Equals
    * `row_number().over(Window.orderBy(sortExprs))` for a total order,
    * at any scale. */
  def rowNumber(df: DataFrame, sortExprs: Seq[Column], resultCol: String,
                numParts: Int = 0): DataFrame = {
    checkReserved(df, resultCol)
    def small(base: DataFrame): DataFrame =
      base.withColumn(resultCol,
        row_number().over(Window.orderBy(sortExprs: _*)).cast("long"))
    if (statsSmall(df)) return small(df)
    val (p0, n) = pinned(df)
    if (n <= smallLimit(df)) small(p0)
    else rowNumberImpl(p0, sortExprs, resultCol, numParts)
  }

  private def rowNumberImpl(df: DataFrame, sortExprs: Seq[Column],
                            resultCol: String, numParts: Int): DataFrame = {
    val p = parted(df, sortExprs, numParts)
    val w = Window.partitionBy("__gr_pid").orderBy(sortExprs: _*)
    p.withColumn("__gr_lrn", row_number().over(w).cast("long"))
      .join(broadcast(offsetsOf(p, count(lit(1)))), Seq("__gr_pid"))
      .withColumn(resultCol, col("__gr_off") + col("__gr_lrn"))
      .drop("__gr_pid", "__gr_lrn", "__gr_off")
  }

  /** Exact global `ntile(n)` (int, 1-based) in `sortExprs` order, as
    * `resultCol`. Bit-identical to the SQL ntile for a total order:
    * with T rows, q = T div n and r = T mod n, the first r tiles hold
    * q+1 rows and the rest q (larger tiles first — the SQL-standard
    * rule DuckDB and Spark share), derived arithmetically from the
    * distributed row number, so no single-partition sort anywhere.
    * T (the total row count) rides the SAME broadcast offsets relation
    * as the rank offsets — sum of the per-partition counts, computed
    * on the ≤ numShufflePartitions-row offsets side — so the whole
    * operator is ONE pass over the data: shuffle, per-partition
    * window, broadcast join, arithmetic. */
  def ntile(df: DataFrame, n: Int, sortExprs: Seq[Column],
            resultCol: String, numParts: Int = 0): DataFrame = {
    require(n >= 1, s"ntile requires n >= 1, got $n")
    checkReserved(df, resultCol)
    if (statsSmall(df)) return windowNtile(df, n, sortExprs, resultCol)
    val (p0, cnt) = pinned(df)
    if (cnt <= smallLimit(df)) windowNtile(p0, n, sortExprs, resultCol)
    else ntileImpl(p0, n, sortExprs, resultCol, numParts)
  }

  /** k exact global ntiles off ONE dispatch — the RFM/decile shape
    * (`sorts` = (sortExprs, resultCol) per ranking, all over the same
    * base). Identical output to nesting [[ntile]] k times, but the
    * input is stats-checked / persisted / counted ONCE instead of per
    * nesting level (round 14 measured the nested form paying the
    * persist+count dispatch 3× per RFM query). On the distributed path
    * each ranking still pays its own range shuffle (the sort orders
    * differ — that shuffle is the operator's inherent cost), all off
    * the same pinned base. */
  def ntiles(df: DataFrame, n: Int, sorts: Seq[(Seq[Column], String)],
             numParts: Int = 0): DataFrame = {
    require(n >= 1, s"ntile requires n >= 1, got $n")
    require(sorts.nonEmpty, "ntiles requires at least one ranking")
    checkReserved(df, sorts.map(_._2): _*)
    def allSmall(base: DataFrame): DataFrame =
      sorts.foldLeft(base) { case (acc, (se, rc)) =>
        windowNtile(acc, n, se, rc) }
    if (statsSmall(df)) return allSmall(df)
    val (p0, cnt) = pinned(df)
    if (cnt <= smallLimit(df)) allSmall(p0)
    else sorts.foldLeft(p0) { case (acc, (se, rc)) =>
      ntileImpl(acc, n, se, rc, numParts) }
  }

  private def windowNtile(df: DataFrame, n: Int, sortExprs: Seq[Column],
                          resultCol: String): DataFrame =
    df.withColumn(resultCol,
      org.apache.spark.sql.functions.ntile(n)
        .over(Window.orderBy(sortExprs: _*)))

  private def ntileImpl(p0: DataFrame, n: Int, sortExprs: Seq[Column],
                        resultCol: String, numParts: Int): DataFrame = {
    val p = parted(p0, sortExprs, numParts)
    val w = Window.partitionBy("__gr_pid").orderBy(sortExprs: _*)
    // offsets + total off one tiny aggregate: __gr_off = rows in
    // strictly-earlier ranges, __gr_T = rows overall (a global sum
    // over the per-partition counts — metadata-scale)
    val wo = Window.orderBy("__gr_pid")
    val offT = p.groupBy("__gr_pid").agg(count(lit(1)).as("__gr_pn"))
      .withColumn("__gr_off",
        coalesce(sum(col("__gr_pn")).over(
          wo.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__gr_T", sum(col("__gr_pn")).over(
        wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select("__gr_pid", "__gr_off", "__gr_T")
    p.withColumn("__gr_lrn", row_number().over(w).cast("long"))
      .join(broadcast(offT), Seq("__gr_pid"))
      .withColumn("__gr_rn", col("__gr_off") + col("__gr_lrn"))
      .withColumn(resultCol, expr(
        s"""CAST(CASE
           |  WHEN __gr_rn <= (__gr_T % $n) * (__gr_T DIV $n + 1)
           |    THEN (__gr_rn - 1) DIV (__gr_T DIV $n + 1) + 1
           |  ELSE (__gr_T % $n)
           |    + (__gr_rn - (__gr_T % $n) * (__gr_T DIV $n + 1) - 1) DIV (__gr_T DIV $n)
           |    + 1
           |END AS INT)""".stripMargin))
      .drop("__gr_pid", "__gr_lrn", "__gr_rn", "__gr_off", "__gr_T")
  }

  /** Exact INCLUSIVE global prefix sum of `valueCol` in `sortExprs`
    * order, as `resultCol`. Equals `sum(valueCol).over(Window
    * .orderBy(sortExprs).rowsBetween(unboundedPreceding, currentRow))`
    * for a total order.
    *
    * A non-empty `totalCol` additionally attaches the GRAND total of
    * `valueCol` to every row — computed on the metadata-scale offsets
    * side (sum of the per-partition sums) and carried by the same
    * broadcast join, so "cumulative share of total" queries don't pay
    * a second aggregation pass over the (possibly expensive) input
    * relation just for the denominator. */
  def inclusivePrefixSum(df: DataFrame, sortExprs: Seq[Column],
                         valueCol: String, resultCol: String,
                         numParts: Int = 0, totalCol: String = ""): DataFrame = {
    checkReserved(df, Seq(resultCol) ++ Option(totalCol).filter(_.nonEmpty): _*)
    def small(base: DataFrame): DataFrame = {
      val ws = Window.orderBy(sortExprs: _*)
      val withCum = base.withColumn(resultCol, sum(col(valueCol)).over(
        ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      if (totalCol.isEmpty) withCum
      else withCum.withColumn(totalCol, sum(col(valueCol)).over(
        ws.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    }
    if (statsSmall(df)) return small(df)
    val (p0, cnt) = pinned(df)
    if (cnt <= smallLimit(df)) return small(p0)
    val p = parted(p0, sortExprs, numParts)
    val w = Window.partitionBy("__gr_pid").orderBy(sortExprs: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wo = Window.orderBy("__gr_pid")
    val off0 = p.groupBy("__gr_pid").agg(sum(col(valueCol)).as("__gr_psum"))
      .withColumn("__gr_off",
        coalesce(sum(col("__gr_psum")).over(
          wo.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val off =
      if (totalCol.isEmpty) off0.select("__gr_pid", "__gr_off")
      else off0.withColumn(totalCol, sum(col("__gr_psum")).over(
          wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select("__gr_pid", "__gr_off", totalCol)
    p.withColumn("__gr_cum", sum(col(valueCol)).over(w))
      .join(broadcast(off), Seq("__gr_pid"))
      .withColumn(resultCol, col("__gr_off") + col("__gr_cum"))
      .drop("__gr_pid", "__gr_cum", "__gr_off")
  }

  /** Exclusive variant: the prefix sum of everything strictly earlier
    * (0 for the first row). */
  def exclusivePrefixSum(df: DataFrame, sortExprs: Seq[Column],
                         valueCol: String, resultCol: String,
                         numParts: Int = 0): DataFrame =
    inclusivePrefixSum(df, sortExprs, valueCol, resultCol, numParts)
      .withColumn(resultCol, col(resultCol) - col(valueCol))

  /** [[rowNumber]] and [[inclusivePrefixSum]] off ONE range
    * partitioning (one shuffle, one persist, one offsets relation
    * carrying both the count and the sum) — the coverage-curve shape
    * ("rank by frequency, cumulative share") that would otherwise pay
    * the scan twice. */
  def rowNumberAndPrefixSum(df: DataFrame, sortExprs: Seq[Column],
                            valueCol: String, rnCol: String,
                            sumCol: String, numParts: Int = 0,
                            totalCol: String = ""): DataFrame = {
    checkReserved(df, Seq(rnCol, sumCol)
      ++ Option(totalCol).filter(_.nonEmpty): _*)
    def small(base: DataFrame): DataFrame = {
      val ws = Window.orderBy(sortExprs: _*)
      val withBoth = base
        .withColumn(rnCol, row_number().over(ws).cast("long"))
        .withColumn(sumCol, sum(col(valueCol)).over(
          ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      if (totalCol.isEmpty) withBoth
      else withBoth.withColumn(totalCol, sum(col(valueCol)).over(
        ws.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    }
    if (statsSmall(df)) return small(df)
    val (p0, cnt) = pinned(df)
    if (cnt <= smallLimit(df)) return small(p0)
    val p = parted(p0, sortExprs, numParts)
    val w = Window.partitionBy("__gr_pid").orderBy(sortExprs: _*)
    val woAll = Window.orderBy("__gr_pid")
    val wo = woAll.rowsBetween(Window.unboundedPreceding, -1)
    val off0 = p.groupBy("__gr_pid")
      .agg(count(lit(1)).as("__gr_pn"), sum(col(valueCol)).as("__gr_psum"))
      .withColumn("__gr_offn", coalesce(sum(col("__gr_pn")).over(wo), lit(0L)))
      .withColumn("__gr_offs", coalesce(sum(col("__gr_psum")).over(wo), lit(0L)))
    // grand total on the offsets side (see inclusivePrefixSum) — free
    // relative to a second pass over the input
    val offsets =
      if (totalCol.isEmpty) off0.select("__gr_pid", "__gr_offn", "__gr_offs")
      else off0.withColumn(totalCol, sum(col("__gr_psum")).over(
          woAll.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select("__gr_pid", "__gr_offn", "__gr_offs", totalCol)
    p.withColumn("__gr_lrn", row_number().over(w).cast("long"))
      .withColumn("__gr_lcum", sum(col(valueCol)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(offsets), Seq("__gr_pid"))
      .withColumn(rnCol, col("__gr_offn") + col("__gr_lrn"))
      .withColumn(sumCol, col("__gr_offs") + col("__gr_lcum"))
      .drop("__gr_pid", "__gr_lrn", "__gr_lcum", "__gr_offn", "__gr_offs")
  }
}
