package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GlobalRank — the distributed exact substitutes for single-partition
  * `Window.orderBy(...)` ranking: parity with the window forms
  * (bit-identical assignments), edge shapes (T < n, one partition,
  * heavy ties broken by key), and the structural pin that the only
  * global window each plan retains is the metadata-scale offsets scan
  * (one row per shuffle partition). */
class GlobalRankSpec extends SparkSpec {
  import spark.implicits._

  // 10007 rows (prime — never divides evenly by the tile counts) with
  // heavy ties in v, broken total by id
  private def data = spark.range(10007)
    .select($"id", pmod($"id" * 2654435761L, lit(97L)).as("v"))

  /** The parity + structural tests exercise the DISTRIBUTED machinery:
    * force it regardless of input size (the adaptive gate would
    * otherwise route these rollup-sized fixtures to the plain window
    * form and the tests would compare a window with itself). */
  private def forceDistributed[T](body: => T): T = {
    spark.conf.set("spark.graft.globalrank.maxSinglePartitionRows", "0")
    try body
    finally spark.conf.unset("spark.graft.globalrank.maxSinglePartitionRows")
  }

  test("rowNumber equals the single-partition window row_number across range boundaries") { forceDistributed {
    val sort = Seq(col("v"), col("id"))
    val got = GlobalRank.rowNumber(data, sort, "rn", numParts = 8)
      .select($"id", $"rn").as[(Long, Long)].collect().toMap
    val want = data.withColumn("rn",
        row_number().over(Window.orderBy(col("v"), col("id"))).cast("long"))
      .select($"id", $"rn").as[(Long, Long)].collect().toMap
    assert(got == want)
  } }

  test("ntile equals the single-partition window ntile (uneven tiles, desc sort, T < n)") { forceDistributed {
    for (n <- Seq(5, 10, 32)) {
      val sort = Seq(col("v").desc, col("id"))
      val got = GlobalRank.ntile(data, n, sort, "t", numParts = 8)
        .select($"id", $"t").as[(Long, Int)].collect().toMap
      val want = data.withColumn("t",
          ntile(n).over(Window.orderBy(col("v").desc, col("id"))))
        .select($"id", $"t").as[(Long, Int)].collect().toMap
      assert(got == want, s"ntile($n) mismatch")
    }
    // T < n: every row its own tile, trailing tiles empty
    val tiny = data.limit(3)
    val got = GlobalRank.ntile(tiny, 10, Seq(col("id")), "t")
      .select($"id", $"t").as[(Long, Int)].collect().toMap
    val want = tiny.withColumn("t", ntile(10).over(Window.orderBy("id")))
      .select($"id", $"t").as[(Long, Int)].collect().toMap
    assert(got == want, "T < n must assign one row per tile")
  } }

  test("inclusive/exclusive prefix sums equal the window cumulative sums") { forceDistributed {
    val sort = Seq(col("v").desc, col("id"))
    val w = Window.orderBy(col("v").desc, col("id"))
    val inc = GlobalRank.inclusivePrefixSum(data, sort, "v", "c", numParts = 8)
      .select($"id", $"c").as[(Long, Long)].collect().toMap
    val wantInc = data.withColumn("c", sum($"v").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"id", $"c").as[(Long, Long)].collect().toMap
    assert(inc == wantInc)
    val exc = GlobalRank.exclusivePrefixSum(data, sort, "v", "c", numParts = 8)
      .select($"id", $"c").as[(Long, Long)].collect().toMap
    val wantExc = data.withColumn("c", coalesce(sum($"v").over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"id", $"c").as[(Long, Long)].collect().toMap
    assert(exc == wantExc)
  } }

  test("structural pin: the only global window is the per-partition offsets scan (one row per shuffle partition)") { forceDistributed {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = GlobalRank.ntile(data, 5, Seq(col("v"), col("id")), "t")
      .queryExecution.optimizedPlan
    val globals = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    assert(globals.nonEmpty, "the offsets prefix scan plans one global window")
    globals.foreach { w =>
      val overAggregate = w.child.collectFirst { case a: Aggregate => a }
      assert(overAggregate.exists(_.groupingExpressions.nonEmpty),
        s"every global window must sit over the per-__pid aggregate " +
          s"(metadata-scale), found one over:\n${w.child}")
    }
    // and the data-sized window is partitioned (by __pid)
    val partitioned = plan.collect {
      case w: LWindow if w.partitionSpec.nonEmpty => w }
    assert(partitioned.nonEmpty, "the rank window must be partitioned")
  } }

  test("adaptive dispatch: a small input takes the single-partition window form and matches it; the conf gate flips the plan") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // default gate (2^20): 10007 rows take the window form — no range
    // exchange, no __gr_ internals in the plan
    val small = GlobalRank.ntile(data, 5, Seq(col("v"), col("id")), "t")
    val smallPlan = small.queryExecution.optimizedPlan
    assert(smallPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w }.nonEmpty,
      "small path must plan the single-partition window")
    assert(!small.queryExecution.executedPlan.toString.contains("__gr_pid"),
      "small path must not build the distributed machinery")
    val got = small.select($"id", $"t").as[(Long, Int)].collect().toMap
    val want = data.withColumn("t",
        ntile(5).over(Window.orderBy(col("v"), col("id"))))
      .select($"id", $"t").as[(Long, Int)].collect().toMap
    assert(got == want, "small path must equal the window form")
    // gate at 0: the same input plans the distributed machinery
    val big = forceDistributed {
      GlobalRank.ntile(data, 5, Seq(col("v"), col("id")), "t")
    }
    assert(big.queryExecution.executedPlan.toString.contains("__gr_pid"),
      "a 0 gate must force the distributed plan")
    val gotBig = big.select($"id", $"t").as[(Long, Int)].collect().toMap
    assert(gotBig == want, "both paths must agree")
  }

  test("ntiles equals nesting ntile (both paths), off one dispatch") {
    val sorts = Seq(
      (Seq(col("v"), col("id")), "a"),
      (Seq(col("v").desc, col("id")), "b"),
      (Seq(pmod($"id" * 31L, lit(11L)), col("id")), "c"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"a", $"b", $"c").as[(Long, Int, Int, Int)]
        .collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val want = asMap(sorts.foldLeft(data) { case (acc, (se, rc)) =>
      acc.withColumn(rc, ntile(7).over(Window.orderBy(se: _*))) })
    assert(asMap(GlobalRank.ntiles(data, 7, sorts)) == want,
      "small path must equal the nested window form")
    val big = forceDistributed {
      asMap(GlobalRank.ntiles(data, 7, sorts, numParts = 8))
    }
    assert(big == want, "distributed path must equal the nested window form")
  }

  test("stats pre-gate: a provably tiny input takes the window form with no persist and no counting job") {
    // LocalRelation/range stats are exact and tiny — the pre-gate must
    // fire, so the returned plan is the PLAIN window over the input:
    // no InMemoryRelation (no persist), and no count() job ran (jobs
    // counted via a listener)
    // earlier tests' pinned persists would otherwise be substituted
    // into this plan by the CacheManager and read as a false persist
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = GlobalRank.ntile(data, 5, Seq(col("v"), col("id")), "t")
      Thread.sleep(500) // job-start events are delivered async
      assert(jobs.get() == 0,
        s"stats pre-gate must not launch a dispatch job (ran ${jobs.get()})")
      assert(!out.queryExecution.executedPlan.toString.contains("InMemoryRelation")
          && !out.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
        "pre-gated small path must not persist its input")
      // the bytes gate alone can be disabled: the measured-count gate
      // then runs (one persist + count job) and still picks the window form
      spark.conf.set("spark.graft.globalrank.maxSinglePartitionBytes", "0")
      try {
        val out2 = GlobalRank.ntile(data, 5, Seq(col("v"), col("id")), "t")
        val deadline = System.currentTimeMillis() + 10000
        while (jobs.get() == 0 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        assert(jobs.get() > 0,
          "with the bytes gate off, the measured count gate must run its job")
        assert(out2.queryExecution.executedPlan.toString.contains("InMemoryTableScan"),
          "count-gated small path reads the pinned input")
      } finally spark.conf.unset("spark.graft.globalrank.maxSinglePartitionBytes")
      // an exploded input keeps its child's tiny byte estimate while its
      // rows multiply (10 -> 1000): the pre-gate must decline it, so the
      // count gate runs and, with the row gate below 1000, the
      // distributed plan is taken instead of the single-partition window
      val exploded = spark.range(10)
        .select(explode(sequence(lit(1L), lit(100L))).as("k"), $"id")
        .select(($"id" * 100L + $"k").as("id"), pmod($"k", lit(7L)).as("v"))
      spark.catalog.clearCache()
      Thread.sleep(500)
      jobs.set(0)
      spark.conf.set("spark.graft.globalrank.maxSinglePartitionRows", "500")
      try {
        val out3 = GlobalRank.ntile(exploded, 5, Seq(col("v"), col("id")), "t")
        val deadline = System.currentTimeMillis() + 10000
        while (jobs.get() == 0 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        assert(jobs.get() > 0,
          "an exploded input must go to the measured count gate")
        assert(out3.queryExecution.executedPlan.toString.contains("__gr_pid"),
          "1000 rows over a 500-row gate must take the distributed plan")
        assert(out3.count() == 1000)
      } finally spark.conf.unset("spark.graft.globalrank.maxSinglePartitionRows")
    } finally sc.removeSparkListener(listener)
  }

  test("adaptive dispatch: rowNumber and prefix-sum small paths match the window forms (types included)") {
    val sort = Seq(col("v").desc, col("id"))
    val w = Window.orderBy(col("v").desc, col("id"))
    val rn = GlobalRank.rowNumber(data, sort, "rn")
    assert(rn.schema("rn").dataType.typeName == "long")
    assert(rn.select($"id", $"rn").as[(Long, Long)].collect().toMap ==
      data.withColumn("rn", row_number().over(w).cast("long"))
        .select($"id", $"rn").as[(Long, Long)].collect().toMap)
    val inc = GlobalRank.inclusivePrefixSum(data, sort, "v", "c",
      totalCol = "tot")
    val incRows = inc.select($"id", $"c", $"tot")
      .as[(Long, Long, Long)].collect()
    val wantC = data.withColumn("c", sum($"v").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"id", $"c").as[(Long, Long)].collect().toMap
    val totalV = data.agg(sum($"v")).as[Long].head()
    assert(incRows.map(r => (r._1, r._2)).toMap == wantC)
    assert(incRows.forall(_._3 == totalV), "totalCol must carry the grand total")
    val both = GlobalRank.rowNumberAndPrefixSum(data, sort, "v", "rn", "c",
      totalCol = "tot")
    val bothRows = both.select($"id", $"rn", $"c", $"tot")
      .as[(Long, Long, Long, Long)].collect()
    assert(bothRows.map(r => (r._1, r._3)).toMap == wantC)
    assert(bothRows.forall(_._4 == totalV))
  }
}
