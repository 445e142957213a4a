package graft.operators

import graft.SparkSpec
import graft.sources.Readers
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Scale-mechanics evidence: bucketed co-located joins, corrupt-file
  * tolerance, schema-drift merge — the behaviors that matter at 100 TB
  * but are invisible in a row-count check. */
class ScaleShapeSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join with ZERO exchange (co-located join)") {
    val ta = "bucketed_a_" + System.nanoTime()
    val tb = "bucketed_b_" + System.nanoTime()
    (1L to 10000L).map(i => (i, s"a$i")).toDF("k", "va")
      .write.bucketBy(8, "k").sortBy("k").saveAsTable(ta)
    (1L to 10000L).map(i => (i, i * 2.0)).toDF("k", "vb")
      .write.bucketBy(8, "k").sortBy("k").saveAsTable(tb)
    graft.SessionConf.scoped(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = spark.table(ta).join(spark.table(tb), Seq("k"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == 10000)
    }
  }

  test("contamination semi-join broadcasts the small benchmark side at runtime") {
    // the bench shingle set is tiny relative to the corpus; with no
    // forced hint, Catalyst/AQE must land on a broadcast left-semi so
    // the corpus never shuffles for decontamination
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.analytics.Curation.contamination(
      docs.filter($"doc_id" % 10 =!= 0), "doc_id", "text",
      docs.filter($"doc_id" % 10 === 0), "text", n = 3)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected semi join:\n$plan")
    assert(plan.matches("(?s).*BroadcastHashJoin.*LeftSemi.*")
      || plan.matches("(?s).*LeftSemi.*BroadcastHashJoin.*"),
      s"benchmark side must broadcast at runtime:\n$plan")
  }

  test("partitioned layout prunes partitions at file-listing time") {
    val dir = Files.createTempDirectory("part").toString + "/orders"
    val orders = graft.queries.t(spark, sf, "orders")
      .withColumn("order_year", year($"o_orderdate"))
    Layout.writePartitioned(orders, dir, Seq("order_year"))
    val read = spark.read.parquet(dir).filter($"order_year" === 1995)
    read.collect()
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*order_year[^\\]]*\\].*"),
      s"partition filter not applied at listing time:\n$plan")
    val expect = orders.filter($"order_year" === 1995).count()
    assert(read.count() == expect && expect > 0)
  }

  test("saltedAgg spreads hot keys and matches plain groupBy exactly") {
    // heavily skewed: 90% of rows share one key
    val df = (1L to 20000L).map { i =>
      (if (i % 10 != 0) "HOT" else s"k${i % 97}", i % 1000, 1.0 * (i % 50))
    }.toDF("k", "n", "x")
    val salted = Layout.saltedAgg(df, Seq("k"), salt = 16, Seq(
      ("cnt", count(lit(1)), (c: org.apache.spark.sql.Column) => sum(c)),
      ("total_n", sum($"n"), (c: org.apache.spark.sql.Column) => sum(c)),
      ("max_x", max($"x"), (c: org.apache.spark.sql.Column) => max(c))))
    val plain = df.groupBy("k").agg(
      count(lit(1)).as("cnt"), sum($"n").as("total_n"), max($"x").as("max_x"))
    val a = salted.orderBy("k").collect().map(_.toSeq).toSeq
    val b = plain.orderBy("k").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // complements saltedAgg/saltedEquiJoin (the plan-level skew fixes):
    // AQE's runtime skew split is the zero-code path, and this pins
    // that our conf surface actually triggers it on a hot key
    graft.SessionConf.scoped(spark,
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32768",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      // 200k rows, 95% on one key, joined to a small-but-not-broadcast dim
      val big = spark.range(200000).select(
        when($"id" % 20 === 0, $"id" % 50).otherwise(lit(7L)).as("k"),
        concat(lit("payload_"), $"id").as("payload"))
      val dim = spark.range(50).select($"id".as("k2"), concat(lit("d"), $"id").as("dv"))
      val joined = big.join(dim, $"k" === $"k2")
      // execute THIS plan (count() would build a separate aggregate
      // plan and leave joined's AQE plan unfinalized)
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${plan.take(4000)}")
    }
  }

  test("z-order clustering bounds BOTH dimensions per bucket; single sort does not") {
    import spark.implicits._
    // two independent uniform dimensions (decorrelated by multiplicative
    // hashing), 16 range buckets over 8192 rows
    val rows = (0L until 8192L)
      .map(i => (i, (i * 2654435761L) % 65536L, (i * 40503L) % 65536L))
      .toDF("id", "a", "b")
    def meanRangeOfB(bucketed: org.apache.spark.sql.DataFrame): Double = {
      val r = bucketed.groupBy("bucket")
        .agg((org.apache.spark.sql.functions.max("b")
          - org.apache.spark.sql.functions.min("b")).as("rb"))
        .agg(org.apache.spark.sql.functions.avg("rb")).as[Double].head()
      r
    }
    val byZ = rows.withColumn("bucket",
      org.apache.spark.sql.functions.floor(
        Layout.zorder2($"a", $"b") / org.apache.spark.sql.functions.lit(
          (1L << 32) / 16L)))
    val byA = rows.withColumn("bucket",
      org.apache.spark.sql.functions.floor($"a" / 4096L)) // 16 buckets on a alone
    val zRange = meanRangeOfB(byZ)
    val aRange = meanRangeOfB(byA)
    // sorting on `a` alone leaves b's per-bucket range at ~full width
    // (~65k); z-order buckets bound b to a fraction of it
    assert(aRange > 55000.0, s"single-sort b-range unexpectedly small: $aRange")
    assert(zRange < aRange / 2,
      s"z-order must bound the off dimension: z=$zRange vs single=$aRange")
  }

  test("lenient scan skips corrupt files instead of failing the run") {
    val dir = Files.createTempDirectory("lenient").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("append").parquet(dir)
    // plant a corrupt object among the good ones
    Files.writeString(java.nio.file.Paths.get(s"$dir/part-corrupt.parquet"),
      "this is not a parquet file")
    intercept[Exception] { spark.read.parquet(dir).count() } // strict fails
    val out = Readers.parquetLenient(spark, dir)
    assert(out.count() == 2)
    assert(out.select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("mergeSchema read unions drifting file schemas (scan-time O2)") {
    val dir = Files.createTempDirectory("drift").toString
    Seq((1L, "x")).toDF("id", "v1").write.mode("append").parquet(dir)
    Seq((2L, 9.5)).toDF("id", "v2").write.mode("append").parquet(dir)
    val out = Readers.parquetMerged(spark, dir)
    assert(out.columns.sorted.toSeq == Seq("id", "v1", "v2"))
    assert(out.count() == 2)
    assert(out.filter($"id" === 2L && $"v1".isNull).count() == 1)
  }

  test("iterative graph ops keep O(1) plans per round (lineage truncation)") {
    // kPeel references its previous frame 3x per round: without the
    // per-round localCheckpoint the logical plan grows 3^rounds and a
    // 6-round run OOMs just STRINGIFYING the plan (observed). The rank
    // loops reference it once, but a persisted chain still nests every
    // earlier round's plan in the next. The regression gate: each op's
    // round-6 plan must stay within small-constant size of its round-1
    // plan.
    val g = (1 to 40).flatMap(i => Seq((i, i % 7 + 100), (i, i % 5 + 200)))
      .toDF("x", "y")
    val sym = g.union(g.select($"y", $"x"))
    val seeds = Seq(1).toDF("s")
    def bounded(name: String, op: Int => org.apache.spark.sql.DataFrame): Unit = {
      def planLen(rounds: Int): Int =
        op(rounds).queryExecution.optimizedPlan.toString.length
      val p1 = planLen(1)
      val p6 = planLen(6)
      assert(p6 < p1 * 4 + 10000,
        s"round-6 $name plan ($p6 chars) blew up vs round-1 ($p1) — lineage leak")
    }
    bounded("kPeel", r => Graph.kPeel(g, "x", "y", k = 2, rounds = r))
    bounded("bfsHops", r => Graph.bfsHops(g, "x", "y", seeds, "s", r))
    bounded("shortestPaths", r => Graph.shortestPaths(
      g.withColumn("w", lit(1L)), "x", "y", "w", seeds, "s", r))
    bounded("pageRank", r => Graph.pageRank(g, "x", "y", iters = r))
    bounded("personalizedPageRank", r => Graph.personalizedPageRank(
      g, "x", "y", seeds, "s", iters = r))
    bounded("hits", r => Graph.hits(g, "x", "y", iters = r))
    bounded("labelPropagation", r => Graph.labelPropagation(
      sym, "x", "y", rounds = r))
    // a caller asking for many rounds gets linear, not exponential, time
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    implicit val signaler: Signaler = ThreadSignaler
    TimeLimits.failAfter(120.seconds) {
      Graph.pageRank(g, "x", "y", iters = 20).collect()
    }
  }

  test("stopGrams: totals ride a broadcast; no row-keyed join, no cartesian") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.analytics.TextAnalysis.stopGrams(
      docs, "doc_id", "source", "text", n = 3, minDfPct = 5)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"totals must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"gram relation must never shuffle-join:\n$p")
  }

  test("probeMinhashIndex: corpus scans join map-side, never shuffled") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text")
    val idx = java.nio.file.Files.createTempDirectory("mh-shape").toString
    graft.analytics.Dedup.writeMinhashIndex(docs, "doc_id", "text", idx, n = 3)
    val batch = docs.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    val out = graft.analytics.Dedup.probeMinhashIndex(
      spark, idx, batch, "doc_id", "text")
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    // both corpus relations (stored bands, stored shingles) must sit on
    // the STREAMED side of broadcast joins — a probe that sort-merges
    // would shuffle the whole index per daily batch
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"bands and shingles must broadcast-join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus index must never be shuffled by a probe:\n$p")
  }

  test("stratifiedHashSample: one group-keyed exchange, no global sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.analytics.Curation.stratifiedHashSample(
      docs, "doc_id", "source", k = 10)
    val p = out.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly the group shuffle:\n$p")
    assert(p.contains("hashpartitioning(source"),
      s"window must partition by the stratum:\n$p")
    // rank <= k must plan the map-side partial top-k: with few huge
    // strata (5 sources at 100 TB) a full per-stratum sort is the
    // difference between shipping k rows and shipping the corpus
    assert(p.contains("WindowGroupLimit"),
      s"rank filter must plan WindowGroupLimit:\n$p")
  }

  test("rankAuc: prefix ranks come from the distributed range scan, not a global window") {
    val df = (1L to 5000L).map(i => (i % 997, i % 3 == 0)).toDF("score", "pos")
    // force GlobalRank's distributed path: the 997-row rollup fixture
    // would take the bit-identical window form under the default gate
    val p = graft.SessionConf.scoped(spark,
        "spark.graft.globalrank.maxSinglePartitionRows" -> "0") {
      Stats.rankAuc(df, "score", "pos").queryExecution.executedPlan.toString
    }
    assert(p.contains("rangepartitioning"),
      s"expected repartitionByRange prefix machinery:\n$p")
    // every window in the plan must carry a partition key (__pid) — a
    // partition-less window is the single-task formulation this
    // operator exists to avoid
    val specs = "windowspecdefinition\\(([^,]*)".r.findAllMatchIn(p).map(_.group(1)).toList
    assert(specs.nonEmpty && specs.forall(_.contains("__gr_pid")),
      s"found a window without the __gr_pid partition key:\n$specs\n$p")
  }
}
