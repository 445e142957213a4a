package graft.operators

import graft.SparkSpec
import graft.analytics.Events
import org.apache.spark.sql.functions._

/** Hand-computed fixtures for the round-6 additions: gaps-and-islands
  * streaks, synchronous label propagation, and mix-shift
  * decomposition. */
class MixStreaksLpaSpec extends SparkSpec {
  import spark.implicits._

  test("activityStreaks: islands, duplicates collapse, singleton runs") {
    val df = Seq(
      (1L, "2024-01-01"), (1L, "2024-01-02"), (1L, "2024-01-03"),
      (1L, "2024-01-05"),
      (2L, "2024-01-01"), (2L, "2024-01-01"), // same day twice: one active day
      (2L, "2024-01-04")
    ).toDF("u", "d").withColumn("ts", col("d").cast("timestamp"))
    val out = Events.activityStreaks(df, "u", "ts")
      .orderBy("u")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 4L, 2L, 3L), (2L, 2L, 2L, 1L)))
  }

  test("labelPropagation: two triangles bridged by one edge split into two communities") {
    val base = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L))
    val sym = (base ++ base.map(_.swap)).toDF("src", "dst")
    val out = Graph.labelPropagation(sym, "src", "dst", rounds = 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    // hand-rolled 3 synchronous rounds (most-frequent neighbor label,
    // ties to smallest): triangle {1,2,3} -> 1, triangle {4,5,6} -> 3
    assert(out == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 3L), (5L, 3L), (6L, 3L)))
  }

  test("labelPropagation keeps isolated-side labels deterministic across reruns") {
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val sym = (base ++ base.map(_.swap)).toDF("src", "dst")
    val a = Graph.labelPropagation(sym, "src", "dst", rounds = 2)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val b = Graph.labelPropagation(sym, "src", "dst", rounds = 2)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(a == b)
  }

  test("mixShift: exact decomposition with zero residual on a clean rate change") {
    val df = Seq(
      ("A", 1, 100L), ("A", 1, 200L),
      ("A", 2, 150L), ("A", 2, 150L), ("A", 2, 300L),
      ("B", 2, 50L) // absent in period 1 -> NULL rates/effects
    ).toDF("k", "p", "v")
    val out = Stats.mixShift(df, "k", "p", "v").orderBy("k").collect()
    val a = out(0)
    assert(a.getLong(a.fieldIndex("u1")) == 2L)
    assert(a.getLong(a.fieldIndex("u2")) == 3L)
    assert(a.getLong(a.fieldIndex("delta")) == 300L)
    assert(a.getLong(a.fieldIndex("rate1_e6")) == 150000000L)
    assert(a.getLong(a.fieldIndex("rate2_e6")) == 200000000L)
    assert(a.getLong(a.fieldIndex("volume_effect_e6")) == 150000000L)
    assert(a.getLong(a.fieldIndex("rate_effect_e6")) == 150000000L)
    assert(a.getLong(a.fieldIndex("residual_e6")) == 0L)
    val b = out(1)
    assert(b.getLong(b.fieldIndex("u1")) == 0L)
    assert(b.isNullAt(b.fieldIndex("rate1_e6")))
    assert(b.isNullAt(b.fieldIndex("volume_effect_e6")))
  }

  test("sortedNeighborhoodPairs links sort-adjacent near-dups without a global window") {
    val names = Seq((1L, "alpha"), (2L, "alphx"), (3L, "beta"),
      (4L, "betb"), (5L, "zzzzz")).toDF("id", "nm")
    val out = Reconcile.sortedNeighborhoodPairs(names, "id", "nm",
        window = 3, maxDist = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out.contains((1L, 2L))) // alpha ~ alphx, adjacent in sort
    assert(out.contains((3L, 4L))) // beta ~ betb, adjacent in sort
    assert(!out.exists(p => p._1 == 5L || p._2 == 5L)) // zzzzz links to nothing
    // the rank comes from the distributed pid-stamped prefix sum (the
    // scale contract) when the input exceeds GlobalRank's size gate —
    // force the gate to 0 to pin the at-scale plan (the 5-row fixture
    // would otherwise take the bit-identical window form)
    val plan = graft.SessionConf.scoped(spark,
        "spark.graft.globalrank.maxSinglePartitionRows" -> "0") {
      Reconcile.sortedNeighborhoodPairs(names, "id", "nm", 3, 2)
        .queryExecution.executedPlan.toString
    }
    assert(plan.contains("__gr_pid"),
      "rank must come from the pid-partitioned prefix sum (GlobalRank)")
  }

  test("jaroWinklerPairs only scores within blocks and respects the threshold") {
    val names = Seq((1L, "alphabravo"), (2L, "alphabrav"), (3L, "alphabrava"),
      (4L, "zuluwhiskey")).toDF("id", "nm")
    val out = Reconcile.jaroWinklerPairs(names, "id", "nm",
        minScoreE6 = 900000L, prefixLen = 4, lenBand = 2)
      .orderBy("id_a", "id_b")
      .as[(Long, Long, Long)].collect().toSeq
    // zuluwhiskey shares no prefix-4 block; the three alpha* names pair up
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(out.forall(_._3 >= 900000L))
  }
}
