package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

/** `Graph.labelPropagation` at its parameter extremes, against the
  * count + max-struct formulation it used before `mode`: 0, 1 and 20
  * rounds, no edges, one symmetric pair, all-tie neighbourhoods and
  * random symmetric graphs over few node ids (so ties are common). */
class LabelPropagationSpec extends SparkSpec {
  import spark.implicits._

  /** The reference: every node of either column starts with its own id
    * as label; a round counts (node, label) votes, then keeps the max of
    * (count, -label), i.e. the most frequent label, ties to the smallest. */
  private def reference(edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select(col("src").as("__src"), col("dst").as("__dst"))
    var labels = e.select(col("__src").as("node"))
      .union(e.select(col("__dst"))).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      labels = labels
        .join(e, labels("node") === e("__src"))
        .groupBy(col("__dst").as("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .groupBy("node")
        .agg(max(struct(col("__c"), (-col("label")).as("__nl"))).as("__w"))
        .select(col("node"), (-col("__w.__nl")).as("label"))
        .localCheckpoint()
    }
    labels
  }

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def symmetric(pairs: Seq[(Long, Long)]): DataFrame =
    (pairs ++ pairs.map(_.swap)).distinct.toDF("src", "dst")

  private def agrees(edges: DataFrame, rounds: Int): Map[Long, Long] = {
    val got = labels(Graph.labelPropagation(edges, "src", "dst", rounds))
    assert(got == labels(reference(edges, rounds)), s"at $rounds rounds")
    got
  }

  test("no edges: no labels at 0, 1 and 20 rounds") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    for (r <- Seq(0, 1, 20)) assert(agrees(empty, r).isEmpty)
  }

  test("one symmetric pair swaps labels every round") {
    val pair = symmetric(Seq(1L -> 2L))
    assert(agrees(pair, 0) == Map(1L -> 1L, 2L -> 2L))
    assert(agrees(pair, 1) == Map(1L -> 2L, 2L -> 1L))
    assert(agrees(pair, 20) == Map(1L -> 1L, 2L -> 2L))
  }

  test("all-tie neighbourhoods go to the smallest label") {
    // K4: every vote count is 1 in round 1, so each node takes its
    // smallest neighbour; round 2 settles on 1 everywhere
    val k4 = symmetric(for (a <- 1L to 4L; b <- a + 1 to 4L) yield a -> b)
    assert(agrees(k4, 1) == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    assert(agrees(k4, 20) == (1L to 4L).map(_ -> 1L).toMap)
    // a star: the hub sees every leaf label once, each leaf sees the hub
    val star = symmetric((5L to 9L).map(0L -> _))
    assert(agrees(star, 1) == Map(0L -> 5L) ++ (5L to 9L).map(_ -> 0L))
  }

  test("random symmetric graphs agree with the reference at 0, 1, 3 and 20 rounds") {
    val graph: Gen[Seq[(Long, Long)]] = for {
      n <- Gen.choose(1, 14)
      pairs <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L)))
    } yield pairs.filter { case (a, b) => a != b }
    val seed = rng.Seed(7L)
    val graphs = Iterator.iterate(seed)(_.next)
      .flatMap(s => graph(Gen.Parameters.default, s))
      .filter(_.nonEmpty).take(6).toSeq
    graphs.zipWithIndex.foreach { case (g, i) =>
      val edges = symmetric(g)
      Seq(0, 1, 3).foreach(agrees(edges, _))
      if (i < 2) agrees(edges, 20)
    }
  }
}
