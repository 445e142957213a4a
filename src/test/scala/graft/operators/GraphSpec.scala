package graft.operators

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: hub of a star out-ranks leaves; teleport floor holds") {
    // undirected star: hub h <-> leaves l1..l8
    val pairs = (1 to 8).flatMap(i => Seq(("h", s"l$i"), (s"l$i", "h")))
    val got = Graph.pageRank(pairs.toDF("src", "dst"), "src", "dst", iters = 5)
      .as[(String, Long)].collect().toMap
    val leafRanks = (1 to 8).map(i => got(s"l$i")).toSet
    assert(leafRanks.size == 1, "symmetric leaves must tie exactly")
    assert(got("h") > leafRanks.head * 4, s"hub ${got("h")} vs leaf ${leafRanks.head}")
    // every node keeps at least the teleport term (0.15e12 / 9)
    assert(got.values.forall(_ >= 150000000000L / 9))
    // truncated mass never exceeds the ideal total, and stays close
    val total = got.values.sum
    assert(total <= 1000000000000L && total > 990000000000L, total.toString)
  }

  // pageRank, hits and labelPropagation on one graph, keyed by node
  private def rankAll(df: org.apache.spark.sql.DataFrame) = (
    Graph.pageRank(df, "src", "dst", iters = 3)
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap,
    Graph.hits(df, "src", "dst", iters = 2)
      .collect().map(r => r.get(0) -> ((r.getLong(1), r.getLong(2)))).toMap,
    Graph.labelPropagation(
        df.union(df.select($"dst", $"src")).distinct(), "src", "dst",
        rounds = 2)
      .collect().map(r => r.get(0) -> r.get(1)).toMap)

  test("pageRank: bit-identical under repartitioning (integer arithmetic)") {
    // also hits and labelPropagation
    val df = (1 to 40).map(i => (i % 7L, (i * 3) % 7L))
      .filter(p => p._1 != p._2).distinct.toDF("src", "dst")
    val a = rankAll(df)
    assert(a._1.size == a._2.size && a._1.size == a._3.size)
    assert(rankAll(df.repartition(13)) == a)
  }

  test("coPartition gate: forced co-partitioning is bit-identical to the simple shape (pageRank, hits, labelPropagation)") {
    // the loops no longer re-lay out their input; hash-partitioning the
    // edges on the join key up front must still not change any result
    val df = (1 to 60).map(i => (i % 11L, (i * 5) % 11L))
      .filter(p => p._1 != p._2).distinct.toDF("src", "dst")
    val simple = rankAll(df)
    // node 0 only ever maps to itself, so the self-loop filter drops it
    assert(simple._1.size == 10 && simple._2.size == 10 && simple._3.size == 10)
    val forced = rankAll(df.repartition(7, $"src"))
    assert(forced == simple,
      "the co-partitioned input shape must not change any result")
  }

  test("rank loops release every cache at 0, 1 and 3 rounds; 0 rounds is the initial assignment") {
    // labelPropagation needs numeric node ids: a star, hub 0
    val df = (1L to 8L).flatMap(i => Seq((0L, i), (i, 0L))).toDF("src", "dst")
    val nodes = 0L to 8L
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    def run(name: String, n: Int, out: => org.apache.spark.sql.DataFrame) = {
      val rows = out.collect()
      assert(cache.isEmpty, s"$name at $n rounds left a relation cached")
      rows.map(r => r.getLong(0) -> r.toSeq.tail).toMap
    }
    for (n <- Seq(0, 1, 3)) {
      val pr = run("pageRank", n, Graph.pageRank(df, "src", "dst", iters = n))
      val ppr = run("personalizedPageRank", n, Graph.personalizedPageRank(
        df, "src", "dst", Seq(0L).toDF("s"), "s", iters = n))
      val hits = run("hits", n, Graph.hits(df, "src", "dst", iters = n))
      val lp = run("labelPropagation", n,
        Graph.labelPropagation(df, "src", "dst", rounds = n))
      assert(Seq(pr, ppr, hits, lp).forall(_.keySet == nodes.toSet))
      if (n == 0) {
        assert(pr == nodes.map(_ -> Seq(1000000000000L / 9)).toMap)
        assert(ppr == nodes.map(v =>
          v -> Seq(if (v == 0L) 1000000000000L else 0L)).toMap)
        assert(hits == nodes.map(_ -> Seq(1000000L, 1000000L)).toMap)
        assert(lp == nodes.map(v => v -> Seq(v)).toMap)
      }
    }
  }

  test("triangleStats: K4 and star give textbook censuses") {
    // K4: 4 nodes, 6 edges, 12 wedges, 4 triangles, clustering 1.0
    val k4 = (for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a, b)).toDF("a", "b")
    val r = Graph.triangleStats(k4, "a", "b")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(r == ((4L, 6L, 12L, 4L, 1000000L)))
    // star S4: hub wedges only, no triangles, clustering 0
    val star = (1 to 4).map(i => (0, i)).toDF("a", "b")
    val s = Graph.triangleStats(star, "a", "b")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(s == ((5L, 4L, 6L, 0L, 0L)))
  }

  test("triangleStats: canonicalizes dirty input (dups, reversals, self-loops)") {
    // triangle a-b-c plus pendant a-d, fed as a mess
    val dirty = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
      ("a", "a"), ("a", "d"), ("a", "d")).toDF("x", "y")
    val r = Graph.triangleStats(dirty, "x", "y")
      .as[(Long, Long, Long, Long, Long)].head()
    // deg a=3,b=2,c=2,d=1 -> wedges 3+1+1 = 5; 3*1e6 DIV 5 = 600000
    assert(r == ((4L, 4L, 5L, 1L, 600000L)))
  }

  test("kPeel: pendant peels off a triangle; extra rounds are no-ops") {
    val g = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")).toDF("x", "y")
    val got = Graph.kPeel(g, "x", "y", k = 2, rounds = 2)
      .as[(String, Long)].collect().toSet
    assert(got == Set(("a", 2L), ("b", 2L), ("c", 2L)))
    // fixpoint reached in 1 round; 5 rounds give the identical answer
    val more = Graph.kPeel(g, "x", "y", k = 2, rounds = 5)
      .as[(String, Long)].collect().toSet
    assert(more == got)
  }

  test("personalizedPageRank: hand-computed exact fixed-point on a star") {
    // undirected star a-b, a-c (both orientations), seed {b}:
    // r0: b=1e12; r1: a=85e10, b=15e10; r2 below — integer-exact
    val und = Seq(("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"))
      .toDF("src", "dst")
    val got = Graph.personalizedPageRank(und, "src", "dst",
        Seq("b").toDF("s"), "s", iters = 2)
      .as[(String, Long)].collect().toMap
    assert(got == Map(
      "a" -> 127500000000L,  // 85·(b's 15e10) div 100
      "b" -> 511250000000L,  // teleport 15e10 + 85·(85e10/2) div 100
      "c" -> 361250000000L)) // 85·(85e10/2) div 100, no teleport
  }

  test("bfsHops: exact hop distances, min over multiple seeds, isolated seed kept") {
    // path a-b-c-d-e with seeds {a, e}: distances collapse to the
    // nearer seed; z is an isolated seed (no edges) and must still
    // appear at distance 0
    val g = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")).toDF("x", "y")
    val seeds = Seq("a", "e", "z").toDF("s")
    val got = Graph.bfsHops(g, "x", "y", seeds, "s", rounds = 4)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 1L,
      "e" -> 0L, "z" -> 0L))
    // insufficient rounds: far nodes absent, near distances already exact
    val one = Graph.bfsHops(g, "x", "y", Seq("a").toDF("s"), "s", rounds = 1)
      .as[(String, Long)].collect().toMap
    assert(one == Map("a" -> 0L, "b" -> 1L))
  }

  test("kPeel: a path unravels from the ends; a clique survives intact") {
    val path = (1 to 4).map(i => (i, i + 1)).toDF("x", "y")
    // 5-path, k=2: ends peel round by round until nothing remains
    assert(Graph.kPeel(path, "x", "y", k = 2, rounds = 3).isEmpty)
    val k5 = (for { a <- 1 to 5; b <- 1 to 5 if a < b } yield (a, b)).toDF("x", "y")
    val got = Graph.kPeel(k5, "x", "y", k = 4, rounds = 2)
      .as[(Int, Long)].collect().toSet
    assert(got == (1 to 5).map(i => (i, 4L)).toSet)
  }

  test("hits: authority concentrates on the shared sink; pure sinks have zero hub") {
    // h1, h2, h3 all point at a1; h3 also points at a2 -> a1 is the
    // dominant authority, h3 the dominant hub (it reaches more mass)
    val edges = Seq(("h1", "a1"), ("h2", "a1"), ("h3", "a1"), ("h3", "a2"))
      .toDF("src", "dst")
    val r = Graph.hits(edges, "src", "dst", iters = 2)
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r("a1")._2 > r("a2")._2, "shared sink must out-rank the single-source sink")
    assert(r("a1")._1 == 0L && r("a2")._1 == 0L, "pure sinks have no hub mass")
    assert(r("h1")._2 == 0L && r("h2")._2 == 0L && r("h3")._2 == 0L)
    assert(r("h3")._1 > r("h1")._1, "the two-edge hub out-ranks single-edge hubs")
    assert(r("h1")._1 == r("h2")._1, "symmetric hubs tie exactly")
    // L1 normalization: each side's mass sums to ~1e6 (integer-div slack < n)
    val hubSum = r.values.map(_._1).sum
    val authSum = r.values.map(_._2).sum
    assert(hubSum > 1000000L - 10 && hubSum <= 1000000L)
    assert(authSum > 1000000L - 10 && authSum <= 1000000L)
    // determinism
    val again = Graph.hits(edges, "src", "dst", iters = 2)
      .collect().map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    assert(r == again)
  }

  test("shortestPaths: cheap 2-hop beats expensive direct edge; rounds bound hops") {
    // a->b (100), b->c (100), a->c direct (500), parallel a->c (400):
    // best ≤2-edge path a..c = 200; d hangs 3 edges out
    val e = Seq(("a", "b", 100L), ("b", "c", 100L), ("a", "c", 500L),
      ("a", "c", 400L), ("c", "d", 50L)).toDF("s", "t", "w")
    val seeds = Seq("a").toDF("n")
    val r1 = Graph.shortestPaths(e, "s", "t", "w", seeds, "n", rounds = 1)
      .as[(String, Long)].collect().toMap
    // one relaxation: direct edges only, parallel edges take the min
    assert(r1 == Map("a" -> 0L, "b" -> 100L, "c" -> 400L))
    val r2 = Graph.shortestPaths(e, "s", "t", "w", seeds, "n", rounds = 2)
      .as[(String, Long)].collect().toMap
    assert(r2 == Map("a" -> 0L, "b" -> 100L, "c" -> 200L, "d" -> 450L))
    val r3 = Graph.shortestPaths(e, "s", "t", "w", seeds, "n", rounds = 3)
      .as[(String, Long)].collect().toMap
    assert(r3 == r2 + ("d" -> 250L), "round 3 improves d via the cheap chain")
  }

  test("shortestPaths: bit-identical under repartitioning") {
    val e = (1 to 60).map(i => (s"n${i % 9}", s"n${(i * 5) % 9}", (i % 7) * 10L + 10L))
      .filter(p => p._1 != p._2).toDF("s", "t", "w")
    val seeds = Seq("n0").toDF("n")
    val a = Graph.shortestPaths(e, "s", "t", "w", seeds, "n", rounds = 3)
      .as[(String, Long)].collect().toMap
    val b = Graph.shortestPaths(e.repartition(13), "s", "t", "w", seeds, "n", rounds = 3)
      .as[(String, Long)].collect().toMap
    assert(a == b)
  }

  test("commonNeighborPairs: exact jaccard; df-cap drops hub vias from pairs only") {
    // u,v share vias {1,2}; u has {1,2,3}, v has {1,2,4} -> jaccard 2/4
    val inc = Seq(("u", 1L), ("u", 2L), ("u", 3L),
      ("v", 1L), ("v", 2L), ("v", 4L), ("x", 3L)).toDF("node", "via")
    val got = Graph.commonNeighborPairs(inc, "node", "via", minCommon = 2L)
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == Set(("u", "v", 2L, 500000L)))
    // a hub via shared by everyone: capped out of pair enumeration, but
    // still counted in the FULL degrees of surviving pairs
    val withHub = inc.union(Seq(("u", 9L), ("v", 9L), ("x", 9L)).toDF("node", "via"))
    val capped = Graph.commonNeighborPairs(withHub, "node", "via",
      minCommon = 2L, maxViaDegree = 2L)
      .as[(String, String, Long, Long)].collect().toSet
    // common stays 2 (via 9 dropped); degrees now 4 and 4 -> 2/6
    assert(capped == Set(("u", "v", 2L, 333333L)))
  }

  test("modularity: two bridged triangles score 5/14 exactly; one community 0") {
    val tri = for {
      (com, ns) <- Seq(("A", Seq("a1", "a2", "a3")), ("B", Seq("b1", "b2", "b3")))
      Seq(u, v) <- ns.combinations(2).toSeq
      (s, d) <- Seq((u, v), (v, u))
    } yield (com, com, s, d)
    val bridge = Seq(("A", "B", "a1", "b1"), ("B", "A", "b1", "a1"))
    val edges = (tri ++ bridge).map { case (sc, dc, _, _) => (sc, dc) }
      .toDF("src_com", "dst_com")
    val got = Graph.modularity(edges, "src_com", "dst_com").collect().head
    // Q = 12/14 - 2*(7/14)^2 = 5/14 = 0.357142...
    assert((got.getLong(0), got.getLong(1), got.getLong(2)) ==
      ((7L, 2L, 357142L)))
    val one = edges
      .withColumn("src_com", org.apache.spark.sql.functions.lit("X"))
      .withColumn("dst_com", org.apache.spark.sql.functions.lit("X"))
    assert(Graph.modularity(one, "src_com", "dst_com").collect().head.getLong(2) == 0L)
  }

  test("degreeAssortativity: star is exactly -1, regular graph is NULL") {
    // star: hub degree 3, leaves degree 1 -> every edge pairs (3,1) or
    // (1,3): perfect anti-correlation
    val star = Seq(("h", "a"), ("h", "b"), ("h", "c"),
      ("a", "h"), ("b", "h"), ("c", "h")).toDF("src", "dst")
    val got = Graph.degreeAssortativity(star, "src", "dst").collect().head
    assert((got.getLong(0), got.getLong(1)) == ((6L, -1000000L)))
    // 3-cycle: all degrees equal -> zero variance -> NULL
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("b", "a"), ("c", "b"), ("a", "c")).toDF("src", "dst")
    assert(Option(Graph.degreeAssortativity(cyc, "src", "dst")
      .collect().head.get(1)) == None)
  }
}
