package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics on DataFrames (extension surface; the
  * dedup ladder's connected components live in analytics/Dedup — this
  * module holds the rank-propagation side).
  */
object Graph {

  private val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** PageRank in EXACT fixed-point arithmetic: ranks are integer
    * 1e-12 units (`rank_e12`), every step is integer division —
    *   r'(v) = (0.15·10¹²) div N  +  (85 · Σ_{u→v} r(u) div deg(u)) div 100
    * — so the result after `iters` rounds is bit-identical on any
    * engine, partitioning, or run (float PageRank drifts in the last
    * ulps per accumulation order, which a hash-compared pipeline
    * cannot tolerate). Truncation loses < 1e-12 of mass per edge per
    * round: irrelevant to ranking, and deterministic.
    *
    * Scale shape per iteration: one equi-join of the rank relation to
    * the edge list on the source key, one hash aggregate on the
    * destination — the canonical distributed PageRank step (shuffles
    * on src then dst; at 1000 executors both are plain key shuffles,
    * salted upstream if a hub key is pathological). The edge list,
    * degree relation, and the loop-invariant (node, total) base are
    * computed once and PERSISTED until the loop ends; each new rank
    * frame goes through [[Fixpoint.cut]], so a round's plan reads the
    * previous round's materialized ranks and stays the same size every
    * round (persisting each round instead would nest every earlier
    * round's plan in the next; under AQE the executed plan doubles per
    * round). Nodes with no in-edges keep the teleport term only.
    * `iters = 0` returns the initial assignment, 10¹² div N per node.
    *
    * `edges` must be distinct (src, dst) pairs; nodes are whatever
    * appears in either column. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 5): DataFrame = {
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .persist(lvl)
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst")))
      .distinct().persist(lvl)
    rankLoop(e, nodes, count(lit(1)).as("__n"),
      init = "1000000000000L DIV __n", teleport = "150000000000L DIV __n",
      iters)
  }

  /** The pageRank / personalizedPageRank iteration over the persisted
    * edge projection `e` (__src, __dst) and node set `nodes` (callers
    * persist `e`: it feeds the degree window and both arms of the node
    * union, and an expensive upstream would otherwise be recomputed
    * once per consumer). `total` is the 1-row aggregate over `nodes`
    * that `init` and `teleport` divide by; it is joined to the node set
    * ONCE and persisted, never re-broadcast inside the loop. Degree is folded into the edge list
    * once as a PARTITIONED window count: one exchange and one scan of
    * `e`, and the result is hash-partitioned AND sorted by the
    * per-round join key by construction, so each round's rank ⋈ edges
    * join reads it from cache with no exchange and no sort (guide
    * §2.4). Every persisted relation is released after the loop. */
  private def rankLoop(e: DataFrame, nodes: DataFrame,
                       total: org.apache.spark.sql.Column, init: String,
                       teleport: String, iters: Int): DataFrame = {
    val eDeg = e
      .withColumn("__deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("__src")))
      .persist(lvl)
    val nodesN = nodes.crossJoin(broadcast(nodes.agg(total))).persist(lvl)
    var rank = nodesN.select(col("node"), expr(init).as("rank_e12"))
    for (_ <- 1 to iters) {
      val contribs = rank
        .join(eDeg, rank("node") === eDeg("__src"))
        .select(col("__dst").as("node"), expr("rank_e12 DIV __deg").as("__c"))
        .groupBy("node").agg(sum("__c").as("__in"))
      rank = Fixpoint.cut(nodesN
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (expr(teleport) + expr("85L * coalesce(__in, 0L) DIV 100"))
            .as("rank_e12")))
    }
    // every round's cut materialized its ranks; at iters = 0 the
    // caller's action recomputes the initial assignment from `edges`
    Seq(e, nodes, eDeg, nodesN).foreach(_.unpersist())
    rank
  }

  /** HITS hubs-and-authorities in EXACT e6 fixed-point integers.
    * Each round: authority(v) = Σ_{u→v} hub(u), hub(u) = Σ_{u→v}
    * auth(v), each L1-normalized to 1e6 total via integer division
    * (float HITS L2-normalizes; L1 keeps every step an exact integer
    * so the result is engine- and partitioning-identical — same
    * trade as pageRank's e12 units). The e6 scale is what keeps every
    * intermediate Long-safe: Σ hub ≤ 1e6·|nodes| and raw sums ≤
    * 1e6·|edges|, so the ·1e6 normalization multiply stays < 2^63 for
    * graphs up to ~1e12 edges.
    *
    * Scale shape per round: two edge-keyed join+aggregate passes (the
    * transposed propagation reuses the SAME persisted edge list — no
    * second edge relation), each normalization a broadcast 1-row sum.
    * Both score frames go through [[Fixpoint.cut]] every round, so the
    * plan stays the same size round to round. Returns (node, hub_e6,
    * auth_e6) — zero where a node has no out-/in-edges; `iters = 0`
    * returns the initial assignment, 1e6 hub and authority per node. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2): DataFrame = {
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .distinct().persist(lvl)
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst")))
      .distinct().persist(lvl)
    def normalize(raw: DataFrame, valCol: String): DataFrame = {
      val total = raw.agg(sum(col(valCol)).as("__t"))
      raw.crossJoin(broadcast(total))
        .select(col("node"),
          expr(s"$valCol * 1000000L DIV __t").as(valCol))
    }
    var hub = nodes.select(col("node"), lit(1000000L).as("h"))
    var auth = nodes.select(col("node"), lit(1000000L).as("a"))
    for (_ <- 1 to iters) {
      // auth's cut is lazy: the eager cut of hub reads it and
      // materializes both, so a round costs one job
      auth = Fixpoint.cut(normalize(
        hub.join(e, hub("node") === e("__src"))
          .groupBy(col("__dst").as("node")).agg(sum("h").as("a")), "a"),
        eager = false)
      hub = Fixpoint.cut(normalize(
        auth.join(e, auth("node") === e("__dst"))
          .groupBy(col("__src").as("node")).agg(sum("a").as("h")), "h"))
    }
    // materialize the output while `nodes` is cached, then release the
    // loop-invariant relations
    val out = Fixpoint.cut(nodes
      .join(hub.withColumnRenamed("h", "hub_e6"), Seq("node"), "left")
      .join(auth.withColumnRenamed("a", "auth_e6"), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub_e6"), lit(0L)).as("hub_e6"),
        coalesce(col("auth_e6"), lit(0L)).as("auth_e6")))
    e.unpersist()
    nodes.unpersist()
    out
  }

  /** Triangle census of an undirected graph: ONE summary row
    * (n_nodes, n_edges, n_wedges, n_triangles, clustering_e6) where
    * n_wedges = Σ_v C(deg v, 2) and clustering_e6 is the global
    * clustering coefficient 3·triangles/wedges in exact e6 integers.
    *
    * Edges are canonicalized (lo, hi) with self-loops dropped and
    * duplicates collapsed, so callers can pass raw pair relations.
    *
    * Scale shape — the standard degree-ordered orientation: each edge
    * points from its (degree, id)-smaller endpoint to the larger, so
    * every out-degree is O(√m) even on power-law graphs (a star's hub
    * gets ONLY in-edges). Triangles are wedge-joins closed by an edge
    * intersection (the edge-iterator algorithm): each oriented edge
    * (u, v) contributes |N⁺(u) ∩ N⁺(v)| — on the orientation DAG
    * every triangle has exactly one pivot with out-edges to the other
    * two, so each is counted once. Total work is Σ outdeg² ≤ O(m^1.5)
    * (the Chiba-Nishizeki arboricity bound) but NOTHING of wedge
    * scale is ever materialized or shuffled — the alternative
    * (self-join wedges, semi-join against the edge list) measured
    * 21 s at sf0.1 where this is ~4 s, all of it in the m-sized
    * relations. The adjacency-list relation is edge-list-sized; it is
    * BROADCAST when the edge count fits an executor
    * (≤ maxBroadcastEdges, measured by a count on the persisted
    * oriented relation) and degrades to two shuffle joins on the
    * endpoint keys past that — the only plan that works when the
    * edge list itself is cluster-sized. canon and oriented are
    * persisted across their consumers so canonicalization isn't
    * recomputed. */
  def triangleStats(edges: DataFrame, aCol: String, bCol: String,
                    maxBroadcastEdges: Long = 4000000L): DataFrame = {
    val canon = edges
      .select(least(col(aCol), col(bCol)).as("lo"),
        greatest(col(aCol), col(bCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
      .persist(lvl) // two consumers (deg, oriented): build the raw-pair distinct once
    val deg = canon.select(col("lo").as("node"))
      .union(canon.select(col("hi")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .persist(lvl)
    val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("deg * (deg - 1L) DIV 2")).as("n_wedges"))
    // orient: (deg, id)-smaller endpoint -> larger
    val dLo = deg.select(col("node").as("lo"), col("deg").as("__dlo"))
    val dHi = deg.select(col("node").as("hi"), col("deg").as("__dhi"))
    val oriented = canon.join(dLo, "lo").join(dHi, "hi")
      .select(
        when(col("__dlo") < col("__dhi")
            || (col("__dlo") === col("__dhi") && col("lo") < col("hi")),
          col("lo")).otherwise(col("hi")).as("src"),
        when(col("__dlo") < col("__dhi")
            || (col("__dlo") === col("__dhi") && col("lo") < col("hi")),
          col("hi")).otherwise(col("lo")).as("dst"))
      .persist(lvl)
    val m = oriented.count() // materializes the persist; picks the join plans
    val small = m <= maxBroadcastEdges
    val nbrs = oriented.groupBy(col("src"))
      .agg(collect_list(col("dst")).as("__nb"))
    val nbU = nbrs.select(col("src").as("__u"), col("__nb").as("__nbu"))
    val nbV = nbrs.select(col("src").as("__v"), col("__nb").as("__nbv"))
    // dst may have no out-edges (the orientation sink): left join, null
    // adjacency intersects to null, coalesced to 0
    val tri = oriented
      .join(if (small) broadcast(nbU) else nbU, col("src") === col("__u"))
      .join(if (small) broadcast(nbV) else nbV, col("dst") === col("__v"), "left")
      .select(coalesce(size(array_intersect(col("__nbu"), col("__nbv"))), lit(0))
        .cast("long").as("__t"))
      .agg(sum(col("__t")).as("n_triangles"))
    val out = nodeStats.crossJoin(tri)
      .select(col("n_nodes"), lit(m).as("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          expr("3L * n_triangles * 1000000L DIV n_wedges"))
          .otherwise(0L).as("clustering_e6"))
      .persist(lvl)
    out.count() // materialize the 1-row census while its inputs are cached
    canon.unpersist()
    deg.unpersist()
    oriented.unpersist()
    out // stays persisted for the caller's action; clearCache releases it
  }

  /** Personalized PageRank: identical exact fixed-point arithmetic to
    * [[pageRank]], but the teleport mass lands ONLY on the seed set —
    *   r'(v) = [v ∈ S]·(0.15·10¹²) div |S| + (85 · Σ_{u→v} r(u) div deg(u)) div 100
    * — so rank concentrates around the seeds: the "similar to this
    * cohort" recommender primitive (seeds = one customer segment ⇒
    * ranks = supplier affinity to that segment). Same per-iteration
    * scale shape and loop as pageRank (one src-keyed join + one
    * dst-keyed aggregate, each rank frame cut with [[Fixpoint.cut]]);
    * the seed flag is a node-keyed left join computed once. Nodes
    * unreachable from the seeds keep rank 0 (reported — their absence
    * would silently change N-dependent comparisons). `iters = 0`
    * returns the initial assignment, 10¹² div |S| per seed. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int = 5): DataFrame = {
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .persist(lvl)
    val seedSet = seeds.select(col(seedCol).as("node")).distinct()
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst")))
      .distinct()
      .join(seedSet.withColumn("__seed", lit(1L)), Seq("node"), "left")
      .persist(lvl)
    rankLoop(e, nodes, sum(col("__seed")).as("__ns"),
      init = "CASE WHEN __seed = 1 THEN 1000000000000L DIV __ns ELSE 0L END",
      teleport = "CASE WHEN __seed = 1 THEN 150000000000L DIV __ns ELSE 0L END",
      iters)
  }

  /** Fixed-round multi-source BFS: hop distance from the nearest seed,
    * for every node within `rounds` hops. Round r relaxes
    * dist(v) = min(dist(v), min_{u∈N(v)} dist(u) + 1) — one edge-keyed
    * join + one min-aggregate per round, lineage truncated per round
    * with [[Fixpoint.cut]] (reliable checkpoint when a dir is
    * configured; carried stats capped). The round count is part of the
    * contract (same determinism-by-construction argument as [[kPeel]]):
    * nodes farther than `rounds` hops are absent, and a node's distance
    * is exact once rounds ≥ its true distance (BFS relaxation is
    * monotone — extra rounds are no-ops).
    *
    * Scale shape per round: the frontier relation is node-sized; the
    * relax join is edge ⋈ dist on the node key (co-partitioned
    * shuffle), the min-agg has map-side partials. The undirected edge
    * list is materialized ONCE in both orientations and reused every
    * round. */
  def bfsHops(edges: DataFrame, aCol: String, bCol: String,
              seeds: DataFrame, seedCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val und = Fixpoint.cut(edges
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol), col(aCol)))
      .filter(col("src") =!= col("dst"))
      .distinct())
    var dist = Fixpoint.cut(seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L)))
    (1 to rounds).foreach { _ =>
      dist = Fixpoint.cut(dist
        .union(und.join(dist.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"), (col("dist") + 1L).as("dist")))
        .groupBy("node").agg(min(col("dist")).as("dist")))
    }
    dist
  }

  /** Fixed-round k-core peeling: run EXACTLY `rounds` iterations of
    * "drop every node with degree < k, keep edges between survivors",
    * then report surviving nodes with their final degree (≥ k). With
    * enough rounds this is the k-core (the maximal subgraph of min
    * degree k); the round count is part of the contract so the result
    * is bit-identical on any engine/partitioning BY CONSTRUCTION —
    * a converge-then-stop variant would tie the output to an
    * engine-specific iteration count. Peeling is monotone, so extra
    * rounds past the fixpoint are no-ops.
    *
    * Scale shape per round: one hash aggregate for degrees (map-side
    * partials over the edge list) + two semi-joins of the edge list
    * against the keep-set. The keep-set is node-sized — broadcast
    * while the initial node count fits an executor
    * (≤ maxBroadcastNodes), shuffle semi-joins past that.
    *
    * Lineage discipline: each round references the previous edge
    * frame THREE times (the frame itself + two keep-set subtrees
    * derived from it), so a persist-only loop grows the logical plan
    * 3^rounds — [[Fixpoint.cut]] truncates the plan to the
    * materialized RDD each round (reliable checkpoint when a dir is
    * configured, executor-loss tolerant) and caps the carried size
    * estimate, keeping round r's plan AND its statistics O(1). */
  def kPeel(edges: DataFrame, aCol: String, bCol: String, k: Int,
            rounds: Int, maxBroadcastNodes: Long = 5000000L): DataFrame = {
    // default sized for ~40 MB of long keys per broadcast (5M × 8 B) —
    // comfortably inside a 4-8 GiB executor; raise only with memory to
    // spare, the shuffle semi-join path is correct at any size
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    var cur = Fixpoint.cut(edges
      .select(least(col(aCol), col(bCol)).as("lo"),
        greatest(col(aCol), col(bCol)).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct())
    def degrees(e: DataFrame): DataFrame =
      e.select(col("lo").as("node")).union(e.select(col("hi")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    val small = degrees(cur).count() <= maxBroadcastNodes
    (1 to rounds).foreach { _ =>
      val keep = degrees(cur).filter(col("deg") >= k).select("node")
      // Fixpoint.cut: plan stays O(1) per round, and the carried-stats
      // cap matters here most — each round references `cur` THREE times
      // (the frame + two keep-set subtrees), so checkpoint-carried size
      // estimates CUBE per round; a deep-enough peel would otherwise
      // hang the planner in BigInteger math (the q57-class pathology).
      cur = Fixpoint.cut(cur
        .join({ val s = keep.select(col("node").as("lo"))
                if (small) broadcast(s) else s }, Seq("lo"), "left_semi")
        .join({ val s = keep.select(col("node").as("hi"))
                if (small) broadcast(s) else s }, Seq("hi"), "left_semi"))
    }
    degrees(cur).filter(col("deg") >= k)
      .select(col("node"), col("deg").as("core_deg"))
    // checkpoint RDDs are released by the ContextCleaner / clearCache
  }

  /** Multi-source WEIGHTED shortest paths via `rounds` Bellman-Ford
    * relaxations, in exact integer weight units (cents here — the same
    * no-float contract as [[pageRank]]/[[bfsHops]]):
    *   dist(v) = min(dist(v), min_{(u,v,w)∈E} dist(u) + w)
    * Parallel edges collapse to their cheapest weight up front, so each
    * round is ONE edge ⋈ dist equi-join on the source key plus one
    * min-aggregate on the destination — the canonical distributed
    * Bellman-Ford step (both shuffles are plain key exchanges at any
    * cluster size; map-side partials absorb the min).
    *
    * The round count is part of the contract: a node's distance is the
    * cheapest path using ≤ `rounds` edges — exact for all nodes once
    * rounds ≥ the graph's weighted-shortest-path hop diameter, and
    * monotonically non-increasing (extra rounds only improve). Nodes
    * unreached within `rounds` edges are absent. Weights must be
    * non-negative integral (relaxation is monotone only then). Lineage
    * is truncated per round with [[Fixpoint.cut]] (reliable checkpoint
    * when a dir is configured; carried stats capped). */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
                    weightCol: String, seeds: DataFrame, seedCol: String,
                    rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val e = Fixpoint.cut(edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).as("w"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(min(col("w")).as("w")))
    var dist = Fixpoint.cut(seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L)))
    (1 to rounds).foreach { _ =>
      dist = Fixpoint.cut(dist
        .union(e.join(dist.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist")))
        .groupBy("node").agg(min(col("dist")).as("dist")))
    }
    dist
  }

  /** Common-neighbor link prediction over an incidence list (node,
    * via): for every node pair sharing ≥ `minCommon` vias, the shared
    * count plus exact integer-e6 Jaccard of their via sets —
    *   jaccard_e6 = common·10⁶ div (deg(u) + deg(v) − common).
    *
    * Scale shape: the pair enumeration is the classic inverted-index
    * self-join — grouped on the via key, each via of degree d emits
    * d·(d−1)/2 candidate pairs. That is quadratic ONLY in per-via
    * degree, so hub vias are df-capped (`maxViaDegree`, the same
    * convention as the n-gram dedup ladder's df cap): a via shared by
    * more than `maxViaDegree` nodes carries almost no link-prediction
    * signal (its pairs are near-random) but dominates the join cost;
    * dropping it bounds the blow-up at (cap²/2)·|vias| candidates
    * regardless of skew. The candidate relation carries bare ids only;
    * degrees ride a node-sized join afterwards. */
  def commonNeighborPairs(incidence: DataFrame, nodeCol: String,
                          viaCol: String, minCommon: Long,
                          maxViaDegree: Long = 256L): DataFrame = {
    val inc = Fixpoint.cut(incidence
      .select(col(nodeCol).as("node"), col(viaCol).as("via"))
      .distinct())
    val viaOk = inc.groupBy("via").agg(count(lit(1)).as("__vd"))
      .filter(col("__vd") <= maxViaDegree).select("via")
    val kept = inc.join(viaOk, Seq("via"), "left_semi")
    val deg = inc.groupBy("node").agg(count(lit(1)).as("deg"))
    val pairs = kept.select(col("via"), col("node").as("u"))
      .join(kept.select(col("via"), col("node").as("v")), Seq("via"))
      .filter(col("u") < col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    pairs
      .join(deg.select(col("node").as("u"), col("deg").as("__du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("__dv")), Seq("v"))
      .select(col("u"), col("v"), col("common"),
        expr("common * 1000000L DIV (__du + __dv - common)").as("jaccard_e6"))
  }

  /** Newman modularity of a GIVEN partition over a SYMMETRIC edge
    * list with per-endpoint community labels:
    *   Q = Σ_c [E_in(c)/m − (d_c/2m)²]
    * evaluated as ONE exact integer ratio
    * (D·in − Σd_c²)·1e6 DIV D² with D = 2m directed rows and `in` the
    * directed within-community rows — no floats anywhere. The
    * partition-quality score for any community assignment (nation,
    * connected component, label-propagation output).
    *
    * Scale shape: two hash aggregates over the edge relation (total +
    * per-community degree) and a 1-row reduction — never a sort, never
    * a join beyond what produced the labeled edges. */
  def modularity(edges: DataFrame, srcComCol: String,
                 dstComCol: String): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = edges.select(col(srcComCol).as("__sc"), col(dstComCol).as("__dc"))
    val tot = e.agg(count(lit(1)).cast(D).as("__dd"),
      sum(when(col("__sc") === col("__dc"), 1L).otherwise(0L)).cast(D).as("__in"))
    val dc = e.groupBy("__sc").agg(count(lit(1)).cast(D).as("__d"))
    dc.agg(count(lit(1)).as("n_communities"),
        sum(expr("__d * __d")).as("__sdd"))
      .crossJoin(broadcast(tot))
      .select(
        expr("CAST(__dd AS BIGINT) DIV 2").as("n_edges"),
        col("n_communities"),
        expr("""CAST((__dd * __in - __sdd) * 1000000 DIV (__dd * __dd)
                AS BIGINT)""").as("modularity_e6"))
  }

  /** Degree assortativity of a SYMMETRIC edge list (Newman 2002):
    * Pearson correlation of (deg(src), deg(dst)) over directed edge
    * rows. Positive = hubs attach to hubs; negative = hub-and-spoke
    * (the usual shape of a customer–supplier bipartite graph). Moments
    * are EXACT DECIMAL(38,0) sums (Stats's technique — a float sum is
    * order/engine-dependent); the only float steps are the final
    * division and two IEEE sqrt's. Constant degree yields NULL.
    *
    * Scale shape: one hash aggregate to the NODES-sized degree
    * relation, two degree joins back to edges (broadcast when nodes
    * fit, AQE decides), ONE aggregate to a single row. Never sorts. */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
    val deg = e.groupBy(col("__src").as("__node"))
      .agg(count(lit(1)).as("__deg"))
    e.join(deg.select(col("__node").as("__src"), col("__deg").as("__dx")),
        Seq("__src"))
      .join(deg.select(col("__node").as("__dst"), col("__deg").as("__dy")),
        Seq("__dst"))
      .select(col("__dx").cast(D).as("__x"), col("__dy").cast(D).as("__y"))
      .agg(count(lit(1)).as("n_edges"),
        sum("__x").as("__sx"), sum("__y").as("__sy"),
        sum(expr("__x * __y")).as("__sxy"),
        sum(expr("__x * __x")).as("__sxx"),
        sum(expr("__y * __y")).as("__syy"))
      .select(col("n_edges"),
        expr("""CASE WHEN n_edges*__sxx - __sx*__sx = 0
                       OR n_edges*__syy - __sy*__sy = 0 THEN NULL
                     ELSE CAST(floor(1000000 * (
                       CAST(n_edges*__sxy - __sx*__sy AS DOUBLE)
                       / (sqrt(CAST(n_edges*__sxx - __sx*__sx AS DOUBLE))
                          * sqrt(CAST(n_edges*__syy - __sy*__sy AS DOUBLE))))
                       + 0.5) AS BIGINT) END""").as("assortativity_e6"))
  }

  /** Synchronous frequency-based label propagation (community
    * detection). Labels start as the node id; each round every node
    * adopts the most frequent label among its NEIGHBORS, ties broken
    * by the smallest label (the deterministic variant — classic async
    * LPA is run-order-dependent and un-oracle-able). Distinct from
    * connected components (Dedup.groups): frequency voting can split a
    * connected graph into several communities, which is the point.
    *
    * `edges` must be SYMMETRIC (caller unions both directions) and
    * distinct. Returns (node, label) after `rounds` synchronous
    * rounds. The symmetric contract puts every node in the source
    * column, so the node set is that column's distinct values, and
    * every node receives at least one vote every round (no nodes
    * left-join).
    *
    * Scale shape: the edge list is hash-partitioned on its source once
    * and cached, so the initial node set and every round's join of the
    * label relation (keyed by node, from the previous round's
    * aggregate) read it without an exchange. A round is then ONE key
    * shuffle: `mode(label, deterministic = true)` per node, which picks
    * the most frequent label and breaks ties toward the smallest, in
    * one aggregate instead of a (node, label) count plus a max-struct
    * winner. Each round's labels go through [[Fixpoint.cut]], as in
    * pageRank, so the plan stays the same size every round.
    * `rounds = 0` returns the initial labels (label = node). */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int = 3): DataFrame = {
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .repartition(col("__src")).persist(lvl)
    var labels = e.select(col("__src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to rounds) {
      labels = Fixpoint.cut(labels
        .join(e, labels("node") === e("__src"))
        .groupBy(col("__dst").as("node"))
        .agg(mode(col("label"), deterministic = true).as("label")))
    }
    e.unpersist()
    labels
  }
}
