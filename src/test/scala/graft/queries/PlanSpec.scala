package graft.queries

import graft.SparkSpec
import graft.SparkEntry

/** Physical-plan quality gates: these assert the plan SHAPE the engine is
  * designed around — filters reaching the parquet scan, dims broadcast,
  * top-k without a global sort, whole-stage codegen in the hot paths.
  * A regression here is a 100TB-scale problem even when sf0.01 results
  * stay correct. */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  /** Post-execution plan: AQE only materializes codegen stages (and its
    * final join choices) once the query has run. */
  private def finalPlanOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q03: constructing the query launches no Spark job (driver-side footer schema)") {
    val (_, jobs) = countJobs(SparkEntry.queries("q03_clean_rename")(spark, sf))
    assert(jobs == 0, s"constructing q03 launched $jobs Spark jobs")
  }

  test("q01: column pruning reaches the parquet scan") {
    val p = planOf("q01_scan_project")
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_shipdate"), "pruned column must not be read")
  }

  test("q02: both filters pushed to the parquet scan") {
    val p = planOf("q02_filter_pushdown")
    assert(p.contains("PushedFilters"))
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*l_shipdate[^\\]]*\\].*"),
      s"shipdate filter not pushed:\n$p")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*l_discount[^\\]]*\\].*"),
      s"discount filter not pushed:\n$p")
  }

  test("q09: both dims joined via broadcast hash join, no sort-merge") {
    val p = planOf("q09_star_fact")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), "fact side must not sort-merge against dims")
  }

  test("q17: customer dim broadcast; fact-to-fact join not broadcast") {
    val p = planOf("q17_join_agg_revenue")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q18: top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = planOf("q18_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q16: aggregate is partial+final hash aggregate (map-side combine)") {
    val p = planOf("q16_agg_pricing")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final HashAggregate:\n$p")
  }

  test("hot paths are inside WholeStageCodegen") {
    Seq("q01_scan_project", "q16_agg_pricing", "q27_text_tokens",
      "q37_embed_topk_brute").foreach { name =>
      val p = finalPlanOf(name)
      // "*(n)" is WholeStageCodegen's star notation in plan strings
      assert(p.contains("WholeStageCodegen") || p.contains("*("),
        s"$name fell out of codegen:\n$p")
    }
  }

  test("q11: ledger anti-join broadcasts the ledger side") {
    val p = planOf("q11_ledger_anti")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"expected broadcast left-anti:\n$p")
  }

  test("q64: hash split is a pure projection — zero exchanges") {
    // the registered query adds an orderBy for oracle determinism; the
    // OPERATOR itself must not shuffle
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id")
    val p = graft.analytics.Curation.hashSplit(docs, "doc_id",
      Seq("train" -> 0.98, "val" -> 0.01, "test" -> 0.01), salt = "v1")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"split assignment must not shuffle:\n$p")
  }

  test("q87: chunking is a pure generator — zero exchanges, one pass") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val p = graft.analytics.Curation.chunkDocuments(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("Generate"), s"expected posexplode generator:\n$p")
    assert(!p.contains("Exchange"),
      s"chunking must not shuffle — it is one pass over the corpus:\n$p")
  }

  test("q78: scrub+gate stage is one fused pass — no join, zero exchanges") {
    // the gate features must project inline next to the text; joining a
    // stats relation back onto the scrubbed corpus would shuffle the
    // full document text twice for a self-derived join
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
    val p = graft.analytics.Curation.scrubAndGate(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"gates must not join the corpus to itself:\n$p")
    assert(!p.contains("Exchange"), s"scrub+gate must not shuffle:\n$p")
  }

  test("q88: stratified head plans map-side WindowGroupLimit before the shuffle") {
    // the sample must shrink to k rows per group per map task BEFORE the
    // exchange — a skewed group (one language = whole corpus) otherwise
    // funnels all its rows through a single reduce-side sort
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = graft.analytics.Curation.stratifiedHead(docs, "lang", "doc_id",
      k = 20, salt = "s1")
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
    // plan strings print root-first: the map-side (Partial) limit must
    // sit BELOW the exchange, i.e. later in the string
    val partialAt = p.indexOf("row_number(), 20, Partial")
    assert(partialAt > 0 && p.indexOf("Exchange") < partialAt,
      s"expected a Partial group-limit below the exchange:\n$p")
  }

  test("q207: KMV rank-k filter plans map-side WindowGroupLimit") {
    // the k-smallest-hashes-per-group truncation must happen per map
    // task before the exchange (mergeable-sketch layout); otherwise a
    // hot group funnels its whole distinct-hash set into one sort
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val p = graft.operators.Stats.kmvDistinct(orders, "o_orderpriority",
      "o_custkey", k = 64)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
    assert(p.contains("row_number(), 64, Partial"),
      s"expected a Partial group-limit (map-side top-k):\n$p")
  }

  test("q97: span dedup is generate + one aggregate — no joins") {
    val p = planOf("q97_dedup_spans")
    assert(p.contains("Generate"), s"expected explode generator:\n$p")
    assert(!p.contains("Join"),
      s"span inventory must be join-free — it is a single aggregate:\n$p")
    // countDistinct plans as the two-phase distinct-aggregate expansion:
    // partial aggregates combine map-side before any shuffle
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final HashAggregate:\n$p")
  }

  test("q65: decontamination joins shingle hashes with a semi-join, never doc x doc") {
    val p = planOf("q65_decontaminate")
    assert(p.contains("LeftSemi"), s"expected left-semi shingle join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"doc-by-doc comparison leaked into the plan:\n$p")
  }

  test("q66: packing windows are per-partition, offsets broadcast (distributed path forced)") {
    // GlobalRank's size gate would route the sf0.001 fixture to the
    // single-partition window form (bit-identical, audited in
    // RegistryContractSpec); pin the at-scale DISTRIBUTED shape by
    // forcing the gate to 0 — this is the plan a corpus-sized input
    // takes.
    val p = graft.SessionConf.scoped(spark,
      "spark.graft.globalrank.maxSinglePartitionRows" -> "0")(planOf("q66_pack_sequences"))
    // the per-partition running sum must be partitioned by __pid, and the
    // only global (empty-partition-spec) window may run over the tiny
    // per-partition offsets relation, never the corpus
    assert(p.contains("__gr_pid"), s"expected partition-local window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"offsets must join back via broadcast:\n$p")
  }

  test("q77: resize is a pure projection — no join/exchange re-carries the payload") {
    // at media scale the binary payload IS the dataset: dims must derive
    // in place, never by joining the decode output back to the content
    val media = graft.analytics.Multimodal.withBinaryContent(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text", "img")
    val p = graft.analytics.Multimodal.resizeStub(media, 256, 256)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"resize must not join the payload to itself:\n$p")
    assert(!p.contains("Exchange"), s"resize must not shuffle the payload:\n$p")
  }

  test("frame sampling encodes per-frame slices, not the whole payload per frame") {
    val media = graft.analytics.Multimodal.withBinaryContent(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text", "video")
    val p = graft.analytics.Multimodal.sampleFrames(media, 16, 4)
      .queryExecution.executedPlan.toString
    // base64 must apply to the sliced frame (substr INSIDE base64's
    // argument, rendered `Base64.encode(substr(content...)` in Spark 4),
    // never to the full content inside the per-frame lambda
    assert(!p.contains("Exchange"), s"frame sampling must not shuffle:\n$p")
    assert(p.contains("Base64.encode(substr(content"),
      s"expected base64 over the frame slice:\n$p")
  }

  test("q100: span removal joins broadcast; starts aggregate has map-side partials") {
    val p = finalPlanOf("q100_dedup_spans_remove")
    // the dup-span inventory and the per-doc starts both arrive at their
    // joins as broadcasts — the token-array side is never shuffled
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), "span joins must not sort-merge at this scale")
    assert(!p.contains("CartesianProduct"), "span removal must never go all-pairs")
    // collect_set of starts combines map-side before the per-doc shuffle
    assert(p.contains("partial_collect_set"),
      s"starts aggregate must have a partial phase:\n$p")
  }

  test("q101: scd2Apply broadcasts the snapshot side, never sort-merges") {
    val p = finalPlanOf("q101_scd2_apply")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast apply join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "open-runs x snapshot must broadcast at daily-batch scale")
    assert(!p.contains("CartesianProduct"))
  }

  test("q102/q103: cell joins are shuffled-hash, never a corpus cartesian") {
    // the only nested-loop allowed is the broadcast against the nCells
    // centroid rows; a CartesianProduct would mean the cell-local pair
    // join degenerated to corpus x corpus. q102's component contraction
    // runs eagerly inside operator construction, so only the verdict
    // join remains in its final plan — the cell join is pinned via q103,
    // whose plan is fully lazy.
    for (name <- Seq("q102_semantic_dedup", "q103_semantic_dedup_incremental")) {
      val p = planOf(name)
      assert(!p.contains("CartesianProduct"), s"$name must stay cell-local:\n$p")
    }
    assert(planOf("q103_semantic_dedup_incremental").contains("ShuffledHashJoin"),
      "q103 expected shuffled-hash cell join")
  }

  test("q144/q140: deterministic top-k samples plan as TakeOrdered, no global sort") {
    val p144 = planOf("q144_weighted_sample")
    assert(p144.contains("TakeOrderedAndProject"), p144)
    val p140 = planOf("q140_bpe_pairs")
    assert(p140.contains("TakeOrderedAndProject"), p140)
  }

  test("q153: temperature mix never shuffles the corpus (broadcast rates + filter)") {
    val p = finalPlanOf("q153_temperature_mix")
    // the only exchanges allowed are the language-stats aggregate's and
    // the output sort's — the document relation itself must reach the
    // filter via a broadcast join, not a shuffled one
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q128: the skyline semi-join broadcasts the frontier, no cartesian") {
    val p = finalPlanOf("q128_pareto_frontier")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q137: chi-square reduces the stream before every join (no raw-side join)") {
    val p = finalPlanOf("q137_chi_square")
    // the contingency aggregate must sit BELOW all joins: joins operate
    // on cells/marginals relations only
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q179: only the lineitem-orders join may shuffle; dims all broadcast") {
    val p = planOf("q179_regional_revenue")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast dims:\n$p")
    // one fact-fact join: at most one non-broadcast join in the plan
    val nonBroadcast = "SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size
    assert(nonBroadcast <= 1, s"expected <= 1 shuffled join, got $nonBroadcast:\n$p")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*o_orderdate[^\\]]*\\].*"),
      s"orderdate filter not pushed to the orders scan:\n$p")
  }

  test("q181: weighted median shares one exchange across both windows") {
    val p = planOf("q181_weighted_median")
    val exchanges = "Exchange".r.findAllIn(p).size
    // one shuffle for the windows (+ the final 3-row orderBy range exchange)
    assert(exchanges <= 2, s"expected the two windows to share a shuffle:\n$p")
  }

  test("q224: quarter + returnflag filters pushed; nation broadcast; top-20 no global sort") {
    val p = planOf("q224_returned_revenue")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*o_orderdate[^\\]]*\\].*"),
      s"orderdate window not pushed to the orders scan:\n$p")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*l_returnflag[^\\]]*\\].*"),
      s"returnflag not pushed to the lineitem scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"nation must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must not global-sort:\n$p")
  }

  test("q225: all pushable predicates reach the single lineitem scan; no join") {
    val p = planOf("q225_forecast_revenue")
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(p.matches(s"(?s).*PushedFilters: \\[[^\\]]*$c[^\\]]*\\].*"),
        s"$c not pushed:\n$p")
    assert(!p.contains("Join"), s"Q6 shape must be a single scan:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q230: nation slices broadcast; only fact-fact joins may shuffle") {
    val p = finalPlanOf("q230_nation_volume")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"both nation slices (and the AQE-sized dims) should broadcast:\n$p")
    val shuffled = "SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size
    assert(shuffled <= 1,
      s"only lineitem-orders may shuffle, got $shuffled:\n$p")
  }

  test("q231: grouping sets plan one Expand + one scan, never three scans") {
    val p = planOf("q231_grouping_sets")
    assert(p.contains("Expand"), s"grouping sets must plan Expand:\n$p")
    assert("Scan parquet|FileScan".r.findAllIn(p).size == 1,
      s"one pass over lineitem, not one per set:\n$p")
  }

  test("q233: EXISTS decorrelates to a left-semi join; quarter pushed to orders scan") {
    val p = planOf("q233_priority_check")
    assert(p.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$p")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*o_orderdate[^\\]]*\\].*"),
      s"quarter window not pushed to the orders scan:\n$p")
  }

  /** AQE's executed-plan string repeats the whole tree under an
    * "== Initial Plan ==" section after execution; operator COUNTS must
    * only look at the final section or every count doubles. */
  private def finalSection(p: String): String = {
    val i = p.indexOf("== Initial Plan ==")
    if (i >= 0) p.substring(0, i) else p
  }

  test("q236: the per-supplier rollup is cached — one lineitem scan feeds probe and max") {
    val p = finalSection(finalPlanOf("q236_top_supplier"))
    // the two rollup uses carry different injected null-filters, so
    // ReuseExchange can't collapse them; the persist is what guarantees
    // the single fact scan (both consumers read the InMemoryRelation)
    assert(p.contains("InMemoryTableScan"),
      s"rollup must be served from cache, not recomputed:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"1-row max must broadcast:\n$p")
  }

  test("q237: brand slice broadcasts into lineitem; agg and join-back share the partkey shuffle") {
    val p = finalSection(finalPlanOf("q237_small_qty_revenue"))
    assert(p.contains("BroadcastHashJoin"), s"brand parts must broadcast:\n$p")
    // sliced fact shuffles once on l_partkey; the aggregate's exchange is
    // reused (or co-planned) for the join-back — never two fact shuffles
    // feeding the same join key from the same source
    val exchanges = "Exchange hashpartitioning\\(l_partkey".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected at most agg+join partkey exchanges:\n$p")
  }

  test("q239: derived quantity envelope pushed to the lineitem scan; part slice broadcast") {
    val p = planOf("q239_brand_disjunction")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*l_quantity[^\\]]*\\].*"),
      s"derived l_quantity envelope not pushed:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"brand/size part slice must broadcast:\n$p")
  }

  test("q240: NOT EXISTS plans as left-anti; nation broadcast") {
    val p = planOf("q240_dormant_customers")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must plan as an anti join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"nation must broadcast:\n$p")
  }

  test("q281: interval overlap meets on a bin equi-join, never a nested loop") {
    val p = planOf("q281_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"bin bucketing must give Catalyst an equi-join key:\n$p")
    assert(p.contains("__b"), s"bin key missing from the join:\n$p")
  }

  test("q282: sequence encoding is ONE user-key aggregate, no window/self-join") {
    val p = planOf("q282_event_pattern")
    assert(!p.contains("Window"), s"no window needed:\n$p")
    val joins = "Join".r.findAllIn(p).size
    assert(joins == 0, s"no join expected:\n$p")
  }
}
