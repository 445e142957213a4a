package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.analytics.TextAnalysis
import graft.streaming.IncrementalStream
import graft.sources.Readers

/** Driver-visible batch-parity VERDICTS for the streaming operators
  * (streaming/IncrementalStream) — the q33 verdict pattern applied to
  * streams: each query really executes the Structured Streaming
  * operator (`Trigger.AvailableNow` over the test parquet, fresh
  * checkpoint per invocation), lands its output, re-computes the BATCH
  * counterpart of the same semantics in the same query, and emits
  *   - an exact count DuckDB recomputes independently (the oracle's
  *     real work), and
  *   - mismatch counters / booleans pinning stream == batch.
  * Green means the streaming face and the batch face of the operator
  * agree row-for-row on driver-checked data — the contract that makes
  * them interchangeable (a replayed stream reproduces the batch
  * answer), promoted from spec-only (DecayedStreamSpec,
  * StatefulSessionSpec) onto the driver board.
  *
  * Multi-batch determinism: where the operator's final state is
  * order-independent (KMV merge is a semilattice; cube refresh is a
  * commutative sum-merge; upsert with every key confined to one file
  * via hash-partitioned input), the source is split into several files
  * streamed with maxFilesPerTrigger=1 so the run exercises real
  * cross-micro-batch state. Where final state DOES depend on
  * cross-batch arrival order (the decayed recurrence's ord contract,
  * attribution's watermark eviction), a single AvailableNow batch keeps
  * the driver row deterministic and the multi-batch path stays pinned
  * by the streaming specs.
  */
object StreamingParityQueries {

  /** Fresh temp dir per invocation — checkpoints must never be reused
    * across bench trials (a reused checkpoint sees zero new files and
    * the "stream" would measure nothing). Registered with the enclosing
    * tempScoped wrapper (see `defs`), so every invocation's source
    * copies / twin indexes / checkpoints are deleted once the verdict
    * row is materialized. */
  private def tmpDir(prefix: String): String = scratchDir(prefix)

  /** Streaming read of a driver test table with queries.t()'s ts
    * normalization (TIMESTAMP_NTZ to TIMESTAMP) applied on the stream.
    * The file-stream source requires a DIRECTORY (a bare file path
    * fails with "basePath must be a directory"), so the source is the
    * sf dir with a pathGlobFilter narrowing to this table's file. */
  private def tStream(s: SparkSession, dir: String, name: String): DataFrame =
    ntzTsAsTimestamp(s.readStream.schema(Readers.parquet(s, s"$dir/$name.parquet").schema)
      .option("pathGlobFilter", s"$name.parquet").parquet(dir))

  /** Drain a streaming DataFrame to a fresh parquet dir (AvailableNow,
    * append) and hand back the landed result as a batch DataFrame. */
  private def runToParquet(out: DataFrame, name: String): DataFrame = {
    val spark = out.sparkSession
    val dir = tmpDir(s"graft_${name}_out")
    val q = out.writeStream.format("parquet")
      .option("path", dir)
      .option("checkpointLocation", tmpDir(s"graft_${name}_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Readers.parquet(spark, dir)
  }

  // fingerprint's normalization, verbatim in DuckDB (same as q31/q78)
  private val fpSql =
    """md5(regexp_replace(lower(regexp_replace(text, '^\s+|\s+$', '', 'g')), '\s+', ' ', 'g'))"""

  private val toksSql =
    """string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')"""

  // every body allocates per-invocation scratch dirs and returns a
  // verdict-sized row set — tempScoped materializes the rows and
  // deletes the scratch (ADVICE round 8: unbounded /tmp growth)
  val defs: Map[String, Q] = rawDefs.map { case (name, qd) =>
    name -> qd.copy(fn = tempScoped(qd.fn))
  }

  // def, not val: `defs` above initializes first in object-init order
  private def rawDefs: Map[String, Q] = Map(

    // Streaming exact dedup (dropDuplicatesWithinWatermark on the md5
    // content fingerprint) == batch exact dedup: the streamed survivor
    // set carries exactly one row per distinct fingerprint, and that
    // fingerprint set equals the batch corpus's. n_unique_texts is the
    // DuckDB-recomputed exact distinct count; the zeros are the
    // invariants.
    "q313_stream_dedup" -> q(
      s"""SELECT CAST(count(DISTINCT $fpSql) AS BIGINT) AS n_unique_texts,
                 CAST(0 AS BIGINT) AS n_fp_mismatches,
                 CAST(0 AS BIGINT) AS n_duplicate_emits
          FROM documents""") { (s, dir) =>
      // Real cross-batch dedup state: the corpus streams as 3 files,
      // one per micro-batch — WHICH doc of a dup group survives then
      // depends on batch order, but the surviving FINGERPRINT SET is
      // split-order invariant (state persists across batches inside
      // the watermark), which is exactly what the verdict compares.
      // Synthetic event time OFFSET from epoch 0: the initial
      // watermark is epoch 0 and a row AT the watermark is dropped as
      // late, so doc_id=0 at timestamp_micros(0) would silently
      // vanish.
      val docs0 = t(s, dir, "documents").select("doc_id", "text")
      val srcDir = tmpDir("graft_q313_src")
      docs0.repartition(3).write.mode("overwrite").parquet(srcDir)
      val stream = s.readStream.schema(docs0.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .withColumn("ts", timestamp_micros(col("doc_id") + 1000000L))
      val out = runToParquet(
        IncrementalStream.dedupStream(stream, "ts", "text", "1 day"), "q313")
      val streamFp = out.groupBy("fp").agg(count(lit(1)).as("__c"))
      val batchFp = t(s, dir, "documents")
        .select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
        .withColumn("__b", lit(1))
      streamFp.join(batchFp, Seq("fp"), "full_outer")
        .agg(
          sum(when(col("__c").isNotNull && col("__b").isNotNull, 1L)
            .otherwise(0L)).as("n_unique_texts"),
          sum(when(col("__c").isNull || col("__b").isNull, 1L)
            .otherwise(0L)).as("n_fp_mismatches"),
          sum(coalesce(col("__c") - 1, lit(0L))).as("n_duplicate_emits"))
    },

    // Streaming curation-at-ingest (scrub -> inline Gopher gates ->
    // watermarked content dedup) == the batch equivalent of the same
    // per-document stages, on q78's planted corpus (real PII matches,
    // real boilerplate duplicates). n_curated is DuckDB's count of
    // distinct post-gate fingerprints — the oracle recomputes scrub,
    // gates, and dedup from scratch in SQL.
    "q314_stream_curate" -> q(
      s"""WITH planted AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 50 = 1
                        THEN 'duplicate boilerplate page about terms of service and privacy'
                        WHEN doc_id % 7 = 0
                        THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                                  || '@example.com or 555-123-4567'
                        ELSE text END AS text
            FROM documents),
          scrubbed AS (
            SELECT doc_id,
                   regexp_replace(regexp_replace(text, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
                                  '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS text
            FROM planted),
          tok AS (SELECT doc_id, text, $toksSql AS toks FROM scrubbed),
          gated AS (
            SELECT doc_id, text FROM tok
            WHERE len(toks) >= 5
              AND CAST(length(text) - length(regexp_replace(text, '[#@$$%&]', '', 'g')) AS DOUBLE)
                    / CAST(len(toks) AS DOUBLE) <= 0.3
              AND CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE)
                    / CAST(len(toks) AS DOUBLE) >= 0.5)
          SELECT CAST(count(DISTINCT $fpSql) AS BIGINT) AS n_curated,
                 CAST(0 AS BIGINT) AS n_fp_mismatches,
                 CAST(0 AS BIGINT) AS n_duplicate_emits
          FROM gated""") { (s, dir) =>
      def plant(df: DataFrame): DataFrame = df.select(col("doc_id"),
        col("ts"),
        when(col("doc_id") % 50 === 1,
          lit("duplicate boilerplate page about terms of service and privacy"))
          .when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com or 555-123-4567")))
          .otherwise(col("text")).as("text"))
      // 3 micro-batches, same split-order-invariance argument as q313
      // (scrub and gates are per-document; the dedup fp set is the
      // cross-batch state)
      val docs0 = t(s, dir, "documents").select("doc_id", "text")
      val srcDir = tmpDir("graft_q314_src")
      docs0.repartition(3).write.mode("overwrite").parquet(srcDir)
      val stream = plant(s.readStream.schema(docs0.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .withColumn("ts", timestamp_micros(col("doc_id") + 1000000L)))
      val out = runToParquet(
        IncrementalStream.curateStream(stream, "doc_id", "ts", "text", "1 day"),
        "q314")
      val streamFp = out
        .select(TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("__c"))
      // batch counterpart of the SAME per-document stages
      val planted = plant(t(s, dir, "documents")
        .withColumn("ts", timestamp_micros(col("doc_id"))))
      val scrubbed = planted.select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("text"), TextAnalysis.EmailRe, "<EMAIL>"),
          TextAnalysis.PhoneRe, "<PHONE>").as("text"))
      val gated = scrubbed
        .select(col("doc_id") +: col("text") +:
          TextAnalysis.gopherCols(col("text")): _*)
        .filter(col("n_tokens") >= 5
          && col("symbol_to_word_ratio") <= 0.3
          && col("alpha_word_ratio") >= 0.5)
      val batchFp = gated.select(TextAnalysis.fingerprint(col("text")).as("fp"))
        .distinct().withColumn("__b", lit(1))
      streamFp.join(batchFp, Seq("fp"), "full_outer")
        .agg(
          sum(when(col("__c").isNotNull && col("__b").isNotNull, 1L)
            .otherwise(0L)).as("n_curated"),
          sum(when(col("__c").isNull || col("__b").isNull, 1L)
            .otherwise(0L)).as("n_fp_mismatches"),
          sum(coalesce(col("__c") - 1, lit(0L))).as("n_duplicate_emits"))
    },

    // Streaming SCD1 upsert (foreachBatch LWW + versioned table dirs)
    // == one batch last-writer-wins reduction. The source is
    // hash-partitioned by user into 4 files streamed one per
    // micro-batch, so the run exercises real multi-version upserts
    // while staying order-independent (each key lives entirely in one
    // batch). The final table version must equal the global per-key
    // max-event_id row set.
    "q315_stream_upsert" -> q(
      """WITH last AS (
           SELECT user_id, event_id, value FROM (
             SELECT user_id, event_id, value,
                    row_number() OVER (PARTITION BY user_id
                      ORDER BY event_id DESC) AS rn
             FROM events) WHERE rn = 1)
         SELECT CAST(count(*) AS BIGINT) AS n_keys,
                CAST(sum(event_id) AS BIGINT) AS sum_last_event_id,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  AS sum_last_value_cents,
                CAST(0 AS BIGINT) AS n_mismatches
         FROM last""") { (s, dir) =>
      val ev = t(s, dir, "events").select("user_id", "event_id", "value")
      val srcDir = tmpDir("graft_q315_src")
      ev.repartition(4, col("user_id")).write.mode("overwrite").parquet(srcDir)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val tableDir = tmpDir("graft_q315_table")
      val sq = IncrementalStream.upsertStream(stream, Seq("user_id"), "event_id",
        tableDir, tmpDir("graft_q315_ckpt"))
      sq.awaitTermination()
      val v = IncrementalStream.latestVersion(s, tableDir)
        .getOrElse(sys.error("q315: upsert stream produced no table version"))
      def keyed(df: DataFrame) = df.select(col("user_id"), col("event_id"),
        cents(col("value")).as("vc"))
      val streamTbl = keyed(Readers.parquet(s, s"$tableDir/v=$v"))
        .withColumn("__s", lit(1))
      val batchLww = keyed(ev
        .withColumn("__rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("event_id").desc)))
        .filter(col("__rn") === 1).drop("__rn"))
        .withColumn("__b", lit(1))
      streamTbl.join(batchLww, Seq("user_id", "event_id", "vc"), "full_outer")
        .agg(
          sum(when(col("__s").isNotNull && col("__b").isNotNull, 1L)
            .otherwise(0L)).as("n_keys"),
          sum(when(col("__s").isNotNull && col("__b").isNotNull,
            col("event_id")).otherwise(0L)).as("sum_last_event_id"),
          sum(when(col("__s").isNotNull && col("__b").isNotNull,
            col("vc")).otherwise(0L)).as("sum_last_value_cents"),
          sum(when(col("__s").isNull || col("__b").isNull, 1L)
            .otherwise(0L)).as("n_mismatches"))
    },

    // Streaming KMV distinct sketch (mapGroupsWithState, k smallest
    // distinct hashes per key) == the batch KMV operator — the LIVE
    // mergeability proof: the source splits into 3 files streamed one
    // per micro-batch, state unions+re-truncates across batches, and
    // the final estimate must be BIT-equal to the batch sketch over
    // the union (the merge is a semilattice — final state is the k
    // smallest hashes overall, independent of the split). The exact
    // per-key distinct count is the oracle's recomputation.
    "q316_stream_kmv" -> q(
      """SELECT event_type,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact_distinct,
                TRUE AS stream_equals_batch
         FROM events GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("user_id").cast("string").as("v"))
      val srcDir = tmpDir("graft_q316_src")
      ev.repartition(3).write.mode("overwrite").parquet(srcDir)
      val outDir = tmpDir("graft_q316_out")
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .as[(String, String)]
      val sq = IncrementalStream.kmvDistinctStream(stream, k = 64)
        .writeStream
        .option("checkpointLocation", tmpDir("graft_q316_ckpt"))
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[IncrementalStream.KmvUpdate],
                         id: Long) =>
          b.withColumn("batch_id", lit(id))
            .write.mode("append").parquet(outDir)
          ()
        }
        .start()
      sq.awaitTermination()
      val updates = Readers.parquet(s, outDir)
      // final state per key = its last update (keys are re-emitted each
      // batch that touches them)
      val finalEst = updates
        .withColumn("__rn", row_number().over(
          Window.partitionBy("key").orderBy(col("batch_id").desc)))
        .filter(col("__rn") === 1)
        .select(col("key").as("event_type"), col("distinct_est").as("stream_est"))
      val batchEst = graft.operators.Stats.kmvDistinct(ev, "event_type", "v", k = 64)
        .select(col("event_type"), col("distinct_est").as("batch_est"))
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("v")).as("n_exact_distinct"))
      exact.join(finalEst, Seq("event_type"), "left")
        .join(batchEst, Seq("event_type"), "left")
        .select(col("event_type"), col("n_exact_distinct"),
          (col("stream_est").isNotNull && col("batch_est").isNotNull
            && col("stream_est") === col("batch_est")).as("stream_equals_batch"))
        .orderBy("event_type")
    },

    // Stream-stream last-touch attribution (watermarked interval join)
    // == the plain batch join with the same predicate: every
    // (purchase, qualifying click) pair within the hour, both sides
    // watermarked so state stays bounded. n_pairs is DuckDB's exact
    // join count.
    "q317_stream_attribution" -> q(
      """SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                CAST(0 AS BIGINT) AS n_mismatches
         FROM events p JOIN events c
           ON c.user_id = p.user_id
          AND p.event_type = 'purchase' AND c.event_type = 'click'
          AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 3600 SECOND""") { (s, dir) =>
      val clicks = tStream(s, dir, "events").filter(col("event_type") === "click")
      val purchases = tStream(s, dir, "events").filter(col("event_type") === "purchase")
      val out = runToParquet(
        IncrementalStream.attributionJoin(clicks, purchases, "user_id", "ts",
          windowSeconds = 3600L), "q317")
        .withColumn("__s", lit(1))
      val ev = t(s, dir, "events")
      val bc = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("user"), col("ts").as("click_ts"))
      val bp = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("user"), col("ts").as("purchase_ts"))
      val batch = bp.join(bc, Seq("user"))
        .filter(col("click_ts") <= col("purchase_ts")
          && col("click_ts") >= col("purchase_ts") - expr("INTERVAL 3600 SECONDS"))
        .withColumn("__b", lit(1))
      out.join(batch, Seq("user", "purchase_ts", "click_ts"), "full_outer")
        .agg(
          sum(when(col("__s").isNotNull && col("__b").isNotNull, 1L)
            .otherwise(0L)).as("n_pairs"),
          sum(when(col("__s").isNull || col("__b").isNull, 1L)
            .otherwise(0L)).as("n_mismatches"))
    },

    // Streaming materialized-view maintenance (per-batch sum-merge into
    // a versioned RollupRewrite cube) == the one-shot batch aggregate
    // over the full fact: the cube initialized from the even-orderkey
    // half and refreshed with the odd half streamed as 3 delta
    // micro-batches must answer the exact full-corpus totals (the
    // refresh is a commutative sum-merge — batch split order is
    // irrelevant). The oracle recomputes the full group-by.
    "q318_stream_cube" -> q(
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  AS sum_qty_c,
                CAST(count(*) AS BIGINT) AS n_rows,
                TRUE AS cube_equals_batch
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_returnflag"), col("l_linestatus"),
        cents(col("l_quantity")).as("qty_c"))
      val name = "q318_cube"
      try {
        graft.plans.RollupRewrite.materializeAndRegister(s, name,
          li.filter(col("l_orderkey") % 2 === 0).drop("l_orderkey"),
          // deliberately unmatchable base path: this query exercises
          // cube MAINTENANCE, not the aggregate rewrite — a real base
          // path would let the rewrite answer this query's own batch
          // side from the cube (vacuous parity)
          basePath = "/graft-q318-no-such-base",
          dims = Seq("l_returnflag", "l_linestatus"), measures = Seq("qty_c"),
          cubePath = tmpDir("graft_q318_cube0"))
        val deltas = li.filter(col("l_orderkey") % 2 === 1).drop("l_orderkey")
        val srcDir = tmpDir("graft_q318_src")
        deltas.repartition(3).write.mode("overwrite").parquet(srcDir)
        val stream = s.readStream.schema(deltas.schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
        val cubeDir = tmpDir("graft_q318_versions")
        val sq = IncrementalStream.cubeMaintenanceStream(stream, name,
          cubeDir, tmpDir("graft_q318_ckpt"))
        sq.awaitTermination()
        val v = IncrementalStream.latestVersion(s, cubeDir)
          .getOrElse(sys.error("q318: cube stream produced no version"))
        val cube = Readers.parquet(s, s"$cubeDir/v=$v")
          .select(col("l_returnflag"), col("l_linestatus"),
            col("sum_qty_c").as("cube_sum"), col("n_rows").as("cube_n"))
        val batch = li.groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("qty_c")).as("sum_qty_c"), count(lit(1)).as("n_rows"))
        batch.join(cube, Seq("l_returnflag", "l_linestatus"), "full_outer")
          .select(col("l_returnflag"), col("l_linestatus"),
            col("sum_qty_c"), col("n_rows"),
            (col("cube_sum").isNotNull && col("cube_sum") === col("sum_qty_c")
              && col("cube_n") === col("n_rows")).as("cube_equals_batch"))
          .orderBy("l_returnflag", "l_linestatus")
      } finally graft.plans.RollupRewrite.deregister(name)
    },

    // Streaming ANN-index maintenance (ivfPqMaintenanceStream): new
    // embedding vectors appended into a base IVF-PQ index as 3
    // micro-batches, each landing as its own ledgered batch partition
    // (foreachBatch + overwrite + geometry-recheck + ledger-last —
    // exactly-once, and the per-batch geometry re-pin is what lets the
    // stream self-heal across a rebuild). The verdict is a real
    // DIFFERENTIAL: the stream's stateless literal-expression cell
    // assignment vs the batch face's relational broadcast-join/max_by
    // assignment (appendToIvfPqIndex into a twin index) must produce
    // the identical code set, serving from both indexes must be
    // bit-equal for a base query AND an ingested query, and an
    // ingested vector must be retrievable without a rebuild. n_new is
    // DuckDB-recomputed.
    "q322_stream_ann_ingest" -> q(
      """SELECT CAST(count(*) AS BIGINT) AS n_new,
                CAST(0 AS BIGINT) AS n_code_mismatches,
                TRUE AS serve_equals_batch_face,
                TRUE AS ingested_retrievable
         FROM embeddings WHERE vec_id % 4 = 0""") { (s, dir) =>
      import graft.analytics.Similarity
      val e = t(s, dir, "embeddings")
      val base = e.filter(col("vec_id") % 4 =!= 0)
      val newbies = e.filter(col("vec_id") % 4 === 0)
      val cb = EmbeddingQueries.sharedCodebook(s, dir)
      // twin base indexes: same base corpus -> identical frozen cell
      // geometry (centroids are hash-picked from the same rows)
      val idxA = tmpDir("graft_q322_idxA")
      val idxB = tmpDir("graft_q322_idxB")
      Similarity.writeIvfPqIndex(base, "vec_id", "embedding", cb, idxA)
      Similarity.writeIvfPqIndex(base, "vec_id", "embedding", cb, idxB)
      // stream face into A (3 micro-batches, one ledgered batch each)
      val srcDir = tmpDir("graft_q322_src")
      newbies.select("vec_id", "embedding").repartition(3)
        .write.mode("overwrite").parquet(srcDir)
      val stream = s.readStream
        .schema(newbies.select("vec_id", "embedding").schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val sq = IncrementalStream.ivfPqMaintenanceStream(stream, "vec_id",
        "embedding", idxA, tmpDir("graft_q322_ckpt"))
      sq.awaitTermination()
      // batch face into B
      Similarity.appendToIvfPqIndex(s, idxB, newbies, "vec_id", "embedding",
        batchId = "q322-batch")
      // code-set differential (pq_code as a joinable string key), each
      // index read under IndexStore's single visibility rule — base ∪
      // ledgered batch delta ∪ stream delta covers both faces
      def codeRel(path: String): org.apache.spark.sql.DataFrame =
        graft.analytics.IndexStore.storedComponent(s, path, "codes")
          .select(col("id"), col("cell"),
            concat_ws(",", col("pq_code")).as("code"))
      val mism = codeRel(idxA).withColumn("__a", lit(1))
        .join(codeRel(idxB).withColumn("__b", lit(1)),
          Seq("id", "cell", "code"), "full_outer")
        .agg(sum(when(col("__a").isNull || col("__b").isNull, 1L)
          .otherwise(0L)).as("n_code_mismatches"))
      // serving parity on a base query (7 % 4 != 0) and an ingested
      // query (8 % 4 == 0), and ingested-vector retrievability
      def serveEq(qid: Long) = {
        val qv = e.filter(col("vec_id") === qid)
        Similarity.topKIvfPqFromIndex(s, idxA, qv, "vec_id", "embedding",
            k = 20, cb)
          .select(col("id"), col("adc_dist").as("__da"))
          .join(Similarity.topKIvfPqFromIndex(s, idxB, qv, "vec_id",
            "embedding", k = 20, cb)
            .select(col("id"), col("adc_dist").as("__db")), Seq("id"), "full_outer")
      }
      val eq = serveEq(7L).unionByName(serveEq(8L))
        .agg(sum(when(col("__da").isNull || col("__db").isNull
          || col("__da") =!= col("__db"), 1L).otherwise(0L)).as("__ne"))
      val found = Similarity.topKIvfPqFromIndex(s,
          idxA, e.filter(col("vec_id") === 8L), "vec_id", "embedding",
          k = 20, cb)
        .filter(col("id") === 8L).agg(count(lit(1)).as("__f"))
      newbies.agg(count(lit(1)).as("n_new"))
        .crossJoin(mism).crossJoin(eq).crossJoin(found)
        .select(col("n_new"), col("n_code_mismatches"),
          (col("__ne") === 0L).as("serve_equals_batch_face"),
          (col("__f") === 1L).as("ingested_retrievable"))
    },

    // Streaming MinHash-index maintenance (minhashMaintenanceStream):
    // newly ingested documents appended into a stored MinHash-LSH
    // index, each micro-batch one ledgered batch whose shingle and
    // band rows go visible atomically through the single ledger
    // commit — symmetric with q322's IVF-PQ face. The verdict is a real
    // DIFFERENTIAL against the batch face (appendToMinhashIndex into a
    // twin index): stored shingle and band row sets must be identical,
    // a probe batch must return the identical verified pair set from
    // both indexes, every probe doc must find its stream-INGESTED
    // identical-text twin (ingest is probe-visible without a rebuild),
    // and replaying the batch append must be a no-op (the exactly-once
    // ledger). n_ingested is DuckDB-recomputed.
    "q326_stream_minhash_ingest" -> q(
      """SELECT CAST(count(*) AS BIGINT) AS n_ingested,
                CAST(0 AS BIGINT) AS n_store_mismatches,
                CAST(0 AS BIGINT) AS n_probe_mismatches,
                TRUE AS all_ingested_twins_found,
                TRUE AS append_replay_noop
         FROM documents WHERE doc_id % 10 = 0""") { (s, dir) =>
      import graft.analytics.{Dedup, IndexStore}
      val corpus = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val newbies = corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val probe = corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      val idxA = tmpDir("graft_q326_idxA")
      val idxB = tmpDir("graft_q326_idxB")
      Dedup.writeMinhashIndex(corpus, "doc_id", "text", idxA, n = 3)
      Dedup.writeMinhashIndex(corpus, "doc_id", "text", idxB, n = 3)
      // stream face into A: 2 micro-batches, each landing as one
      // ledgered batch (shingle set + band buckets visible atomically
      // through the one ledger commit)
      val srcDir = tmpDir("graft_q326_src")
      newbies.repartition(2).write.mode("overwrite").parquet(srcDir)
      val stream = s.readStream.schema(newbies.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      IncrementalStream.minhashMaintenanceStream(stream,
        "doc_id", "text", idxA, tmpDir("graft_q326_ckpt"))
        .awaitTermination()
      // batch face into B
      Dedup.appendToMinhashIndex(newbies, "doc_id", "text", idxB,
        batchId = "q326-batch")
      // stored-relation differential: shingle sets compared by id +
      // array hash (same expression both sides of the same plan), band
      // rows by their plain columns
      def shingleRel(p: String) =
        Dedup.storedMinhashComponent(s, p, "shingles")
          .select(col("id"), hash(col("shash")).as("h"))
      def bandRel(p: String) =
        Dedup.storedMinhashComponent(s, p, "bands")
          .select(col("id"), col("band"), col("bh"))
      val shMism = shingleRel(idxA).withColumn("__a", lit(1))
        .join(shingleRel(idxB).withColumn("__b", lit(1)),
          Seq("id", "h"), "full_outer")
        .agg(sum(when(col("__a").isNull || col("__b").isNull, 1L)
          .otherwise(0L)).as("__m"))
      val bdMism = bandRel(idxA).withColumn("__a", lit(1))
        .join(bandRel(idxB).withColumn("__b", lit(1)),
          Seq("id", "band", "bh"), "full_outer")
        .agg(sum(when(col("__a").isNull || col("__b").isNull, 1L)
          .otherwise(0L)).as("__m"))
      val storeMism = shMism.crossJoin(bdMism.select(col("__m").as("__m2")))
        .select((col("__m") + col("__m2")).as("n_store_mismatches"))
      // probe parity + ingested-twin visibility
      val pA = Dedup.probeMinhashIndex(s, idxA, probe, "doc_id", "text")
      val pB = Dedup.probeMinhashIndex(s, idxB, probe, "doc_id", "text")
      val probeMism = pA.withColumn("__a", lit(1))
        .join(pB.withColumn("__b", lit(1)),
          Seq("id_new", "id_corpus", "common", "n_new", "n_corpus"),
          "full_outer")
        .agg(sum(when(col("__a").isNull || col("__b").isNull, 1L)
          .otherwise(0L)).as("n_probe_mismatches"))
      val missingTwins = probe.select(col("doc_id").as("id_new"))
        .join(pA.filter(col("id_corpus") === col("id_new") - 1000000L),
          Seq("id_new"), "left_anti")
        .agg(count(lit(1)).as("__missing"))
      // replay the batch append on B: the ledger makes it a no-op
      val nShB1 = Dedup.storedMinhashComponent(s, idxB, "shingles").count()
      Dedup.appendToMinhashIndex(newbies, "doc_id", "text", idxB,
        batchId = "q326-batch")
      val nShB2 = Dedup.storedMinhashComponent(s, idxB, "shingles").count()
      newbies.agg(count(lit(1)).as("n_ingested"))
        .crossJoin(storeMism).crossJoin(probeMism).crossJoin(missingTwins)
        .select(col("n_ingested"), col("n_store_mismatches"),
          col("n_probe_mismatches"),
          (col("__missing") === 0L).as("all_ingested_twins_found"),
          lit(nShB1 == nShB2).as("append_replay_noop"))
    },

    // Streaming near-dup probe at ingest (minhashProbeStream): newly
    // arriving documents probed against a stored MinHash corpus index,
    // 3 micro-batches, verified pairs landed per batch with
    // exactly-once per-batch-dir overwrite. The verdict: the union of
    // streamed probe outputs must equal the one-shot batch probe of
    // the same documents row-for-row (probe results are per-document,
    // so the micro-batch split is invariant), and every ingested
    // identical-text twin must be flagged the moment it lands.
    // n_probed is DuckDB-recomputed.
    "q330_stream_minhash_probe" -> q(
      """SELECT CAST(count(*) AS BIGINT) AS n_probed,
                CAST(0 AS BIGINT) AS n_probe_mismatches,
                TRUE AS all_twins_flagged
         FROM documents WHERE doc_id % 10 = 0""") { (s, dir) =>
      import graft.analytics.Dedup
      val corpus = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val arrivals = corpus.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val idx = tmpDir("graft_q330_idx")
      Dedup.writeMinhashIndex(corpus, "doc_id", "text", idx, n = 3)
      val srcDir = tmpDir("graft_q330_src")
      arrivals.repartition(3).write.mode("overwrite").parquet(srcDir)
      val stream = s.readStream.schema(arrivals.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val outDir = tmpDir("graft_q330_out")
      val sq = IncrementalStream.minhashProbeStream(stream, "doc_id", "text",
        idx, outDir, tmpDir("graft_q330_ckpt"))
      sq.awaitTermination()
      val streamed = Readers.parquet(s, outDir)
        .select("id_new", "id_corpus", "common", "n_new", "n_corpus")
        .withColumn("__s", lit(1))
      val oneShot = Dedup.probeMinhashIndex(s, idx, arrivals, "doc_id", "text")
        .withColumn("__b", lit(1))
      val mism = streamed.join(oneShot,
          Seq("id_new", "id_corpus", "common", "n_new", "n_corpus"),
          "full_outer")
        .agg(sum(when(col("__s").isNull || col("__b").isNull, 1L)
          .otherwise(0L)).as("n_probe_mismatches"))
      val missingTwins = arrivals.select(col("doc_id").as("id_new"))
        .join(streamed.filter(col("id_corpus") === col("id_new") - 1000000L),
          Seq("id_new"), "left_anti")
        .agg(count(lit(1)).as("__missing"))
      arrivals.agg(count(lit(1)).as("n_probed"))
        .crossJoin(mism).crossJoin(missingTwins)
        .select(col("n_probed"), col("n_probe_mismatches"),
          (col("__missing") === 0L).as("all_twins_flagged"))
    },

    // Streaming keyed decayed recurrence (flatMapGroupsWithState) ==
    // the batch DecayedScan custom physical operator, on the full
    // events table: same recurrence, same truncating division, so
    // every (key, ord) row must carry the identical decayed value.
    // One AvailableNow batch keeps the ord contract trivially
    // satisfied; cross-batch replay semantics are DecayedStreamSpec's.
    "q319_stream_decayed" -> q(
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(0 AS BIGINT) AS n_mismatches
         FROM events""") { (s, dir) =>
      import s.implicits._
      val stream = tStream(s, dir, "events")
        .select(col("user_id"), col("event_id"), cents(col("value")).as("vc"))
        .as[(Long, Long, Long)]
      val out = runToParquet(
        IncrementalStream.decayedSumStream(stream, num = 9, den = 10)
          .toDF(), "q319")
        .withColumn("__s", lit(1))
      val batch = graft.plans.Recurrence.decayedSum(
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), cents(col("value")).as("vc")),
        "user_id", Seq("event_id"), "vc", 9, 10, "s")
        .select(col("user_id").as("key"), col("event_id").as("ord"),
          col("s").as("decayed"))
        .withColumn("__b", lit(1))
      out.join(batch, Seq("key", "ord", "decayed"), "full_outer")
        .agg(
          sum(when(col("__s").isNotNull && col("__b").isNotNull, 1L)
            .otherwise(0L)).as("n_rows"),
          sum(when(col("__s").isNull || col("__b").isNull, 1L)
            .otherwise(0L)).as("n_mismatches"))
    },

    // Streaming sessionization (flatMapGroupsWithState per-user state)
    // == the batch window sessionize, aggregated per user: session and
    // event counts must agree for every user. total_sessions is
    // DuckDB's exact window recomputation of the same gap rule.
    "q320_stream_sessionize" -> q(
      """WITH g AS (
           SELECT user_id,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                       THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(sum(new_s) AS BIGINT) AS total_sessions,
                CAST(0 AS BIGINT) AS n_mismatches
         FROM g""") { (s, dir) =>
      import s.implicits._
      val stream = tStream(s, dir, "events")
        .select(col("user_id"), col("ts"))
        .as[(Long, java.sql.Timestamp)]
      // Update-mode operator → foreachBatch sink (the parquet sink is
      // append-only); final state per user = its last update
      val outDir = tmpDir("graft_q320_out")
      val sq = IncrementalStream.sessionizeStream(stream, gapSeconds = 1800L)
        .writeStream
        .option("checkpointLocation", tmpDir("graft_q320_ckpt"))
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[IncrementalStream.SessionUpdate],
                         id: Long) =>
          b.withColumn("batch_id", lit(id))
            .write.mode("append").parquet(outDir)
          ()
        }
        .start()
      sq.awaitTermination()
      val out = Readers.parquet(s, outDir)
        .withColumn("__rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("batch_id").desc)))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("n_sessions"), col("n_events"))
        .withColumn("__s", lit(1))
      val batch = graft.analytics.Events.sessionCounts(
        t(s, dir, "events"), "user_id", "ts", gapSeconds = 1800L,
        tieBreak = "event_id")
        .withColumn("__b", lit(1))
      out.join(batch, Seq("user_id", "n_sessions", "n_events"), "full_outer")
        .agg(
          sum(when(col("__s").isNotNull && col("__b").isNotNull, 1L)
            .otherwise(0L)).as("n_users"),
          sum(when(col("__s").isNotNull && col("__b").isNotNull,
            col("n_sessions")).otherwise(0L)).as("total_sessions"),
          sum(when(col("__s").isNull || col("__b").isNull, 1L)
            .otherwise(0L)).as("n_mismatches"))
    }
  )
}
