package graft.queries

import org.apache.spark.sql.functions._
import graft.analytics.Similarity
import graft.sources.Readers

/** Embedding similarity search over `embeddings` (SURVEY §7.4).
  *
  * Oracle strategy: quantize floats to integer micro-units on BOTH
  * engines, so dot products / squared norms are exact integers and the
  * cosine is one deterministic IEEE division — hash-stable across
  * engines (see graft.analytics.Similarity).
  */
object EmbeddingQueries {

  // DuckDB equivalents of Similarity.quantize / qdot.
  private def quantSql(col: String) =
    s"list_transform($col, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))"
  private def qdotSql(a: String, b: String) =
    s"CAST(list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])) AS BIGINT)"

  // Exact squared L2 between two quantized BIGINT lists (HUGEINT
  // per-term like q289's oracle, so no double rounding anywhere).
  private def l2Sql(a: String, b: String) =
    s"""CAST(list_sum(list_transform(generate_series(1, len($a)),
        i -> CAST($a[i] - $b[i] AS HUGEINT) * ($a[i] - $b[i]))) AS BIGINT)"""

  /** The DuckDB face of Similarity.kmeansAssign (k=8, rounds=2),
    * spliced into q310/q311: seed by md5 rank, assign by exact L2 with
    * the [dist, cluster] lexicographic list-min (== Spark's struct
    * min), rebuild centroids as the truncating integer mean (`//` ==
    * Spark `div`, both toward zero), assign again. `a2` ends the chain
    * with m = [dist, cluster] per id. */
  private val KmeansSql =
    s"""v AS (SELECT vec_id AS id, ${quantSql("embedding")} AS qv FROM embeddings),
        sd AS (SELECT id, qv, row_number() OVER (ORDER BY md5('km' || CAST(id AS VARCHAR)), id) - 1 AS cluster
               FROM v),
        c0 AS (SELECT CAST(cluster AS BIGINT) AS cluster, qv AS cv FROM sd WHERE cluster < 8),
        a1 AS (SELECT v.id, v.qv, min([${l2Sql("v.qv", "c.cv")}, c.cluster]) AS m
               FROM v CROSS JOIN c0 c GROUP BY v.id, v.qv),
        u1 AS (SELECT m[2] AS cluster, u.i,
                      CAST(sum(a1.qv[u.i]) AS BIGINT) // CAST(count(*) AS BIGINT) AS cval
               FROM a1, unnest(generate_series(1, len(a1.qv))) AS u(i)
               GROUP BY 1, 2),
        c1 AS (SELECT cluster, list(cval ORDER BY i) AS cv FROM u1 GROUP BY 1),
        a2 AS (SELECT v.id, min([${l2Sql("v.qv", "c.cv")}, c.cluster]) AS m
               FROM v CROSS JOIN c1 c GROUP BY v.id)"""

  /** K-means PQ index per scale-factor dir, built once and reused:
    * training + corpus encoding are explicit OFFLINE actions in real PQ
    * deployments — the stored 8-byte codes ARE the index, and serving
    * reads them without ever touching the corpus vectors. Memoizing
    * mirrors that split: q79 measures the full offline build (train +
    * encode + write), q75 measures serving alone. */
  private final case class PqIndex(
      cb: Array[Array[Array[Long]]], codesPath: String, ivfPath: String)
  private val pqMemo =
    new java.util.concurrent.ConcurrentHashMap[String, PqIndex]()
  /** The memoized whole-corpus codebook, shared with q322's incremental
    * index-maintenance verdict (a codebook is an input artifact there —
    * training again on the base slice would just duplicate work). */
  private[queries] def sharedCodebook(s: org.apache.spark.sql.SparkSession,
                                      dir: String): Array[Array[Array[Long]]] =
    pqIndex(s, dir).cb

  private def pqIndex(s: org.apache.spark.sql.SparkSession,
                      dir: String): PqIndex =
    pqMemo.computeIfAbsent(dir, _ => {
      val e = t(s, dir, "embeddings")
      val cb = Similarity.trainPqCodebookKmeans(e, "vec_id", "embedding")
      val path = java.nio.file.Files
        .createTempDirectory("graft-pq-codes").toString
      Similarity.writePqCodes(e, "vec_id", "embedding", cb, path)
      val ivfPath = java.nio.file.Files
        .createTempDirectory("graft-ivfpq").toString
      Similarity.writeIvfPqIndex(e, "vec_id", "embedding", cb, ivfPath)
      PqIndex(cb, path, ivfPath)
    })

  /** Plant one deterministic near-dup twin per vector: first coordinate
    * ×1.5 in exact double math (float→double is exact; ×1.5 is one IEEE
    * multiply, identical on any engine), id offset +1_000_000. Cosine to
    * the base vector lands at ~0.997 for 64-dim vectors. */
  private def withTwins(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val base = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    base.unionAll(base.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        when(i === 0, x * 1.5d).otherwise(x)).as("embedding")))
  }

  val defs: Map[String, Q] = Map(

    // Brute-force cosine top-k against the vec_id=7 query vector.
    "q37_embed_topk_brute" -> q(
      s"""WITH c AS (SELECT vec_id, ${quantSql("embedding")} AS qv FROM embeddings),
               qy AS (SELECT qv AS q_qv FROM c WHERE vec_id = 7)
          SELECT vec_id AS id,
                 CAST(${qdotSql("qv", "q_qv")} AS DOUBLE)
                   / (sqrt(CAST(${qdotSql("qv", "qv")} AS DOUBLE))
                      * sqrt(CAST(${qdotSql("q_qv", "q_qv")} AS DOUBLE))) AS cosine
          FROM c, qy
          ORDER BY cosine DESC, id LIMIT 20""") { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.topKBruteForce(e, "vec_id", "embedding",
        e.filter(col("vec_id") === 7), k = 20)
        .orderBy(col("cosine").desc, col("id"))
    },

    // LSH-bucketed ANN top-k, registered as its VERDICT: the bucketing
    // is hash-seeded, but the invariants are not — the query collides
    // with itself in every band (self-retrieval is GUARANTEED), and
    // recall@20 vs the Spark-recomputed brute-force top-20 must clear
    // the floor. n_corpus is DuckDB-recomputed.
    "q38_embed_topk_lsh" -> q(
      """SELECT CAST(count(*) AS BIGINT) AS n_corpus,
                TRUE AS self_found, TRUE AS recall20_ge_25
         FROM embeddings""") { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val q7 = e.filter(col("vec_id") === 7)
      val lsh = Similarity.topKLsh(e, "vec_id", "embedding", q7, k = 20)
        .select(col("id"))
      val brute = Similarity.topKBruteForce(e, "vec_id", "embedding", q7, k = 20)
        .select(col("id"))
      val hits = lsh.join(brute, Seq("id")).agg(count(lit(1)).as("__h"))
      val self = lsh.filter(col("id") === 7).agg(count(lit(1)).as("__s"))
      e.agg(count(lit(1)).as("n_corpus")).crossJoin(hits).crossJoin(self)
        .select(col("n_corpus"), (col("__s") === 1L).as("self_found"),
          (col("__h") * 4 >= 20L).as("recall20_ge_25"))
    },

    // IVF-style ANN top-k (deterministic coarse cells, nProbe pruning),
    // registered as its VERDICT: self-retrieval (the query's own cell
    // is always its top probe) + recall@20 vs Spark-recomputed brute
    // force; n_corpus DuckDB-recomputed.
    "q39_embed_topk_ivf" -> q(
      """SELECT CAST(count(*) AS BIGINT) AS n_corpus,
                TRUE AS self_found, TRUE AS recall20_ge_25
         FROM embeddings""") { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val q7 = e.filter(col("vec_id") === 7)
      val ivf = Similarity.topKIvf(e, "vec_id", "embedding", q7, k = 20)
        .select(col("id"))
      val brute = Similarity.topKBruteForce(e, "vec_id", "embedding", q7, k = 20)
        .select(col("id"))
      val hits = ivf.join(brute, Seq("id")).agg(count(lit(1)).as("__h"))
      val self = ivf.filter(col("id") === 7).agg(count(lit(1)).as("__s"))
      e.agg(count(lit(1)).as("n_corpus")).crossJoin(hits).crossJoin(self)
        .select(col("n_corpus"), (col("__s") === 1L).as("self_found"),
          (col("__h") * 4 >= 20L).as("recall20_ge_25"))
    },

    // Embedding-cosine near-dup pairs (LSH candidate generation),
    // registered as the VERDICT over the planted-twin corpus (every
    // vector gets a deterministic twin at cosine ~0.997): precision —
    // zero LSH pairs outside the Spark-recomputed brute-force exact
    // pair set — and twin recall ≥ 0.9. n_vectors DuckDB-recomputed.
    "q40_embed_near_dup" -> q(
      """SELECT CAST(2 * count(*) AS BIGINT) AS n_vectors,
                CAST(0 AS BIGINT) AS n_violations,
                TRUE AS twin_recall_ge_90
         FROM embeddings""") { (s, dir) =>
      val base = t(s, dir, "embeddings")
      val tw = withTwins(base)
      val lsh = Similarity.cosineNearDupPairs(tw, "vec_id", "embedding",
          threshold = 0.95)
        .select(col("id_a"), col("id_b"), lit(1L).as("__l"))
      val brute = Similarity.nearDupPairsBruteForce(tw, "vec_id", "embedding",
          threshold = 0.95)
        .select(col("id_a"), col("id_b"), lit(1L).as("__b"))
      val agg = lsh.join(brute, Seq("id_a", "id_b"), "full_outer")
        .agg(sum(when(col("__b").isNull, 1L).otherwise(0L)).as("n_violations"),
          sum(when(col("__l").isNotNull
            && col("id_b") === col("id_a") + 1000000L, 1L).otherwise(0L))
            .as("__tf"))
      base.agg(count(lit(1)).as("__n")).crossJoin(agg)
        .select((col("__n") * 2).as("n_vectors"), col("n_violations"),
          (col("__tf") * 10 >= col("__n") * 9).as("twin_recall_ge_90"))
    },

    // SemDeDup (Abbas et al. 2023): IVF-cell-bucketed embedding
    // near-dedup reduced to keep-min-id verdicts — the semantic rung of
    // the dedup ladder. Registered as the VERDICT over the twinned
    // corpus: full per-id coverage, precision 1.0 (every non-survivor
    // really has a ≥-threshold neighbor in the Spark-recomputed brute
    // pair set), twin recall ≥ 0.9. n_vectors DuckDB-recomputed.
    "q102_semantic_dedup" -> q(
      """SELECT CAST(2 * count(*) AS BIGINT) AS n_vectors,
                TRUE AS full_coverage,
                CAST(0 AS BIGINT) AS n_precision_violations,
                TRUE AS twin_recall_ge_90
         FROM embeddings""") { (s, dir) =>
      val base = t(s, dir, "embeddings")
      val tw = withTwins(base)
      val v = Similarity.semanticDedupVerdicts(tw, "vec_id", "embedding",
        threshold = 0.95, nCells = 16)
      val brute = Similarity.nearDupPairsBruteForce(tw, "vec_id", "embedding",
        threshold = 0.95)
      val dupNodes = brute.select(col("id_a").as("id"))
        .union(brute.select(col("id_b")))
        .distinct().withColumn("__d", lit(1L))
      val agg = v.join(dupNodes, Seq("id"), "left")
        .agg(count(lit(1)).as("__nv"),
          sum(when(!col("is_survivor") && col("__d").isNull, 1L).otherwise(0L))
            .as("n_precision_violations"),
          sum(when(col("id") >= 1000000L && !col("is_survivor"), 1L)
            .otherwise(0L)).as("__td"))
      base.agg(count(lit(1)).as("__n")).crossJoin(agg)
        .select((col("__n") * 2).as("n_vectors"),
          (col("__nv") === col("__n") * 2).as("full_coverage"),
          col("n_precision_violations"),
          (col("__td") * 10 >= col("__n") * 9).as("twin_recall_ge_90"))
    },

    // Incremental semantic near-dup (daily-ingest SemDeDup): the twinned
    // slice plays the new batch, the untouched remainder the corpus —
    // only new×corpus pairs enumerated, mirroring q76 at the embedding
    // level. Registered as the VERDICT: zero emitted pairs outside the
    // Spark-recomputed exact new×corpus set, zero batch×batch leaks
    // (structurally impossible — id_corpus < 1e6 — but recomputed), and
    // twin recall ≥ 0.9. n_batch DuckDB-recomputed.
    "q103_semantic_dedup_incremental" -> q(
      """SELECT CAST(count(*) AS BIGINT) AS n_batch,
                CAST(0 AS BIGINT) AS n_violations,
                CAST(0 AS BIGINT) AS n_batch_batch_leaks,
                TRUE AS twin_recall_ge_90
         FROM embeddings""") { (s, dir) =>
      val base = t(s, dir, "embeddings")
      val e = withTwins(base)
      val batch = e.filter(col("vec_id") >= 1000000L)
      val corpus = e.filter(col("vec_id") < 1000000L)
      val got = Similarity.crossCorpusEmbeddingNearDup(batch, corpus,
          "vec_id", "embedding", threshold = 0.95, nCells = 16)
        .select(col("id_new"), col("id_corpus"), lit(1L).as("__g"))
      // exact new×corpus pair set from the all-pairs brute baseline:
      // twins carry the higher ids, so (corpus, batch) pairs appear as
      // (id_a < 1e6 <= id_b)
      val exact = Similarity.nearDupPairsBruteForce(e, "vec_id", "embedding",
          threshold = 0.95)
        .filter(col("id_a") < 1000000L && col("id_b") >= 1000000L)
        .select(col("id_b").as("id_new"), col("id_a").as("id_corpus"),
          lit(1L).as("__e"))
      val agg = got.join(exact, Seq("id_new", "id_corpus"), "full_outer")
        .agg(
          sum(when(col("__g").isNotNull && col("__e").isNull, 1L).otherwise(0L))
            .as("n_violations"),
          sum(when(col("__g").isNotNull && col("id_corpus") >= 1000000L, 1L)
            .otherwise(0L)).as("n_batch_batch_leaks"),
          sum(when(col("__g").isNotNull
            && col("id_new") === col("id_corpus") + 1000000L, 1L).otherwise(0L))
            .as("__tf"))
      base.agg(count(lit(1)).as("__n")).crossJoin(agg)
        .select(col("__n").as("n_batch"), col("n_violations"),
          col("n_batch_batch_leaks"),
          (col("__tf") * 10 >= col("__n") * 9).as("twin_recall_ge_90"))
    },

    // Brute-force variant of the near-dup operator over a bounded slice:
    // exact all-pairs cosine, fully oracle-checkable (the exactness
    // baseline the LSH path is measured against).
    "q63_embed_near_dup_brute" -> q(
      s"""WITH base AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
            FROM embeddings WHERE vec_id < 1000),
          twins AS (
            SELECT vec_id + 1000000 AS vec_id,
                   list_concat([emb[1] * 1.5], emb[2:]) AS emb
            FROM base),
          c AS (
            SELECT vec_id,
                   list_transform(emb, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qv
            FROM (SELECT * FROM base UNION ALL SELECT * FROM twins))
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 CAST(${qdotSql("a.qv", "b.qv")} AS DOUBLE)
                   / (sqrt(CAST(${qdotSql("a.qv", "a.qv")} AS DOUBLE))
                      * sqrt(CAST(${qdotSql("b.qv", "b.qv")} AS DOUBLE))) AS cosine
          FROM c a JOIN c b ON a.vec_id < b.vec_id
          WHERE CAST(${qdotSql("a.qv", "b.qv")} AS DOUBLE)
                  / (sqrt(CAST(${qdotSql("a.qv", "a.qv")} AS DOUBLE))
                     * sqrt(CAST(${qdotSql("b.qv", "b.qv")} AS DOUBLE))) >= 0.95
          ORDER BY id_a, id_b""") { (s, dir) =>
      Similarity.nearDupPairsBruteForce(
        withTwins(t(s, dir, "embeddings").filter(col("vec_id") < 1000)),
        "vec_id", "embedding", threshold = 0.95)
        .orderBy("id_a", "id_b")
    },

    // Batch top-k: 10 nearest corpus vectors for each of 5 query
    // vectors in one pass — broadcast queries, window top-k per query.
    "q73_embed_topk_many" -> q(
      s"""WITH c AS (SELECT vec_id, ${quantSql("embedding")} AS qv FROM embeddings),
               qs AS (SELECT vec_id AS qid, qv AS q_qv FROM c WHERE vec_id IN (3, 7, 11, 19, 23)),
               scored AS (
                 SELECT qs.qid, c.vec_id AS id,
                        CAST(${qdotSql("c.qv", "qs.q_qv")} AS DOUBLE)
                          / (sqrt(CAST(${qdotSql("c.qv", "c.qv")} AS DOUBLE))
                             * sqrt(CAST(${qdotSql("qs.q_qv", "qs.q_qv")} AS DOUBLE))) AS cosine
                 FROM c, qs)
          SELECT qid, id, cosine FROM (
            SELECT qid, id, cosine,
                   row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS rn
            FROM scored)
          WHERE rn <= 10
          ORDER BY qid, id""") { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.topKBruteForceMany(e, "vec_id", "embedding",
        e.filter(col("vec_id").isin(3, 7, 11, 19, 23)), "vec_id", k = 10)
        .orderBy("qid", "id")
    },

    // Hard-negative mining (Similarity.hardNegatives): per query, the
    // 10 most-similar vectors with a DIFFERENT label — the contrastive-
    // training pairs worth shipping. The label inequality rides the
    // broadcast join, so same-class pairs are never scored.
    "q183_hard_negatives" -> q(
      s"""WITH c AS (SELECT vec_id, label, ${quantSql("embedding")} AS qv FROM embeddings),
               qs AS (SELECT vec_id AS qid, label AS q_label, qv AS q_qv
                      FROM c WHERE vec_id IN (3, 7, 11, 19, 23)),
               scored AS (
                 SELECT qs.qid, c.vec_id AS id, CAST(c.label AS INTEGER) AS label,
                        CAST(${qdotSql("c.qv", "qs.q_qv")} AS DOUBLE)
                          / (sqrt(CAST(${qdotSql("c.qv", "c.qv")} AS DOUBLE))
                             * sqrt(CAST(${qdotSql("qs.q_qv", "qs.q_qv")} AS DOUBLE))) AS cosine
                 FROM c JOIN qs ON c.label <> qs.q_label)
          SELECT qid, id, label, cosine FROM (
            SELECT qid, id, label, cosine,
                   row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, id) AS rn
            FROM scored)
          WHERE rn <= 10
          ORDER BY qid, id""") { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.hardNegatives(e, "vec_id", "embedding", "label",
        e.filter(col("vec_id").isin(3, 7, 11, 19, 23)), "vec_id", k = 10)
        .orderBy("qid", "id")
    },

    // Batch LSH top-k, registered as its per-query VERDICT: each query
    // self-retrieves (guaranteed band self-collision) and clears the
    // recall@10 floor vs the Spark-recomputed exact batch.
    "q74_embed_topk_many_lsh" -> q(
      """SELECT CAST(vec_id AS BIGINT) AS qid,
                TRUE AS self_found, TRUE AS recall10_ge_20
         FROM embeddings WHERE vec_id IN (3, 7, 11, 19, 23)
         ORDER BY qid""") { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id").isin(3, 7, 11, 19, 23))
      val lsh = Similarity.topKLshMany(e, "vec_id", "embedding",
        qs, "vec_id", k = 10).select("qid", "id")
      val brute = Similarity.topKBruteForceMany(e, "vec_id", "embedding",
        qs, "vec_id", k = 10).select("qid", "id")
      val hits = lsh.join(brute, Seq("qid", "id"))
        .groupBy("qid").agg(count(lit(1)).as("__h"))
      val selfs = lsh.filter(col("qid") === col("id"))
        .groupBy("qid").agg(count(lit(1)).as("__s"))
      qs.select(col("vec_id").cast("long").as("qid"))
        .join(hits, Seq("qid"), "left").join(selfs, Seq("qid"), "left")
        .select(col("qid"),
          (coalesce(col("__s"), lit(0L)) === 1L).as("self_found"),
          (coalesce(col("__h"), lit(0L)) * 5 >= 10L).as("recall10_ge_20"))
        .orderBy("qid")
    },

    // PQ ADC top-k SERVING: reads the stored 8-byte codes (the index
    // artifact q79 builds) + query-side distance tables from the
    // k-means codebook — per-row work is 8 table lookups, the corpus
    // vectors are never read. Registered as its VERDICT:
    // stored-codes serving must equal inline encode-and-serve
    // bit-for-bit, and recall@20 vs the Spark-recomputed brute-force
    // top-20 clears the floor. n_corpus DuckDB-recomputed.
    "q75_embed_topk_pq" -> q(
      """SELECT CAST(count(*) AS BIGINT) AS n_corpus,
                TRUE AS stored_equals_inline, TRUE AS recall20_ge_25
         FROM embeddings""") { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val q7 = e.filter(col("vec_id") === 7)
      val idx = pqIndex(s, dir)
      val stored = Similarity.topKPqAdcFromCodes(Readers.parquet(s, idx.codesPath),
        q7, "vec_id", "embedding", k = 20, idx.cb)
      val inline = Similarity.topKPqAdc(e, "vec_id", "embedding", q7,
        k = 20, idx.cb)
      val mism = stored.select(col("id"), col("adc_dist").as("__ds"))
        .join(inline.select(col("id"), col("adc_dist").as("__di")),
          Seq("id"), "full_outer")
        .agg(sum(when(col("__ds").isNull || col("__di").isNull
          || col("__ds") =!= col("__di"), 1L).otherwise(0L)).as("__mm"))
      val brute = Similarity.topKBruteForce(e, "vec_id", "embedding", q7, k = 20)
        .select(col("id"))
      val hits = stored.select(col("id")).join(brute, Seq("id"))
        .agg(count(lit(1)).as("__h"))
      e.agg(count(lit(1)).as("n_corpus")).crossJoin(mism).crossJoin(hits)
        .select(col("n_corpus"), (col("__mm") === 0L).as("stored_equals_inline"),
          (col("__h") * 4 >= 20L).as("recall20_ge_25"))
    },

    // PQ index BUILD (the offline half of q75): k-means codebook via
    // Lloyd iterations in DataFrame algebra + corpus encoding to stored
    // 8-byte codes. Registered as its VERDICT: every corpus vector gets
    // exactly one stored code row, every code is a valid 8-wide array
    // in [0, 16), and the k-means codebook's quantization error is no
    // worse than the hash-picked initialization it descends from.
    // n_coded is DuckDB-recomputed (== corpus size).
    "q79_embed_pq_train" -> q(
      """SELECT CAST(count(*) AS BIGINT) AS n_coded,
                TRUE AS codes_valid, TRUE AS codebook_shape_ok,
                TRUE AS kmeans_no_worse_than_init
         FROM embeddings""") { (s, dir) =>
      pqMemo.remove(dir) // measure a full offline build, not the memo
      val e = t(s, dir, "embeddings")
      val idx = pqIndex(s, dir)
      val cb = idx.cb
      val shapeOk = cb.length == 8 &&
        cb.forall(sub => sub.length == 16 && sub.forall(_.length == 8))
      val errKm = Similarity.pqQuantizationError(e, "vec_id", "embedding", cb)
      val errInit = Similarity.pqQuantizationError(e, "vec_id", "embedding",
        Similarity.trainPqCodebook(e, "vec_id", "embedding"))
      Readers.parquet(s, idx.codesPath)
        .agg(count(lit(1)).as("n_coded"),
          sum(when(size(col("pq_code")) =!= 8
            || exists(col("pq_code"), c => c < 0 || c >= 16), 1L)
            .otherwise(0L)).as("__bad"))
        .select(col("n_coded"), (col("__bad") === 0L).as("codes_valid"),
          lit(shapeOk).as("codebook_shape_ok"),
          lit(errKm <= errInit).as("kmeans_no_worse_than_init"))
    },

    // Batch PQ ADC serving: one stored-code scan, five queries, per-qid
    // window top-k. Registered as its per-query VERDICT: the batch path
    // must equal five single-query servings bit-for-bit (the
    // no-silent-cross-query-merge contract).
    "q80_embed_pq_serve_many" -> q(
      """SELECT CAST(vec_id AS BIGINT) AS qid, TRUE AS many_equals_single
         FROM embeddings WHERE vec_id IN (3, 7, 11, 19, 23)
         ORDER BY qid""") { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val idx = pqIndex(s, dir)
      val codes = Readers.parquet(s, idx.codesPath)
      val qs = e.filter(col("vec_id").isin(3, 7, 11, 19, 23))
      val many = Similarity.topKPqAdcManyFromCodes(codes, qs,
        "vec_id", "embedding", k = 10, idx.cb)
        .select(col("qid"), col("id"), col("adc_dist"))
      val singles = Seq(3L, 7L, 11L, 19L, 23L).map { qv =>
        Similarity.topKPqAdcFromCodes(codes, e.filter(col("vec_id") === qv),
          "vec_id", "embedding", k = 10, idx.cb)
          .select(lit(qv).as("qid"), col("id"), col("adc_dist").as("__d1"))
      }.reduce(_ unionByName _)
      val mism = many.join(singles, Seq("qid", "id"), "full_outer")
        .groupBy("qid")
        .agg(sum(when(col("adc_dist").isNull || col("__d1").isNull
          || col("adc_dist") =!= col("__d1"), 1L).otherwise(0L)).as("__mm"))
      qs.select(col("vec_id").cast("long").as("qid"))
        .join(mism, Seq("qid"), "left")
        .select(col("qid"),
          (coalesce(col("__mm"), lit(0L)) === 0L).as("many_equals_single"))
        .orderBy("qid")
    },

    // Fused IVF-PQ serving: nProbe cells selected driver-side against
    // the KB-scale centroid table, code scan pruned to those cell
    // PARTITIONS at the parquet level, literal-table ADC on survivors.
    // Registered as its VERDICT: the query retrieves itself (its own
    // cell is always probed) and a rerun from the stored index is
    // bit-identical. n_corpus DuckDB-recomputed.
    "q81_embed_ivfpq_serve" -> q(
      """SELECT CAST(count(*) AS BIGINT) AS n_corpus,
                TRUE AS self_found, TRUE AS rerun_identical
         FROM embeddings""") { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val q7 = e.filter(col("vec_id") === 7)
      val idx = pqIndex(s, dir)
      def serve() = Similarity.topKIvfPqFromIndex(s, idx.ivfPath, q7,
        "vec_id", "embedding", k = 20, idx.cb)
      val served = serve()
      val mism = served.select(col("id"), col("adc_dist").as("__d1"))
        .join(serve().select(col("id"), col("adc_dist").as("__d2")),
          Seq("id"), "full_outer")
        .agg(sum(when(col("__d1").isNull || col("__d2").isNull
          || col("__d1") =!= col("__d2"), 1L).otherwise(0L)).as("__mm"))
      val self = served.filter(col("id") === 7).agg(count(lit(1)).as("__s"))
      e.agg(count(lit(1)).as("n_corpus")).crossJoin(mism).crossJoin(self)
        .select(col("n_corpus"), (col("__s") === 1L).as("self_found"),
          (col("__mm") === 0L).as("rerun_identical"))
    },

    // Per-label centroid (element-wise vector sum) squared norm: grouped
    // vector aggregation as 64 integer sum columns — one hash aggregate,
    // exact integer math, oracle-checkable.
    "q41_embed_label_agg" -> q(
      s"""WITH c AS (SELECT label, ${quantSql("embedding")} AS qv FROM embeddings),
               d AS (SELECT label, i, CAST(sum(qv[i]) AS BIGINT) AS s, count(*) AS cnt
                     FROM c, (SELECT unnest(generate_series(1, 64)) AS i) ix
                     GROUP BY label, i)
          SELECT label, CAST(min(cnt) AS BIGINT) AS n,
                 CAST(sum(s * s) AS BIGINT) AS centroid_sq_norm
          FROM d GROUP BY label ORDER BY label""") { (s, dir) =>
      val e = t(s, dir, "embeddings")
        .select(col("label"), Similarity.quantize(col("embedding")).as("qv"))
      val sumCols = (1 to 64).map(i => sum(element_at(col("qv"), i)).as(s"s_$i"))
      e.groupBy("label")
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .select(col("label"), col("n"),
          aggregate(array((1 to 64).map(i => col(s"s_$i")): _*),
            lit(0L), (acc, sv) => acc + sv * sv).as("centroid_sq_norm"))
        .orderBy("label")
    },

    // Higher-order array functions as the per-vector feature pass: the
    // whole row stays inside one codegen'd projection (transform +
    // aggregate + array_min/max), no explode, no shuffle — the shape a
    // 100 TB embedding-stats scan wants. Elements are scaled to exact
    // 1e-6 integers first, so every statistic is integer-exact.
    "q147_array_functions" -> q(
      """SELECT vec_id,
                CAST(len(embedding) AS INTEGER) AS n_dims,
                CAST(list_sum(list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)))
                  AS BIGINT) AS sum_e6,
                CAST(list_min(list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)))
                  AS BIGINT) AS min_e6,
                CAST(list_max(list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)))
                  AS BIGINT) AS max_e6,
                CAST(list_sum(list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
                       * CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)))
                  AS BIGINT) AS norm_sq_e12
         FROM embeddings ORDER BY vec_id""") { (s, dir) =>
      val scaled = transform(col("embedding"),
        x => floor(x.cast("double") * 1000000 + 0.5).cast("long"))
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).as("n_dims"),
          aggregate(scaled, lit(0L), (a, x) => a + x).as("sum_e6"),
          array_min(scaled).as("min_e6"),
          array_max(scaled).as("max_e6"),
          aggregate(scaled, lit(0L), (a, x) => a + x * x).as("norm_sq_e12"))
        .orderBy("vec_id")
    },

    // Label-centroid dispersion + 3σ outlier verdicts
    // (Similarity.labelCentroidDispersion): the embedding-space
    // mislabel detector. n²·dist² is an exact integer (the centroid
    // s/n is never a float); the verdict is the all-integer z² compare
    // — HUGEINT in DuckDB mirrors Spark's DECIMAL(38,0).
    "q232_embed_outliers" -> q(
      s"""WITH qv AS (SELECT vec_id, label, ${quantSql("embedding")} AS qv
                      FROM embeddings),
             d AS (SELECT vec_id, label, unnest(qv) AS x,
                          unnest(generate_series(1, len(qv))) AS i
                   FROM qv),
             c AS (SELECT label, i, CAST(sum(x) AS BIGINT) AS s,
                          CAST(count(*) AS BIGINT) AS n
                   FROM d GROUP BY 1, 2),
             t AS (SELECT vec_id, d.label, max(c.n) AS n,
                          sum(CAST(c.n * d.x - c.s AS HUGEINT)
                              * CAST(c.n * d.x - c.s AS HUGEINT)) AS dd
                   FROM d JOIN c ON d.label = c.label AND d.i = c.i
                   GROUP BY 1, 2),
             dist AS (SELECT vec_id, label,
                             CAST(floor(sqrt(CAST(dd AS DOUBLE))
                               / CAST(n AS DOUBLE) + 0.5) AS BIGINT) AS dist_micro
                      FROM t),
             st AS (SELECT label, CAST(count(*) AS HUGEINT) AS nl,
                           CAST(sum(dist_micro) AS HUGEINT) AS sd,
                           CAST(sum(dist_micro * dist_micro) AS HUGEINT) AS qd
                    FROM dist GROUP BY 1)
          SELECT vec_id, dist.label AS label, dist_micro,
                 (dist_micro * nl > sd
                  AND (dist_micro * nl - sd) * (dist_micro * nl - sd)
                      > 9 * (nl * qd - sd * sd)) AS is_outlier
          FROM dist JOIN st ON dist.label = st.label
          ORDER BY vec_id""") { (s, dir) =>
      Similarity.labelCentroidDispersion(t(s, dir, "embeddings"),
          "vec_id", "embedding", "label")
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    },

    // Deterministic DBSCAN over embedding cosine (ε-cos 0.32, minPts 4
    // on a bounded slice): core/border/noise roles + min-id cluster
    // reps. Border points take the MINIMUM rep among their core
    // neighbors (classic DBSCAN leaves that visit-order-dependent — the
    // min rule makes the full labeling a pure function of the data, so
    // a recursive-CTE oracle can replay it). The oracle's WITH
    // RECURSIVE min-reachable closure equals the engine's O(log d)
    // min-label contraction because both compute "min id in my
    // component" on the same exact ε-graph.
    "q246_dbscan" -> q(
      s"""WITH RECURSIVE
           c AS (SELECT vec_id, ${quantSql("embedding")} AS qv FROM embeddings WHERE vec_id < 1000),
           p AS (SELECT a.vec_id AS ia, b.vec_id AS ib FROM c a JOIN c b ON a.vec_id < b.vec_id
                 WHERE CAST(${qdotSql("a.qv", "b.qv")} AS DOUBLE)
                       / (sqrt(CAST(${qdotSql("a.qv", "a.qv")} AS DOUBLE))
                          * sqrt(CAST(${qdotSql("b.qv", "b.qv")} AS DOUBLE))) >= 0.32),
           sym AS (SELECT ia AS id, ib AS nb FROM p UNION ALL SELECT ib, ia FROM p),
           core AS (SELECT id FROM (SELECT id, count(*) + 1 AS k FROM sym GROUP BY 1) WHERE k >= 4),
           ces AS (SELECT ia AS a, ib AS b FROM p WHERE ia IN (SELECT id FROM core) AND ib IN (SELECT id FROM core)
                   UNION ALL
                   SELECT ib, ia FROM p WHERE ia IN (SELECT id FROM core) AND ib IN (SELECT id FROM core)),
           reach(id, rep) AS (SELECT id, id FROM core
                              UNION
                              SELECT s.b, r.rep FROM reach r JOIN ces s ON s.a = r.id),
           crep AS (SELECT id, CAST(min(rep) AS BIGINT) AS rep FROM reach GROUP BY 1),
           brd AS (SELECT s.id, CAST(min(cr.rep) AS BIGINT) AS rep
                   FROM sym s JOIN crep cr ON s.nb = cr.id
                   WHERE s.id NOT IN (SELECT id FROM core)
                   GROUP BY s.id)
          SELECT id AS vec_id, role, rep AS cluster_rep FROM (
            SELECT id, 'core' AS role, rep FROM crep
            UNION ALL SELECT id, 'border', rep FROM brd
            UNION ALL SELECT vec_id, 'noise', NULL FROM c
                      WHERE vec_id NOT IN (SELECT id FROM crep) AND vec_id NOT IN (SELECT id FROM brd))
          ORDER BY vec_id""") { (s, dir) =>
      Similarity.densityClusters(
          t(s, dir, "embeddings").filter(col("vec_id") < 1000),
          "vec_id", "embedding", threshold = 0.32, minPts = 4)
        .orderBy("vec_id")
    },

    // Nearest-centroid (Rocchio) classification accuracy per label
    // (Similarity.nearestCentroid) — exact integer centroids (floor
    // division, negative-safe), exact squared-euclidean assignment,
    // ties to the smallest label. The label-quality audit for an
    // embedding set.
    "q283_nearest_centroid" -> q(
      s"""WITH q AS (SELECT vec_id, label, ${quantSql("embedding")} AS qv
                     FROM embeddings),
             e0 AS (SELECT vec_id, label,
                      unnest(list_transform(generate_series(1, len(qv)),
                        i -> {'i': i, 'v': qv[i]})) AS iv
                    FROM q),
             e AS (SELECT vec_id, label, iv.i AS i, iv.v AS v FROM e0),
             cen AS (SELECT label AS clabel, i, sum(v) // count(*) AS c
                     FROM e GROUP BY 1, 2),
             d AS (SELECT e.vec_id, e.label, cen.clabel,
                          sum(CAST(e.v - cen.c AS HUGEINT) * (e.v - cen.c)) AS dist
                   FROM e JOIN cen ON e.i = cen.i GROUP BY 1, 2, 3),
             pred AS (SELECT vec_id, label, clabel AS pred
                      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                       ORDER BY dist, clabel) AS rn
                            FROM d) WHERE rn = 1)
          SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
                 CAST(count(*) FILTER (WHERE pred = label) AS BIGINT) AS n_correct,
                 CAST(count(*) FILTER (WHERE pred = label) * 1000000 // count(*)
                   AS BIGINT) AS accuracy_e6
          FROM pred GROUP BY 1 ORDER BY label""") { (s, dir) =>
      Similarity.nearestCentroid(t(s, dir, "embeddings"),
          "vec_id", "embedding", "label")
        .orderBy("label")
    },

    // Sampled silhouette per label (Similarity.silhouetteSampled):
    // deterministic COUNT-bounded md5-rank sample (fixed 200-row
    // broadcast side at any corpus) x corpus distances, exact integer
    // means and ratios (floor-division negative-safe on both engines)
    // — the cluster-separation audit for the label set.
    "q287_silhouette" -> q(
      s"""WITH q AS (SELECT vec_id, label, ${quantSql("embedding")} AS qv
                     FROM embeddings),
             smp AS (SELECT vec_id AS qid, label AS qlabel, qv AS qqv
                     FROM q
                     ORDER BY md5('s1' || CAST(vec_id AS VARCHAR)), vec_id
                     LIMIT 200),
             d AS (SELECT s.qid, s.qlabel, p.label,
                     CAST(floor(sqrt(CAST(list_sum(list_transform(
                          generate_series(1, len(p.qv)),
                          i -> CAST(p.qv[i] - s.qqv[i] AS HUGEINT)
                               * (p.qv[i] - s.qqv[i]))) AS DOUBLE))) AS BIGINT) AS dist
                   FROM q p CROSS JOIN smp s WHERE p.vec_id <> s.qid),
             bl AS (SELECT qid, qlabel, label, sum(dist) // count(*) AS mean_d
                    FROM d GROUP BY 1, 2, 3),
             sil AS (SELECT qid, qlabel,
                       min(CASE WHEN label = qlabel THEN mean_d END) AS a,
                       min(CASE WHEN label <> qlabel THEN mean_d END) AS b
                     FROM bl GROUP BY 1, 2),
             se AS (SELECT qlabel,
                      CASE WHEN greatest(a, b) = 0 THEN 0
                           ELSE ((b - a) * 1000000) // greatest(a, b) END AS s_e6
                    FROM sil WHERE a IS NOT NULL AND b IS NOT NULL)
          SELECT qlabel AS label, CAST(count(*) AS BIGINT) AS n_sampled,
                 CAST(sum(s_e6) // count(*) AS BIGINT) AS silhouette_e6
          FROM se GROUP BY 1 ORDER BY label""") { (s, dir) =>
      Similarity.silhouetteSampled(t(s, dir, "embeddings"),
          "vec_id", "embedding", "label", maxSample = 200)
        .orderBy("label")
    },

    // kNN label agreement (Similarity.knnLabelAgreement): fraction of
    // each sampled point's 10 exact nearest neighbors sharing its
    // label — the cleanlab-style label-noise audit; near 1/|labels|
    // here (weak clusters, consistent with q287's silhouette).
    "q289_knn_agreement" -> q(
      s"""WITH q AS (SELECT vec_id, label, ${quantSql("embedding")} AS qv
                     FROM embeddings),
             smp AS (SELECT vec_id AS qid, label AS qlabel, qv AS qqv
                     FROM q
                     ORDER BY md5('s1' || CAST(vec_id AS VARCHAR)), vec_id
                     LIMIT 200),
             d AS (SELECT s.qid, s.qlabel, p.label, p.vec_id AS pid,
                     CAST(list_sum(list_transform(generate_series(1, len(p.qv)),
                          i -> CAST(p.qv[i] - s.qqv[i] AS HUGEINT)
                               * (p.qv[i] - s.qqv[i]))) AS BIGINT) AS d2
                   FROM q p CROSS JOIN smp s WHERE p.vec_id <> s.qid),
             r AS (SELECT qid, qlabel, label,
                     row_number() OVER (PARTITION BY qid ORDER BY d2, pid) AS rn
                   FROM d),
             agree AS (SELECT qid, qlabel,
                         CAST(count(*) FILTER (WHERE label = qlabel) AS BIGINT) AS n_match
                       FROM r WHERE rn <= 10 GROUP BY 1, 2)
          SELECT qlabel AS label, CAST(count(*) AS BIGINT) AS n_sampled,
                 CAST(sum(n_match) AS BIGINT) AS n_matches,
                 CAST(sum(n_match) * 1000000 // (count(*) * 10) AS BIGINT)
                   AS knn_agreement_e6
          FROM agree GROUP BY 1 ORDER BY label""") { (s, dir) =>
      Similarity.knnLabelAgreement(t(s, dir, "embeddings"),
          "vec_id", "embedding", "label", k = 10, maxSample = 200)
        .orderBy("label")
    },

    // Exact-integer Lloyd k-means (Similarity.kmeansAssign, k=8, 2
    // rounds): md5-seeded centroids, squared-L2 assignment with a
    // lexicographic (dist, cluster) tie-break, truncating integer-mean
    // update — the oracle replays the identical recurrence in chained
    // CTEs (seed rank → assign → unnest-rebuild → assign), bit-equal by
    // construction like q142's PageRank. Output is the final per-
    // cluster census: size and exact integer inertia.
    "q310_kmeans_clusters" -> q(
      s"""WITH $KmeansSql
         SELECT m[2] AS cluster, CAST(count(*) AS BIGINT) AS n_points,
                CAST(sum(m[1]) AS BIGINT) AS inertia
         FROM a2 GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      Similarity.kmeansAssign(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, rounds = 2)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_points"), sum(col("dist")).as("inertia"))
        .orderBy("cluster")
    },

    // Cluster-balanced sampling — the "semantic mixing" step that
    // follows the clustering: cap every k-means cluster at the same
    // per-cluster budget via the md5-rank stratified sampler (window
    // partitioned BY CLUSTER, WindowGroupLimit-prunable, never a global
    // sort), so no semantic region dominates the training mix. The
    // exact sampled-id sum pins the precise sample membership, not just
    // its size.
    "q311_cluster_balanced_sample" -> q(
      s"""WITH $KmeansSql,
            smp AS (SELECT id, m[2] AS cluster,
                           row_number() OVER (PARTITION BY m[2]
                             ORDER BY md5('s2' || CAST(id AS VARCHAR)), id) AS rn
                    FROM a2)
         SELECT cluster, CAST(count(*) AS BIGINT) AS n_total,
                CAST(count(*) FILTER (WHERE rn <= 25) AS BIGINT) AS n_sampled,
                CAST(sum(id) FILTER (WHERE rn <= 25) AS BIGINT) AS sampled_id_sum
         FROM smp GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      val a = Similarity.kmeansAssign(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 8, rounds = 2)
      val samp = graft.analytics.Curation
        .stratifiedHashSample(a, "id", "cluster", k = 25, salt = "s2")
      // both sides are ≤ k rows; the sampled side rides a broadcast
      // (post-aggregate stats are unknown, so AQE would otherwise pick
      // a sort-merge join on the 8-row relations)
      a.groupBy("cluster").agg(count(lit(1)).as("n_total"))
        .join(broadcast(samp.groupBy("cluster")
          .agg(count(lit(1)).as("n_sampled"), sum(col("id")).as("sampled_id_sum"))),
          Seq("cluster"))
        .orderBy("cluster")
    },

    // IVF-PQ index health report (Similarity.ivfPqIndexHealth) — the
    // monitoring loop the frozen cell geometry needs, registered as its
    // VERDICT on a base(3/4)+delta(1/4) index: exact base/delta code
    // counts and the integer delta percentage (DuckDB recomputes all
    // three), needs_compaction firing at 25% delta (> the 20% default),
    // no quantization drift (the health sample IS the build
    // distribution), and sampled serving recall above the measured
    // floor (base+ingested queries vs brute force; 20% pinned — the
    // 4-query k=20 sample MEASURED 32% at sf0.01 and 22% at sf0.1,
    // deterministic across rounds on the driver-seeded data; the
    // current-vs-baseline mean quantization error sits within 0.4%).
    "q327_index_health" -> q(
      """SELECT CAST(count(*) FILTER (WHERE vec_id % 4 <> 0) AS BIGINT)
                  AS n_base_codes,
                CAST(count(*) FILTER (WHERE vec_id % 4 = 0) AS BIGINT)
                  AS n_delta_codes,
                CAST(count(*) FILTER (WHERE vec_id % 4 = 0) * 100
                  // count(*) AS BIGINT) AS delta_pct,
                TRUE AS needs_compaction,
                FALSE AS quant_drift_detected,
                TRUE AS recall_ok
         FROM embeddings""")(tempScoped { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val base = e.filter(col("vec_id") % 4 =!= 0)
      val newbies = e.filter(col("vec_id") % 4 === 0)
      val cb = sharedCodebook(s, dir)
      val idx = scratchDir("graft_q327_idx")
      Similarity.writeIvfPqIndex(base, "vec_id", "embedding", cb, idx)
      Similarity.appendToIvfPqIndex(s, idx, newbies, "vec_id", "embedding",
        batchId = "q327-day1")
      Similarity.ivfPqIndexHealth(s, idx, e, "vec_id", "embedding",
          queries = e.filter(col("vec_id").isin(3, 7, 8, 11)), k = 20,
          recallFloorPct = 20)
        .select(col("n_base_codes"), col("n_delta_codes"), col("delta_pct"),
          col("needs_compaction"), col("quant_drift_detected"),
          col("recall_ok"))
    }),

    // IVF-PQ index compaction (Similarity.compactIvfPqIndex) — the
    // lakehouse maintenance pass over the code store, registered as its
    // VERDICT: base quarter + three ledgered daily appends are merged
    // into a fresh cell-partitioned base; serving collected BEFORE the
    // rewrite must equal serving after it bit-for-bit (for a base query
    // AND an appended one), the post-compaction file population is
    // bounded by the cell count, and replaying a pre-compaction batch
    // id stays a no-op (the ledger survives the rewrite). n_codes is
    // DuckDB-recomputed (== the full corpus).
    "q328_index_compaction" -> q(
      """SELECT CAST(count(*) AS BIGINT) AS n_codes,
                CAST(0 AS BIGINT) AS n_serve_mismatches,
                TRUE AS files_bounded,
                TRUE AS replay_after_compaction_noop
         FROM embeddings""")(tempScoped { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cb = sharedCodebook(s, dir)
      val idx = scratchDir("graft_q328_idx")
      Similarity.writeIvfPqIndex(e.filter(col("vec_id") % 4 === 1),
        "vec_id", "embedding", cb, idx)
      Seq(2L, 3L, 0L).zipWithIndex.foreach { case (m, i) =>
        Similarity.appendToIvfPqIndex(s, idx,
          e.filter(col("vec_id") % 4 === m), "vec_id", "embedding",
          batchId = s"q328-d$i")
      }
      def serve(qid: Long): Seq[(Long, Long)] =
        Similarity.topKIvfPqFromIndex(s, idx, e.filter(col("vec_id") === qid),
          "vec_id", "embedding", k = 20, cb)
          .select(col("id"), col("adc_dist"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // MATERIALIZED before the rewrite: a lazy pre-compaction plan
      // would re-read the swapped dirs after the swap
      val before = Seq(7L, 8L).map(serve)
      val (filesBefore, filesAfter, rows) =
        Similarity.compactIvfPqIndex(s, idx)
      val after = Seq(7L, 8L).map(serve)
      val mism = before.zip(after)
        .map { case (b, a) => if (b == a) 0L else 1L }.sum
      // the ledger survives: a replayed pre-compaction batch stays
      // skipped (its rows are already in the compacted base)
      Similarity.appendToIvfPqIndex(s, idx,
        e.filter(col("vec_id") % 4 === 2), "vec_id", "embedding",
        batchId = "q328-d0")
      val replayNoop = graft.analytics.IndexStore
        .storedComponent(s, idx, "codes").count() == rows
      e.agg(count(lit(1)).as("n_codes"))
        .select(col("n_codes"), lit(mism).as("n_serve_mismatches"),
          lit(filesAfter <= 16 && filesAfter < filesBefore).as("files_bounded"),
          lit(replayNoop).as("replay_after_compaction_noop"))
    }),

    // Drift-triggered IVF-PQ index REBUILD (Similarity.rebuildIvfPqIndex)
    // — the operator q327's quant_drift_detected / recall verdicts exist
    // to trigger, registered as its VERDICT. The corpus drifts in place
    // (same ids, re-embedded vectors: x*3+7 moves the distribution far
    // from the frozen codebook's fit); the health report fires drift on
    // the stale index; the rebuild retrains codebook+centroids on the
    // drifted vectors of exactly the indexed id population, re-encodes,
    // and installs atomically as the next version (fold manifest — all
    // ledgered batches folded). Verdict booleans: drift fired before
    // and is cleared after (the baseline re-anchors), sampled recall
    // did not get worse (MEASURED on the driver-seeded data: stale 7/6/1
    // -> rebuilt 35/32/21 recall_pct at sf0.001/0.01/0.1 — the stale
    // index collapses because old-geometry cells mis-route drifted
    // queries and old-codebook ADC distances misrank what survives),
    // serving is rerun-identical under the NEW codebook, and replaying
    // the rebuild id is a no-op (version and serving unchanged).
    // n_codes = the preserved id population, DuckDB-recomputed.
    "q331_index_rebuild" -> q(
      """SELECT CAST(count(*) AS BIGINT) AS n_codes,
                TRUE AS drift_detected_before,
                TRUE AS drift_cleared_after,
                TRUE AS recall_not_worse,
                TRUE AS serve_rerun_identical,
                TRUE AS rebuild_replay_noop
         FROM embeddings""")(tempScoped { (s, dir) =>
      import graft.analytics.IndexStore
      val e = t(s, dir, "embeddings")
      val cb = sharedCodebook(s, dir)
      val idx = scratchDir("graft_q331_idx")
      Similarity.writeIvfPqIndex(e.filter(col("vec_id") % 4 =!= 0),
        "vec_id", "embedding", cb, idx)
      Similarity.appendToIvfPqIndex(s, idx, e.filter(col("vec_id") % 4 === 0),
        "vec_id", "embedding", batchId = "q331-d1")
      val drifted = e.select(col("vec_id"),
        transform(col("embedding"), x => x * 3.0d + 7.0d).as("embedding"))
      val queries = drifted.filter(col("vec_id").isin(3, 7, 8, 11))
      def health() = Similarity.ivfPqIndexHealth(s, idx, drifted,
        "vec_id", "embedding", queries, k = 20, recallFloorPct = 0)
        .select("quant_drift_detected", "recall_pct").collect().head
      val stale = health()
      Similarity.rebuildIvfPqIndex(s, idx, drifted, "vec_id", "embedding",
        rebuildId = "q331-r1")
      val rebuilt = health()
      val cb2 = Similarity.codebookOf(s, idx)
      def serve(): Seq[(Long, Long)] =
        Similarity.topKIvfPqFromIndex(s, idx,
          drifted.filter(col("vec_id") === 7), "vec_id", "embedding",
          k = 20, cb2)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val s1 = serve()
      val rerunIdentical = serve() == s1
      val v1 = IndexStore.pinOf(s, idx, "codes").v
      Similarity.rebuildIvfPqIndex(s, idx, drifted, "vec_id", "embedding",
        rebuildId = "q331-r1")
      val replayNoop = IndexStore.pinOf(s, idx, "codes").v == v1 &&
        serve() == s1
      e.agg(count(lit(1)).as("n_codes"))
        .select(col("n_codes"),
          lit(stale.getBoolean(0)).as("drift_detected_before"),
          lit(!rebuilt.getBoolean(0)).as("drift_cleared_after"),
          lit(rebuilt.getLong(1) >= stale.getLong(1)).as("recall_not_worse"),
          lit(rerunIdentical).as("serve_rerun_identical"),
          lit(replayNoop).as("rebuild_replay_noop"))
    }),

    // DISASTER DRILL, IVF-PQ face — q334's composed lifecycle verdict
    // applied to the vector family (the seams q322/q327/q328/q331 pin
    // individually, walked in sequence on ONE index): offline build →
    // ledgered daily append → checkpointed streaming micro-batches → a
    // CRASH-SIMULATED half-written version → a full REBUILD installed
    // between micro-batches of the live checkpoint with an EXPLICIT
    // n_cells re-anchor (the geometry grows instead of silently
    // shrinking) → the stream's next run on the SAME checkpoint
    // self-heals via its per-micro-batch geometry re-pin (health must
    // count ZERO foreign-codebook rows after) → online compaction
    // (bit-equal serve) → quiesced vacuum (serve unchanged) → a replay
    // volley (daily append id, rebuild id, the drained stream — all
    // exactly-once no-ops) → a fresh-checkpoint restart attempt that
    // must fail with the named error. Twin retrievability (an ingested
    // identical vector appears in its query's top-k) is asserted at
    // every post-ingest seam; after the post-rebuild stream run every
    // ingested vector is visible exactly once. n_base_codes is
    // DuckDB-recomputed.
    "q335_ivfpq_disaster_drill" -> q(
      """SELECT CAST(count(*) FILTER (WHERE vec_id % 4 = 1) AS BIGINT)
                  AS n_base_codes,
                TRUE AS append_visible,
                TRUE AS crashed_attempt_invisible,
                TRUE AS rebuild_reanchors_n_cells,
                TRUE AS stream_self_heals,
                TRUE AS all_ingested_exactly_once,
                TRUE AS compact_bit_equal,
                TRUE AS vacuum_preserves_relation,
                TRUE AS replays_all_noop,
                TRUE AS fresh_checkpoint_fails_loud
         FROM embeddings""")(tempScoped { (s, dir) =>
      import graft.analytics.IndexStore
      import graft.streaming.IncrementalStream
      val e = t(s, dir, "embeddings")
      val base = e.filter(col("vec_id") % 4 === 1)
        .select(col("vec_id"), col("embedding"))
      val day1 = e.filter(col("vec_id") % 4 === 2)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val wave1 = e.filter(col("vec_id") % 4 === 3)
        .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
      val wave2 = e.filter(col("vec_id") % 4 === 0)
        .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding"))
      val idx = scratchDir("graft_q335_idx")
      // seam 1: offline build + one ledgered daily append
      Similarity.writeIvfPqIndex(base, "vec_id", "embedding",
        sharedCodebook(s, dir), idx)
      Similarity.appendToIvfPqIndex(s, idx, day1, "vec_id", "embedding",
        batchId = "q335-d1")
      // serve probes: a base vector (5 % 4 = 1) and ingested twins —
      // the query vector is the UNSHIFTED corpus row, its ingested twin
      // the identical vector under the offset id, so twin-in-top-k is
      // the retrievability invariant at every seam. Round 15: each
      // probe GROUP is one batched fused serve (topKIvfPqManyFromIndex
      // — per query BIT-IDENTICAL to the single-query serve, the
      // q336-pinned verdict), so the drill pays one pruned code scan
      // per seam instead of one per query vector (~17 serve jobs → 7;
      // the drill previously spent most of its 37-73 s re-scanning the
      // index per probe). Codebook re-read per call (rebuilds retrain
      // it); results keyed by qid and ordered by the serve's own
      // (adc_dist, id) contract so seam-to-seam equality comparisons
      // are exact.
      def serveMany(qids: Seq[Long]): Map[Long, Seq[(Long, Long)]] = {
        val got = Similarity.topKIvfPqManyFromIndex(s, idx,
          e.filter(col("vec_id").isin(qids: _*)), "vec_id", "embedding",
          k = 20, Similarity.codebookOf(s, idx))
          .select(col("qid"), col("id"), col("adc_dist")).collect()
          .groupBy(_.getLong(0))
          .map { case (q, rows) =>
            q -> rows.map(r => (r.getLong(1), r.getLong(2)))
              .sortBy { case (id, d) => (d, id) }.toSeq }
        qids.map(q => q -> got.getOrElse(q, Seq.empty)).toMap
      }
      val sm0 = serveMany(Seq(2L, 6L))
      val appendVisible = sm0(2L).exists(_._1 == 1000002L) &&
        sm0(6L).exists(_._1 == 1000006L)
      // seam 2: streaming micro-batches (2 files, one checkpoint)
      val src = scratchDir("graft_q335_src")
      val ckpt = scratchDir("graft_q335_ckpt")
      wave1.repartition(2).write.mode("overwrite").parquet(src)
      def runStream(): Unit = IncrementalStream.ivfPqMaintenanceStream(
        s.readStream.schema(wave1.schema)
          .option("maxFilesPerTrigger", "1").parquet(src),
        "vec_id", "embedding", idx, ckpt).awaitTermination()
      runStream()
      // one batched serve covers the streamed-twin check AND the
      // pre-crash snapshot
      val preCrash = serveMany(Seq(5L, 2L, 3L))
      val streamedVisible = preCrash(3L).exists(_._1 == 2000003L)
      // seam 3: crash-sim — a maintenance pass died after writing the
      // next version's DATA, before committing its fold manifest
      IndexStore.storedComponent(s, idx, "codes").write.mode("overwrite")
        .parquet(IndexStore.versionDir(idx, "codes",
          IndexStore.pinOf(s, idx, "codes").v + 1))
      val crashedInvisible = serveMany(Seq(5L, 2L, 3L)) == preCrash &&
        appendVisible && streamedVisible
      // seam 4: full rebuild installed between micro-batches of the
      // LIVE checkpoint (drops the crashed attempt, retrains geometry
      // on the current vectors of exactly the indexed population) with
      // an EXPLICIT n_cells re-anchor — the stored geometry grows to
      // the caller's stated size instead of inheriting (or silently
      // shrinking past) the build's
      val indexed = base.unionByName(day1).unionByName(wave1)
      Similarity.rebuildIvfPqIndex(s, idx, indexed, "vec_id", "embedding",
        rebuildId = "q335-r1", nCells = Some(32))
      val vAfterRebuild = IndexStore.pinOf(s, idx, "codes").v
      val reanchored = s.read
        .parquet(s"$idx/codes_meta/v=$vAfterRebuild/quant_baseline")
        .select("n_cells").head().getInt(0) == 32
      // the stream's next run on the SAME checkpoint re-pins geometry
      // per micro-batch and self-heals — zero foreign-codebook rows
      wave2.coalesce(1).write.mode("append").parquet(src)
      runStream()
      val indexedAll = indexed.unionByName(wave2)
      val health = Similarity.ivfPqIndexHealth(s, idx, indexedAll,
        "vec_id", "embedding",
        queries = e.filter(col("vec_id").isin(3, 7, 8, 11)), k = 20,
        recallFloorPct = 0)
        .select("n_foreign_codebook_rows").head().getLong(0)
      val smHeal = serveMany(Seq(8L, 2L, 3L))
      val streamHealed = health == 0L && smHeal(8L).exists(_._1 == 3000008L) &&
        smHeal(2L).exists(_._1 == 1000002L) &&
        smHeal(3L).exists(_._1 == 2000003L)
      // the four ingest slices partition e by vec_id % 4, so their
      // count sum is one corpus count — 1 job instead of 4
      val expectedRows = e.count()
      def codes() = IndexStore.storedComponent(s, idx, "codes")
      val exactlyOnce = codes().count() == expectedRows &&
        codes().groupBy("id").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).count() == 0
      // seams 5+6: online compaction then quiesced vacuum — serve
      // bit-equal across both (collected before each rewrite)
      val beforeCompact = serveMany(Seq(5L, 2L, 3L, 8L))
      Similarity.compactIvfPqIndex(s, idx)
      val compactOk = serveMany(Seq(5L, 2L, 3L, 8L)) == beforeCompact
      Similarity.vacuumIvfPqIndex(s, idx)
      val vacuumOk = serveMany(Seq(5L, 2L, 3L, 8L)) == beforeCompact
      // seam 7: the replay volley — append id, rebuild id and the
      // drained stream are all exactly-once no-ops (ledger + checkpoint
      // outlive compaction AND vacuum)
      Similarity.appendToIvfPqIndex(s, idx, day1, "vec_id", "embedding",
        batchId = "q335-d1")
      Similarity.rebuildIvfPqIndex(s, idx, indexed, "vec_id", "embedding",
        rebuildId = "q335-r1", nCells = Some(32))
      runStream()
      val replaysNoop = codes().count() == expectedRows &&
        serveMany(Seq(5L, 2L, 3L, 8L)) == beforeCompact
      // seam 8: a fresh checkpoint against the stream-maintained index
      // must fail LOUD (silently starting would re-ingest the whole
      // source under aliased micro-batch ids)
      val freshFails =
        try {
          IncrementalStream.ivfPqMaintenanceStream(
            s.readStream.schema(wave1.schema)
              .option("maxFilesPerTrigger", "1").parquet(src),
            "vec_id", "embedding", idx, scratchDir("graft_q335_ckpt2"))
          false
        } catch { case ex: Throwable =>
          Option(ex.getMessage).exists(_.contains("fresh checkpoint")) }
      e.filter(col("vec_id") % 4 === 1)
        .agg(count(lit(1)).as("n_base_codes"))
        .select(col("n_base_codes"),
          lit(appendVisible).as("append_visible"),
          lit(crashedInvisible).as("crashed_attempt_invisible"),
          lit(reanchored).as("rebuild_reanchors_n_cells"),
          lit(streamHealed).as("stream_self_heals"),
          lit(exactlyOnce).as("all_ingested_exactly_once"),
          lit(compactOk).as("compact_bit_equal"),
          lit(vacuumOk).as("vacuum_preserves_relation"),
          lit(replaysNoop).as("replays_all_noop"),
          lit(freshFails).as("fresh_checkpoint_fails_loud"))
    }),

    // Batched fused IVF-PQ serving (topKIvfPqManyFromIndex): ONE
    // union-of-probed-cells code scan serves the whole request batch —
    // per-query cells selected driver-side against the pinned centroid
    // table, the union pruned as a PartitionFilter, a broadcast
    // (qid, cell) membership join restricting each row to the queries
    // that probed its cell, per-qid top-k as the map-side
    // WindowGroupLimit. Registered as its VERDICT: per query the batch
    // result is bit-identical to the single-query fused serve (probed
    // cells, integer ADC and (adc_dist, id) tie order all equal), and
    // each query retrieves itself. qid is DuckDB-recomputed.
    "q336_ivfpq_batch_serve" -> q(
      """SELECT CAST(vec_id AS BIGINT) AS qid,
                TRUE AS many_equals_single,
                TRUE AS self_found
         FROM embeddings WHERE vec_id IN (3, 7, 11, 19, 23)
         ORDER BY qid""") { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val idx = pqIndex(s, dir)
      val qids = Seq(3L, 7L, 11L, 19L, 23L)
      val qs = e.filter(col("vec_id").isin(qids: _*))
      val many = Similarity.topKIvfPqManyFromIndex(s, idx.ivfPath, qs,
        "vec_id", "embedding", k = 20, idx.cb)
      val singles = qids.map { qv =>
        Similarity.topKIvfPqFromIndex(s, idx.ivfPath,
          e.filter(col("vec_id") === qv), "vec_id", "embedding",
          k = 20, idx.cb)
          .select(lit(qv).as("qid"), col("id"), col("adc_dist").as("__d1"))
      }.reduce(_ unionByName _)
      val mism = many.join(singles, Seq("qid", "id"), "full_outer")
        .groupBy("qid")
        .agg(sum(when(col("adc_dist").isNull || col("__d1").isNull
          || col("adc_dist") =!= col("__d1"), 1L).otherwise(0L)).as("__mm"),
          sum(when(col("id") === col("qid"), 1L).otherwise(0L)).as("__self"))
      qs.select(col("vec_id").cast("long").as("qid"))
        .join(mism, Seq("qid"), "left")
        .select(col("qid"),
          (coalesce(col("__mm"), lit(0L)) === 0L).as("many_equals_single"),
          (coalesce(col("__self"), lit(0L)) >= 1L).as("self_found"))
        .orderBy("qid")
    }
  )

  /** SERVING-ONLY faces of the ANN-ladder verdict rungs: the operator
    * alone, without the exact counterpart (brute-force top-k, exact
    * pair set, rerun) the registered verdict deliberately recomputes
    * in-query. The registry rows time operator + verification — the
    * right correctness gate, the wrong round-over-round cost signal
    * for the serving path — so Bench times these separately into the
    * artifact's "serving" section. Never oracled: the verdict rows
    * remain the correctness gate. q37/q73 are included for a complete
    * ladder even though their registry form is already serving-only
    * (brute force IS the operator there). */
  val servingDefs: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = Map(
    "q37_embed_topk_brute" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.topKBruteForce(e, "vec_id", "embedding",
        e.filter(col("vec_id") === 7), k = 20)
    }),
    "q38_embed_topk_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.topKLsh(e, "vec_id", "embedding",
        e.filter(col("vec_id") === 7), k = 20)
    }),
    "q39_embed_topk_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.topKIvf(e, "vec_id", "embedding",
        e.filter(col("vec_id") === 7), k = 20)
    }),
    "q40_embed_near_dup" -> ((s, dir) => {
      Similarity.cosineNearDupPairs(withTwins(t(s, dir, "embeddings")),
        "vec_id", "embedding", threshold = 0.95)
    }),
    "q73_embed_topk_many" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.topKBruteForceMany(e, "vec_id", "embedding",
        e.filter(col("vec_id").isin(3, 7, 11, 19, 23)), "vec_id", k = 10)
    }),
    "q74_embed_topk_many_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.topKLshMany(e, "vec_id", "embedding",
        e.filter(col("vec_id").isin(3, 7, 11, 19, 23)), "vec_id", k = 10)
    }),
    "q75_embed_topk_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = pqIndex(s, dir)
      Similarity.topKPqAdcFromCodes(Readers.parquet(s, idx.codesPath),
        e.filter(col("vec_id") === 7), "vec_id", "embedding", k = 20, idx.cb)
    }),
    "q81_embed_ivfpq_serve" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = pqIndex(s, dir)
      Similarity.topKIvfPqFromIndex(s, idx.ivfPath,
        e.filter(col("vec_id") === 7), "vec_id", "embedding", k = 20, idx.cb)
    }),
    "q336_ivfpq_batch_serve" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val idx = pqIndex(s, dir)
      Similarity.topKIvfPqManyFromIndex(s, idx.ivfPath,
        e.filter(col("vec_id").isin(3, 7, 11, 19, 23)),
        "vec_id", "embedding", k = 20, idx.cb)
    }))
}
