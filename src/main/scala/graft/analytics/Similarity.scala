package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.ArrayDotLong
import graft.sources.Readers

/** Embedding similarity search (SURVEY §7.4): brute-force cosine top-k as
  * the exactness baseline, plus LSH-bucketed and IVF-style variants as the
  * scale path.
  *
  * Numeric determinism: embeddings are quantized to integer micro-units
  * (floor(x*1e6+0.5)) before any arithmetic, so dot products and squared
  * norms are exact 64-bit integers in ANY summation order and on ANY
  * engine; the final cosine is a single IEEE division/sqrt of exact
  * integers — bitwise reproducible, and oracle-comparable against DuckDB.
  *
  * Performance: the inner-loop dot product is the codegen'd
  * ArrayDotLong expression (graft.functions) — interpreted higher-order
  * lambdas were ~20× slower here. Norms are computed once per vector and
  * carried as a column, never recomputed per candidate pair.
  */
object Similarity {

  /** Quantize a float-array embedding to exact integer micro-units. */
  def quantize(c: Column): Column =
    transform(c, x => floor(x.cast("double") * 1000000d + 0.5d).cast("long"))

  /** Exact integer dot product of two quantized vectors (codegen'd). */
  def qdot(a: Column, b: Column): Column = ArrayDotLong(a, b)

  /** Cosine similarity from quantized vectors (deterministic double). */
  def qcosine(a: Column, b: Column): Column =
    qdot(a, b).cast("double") /
      (sqrt(qdot(a, a).cast("double")) * sqrt(qdot(b, b).cast("double")))

  /** Attach quantized vector + precomputed euclidean norm. */
  private def withQv(df: DataFrame, idCol: String, vecCol: String,
                     idAs: String = "id"): DataFrame =
    df.select(col(idCol).as(idAs), quantize(col(vecCol)).as("qv"))
      .withColumn("qnorm", sqrt(qdot(col("qv"), col("qv")).cast("double")))

  /** Brute-force top-k by cosine against one query vector: a broadcast
    * 1-row cross join + TakeOrderedAndProject — O(n·d) work, k rows to
    * the driver, no full sort, no shuffle of the corpus. */
  def topKBruteForce(corpus: DataFrame, idCol: String, vecCol: String,
                     query: DataFrame, k: Int): DataFrame = {
    val c = withQv(corpus, idCol, vecCol)
    val qv = withQv(query, idCol, vecCol, "qid")
      .select(col("qv").as("q_qv"), col("qnorm").as("q_norm"))
    c.crossJoin(broadcast(qv))
      .select(col("id"),
        (qdot(col("qv"), col("q_qv")).cast("double")
          / (col("qnorm") * col("q_norm"))).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** Random-hyperplane LSH signature: `nBits` sign bits, one per
    * deterministic seeded +-1 hyperplane (Charikar's construction,
    * public). Hyperplanes are plan-time literal arrays, so each bit is a
    * single codegen'd ArrayDotLong against a constant vector — the
    * interpreted per-bit zip_with/aggregate variant was the hot spot of
    * every LSH-bucketed embedding operator. */
  def lshSignature(qvCol: Column, nBits: Int, dim: Int): Column = {
    val rnd = new scala.util.Random(0x9e3779b9L)
    val planes: Seq[Seq[Long]] =
      Seq.fill(nBits)(Seq.fill(dim)(if (rnd.nextBoolean()) 1L else -1L))
    array(planes.map { p =>
      when(qdot(qvCol, typedLit(p)) >= 0, 1L).otherwise(0L)
    }: _*)
  }

  /** Explode a signature into (band, bandHash) bucket rows. */
  private def banded(df: DataFrame, nBits: Int, bands: Int, dim: Int): DataFrame = {
    val rows = nBits / bands
    df.withColumn("sig_", lshSignature(col("qv"), nBits, dim))
      .select(df.columns.map(col) :+
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            xxhash64(slice(col("sig_"), b * rows + 1, rows)).as("bh"))): _*))
          .as("bucket"): _*)
      .select(df.columns.map(col) :+ col("bucket.band") :+ col("bucket.bh"): _*)
  }

  /** LSH-bucketed ANN top-k: candidates share a signature band with the
    * query; exact cosine re-ranks candidates. Recall < 1 by design; at
    * corpus scale the candidate set is a tiny fraction of n. */
  def topKLsh(corpus: DataFrame, idCol: String, vecCol: String,
              query: DataFrame, k: Int, nBits: Int = 16, bands: Int = 4,
              dim: Int = 64): DataFrame = {
    val cBands = banded(withQv(corpus, idCol, vecCol), nBits, bands, dim)
    val qBands = broadcast(
      banded(withQv(query, idCol, vecCol, "qid"), nBits, bands, dim)
        .select(col("band"), col("bh"),
          col("qv").as("q_qv"), col("qnorm").as("q_norm")))
    cBands.join(qBands, Seq("band", "bh"))
      .dropDuplicates("id") // candidates once, BEFORE the cosine
      .select(col("id"),
        (qdot(col("qv"), col("q_qv")).cast("double")
          / (col("qnorm") * col("q_norm"))).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** IVF-style ANN: deterministic coarse centroids (every (n/nCells)-th
    * vector by id — a deterministic stand-in for k-means on synthetic
    * data), vectors assigned to their nearest centroid via max_by (one
    * aggregate, no window), queries probe the `nProbe` nearest cells.
    * The partition-pruning shape of IVF: cell assignment is a broadcast
    * join against nCells centroids and the probe reads ~nProbe/nCells of
    * the corpus. */
  /** Deterministic IVF coarse structure shared by [[topKIvf]] and
    * [[semanticDedupVerdicts]]: nCells centroids (one min-by
    * representative per id-hash bucket, produced by a lazy nCells-row
    * aggregate inside the query job — NO driver-side action; a
    * deterministic stand-in for k-means on synthetic data) and each
    * vector's nearest-centroid cell (broadcast crossJoin against the
    * nCells rows + one max_by aggregate; |a| is constant per vector, so
    * argmax of dot/|c| == argmax cosine). */
  private def ivfAssignment(c: DataFrame, nCells: Int): (DataFrame, DataFrame) = {
    val centroids = c
      .withColumn("cell", pmod(xxhash64(col("id")), lit(nCells.toLong)))
      .groupBy("cell")
      .agg(min_by(struct(col("qv"), col("qnorm")), xxhash64(lit(42), col("id"))).as("r"))
      .select(col("cell"), col("r.qv").as("cv"), col("r.qnorm").as("cnorm"))
    val assigned = c.crossJoin(broadcast(centroids))
      .groupBy(col("id"))
      .agg(
        max_by(col("cell"),
          struct((qdot(col("qv"), col("cv")).cast("double") / col("cnorm")).as("s"),
            (-col("cell")).as("tb"))).as("cell"),
        first(col("qv")).as("qv"), first(col("qnorm")).as("qnorm"))
    (centroids, assigned)
  }

  def topKIvf(corpus: DataFrame, idCol: String, vecCol: String,
              query: DataFrame, k: Int, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val c = withQv(corpus, idCol, vecCol)
    val (centroids, assigned) = ivfAssignment(c, nCells)
    // probe: nProbe nearest cells to the query
    val qv = withQv(query, idCol, vecCol, "qid")
      .select(col("qv").as("q_qv"), col("qnorm").as("q_norm"))
    val probeCells = centroids.crossJoin(broadcast(qv))
      .select(col("cell"),
        (qdot(col("cv"), col("q_qv")).cast("double")
          / (col("cnorm") * col("q_norm"))).as("qc"))
      .orderBy(col("qc").desc, col("cell"))
      .limit(nProbe)
      .select("cell")
    assigned.join(broadcast(probeCells), Seq("cell"))
      .crossJoin(broadcast(qv))
      .select(col("id"),
        (qdot(col("qv"), col("q_qv")).cast("double")
          / (col("qnorm") * col("q_norm"))).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** All near-duplicate pairs by cosine >= threshold, LSH-bucketed so the
    * pair space is bucket-local, never O(n²).
    *
    * The candidate join and pair-dedup carry BARE id pairs — shuffling
    * the 512-byte quantized vectors through dropDuplicates dominated the
    * operator. Vectors rejoin afterwards (small relation at bucket-local
    * scale; at corpus scale this is a shuffle join on id, still linear in
    * candidates). */
  /** Batch top-k: k nearest corpus vectors for EVERY query vector at
    * once — the shape a training pipeline actually runs (millions of
    * lookups), vs the single-query entry points above. The query set
    * broadcasts (it is the small side); the corpus is scored in place
    * with no shuffle, and only the scored pairs shuffle once on the
    * query key for the per-query top-k window. Exact: the O(n·m)
    * baseline; use the LSH variant when m·n pairs is too many. */
  def topKBruteForceMany(corpus: DataFrame, idCol: String, vecCol: String,
                         queries: DataFrame, qIdCol: String, k: Int): DataFrame = {
    val c = withQv(corpus, idCol, vecCol)
    val qs = withQv(queries, qIdCol, vecCol, "qid")
      .select(col("qid"), col("qv").as("q_qv"), col("qnorm").as("q_norm"))
    val scored = c.crossJoin(broadcast(qs))
      .select(col("qid"), col("id"),
        (qdot(col("qv"), col("q_qv")).cast("double")
          / (col("qnorm") * col("q_norm"))).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
  }

  /** Hard-negative mining for contrastive training: per query, the k
    * most-similar corpus vectors carrying a DIFFERENT label (easy
    * negatives are free; the near-miss ones move the loss). Same
    * broadcast + per-query top-k shape as topKBruteForceMany — the
    * label inequality rides the broadcast join condition, so same-class
    * pairs are never scored, and the per-query window is map-side
    * group-limited before the qid shuffle. */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, queries: DataFrame, qIdCol: String,
                    k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(labelCol).as("label"),
        quantize(col(vecCol)).as("qv"))
      .withColumn("qnorm", sqrt(qdot(col("qv"), col("qv")).cast("double")))
    val qs = queries.select(col(qIdCol).as("qid"),
        col(labelCol).as("q_label"), quantize(col(vecCol)).as("q_qv"))
      .withColumn("q_norm", sqrt(qdot(col("q_qv"), col("q_qv")).cast("double")))
    val scored = c.join(broadcast(qs), col("label") =!= col("q_label"))
      .select(col("qid"), col("id"), col("label"),
        (qdot(col("qv"), col("q_qv")).cast("double")
          / (col("qnorm") * col("q_norm"))).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
  }

  /** Batch LSH top-k: corpus and queries banded with the same
    * hyperplanes; candidates share a band bucket with their query, the
    * per-query top-k re-ranks exact cosine over candidates only. The
    * scored-pair volume is the bucket-collision count, a small fraction
    * of n·m at corpus scale. */
  def topKLshMany(corpus: DataFrame, idCol: String, vecCol: String,
                  queries: DataFrame, qIdCol: String, k: Int,
                  nBits: Int = 16, bands: Int = 4, dim: Int = 64): DataFrame = {
    val cBands = banded(withQv(corpus, idCol, vecCol), nBits, bands, dim)
      .select("id", "qv", "qnorm", "band", "bh")
    val qBands = broadcast(
      banded(withQv(queries, qIdCol, vecCol, "qid"), nBits, bands, dim)
        .select(col("qid"), col("band"), col("bh"),
          col("qv").as("q_qv"), col("qnorm").as("q_norm")))
    val cand = cBands.join(qBands, Seq("band", "bh"))
      .dropDuplicates("qid", "id")
      .select(col("qid"), col("id"),
        (qdot(col("qv"), col("q_qv")).cast("double")
          / (col("qnorm") * col("q_norm"))).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
  }

  /** Product-quantization codebook: `nSub` subspaces × `nCodes`
    * centroids, each an Array of quantized longs. Deterministic
    * "training": centroids are subvectors of corpus representatives
    * picked per id-hash bucket (the same k-means stand-in the IVF cells
    * use) — ONE aggregate plus a driver collect of nSub×nCodes×subDim
    * longs (a few KB). Training is an explicit offline action, separate
    * from serving, exactly as real PQ deployments run it. */
  def trainPqCodebook(corpus: DataFrame, idCol: String, vecCol: String,
                      nSub: Int = 8, nCodes: Int = 16,
                      dim: Int = 64): Array[Array[Array[Long]]] = {
    require(dim % nSub == 0, "nSub must divide dim")
    val sub = dim / nSub
    val reps = withQv(corpus, idCol, vecCol)
      .withColumn("cell", pmod(xxhash64(col("id")), lit(nCodes.toLong)))
      .groupBy("cell")
      .agg(min_by(col("qv"), xxhash64(lit(7), col("id"))).as("rv"))
      .collect()
    require(reps.nonEmpty,
      "trainPqCodebook: corpus has no rows — a codebook cannot be trained from an empty corpus")
    val byCell = reps.map(r => r.getLong(0).toInt -> r.getSeq[Long](1).toArray).toMap
    val fallback = byCell.values.head
    Array.tabulate(nSub)(s => Array.tabulate(nCodes)(j =>
      byCell.getOrElse(j, fallback).slice(s * sub, (s + 1) * sub)))
  }

  /** K-means-trained PQ codebook (Lloyd iterations in DataFrame
    * algebra): subvectors explode to (id, sub, subvec) rows once and
    * persist; each iteration is ONE pass — assign every subvector to
    * its nearest centroid (argmin over literal centroids, codegen'd),
    * then re-center as the per-(sub, code) element-wise integer mean
    * (sum DIV count — exact, order-independent, so training is
    * deterministic under any partitioning). Centroids live driver-side
    * between iterations (nSub×nCodes×subDim longs, a few KB — the same
    * size class as a broadcast). Empty cells keep their previous
    * centroid. Hash-picked init via trainPqCodebook. */
  def trainPqCodebookKmeans(corpus: DataFrame, idCol: String, vecCol: String,
                            nSub: Int = 8, nCodes: Int = 16, dim: Int = 64,
                            iters: Int = 5): Array[Array[Array[Long]]] = {
    require(dim % nSub == 0, "nSub must divide dim")
    val subDim = dim / nSub
    val c = withQv(corpus, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cb = trainPqCodebook(corpus, idCol, vecCol, nSub, nCodes, dim)
      for (_ <- 1 to iters) {
        // assignment runs in the compiled PqEncode loop; subvectors then
        // explode with their (sub, code) for the re-centering aggregate
        val rows = c
          .withColumn("codes", graft.functions.PqExpressions.encode(col("qv"), cb))
          .select(posexplode(array((0 until nSub).map(s =>
            struct(lit(s).as("sub"),
              element_at(col("codes"), s + 1).as("code"),
              slice(col("qv"), s * subDim + 1, subDim).as("sv"))): _*)).as(Seq("_i", "r")))
          .select(col("r.sub"), col("r.code"), col("r.sv"))
        val aggCols = count(lit(1)).as("n") +:
          (0 until subDim).map(i => sum(element_at(col("sv"), i + 1)).as(s"s_$i"))
        val sums = rows.groupBy("sub", "code")
          .agg(aggCols.head, aggCols.tail: _*)
          .collect()
        val next = cb.map(_.map(_.clone()))
        sums.foreach { r =>
          val (s, j, n) = (r.getInt(0), r.getInt(1), r.getLong(2))
          if (n > 0) next(s)(j) =
            Array.tabulate(subDim)(i => Math.floorDiv(r.getLong(3 + i), n))
        }
        cb = next
      }
      cb
    } finally c.unpersist()
  }

  /** Total squared quantization error of a codebook over the corpus —
    * the k-means objective; use to verify training actually descends. */
  def pqQuantizationError(corpus: DataFrame, idCol: String, vecCol: String,
                          codebook: Array[Array[Array[Long]]]): Long =
    withQv(corpus, idCol, vecCol)
      .agg(sum(graft.functions.PqExpressions.quantErr(col("qv"), codebook)))
      .head().getLong(0)

  /** PQ encoding: per subspace, the index of the nearest codebook
    * centroid by exact integer squared-L2 (quantized micro-units keep
    * every term within long range: diff <= 4e6, square <= 1.6e13, sum
    * of 8 <= ~1.3e14). 8-byte codes replace 512-byte vectors — the
    * 64× memory/shuffle compression that makes billion-vector serving
    * feasible. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebook: Array[Array[Array[Long]]]): DataFrame =
    withQv(df, idCol, vecCol)
      .select(col("id"), col("qv"), col("qnorm"),
        graft.functions.PqExpressions.encode(col("qv"), codebook).as("pq_code"))

  /** Materialize the PQ index: encode the corpus and write (id, pq_code)
    * — the offline half of PQ serving. Codes are 8 bytes per vector
    * (64× smaller than the vectors); real deployments store exactly
    * this artifact (the codes ARE the index) and serve every query from
    * it, never re-encoding the corpus per query. */
  def writePqCodes(corpus: DataFrame, idCol: String, vecCol: String,
                   codebook: Array[Array[Array[Long]]], path: String): Unit =
    pqEncode(corpus, idCol, vecCol, codebook)
      .select("id", "pq_code")
      .write.mode("overwrite").parquet(path)

  /** PQ ADC top-k over a PRE-ENCODED code table (the serving half):
    * per-row work is nSub table lookups on the stored 8-byte code —
    * the corpus vectors are never read, which is the entire point of
    * PQ at billion-vector scale. `codes` is (id, pq_code) as written
    * by writePqCodes with the SAME codebook. */
  def topKPqAdcFromCodes(codes: DataFrame, query: DataFrame,
                         idCol: String, vecCol: String, k: Int,
                         codebook: Array[Array[Array[Long]]]): DataFrame = {
    // The query vector reaches the driver by definition in ANN serving;
    // collect it (one row — limit(2) doubles as the multi-row guard:
    // a batch query would silently merge through the global top-k) and
    // build the nSub×nCodes distance tables in plain Scala. Attached as
    // array LITERALS the per-row ADC is 8 element_at lookups — the
    // column-algebra table construction generated ~1000-node projections
    // that janino refused to compile (seconds of failed codegen per
    // query, then interpreted fallback).
    val qRows = withQv(query, idCol, vecCol, "qid")
      .select(col("qv")).limit(2).collect()
    require(qRows.length == 1,
      "topKPqAdcFromCodes expects exactly one query row; batch queries need a per-qid top-k")
    topKPqAdcFromCodesPrecollected(
      codes, qRows(0).getSeq[Long](0).toArray, k, codebook)
  }

  /** PQ ADC top-k (asymmetric distance computation): the query's
    * per-subspace distance TABLES to all centroids are computed once on
    * the broadcast 1-row query side; each corpus row then pays nSub
    * table lookups on its 8-byte code instead of a full-dimension
    * distance — the classic IVF-PQ serving shape. Distance is squared
    * L2 (PQ's native metric); approximate by construction. Recall is
    * bounded by codebook quality: the hash-picked codebook is a
    * deterministic stand-in that is weak on unstructured data — swap in
    * k-means-trained centroids (same Array shape) for production
    * corpora, where cluster structure is what PQ exploits. */
  def topKPqAdc(corpus: DataFrame, idCol: String, vecCol: String,
                query: DataFrame, k: Int,
                codebook: Array[Array[Array[Long]]]): DataFrame =
    // encode-then-serve in one query; production serving reads stored
    // codes instead (writePqCodes + topKPqAdcFromCodes). The 1-row
    // query guard lives in the serving half: a multi-row query would
    // silently merge every query's distances through the single global
    // top-k — use topKBruteForceMany's shape for batches.
    topKPqAdcFromCodes(
      pqEncode(corpus, idCol, vecCol, codebook).select("id", "pq_code"),
      query, idCol, vecCol, k, codebook)

  /** Build the fused IVF-PQ index — the billion-vector serving layout:
    * every vector is assigned to its nearest coarse centroid (same
    * deterministic cell construction as topKIvf) and its 8-byte PQ code
    * is written PARTITIONED BY CELL (`path/codes/v=0/cell=N/`), with
    * the nCells centroids, codebook and quant-error baseline in the
    * version-scoped meta dir alongside (`path/codes_meta/v=0/` — a
    * rebuild retrains and installs all of them atomically as the next
    * version). Serving then probes
    * nProbe cells as a parquet PARTITION FILTER — the scan physically
    * skips (nCells-nProbe)/nCells of the index — and pays nSub table
    * lookups per surviving row. Build is offline: the only driver-side
    * data is the KB-scale centroid relation. */
  def writeIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      codebook: Array[Array[Array[Long]]], path: String,
                      nCells: Int = 16): Unit = {
    // create-once: with a live version already at this path, a v=0
    // overwrite would be silently ignored by readers (they resolve the
    // max complete version) — an in-place refresh is rebuildIvfPqIndex
    require(IndexStore.liveVersion(corpus.sparkSession, path, "codes").isEmpty,
      s"writeIvfPqIndex: an index already exists at $path — " +
        "use rebuildIvfPqIndex (or a fresh path)")
    // build-side twin of the serve guard: an index built past the
    // driver-side cell-selection ceiling could never be served
    requireDriverCells(nCells, path)
    buildCodesVersion(corpus.sparkSession, path, corpus, idCol, vecCol,
      codebook, nCells, version = 0L)
    IndexStore.commitFolds(corpus.sparkSession, path, "codes", 0L, Set.empty,
      baseFiles = Some(IndexStore.countDataFiles(
        corpus.sparkSession, IndexStore.versionDir(path, "codes", 0L))))
  }

  /** Version-`v` meta dir: the trained geometry that encoded version
    * `v` of the codes (centroids, codebook, quant-error baseline). The
    * meta is VERSIONED WITH the codes it encoded — a rebuild retrains
    * all three and installs them with the re-encoded codes in ONE
    * atomic version flip, so a reader can never pair old centroids with
    * new codes (or vice versa): it resolves one version and reads both
    * from it. */
  private def codesMetaDir(path: String, v: Long): String =
    s"$path/codes_meta/v=$v"

  /** Stable fingerprint of a codebook (MD5 over the flattened longs) —
    * stored on every centroid row, checked by serving against the
    * caller-supplied codebook: ADC tables built from a codebook other
    * than the one that encoded the stored codes would produce silently
    * incomparable distances, the worst failure mode. Driver-side over
    * ≤ nSub×256 short vectors — microseconds. */
  private[graft] def codebookFp(cb: Array[Array[Array[Long]]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(8)
    cb.foreach(_.foreach(_.foreach { v =>
      bb.clear(); bb.putLong(v); md.update(bb.array()) }))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Write one full codes version: trained meta (centroids hash-picked
    * from `corpus`, the codebook, the quant-error baseline) under
    * `codes_meta/v=<version>`, then the encoded, cell-partitioned codes
    * under `codes/v=<version>`. Shared by the offline build (v=0) and
    * [[rebuildIvfPqIndex]] (v=live+1). NOT an install — the version
    * goes live only when the caller commits its fold manifest. */
  private def buildCodesVersion(spark: org.apache.spark.sql.SparkSession,
                                path: String, corpus: DataFrame,
                                idCol: String, vecCol: String,
                                codebook: Array[Array[Array[Long]]],
                                nCells: Int, version: Long): Unit = {
    val c = withQv(corpus, idCol, vecCol)
    val centroids = c
      .withColumn("cell", pmod(xxhash64(col("id")), lit(nCells.toLong)))
      .groupBy("cell")
      .agg(min_by(struct(col("qv"), col("qnorm")), xxhash64(lit(42), col("id"))).as("r"))
      .select(col("cell"), col("r.qv").as("cv"), col("r.qnorm").as("cnorm"),
        lit(codebookFp(codebook)).as("cb_fp"))
    centroids.write.mode("overwrite")
      .parquet(s"${codesMetaDir(path, version)}/centroids")
    // the index is SELF-DESCRIBING: the codebook that encoded the codes
    // is stored alongside them, so maintenance (appendToIvfPqIndex /
    // ivfPqMaintenanceStream) can never encode new vectors with a
    // DIFFERENT codebook than this version's — mixed-codebook codes
    // would make ADC distances silently incomparable
    locally {
      import spark.implicits._
      codebook.zipWithIndex.flatMap { case (sub, si) =>
        sub.zipWithIndex.map { case (cvec, ci) => (si, ci, cvec.toSeq) }
      }.toSeq.toDF("sub", "code", "vals")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${codesMetaDir(path, version)}/codebook")
    }
    // build-time quantization-error baseline (exact integer sum + count):
    // the yardstick ivfPqIndexHealth measures drift against — the cell
    // geometry and codebook are frozen within a version, so a corpus
    // whose distribution drifts shows up as a rising mean error vs this
    // number, the trigger for [[rebuildIvfPqIndex]]. `n_cells` records
    // the CONFIGURED cell count explicitly: the centroid ROW count is
    // per-NONEMPTY hash bucket, so inferring the geometry from it would
    // silently shrink nCells across successive rebuilds whenever a cell
    // came up empty.
    locally {
      import spark.implicits._
      val r = c.agg(
        coalesce(sum(graft.functions.PqExpressions.quantErr(col("qv"), codebook)),
          lit(0L)).as("err_sum"),
        count(lit(1)).as("n_vectors")).head()
      require(r.getLong(1) > 0, "writeIvfPqIndex: empty corpus")
      Seq((r.getLong(0), r.getLong(1), nCells))
        .toDF("err_sum", "n_vectors", "n_cells")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${codesMetaDir(path, version)}/quant_baseline")
    }
    val cent = broadcast(spark.read
      .parquet(s"${codesMetaDir(path, version)}/centroids")
      .select("cell", "cv", "cnorm"))
    val assigned = c.crossJoin(cent)
      .groupBy(col("id"))
      .agg(
        max_by(col("cell"),
          struct((qdot(col("qv"), col("cv")).cast("double") / col("cnorm")).as("s"),
            (-col("cell")).as("tb"))).as("cell"),
        first(col("qv")).as("qv"))
    assigned
      .select(col("id"), col("cell"),
        graft.functions.PqExpressions.encode(col("qv"), codebook).as("pq_code"),
        lit(codebookFp(codebook)).as("cb_fp"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(IndexStore.versionDir(path, "codes", version))
  }

  /** Every stored code row carries the fingerprint of the codebook that
    * ENCODED it (`cb_fp` — constant within a write, so parquet
    * dictionary/RLE encoding stores it at near-zero cost even at 100 TB).
    * This guard is how readers consume `pq_code`: a row whose stamp
    * differs from the pinned version's codebook raises a named error IN
    * THE SCAN (codegen'd `when`/`raise_error` — no extra pass, no extra
    * job) instead of feeding ADC tables built from a different codebook,
    * which would return silently mis-ranked neighbors. The only writer
    * that can produce such a row is one violating rebuild quiescence (an
    * append or maintenance micro-batch that pinned the old geometry and
    * committed after the rebuild installed); the write-side re-check
    * ([[appendToIvfPqIndex]]) already refuses to LEDGER such a batch, so
    * this read-side guard is the defense-in-depth for writers that
    * bypass the library discipline. */
  private def guardedPqCode(expectedFp: String, path: String): Column =
    when(col("cb_fp") === lit(expectedFp), col("pq_code"))
      .otherwise(raise_error(concat(
        lit(s"foreign-codebook code rows in IVF-PQ index at $path: found rows encoded with codebook "),
        col("cb_fp"),
        lit(s" under a version encoded with $expectedFp — a writer violated " +
          "rebuild quiescence. The offending batch id is already ledgered " +
          "(a retried append is a replay no-op), so the remediation is " +
          "rebuildIvfPqIndex, which re-encodes the whole id population " +
          "and folds the foreign batch"))))

  /** Serve top-k from the fused IVF-PQ index: the query picks its
    * nProbe nearest cells against the KB-scale centroid table
    * driver-side, the code scan prunes to those cell partitions at the
    * parquet level (PartitionFilters — gated by PlanSpec), and ADC runs
    * with driver-built literal tables. Approximate on two axes by
    * construction (cell recall × code quantization) — the standard
    * IVF-PQ serving trade.
    *
    * Freshness: serving reads base ∪ unfolded ledgered batch delta —
    * and the streaming maintenance face
    * ([[graft.streaming.IncrementalStream.ivfPqMaintenanceStream]])
    * lands each micro-batch as one more ledgered `batch=stream-<id>`
    * partition, so ingested vectors are retrievable without a rebuild
    * through the same two-way union, both sides pruned to the probe
    * cells before it. Every row's `cb_fp` stamp is checked in-scan
    * ([[guardedPqCode]]): codes encoded under a different codebook
    * than the pinned version's fail loud instead of mis-ranking. */
  def topKIvfPqFromIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, query: DataFrame,
                         idCol: String, vecCol: String, k: Int,
                         codebook: Array[Array[Array[Long]]],
                         nProbe: Int = 4): DataFrame = {
    val qRows = withQv(query, idCol, vecCol, "qid")
      .select(col("qv")).limit(2).collect()
    require(qRows.length == 1,
      "topKIvfPqFromIndex expects exactly one query row")
    val qv = qRows(0).getSeq[Long](0).toArray
    // ONE pin: centroids, codes and fold exclusions all come from the
    // same version, so a concurrent compaction/rebuild install can
    // never mix one version's geometry with another's codes
    val pin = IndexStore.pinOf(spark, path, "codes")
    val cents = spark.read
      .parquet(s"${codesMetaDir(path, pin.v)}/centroids")
      .select(col("cell"), col("cv"), col("cnorm"), col("cb_fp")).collect()
    require(cents.nonEmpty, s"no centroids at ${codesMetaDir(path, pin.v)}")
    requireDriverCells(cents.length, path)
    // fail LOUD on a stale caller codebook (e.g. collected before a
    // rebuild): ADC tables from any codebook but the one that encoded
    // this version's codes give silently incomparable distances
    require(cents.head.getString(3) == codebookFp(codebook),
      s"stale codebook for index at $path (version v=${pin.v} was " +
        "encoded with a different codebook — re-read it with codebookOf)")
    val probeCells = cents.map { r =>
      val cell = r.getLong(0)
      val cv = r.getSeq[Long](1).toArray
      var dot = 0L
      var i = 0
      while (i < math.min(qv.length, cv.length)) { dot += qv(i) * cv(i); i += 1 }
      // constant |q| does not change the ranking; ties break on cell id
      (cell, dot.toDouble / r.getDouble(2))
    }.sortBy { case (cell, score) => (-score, cell) }
      .take(nProbe).map(_._1)
    // base(pin) ∪ unfolded ledgered batch delta (IndexStore's single
    // visibility rule — streaming micro-batches are ledgered batches
    // too), each pruned to the probe cells BEFORE the union — `cell`
    // is a partition column in both locations, so the pruning is a
    // PartitionFilter everywhere and serving physically skips
    // (nCells-nProbe)/nCells of base and delta alike. The projection
    // routes pq_code through the cb_fp guard: a foreign-codebook row
    // in a probed cell raises the named error in the scan.
    val baseAll = IndexStore.readBaseAt(spark, path, "codes", pin)
    val expectedFp = cents.head.getString(3)
    def pruned(df: DataFrame): DataFrame =
      df.filter(col("cell").isin(probeCells: _*))
        .select(col("id"), guardedPqCode(expectedFp, path).as("pq_code"))
    val cols = Seq("id", "pq_code", "cell", "cb_fp")
    val codes = IndexStore.ledgeredDelta(spark, path, "codes", pin,
        baseAll.schema, cols)
      .map(d => pruned(baseAll).unionByName(pruned(d)))
      .getOrElse(pruned(baseAll))
    topKPqAdcFromCodesPrecollected(codes, qv, k, codebook)
  }

  /** Batched fused IVF-PQ serving: ONE pruned code scan serves a whole
    * request batch. Each query's nProbe cells are selected driver-side
    * against the pinned KB-scale centroid table (identical arithmetic
    * to [[topKIvfPqFromIndex]]); the scan is pruned to the UNION of
    * probed cells — `cell` is a partition column in base and delta
    * alike, so the union is a PartitionFilter and the scan physically
    * skips every unprobed cell. A broadcast (qid, cell) membership
    * join then restricts each surviving row to exactly the queries
    * that probed its cell (a row is ADC-scored once per PROBING query,
    * never once per query — disjoint probes cost the same as |q|
    * single serves in one job, overlapping probes cost less), a second
    * broadcast join attaches each query's integer ADC tables, and the
    * per-qid top-k plans as the map-side WindowGroupLimit (the pinned
    * q74/q88 shape) — the shuffle carries ≤ partitions × |q| × k rows,
    * never the scored scan. Per query the result is BIT-IDENTICAL to
    * [[topKIvfPqFromIndex]] (same probed cells, same integer ADC, same
    * (adc_dist ASC, id) tie order) — spec-pinned. One pin: centroids,
    * codes and fold exclusions all resolve at the same version, and a
    * stale caller codebook fails loud exactly like the single-query
    * form. Output: (qid, id, adc_dist). Query ids must be distinct —
    * qid keys the per-query result. */
  def topKIvfPqManyFromIndex(spark: org.apache.spark.sql.SparkSession,
                             path: String, queries: DataFrame,
                             idCol: String, vecCol: String, k: Int,
                             codebook: Array[Array[Array[Long]]],
                             nProbe: Int = 4,
                             maxQueries: Int = 10000): DataFrame = {
    val qRows = withQv(queries, idCol, vecCol, "qid")
      .select(col("qid").cast("long"), col("qv"))
      .limit(maxQueries + 1).collect()
    require(qRows.nonEmpty, "topKIvfPqManyFromIndex: empty query batch")
    require(qRows.length <= maxQueries,
      s"query batch exceeds maxQueries=$maxQueries — this API is for " +
        "serving request batches, not corpus-vs-corpus scoring")
    // a non-numeric idCol casts to null long — fail with a named error
    // like the other driver-side guards, not an opaque NPE at getLong
    require(qRows.forall(r => !r.isNullAt(0)),
      s"topKIvfPqManyFromIndex: query id column '$idCol' produced null " +
        "after casting to long — qid keys the per-query result and must " +
        "be a non-null numeric id")
    require(qRows.map(_.getLong(0)).distinct.length == qRows.length,
      "duplicate query ids in batch — qid keys the per-query result")
    val pin = IndexStore.pinOf(spark, path, "codes")
    val cents = spark.read
      .parquet(s"${codesMetaDir(path, pin.v)}/centroids")
      .select(col("cell"), col("cv"), col("cnorm"), col("cb_fp")).collect()
    require(cents.nonEmpty, s"no centroids at ${codesMetaDir(path, pin.v)}")
    requireDriverCells(cents.length, path)
    require(cents.head.getString(3) == codebookFp(codebook),
      s"stale codebook for index at $path (version v=${pin.v} was " +
        "encoded with a different codebook — re-read it with codebookOf)")
    val nSub = codebook.length
    val nCodes = codebook(0).length
    val sub = codebook(0)(0).length
    // per-query probe-cell selection + ADC tables, all driver-side:
    // |q| × nCells dots over the already-collected centroid relation
    val probes = qRows.map { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Long](1).toArray
      require(qv.length >= nSub * sub,
        s"query vector has ${qv.length} elements, codebook expects ${nSub * sub}")
      val cells = cents.map { c =>
        val cell = c.getLong(0)
        val cv = c.getSeq[Long](1).toArray
        var dot = 0L
        var i = 0
        while (i < math.min(qv.length, cv.length)) { dot += qv(i) * cv(i); i += 1 }
        (cell, dot.toDouble / c.getDouble(2))
      }.sortBy { case (cell, score) => (-score, cell) }
        .take(nProbe).map(_._1)
      val tables = Array.tabulate(nSub) { s =>
        Array.tabulate(nCodes) { j =>
          var d = 0L
          var i = 0
          while (i < sub) {
            val x = qv(s * sub + i) - codebook(s)(j)(i)
            d += x * x
            i += 1
          }
          d
        }.toSeq
      }.toSeq
      (qid, cells, tables)
    }
    val unionCells = probes.flatMap(_._2).distinct.sorted
    // the serve-shape observable, Dedup.lastProbeShape's IVF twin: a
    // batch whose union of probed cells covers ~all of the cell space
    // has saturated the PartitionFilter (the scan degrades to a full
    // code scan) — the runtime signal that the batch is too broad for
    // the geometry (split it, or grow n_cells via the health report's
    // suggested_n_cells re-anchor)
    recordServeShape(path, ServeShape(
      queries = qRows.length, nCells = cents.length,
      unionCellsProbed = unionCells.length,
      cellCoveragePct = unionCells.length * 100L / math.max(1, cents.length)))
    val baseAll = IndexStore.readBaseAt(spark, path, "codes", pin)
    val expectedFp = cents.head.getString(3)
    def pruned(df: DataFrame): DataFrame =
      df.filter(col("cell").isin(unionCells.map(v => v: Any): _*))
        .select(col("id"), col("cell"),
          guardedPqCode(expectedFp, path).as("pq_code"))
    val cols = Seq("id", "pq_code", "cell", "cb_fp")
    val codes = IndexStore.ledgeredDelta(spark, path, "codes", pin,
        baseAll.schema, cols)
      .map(d => pruned(baseAll).unionByName(pruned(d)))
      .getOrElse(pruned(baseAll))
    import spark.implicits._
    val member = probes.toSeq
      .flatMap { case (qid, cells, _) => cells.map(c => (qid, c)) }
      .toDF("qid", "cell")
    val qt = probes.toSeq.map { case (qid, _, t) => (qid, t) }.toDF("qid", "t")
    val adc = (0 until nSub).map(s =>
      element_at(element_at(col("t"), s + 1),
        element_at(col("pq_code"), s + 1).cast("int") + 1)).reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adc_dist").asc, col("id"))
    codes.join(broadcast(member), Seq("cell"))
      .join(broadcast(qt), Seq("qid"))
      .select(col("qid"), col("id"), adc.as("adc_dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
  }

  /** Shape of a [[topKIvfPqManyFromIndex]] call —
    * [[graft.analytics.Dedup.ProbeShape]]'s IVF twin: how much of the
    * cell space the batch's union of probed cells covered. Coverage
    * near 100 means the PartitionFilter was saturated and the serve
    * read ~the whole code store — split the batch, or grow the
    * geometry (the re-anchor lives in ivfPqIndexHealth's
    * `suggested_n_cells`). Driver-side observability, not a data-plane
    * artifact: each serve appends its shape to a bounded per-index-path
    * log ([[serveShapesFor]]) that [[ivfPqIndexHealth]] folds into its
    * report (`serves_observed` / `serve_max_cell_coverage_pct` /
    * `serve_saturation_observed`), closing the monitoring loop —
    * health recommends the geometry AND sees how batches actually hit
    * it. */
  final case class ServeShape(queries: Int, nCells: Int,
                              unionCellsProbed: Int,
                              cellCoveragePct: Long)
  /** Union-cell coverage (pct) at/above which a batched serve is
    * considered to have SATURATED the partition pruning — the scan
    * read ~the whole code store. Mirrors the MinHash probe's 75%
    * selectivity gate so the two families report saturation on the
    * same scale. */
  private[graft] val ServeSaturationPct = 75L
  /** Bounded per-path shape history: ConcurrentHashMap.compute is
    * atomic per key, so concurrent serves on one driver each append
    * (never clobber — the round-13 single AtomicReference lost shapes
    * under concurrency), and serves on different indexes never mix. */
  private val serveShapesByPath =
    new java.util.concurrent.ConcurrentHashMap[String, List[ServeShape]]()
  private[graft] val MaxShapesPerPath = 64
  private def recordServeShape(path: String, sh: ServeShape): Unit = {
    lastServeShapeRef.set(sh)
    serveShapesByPath.compute(path, (_, old) =>
      (sh :: Option(old).getOrElse(Nil)).take(MaxShapesPerPath))
    ()
  }
  /** Serve shapes recorded on this JVM for the index at `path`, newest
    * first, bounded to the last [[MaxShapesPerPath]]. */
  def serveShapesFor(path: String): Seq[ServeShape] =
    Option(serveShapesByPath.get(path)).getOrElse(Nil)
  private val lastServeShapeRef =
    new java.util.concurrent.atomic.AtomicReference[ServeShape]()
  /** Most recent serve shape on this JVM across all indexes — kept for
    * quick REPL/harness inspection; per-index history (race-free under
    * concurrent serves) is [[serveShapesFor]]. */
  def lastServeShape: Option[ServeShape] = Option(lastServeShapeRef.get())

  /** Read back the codebook that encoded the LIVE version of the index
    * at `path` (rebuilds retrain it — always re-read after one). */
  def codebookOf(spark: org.apache.spark.sql.SparkSession,
                 path: String): Array[Array[Array[Long]]] =
    codebookAt(spark, path, IndexStore.pinOf(spark, path, "codes").v)

  /** The live version's frozen geometry in one pinned read: collected
    * (cell, centroid, norm) triples (KB-scale) plus the codebook — the
    * streaming maintenance face collects both at start, and pulling
    * them from ONE pin means a concurrent rebuild install can never
    * hand it one version's centroids with another's codebook. */
  private[graft] def frozenGeometryOf(spark: org.apache.spark.sql.SparkSession,
                                      path: String)
      : (Array[(Long, Array[Long], Double)], Array[Array[Array[Long]]]) = {
    val v = IndexStore.pinOf(spark, path, "codes").v
    val cents = Readers.parquet(spark, s"${codesMetaDir(path, v)}/centroids")
      .select(col("cell"), col("cv"), col("cnorm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getDouble(2)))
    (cents, codebookAt(spark, path, v))
  }

  private def codebookAt(spark: org.apache.spark.sql.SparkSession,
                         path: String, v: Long): Array[Array[Array[Long]]] = {
    val rows = Readers.parquet(spark, s"${codesMetaDir(path, v)}/codebook")
      .select(col("sub"), col("code"), col("vals")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray))
    require(rows.nonEmpty, s"no codebook at ${codesMetaDir(path, v)}")
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, subs) =>
      subs.sortBy(_._2).map(_._3)
    }.toArray
  }

  /** Incremental index maintenance, batch face: assign NEW vectors to
    * the index's FROZEN cell geometry (centroids are read back from
    * the index, never recomputed — the whole point of maintenance is
    * that the existing codes stay valid) via the build's relational
    * argmax (broadcast centroid join + max_by), encode with the
    * index's OWN stored codebook (passing one in is impossible, so
    * mixed-codebook codes — silently incomparable ADC distances —
    * cannot be expressed), and land the codes as the batch's own
    * `codes_delta/batch=<id>` partition (still cell-partitioned below
    * it, so serving's PartitionFilter pruning reaches the delta).
    * Daily-ingest shape: cost is O(|new| · nCells) — the history is
    * never touched.
    *
    * EXACTLY-ONCE under retry/replay (FileLedger pattern, reference
    * snowflake_load.py:108-133): the per-batch dir is written with
    * mode=overwrite (a retried half-write rewrites itself, never
    * appends a second copy) and the batch id is ledgered strictly
    * after the write commits; a replayed id is a no-op. Serving reads
    * delta batches only THROUGH the ledger, so a crashed write that
    * never retried is invisible — duplicated codes would otherwise
    * make a top-k return the same id twice.
    *
    * GEOMETRY RE-CHECK between the write and the ledger commit: if a
    * rebuild installed a different codebook while this append was
    * encoding (the quiescence race), the batch is NOT ledgered and the
    * append fails with a named error — the written dir stays invisible
    * (visibility requires the ledger) and a retry simply re-encodes
    * with the new geometry. Rows are additionally stamped with their
    * encoding `cb_fp`, so even a writer that bypasses this discipline
    * degrades to a loud serving error ([[guardedPqCode]]), never to
    * silently mis-ranked distances. */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String, newVecs: DataFrame,
                         idCol: String, vecCol: String,
                         batchId: String): Unit =
    appendToIvfPqIndex(spark, path, newVecs, idCol, vecCol, batchId, () => ())

  /** [[appendToIvfPqIndex]] with a barrier hook invoked after the delta
    * write commits and before the geometry re-check + ledger — lets a
    * spec install a rebuild inside the race window deterministically.
    * No-op in production. */
  private[graft] def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                                        path: String, newVecs: DataFrame,
                                        idCol: String, vecCol: String,
                                        batchId: String,
                                        preCommitHook: () => Unit): Unit = {
    if (IndexStore.batchAlreadyAppended(spark, path, batchId))
      return // replayed batch: already fully appended and ledgered
    // one pin: codebook and centroids must come from the SAME version
    val v = IndexStore.pinOf(spark, path, "codes").v
    val codebook = codebookAt(spark, path, v)
    val fp = codebookFp(codebook)
    val c = withQv(newVecs, idCol, vecCol)
    val cent = broadcast(spark.read
      .parquet(s"${codesMetaDir(path, v)}/centroids")
      .select("cell", "cv", "cnorm"))
    val assigned = c.crossJoin(cent)
      .groupBy(col("id"))
      .agg(
        max_by(col("cell"),
          struct((qdot(col("qv"), col("cv")).cast("double") / col("cnorm")).as("s"),
            (-col("cell")).as("tb"))).as("cell"),
        first(col("qv")).as("qv"))
    assigned
      .select(col("id"), col("cell"),
        graft.functions.PqExpressions.encode(col("qv"), codebook).as("pq_code"),
        lit(fp).as("cb_fp"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/codes_delta/batch=$batchId")
    preCommitHook()
    // compare FINGERPRINTS, not version numbers: a concurrent
    // compaction installs a new version with the SAME geometry (meta is
    // carried forward value-exact) and must not fail the append
    val liveFp = liveCodebookFpOf(spark, path)
    if (liveFp != fp)
      sys.error(s"rebuild installed during append to IVF-PQ index at " +
        s"$path: batch $batchId was encoded with codebook $fp but the " +
        s"live version's codebook is now $liveFp — the batch was NOT " +
        "ledgered (it stays invisible); retry the append to re-encode " +
        "with the new geometry")
    IndexStore.ledgerBatch(spark, path, batchId)
  }

  /** The live version's encoding-codebook fingerprint (driver-side,
    * KB-scale centroid read). */
  private[graft] def liveCodebookFpOf(spark: org.apache.spark.sql.SparkSession,
                                      path: String): String = {
    val v = IndexStore.pinOf(spark, path, "codes").v
    Readers.parquet(spark, s"${codesMetaDir(path, v)}/centroids")
      .select("cb_fp").head().getString(0)
  }

  /** Land ALREADY-ENCODED code rows (id, cell, pq_code, cb_fp — the
    * streaming maintenance face's per-micro-batch output, encoded by
    * [[encodeForIndex]] against a per-batch geometry pin) as one
    * ledgered delta batch, under the same overwrite + geometry-recheck
    * + ledger-last exactly-once discipline as [[appendToIvfPqIndex]].
    * The recheck compares the ROWS' stamp (one distinct cb_fp — the
    * encoder pins one version) against the live version's: if a
    * rebuild installed between the encode and this commit, the batch
    * fails loud and stays unledgered (invisible), and the stream's
    * checkpoint replays it against the new geometry. */
  private[graft] def appendEncodedStreamBatch(
      spark: org.apache.spark.sql.SparkSession, path: String,
      encoded: DataFrame, batchId: String, encodedFp: String): Unit = {
    if (IndexStore.batchAlreadyAppended(spark, path, batchId))
      return // at-least-once replay of a committed micro-batch: no-op
    encoded
      .select(col("id"), col("cell"), col("pq_code"), col("cb_fp"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/codes_delta/batch=$batchId")
    val liveFp = liveCodebookFpOf(spark, path)
    if (liveFp != encodedFp)
      sys.error(s"rebuild installed during streaming append to IVF-PQ " +
        s"index at $path: micro-batch $batchId was encoded with codebook " +
        s"$encodedFp but the live version's codebook is now $liveFp — " +
        "the batch was NOT ledgered (it stays invisible); the stream " +
        "checkpoint will replay it against the new geometry")
    IndexStore.ledgerBatch(spark, path, batchId)
  }

  /** Lakehouse maintenance for the IVF-PQ index: months of daily batch
    * appends and streaming micro-batch appends leave thousands of small
    * files per cell, and every serve pays the per-file open cost across
    * its probe cells. Compaction merges base ∪ unfolded ledgered batch
    * delta (exactly the relation serving reads — a bit-equal rewrite by
    * construction) into a fresh cell-partitioned base version — one
    * shuffle on `cell`, so each cell lands as ~1 file
    * (maxRecordsPerFile caps stragglers) and the PartitionFilter
    * pruning contract is preserved — and installs it by committing the
    * cumulative fold manifest (IndexStore.compactComponent). Returns
    * (files_before, files_after, rows).
    *
    * The rewrite routes every merged pq_code through the cb_fp guard:
    * a foreign-codebook delta row (a writer that violated rebuild
    * quiescence AND bypassed the append discipline) fails the
    * compaction loudly — baking it into the base would make the
    * anomaly permanent, and silently dropping it would lose a row; the
    * failed attempt stays invisible (its fold manifest never commits).
    *
    * ONLINE: concurrent serves resolve either the old version (deltas
    * unfolded) or the new one (deltas folded) — bit-equal — and
    * concurrent appends stay visible as delta under the new version.
    * The batch-id ledger survives on purpose: a late replay of an
    * already-folded batch must still be skipped. Superseded versions
    * and folded delta dirs are garbage-collected by the separate,
    * retention-gated [[vacuumIvfPqIndex]]. */
  def compactIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String,
                        rowsPerFile: Long = 1L << 20): (Long, Long, Long) =
    IndexStore.withMaintenanceLease(spark, path, "compact") {
    val expectedFp = liveCodebookFpOf(spark, path)
    val (before, after, rows) =
      IndexStore.compactComponent(spark, path, "codes",
        write = (merged, _, dest, next) => {
          merged.select(col("id"), col("cell"),
              guardedPqCode(expectedFp, path).as("pq_code"), col("cb_fp"))
            .repartition(col("cell"))
            .write.mode("overwrite")
            .option("maxRecordsPerFile", rowsPerFile)
            .partitionBy("cell").parquet(dest)
          // carry the UNCHANGED geometry forward: meta is versioned WITH
          // the codes (one pin resolves both), so the new version needs
          // its own copy — KB-scale, rewritten value-exact. Only a
          // rebuild retrains it.
          Seq("centroids", "codebook", "quant_baseline").foreach { m =>
            Readers.parquet(spark, s"${codesMetaDir(path, next - 1)}/$m")
              .coalesce(1).write.mode("overwrite")
              .parquet(s"${codesMetaDir(path, next)}/$m")
          }
        })
    (before, after, rows)
    }

  /** Retention-gated garbage collection for the IVF-PQ index: keep the
    * newest `keepVersions` complete code versions (with their
    * version-scoped meta), drop the rest plus the `batch=` delta dirs
    * the oldest retained version has folded. `keepVersions = 1`
    * requires serve quiescence; `keepVersions = 2` tolerates every
    * serve that pinned since the previous install
    * (IndexStore.vacuumComponent). An in-flight compactor's/rebuild's
    * half-written next version is protected by `incompleteTtlMs`:
    * only incomplete attempts older than the TTL are collected as
    * crash debris. Returns (versions removed, batch dirs removed). */
  def vacuumIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String,
                       keepVersions: Int = 1,
                       incompleteTtlMs: Long = IndexStore.IncompleteAttemptTtlMs): (Long, Long) =
    IndexStore.withMaintenanceLease(spark, path, "vacuum") {
    val (versions, batches) =
      IndexStore.vacuumComponent(spark, path, "codes", keepVersions,
        incompleteTtlMs)
    // version-scoped meta follows its codes version: delete the meta of
    // every version whose codes dir vacuum just removed
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaRoot = new org.apache.hadoop.fs.Path(s"$path/codes_meta")
    if (fs.exists(metaRoot)) {
      fs.listStatus(metaRoot).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
        .filter(st => !fs.exists(new org.apache.hadoop.fs.Path(
          IndexStore.versionDir(path, "codes",
            st.getPath.getName.stripPrefix("v=").toLong))))
        .foreach(st => fs.delete(st.getPath, true))
    }
    (versions, batches)
    }

  /** Drift-triggered FULL REBUILD — the operator [[ivfPqIndexHealth]]'s
    * `quant_drift_detected` / low `recall_pct` verdicts exist to
    * trigger. A frozen geometry that no longer fits the corpus cannot
    * be patched (moving centroids or codebook entries would invalidate
    * every stored code), so the rebuild retrains BOTH on the corpus'
    * current vectors and re-encodes:
    *
    *   1. The id population is PRESERVED: exactly the ids visible in
    *      the index (base ∪ unfolded deltas) are re-encoded, from their
    *      rows in `corpus` (the source of truth for current vectors) —
    *      `corpus` must cover every indexed id (checked).
    *   2. A fresh codebook is k-means-trained on those rows and fresh
    *      centroids are hash-picked from them ([[buildCodesVersion]] —
    *      the same construction as the offline build), so the new
    *      geometry fits the drifted distribution and the stored
    *      quant-error baseline is re-anchored.
    *   3. Everything installs ATOMICALLY as version live+1 via the fold
    *      manifest (all ledgered batches and committed stream files are
    *      folded — their old-codebook rows are superseded by the
    *      re-encode): a concurrent serve reads either the old coherent
    *      index or the new coherent one, never a mix (geometry is
    *      versioned WITH the codes, and serving fingerprint-checks the
    *      caller's codebook).
    *
    * EXACTLY-ONCE under retry/replay: `rebuildId` is ledgered strictly
    * after the install commits; a replayed id is a no-op. Requires
    * quiesced WRITERS (appends / maintenance stream) — a batch encoded
    * with the old codebook that commits after the fold snapshot would
    * stay visible as delta but be incomparable under the new geometry;
    * serving stays online throughout. Restart the maintenance stream
    * with a fresh checkpoint afterwards (it collects geometry at
    * start). */
  def rebuildIvfPqIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, corpus: DataFrame,
                        idCol: String, vecCol: String, rebuildId: String,
                        nCells: Option[Int] = None): Unit = {
    if (IndexStore.rebuildAlreadyDone(spark, path, rebuildId))
      return // replayed rebuild: already installed and ledgered
    IndexStore.withMaintenanceLease(spark, path, "rebuild") {
    val pin = IndexStore.pinOf(spark, path, "codes")
    // the index is self-describing: unless the caller explicitly
    // overrides, the rebuild keeps the LIVE version's CONFIGURED cell
    // count, read from the meta's explicit n_cells field — counting
    // centroid ROWS would undercount whenever a hash cell came up
    // empty (centroids are per-nonempty bucket), silently shrinking
    // the geometry a little further on every rebuild. Indexes written
    // before the field existed fall back to the row count.
    val cells = nCells.getOrElse {
      val qb = spark.read
        .parquet(s"${codesMetaDir(path, pin.v)}/quant_baseline")
      if (qb.columns.contains("n_cells")) qb.select("n_cells").head().getInt(0)
      else spark.read
        .parquet(s"${codesMetaDir(path, pin.v)}/centroids").count().toInt
    }
    // an explicit re-anchor past the driver-side cell-selection
    // ceiling would install an unservable geometry — refuse up front
    requireDriverCells(cells, path)
    // SNAPSHOT what the re-encode covers, before any long training:
    // exactly these refs get folded at install. Re-reading the ledger
    // at commit time would fold a delta committed mid-rebuild WITHOUT
    // re-encoding it — silent row loss (a quiescence violation must
    // degrade to a visible, old-codebook delta anomaly, never to
    // deletion). Streaming micro-batches are ledgered batches too, so
    // one snapshot covers both maintenance faces.
    val snapshotIds = IndexStore.unfoldedBatchIds(spark, path, pin).toSet
    val base = IndexStore.readBaseAt(spark, path, "codes", pin)
    val cols = base.columns.toSeq
    // merge from the EXACT snapshot (same discipline as
    // IndexStore.compactComponent): never re-read the ledger
    val visibleRel =
      if (snapshotIds.isEmpty) base.select(cols.map(col): _*)
      else base.select(cols.map(col): _*).unionByName(
        spark.read
          .schema(base.schema.add("batch",
            org.apache.spark.sql.types.StringType, nullable = false))
          .parquet(s"$path/codes_delta")
          .filter(col("batch").isin(snapshotIds.toSeq.sorted: _*))
          .select(cols.map(col): _*))
    val visibleIds = visibleRel.select(col("id")).distinct()
    val rows = corpus.join(
      visibleIds.withColumnRenamed("id", idCol), Seq(idCol), "left_semi")
    val nVisible = visibleIds.count()
    val nRows = rows.select(col(idCol)).distinct().count()
    require(nRows == nVisible,
      s"rebuildIvfPqIndex: corpus covers $nRows of $nVisible indexed ids " +
        "— a rebuild must preserve the id population")
    val codebook = trainPqCodebookKmeans(rows, idCol, vecCol)
    val next = pin.v + 1
    IndexStore.dropIncompleteVersion(spark, path, "codes", next)
    buildCodesVersion(spark, path, rows, idCol, vecCol, codebook,
      cells, version = next)
    // fold exactly the SNAPSHOT the re-encode covered: a batch
    // committed during the rebuild stays unfolded (visible as delta —
    // its old-codebook cb_fp stamp makes the next serve fail LOUD via
    // guardedPqCode instead of losing rows or mis-ranking)
    IndexStore.commitFolds(spark, path, "codes", next,
      pin.foldedBatches ++ snapshotIds,
      baseFiles = Some(IndexStore.countDataFiles(spark,
        IndexStore.versionDir(path, "codes", next))))
    IndexStore.ledgerRebuild(spark, path, rebuildId)
    }
  }

  /** Index staleness / health report — the monitoring loop a FROZEN
    * cell geometry needs: the centroids and codebook never move after
    * build (by design — moving them would invalidate every stored
    * code), so under distribution drift recall decays silently unless
    * something measures it. One row of exact-integer metrics plus the
    * operational verdict booleans:
    *
    *   - n_base_codes / n_delta_codes / delta_pct — how much of the
    *     index now lives outside the compacted base (ledgered batch
    *     delta — daily appends and streaming micro-batches alike);
    *     `needs_compaction` fires past `maxDeltaPct` (run
    *     [[compactIvfPqIndex]]).
    *   - mean_quant_err_base / mean_quant_err_current — the build-time
    *     quantization-error baseline (stored in `quant_baseline` by
    *     [[writeIvfPqIndex]]) vs the SAME statistic over `current`
    *     (today's corpus or a sample); `quant_drift_detected` fires
    *     when the current mean exceeds the baseline by more than
    *     `maxQuantErrDriftPct` percent (exact BigInt cross-multiply,
    *     no float compare) — the codebook no longer fits the data.
    *   - recall_pct / recall_ok — sampled end-to-end recall: each
    *     held-out query served from the stored index vs exact brute
    *     force over `current`; below `recallFloorPct` the index needs
    *     retraining even if nothing else fired.
    *   - n_foreign_codebook_rows / foreign_codes_detected — delta rows
    *     whose `cb_fp` stamp differs from the pinned version's codebook
    *     (a writer violated rebuild quiescence AND bypassed the append
    *     discipline). Serving fails LOUD on such rows (guardedPqCode);
    *     health REPORTS them — and skips the recall sample (0 / not
    *     ok) — so the operator knows to run the rebuild (the batch id
    *     is already ledgered, so a retried append is a replay no-op).
    *
    * `queries` is a held-out serving sample (driver-bounded: at most
    * `maxQueries` rows — health runs daily on a handful, not a corpus).
    * Cost: two metadata counts, one count + one pass over `current`
    * for the error statistic (deterministically 1-in-m xxhash64
    * SAMPLED once `current` exceeds `maxQuantErrRows` rows — exact at
    * or below it; `quant_err_sample_mod` reports the applied m, 1 =
    * exact; pass `quantErrPartitionCol` — a partition column of
    * `current` — to make the sample a PartitionFilter so the pass's
    * scan I/O is pruned at the file level too, not just its per-row
    * CPU), and ONE brute-force corpus scan for all ground truths
    * (topKBruteForceMany — map-side WindowGroupLimit, never a
    * scored-corpus shuffle) plus ONE union-of-probed-cells index serve
    * for all the served sides ([[topKIvfPqManyFromIndex]]) — a daily
    * maintenance job, not a serving-path cost, and bounded to ~one
    * corpus pass total regardless of the query-sample size.
    *
    * The report also folds in this JVM's serve-shape history for the
    * index ([[serveShapesFor]]): `serves_observed` /
    * `serve_max_cell_coverage_pct` / `serve_saturation_observed` show
    * whether live batched serves are saturating the partition pruning
    * the geometry exists to provide — the signal that pairs with
    * `suggested_n_cells` (grow the geometry) or says "split the
    * batch". */
  def ivfPqIndexHealth(spark: org.apache.spark.sql.SparkSession,
                       path: String, current: DataFrame,
                       idCol: String, vecCol: String, queries: DataFrame,
                       k: Int = 20, nProbe: Int = 4,
                       recallFloorPct: Int = 25,
                       maxDeltaPct: Int = 20,
                       maxQuantErrDriftPct: Int = 50,
                       maxQueries: Int = 100,
                       maxFilesPerComponent: Int = 64,
                       maxQuantErrRows: Int = 1 << 20,
                       quantErrPartitionCol: Option[String] = None): DataFrame = {
    import spark.implicits._
    // one pin: base version, its fold exclusions, its codebook and its
    // quant baseline all resolve together
    val pin = IndexStore.pinOf(spark, path, "codes")
    val codebook = codebookAt(spark, path, pin.v)
    val pinFp = codebookFp(codebook)
    val baseAll = IndexStore.readBaseAt(spark, path, "codes", pin)
    val nBase = baseAll.count()
    val cols = Seq("id", "pq_code", "cell", "cb_fp")
    // one pass over the (day-sized) delta: total rows + rows whose
    // cb_fp stamp differs from the pinned version's codebook — the
    // monitoring-side detection of a quiescence-violating writer
    // (serving fails LOUD on such rows; health REPORTS them so the
    // operator knows to run the rebuild)
    val (nDelta, nForeign) =
      IndexStore.ledgeredDelta(spark, path, "codes", pin, baseAll.schema, cols)
        .map { d =>
          val r = d.agg(count(lit(1)).as("n"),
            coalesce(sum(when(col("cb_fp") =!= lit(pinFp), 1L)
              .otherwise(0L)), lit(0L)).as("f")).head()
          (r.getLong(0), r.getLong(1))
        }.getOrElse((0L, 0L))
    val deltaPct =
      if (nBase + nDelta == 0L) 0L else nDelta * 100L / (nBase + nDelta)
    val baselineDf = spark.read
      .parquet(s"${codesMetaDir(path, pin.v)}/quant_baseline")
    val baseline = baselineDf.select("err_sum", "n_vectors").head()
    val (errBase, nVecBase) = (baseline.getLong(0), baseline.getLong(1))
    // the CONFIGURED cell count (explicit meta field; pre-field
    // indexes fall back to the per-nonempty-bucket centroid row count
    // — same rule as rebuildIvfPqIndex)
    val nCellsLive: Long =
      if (baselineDf.columns.contains("n_cells"))
        baselineDf.select("n_cells").head().getInt(0).toLong
      else Readers.parquet(spark, s"${codesMetaDir(path, pin.v)}/centroids")
        .count()
    // coalesce the sum BEFORE reading it: on an empty `current`, sum()
    // is null and getLong would NPE ahead of the intended require
    def quantErrPass(rel: DataFrame) = withQv(rel, idCol, vecCol)
      .agg(coalesce(
        sum(graft.functions.PqExpressions.quantErr(col("qv"), codebook)),
        lit(0L)).as("e"), count(lit(1)).as("n")).head()
    // 1-in-m deterministic xxhash64 sample once `current` exceeds
    // `maxQuantErrRows` rows. m derives from the relation the pass
    // actually SCANS — round 13 derived it from the indexed population,
    // so a `current` much smaller than the index rested the drift
    // verdict on a handful of rows, and its zero-rows fallback
    // double-scanned exactly the small-corpus shape the bound was
    // meant to cap (round-13 ADVICE, both items). The count() is an
    // empty-projection scan (parquet answers it from row-group
    // metadata); with m = ceil(nCur / bound), a `current` at or under
    // the bound is always EXACT (m == 1) and the double-scan path is
    // structurally gone. The sample key defaults to the row-level id
    // hash — bounding the per-row quantErr evaluation (subvector ×
    // centroid distance sweeps, the pass's dominant CPU term) — and an
    // operator who needs the (id, vec) scan I/O bounded too passes
    // `quantErrPartitionCol` (a PARTITION column of `current`, e.g.
    // the cell of a cell-partitioned vector store): the same 1-in-m
    // predicate then prunes at file-listing time as a PartitionFilter
    // (plan-pinned in IndexLifecycleSpec), so the daily health job
    // reads a strict subset of partitions instead of the full store.
    // Either way the hash is deterministic across runs and JVMs and
    // independent of the error statistic (ids/partition keys don't
    // correlate with quantization error — the dedup bucket
    // discipline). The drift verdict compares the SAMPLE mean to the
    // full build-time baseline mean: unbiased, and the 50% default
    // threshold dwarfs sampling noise at the ~10^6-row expected
    // sample. `quant_err_sample_mod` reports m (1 = exact) — a sampled
    // statistic is never silently exact-looking.
    val nCur = current.count()
    require(nCur > 0, "ivfPqIndexHealth: empty current corpus")
    val sampleMod = math.max(1L, (nCur + maxQuantErrRows.toLong - 1L)
      / math.max(1, maxQuantErrRows).toLong)
    val curSampled =
      if (sampleMod == 1L) current
      else quantErrSampleRelation(current,
        quantErrPartitionCol.getOrElse(idCol), sampleMod)
    val curTry = quantErrPass(curSampled)
    // minimum-sample guard, not just empty (round-13 ADVICE): a sample
    // well under its EXPECTED size (nCur/m — a quarter of it, capped
    // at MinQuantErrSample so the production floor is "a few
    // thousand") would rest the drift verdict on a handful of rows —
    // recompute exact. With m derived from nCur this fires only under
    // severe hash/partition skew: the extra pass is pathology-priced.
    val sampleFloor = math.min(
      math.max(1L, nCur / sampleMod / 4L), MinQuantErrSample)
    val (cur, appliedMod) =
      if (sampleMod > 1L && curTry.getLong(1) < sampleFloor)
        (quantErrPass(current), 1L)
      else (curTry, sampleMod)
    val (errCur, nVecCur) = (cur.getLong(0), cur.getLong(1))
    require(nVecBase > 0 && nVecCur > 0, "ivfPqIndexHealth: empty corpus")
    // exact rational compare (BigInt — the cross-multiply overflows
    // long at corpus scale): errCur/nCur > errBase/nBase * (1+pct/100)
    val drift = BigInt(errCur) * BigInt(nVecBase) * 100 >
      BigInt(errBase) * BigInt(nVecCur) * (100 + maxQuantErrDriftPct)
    val qRows = queries.limit(maxQueries + 1).collect()
    require(qRows.nonEmpty && qRows.length <= maxQueries,
      s"ivfPqIndexHealth expects 1..$maxQueries held-out query rows")
    // with foreign-codebook rows present, serving raises the named
    // guard error by design — the recall sample is skipped (reported
    // as 0 / not ok) so the health report itself stays readable and
    // the `foreign_codes_detected` verdict points at the real problem
    var hits = 0L
    if (nForeign == 0L) {
      // ONE corpus scan for ALL ground truths: the per-query form ran
      // topKBruteForce once per row — |queries| full corpus scans, the
      // dominant health cost at scale (the index serves are
      // cell-pruned; the brute sides were not). topKBruteForceMany
      // broadcasts the whole KB-scale query relation into a single
      // corpus pass and its rank filter plans as the map-side
      // WindowGroupLimit (the pinned q74/q88 shape), so the shuffle
      // carries ≤ partitions × |queries| × k rows, never the scored
      // corpus. Rows are keyed by a synthetic per-row index so
      // duplicate query ids keep the loop's independent-row semantics,
      // and the identical (cosine DESC, id) tie order keeps the top-k
      // sets bit-identical to the per-query form.
      val qSchema = org.apache.spark.sql.types.StructType(
        queries.schema.fields :+ org.apache.spark.sql.types.StructField(
          "__hq", org.apache.spark.sql.types.IntegerType, nullable = false))
      val qAll = spark.createDataFrame(
        java.util.Arrays.asList(qRows.zipWithIndex.map { case (r, i) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }: _*), qSchema)
      val bruteByQ = topKBruteForceMany(current, idCol, vecCol,
        qAll, "__hq", k)
        .select(col("qid"), col("id")).collect()
        .groupBy(_.getInt(0))
        .map { case (qi, rs) => qi -> rs.map(_.getLong(1)).toSet }
      // ...and ONE union-of-probed-cells scan for all the served sides
      // (topKIvfPqManyFromIndex — per-query bit-identical to the
      // single-query serve, so recall_pct is unchanged by batching)
      val servedByQ = topKIvfPqManyFromIndex(spark, path, qAll, "__hq",
        vecCol, k, codebook, nProbe)
        .select(col("qid"), col("id")).collect()
        .groupBy(_.getLong(0))
        .map { case (qi, rs) => qi -> rs.map(_.getLong(1)).toSet }
      qRows.indices.foreach { i =>
        hits += servedByQ.getOrElse(i.toLong, Set.empty[Long])
          .intersect(bruteByQ.getOrElse(i, Set.empty)).size.toLong
      }
    }
    val recallPct =
      if (nForeign > 0L) 0L else hits * 100L / (k.toLong * qRows.length)
    // reader-visible file census — the per-serve open-cost driver the
    // compaction exists to bound, previously reported only by the
    // MinHash family's health. Reads the install-time count from the
    // fold manifest + lists only unfolded day-sized deltas
    // (IndexStore.liveComponentFiles) — flat in corpus size.
    val nFiles = IndexStore.liveComponentFiles(spark, path, "codes", pin)
    // cell-geometry re-anchor, the text family's suggested_*_buckets
    // applied to IVF: serve reads ~corpus×nProbe/nCells rows through
    // ADC, so a geometry sized at build time degrades linearly as the
    // corpus grows — the re-anchor EXISTS (rebuild with explicit
    // nCells) but nothing monitored when to pull it. The suggestion is
    // the classical √N rule (next pow2, clamped to [16, 65536] — the
    // centroid relation is driver-collected and must stay KB-scale),
    // recommended only in the GROWTH direction: shrinking cells is a
    // file-count nicety, growing them is what keeps probed-row counts
    // bounded.
    val suggested = suggestedCells(nBase + nDelta)
    // the serve-shape observables, folded into the report (round 14):
    // what this JVM's batched serves actually did to THIS index's
    // partition pruning. The latch alone required polling between
    // calls and lost shapes under concurrency; the bounded per-path
    // history makes a saturating batch visible in the same daily row
    // that carries the remediation (suggested_n_cells).
    val shapes = serveShapesFor(path)
    val maxServeCoverage =
      if (shapes.isEmpty) 0L else shapes.map(_.cellCoveragePct).max
    Seq((nBase, nDelta, deltaPct, deltaPct > maxDeltaPct,
      errBase / nVecBase, errCur / nVecCur, drift,
      recallPct, nForeign == 0L && recallPct >= recallFloorPct,
      nForeign, nForeign > 0L,
      nFiles, nFiles > maxFilesPerComponent.toLong,
      nCellsLive, suggested, suggested > nCellsLive, appliedMod,
      shapes.length.toLong, maxServeCoverage,
      shapes.exists(_.cellCoveragePct >= ServeSaturationPct)))
      .toDF("n_base_codes", "n_delta_codes", "delta_pct",
        "needs_compaction", "mean_quant_err_base", "mean_quant_err_current",
        "quant_drift_detected", "recall_pct", "recall_ok",
        "n_foreign_codebook_rows", "foreign_codes_detected",
        "n_files", "fragmented",
        "n_cells", "suggested_n_cells", "cell_resize_recommended",
        "quant_err_sample_mod",
        "serves_observed", "serve_max_cell_coverage_pct",
        "serve_saturation_observed")
  }

  /** Rows of `current` whose xxhash64(`sampleCol`) lands in the 1-in-m
    * sample — split out so the plan is pin-able: with `sampleCol` a
    * partition column of `current` the predicate is a PartitionFilter
    * (file-level pruning — the health job's scan I/O bound); with a
    * data column it is a row-level filter (CPU bound only). */
  private[graft] def quantErrSampleRelation(current: DataFrame,
                                            sampleCol: String,
                                            m: Long): DataFrame =
    current.filter(pmod(xxhash64(col(sampleCol)), lit(m)) === lit(0L))

  /** Floor on the quant-err sample row count the drift verdict may
    * rest on — below it [[ivfPqIndexHealth]] recomputes exact. */
  private[graft] val MinQuantErrSample = 4096L

  /** Ceiling on the centroid relation a serve may collect: cell
    * selection is driver-side (|q| × nCells integer dots over the
    * collected KB-scale centroid table — [[topKIvfPqFromIndex]] /
    * [[topKIvfPqManyFromIndex]]), which is exactly right at the
    * 10^4-10^5 cells the √N rule produces for any corpus this engine
    * targets, and a driver bottleneck past it. Matches
    * [[suggestedCells]]'s clamp, so a health-suggested geometry can
    * never recommend an unservable index. Remediation past the
    * ceiling: a coarse quantizer over the centroids (select candidate
    * cell GROUPS driver-side, refine distributed) or hierarchical
    * cells — SURVEY §8's sizing rule. */
  private[graft] val MaxDriverCells = 65536
  private def requireDriverCells(n: Int, path: String): Unit =
    require(n <= MaxDriverCells,
      s"index at $path has $n cells — cell selection collects the " +
        s"centroid relation to the driver and is sized for <= " +
        s"$MaxDriverCells cells (the suggestedCells clamp); past it, " +
        "serve via a coarse quantizer / hierarchical cells instead of " +
        "growing the flat cell count")

  /** UNclamped-ish IVF cell suggestion for an N-vector corpus: next
    * power of two of √N (the classical IVF sizing rule — balances the
    * nCells cell-selection dots against the corpus/nCells probed rows
    * per cell), floored at 16 and capped at 65536 because the centroid
    * relation is driver-collected and broadcast (it must stay
    * KB-scale). Surfaced by [[ivfPqIndexHealth]] as
    * `suggested_n_cells` so the drift loop that already triggers
    * rebuilds can re-anchor the geometry explicitly
    * ([[rebuildIvfPqIndex]]'s `nCells`). IEEE sqrt is exactly rounded,
    * so the suggestion is deterministic across JVMs. */
  private[graft] def suggestedCells(nVectors: Long): Long = {
    val s = math.max(1L, math.sqrt(math.max(0L, nVectors).toDouble).toLong)
    val p2 = java.lang.Long.highestOneBit(math.max(2 * s - 1, 1L))
    math.min(65536L, math.max(16L, p2))
  }

  /** Incremental index maintenance, per-row form: cell assignment as a
    * PURE LITERAL EXPRESSION over the collected centroid table (nCells
    * rows — the same KB-scale relation serving collects). This is the
    * STREAM-SAFE face: a streaming micro-batch cannot run the build's
    * groupBy/max_by assignment (stateful aggregation wants a
    * watermark), but a greatest()-over-struct-literals projection is
    * stateless and codegen'd. Tie-break (score desc, cell asc) matches
    * the relational max_by struct exactly — the two faces are
    * bit-equal (pinned by the q322 verdict differential). */
  def encodeForIndex(df: DataFrame, idCol: String, vecCol: String,
                     centroids: Array[(Long, Array[Long], Double)],
                     codebook: Array[Array[Array[Long]]]): DataFrame = {
    require(centroids.nonEmpty, "encodeForIndex needs the index centroids")
    val qv = quantize(col(vecCol))
    val scored = centroids.toSeq.map { case (cell, cv, cnorm) =>
      struct((qdot(qv, lit(cv)).cast("double") / cnorm).as("s"),
        lit(-cell).as("tb"), lit(cell).as("cell"))
    }
    val best =
      if (scored.size == 1) scored.head
      else greatest(scored: _*) // struct order = (score, -cell) lexicographic
    df.select(col(idCol).as("id"),
        best.getField("cell").as("cell"),
        graft.functions.PqExpressions.encode(qv, codebook).as("pq_code"),
        lit(codebookFp(codebook)).as("cb_fp"))
  }

  /** ADC over a code relation for an already-collected query vector —
    * shared serving tail of the PQ paths. */
  private def topKPqAdcFromCodesPrecollected(
      codes: DataFrame, qv: Array[Long], k: Int,
      codebook: Array[Array[Array[Long]]]): DataFrame = {
    val nSub = codebook.length
    val nCodes = codebook(0).length
    val sub = codebook(0)(0).length
    require(qv.length >= nSub * sub,
      s"query vector has ${qv.length} elements, codebook expects ${nSub * sub}")
    val tables: Array[Array[Long]] = Array.tabulate(nSub) { s =>
      Array.tabulate(nCodes) { j =>
        var d = 0L
        var i = 0
        while (i < sub) {
          val x = qv(s * sub + i) - codebook(s)(j)(i)
          d += x * x
          i += 1
        }
        d
      }
    }
    val adc = (0 until nSub).map(s =>
      element_at(lit(tables(s)),
        element_at(col("pq_code"), s + 1).cast("int") + 1)).reduce(_ + _)
    codes.select(col("id"), adc.as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("id"))
      .limit(k)
  }

  /** Batch PQ ADC top-k: ONE stored-code scan serves many queries.
    * The query batch is collected (serving requests live on the driver
    * by definition; `maxQueries` guards against a corpus being passed
    * by mistake), per-query distance tables are built in plain Scala,
    * and the (qid, tables) relation broadcasts against the code scan —
    * per (code, query) work is nSub lookups, then one shuffle on the
    * query key for the per-qid window top-k (same final shape as
    * topKBruteForceMany). Completes the ladder: brute/LSH/PQ each have
    * single-query and batch serving. */
  def topKPqAdcManyFromCodes(codes: DataFrame, queries: DataFrame,
                             idCol: String, vecCol: String, k: Int,
                             codebook: Array[Array[Array[Long]]],
                             maxQueries: Int = 10000): DataFrame = {
    val nSub = codebook.length
    val nCodes = codebook(0).length
    val sub = codebook(0)(0).length
    val qRows = withQv(queries, idCol, vecCol, "qid")
      .select(col("qid").cast("long"), col("qv"))
      .limit(maxQueries + 1).collect()
    require(qRows.nonEmpty, "topKPqAdcManyFromCodes: empty query batch")
    require(qRows.length <= maxQueries,
      s"query batch exceeds maxQueries=$maxQueries — this API is for serving " +
        "request batches, not corpus-vs-corpus scoring")
    val tableRows = qRows.map { r =>
      val qv = r.getSeq[Long](1).toArray
      require(qv.length >= nSub * sub,
        s"query vector has ${qv.length} elements, codebook expects ${nSub * sub}")
      val t = Array.tabulate(nSub) { s =>
        Array.tabulate(nCodes) { j =>
          var d = 0L
          var i = 0
          while (i < sub) {
            val x = qv(s * sub + i) - codebook(s)(j)(i)
            d += x * x
            i += 1
          }
          d
        }.toSeq
      }.toSeq
      (r.getLong(0), t)
    }.toSeq
    import codes.sparkSession.implicits._
    val qt = tableRows.toDF("qid", "t")
    val adc = (0 until nSub).map(s =>
      element_at(element_at(col("t"), s + 1),
        element_at(col("pq_code"), s + 1).cast("int") + 1)).reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adc_dist").asc, col("id"))
    codes.crossJoin(broadcast(qt))
      .select(col("qid"), col("id"), adc.as("adc_dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
  }

  /** All near-duplicate pairs by EXACT all-pairs cosine — the O(n²)
    * exactness baseline for cosineNearDupPairs (same role
    * topKBruteForce plays for the ANN variants). Use only on bounded
    * slices; the LSH variant is the scale path. */
  def nearDupPairsBruteForce(corpus: DataFrame, idCol: String, vecCol: String,
                             threshold: Double): DataFrame = {
    val c = withQv(corpus, idCol, vecCol)
    c.as("x")
      .join(c.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        (qdot(col("x.qv"), col("y.qv")).cast("double")
          / (col("x.qnorm") * col("y.qnorm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  def cosineNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, nBits: Int = 32, bands: Int = 4,
                         dim: Int = 64): DataFrame = {
    // quantize+norm is one projection pass — recompute beats a cache
    // boundary (see Dedup's measured-persistence note)
    val c = withQv(corpus, idCol, vecCol)
    val b = banded(c, nBits, bands, dim).select("id", "band", "bh")
    val cand = b.as("x")
      .join(b.as("y").hint("shuffle_hash"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
          && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(c.select(col("id").as("id_a"), col("qv").as("qv_a"), col("qnorm").as("na")), Seq("id_a"))
      .join(c.select(col("id").as("id_b"), col("qv").as("qv_b"), col("qnorm").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (qdot(col("qv_a"), col("qv_b")).cast("double")
          / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): embeddings are bucketed into
    * coarse IVF cells, cosine near-dup pairs are enumerated WITHIN each
    * cell only, and pair components reduce to keep-min-id verdicts —
    * the embedding analog of [[Dedup.dedupVerdicts]] over
    * [[cosineNearDupPairs]], trading LSH banding for cluster locality
    * (the published SemDeDup shape; a near-dup pair straddling a cell
    * boundary is missed, exactly as an LSH pair missing every band is).
    *
    * Scale shape: cell assignment is the [[topKIvf]] structure (one
    * broadcast crossJoin against nCells centroid rows + one max_by
    * aggregate); the pair join is cell-local (shuffled-hash on cell,
    * id<id — both sides identical, a sort buys nothing) over quantized
    * vectors, so the pairwise work is bounded by Σ cell² ≈ n²/nCells,
    * tuned by nCells, never corpus × corpus; components/verdicts reuse
    * the shared min-label contraction. Returns (id, component,
    * is_survivor) for EVERY input id, singletons included. */
  def semanticDedupVerdicts(corpus: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, nCells: Int = 16): DataFrame = {
    val c = withQv(corpus, idCol, vecCol)
    val (_, assigned) = ivfAssignment(c, nCells)
    val x = assigned.select(col("id"), col("cell"), col("qv"), col("qnorm"))
    val pairs = x.as("x")
      .join(x.as("y").hint("shuffle_hash"),
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        (qdot(col("x.qv"), col("y.qv")).cast("double")
          / (col("x.qnorm") * col("y.qnorm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b")
    Dedup.dedupVerdicts(corpus, idCol, pairs)
  }

  /** Incremental (daily-ingest) semantic near-dup: every (new, corpus)
    * embedding pair with cosine >= threshold — the embedding analog of
    * [[Dedup.crossCorpusNearDupPairs]], and the batch step of an
    * incremental SemDeDup: only NEW×corpus pairs are ever enumerated,
    * never corpus×corpus (which [[semanticDedupVerdicts]] already
    * covers as the backfill).
    *
    * Cells derive from the CORPUS side only, so a vector's cell is
    * stable as batches arrive; both sides assign against the same
    * broadcast centroids and meet in a cell-local join whose pairwise
    * work is |new|·|corpus|/nCells expected — with a daily-batch-sized
    * `newDf` the join input is batch-bounded per cell. A pair whose two
    * sides straddle a cell boundary is missed, exactly as in
    * [[semanticDedupVerdicts]].
    *
    * Returns (id_new, id_corpus, cosine). */
  def crossCorpusEmbeddingNearDup(newDf: DataFrame, corpusDf: DataFrame,
                                  idCol: String, vecCol: String,
                                  threshold: Double, nCells: Int = 16): DataFrame = {
    val c = withQv(corpusDf, idCol, vecCol)
    val (centroids, assignedCorpus) = ivfAssignment(c, nCells)
    val n = withQv(newDf, idCol, vecCol)
    val assignedNew = n.crossJoin(broadcast(centroids))
      .groupBy(col("id"))
      .agg(
        max_by(col("cell"),
          struct((qdot(col("qv"), col("cv")).cast("double") / col("cnorm")).as("s"),
            (-col("cell")).as("tb"))).as("cell"),
        first(col("qv")).as("qv"), first(col("qnorm")).as("qnorm"))
    assignedNew.as("x")
      .join(assignedCorpus.as("y").hint("shuffle_hash"),
        col("x.cell") === col("y.cell"))
      .select(col("x.id").as("id_new"), col("y.id").as("id_corpus"),
        (qdot(col("x.qv"), col("y.qv")).cast("double")
          / (col("x.qnorm") * col("y.qnorm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Per-label centroid dispersion + outlier verdicts — the
    * embedding-space MISLABEL detector a curation pipeline runs before
    * trusting labels: each vector's L2 distance to its own label's
    * centroid, flagged when it sits more than 3σ above the label's
    * mean distance.
    *
    * Exactness: with quantized vectors, n²·dist² = Σ_i (n·x_i − s_i)²
    * is an EXACT integer (s_i the label's per-dim sum, n its count) —
    * the centroid itself (s/n) is never materialized as a float. The
    * only float steps are one sqrt + one divide of exact operands
    * (IEEE-unique), floored to micro-units. The 3σ verdict is the
    * all-integer z² compare (q115's technique): d·n > S and
    * (d·n − S)² > zSq·(n·Q − S²) with S = Σd, Q = Σd² — no float
    * boundary to flip across engines. DECIMAL(38,0) operands keep the
    * squares exact far past BIGINT range (DuckDB mirrors via HUGEINT).
    *
    * Scale shape: one posexplode + one (label, dim)-keyed aggregate —
    * the centroid-sum relation is |labels|·dim rows, broadcast back
    * onto the exploded relation — then one id-keyed aggregate and one
    * |labels|-row stats broadcast. Nothing vector×vector, no windows,
    * no driver collects. */
  def labelCentroidDispersion(df: DataFrame, idCol: String, vecCol: String,
                              labelCol: String, zSq: Int = 9): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(38, 0)
    val dims = df
      .select(col(idCol).as("id"), col(labelCol).as("label"),
        posexplode(quantize(col(vecCol))).as(Seq("__i", "__x")))
    val cent = dims.groupBy("label", "__i")
      .agg(sum("__x").as("__s"), count(lit(1)).as("__n"))
    val dist = dims.join(broadcast(cent), Seq("label", "__i"))
      .select(col("id"), col("label"), col("__n"),
        (col("__n").cast(D) * col("__x") - col("__s")).as("__e"))
      .groupBy("id", "label")
      .agg(first("__n").as("__n"),
        sum(col("__e") * col("__e")).cast(D).as("__dd"))
      .select(col("id"), col("label"),
        floor(sqrt(col("__dd").cast("double")) / col("__n").cast("double")
          + 0.5).cast("long").as("dist_micro"))
    val stats = dist.groupBy("label").agg(
      count(lit(1)).cast(D).as("__nl"),
      sum("dist_micro").cast(D).as("__sd"),
      sum(col("dist_micro") * col("dist_micro")).cast(D).as("__qd"))
    dist.join(broadcast(stats), Seq("label"))
      .select(col("id"), col("label"), col("dist_micro"),
        (col("dist_micro") * col("__nl") > col("__sd")
          && (col("dist_micro") * col("__nl") - col("__sd"))
             * (col("dist_micro") * col("__nl") - col("__sd"))
             > lit(zSq) * (col("__nl") * col("__qd") - col("__sd") * col("__sd")))
          .as("is_outlier"))
  }

  /** Deterministic DBSCAN over embedding cosine similarity. A point is
    * `core` when its ε-neighborhood (cosine ≥ threshold, counting
    * itself) has ≥ minPts members; clusters are the connected
    * components of the core-core ε-graph, labeled by their minimum id;
    * a non-core point with a core neighbor is `border`, assigned to the
    * MINIMUM cluster rep among its core neighbors (classic DBSCAN
    * leaves border assignment visit-order-dependent — the min rule
    * makes it a pure function of the data); everything else is `noise`
    * (cluster_rep NULL).
    *
    * Pair generation here is the exact brute-force path (the caller
    * bounds the slice); at corpus scale swap in [[cosineNearDupPairs]]
    * — every downstream step is pair-list-driven and unchanged. The
    * component step is the O(log diameter) min-label contraction of
    * [[Dedup.connectedComponents]]; nothing is ever keyed doc×doc
    * beyond the ε-pair relation itself. */
  def densityClusters(corpus: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, minPts: Int): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val pairs = nearDupPairsBruteForce(corpus, idCol, vecCol, threshold)
      .select("id_a", "id_b").persist(lvl)
    val sym = pairs.select(col("id_a").as("id"), col("id_b").as("nb"))
      .union(pairs.select(col("id_b").as("id"), col("id_a").as("nb")))
    val cores = sym.groupBy("id").agg((count(lit(1)) + 1L).as("__k"))
      .filter(col("__k") >= minPts).select("id").persist(lvl)
    val coreEdges = pairs
      .join(cores.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_semi")
      .join(cores.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_semi")
    // isolated cores (no core-core edge) are singleton clusters: the
    // component mapping only covers edge endpoints, so coalesce to self
    val coreRep = cores
      .join(Dedup.connectedComponents(coreEdges), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("rep"))
      .persist(lvl)
    val border = sym
      .join(cores, Seq("id"), "left_anti")
      .join(coreRep.withColumnRenamed("id", "nb"), Seq("nb"))
      .groupBy("id").agg(min(col("rep")).as("rep"))
    val labeled = coreRep.select(col("id"), lit("core").as("role"), col("rep"))
      .union(border.select(col("id"), lit("border").as("role"), col("rep")))
    corpus.select(col(idCol).as("id"))
      .join(labeled, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("role"), lit("noise")).as("role"),
        col("rep").as("cluster_rep"))
  }

  /** Nearest-centroid (Rocchio) classification accuracy over labeled
    * embeddings, ENTIRELY in exact integer arithmetic: centroids are
    * elementwise truncating-division means of the quantized vectors
    * (Spark DIV and DuckDB // both truncate toward zero, so the plain
    * integer division is engine-portable for signed sums), distances are exact integer squared-euclidean sums, and ties
    * break to the smallest label. Reports per-true-label accuracy —
    * the label-quality signal for a curated embedding set.
    *
    * Integer headroom: per-dim diff ≲ 2·max|x|·1e6; the squared sum
    * fits BIGINT through dim·(2·max|x|·1e6)² < 9.2e18 — unit-scale
    * embeddings to dim ~1e4.
    *
    * Scale shape: one posexplode + hash aggregate to the (labels ×
    * dim)-sized centroid relation (collected to LABELS rows, broadcast
    * back); assignment is a corpus × labels broadcast cross join with
    * a codegen'd zip_with/aggregate distance — one scan, one argmin
    * aggregate, one accuracy aggregate. Never a corpus self-join. */
  /** Sampled silhouette score per label over quantized embeddings —
    * the cluster-quality audit next to [[nearestCentroid]] and
    * densityClusters. For each sampled query point: a = mean distance
    * to its own label, b = min over other labels of the mean distance;
    * s = (b − a)/max(a, b). Distances are e0-floored integer
    * euclidean (one IEEE sqrt per pair feeding a floor — exact
    * integers from there), means are truncating integer divisions
    * (identical on both engines for signed operands), and the final
    * ratio is one exact integer division per point, averaged as exact
    * integers per label. The sample is the `maxSample` rows of smallest
    * md5('s1' || id) rank (ties by id) — deterministic, engine-portable
    * (ORDER BY md5 || LIMIT on both engines), and COUNT-bounded: the
    * broadcast side is ≤ maxSample rows at ANY corpus size (a modulus
    * sample would grow with the corpus and eventually not broadcast).
    *
    * Scale shape: sample × corpus — LINEAR in the corpus for a fixed
    * sample, never corpus². The sample itself is a TakeOrderedAndProject
    * (per-partition top-N merge, no global sort), then one broadcast
    * join (the sample side is a fixed ≤ maxSample rows), one
    * (point, label) aggregate, one argmin/accuracy reduction. */
  /** Lloyd k-means over quantized embeddings with EXACT integer state,
    * the clustering face of semantic data mixing (cluster the corpus,
    * then balance the sample across clusters — q310/q311). Every step
    * is engine-portable so a SQL engine can replay the recurrence
    * bit-for-bit: seeds are the k smallest md5(salt || id) ranks (same
    * hex on any engine), assignment is exact squared-L2 through the
    * codegen'd ArrayL2Long with a lexicographic (dist, cluster) struct
    * min for ties, and the centroid update is the truncating integer
    * mean (Spark `div` == DuckDB `//`, both toward zero).
    *
    * Scale shape per round: the k centroids BROADCAST into the scored
    * aggregate (one shuffle on id); the centroid rebuild is posexplode
    * → hash agg on (cluster, pos) — a k·dim-sized relation. The corpus
    * is never collected and never self-joined; rounds grow the plan
    * linearly, each persisted implicitly by the next round's reuse of
    * the same lineage (cheap at the fixed small `rounds` this serves).
    * Returns (id, qv, cluster, dist) for the LAST assignment round.
    *
    * reference: clustering-based corpus curation sits upstream of the
    * reference's ETL surface (airflow/dags, README.md:1); this is that
    * operator, Spark-first. */
  def kmeansAssign(corpus: DataFrame, idCol: String, vecCol: String,
                   k: Int, rounds: Int, seedSalt: String = "km"): DataFrame = {
    require(rounds >= 1, "kmeansAssign needs at least one assignment round")
    val v = corpus.select(col(idCol).cast("long").as("id"),
      quantize(col(vecCol)).as("qv"))
    // k smallest hash ranks plan as TakeOrderedAndProject; the
    // row_number window then orders only those k rows.
    val wSeed = org.apache.spark.sql.expressions.Window
      .orderBy(col("__h"), col("id"))
    var centroids = v
      .withColumn("__h",
        md5(concat(lit(seedSalt), col("id").cast("string")).cast("binary")))
      .orderBy(col("__h"), col("id")).limit(k)
      .withColumn("cluster", (row_number().over(wSeed) - 1).cast("long"))
      .select(col("cluster"), col("qv").as("cv"))
    var assigned: DataFrame = null
    for (r <- 1 to rounds) {
      assigned = v.crossJoin(broadcast(centroids))
        .groupBy(col("id"))
        .agg(min(struct(
          graft.functions.ArrayL2Long(col("qv"), col("cv")).as("dist"),
          col("cluster").as("cluster"))).as("m"),
          first(col("qv")).as("qv"))
        .select(col("id"), col("qv"), col("m.cluster").as("cluster"),
          col("m.dist").as("dist"))
      if (r < rounds)
        centroids = assigned
          .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "x")))
          .groupBy("cluster", "pos")
          .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
          .withColumn("cval", expr("s div n"))
          .groupBy("cluster")
          .agg(transform(
            array_sort(collect_list(struct(col("pos"), col("cval")))),
            s => s("cval")).as("cv"))
    }
    assigned
  }

  /** Count-bounded deterministic sample: the `n` rows of smallest
    * md5('s1' || __id) rank, ties by __id — the hashSplit md5 argument
    * (reproducible on any engine or cluster), planned as
    * TakeOrderedAndProject so no global sort ever materializes. Oracle
    * twin: `ORDER BY md5('s1' || CAST(id AS VARCHAR)), id LIMIT n`. */
  private def hashSample(base: DataFrame, n: Int): DataFrame =
    base.orderBy(
      md5(concat(lit("s1"), col("__id").cast("string")).cast("binary")),
      col("__id")).limit(n)

  def silhouetteSampled(corpus: DataFrame, idCol: String, vecCol: String,
                        labelCol: String, maxSample: Int = 200): DataFrame = {
    val base = corpus.select(col(idCol).as("__id"), col(labelCol).as("__label"),
      quantize(col(vecCol)).as("qv"))
    val sample = hashSample(base, maxSample)
      .select(col("__id").as("__qid"), col("__label").as("__qlabel"),
        col("qv").as("__qqv"))
    val dists = base.crossJoin(broadcast(sample))
      .filter(col("__id") =!= col("__qid"))
      .select(col("__qid"), col("__qlabel"), col("__label"),
        floor(sqrt(graft.functions.ArrayL2Long(col("qv"), col("__qqv"))
          .cast("double"))).cast("long").as("__d"))
    val byLabel = dists.groupBy("__qid", "__qlabel", "__label")
      .agg(expr("sum(__d) DIV count(*)").as("__mean_d"))
    val s = byLabel
      .groupBy(col("__qid"), col("__qlabel"))
      .agg(
        min(when(col("__label") === col("__qlabel"), col("__mean_d"))).as("__a"),
        min(when(col("__label") =!= col("__qlabel"), col("__mean_d"))).as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .select(col("__qlabel"),
        // integer division truncates toward zero on BOTH engines
        // (Spark DIV and DuckDB // agree: -7/2 = -3), so the plain
        // form is already engine-portable for signed operands
        expr("""CASE WHEN greatest(__a, __b) = 0 THEN 0L
                     ELSE (__b - __a) * 1000000 DIV greatest(__a, __b)
                END""").as("__s_e6"))
    s.groupBy(col("__qlabel").as(labelCol))
      .agg(count(lit(1)).as("n_sampled"),
        expr("sum(__s_e6) DIV count(*)").as("silhouette_e6"))
  }

  /** kNN label-agreement audit over quantized embeddings: for each
    * deterministically sampled point, the fraction of its k exact
    * nearest neighbors (squared-euclidean, ties by id) sharing its
    * label — the per-label noise signal cleanlab-style label QA is
    * built on. All arithmetic is exact integers; the only ordering is
    * the per-query top-k (WindowGroupLimit prunes it map-side). The
    * sample is the `maxSample` smallest md5('s1' || id) ranks (see
    * [[silhouetteSampled]]) — the broadcast side is COUNT-bounded at
    * ≤ maxSample rows for any corpus.
    *
    * Scale shape: sample × corpus (linear for a fixed sample) through
    * one broadcast join against a TakeOrderedAndProject-built sample,
    * a rank-limit window partitioned by query point, one agreement
    * aggregate. */
  def knnLabelAgreement(corpus: DataFrame, idCol: String, vecCol: String,
                        labelCol: String, k: Int = 10,
                        maxSample: Int = 200): DataFrame = {
    val base = corpus.select(col(idCol).as("__id"), col(labelCol).as("__label"),
      quantize(col(vecCol)).as("qv"))
    val sample = hashSample(base, maxSample)
      .select(col("__id").as("__qid"), col("__label").as("__qlabel"),
        col("qv").as("__qqv"))
    val byQ = org.apache.spark.sql.expressions.Window.partitionBy("__qid")
      .orderBy(col("__d2").asc, col("__id").asc)
    base.crossJoin(broadcast(sample))
      .filter(col("__id") =!= col("__qid"))
      .select(col("__qid"), col("__qlabel"), col("__label"), col("__id"),
        graft.functions.ArrayL2Long(col("qv"), col("__qqv")).as("__d2"))
      .withColumn("__rn", row_number().over(byQ))
      .filter(col("__rn") <= k)
      .groupBy(col("__qid"), col("__qlabel"))
      .agg(sum(when(col("__label") === col("__qlabel"), 1L).otherwise(0L))
        .as("__match"))
      .groupBy(col("__qlabel").as(labelCol))
      .agg(count(lit(1)).as("n_sampled"), sum("__match").as("n_matches"))
      .select(col(labelCol), col("n_sampled"), col("n_matches"),
        expr(s"n_matches * 1000000L DIV (n_sampled * $k)")
          .as("knn_agreement_e6"))
  }

  def nearestCentroid(corpus: DataFrame, idCol: String, vecCol: String,
                      labelCol: String): DataFrame = {
    val q = corpus.select(col(idCol).as("__id"), col(labelCol).as("__label"),
      quantize(col(vecCol)).as("qv"))
    val cen = q
      .select(col("__label").as("__clabel"), posexplode(col("qv")).as(Seq("__pos", "__v")))
      .groupBy("__clabel", "__pos")
      .agg(sum("__v").as("__s"), count(lit(1)).as("__n"))
      .select(col("__clabel"), col("__pos"),
        // Spark DIV and DuckDB // both truncate toward zero — plain
        // integer division is engine-portable for signed sums
        expr("__s DIV __n").as("__c"))
      .groupBy("__clabel")
      .agg(expr("transform(sort_array(collect_list(struct(__pos, __c))), e -> e.__c)")
        .as("cv"))
    q.crossJoin(broadcast(cen))
      .select(col("__id"), col("__label"), col("__clabel"),
        graft.functions.ArrayL2Long(col("qv"), col("cv")).as("__d2"))
      .groupBy(col("__id"), col("__label"))
      .agg(min(struct(col("__d2"), col("__clabel"))).as("__m"))
      .select(col("__label"), col("__m.__clabel").as("__pred"))
      .groupBy(col("__label").as(labelCol))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("__pred") === col("__label"), 1L).otherwise(0L)).as("n_correct"))
      .select(col(labelCol), col("n_vectors"), col("n_correct"),
        expr("n_correct * 1000000L DIV n_vectors").as("accuracy_e6"))
  }
}
