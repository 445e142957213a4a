package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.Readers

/** Deduplication operators for a training-data pipeline (SURVEY §7.4):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: nothing here is O(n²) on the full corpus. Candidate
  * generation always goes through an inverted index or LSH banding — an
  * explode + hash-shuffle + bucket self-join, which is the standard
  * linear-ish shape (MMDS ch.3, the public MinHash/LSH construction).
  * Only bucket-mates are pairwise-compared; bucket width is tunable via
  * (numHashes, bands). All hashing uses Spark's codegen'd xxhash64/hash.
  *
  * Join keys are 64-bit shingle hashes, not shingle strings — smaller
  * shuffles and cheaper equality; a hash collision can only merge two
  * distinct shingles (P ~ n²/2^64, negligible). Self-joins carry hints
  * for shuffled-hash join: both sides are the same size, so sort-merge
  * buys nothing and the sort dominates.
  */
object Dedup {

  /** Exact dedup by content fingerprint: keep the lowest id per distinct
    * normalized text. One hash aggregate on the fingerprint. */
  def exactByFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Distinct n-gram shingle HASHES per document, computed without any
    * string allocation: tokens are hashed once, and each shingle's hash
    * is xxhash64 over its n token hashes. Equal to hashing the joined
    * shingle string modulo 64-bit collisions (P ~ n²/2^64) — the string
    * slice+concat variant dominated operator runtime. Two projection
    * stages so the token-hash array is evaluated once, not n times. */
  def shingleHashSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      transform(TextAnalysis.tokens(col(textCol)), tk => xxhash64(tk)).as("th"))
      .select(col("id"),
        array_distinct(transform(
          sequence(lit(0), greatest(size(col("th")) - n, lit(0))),
          i => xxhash64((0 until n).map(j => get(col("th"), i + j)): _*))).as("shash"))

  /** Default per-shingle document-frequency cap: NO cap — exact recall.
    * The default is deliberately exact so the recall trade-off is always
    * an explicit caller decision, never a silent one (a capped default
    * would quietly lose pairs whose shared shingles are all high-df on
    * any corpus larger than the cap).
    *
    * At corpus scale you almost certainly WANT a cap: a stopword shingle
    * ("of the") creates one inverted-index bucket whose m² pair
    * enumeration lands in a handful of tasks — the classic skew
    * quadratic. Pass `maxDocFreq = Dedup.RecommendedMaxDocFreq` (as the
    * registered queries and `Curation.curateCorpus` do) to bound the
    * worst bucket at maxDocFreq² pairs; candidate *verification* stays
    * exact either way (see below). */
  val DefaultMaxDocFreq: Long = Long.MaxValue

  /** The cap production corpora should opt into (bounds any single
    * posting bucket at 10⁶ enumerated pairs). */
  val RecommendedMaxDocFreq: Long = 1000L

  /** Candidate pairs sharing >= 1 shingle whose document frequency is
    * <= `maxDocFreq`, via inverted index (explode -> df-filter -> bucket
    * self-join -> pair distinct). Returns (id_a, id_b) with id_a < id_b.
    *
    * The cap affects RECALL only: a pair is missed iff every shingle it
    * shares is stopword-grade (df > cap) — for near-dup-grade Jaccard
    * that implies the docs are almost entirely made of ultra-common
    * shingles. Overlap counts are NOT computed here, so the cap can
    * never corrupt them. */
  def shingleCandidates(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 2,
                        maxDocFreq: Long = DefaultMaxDocFreq): DataFrame =
    candidatesFromSets(shingleHashSets(df, idCol, textCol, n), maxDocFreq)

  /** Inverted-index candidate generation over (id, shash) sets: explode,
    * drop shingles with document frequency > maxDocFreq, bucket
    * self-join, distinct pairs. */
  private def candidatesFromSets(sh: DataFrame, maxDocFreq: Long): DataFrame = {
    val inv = sh.select(col("id"), explode(col("shash")).as("shash"))
    val filtered =
      if (maxDocFreq == Long.MaxValue) inv
      else {
        val freq = inv.groupBy("shash").agg(count(lit(1)).as("df_"))
          .filter(col("df_") <= maxDocFreq).drop("df_")
        inv.join(freq.hint("shuffle_hash"), Seq("shash"))
      }
    filtered.as("x")
      .join(filtered.as("y").hint("shuffle_hash"),
        col("x.shash") === col("y.shash") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact shingle-overlap counts for candidate pairs: candidates from
    * the df-capped inverted index, then a verify-join back to the FULL
    * shingle sets (array_intersect on 64-bit hashes) — so `common`,
    * `n_a`, `n_b` are exact regardless of the cap, same shape as the
    * MinHash+LSH verify stage. Returns (id_a, id_b, common, n_a, n_b). */
  def shingleOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 2,
                          maxDocFreq: Long = DefaultMaxDocFreq): DataFrame = {
    val sh = shingleHashSets(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = candidatesFromSets(sh, maxDocFreq)
    val sets = sh.select(col("id"), col("shash"))
    cand
      .join(sets.select(col("id").as("id_a"), col("shash").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("shash").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("common"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))
  }

  /** N-gram Jaccard near-dup pairs: Jaccard(A,B) = common / (nA+nB-common)
    * >= threshold, evaluated as an exact integer inequality
    * (common * den >= num * (nA+nB-common)) — no float boundary issues.
    * threshold = num/den.
    *
    * Two-phase plan so the cap is both skew-safe AND cheap:
    *  1. overlap counted on the df-capped inverted index via a map-side-
    *     combining groupBy — no shingle arrays ever cross this shuffle.
    *     The capped count undercounts by at most min(dropped_a,
    *     dropped_b) (a shared-but-dropped shingle is dropped in both
    *     docs), so `common_c + least(d_a, d_b)` is a true upper bound
    *     on `common`, and Jaccard is monotone in common — filtering on
    *     the bound keeps every true pair.
    *  2. exact array_intersect verification ONLY for pairs whose upper
    *     bound passes — near-final volume, not candidate volume.
    * With nothing dropped (corpus <= cap) phase 1 is already exact and
    * phase 2 re-verifies just the final pairs. Recall caveat as in
    * shingleCandidates: a pair sharing ONLY stop-grade shingles never
    * becomes a candidate. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 2, num: Long = 1, den: Long = 5,
                        maxDocFreq: Long = DefaultMaxDocFreq): DataFrame =
    thresholdedPairs(df, idCol, textCol, n, maxDocFreq)(
      (c, nA, nB) => c * den >= (nA + nB - c) * num)

  /** N-gram CONTAINMENT near-dup pairs: C(A,B) = common / min(nA,nB)
    * >= threshold — the asymmetric variant of [[ngramJaccardPairs]]
    * that catches quote-inclusion (a short doc embedded verbatim in a
    * long one scores near 1 here but near min/max under Jaccard).
    * Same exact integer inequality (common·den >= min(nA,nB)·num),
    * same two-phase df-capped plan: the upper-bound FILTER keeps every
    * candidate (the bound `common_c + least(d_a, d_b)` is monotone for
    * containment too — the denominator min(nA,nB) is cap-independent).
    * RECALL CAVEAT, same as [[ngramJaccardPairs]]: candidate
    * GENERATION still needs one shared KEPT (df <= maxDocFreq)
    * shingle, so a short doc composed ENTIRELY of stop-grade shingles
    * quoted inside a long one is missed — exactly the case containment
    * targets, so size maxDocFreq relative to the corpus (q276 runs
    * cap-free at oracle scale for this reason). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 2, num: Long = 4, den: Long = 5,
                       maxDocFreq: Long = DefaultMaxDocFreq): DataFrame =
    thresholdedPairs(df, idCol, textCol, n, maxDocFreq)(
      (c, nA, nB) => c * den >= least(nA, nB) * num)

  /** The shared two-phase engine behind the pairwise similarity
    * predicates (see [[ngramJaccardPairs]] for the plan rationale).
    * `pred(common, nA, nB)` must be MONOTONE non-decreasing in
    * `common` — phase 1 evaluates it on a true upper bound of common,
    * phase 2 on the exact value. */
  private def thresholdedPairs(df: DataFrame, idCol: String, textCol: String,
                               n: Int, maxDocFreq: Long)(
      pred: (Column, Column, Column) => Column): DataFrame = {
    val sh = shingleHashSets(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inv = sh.select(col("id"), explode(col("shash")).as("shash"))
    // `kept` is referenced 3x downstream (both self-join sides + the
    // per-doc kept counts) and deliberately NOT persisted: the explode +
    // df-filter recompute from the persisted `sh`, which MEASURED
    // cheaper than caching either the exploded index or the frequency
    // table (an InMemoryTableScan boundary breaks AQE replanning and
    // whole-stage pipelining for a bigger cost than the recompute).
    val kept =
      if (maxDocFreq == Long.MaxValue) inv
      else {
        val freq = inv.groupBy("shash").agg(count(lit(1)).as("df_"))
          .filter(col("df_") <= maxDocFreq).drop("df_")
        inv.join(freq.hint("shuffle_hash"), Seq("shash"))
      }
    val commonC = kept.as("x")
      .join(kept.as("y").hint("shuffle_hash"),
        col("x.shash") === col("y.shash") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("common_c"))
    val keptCnt = kept.groupBy("id").agg(count(lit(1)).as("n_kept"))
    val sizes = sh.select(col("id"), size(col("shash")).cast("long").as("n_sh"))
      .join(keptCnt, Seq("id"), "left")
      .select(col("id"), col("n_sh"),
        (col("n_sh") - coalesce(col("n_kept"), lit(0L))).as("n_drop"))
    val pre = commonC
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a"),
        col("n_drop").as("d_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b"),
        col("n_drop").as("d_b")), Seq("id_b"))
      .withColumn("ub", col("common_c") + least(col("d_a"), col("d_b")))
      .filter(pred(col("ub"), col("n_a"), col("n_b")))
    val sets = sh.select(col("id"), col("shash"))
    pre.select("id_a", "id_b")
      .join(sets.select(col("id").as("id_a"), col("shash").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("shash").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("common"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"))
      .filter(pred(col("common"), col("n_a"), col("n_b")))
  }

  /** Incremental near-dedup: Jaccard pairs between a NEW batch and an
    * EXISTING corpus — the daily-ingest shape (new×old only, never
    * old×old, so a day's work scales with the batch, not the corpus).
    *
    * Same two-phase plan as ngramJaccardPairs, adapted to two sides:
    *  1. overlap counted on the df-capped inverted indexes via a
    *     map-side-combining groupBy — only bare (id_new, id_corpus)
    *     rows cross this shuffle, never shingle arrays at candidate
    *     volume. The df cap is computed over the COMBINED postings
    *     (new ∪ corpus), so a dropped shingle is dropped from BOTH
    *     sides of every pair — the undercount is then bounded by
    *     least(d_new, d_corpus) and `common_c + least(d_n, d_c)` is a
    *     true upper bound on `common`; filtering on the bound keeps
    *     every true pair. (The combined df also caps the NEW side: a
    *     stop-shingle swamping the whole daily batch no longer fans
    *     out |batch| × cap candidate rows.)
    *  2. exact array_intersect verification ONLY for pairs whose upper
    *     bound passes — near-final volume, not candidate volume.
    * Recall caveat as elsewhere: a pair sharing ONLY stop-grade
    * shingles (combined df > cap) never becomes a candidate. Returns
    * (id_new, id_corpus, common, n_new, n_corpus) meeting
    * Jaccard >= num/den. */
  def crossCorpusNearDupPairs(newDf: DataFrame, newIdCol: String, newTextCol: String,
                              corpus: DataFrame, corpIdCol: String, corpTextCol: String,
                              n: Int = 3, num: Long = 1, den: Long = 5,
                              maxDocFreq: Long = DefaultMaxDocFreq): DataFrame = {
    val newSh = shingleHashSets(newDf, newIdCol, newTextCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpSh = shingleHashSets(corpus, corpIdCol, corpTextCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newInv = newSh.select(col("id"), explode(col("shash")).as("shash"))
    val corpInv = corpSh.select(col("id"), explode(col("shash")).as("shash"))
    // `newKept`/`corpKept` recompute from the persisted sh frames on each
    // downstream reference — same measured trade-off as ngramJaccardPairs
    // (a cache boundary costs more than the explode + df-filter).
    val (newKept, corpKept) =
      if (maxDocFreq == Long.MaxValue) (newInv, corpInv)
      else {
        val freq = newInv.union(corpInv)
          .groupBy("shash").agg(count(lit(1)).as("df_"))
          .filter(col("df_") <= maxDocFreq).drop("df_")
        (newInv.join(freq.hint("shuffle_hash"), Seq("shash")),
          corpInv.join(freq.hint("shuffle_hash"), Seq("shash")))
      }
    val commonC = newKept.select(col("id").as("id_new"), col("shash"))
      .join(corpKept.select(col("id").as("id_corpus"), col("shash"))
        .hint("shuffle_hash"), Seq("shash"))
      .groupBy("id_new", "id_corpus")
      .agg(count(lit(1)).as("common_c"))
    def sidesSizes(sh: DataFrame, kept: DataFrame): DataFrame = {
      val keptCnt = kept.groupBy("id").agg(count(lit(1)).as("n_kept"))
      sh.select(col("id"), size(col("shash")).cast("long").as("n_sh"))
        .join(keptCnt, Seq("id"), "left")
        .select(col("id"), col("n_sh"),
          (col("n_sh") - coalesce(col("n_kept"), lit(0L))).as("n_drop"))
    }
    val newSizes = sidesSizes(newSh, newKept)
    val corpSizes = sidesSizes(corpSh, corpKept)
    val pre = commonC
      .join(newSizes.select(col("id").as("id_new"), col("n_sh").as("n_new"),
        col("n_drop").as("d_n")), Seq("id_new"))
      .join(corpSizes.select(col("id").as("id_corpus"), col("n_sh").as("n_corpus"),
        col("n_drop").as("d_c")), Seq("id_corpus"))
      .withColumn("ub", col("common_c") + least(col("d_n"), col("d_c")))
      .filter(col("ub") * den >= (col("n_new") + col("n_corpus") - col("ub")) * num)
    pre.select("id_new", "id_corpus")
      .join(newSh.select(col("id").as("id_new"), col("shash").as("sh_n")), Seq("id_new"))
      .join(corpSh.select(col("id").as("id_corpus"), col("shash").as("sh_c")), Seq("id_corpus"))
      .select(col("id_new"), col("id_corpus"),
        size(array_intersect(col("sh_n"), col("sh_c"))).cast("long").as("common"),
        size(col("sh_n")).cast("long").as("n_new"),
        size(col("sh_c")).cast("long").as("n_corpus"))
      .filter(col("common") * den >= (col("n_new") + col("n_corpus") - col("common")) * num)
  }

  /** MinHash signature from per-shingle 64-bit hashes: the base hash is
    * computed ONCE per shingle (xxhash64 over the string), and the k
    * hash functions re-hash that LONG with k seeds — hashing a fixed
    * 8-byte value is ~10× cheaper than re-hashing the shingle string k
    * times, and stays overflow-free under ANSI mode (a multiply-add
    * permutation family wraps around 2^64, which ANSI rejects). */
  def minhashSignatureFromHashes(shashCol: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(shashCol, h => xxhash64(lit(i), h)))
    }: _*)

  /** MinHash signature from shingle strings (convenience form). */
  def minhashSignature(shinglesCol: Column, k: Int): Column =
    minhashSignatureFromHashes(transform(shinglesCol, sh => xxhash64(sh)), k)

  /** MinHash+LSH near-dup candidate pairs (MMDS banding): signature of
    * `numHashes` minhashes split into `bands` bands of rows each; docs
    * colliding on any band's hash become candidates; candidates are then
    * verified with exact shingle Jaccard >= num/den.
    *
    * Shuffle profile: explode(bands) -> bucket self-join on (band, hash)
    * -> pair dedup -> verify join back to the shingle sets. Bucket sizes
    * are controlled by band width (rows = numHashes/bands): more rows per
    * band = fewer, more-similar candidates. */
  /** Banded LSH bucket rows (id, band, bh) from hashed shingle sets:
    * signature as ONE compiled expression per doc (tight shingle×seed
    * loop, graft.functions.MinHashSig — no row explosion, no k-wide agg
    * buffers, no extra shuffle), then one band-struct explode. Shared
    * by the in-query LSH join and the persisted-index build/probe, so
    * stored and freshly-computed buckets are identical by
    * construction. */
  private[graft] def bandRowsOf(hashed: DataFrame, numHashes: Int,
                                bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sig = hashed.select(col("id"),
      graft.functions.MinHashSig(col("shash"), numHashes).as("sig"))
    sig.select(col("id"),
      explode(bandArray(col("sig"), numHashes, bands)).as("bucket"))
      .select(col("id"), col("bucket.band"), col("bucket.bh"))
  }

  /** Band-struct array over a MinHash signature column — the single
    * expression behind the exploded bucket rows, so stored (batch- or
    * stream-appended) and freshly-computed buckets are identical by
    * construction. */
  private def bandArray(sigCol: Column, numHashes: Int, bands: Int): Column = {
    val rows = numHashes / bands
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        xxhash64((b * rows until (b + 1) * rows)
          .map(i => element_at(sigCol, i + 1)): _*).as("bh"))): _*)
  }

  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 2, numHashes: Int = 32, bands: Int = 8,
                      num: Long = 1, den: Long = 5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // stage 1: hashed shingle sets. PERSISTED: this subtree is referenced
    // 4× downstream (both sides of the band self-join and both verify
    // joins); without materialization the tokenize+shingle+hash work runs
    // 4×. At corpus scale this is the "posting list build" any similarity
    // engine materializes.
    val hashed = shingleHashSets(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // stage 2: banded bucket rows carry only (id, band, bandHash)
    val bandRows = bandRowsOf(hashed, numHashes, bands)
    val cand = bandRows.as("x")
      .join(bandRows.as("y").hint("shuffle_hash"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
          && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // verify candidates only, on hashed-long shingle sets (cheap equality)
    val sets = hashed.select(col("id"), col("shash"))
    cand
      .join(sets.select(col("id").as("id_a"), col("shash").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("shash").as("sh_b")), Seq("id_b"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_a", size(col("sh_a")).cast("long"))
      .withColumn("n_b", size(col("sh_b")).cast("long"))
      .filter(col("common") * den >= (col("n_a") + col("n_b") - col("common")) * num)
      .select("id_a", "id_b", "common", "n_a", "n_b")
  }

  /** Human-readable fingerprint of one (shingle width, hashes, bands,
    * bucket layout) parameter point — the MinHash analog of the IVF-PQ
    * codebook fingerprint. Stamped on every stored shingle/band row
    * (`params_fp` — constant within a write, so parquet dictionary/RLE
    * encoding stores it at near-zero cost) and checked by probes: rows
    * derived under different parameters hash into a DISJOINT bucket
    * space, so mixing them would silently drop candidates — the worst
    * kind of wrong answer. The BUCKET counts are part of the
    * fingerprint because probes PRUNE by stored bucket value
    * ([[probeMinhashIndex]]): a row whose `pb`/`sb` was computed under
    * a different modulus would silently fall outside the pruned scan —
    * the same silent-drop class, so it must fail the same loud way. */
  private[graft] def paramsFp(n: Int, numHashes: Int, bands: Int,
                              bandBuckets: Int, shingleBuckets: Int): String =
    s"n$n-h$numHashes-b$bands-pb$bandBuckets-sb$shingleBuckets"

  /** UNCLAMPED bucket suggestion for ~`rows` rows: next power of two
    * of rows/8192, floored at 8 — the count that keeps rows-per-bucket
    * bounded regardless of corpus size. [[bucketsFor]] clamps it for
    * the default LAYOUT (the 4096 cap bounds directory counts — past
    * ~33M rows the default trades per-bucket growth against a
    * small-file explosion); health reports surface THIS value as
    * `suggested_*_buckets` so the drift loop that already triggers
    * rebuilds can re-anchor B explicitly instead of the trade living
    * only in scaladoc. Past the clamp the probe's second pruning level
    * — the pushed `bh IN (...)` row-group filter — is what keeps
    * per-probe I/O bounded (see [[probeMinhashIndex]]). */
  private[graft] def suggestedBuckets(rows: Long): Long = {
    val raw = math.max(1L, (rows + 8191L) / 8192L)
    math.max(8L, java.lang.Long.highestOneBit(math.max(2 * raw - 1, 1L)))
  }

  /** Bucket count for a component of ~`rows` rows: [[suggestedBuckets]]
    * clamped to [8, 4096]. Buckets grow with the corpus so per-bucket
    * row counts stay bounded — the property that makes a FIXED-size
    * probe's pruned scan approach flat as the corpus grows
    * (see [[probeMinhashIndex]]); the floor keeps tiny indexes from
    * degenerating to one partition, the cap bounds directory counts. */
  private[graft] def bucketsFor(rows: Long): Int =
    math.min(4096L, suggestedBuckets(rows)).toInt

  /** Storage bucket of a band row: `pmod(bh, buckets)` — a partition
    * column of the bands base, a data column of band deltas. The probe
    * collects its batch's values of this EXACT expression and prunes
    * the stored scan with them. */
  private[graft] def bandBucket(bh: Column, buckets: Int): Column =
    pmod(bh, lit(buckets.toLong)).cast("int")

  /** Storage bucket of a shingle row: `pmod(xxhash64(id), buckets)` —
    * the verify-scan sibling of [[bandBucket]], keyed on the doc id so
    * the probe can prune by its candidate set's ids. */
  private[graft] def shingleBucket(id: Column, buckets: Int): Column =
    pmod(xxhash64(id), lit(buckets.toLong)).cast("int")

  /** Bucket-partitioned component write: one shuffle on the bucket
    * column (each bucket lands whole, ~1 file unless rowsPerFile caps
    * it), rows sorted within by `sortCol` for live footer stats. Used
    * by build/rebuild/compaction so the bucket LAYOUT — the probe's
    * pruning contract — survives every maintenance pass. */
  private def writeBucketed(df: DataFrame, dest: String, bucketCol: String,
                            sortCol: String, rowsPerFile: Long): Unit =
    df.repartition(col(bucketCol))
      .sortWithinPartitions(col(bucketCol), col(sortCol))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", rowsPerFile)
      .partitionBy(bucketCol)
      .parquet(dest)

  /** Write one parameter row to the index's meta log. Meta is a LOG
    * (readers take the max-`seq` row), because a parameter REBUILD must
    * flip the current params without a delete+rewrite window a
    * concurrent reader could fall into: appending one new max-seq row
    * is a single atomic file materialization. The BUILD path instead
    * overwrites (seq=0): no reader can be live before the first
    * install, and appending there would let a re-run after an aborted
    * build with different parameters leave two tied seq=0 rows with an
    * arbitrary winner. */
  private def writeMetaParams(spark: org.apache.spark.sql.SparkSession,
                              path: String, n: Int, numHashes: Int,
                              bands: Int, bandBuckets: Int,
                              shingleBuckets: Int, seq: Long,
                              mode: String): Unit = {
    import spark.implicits._
    Seq((n, numHashes, bands, bandBuckets, shingleBuckets, seq))
      .toDF("n", "num_hashes", "bands", "band_buckets", "shingle_buckets",
        "seq")
      .coalesce(1).write.mode(mode).parquet(s"$path/meta")
  }

  /** Route a component's payload column through the params guard: a
    * stored row stamped with different parameters than the index's
    * CURRENT ones raises a named error in the scan (codegen'd
    * `when`/`raise_error` — no extra pass) instead of silently hashing
    * into a disjoint bucket space. Such rows can only come from a
    * writer that committed while a parameter rebuild was installing
    * (quiescence violation) — loud, never silent. */
  private def guardParams(df: DataFrame, payload: String,
                          expectedFp: String, path: String): DataFrame =
    df.withColumn(payload,
      when(col("params_fp") === lit(expectedFp), col(payload))
        .otherwise(raise_error(concat(
          lit(s"foreign-parameter rows in MinHash index at $path: found " +
            "rows derived under params "),
          col("params_fp"),
          lit(s" but the index's current params are $expectedFp — a " +
            "writer committed during a parameter rebuild. The offending " +
            "batch id is already ledgered (a retried append is a replay " +
            "no-op), so the remediation is rebuildMinhashIndex, which " +
            "re-derives the whole id population and folds the foreign " +
            "batch")))))

  /** Persisted MinHash-LSH corpus index (the text analog of the stored
    * IVF-PQ code index): the posting-list build — hashed shingle SETS
    * (`path/shingles`: id, shash, params_fp) and banded signature
    * BUCKETS (`path/bands`: id, band, bh, params_fp) — is written ONCE
    * as an offline artifact. Daily near-dup probing then pays only the
    * NEW batch's tokenize/shingle/minhash cost; the corpus-side build
    * (the dominant cost of [[crossCorpusNearDupPairs]], recomputed
    * there per run) is amortized across every probe. Buckets are
    * produced by the SAME compiled expressions as [[minhashLshPairs]],
    * so stored and fresh signatures are identical by construction
    * (pinned by the q323 verdict differential). */
  def writeMinhashIndex(df: DataFrame, idCol: String, textCol: String,
                        path: String, n: Int = 2, numHashes: Int = 32,
                        bands: Int = 8,
                        bandBuckets: Option[Int] = None,
                        shingleBuckets: Option[Int] = None): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = df.sparkSession
    // the index is SELF-DESCRIBING: shingle width and banding live in
    // `path/meta` and append/probe read them back — probing with
    // different parameters than the build's would silently hash into a
    // disjoint bucket space and return zero pairs, the worst kind of
    // wrong answer
    // create-once: a live version at this path means probes are already
    // serving it — overwriting v=0 underneath a HIGHER live version
    // would be silently ignored by readers (they resolve the max
    // complete version), the worst kind of "rebuild". The gate checks
    // SHINGLES — the component committed LAST, i.e. the overall install
    // point — so a build that crashed between the two fold commits
    // (bands live, shingles incomplete: every probe fails loud on the
    // shingles pin) is detected as half-built and the re-run is allowed
    // to finish installing v=0 instead of being locked out. An
    // in-place refresh of a fully-installed index is
    // [[rebuildMinhashIndex]] (installs as the NEXT version).
    require(IndexStore.liveVersion(spark, path, "shingles").isEmpty,
      s"writeMinhashIndex: an index already exists at $path — " +
        "use rebuildMinhashIndex (or a fresh path) instead of " +
        "overwriting a live one")
    val hashed0 = shingleHashSets(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bucket counts sized to THIS corpus (rows/bucket bounded) unless
    // explicitly overridden, and recorded in the meta — the probe's
    // pruning layout is part of the index's self-description, like the
    // banding itself
    val nDocs = hashed0.count()
    val sbN = shingleBuckets.getOrElse(bucketsFor(nDocs))
    val pbN = bandBuckets.getOrElse(bucketsFor(nDocs * bands))
    require(sbN >= 1 && pbN >= 1, "bucket counts must be >= 1")
    writeMetaParams(spark, path, n, numHashes, bands, pbN, sbN, seq = 0L,
      mode = "overwrite")
    val fp = paramsFp(n, numHashes, bands, pbN, sbN)
    val hashed = hashed0.withColumn("params_fp", lit(fp))
    // versioned bases (IndexStore): v=0 is the build; each component
    // goes live only when its (empty) fold manifest commits. Both are
    // bucket-partitioned (sb = id bucket, pb = band-hash bucket) so
    // probes prune their scans to the buckets the batch can touch.
    writeBucketed(hashed.withColumn("sb", shingleBucket(col("id"), sbN)),
      IndexStore.versionDir(path, "shingles", 0), "sb", "id", 1L << 20)
    writeBucketed(
      bandRowsOf(hashed0, numHashes, bands)
        .withColumn("params_fp", lit(fp))
        .withColumn("pb", bandBucket(col("bh"), pbN)),
      IndexStore.versionDir(path, "bands", 0), "pb", "bh", 1L << 20)
    hashed0.unpersist()
    // bands first, shingles LAST (the create-once gate's component):
    // a crash between the two leaves a recoverable half-install, never
    // a stuck one. Each manifest records its freshly-written dir's
    // file count (parallel listing — IndexStore.countDataFiles) so the
    // health census never re-lists the base.
    def nf(component: String, v: Long): Option[Long] = Some(
      IndexStore.countDataFiles(spark,
        IndexStore.versionDir(path, component, v)))
    IndexStore.commitFolds(spark, path, "bands", 0, Set.empty,
      baseFiles = nf("bands", 0))
    IndexStore.commitFolds(spark, path, "shingles", 0, Set.empty,
      baseFiles = nf("shingles", 0))
  }

  /** (n, numHashes, bands) the index at `path` CURRENTLY uses: the
    * max-`seq` row of the append-only meta log (a parameter rebuild
    * appends the next row — see [[rebuildMinhashIndex]]). */
  def minhashIndexParams(spark: org.apache.spark.sql.SparkSession,
                         path: String): (Int, Int, Int) = {
    val m = metaHead(spark, path)
    (m._1, m._2, m._3)
  }

  /** The index's CURRENT storage-bucket counts (band buckets, shingle
    * buckets) — the probe-pruning layout, read from the same max-seq
    * meta row as the banding parameters. */
  private[graft] def minhashIndexBuckets(spark: org.apache.spark.sql.SparkSession,
                                         path: String): (Int, Int) = {
    val m = metaHead(spark, path)
    (m._4, m._5)
  }

  /** The max-seq meta row in ONE driver read — every per-call accessor
    * routes through this so a probe/append pays a single KB-scale meta
    * job, not one per field group. mergeSchema because a parameter
    * rebuild APPENDS its row: after a rebuild adopts an index whose
    * meta predates the bucket-layout columns, the log holds mixed
    * schemas and a single-footer read could resolve the old one. A
    * max-seq row WITHOUT bucket counts (an index built before the
    * layout, never rebuilt) fails with the named adoption path instead
    * of an unresolved-column error. */
  private def metaHead(spark: org.apache.spark.sql.SparkSession,
                       path: String): (Int, Int, Int, Int, Int) = {
    val df = spark.read.option("mergeSchema", "true").parquet(s"$path/meta")
    def legacy(): Nothing =
      sys.error(s"MinHash index at $path predates the storage-bucket " +
        "layout (meta has no band_buckets/shingle_buckets) — run " +
        "rebuildMinhashIndex once to adopt it (the rebuild rewrites " +
        "both components bucket-partitioned and appends a full meta row)")
    if (!df.columns.contains("band_buckets") ||
        !df.columns.contains("shingle_buckets")) legacy()
    val r = df.orderBy(col("seq").desc)
      .select("n", "num_hashes", "bands", "band_buckets", "shingle_buckets")
      .head()
    if (r.isNullAt(3) || r.isNullAt(4)) legacy()
    (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
  }

  /** Current params fingerprint of the index at `path` (one meta read). */
  private def liveParamsFp(spark: org.apache.spark.sql.SparkSession,
                           path: String): String = {
    val m = metaHead(spark, path)
    paramsFp(m._1, m._2, m._3, m._4, m._5)
  }

  /** Max meta-log seq (driver-side; rows = 1 + parameter rebuilds). */
  private def metaSeq(spark: org.apache.spark.sql.SparkSession,
                      path: String): Long =
    Readers.parquet(spark, s"$path/meta")
      .agg(max(col("seq"))).head().getLong(0)

  /** Daily-ingest face: append a new batch's shingle sets and band
    * buckets into the stored index. Cost is O(|batch|) — the corpus
    * history is never re-read. Shingle width and banding come from the
    * index's own meta, so an append can never hash into a different
    * bucket space than the build.
    *
    * EXACTLY-ONCE under retry/replay (FileLedger pattern, reference
    * snowflake_load.py:108-133): each batch lands as its OWN
    * `batch=<id>` directory under `shingles_delta`/`bands_delta`
    * written with mode=overwrite — a re-run of a half-failed write
    * rewrites the same rows into the same dir instead of appending a
    * second copy — and the batch id is recorded in the index's ledger
    * strictly AFTER both components commit. A replayed append whose id
    * is already ledgered is a no-op, so an at-least-once orchestrator
    * (Pipeline retry, a re-run daily job) can fire this any number of
    * times; duplicated shingle rows would otherwise make
    * [[probeMinhashIndex]] emit the same verified pair per copy.
    * Probes only read delta batches THROUGH the ledger (see
    * [[ledgeredDelta]]), so a crashed write that never retried is
    * invisible rather than half-visible. */
  def appendToMinhashIndex(df: DataFrame, idCol: String, textCol: String,
                           path: String, batchId: String): Unit =
    appendToMinhashIndex(df, idCol, textCol, path, batchId, () => ())

  /** [[appendToMinhashIndex]] with a barrier hook invoked after both
    * component writes commit and before the params re-check + ledger —
    * lets a spec install a parameter rebuild inside the race window
    * deterministically. No-op in production. */
  private[graft] def appendToMinhashIndex(df: DataFrame, idCol: String,
                                          textCol: String, path: String,
                                          batchId: String,
                                          preCommitHook: () => Unit): Unit = {
    val spark = df.sparkSession
    if (IndexStore.batchAlreadyAppended(spark, path, batchId))
      return // replayed batch: already fully appended and ledgered
    val (n, numHashes, bands, pbN, sbN) = metaHead(spark, path)
    val fp = paramsFp(n, numHashes, bands, pbN, sbN)
    // deltas carry the bucket columns as DATA columns (a day-sized dir
    // split into up to 4096 bucket directories would be a small-file
    // explosion per append); the probe's bucket-pruning predicate works
    // either way — PartitionFilter on the base, pushed data filter on
    // the day-sized delta — and compaction folds delta rows into the
    // bucket-partitioned base by these stored values
    val hashed = shingleHashSets(df, idCol, textCol, n)
      .withColumn("params_fp", lit(fp))
      .withColumn("sb", shingleBucket(col("id"), sbN))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hashed.write.mode("overwrite")
      .parquet(s"$path/shingles_delta/batch=$batchId")
    bandRowsOf(hashed, numHashes, bands).withColumn("params_fp", lit(fp))
      .withColumn("pb", bandBucket(col("bh"), pbN))
      .write.mode("overwrite")
      .parquet(s"$path/bands_delta/batch=$batchId")
    hashed.unpersist()
    preCommitHook()
    // params re-check between the writes and the ledger commit: if a
    // parameter rebuild flipped the meta while this append was
    // shingling (the quiescence race), the batch is NOT ledgered — the
    // written dirs stay invisible and a retry re-derives under the new
    // parameters. Mirrors the IVF-PQ append's geometry re-check.
    val liveFp = liveParamsFp(spark, path)
    if (liveFp != fp)
      sys.error(s"parameter rebuild installed during append to MinHash " +
        s"index at $path: batch $batchId was derived under $fp but the " +
        s"index's current params are now $liveFp — the batch was NOT " +
        "ledgered (it stays invisible); retry the append to re-derive " +
        "under the new parameters")
    IndexStore.ledgerBatch(spark, path, batchId)
  }

  /** Full stored relation of a MinHash index component: base(pinned
    * version) ∪ unfolded ledgered batch delta — the single visibility
    * rule every probe, the health report and the compactor share (one
    * IndexStore.Pin per assembly). Streaming maintenance lands as
    * ledgered `batch=stream-<id>` appends, so this covers both faces. */
  private[graft] def storedMinhashComponent(spark: org.apache.spark.sql.SparkSession,
                                            path: String, component: String): DataFrame =
    storedComponent(spark, path, component)

  private def storedComponent(spark: org.apache.spark.sql.SparkSession,
                              path: String, component: String): DataFrame =
    IndexStore.storedComponent(spark, path, component)

  /** Probe a new batch against the stored index: batch×corpus verified
    * near-dup pairs (id_new, id_corpus, common, n_new, n_corpus) with
    * exact Jaccard >= num/den — [[crossCorpusNearDupPairs]] semantics
    * at probe-only cost.
    *
    * Scale shape: the CORPUS relations are only ever scanned map-side —
    * the batch's band rows broadcast into the stored-bucket scan, and
    * the (batch-bounded) candidate set broadcasts into the stored
    * shingle scan — so a probe never shuffles a byte of corpus history.
    * Both corpus-sized BASE scans are additionally BUCKET-PRUNED (the
    * IVF-PQ probe-cell discipline applied to text): the batch's
    * band-hash buckets and the candidate set's id buckets are
    * collected driver-side (each bounded by the stored bucket count)
    * and prune the base scans as PartitionFilters. Pruning is LOSSLESS
    * by construction — a matching stored row shares the batch row's
    * bucket value exactly. The day-sized DELTA stays fully scanned on
    * purpose: foreign-parameter rows can only live in deltas (base
    * versions are written exclusively by the guarded build/rebuild/
    * compaction paths), so the unpruned delta keeps the fail-LOUD
    * guard contract corpus-wide — a quiescence-violating writer's rows
    * still fail every probe by name, never silently fall outside a
    * pruned scan.
    *
    * What pruning buys: with B buckets (meta `band_buckets`, sized at
    * build so rows-per-bucket stays bounded — [[bucketsFor]]), a probe
    * reads ~base × (1 − (1−1/B)^H) where H is the batch's distinct
    * band-hash count. A SINGLE-document probe (H = bands) reads
    * ~bands/B of the corpus — per-bucket-bounded, so near-FLAT as the
    * corpus grows; a batch of ~B/bands docs saturates toward one full
    * scan, which is the same one scan it cost before pruning and the
    * point where [[crossCorpusNearDupPairs]] (shuffle both sides)
    * takes over. The broadcast sides are daily-batch-sized by contract
    * either way.
    *
    * SECOND pruning level — past the [[bucketsFor]] clamp: the default
    * B caps at 4096, so at a true 100 TB corpus rows-per-bucket grows
    * linearly again and partition pruning alone still reads corpus/4096
    * per probe. The bases are written SORTED by their probe key within
    * each bucket partition (bands by `bh`, shingles by `id` —
    * [[writeBucketed]]), so the probe also pushes its collected values
    * as exact `IN (...)` data filters (bounded by
    * [[MaxPushedInValues]]): parquet row-group min/max statistics and
    * page indexes then cut WITHIN the selected buckets, turning
    * per-probe I/O from corpus/B into ~row-groups-touched (~H row
    * groups) — bounded regardless of corpus size. Lossless for the
    * same reason as the partition level: the candidate join equates
    * `bh` exactly, and the verify join equates `id` exactly.
    *
    * Cost note: the two bucket collections are driver round-trips (one
    * batch-sized banding job, one candidate materialization reused by
    * the verify join via the persist) — maintenance-probe latency, not
    * a per-row cost. */
  def probeMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                        path: String, newDocs: DataFrame,
                        idCol: String, textCol: String,
                        num: Long = 1, den: Long = 5): DataFrame = {
    val (n, numHashes, bands, pbN, sbN) = metaHead(spark, path)
    val fp = paramsFp(n, numHashes, bands, pbN, sbN)
    // raise the parquet In-pushdown threshold (default 10) to the cap:
    // above it Spark converts a pushed IN to a min/max RANGE filter,
    // which is vacuous over uniformly-distributed hashes — the whole
    // point of the second pruning level is the exact-value row-group
    // (and page-index) stats test. Session-level and monotone
    // (max(existing, cap)), affecting only how parquet receives
    // already-pushed IN filters.
    val thresholdKey = "spark.sql.parquet.pushdown.inFilterThreshold"
    if (scala.util.Try(spark.conf.get(thresholdKey).toInt).getOrElse(10)
        < MaxPushedInValues)
      spark.conf.set(thresholdKey, MaxPushedInValues.toString)
    // persisted BEFORE the bucket-collection job so that job populates
    // the cache the downstream references reuse (one shingling pass)
    val newHashed = shingleHashSets(newDocs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE batch-sized banding job collects the partition buckets AND
    // the exact distinct-band-hash count (collect_set is ≤ pbN ints;
    // count_distinct is one long) — the BULK path keeps its round-12
    // single collection job. Only a SELECTIVE probe whose hash count
    // fits the cap runs a second, micro-batch-sized job to fetch the
    // hashes themselves for the IN pushdown (the shingle cache is warm
    // from job one, so it costs a tiny driver round-trip on exactly
    // the at-ingest faces the pruning exists for).
    val shape0 = bandRowsOf(newHashed, numHashes, bands)
      .agg(collect_set(bandBucket(col("bh"), pbN)).as("pbs"),
        count_distinct(col("bh")).as("nbh")).head()
    val batchPbs = shape0.getSeq[Int](0).sorted.toArray
    val nBh = if (shape0.isNullAt(1)) 0L else shape0.getLong(1)
    // verify-scan pruning only pays when the probe is genuinely
    // SELECTIVE (its band hashes touch well under all buckets — the
    // at-ingest shapes: one doc, a micro-batch). A bulk batch saturates
    // the bucket space, and running its candidate join just to collect
    // every bucket id would add a driver round-trip for a no-op filter
    // — so the gate keeps the bulk path at its pre-pruning plan
    // (single pipelined job).
    val selective = batchPbs.length.toLong * 4 < pbN.toLong * 3
    val batchBhs: Array[Long] =
      if (selective && nBh > 0L && nBh <= MaxPushedInValues)
        bandRowsOf(newHashed, numHashes, bands)
          .select(col("bh")).distinct().collect().map(_.getLong(0)).sorted
      else Array.empty[Long]
    val newBands = bandRowsOf(newHashed, numHashes, bands)
    // base(bucket-pruned + bh-IN row-group-pruned) ∪ full ledgered
    // batch delta (daily appends and streaming micro-batches alike):
    // appended corpus batches are probed exactly like build-time
    // corpus. Both stored relations route their payload through the
    // params guard — a row derived under different parameters than the
    // index's current ones (a writer that violated rebuild quiescence)
    // fails the probe LOUD instead of silently hashing into a disjoint
    // bucket space. The bh IN (...) data filter is LOSSLESS like the
    // partition level (the candidate join requires c.bh === x.bh), and
    // because the bands base is written SORTED by bh within each pb
    // partition, parquet row-group min/max stats (and page indexes)
    // prune WITHIN the selected buckets — the level that keeps
    // per-probe I/O bounded past the bucketsFor clamp, where
    // partition pruning alone degrades to corpus/4096 per probe.
    val bhFilter =
      if (selective && batchBhs.nonEmpty)
        Some(col("bh").isin(batchBhs.map(v => v: Any): _*))
      else None
    val stored = guardParams(
      storedComponentBasePruned(spark, path, "bands", "pb", batchPbs,
        bhFilter, fp),
      "bh", fp, path)
    val cand = stored.as("c")
      .join(broadcast(newBands.as("x")),
        col("c.band") === col("x.band") && col("c.bh") === col("x.bh")
          && col("c.id") =!= col("x.id"))
      .select(col("x.id").as("id_new"), col("c.id").as("id_corpus"))
      .dropDuplicates("id_new", "id_corpus")
    // the candidate set's id buckets (and, bounded, the ids themselves
    // — the shingles base is id-sorted within sb partitions, so an
    // id IN (...) prunes its row groups the same way) prune the verify
    // base scan; the collection runs the (bucket-pruned,
    // batch-broadcast) candidate join once and the final plan
    // recomputes it — both scans pruned and small on this path
    val candRows =
      if (selective) cand
        .select(shingleBucket(col("id_corpus"), sbN).as("sb"),
          col("id_corpus"))
        .distinct().limit(MaxPushedInValues + 1).collect()
      else Array.empty[org.apache.spark.sql.Row]
    val candBounded = selective && candRows.length <= MaxPushedInValues
    val candSbs: Array[Int] =
      if (candBounded) candRows.map(_.getInt(0)).distinct.sorted
      else if (selective) cand
        .select(shingleBucket(col("id_corpus"), sbN).as("sb")).distinct()
        .collect().map(_.getInt(0)).sorted
      else Array.empty[Int]
    val candIds: Array[Any] =
      if (candBounded) candRows.map(_.get(1)) else Array.empty[Any]
    // CACHE DISCIPLINE: on the SELECTIVE (at-ingest) path the cache is
    // dropped here — AFTER the candidate collection reused it (the
    // round-12 code unpersisted before that job, re-shingling the
    // batch once for the collection and again for the final plan) but
    // before returning: minhashProbeStream calls this per micro-batch,
    // and a cache entry whose reference is dropped at return can never
    // be unpersisted (unbounded accumulation over a stream's
    // lifetime); the final plan then recomputes micro-batch-sized
    // subtrees against pruned corpus scans, which is cheap. The BULK
    // path keeps the day-sized persist for the final plan's two
    // references — a daily-job cadence where one cache entry per run
    // is the pre-existing operator norm, reclaimed by session cache
    // clearing.
    if (selective) { newHashed.unpersist(blocking = false); () }
    // the probe-shape observable: bucket coverage vs the stored layout
    // plus what each pruning level actually pushed — the runtime
    // signal that says "your B is too small for your batch shape"
    // (coverage at/over the gate => partition pruning skipped), next
    // to the suggested_*_buckets re-anchor in minhashIndexHealth
    recordProbeShape(path, ProbeShape(
      batchBandBuckets = batchPbs.length, bandBuckets = pbN,
      bucketCoveragePct = batchPbs.length * 100L / math.max(1, pbN),
      shingleScanPruned = selective,
      // what was actually PUSHED, not merely collected — a
      // gate-skipped probe must read as "0 pushed", not as a phantom
      // IN list (the sf0.1 micro-batch face reported 128 values while
      // the saturating gate had pushed none)
      pushedBandHashes = if (bhFilter.isDefined) batchBhs.length else 0,
      pushedCandidateIds = candIds.length))
    // attach the batch-side sets first (both relations batch-sized),
    // then broadcast the enriched candidates into the corpus-set scan
    val withNew = cand.join(
      newHashed.select(col("id").as("id_new"), col("shash").as("sh_a")),
      Seq("id_new"))
    val idFilter =
      if (candIds.nonEmpty) Some(col("id").isin(candIds: _*)) else None
    (if (selective)
      guardParams(
        storedComponentBasePruned(spark, path, "shingles", "sb", candSbs,
          idFilter, fp),
        "shash", fp, path)
    else
      guardParams(storedComponent(spark, path, "shingles"), "shash", fp, path))
      .select(col("id").as("id_corpus"), col("shash").as("sh_b"))
      .join(broadcast(withNew), Seq("id_corpus"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_new", size(col("sh_a")).cast("long"))
      .withColumn("n_corpus", size(col("sh_b")).cast("long"))
      .filter(col("common") * den
        >= (col("n_new") + col("n_corpus") - col("common")) * num)
      .select("id_new", "id_corpus", "common", "n_new", "n_corpus")
  }

  /** Cap on a probe's driver-collected IN-pushdown lists (band hashes,
    * candidate ids): keeps every collect KB-scale and the pushed OR
    * predicate's per-row-group evaluation bounded. A single-doc probe
    * pushes ~`bands` values, a micro-batch a few hundred; past the cap
    * the probe falls back to partition-level pruning alone. */
  private[graft] val MaxPushedInValues = 1024

  /** Shape of a [[probeMinhashIndex]] call: how much of the stored
    * bucket layout the batch covered and what each pruning level
    * pushed. `bucketCoveragePct` at/over 75 means the selectivity gate
    * skipped verify-scan pruning (`shingleScanPruned` false) — the
    * runtime signal that the index's B is too small for the batch
    * shape (the re-anchor lives in minhashIndexHealth's
    * `suggested_band_buckets`). Driver-side observability, not a
    * data-plane artifact: each probe appends its shape to a bounded
    * per-index-path log ([[probeShapesFor]]) that
    * [[minhashIndexHealth]] folds into its report
    * (`probes_observed` / `probe_max_bucket_coverage_pct` /
    * `probe_saturation_observed`), so a saturating batch shape shows
    * up in the same daily row that carries the remediation. */
  final case class ProbeShape(batchBandBuckets: Int, bandBuckets: Int,
                              bucketCoveragePct: Long,
                              shingleScanPruned: Boolean,
                              pushedBandHashes: Int,
                              pushedCandidateIds: Int)
  /** Bounded per-path shape history: ConcurrentHashMap.compute is
    * atomic per key, so concurrent probes on one driver each append
    * (never clobber — the round-13 single AtomicReference lost shapes
    * under concurrency), and probes on different indexes never mix. */
  private val probeShapesByPath =
    new java.util.concurrent.ConcurrentHashMap[String, List[ProbeShape]]()
  private[graft] val MaxShapesPerPath = 64
  private def recordProbeShape(path: String, sh: ProbeShape): Unit = {
    lastProbeShapeRef.set(sh)
    probeShapesByPath.compute(path, (_, old) =>
      (sh :: Option(old).getOrElse(Nil)).take(MaxShapesPerPath))
    ()
  }
  /** Probe shapes recorded on this JVM for the index at `path`, newest
    * first, bounded to the last [[MaxShapesPerPath]]. */
  def probeShapesFor(path: String): Seq[ProbeShape] =
    Option(probeShapesByPath.get(path)).getOrElse(Nil)
  private val lastProbeShapeRef =
    new java.util.concurrent.atomic.AtomicReference[ProbeShape]()
  /** Most recent probe shape on this JVM across all indexes — kept for
    * quick REPL/harness inspection; per-index history (race-free under
    * concurrent probes) is [[probeShapesFor]]. */
  def lastProbeShape: Option[ProbeShape] = Option(lastProbeShapeRef.get())

  /** One index component as base(BUCKET-PRUNED by the collected probe
    * values — a PartitionFilter at file-listing time) ∪ the FULL
    * ledgered delta — the probe's assembly. One [[IndexStore.Pin]]
    * resolves base, folds and delta, exactly like
    * [[IndexStore.storedComponent]]; only the base-side filter differs.
    * An empty probe-value set prunes the base to nothing (the batch has
    * no band rows, so no stored row can match).
    *
    * The pinned BASE's stamp is checked against `expectedFp` (one row
    * read) BEFORE pruning: mid-install of a parameter rebuild (meta
    * flipped, fold manifests not yet committed — or a crash in that
    * window) the live base still carries the OLD stamp, and because
    * the probe's bucket values are computed under the NEW moduli the
    * pruned scan could select zero of the old partitions — the in-scan
    * guard would then see no rows, and the full-scan era's loud error
    * would silently become an empty result. The pre-scan stamp check
    * keeps that window LOUD under pruning. */
  private def storedComponentBasePruned(spark: org.apache.spark.sql.SparkSession,
                                        path: String, component: String,
                                        bucketCol: String,
                                        probeVals: Array[Int],
                                        dataFilter: Option[Column],
                                        expectedFp: String): DataFrame = {
    val pin = IndexStore.pinOf(spark, path, component)
    val base = IndexStore.readBaseAt(spark, path, component, pin)
    base.select("params_fp").take(1).foreach { r =>
      if (r.getString(0) != expectedFp)
        sys.error(s"MinHash index at $path: base v=${pin.v} of $component " +
          s"carries params ${r.getString(0)} but the meta's current " +
          s"params are $expectedFp — a parameter rebuild is mid-install " +
          "(or crashed between its meta flip and its fold commits); " +
          "re-run the rebuild with the same rebuildId to finish the " +
          "install, then probe again")
    }
    val cols = base.columns.toSeq
    // the optional second level: an exact-value IN over the column the
    // base is SORTED by within its bucket partitions (bands: bh;
    // shingles: id), pushed to the parquet scan so row-group min/max
    // stats and page indexes prune within the selected buckets. Base
    // only, like the partition level — the day-sized delta stays fully
    // scanned so foreign-parameter rows keep failing loud.
    val prunedBase0 = base
      .filter(if (probeVals.isEmpty) lit(false)
        else col(bucketCol).isin(probeVals.map(v => v: Any): _*))
    val prunedBase = dataFilter.fold(prunedBase0)(prunedBase0.filter)
      .select(cols.map(col): _*)
    IndexStore.ledgeredDelta(spark, path, component, pin, base.schema, cols)
      .map(prunedBase.unionByName(_))
      .getOrElse(prunedBase)
  }

  /** Lakehouse maintenance for the persisted MinHash index: months of
    * `batch=` appends (daily jobs and streaming micro-batches alike)
    * fragment the shingle and band stores into thousands of small
    * files, and every probe's corpus scan pays the per-file open cost.
    * Compaction merges base ∪ unfolded ledgered batch delta of each
    * component (the exact relation probes read — a bit-equal rewrite
    * by construction) into a fresh range-sorted base version of
    * ~`rowsPerFile` files (Layout.writeSized: footer min/max stats stay
    * selective) and installs it by committing the cumulative fold
    * manifest (IndexStore.compactComponent). Returns
    * (files_before, files_after, rows) summed over both components.
    *
    * ONLINE: concurrent probes resolve either the old version (deltas
    * unfolded) or the new one (deltas folded) — bit-equal relations —
    * and concurrent appends stay visible as delta under the new
    * version (their refs are not in its manifest). A crash leaves an
    * invisible incomplete attempt; re-running cannot bake duplicates
    * because visibility subtracts the fold manifest, not the
    * filesystem. The batch-id LEDGER survives on purpose: a late replay
    * of an already-folded batch must still be recognized and skipped.
    * Superseded versions and folded delta dirs are garbage-collected by
    * the separate, retention-gated [[vacuumMinhashIndex]]. */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String,
                          rowsPerFile: Long = 1L << 20): (Long, Long, Long) =
    IndexStore.withMaintenanceLease(spark, path, "compact") {
    val expectedFp = liveParamsFp(spark, path)
    def one(component: String): (Long, Long, Long) =
      IndexStore.compactComponent(spark, path, component,
        write = (merged, _, dest, _) =>
          // the rewrite routes the payload through the params guard (a
          // foreign-parameter delta row fails the compaction loudly —
          // baking it into the base would make the disjoint-bucket
          // anomaly permanent; the failed attempt stays invisible) and
          // PRESERVES the bucket partitioning: delta rows fold into the
          // base by their stored bucket values, so the probe's pruning
          // contract survives every compaction
          writeBucketed(
            guardParams(merged,
              if (component == "bands") "bh" else "shash",
              expectedFp, path),
            dest,
            bucketCol = if (component == "bands") "pb" else "sb",
            sortCol = if (component == "bands") "bh" else "id",
            rowsPerFile))
    val s = one("shingles")
    val b = one("bands")
    (s._1 + b._1, s._2 + b._2, s._3 + b._3)
    }

  /** Retention-gated garbage collection for the MinHash index: keep
    * the newest `keepVersions` complete base versions per component,
    * drop the rest plus the `batch=` delta dirs the OLDEST retained
    * version has folded (streaming micro-batch dirs are ordinary
    * folded batch dirs and collect the same way). `keepVersions = 1`
    * requires probe quiescence; `keepVersions = 2` tolerates every
    * probe that pinned since the previous install
    * (IndexStore.vacuumComponent). An in-flight compactor's/rebuild's
    * half-written next version is protected by `incompleteTtlMs`.
    * Returns (versions removed, batch dirs removed). */
  def vacuumMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                         path: String,
                         keepVersions: Int = 1,
                         incompleteTtlMs: Long = IndexStore.IncompleteAttemptTtlMs): (Long, Long) =
    IndexStore.withMaintenanceLease(spark, path, "vacuum") {
      val a = IndexStore.vacuumComponent(spark, path, "shingles",
        keepVersions, incompleteTtlMs)
      val b = IndexStore.vacuumComponent(spark, path, "bands",
        keepVersions, incompleteTtlMs)
      (a._1 + b._1, a._2 + b._2)
    }

  /** PARAMETER REBUILD for the persisted MinHash index — the text
    * family's analog of [[graft.analytics.Similarity.rebuildIvfPqIndex]].
    * Shingle width and banding are exact parameters, not fitted ones,
    * so recall never decays with the data distribution — but the
    * PRECISION/RECALL OPERATING POINT is chosen at build time for an
    * expected near-dup density: a corpus whose duplicates drift toward
    * lighter paraphrase needs narrower bands (higher candidate recall),
    * one drowning in boilerplate needs wider ones. Re-tuning cannot be
    * patched in place (every stored signature and band hash is derived
    * from the old parameters), so the rebuild:
    *
    *   1. PRESERVES the id population: exactly the ids visible in the
    *      shingle store (base ∪ unfolded deltas ∪ unfolded stream rows)
    *      are re-derived from their rows in `corpus` — the source of
    *      truth for document text, which must cover every indexed id
    *      (checked).
    *   2. Re-shingles, re-signs and re-bands under the NEW
    *      (n, numHashes, bands), stamps every row with the new
    *      `params_fp`, and appends the new parameter row to the meta
    *      log (max-seq row = current truth) so append/probe/stream
    *      faces pick the new parameters up from the self-describing
    *      index.
    *   3. Installs both components as their next versions via the fold
    *      manifests — all snapshot batches and stream files folded
    *      (their old-parameter rows are superseded by the re-derive).
    *      Bands commits first, shingles last, mirroring the build
    *      order. A reader probing MID-INSTALL (after the meta append,
    *      before both fold commits) sees old-parameter rows under the
    *      new meta and fails LOUD on the params guard — transient and
    *      named, never a silent zero-candidate probe.
    *
    * EXACTLY-ONCE under retry/replay: `rebuildId` is ledgered strictly
    * after the install commits; a replayed id is a no-op. Requires
    * quiesced WRITERS (appends / the maintenance stream): an append
    * racing the install is caught by its own params re-check (never
    * ledgered), and a maintenance stream still running on old
    * parameters commits rows the probe guard rejects loudly — restart
    * it after the rebuild (it re-reads params at start). Probes stay
    * online except for the transient mid-install window above. */
  def rebuildMinhashIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String, corpus: DataFrame,
                          idCol: String, textCol: String, rebuildId: String,
                          n: Int, numHashes: Int, bands: Int,
                          bandBuckets: Option[Int] = None,
                          shingleBuckets: Option[Int] = None): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    if (IndexStore.rebuildAlreadyDone(spark, path, rebuildId))
      return // replayed rebuild: already installed and ledgered
    IndexStore.withMaintenanceLease(spark, path, "rebuild") {
    val pinS = IndexStore.pinOf(spark, path, "shingles")
    val pinB = IndexStore.pinOf(spark, path, "bands")
    // SNAPSHOT what the re-derive covers, per component (the two fold
    // sets can diverge after a crashed install): exactly these refs get
    // folded at install — re-reading the ledger at commit time would
    // fold a delta committed mid-rebuild WITHOUT re-deriving it.
    // Streaming micro-batches are ledgered batches too, so one
    // snapshot covers both maintenance faces.
    val ledgered = IndexStore.ledgeredBatchIds(spark, path).toSeq
    val snapBatchS = ledgered.filterNot(pinS.foldedBatches).toSet
    val snapBatchB = ledgered.filterNot(pinB.foldedBatches).toSet
    // indexed id population, UNGUARDED on purpose: ids of rows written
    // under any parameters count — their documents are re-derived from
    // `corpus` text, which is parameter-free
    val visibleIds = storedComponent(spark, path, "shingles")
      .select(col("id")).distinct()
    val rows = corpus.join(
      visibleIds.withColumnRenamed("id", idCol), Seq(idCol), "left_semi")
    val nVisible = visibleIds.count()
    val nRows = rows.select(col(idCol)).distinct().count()
    require(nRows == nVisible,
      s"rebuildMinhashIndex: corpus covers $nRows of $nVisible indexed " +
        "ids — a rebuild must preserve the id population")
    // bucket counts re-sized to the CURRENT population (the corpus has
    // usually grown since the build — the rebuild rewrites every row
    // anyway, so the pruning layout re-anchors for free) unless
    // explicitly overridden
    val sbN = shingleBuckets.getOrElse(bucketsFor(nVisible))
    val pbN = bandBuckets.getOrElse(bucketsFor(nVisible * bands))
    require(sbN >= 1 && pbN >= 1, "bucket counts must be >= 1")
    val fp2 = paramsFp(n, numHashes, bands, pbN, sbN)
    val hashed = shingleHashSets(rows, idCol, textCol, n)
      .withColumn("params_fp", lit(fp2))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nextS = pinS.v + 1
    val nextB = pinB.v + 1
    IndexStore.dropIncompleteVersion(spark, path, "shingles", nextS)
    IndexStore.dropIncompleteVersion(spark, path, "bands", nextB)
    writeBucketed(hashed.withColumn("sb", shingleBucket(col("id"), sbN)),
      IndexStore.versionDir(path, "shingles", nextS), "sb", "id", 1L << 20)
    writeBucketed(
      bandRowsOf(hashed, numHashes, bands)
        .withColumn("params_fp", lit(fp2))
        .withColumn("pb", bandBucket(col("bh"), pbN)),
      IndexStore.versionDir(path, "bands", nextB), "pb", "bh", 1L << 20)
    hashed.unpersist()
    // flip the meta BEFORE the fold commits (append-only: a live
    // reader must never see a delete+rewrite window): from here until
    // both commit, probes fail loud on the params guard (old rows
    // under new meta) — a crash in this window is recovered by
    // re-running the rebuild (same rebuildId), never by serving mixed
    // parameter spaces
    writeMetaParams(spark, path, n, numHashes, bands, pbN, sbN,
      seq = metaSeq(spark, path) + 1L, mode = "append")
    def nf(component: String, v: Long): Option[Long] = Some(
      IndexStore.countDataFiles(spark,
        IndexStore.versionDir(path, component, v)))
    IndexStore.commitFolds(spark, path, "bands", nextB,
      pinB.foldedBatches ++ snapBatchB, baseFiles = nf("bands", nextB))
    IndexStore.commitFolds(spark, path, "shingles", nextS,
      pinS.foldedBatches ++ snapBatchS, baseFiles = nf("shingles", nextS))
    IndexStore.ledgerRebuild(spark, path, rebuildId)
    }
  }

  /** Sampled BAND-CANDIDATE RECALL — the drift signal that triggers
    * [[rebuildMinhashIndex]], closing the text family's monitoring
    * loop the way ivfPqIndexHealth's recall sampling closes the ANN
    * family's. Banding is exact, so nothing in the STORE decays — what
    * drifts is the match between the banding's operating point and the
    * corpus' near-dup profile: if today's near-duplicates sit at
    * similarities the band width was not chosen for, probes silently
    * miss them, and no operational metric (fragmentation, delta share)
    * will say so. This measures it directly on sampled GROUND TRUTH:
    *
    *   - take a bounded `sample` of documents (≤ `maxSample` — the
    *     sample² pair space is the cost driver; this is a daily
    *     monitoring job over hundreds of docs, NEVER corpus-sized),
    *   - compute every sample pair's EXACT shingle Jaccard under the
    *     index's stored shingle width; pairs ≥ num/den are the truth
    *     set (what a probe SHOULD find),
    *   - band the sample under the index's stored (numHashes, bands)
    *     and count which truth pairs collide on ≥ 1 band (what a probe
    *     WOULD find — candidate generation is the only lossy stage;
    *     verification is exact),
    *   - band_recall_pct = found/truth; `band_recall_ok` fires below
    *     `recallFloorPct` → run [[rebuildMinhashIndex]] with narrower
    *     bands (vacuously ok when the sample has no truth pairs).
    *
    * One row: (n_truth_pairs, n_band_hits, band_recall_pct,
    * band_recall_ok). */
  def minhashBandRecall(spark: org.apache.spark.sql.SparkSession,
                        path: String, sample: DataFrame,
                        idCol: String, textCol: String,
                        num: Long = 1, den: Long = 5,
                        recallFloorPct: Int = 80,
                        maxSample: Int = 500): DataFrame = {
    import spark.implicits._
    val (n, numHashes, bands) = minhashIndexParams(spark, path)
    val bounded = sample.limit(maxSample + 1)
      .select(col(idCol).as("id"), col(textCol).as(textCol))
    val nSample = bounded.count()
    require(nSample > 0 && nSample <= maxSample,
      s"minhashBandRecall expects 1..$maxSample sample docs (got " +
        s"${if (nSample > maxSample) "more" else "0"}) — the sample² " +
        "pair space is the cost driver")
    val hashed = shingleHashSets(bounded, "id", textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sets = hashed.select(col("id"), col("shash"))
    val truth = sets.as("a")
      .join(sets.as("b"), col("a.id") < col("b.id"))
      .withColumn("common",
        size(array_intersect(col("a.shash"), col("b.shash"))).cast("long"))
      .withColumn("na", size(col("a.shash")).cast("long"))
      .withColumn("nb", size(col("b.shash")).cast("long"))
      .filter(col("common") * den >= (col("na") + col("nb") - col("common")) * num)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val bandRows = bandRowsOf(hashed, numHashes, bands)
    val cand = bandRows.as("x")
      .join(bandRows.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
          && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val r = truth
      .join(cand.withColumn("__hit", lit(1L)), Seq("id_a", "id_b"), "left_outer")
      .agg(count(lit(1)).as("n_truth"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_hit")).head()
    hashed.unpersist()
    val (nTruth, nHit) = (r.getLong(0), r.getLong(1))
    val recallPct = if (nTruth == 0L) 100L else nHit * 100L / nTruth
    Seq((nTruth, nHit, recallPct, recallPct >= recallFloorPct))
      .toDF("n_truth_pairs", "n_band_hits", "band_recall_pct",
        "band_recall_ok")
  }

  /** MinHash-index staleness/health report — the monitoring loop for
    * the text index family. Unlike the IVF-PQ index there is no frozen
    * trained geometry to drift (shingle width and banding are exact
    * parameters, not fitted ones — recall never decays with the data
    * distribution; re-TUNING them is [[rebuildMinhashIndex]], and the
    * drift SIGNAL for that is [[minhashBandRecall]]), so
    * health here is purely OPERATIONAL: how much of
    * the index lives outside the compacted base and how fragmented the
    * file population is, i.e. when to run [[compactMinhashIndex]] —
    * plus `n_foreign_params_rows`/`foreign_params_detected`, delta rows
    * stamped with different parameters than the index's current ones
    * (a writer that raced a parameter rebuild; probes fail LOUD on
    * them, health reports them).
    * One row of exact-integer metrics + the verdict booleans:
    *
    *   - n_base_docs / n_delta_docs / delta_pct — shingle-store rows
    *     (one per indexed doc) in base vs ledgered batch delta (daily
    *     appends and streaming micro-batches alike);
    *     `needs_compaction` fires past `maxDeltaPct`.
    *   - n_files / files_per_kdoc — the probe-side scan cost driver
    *     (every probe opens every file of both components);
    *     `fragmented` fires when the file count exceeds
    *     `maxFilesPerComponent` × 2 components. The file census reads
    *     the counts the installing writers recorded in their fold
    *     manifests (IndexStore.liveComponentFiles), listing only
    *     unfolded day-sized deltas — flat in corpus size.
    *   - band_buckets / rows_per_band_bucket /
    *     suggested_band_buckets / suggested_shingle_buckets /
    *     bucket_resize_recommended — the probe-pruning layout vs what
    *     [[suggestedBuckets]] would size for TODAY's population (band
    *     rows are exactly docs × bands — no extra count job). The
    *     suggestion is UNclamped on purpose: past the default 4096
    *     clamp the operator chooses between re-anchoring B explicitly
    *     (rebuild with `bandBuckets = Some(suggested)` — more dirs,
    *     finer partition pruning) and leaning on the probe's bh-IN
    *     row-group level; the resize verdict turns the scaladoc lore
    *     into a monitored number the existing drift→rebuild loop can
    *     act on.
    *
    *   - probes_observed / probe_max_bucket_coverage_pct /
    *     probe_saturation_observed — this JVM's probe-shape history
    *     for the index ([[probeShapesFor]]): whether live batch shapes
    *     are saturating the bucket pruning (the selectivity gate
    *     skipped verify-scan pruning on some probe) — the signal that
    *     pairs with the resize suggestion above.
    *
    * Driver-side metadata reads + two row counts — a daily maintenance
    * job, not a probe-path cost. */
  def minhashIndexHealth(spark: org.apache.spark.sql.SparkSession,
                         path: String,
                         maxDeltaPct: Int = 20,
                         maxFilesPerComponent: Int = 64): DataFrame = {
    import spark.implicits._
    val pin = IndexStore.pinOf(spark, path, "shingles")
    val base = IndexStore.readBaseAt(spark, path, "shingles", pin)
    val (_, _, bands, pbN, sbN) = metaHead(spark, path)
    val fp = liveParamsFp(spark, path)
    val nBase = base.count()
    // one pass over the (day-sized) delta: total rows + rows stamped
    // with foreign parameters (the monitoring-side detection of a
    // writer that violated parameter-rebuild quiescence; probes fail
    // LOUD on such rows — health REPORTS them)
    val (nDelta, nForeign) =
      IndexStore.ledgeredDelta(spark, path, "shingles", pin, base.schema,
        Seq("id", "params_fp")).map { d =>
          val r = d.agg(count(lit(1)).as("n"),
            coalesce(sum(when(col("params_fp") =!= lit(fp), 1L)
              .otherwise(0L)), lit(0L)).as("f")).head()
          (r.getLong(0), r.getLong(1))
        }.getOrElse((0L, 0L))
    val deltaPct =
      if (nBase + nDelta == 0L) 0L else nDelta * 100L / (nBase + nDelta)
    // reader-visible file census: live base versions + unfolded delta
    // batches of both components
    val nFiles = IndexStore.liveComponentFiles(spark, path, "shingles", pin) +
      IndexStore.liveComponentFiles(spark, path, "bands",
        IndexStore.pinOf(spark, path, "bands"))
    // each doc emits exactly `bands` band rows, so the band-side
    // population (the probe cost driver) needs no extra count job
    val nDocs = nBase + nDelta
    val bandRows = nDocs * bands
    val suggestedPb = suggestedBuckets(bandRows)
    val suggestedSb = suggestedBuckets(nDocs)
    // the probe-shape observables, folded into the report (round 14):
    // what this JVM's probes actually did to THIS index's pruning. The
    // latch alone required polling between calls and lost shapes under
    // concurrency; the bounded per-path history makes a saturating
    // batch shape visible in the same daily row that carries the
    // remediation (suggested_band_buckets).
    val shapes = probeShapesFor(path)
    val maxProbeCoverage =
      if (shapes.isEmpty) 0L else shapes.map(_.bucketCoveragePct).max
    Seq((nBase, nDelta, deltaPct, deltaPct > maxDeltaPct, nFiles,
      nFiles > 2L * maxFilesPerComponent, nForeign, nForeign > 0L,
      pbN.toLong, if (pbN > 0) bandRows / pbN else 0L,
      suggestedPb, sbN.toLong, suggestedSb,
      suggestedPb > pbN.toLong || suggestedSb > sbN.toLong,
      shapes.length.toLong, maxProbeCoverage,
      shapes.exists(!_.shingleScanPruned)))
      .toDF("n_base_docs", "n_delta_docs", "delta_pct",
        "needs_compaction", "n_files", "fragmented",
        "n_foreign_params_rows", "foreign_params_detected",
        "band_buckets", "rows_per_band_bucket", "suggested_band_buckets",
        "shingle_buckets", "suggested_shingle_buckets",
        "bucket_resize_recommended",
        "probes_observed", "probe_max_bucket_coverage_pct",
        "probe_saturation_observed")
  }

  /** Iteration checkpoint: reliable `checkpoint()` when the session has a
    * checkpoint dir configured (`sc.setCheckpointDir` — HDFS/S3 in a real
    * cluster), else `localCheckpoint`. Reliable checkpoints survive
    * executor loss — localCheckpoint blocks are unreplicated executor
    * memory, so at 100 TB one lost executor mid-iteration would otherwise
    * kill the whole dedup job. Either way lineage is truncated — an
    * iterative fixpoint otherwise doubles its logical plan every round
    * (the plan tree, not the data, OOMs the driver by round ~10). */
  private def iterCheckpoint(df: DataFrame): DataFrame =
    // the shared capped cut (graft.operators.Fixpoint): reliable
    // checkpoint when a dir is configured, carried stats capped — this
    // fixpoint SELF-joins its relations (jumpOnce: l ⋈ l), the carried
    // estimate would otherwise SQUARE per jump and hang the planner in
    // BigInteger math by round ~15 (it hung DedupClusterSpec's 200-node
    // graphs). Lazy (eager=false): materialization piggybacks on the
    // round's next action instead of paying a dedicated job per cut —
    // with ~5 cuts per contraction round the job-count halves.
    graft.operators.Fixpoint.cut(df, eager = false)

  /** Resolve near-dup PAIRS into dedup GROUPS: connected components by
    * min-label contraction — each round every node adopts the minimum of
    * its closed neighborhood and edges are rewritten onto the labels, so
    * paths halve per round: O(log(diameter)) rounds, each one shuffle.
    * Returns (id, component) where component is the minimum id in the
    * group — the canonical survivor. Never collects edges to the driver.
    *
    * Fault tolerance: set a Spark checkpoint dir to make per-round
    * checkpoints reliable (see iterCheckpoint). Driver round-trips are
    * bounded: one convergence action per contraction round, plus one per
    * TWO pointer jumps (jumps are composed pairwise before checking, so
    * label depth still quarters between checks). */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 15): DataFrame = {
    var g = iterCheckpoint(pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .filter(col("a") =!= col("b")).distinct())
    var mapping = iterCheckpoint(
      g.select(col("a").as("id")).union(g.select(col("b").as("id")))
        .distinct().withColumn("comp", col("id")))
    // lab <- lab∘lab: each node's label follows its label's label
    def jumpOnce(l: DataFrame): DataFrame = l
      .join(l.select(col("node").as("lab"), col("lab").as("lab2")),
        Seq("lab"), "left")
      .select(col("node"), coalesce(col("lab2"), col("lab")).as("lab"))
    var round = 0
    while (round < maxRounds && g.limit(1).count() > 0) {
      val sym = g.union(g.select(col("b").as("a"), col("a").as("b")))
      // parent = min of closed neighborhood (a forest: parent < node)
      var lab = iterCheckpoint(sym.groupBy(col("a")).agg(min(col("b")).as("mb"))
        .select(col("a").as("node"), least(col("a"), col("mb")).as("lab")))
      // pointer jumping: distance to the tree root doubles per jump, so
      // chains resolve in O(log depth); two jumps per stability action
      var stable = false
      var jump = 0
      while (!stable && jump < 10) {
        val j1 = jumpOnce(lab)
        val j2 = iterCheckpoint(jumpOnce(j1))
        // j2 == j1 means the second jump was identity => fixpoint reached
        stable = j2
          .join(j1.select(col("node"), col("lab").as("prev")), Seq("node"))
          .filter(col("lab") =!= col("prev")).limit(1).count() == 0
        lab = j2
        jump += 2
      }
      // compose: comp values that are still graph nodes follow their label
      mapping = iterCheckpoint(mapping
        .join(lab.withColumnRenamed("node", "comp"), Seq("comp"), "left")
        .select(col("id"), coalesce(col("lab"), col("comp")).as("comp")))
      // contract: rewrite edges onto labels, drop self-loops
      g = iterCheckpoint(g
        .join(lab.withColumnRenamed("node", "a").withColumnRenamed("lab", "la"), Seq("a"))
        .join(lab.withColumnRenamed("node", "b").withColumnRenamed("lab", "lb"), Seq("b"))
        .select(col("la").as("a"), col("lb").as("b"))
        .filter(col("a") =!= col("b")).distinct())
      round += 1
    }
    mapping
  }

  /** End-to-end near-dedup: pairs -> components -> per-doc verdict.
    * Returns (id, component, is_survivor): survivors are the minimum id
    * of each component plus every unpaired doc. */
  def dedupVerdicts(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    df.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .withColumn("component", coalesce(col("comp"), col("id")))
      .drop("comp")
      .withColumn("is_survivor", col("component") === col("id"))
  }

  /** Incremental connected-components maintenance — the dedup-groups
    * daily update: fold a day's NEW near-dup edges into a stored
    * `(id, comp)` assignment WITHOUT re-materializing, re-shuffling, or
    * even re-reading the historical pair set.
    *
    * Exactness: the result equals [[connectedComponents]] over
    * (historical pairs ∪ new edges), joined back over all ids. The full
    * graph's components are the stored components merged along the new
    * edges, and because labels are canonical (min id in the group) the
    * merged label — min over constituent old labels and new-doc ids —
    * is computable from the day's edges alone; no historical edge can
    * change it.
    *
    * Scale shape (100 TB lake, day-sized batch): the CC fixpoint runs
    * ONLY on the label graph induced by the day's edges (batch-sized,
    * never corpus-sized); the corpus assignment is touched by exactly
    * two joins whose other side is batch-sized — the endpoint-label
    * lookup and the relabel application — i.e. two linear scans, zero
    * corpus shuffles. Those small sides carry a `broadcast` hint while
    * `graft.dedup.incrementalBroadcastHint` (default true) holds; unset
    * it past the broadcast envelope and AQE plans the joins from
    * runtime sizes instead (results identical — spec-pinned).
    *
    * Endpoints absent from the stored assignment (brand-new docs) enter
    * with their own id as the starting label. Returns the updated
    * assignment `(id, comp)` covering stored ids ∪ edge endpoints;
    * brand-new docs with no edges are the caller's coalesce(comp, id),
    * exactly as with [[connectedComponents]] output. */
  def incrementalComponents(oldComponents: DataFrame, newEdges: DataFrame): DataFrame = {
    val spark = oldComponents.sparkSession
    val hint = spark.conf
      .get("graft.dedup.incrementalBroadcastHint", "true").toBoolean
    def daySized(df: DataFrame): DataFrame = if (hint) broadcast(df) else df

    val edges = newEdges.select(col("id_a").as("a"), col("id_b").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val ep = edges.select(col("a").as("id"))
      .union(edges.select(col("b").as("id"))).distinct()
    // Corpus scan 1: current label of each endpoint — stored comp, else
    // (brand-new doc) its own id. The corpus streams past the broadcast
    // endpoint set; output is endpoint-sized. Checkpointed so the three
    // downstream uses don't re-scan the corpus.
    val known = oldComponents.select(col("id"), col("comp")).join(daySized(ep), Seq("id"))
    val epLbl = iterCheckpoint(ep.join(known, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("lab")))
    // The day's edges projected onto current labels; the fixpoint runs
    // over this batch-sized graph only.
    val lblEdges = edges
      .join(epLbl.select(col("id").as("a"), col("lab").as("la")), Seq("a"))
      .join(epLbl.select(col("id").as("b"), col("lab").as("lb")), Seq("b"))
      .select(col("la").as("id_a"), col("lb").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
    // Relabel map old-label -> merged-label; identity rows are no-ops.
    val rel = iterCheckpoint(connectedComponents(lblEdges)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("oldLab"), col("comp").as("newLab")))
    // Corpus scan 2: apply the relabel map to the stored assignment.
    val updatedOld = oldComponents.select(col("id"), col("comp"))
      .join(daySized(rel), col("comp") === col("oldLab"), "left")
      .select(col("id"), coalesce(col("newLab"), col("comp")).as("comp"))
    // Brand-new endpoints enter at their merged label.
    val newRows = epLbl
      .join(oldComponents.select(col("id")), Seq("id"), "left_anti")
      .join(rel, col("lab") === col("oldLab"), "left")
      .select(col("id"), coalesce(col("newLab"), col("lab")).as("comp"))
    updatedOld.unionByName(newRows)
  }

  /** Corpus-level paragraph dedup (CCNet/Gopher-style boilerplate
    * removal): every paragraph that appears anywhere in the corpus more
    * than once survives ONLY at its first occurrence — the minimum
    * (id, position) — and is removed everywhere else; documents are then
    * reassembled in original paragraph order. This is the cross-document
    * complement of [[TextAnalysis.dedupLines]] (which dedups within one
    * document): navigation chrome, cookie banners, and licence footers
    * repeat across millions of pages, not within one.
    *
    * Scale shape: explode to (id, pos, para) [data volume], ownership by
    * ONE hash aggregate `min(struct(id, pos))` per paragraph-hash —
    * partial-aggregation map-side, so a boilerplate paragraph appearing
    * in every document reduces locally instead of sorting a hot window
    * partition — then an equi-join back on the hash (one owner row per
    * hash: no fanout) and a per-doc re-aggregation. Two shuffles on the
    * exploded relation; never doc × doc.
    *
    * Returns (id, text_deduped, n_paras, n_removed); a document whose
    * every paragraph was claimed earlier keeps an empty string.
    * `sepRe` splits (a regex), `sep` rejoins. */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      sepRe: String = "\n", sep: String = "\n"): DataFrame = {
    val paras = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), sepRe, -1)).as(Seq("pos", "para")))
      .withColumn("ph", md5(col("para").cast("binary")))
    val owners = paras.groupBy("ph")
      .agg(min(struct(col("id"), col("pos"))).as("own"))
      .select(col("ph"), col("own.id").as("own_id"), col("own.pos").as("own_pos"))
    val kept = paras.join(owners, Seq("ph"))
      .filter(col("id") === col("own_id") && col("pos") === col("own_pos"))
    val rebuilt = kept.groupBy("id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x.getField("para")), sep).as("text_deduped"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol).as("id"),
        size(split(col(textCol), sepRe, -1)).cast("long").as("n_paras"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"),
        col("n_paras"),
        (col("n_paras") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** 64-bit SimHash per document: one compiled expression
    * (graft.functions.SimHash64) running the token×bit vote loop over
    * primitive arrays — no explode, no shuffle, no 64-wide agg buffers. */
  def simhashByDoc(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.SimHash64(
        TextAnalysis.tokens(lower(col(textCol)))).as("sim"))

  /** Reference formulation of simhashByDoc as explode + 64 vote-sum
    * aggregates — kept as the differential-testing twin of the compiled
    * expression (SketchExpressionsSpec asserts bit-identical output).
    * Documents with zero tokens drop out here (no rows to aggregate). */
  def simhashByDocAgg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(TextAnalysis.tokens(lower(col(textCol)))).as("tk"))
      .withColumn("h", xxhash64(col("tk")))
    val votes = (0 until 64).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"b_$j"))
    tok.groupBy("id")
      .agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until 64).map(j =>
          when(col(s"b_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce((a, b) => a.bitwiseOR(b)).as("sim"))
  }

  /** Single-column SimHash (kept for per-row/array use; prefer
    * simhashByDoc for corpus-scale work). */
  def simhash(tokensCol: Column): Column = {
    val bitVotes = aggregate(
      tokensCol,
      array_repeat(lit(0L), 64),
      (acc, tk) => {
        val h = xxhash64(tk)
        val votes = array((0 until 64).map(j =>
          when(shiftright(h, j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)): _*)
        zip_with(acc, votes, (a, v) => a + v)
      })
    (0 until 64).map(j =>
      when(element_at(bitVotes, j + 1) > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
  }

  /** SimHash near-dup pairs: candidates collide on any of 4 16-bit bands
    * (guarantees recall for Hamming distance <= 3), verified by exact
    * Hamming distance <= maxHamming.
    *
    * Skew defenses on the bucket self-join:
    *  - ADAPTIVE SALT: near-identical docs pile into one (band,bh)
    *    bucket, whose m² enumeration would run in a single task. Bucket
    *    sizes are counted first (a tiny map-side-combined aggregate);
    *    only buckets above `saltThreshold` are salted — their y-rows get
    *    a 16-way salt from the id and their x-rows replicate across the
    *    16 salts, spreading the hot bucket over 16 tasks with every pair
    *    still enumerated exactly once. Cold buckets (the overwhelming
    *    majority at corpus scale) pay NO replication — a blanket 16×
    *    x-side amplification was the old cost of safety.
    *  - Hamming test INSIDE the join condition, so only true near-dups
    *    cross the shuffle boundary. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, saltThreshold: Long = 2000L): DataFrame = {
    // NOT persisted despite 3 downstream references: SimHash64 is one
    // compiled projection pass, cheaper to recompute than an
    // InMemoryTableScan boundary (measured — same finding as the
    // ngram-Jaccard index)
    val withSim = simhashByDoc(df, idCol, textCol)
    val banded = withSim.select(col("id"), col("sim"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sim"), b * 16).bitwiseAND(0xFFFFL).as("bh"))): _*))
        .as("bucket"))
      .select(col("id"), col("sim"), col("bucket.band"), col("bucket.bh"))
    val S = 16
    val hot = banded.groupBy("band", "bh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > saltThreshold)
      .select(col("band"), col("bh"), lit(true).as("is_hot"))
    val tagged = banded.join(broadcast(hot), Seq("band", "bh"), "left")
      .withColumn("is_hot", coalesce(col("is_hot"), lit(false)))
    val ys = tagged.withColumn("salt",
      when(col("is_hot"), pmod(hash(col("id")), lit(S))).otherwise(lit(0)))
    val xs = tagged.withColumn("salt",
      explode(when(col("is_hot"), array((0 until S).map(lit): _*))
        .otherwise(array(lit(0)))))
    xs.as("x")
      .join(ys.as("y").hint("shuffle_hash"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh")
          && col("x.salt") === col("y.salt")
          && col("x.id") < col("y.id")
          && bit_count(col("x.sim").bitwiseXOR(col("y.sim"))) <= maxHamming)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.sim").bitwiseXOR(col("y.sim"))).as("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Token-window duplicate-SPAN inventory — the substring-level rung of
    * the dedup ladder (exact duplicated token spans across documents, as
    * in "Deduplicating Training Data Makes Language Models Better",
    * rather than whole near-dup documents): slide a `w`-token window
    * over every document, key each span by md5 of its space-joined
    * tokens, and report every span occurring in >= `minDocs` distinct
    * documents with its corpus-wide occurrence counts.
    *
    * md5-of-string (not xxhash64-of-token-hashes as in
    * [[shingleHashSets]]) because this output is oracle-checked
    * cross-engine; swap the key expression for the xxhash64 form when
    * auditability matters less than the string-allocation cost.
    *
    * Scale shape: one generator projection (the token array is
    * materialised once per row, each span hashed from an in-memory
    * slice — no re-tokenisation per span) -> explode -> ONE hash
    * aggregate on span_hash. count(DISTINCT id) plans as the two-phase
    * distinct-aggregate expansion with map-side partials, so a
    * pathological span repeated across the whole corpus reaches its
    * reducer as pre-combined partial rows, not raw occurrences. No
    * joins. Reference scope anchor: the reference dedups whole rows
    * only (reference: scripts/transform.py row drop_duplicates);
    * span-level dedup is LLM-curation extension surface. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     w: Int = 5, minDocs: Long = 2L): DataFrame = {
    require(w >= 1, s"span width must be >= 1, got $w")
    df.select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= w)
      .select(col("id"),
        explode(transform(sequence(lit(0), size(col("tk")) - w),
          i => md5(array_join(slice(col("tk"), i + lit(1), lit(w)), " "))))
          .as("span_hash"))
      .groupBy("span_hash")
      .agg(countDistinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Span-level dedup REMOVAL — the action [[duplicateSpans]]'s
    * inventory exists for (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ExactSubstr behavior at token-window
    * granularity): rewrite each document with every token covered by a
    * corpus-duplicated `w`-token window excised, keeping the FIRST
    * occurrence — all occurrences inside the span's min-id document are
    * kept, every occurrence elsewhere is removed. Output is
    * (`idCol`, `textCol`) with the surviving tokens space-joined (the
    * tokenizer already collapses runs of whitespace, so the join is the
    * canonical form of the untouched text too).
    *
    * Deterministic and md5-keyed throughout, so the whole rewritten
    * corpus is DuckDB-oracle-checkable. Not idempotent in the
    * adversarial case — excision can make previously-separated tokens
    * adjacent and mint a brand-new duplicated window — but a second
    * pass is a no-op whenever surviving text is span-unique (the specced
    * property); what IS guaranteed at any corpus is anti-monotone
    * coverage: every position excised at width w+1 is excised at width w
    * (each dup (w+1)-window contains two dup w-windows covering the
    * same positions).
    *
    * Scale shape: the span generator projection runs twice — once under
    * the dup-span aggregate, once under the position join — both
    * deterministic, no persist needed. The dup-span side arrives at the
    * join projected to (span_hash, first_doc) — never the text — and the
    * excise join is a hash join on span_hash (broadcast when the dup
    * inventory is small, the common case after the minDocs filter).
    * Start positions aggregate per doc with collect_set (bounded by
    * tokens/doc, not corpus size), and the rewrite is a single
    * codegen'd higher-order filter over the token array — O(tokens ×
    * dup-starts) per doc, no shuffle. */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           w: Int = 5, minDocs: Long = 2L): DataFrame = {
    require(w >= 1, s"span width must be >= 1, got $w")
    val tk = df.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("tk"))
    // (id, 0-based start, span_hash) — same generator as duplicateSpans
    val spans = tk.filter(size(col("tk")) >= w)
      .select(col("id"), posexplode(
        transform(sequence(lit(0), size(col("tk")) - w),
          i => md5(array_join(slice(col("tk"), i + lit(1), lit(w)), " ")))))
      .toDF("id", "pos", "span_hash")
    val dup = spans.groupBy("span_hash")
      .agg(countDistinct(col("id")).as("n_docs"), min(col("id")).as("first_doc"))
      .filter(col("n_docs") >= minDocs)
      .select("span_hash", "first_doc")
    // excise everywhere except the keeper (min-id) document
    val badStarts = spans.join(dup, Seq("span_hash"))
      .filter(col("id") =!= col("first_doc"))
      .groupBy("id")
      .agg(collect_set(col("pos")).as("starts"))
    exciseSpansByStarts(tk, badStarts, w, idCol, textCol)
  }

  /** Shared rewrite tail for span-excision operators: drop every token
    * covered by a flagged `w`-token start position; the rewrite is a
    * single codegen'd higher-order filter over the token array —
    * O(tokens × dup-starts) per doc, no shuffle. `tk` is (id, tk
    * tokens); `badStarts` is (id, starts array). A null-text document
    * surfaces as "" (its surviving token stream is empty), matching the
    * oracles' string_agg coalesce. */
  private[analytics] def exciseSpansByStarts(tk: DataFrame, badStarts: DataFrame,
                                             w: Int, idCol: String,
                                             textCol: String): DataFrame =
    tk.join(badStarts, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(
          when(col("starts").isNull, array_join(col("tk"), " "))
            .otherwise(array_join(
              filter(col("tk"), (_, i) =>
                !exists(col("starts"), s => s <= i && i < s + w)), " ")),
          lit("")).as(textCol))

  /** Quality-aware survivor selection over near-dup components — the
    * production variant of [[dedupVerdicts]]: production pipelines keep
    * the BEST document of each duplicate cluster (longest, highest
    * quality score), not the one that happens to carry the minimum id.
    * `scoreCol` is any integer-valued quality column already on `df`
    * (token count, a linear quality model's scaled score); the winner is
    * max score, ties broken by MIN id so the choice is a total order.
    * Returns (id, component, score, keep).
    *
    * Scale shape: components come from the same pointer-jumped
    * contraction as [[connectedComponents]]; the winner per component is
    * ONE hash aggregate `max(struct(score, -id))` — map-side partials,
    * so a degenerate giant cluster reduces locally instead of sorting a
    * hot window partition (the row_number-over-component formulation
    * would ship every member of the hottest cluster to one task). The
    * winner relation is one row per component, so the verdict join has
    * no fanout. Ids must be numeric (the tie-break negates them).
    *
    * reference: the reference keeps pandas' drop_duplicates first-wins
    * row (transform.py:96) — order-of-arrival, not quality; this
    * operator is the deliberate upgrade for corpus curation. */
  def keepBestPerComponent(df: DataFrame, idCol: String, scoreCol: String,
                           pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    // persisted: BOTH consumers below (the winner aggregate and the
    // verdict join) read scored — without the pin the whole pair-search
    // + contraction lineage recomputes twice (measured 4.8 s vs 4.0 s
    // pinned at sf0.1; q57 on the same pairs is 2.7 s, the remainder
    // being the pin's own materialization plus the two extra shuffles)
    val scored = df
      .select(col(idCol).cast("long").as("id"), col(scoreCol).cast("long").as("score"))
      .join(comps, Seq("id"), "left")
      .withColumn("component", coalesce(col("comp"), col("id")))
      .drop("comp")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val best = scored.groupBy("component")
      .agg(max(struct(col("score").as("s"), (-col("id")).as("nid"))).as("b"))
      .select(col("component"), (-col("b.nid")).as("best_id"))
    scored.join(best, Seq("component"))
      .withColumn("keep", col("id") === col("best_id"))
      .select("id", "component", "score", "keep")
  }

  /** Exact edit-distance-≤1 self-join via the SymSpell deletion
    * neighborhood: every string keys on itself plus each single-
    * deletion variant; two strings within Levenshtein 1 ALWAYS share a
    * key (substitution at p → both delete p; insertion/deletion → the
    * longer's deletion equals the shorter), so the candidate join is
    * lossless; a candidate sharing only coincidental variants (true
    * distance 2) is removed by the exact verify. The O(n²) all-pairs
    * alternative is never materialized.
    *
    * Scale shape: one explode (L+1 keys per string), one equi-join on
    * the 64-bit XXHASH of the variant key carrying ONLY (id, hash) —
    * 16 fixed bytes per row where the raw formulation ships every
    * string L+1 times through the dominant shuffle. A hash collision
    * only ADDS a candidate pair, and the exact `levenshtein` verify
    * removes it — losslessness is untouched. The candidate id-pair set
    * (bounded by near-dup density, orders of magnitude smaller than
    * the keyed relation) then picks its two strings back up by two
    * id-equi-joins before the verify. Per-key fanout = the number of
    * strings one deletion away from a given variant — bounded by
    * alphabet size × near-dup density, not corpus size (the SymSpell
    * bound). Hot keys exist only where the corpus genuinely piles
    * near-identical strings on one template. */
  def editDistance1Pairs(df: DataFrame, idCol: String,
                         strCol: String): DataFrame = {
    val s = df.select(col(idCol).as("id"), col(strCol).as("s"))
    val keyed = s.select(col("id"),
      explode(array_union(array(xxhash64(col("s"))), transform(
        sequence(lit(1), length(col("s"))),
        p => xxhash64(concat(col("s").substr(lit(1), p - 1),
          col("s").substr(p + 1, length(col("s")))))))).as("__k"))
    val cand = keyed.select(col("id").as("id_a"), col("__k"))
      .join(keyed.select(col("id").as("id_b"), col("__k")), Seq("__k"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(s.select(col("id").as("id_a"), col("s").as("s_a")), Seq("id_a"))
      .join(s.select(col("id").as("id_b"), col("s").as("s_b")), Seq("id_b"))
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= 1)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** Corpus-level overlap matrix: exact shingle-set Jaccard between
    * every pair of SOURCES (not documents) — the dedup-diagnostics view
    * that tells a curation pipeline which ingest feeds mirror each
    * other before any doc-level pass runs. Shingles here are the
    * literal n-token strings (not xxhash64 like the doc-level rungs) so
    * the numbers are engine-reproducible end-to-end.
    *
    * Scale shape: ONE shuffle of the exploded corpus — a per-shingle
    * `collect_set(source)` (partial-merged map-side; buffers bounded
    * by the SOURCE count G, not corpus size) — then the ≤ C(G,2) pairs
    * per shingle EXPLODE from the sorted set and reduce through a hash
    * aggregate whose map-side partials collapse them to ≤ G² rows per
    * task before any exchange. The self-join formulation would instead
    * ship every pair row (Σ c_sh² rows, tens of millions at sf0.1 —
    * measured 3.6 s vs 2.7 s for this shape, and the gap widens with
    * G since join fanout shuffles while explode partials reduce).
    * Per-source set sizes broadcast back onto the G² pair relation.
    * Zero-overlap pairs are absent by construction (documented). */
  def sourceOverlap(df: DataFrame, groupCol: String, textCol: String,
                    n: Int = 3): DataFrame = {
    val toks = graft.analytics.TextAnalysis.tokens(col(textCol))
    val sets = df
      .select(col(groupCol).as("__g"), toks.as("__tk"))
      .select(col("__g"), explode(array_distinct(transform(
        sequence(lit(1), greatest(size(col("__tk")) - (n - 1), lit(1))),
        i => concat_ws(" ", slice(col("__tk"), i, lit(n)))))).as("__sh"))
      .groupBy(col("__sh"))
      .agg(sort_array(collect_set(col("__g"))).as("__gs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = sets.select(explode(col("__gs")).as("__g"))
      .groupBy(col("__g")).agg(count(lit(1)).as("n"))
    val inter = sets
      .filter(size(col("__gs")) > 1)
      .select(explode(expr(
        """flatten(transform(__gs, (x, i) ->
             transform(slice(__gs, i + 2, size(__gs)), y ->
               struct(x AS src_a, y AS src_b))))""")).as("__p"))
      .select(col("__p.src_a").as("src_a"), col("__p.src_b").as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("common"))
    inter
      .join(broadcast(sizes.select(col("__g").as("src_a"), col("n").as("n_a"))),
        Seq("src_a"))
      .join(broadcast(sizes.select(col("__g").as("src_b"), col("n").as("n_b"))),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("common"), col("n_a"), col("n_b"),
        round(col("common").cast("double")
          / (col("n_a") + col("n_b") - col("common")).cast("double"), 6)
          .as("jaccard"))
  }
}
