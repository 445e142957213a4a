package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.sources.Readers

/** I1/I2: the reference's incremental semantics on Structured Streaming.
  *
  * The reference processes a daily-growing file set exactly once per
  * file, keyed by filename (reference: airflow/dags/pipeline.py:121
  * `schedule="@daily"`; snowflake_load.py:59-133 PROCESSED_FILES ledger;
  * s3_copy.py:84-99 skip-existing). Structured Streaming's checkpointed
  * file-source log IS that ledger — `Trigger.AvailableNow` drains all
  * currently-visible files then stops, which is precisely one "daily"
  * batch run; a re-run processes only files that appeared since.
  *
  * At scale: the file-source log scales to millions of files
  * (maxFilesPerTrigger bounds per-batch work); state-store aggregations
  * shuffle once on the group key and keep sketch-sized state per key.
  */
object IncrementalStream {

  /** Checkpointed incremental parquet->parquet copy: each invocation
    * processes exactly the files not seen by this checkpoint (the
    * streaming analog of the batch FileLedger). */
  def incrementalCopy(spark: SparkSession, srcDir: String, schema: StructType,
                      dstDir: String, checkpoint: String,
                      transform: DataFrame => DataFrame = identity): StreamingQuery = {
    val in = spark.readStream.schema(schema).parquet(srcDir)
    transform(in).writeStream
      .format("parquet")
      .option("path", dstDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Watermarked tumbling-window counts over an event stream — the
    * streaming form of Events.tumbling. Late data beyond the watermark is
    * dropped; state is bounded per (window, key). */
  def windowedCounts(events: DataFrame, tsCol: String, width: String,
                     watermark: String, keys: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy((window(col(tsCol), width) +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select((col("window.start").as("window_start") +: keys.map(col)) :+
        col("n") :+ col("total"): _*)

  /** Streaming exact dedup by content fingerprint: documents whose
    * normalized text was already seen inside the watermark horizon are
    * dropped — the streaming form of Dedup.exactByFingerprint for a
    * continuously-ingested corpus. `dropDuplicatesWithinWatermark`
    * bounds the fingerprint state store by event time, so state does
    * not grow with the corpus (the batch ledger's streaming analog:
    * exactly-once per CONTENT instead of per file). */
  def dedupStream(docs: DataFrame, tsCol: String, textCol: String,
                  watermark: String): DataFrame =
    docs
      .withColumn("fp", graft.analytics.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming corpus curation: the continuously-ingested form of
    * `Curation.curateCorpus`'s per-document stages — PII scrub
    * (projection), Gopher quality gates (inline feature projection +
    * filter; a stream cannot join a stats relation back onto itself),
    * then exact content dedup bounded by the watermark. Near-dedup and
    * packing stay batch jobs over the landed table (they need
    * corpus-wide state); this is the standard split: per-document work
    * at ingest, corpus-global work in the daily batch.
    *
    * Every stage is stateless except the fingerprint store, which
    * `dropDuplicatesWithinWatermark` bounds by event time — state does
    * not grow with the corpus. */
  def curateStream(docs: DataFrame, idCol: String, tsCol: String,
                   textCol: String, watermark: String,
                   minTokens: Long = 5, maxSymbolRatio: Double = 0.3,
                   minAlphaRatio: Double = 0.5): DataFrame = {
    import graft.analytics.TextAnalysis
    val scrubbed = docs.select(col(idCol), col(tsCol),
      regexp_replace(
        regexp_replace(col(textCol), TextAnalysis.EmailRe, "<EMAIL>"),
        TextAnalysis.PhoneRe, "<PHONE>").as("text"))
    val gated = scrubbed
      .select(col(idCol) +: col(tsCol) +: col("text") +:
        TextAnalysis.gopherCols(col("text")): _*)
      .filter(col("n_tokens") >= minTokens
        && col("symbol_to_word_ratio") <= maxSymbolRatio
        && col("alpha_word_ratio") >= minAlphaRatio)
      .select(col(idCol), col(tsCol), col("text"), col("n_tokens"))
    // drop the dedup fingerprint: it is internal state, not part of the
    // documented curated schema (and would silently drift the landed
    // table vs the batch-curated one)
    dedupStream(gated, tsCol, "text", watermark).drop("fp")
  }

  /** Custom-state streaming sessionization via flatMapGroupsWithState:
    * per-user state carries (session count, last event time); an event
    * later than `gapSeconds` after the previous one opens a new session.
    * Emits one row per closed-or-updated user state per batch. The
    * streaming analog of Events.sessionize, with state bounded per key
    * (the engine's custom-stateful-operator story, SURVEY §2.8). */
  final case class SessionState(nSessions: Long, nEvents: Long, lastSec: Double)
  final case class SessionUpdate(user_id: Long, n_sessions: Long, n_events: Long)

  def sessionizeStream(events: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp)],
                       gapSeconds: Long): org.apache.spark.sql.Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)], state: GroupState[SessionState]) =>
          // full microsecond precision (getTime alone truncates to
          // millis): the batch sessionize compares ts.cast(double)
          // seconds, so a gap within 1ms of the threshold must resolve
          // identically on both faces. micros/1e6 is exact in double
          // at epoch magnitude (~51 significant bits).
          val sorted = rows.map { r =>
            val ts = r._2
            (math.floorDiv(ts.getTime, 1000L) * 1000000L
              + ts.getNanos / 1000L) / 1e6
          }.toSeq.sorted
          var s = state.getOption.getOrElse(SessionState(0L, 0L, Double.NegativeInfinity))
          sorted.foreach { sec =>
            val newSession = sec - s.lastSec > gapSeconds
            s = SessionState(s.nSessions + (if (newSession) 1 else 0), s.nEvents + 1, sec)
          }
          state.update(s)
          Iterator(SessionUpdate(user, s.nSessions, s.nEvents))
      }
  }

  /** Streaming face of the batch DecayedScan custom operator
    * (plans/Recurrence): per-key exponentially-decayed running value
    *   s := (s*num) quot den + v     (truncating integer division)
    * via flatMapGroupsWithState. State per key is ONE long plus the
    * last-seen order key — bounded, watermark-free. Rows inside a
    * batch are folded in `ord` order; the PARITY CONTRACT with the
    * batch operator (same recurrence, same division semantics, so a
    * replayed stream reproduces the batch result bit-for-bit) is
    * pinned by RecurrenceSpec's streaming-parity test. Out-of-order
    * arrival ACROSS batches is the caller's contract to prevent
    * (source ordered by ord, e.g. a file-per-day feed) — the state
    * carries lastOrd and rows at-or-before it are dropped as
    * late-duplicates, matching exactly-once replay semantics. */
  final case class DecayState(s: Long, lastOrd: Long)
  final case class DecayUpdate(key: Long, ord: Long, decayed: Long)

  def decayedSumStream(rows: org.apache.spark.sql.Dataset[(Long, Long, Long)],
                       num: Long, den: Long): org.apache.spark.sql.Dataset[DecayUpdate] = {
    import rows.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[DecayState, DecayUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[(Long, Long, Long)], state: GroupState[DecayState]) =>
          var st = state.getOption.getOrElse(DecayState(0L, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer.empty[DecayUpdate]
          it.toSeq.sortBy(_._2).foreach { case (_, ord, v) =>
            if (ord > st.lastOrd) {
              // Math.*Exact to match DecayedScanExec: both faces of the
              // parity contract fail identically on overflow instead of
              // the stream silently wrapping while the batch throws.
              st = DecayState(
                Math.addExact(Math.multiplyExact(st.s, num) / den, v), ord)
              out += DecayUpdate(key, ord, st.s)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming KMV distinct-count sketch via mapGroupsWithState — the
    * streaming face of Stats.kmvDistinct, and the live proof that the
    * sketch is MERGEABLE: per-key state is just the k smallest distinct
    * 60-bit md5-prefix hashes ever seen (bounded: ≤ k longs per key);
    * each batch unions its hashes in and re-truncates — the same
    * lossless merge the batch operator's map-side WindowGroupLimit
    * performs — so after any batch split whatsoever the estimate equals
    * the batch operator on the union of the batches. Emits (key, m,
    * kth, estimate) per updated key; the estimate arithmetic is the
    * IDENTICAL expression chain as the batch side. */
  final case class KmvState(hashes: Seq[Long])
  final case class KmvUpdate(key: String, m: Long, distinct_est: Double)

  def kmvDistinctStream(rows: org.apache.spark.sql.Dataset[(String, String)],
                        k: Int = 64): org.apache.spark.sql.Dataset[KmvUpdate] = {
    require(k >= 2, "k must be >= 2")
    import rows.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    def hash60(v: String): Long =
      java.lang.Long.parseLong(
        org.apache.commons.codec.digest.DigestUtils.md5Hex("kmv1" + v)
          .substring(0, 15), 16)
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[KmvState, KmvUpdate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, batch: Iterator[(String, String)], state: GroupState[KmvState]) =>
          val prev = state.getOption.map(_.hashes).getOrElse(Seq.empty)
          // merge = union + re-truncate to the k smallest distinct
          val merged = (prev ++ batch.map(r => hash60(r._2)))
            .distinct.sorted.take(k)
          state.update(KmvState(merged))
          val m = merged.size.toLong
          val est =
            if (m < k) m.toDouble
            else {
              val raw = (k - 1).toDouble * 1152921504606846976L.toDouble /
                merged.last.toDouble
              // HALF_UP to 4 dp — the same rounding Spark's round() uses
              // on the batch side, so stream and batch stay bit-equal
              BigDecimal(raw)
                .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP)
                .toDouble
            }
          Iterator(KmvUpdate(key, m, est))
      }
  }

  /** Micro-batch warehouse upsert: maintain a key-unique "current"
    * table from a stream of updates — the streaming face of
    * Scd.upsertByKey (SCD type 1 at ingest). Each batch first reduces
    * to last-writer-wins per key on `seqCol` (a stream can deliver
    * several versions of one key in one batch; upsertByKey's contract
    * is unique-per-key), then upserts into the newest table version and
    * writes the result as `tableDir/v=<batchId>` — versioned
    * directories, because overwriting the parquet path a batch is
    * reading from is a self-destroying write. Old versions are the
    * retention story (drop or keep for time travel); readers take the
    * max version, which is complete by construction.
    *
    * At scale the per-batch cost is upsertByKey's: the current side is
    * never shuffled (anti-join on the broadcast key projection), the
    * LWW window partitions by key over only the BATCH. The version
    * listing is driver-side metadata (one directory per batch). */
  def upsertStream(updates: DataFrame, keyCols: Seq[String], seqCol: String,
                   tableDir: String, checkpoint: String): StreamingQuery = {
    import org.apache.spark.sql.expressions.Window
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val lww = batch
          .withColumn("__rn", row_number().over(
            Window.partitionBy(keyCols.map(col): _*).orderBy(col(seqCol).desc)))
          .filter(col("__rn") === 1).drop("__rn")
        // base = newest version STRICTLY BELOW this batch id: on a
        // failed-batch replay, v=<batchId> may already exist (partially
        // written) — reading it while overwriting the same path is the
        // self-destroying write the versioning exists to prevent, so a
        // replay rebuilds from the predecessor
        val next = latestVersion(spark, tableDir, below = Some(batchId)) match {
          case Some(v) =>
            graft.operators.Scd.upsertByKey(
              Readers.parquet(spark, s"$tableDir/v=$v"), lww, keyCols)
          case None => lww
        }
        next.write.mode("overwrite").parquet(s"$tableDir/v=$batchId")
        ()
      }
      .start()
  }

  /** Stream-stream last-touch attribution: each purchase joined to the
    * clicks that preceded it within `windowSeconds` on the same user —
    * the canonical two-stream correlation. BOTH sides carry watermarks
    * and the join condition bounds event-time distance, which is what
    * lets the engine expire buffered state: without the time bound (or
    * with only one watermark) the state store grows without limit and
    * a 100 TB/day stream OOMs on day one. Emits one row per
    * (purchase, qualifying click) in append mode; downstream picks
    * last-touch with a batch argmax per purchase if needed.
    *
    * Scale shape: state is per-user rows inside the watermark horizon
    * on each side — bounded by per-entity activity × window, not
    * stream length; the join itself shuffles both streams on the user
    * key once. */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      userCol: String, tsCol: String,
                      windowSeconds: Long): DataFrame = {
    val c = clicks
      .withWatermark(tsCol, s"$windowSeconds seconds")
      .select(col(userCol).as("user"), col(tsCol).as("click_ts"))
    val p = purchases
      .withWatermark(tsCol, s"$windowSeconds seconds")
      .select(col(userCol).as("p_user"), col(tsCol).as("purchase_ts"))
    p.join(c, expr(
      s"""user = p_user
          AND click_ts <= purchase_ts
          AND click_ts >= purchase_ts - INTERVAL $windowSeconds SECONDS"""))
      .select(col("user"), col("purchase_ts"), col("click_ts"))
  }

  /** Newest complete version under a versioned table dir (see
    * upsertStream), optionally restricted to versions strictly below
    * `below`. Listed through the Hadoop FileSystem of the path — a
    * java.io.File walk silently returns nothing on HDFS/S3, which
    * would reset the table to the current batch. A version counts only
    * with its _SUCCESS marker (a killed write leaves the directory
    * without one). Driver-side metadata only. */
  /** Streaming materialized-view maintenance: each micro-batch of fact
    * deltas sum-merges into a registered RollupRewrite cube, so covered
    * aggregates keep answering CURRENT totals without re-scanning fact
    * history. Replay-safe the same way upsertStream is: batch b writes
    * v=b reading from the newest complete version STRICTLY BELOW b (or
    * the initially-registered cube), so a replayed batch rebuilds from
    * its predecessor instead of double-counting itself. */
  def cubeMaintenanceStream(deltas: DataFrame, rollupName: String,
                            cubeDir: String, checkpoint: String): StreamingQuery = {
    val initial = graft.plans.RollupRewrite.cubePathOf(rollupName)
    deltas.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val from = latestVersion(spark, cubeDir, below = Some(batchId))
          .map(v => s"$cubeDir/v=$v").getOrElse(initial)
        graft.plans.RollupRewrite.refresh(spark, rollupName, batch,
          s"$cubeDir/v=$batchId", fromCubePath = Some(from))
        ()
      }
      .start()
  }

  /** Per-stream INSTANCE token for the index-maintenance streams — the
    * namespace that makes their ledgered micro-batch ids
    * (`stream-<instance>-<batchId>`) unique per stream incarnation.
    *
    * Spark's foreachBatch batchId is a PER-CHECKPOINT counter starting
    * at 0. Un-namespaced, a maintenance stream restarted with a FRESH
    * checkpoint dir against the same index (checkpoint cleanup,
    * relocation, redeploy) would re-mint `stream-000000000`, ... — ids
    * the index ledger already records from the OLD incarnation — and
    * the exactly-once replay check would silently DROP every early
    * micro-batch until the counter passed the old maximum: the
    * replay-protection discipline turned silent data loss. The token
    * closes that window:
    *
    *   - The token lives at `<checkpoint>/_graft_stream_instance`,
    *     created once per checkpoint (create-if-absent) and read back
    *     on every (re)start — a restart on the SAME checkpoint reuses
    *     it, so genuinely replayed micro-batches still align with
    *     their ledgered ids and skip as no-ops.
    *   - A FRESH checkpoint against an index whose ledger already
    *     holds `stream-` ids FAILS LOUD unless the caller passes an
    *     explicit, previously-unused `streamId`: a fresh checkpoint
    *     re-reads the whole source from scratch, so proceeding
    *     silently would re-ingest everything the old incarnation
    *     already appended — the caller must state the new identity
    *     (and position the source) deliberately.
    *   - Passing a `streamId` that DIFFERS from an existing
    *     checkpoint's persisted token fails loud too: renaming a live
    *     incarnation would re-ledger its replayed micro-batches under
    *     fresh ids — duplicates.
    *   - Declaring a new incarnation is the CALLER's statement that the
    *     source is positioned so nothing re-ingests. One residual
    *     window is theirs to drain: a micro-batch the OLD incarnation
    *     appended+ledgered whose checkpoint commit then crashed is, by
    *     definition, invisible to the new checkpoint's source log and
    *     will be re-read — under a new instance id it lands a second
    *     time. Stopping the old stream cleanly (AvailableNow drains to
    *     a quiescent checkpoint) before switching closes it.
    *
    * (The probe stream needs none of this: its exactly-once is the
    * per-batch OVERWRITE dir keyed on the checkpoint-local id, which a
    * fresh-checkpoint reprocessing simply rewrites in place.) */
  private[graft] val LegacyStreamInstance = "__legacy__"

  /** Ledgered id of one maintenance micro-batch: namespaced
    * `stream-<instance>-<batchId>` — except under the legacy sentinel,
    * where the PRE-upgrade un-namespaced form is kept so a resumed
    * pre-token checkpoint's replayed micro-batches still align with
    * the ids its incarnation already ledgered. */
  private[graft] def streamBatchLedgerId(instance: String, batchId: Long): String =
    if (instance == LegacyStreamInstance) f"stream-$batchId%09d"
    else f"stream-$instance-$batchId%09d"

  private[graft] def resolveStreamInstance(spark: SparkSession,
                                           checkpoint: String,
                                           indexPath: String,
                                           streamId: Option[String]): String = {
    streamId.foreach { sid =>
      require(sid.nonEmpty && sid.length <= 64 && !sid.contains("/") &&
          !sid.contains("-") && sid != LegacyStreamInstance,
        s"streamId must be a 1..64-char token without '/' or '-' (got " +
          s"'${sid.take(80)}') — it becomes a ledgered batch-id segment")
    }
    val f = new org.apache.hadoop.fs.Path(s"$checkpoint/_graft_stream_instance")
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fill-loop read (a short first read is contractually allowed), the
    // buffer sized from the FILE's length (a fixed 128-byte buffer
    // truncated longer tokens on read-back, turning the post-write
    // verification into a spurious concurrent-starter mismatch), and
    // blank content treated as ABSENT: a racing starter can observe the
    // winner's file created-but-unwritten, and adopting instance ""
    // would ledger ids no later restart could recover
    def readToken(): Option[String] =
      if (!fs.exists(f)) None
      else {
        val len = math.min(4096L, math.max(1L, fs.getFileStatus(f).getLen)).toInt
        val in = fs.open(f)
        try {
          val buf = new Array[Byte](len)
          var off = 0
          var n = in.read(buf, 0, buf.length)
          while (n > 0) {
            off += n
            n = if (off < buf.length) in.read(buf, off, buf.length - off) else 0
          }
          Some(new String(buf, 0, off, java.nio.charset.StandardCharsets.UTF_8).trim)
            .filter(_.nonEmpty)
        } finally in.close()
      }
    readToken() match {
      case Some(existing) =>
        streamId.filter(_ != existing).foreach { sid =>
          sys.error(s"stream instance mismatch at checkpoint $checkpoint: " +
            s"it already carries instance '$existing' but streamId '$sid' " +
            "was passed — changing the instance id of an existing " +
            "checkpoint would re-ledger its replayed micro-batches under " +
            "fresh ids (duplicates); reuse the checkpoint without a " +
            "streamId, or start a genuinely new stream on a fresh " +
            "checkpoint")
        }
        existing
      case None =>
        // LEGACY ADOPTION: a checkpoint created before the instance
        // token existed has offsets/commits but no token file. Its
        // incarnation ledgered UN-NAMESPACED `stream-NNNNNNNNN` ids, so
        // resuming it must keep emitting those (the sentinel token,
        // persisted so the adoption is decided once) — the fail-loud
        // "fresh checkpoint" path would otherwise dead-end every
        // pre-upgrade stream-maintained index: its own suggested
        // remediation ("reuse the original checkpoint") is exactly what
        // was attempted, and a new streamId would re-ingest the whole
        // source. Fail-loud stays reserved for genuinely FRESH
        // checkpoints; renaming a live legacy incarnation via an
        // explicit streamId is refused like any instance change.
        val nonFresh =
          fs.exists(new org.apache.hadoop.fs.Path(s"$checkpoint/offsets")) ||
            fs.exists(new org.apache.hadoop.fs.Path(s"$checkpoint/commits"))
        if (nonFresh) streamId.foreach { sid =>
          sys.error(s"stream instance mismatch at checkpoint $checkpoint: " +
            s"it predates the instance token (legacy un-namespaced ids) " +
            s"but streamId '$sid' was passed — changing the instance id " +
            "of an existing checkpoint would re-ledger its replayed " +
            "micro-batches under fresh ids (duplicates); reuse the " +
            "checkpoint without a streamId to resume it in legacy mode")
        }
        val priorStreamIds = graft.analytics.IndexStore
          .ledgeredBatchIds(spark, indexPath).filter(_.startsWith("stream-"))
        // legacy adoption is allowed only when the ledger itself looks
        // PRE-upgrade (no namespaced stream ids): a post-upgrade
        // checkpoint whose token FILE was lost (cleanup, partial copy)
        // has namespaced ledger entries, and adopting legacy there
        // would emit un-namespaced ids that align with nothing — a
        // replayed not-yet-committed micro-batch would land a SECOND
        // time under the new id. That state is unrecoverable silently;
        // fail with the real remediation.
        if (nonFresh && priorStreamIds.exists(_.matches("stream-[^-]+-\\d+")))
          sys.error(s"checkpoint $checkpoint has offsets but no " +
            s"_graft_stream_instance token, and the index at $indexPath " +
            s"holds NAMESPACED stream ids (like ${priorStreamIds.max}) — " +
            "the token file was lost after the upgrade. Restore it (the " +
            "instance segment of the newest ledgered id), or drain and " +
            "retire this checkpoint and declare a new incarnation with " +
            "an explicit streamId on a fresh checkpoint")
        val token = if (nonFresh) LegacyStreamInstance else streamId match {
          case Some(sid) =>
            if (priorStreamIds.exists(_.startsWith(s"stream-$sid-")))
              sys.error(s"streamId '$sid' was already used against the " +
                s"index at $indexPath (its ledger holds stream-$sid-* " +
                "batches) — a reused id would alias the old incarnation's " +
                "ledgered micro-batches and silently drop replays; pick a " +
                "fresh streamId")
            sid
          case None =>
            if (priorStreamIds.nonEmpty)
              sys.error(s"fresh checkpoint $checkpoint against the " +
                s"already-stream-maintained index at $indexPath (ledgered " +
                s"ids like ${priorStreamIds.head}): a fresh checkpoint " +
                "re-reads the whole source, so starting silently would " +
                "re-ingest everything the previous incarnation appended. " +
                "Reuse the original checkpoint to resume it, or pass an " +
                "explicit fresh streamId to declare a new incarnation " +
                "(after positioning the source so nothing is re-ingested)")
            java.util.UUID.randomUUID().toString.replace("-", "").take(12)
        }
        fs.mkdirs(f.getParent)
        try {
          val out = fs.create(f, false)
          out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          out.close()
        } catch { case _: java.io.IOException => () } // possibly a raced starter
        // ALWAYS read back the persisted token and never fall back to an
        // unpersisted one: a swallowed create failure that was NOT a race
        // (transient fault, permissions) would otherwise let the stream
        // ledger ids under a token no restart can recover — the very
        // aliasing this token exists to prevent. And if a racing starter
        // won with a DIFFERENT token than an explicitly-passed streamId,
        // that is the same instance-mismatch the existing-checkpoint
        // branch refuses.
        readToken() match {
          case None =>
            sys.error(s"could not persist the stream instance token at " +
              s"$f — refusing to start: ledgered micro-batch ids would " +
              "be unrecoverable across restarts (fix the checkpoint " +
              "location's writability and retry)")
          case Some(persisted) =>
            streamId.filter(_ != persisted).foreach { sid =>
              sys.error(s"stream instance mismatch at checkpoint " +
                s"$checkpoint: a concurrent starter persisted instance " +
                s"'$persisted' but streamId '$sid' was passed — two " +
                "different declared incarnations cannot share one " +
                "checkpoint")
            }
            persisted
        }
    }
  }

  /** Streaming ANN-index maintenance: continuously ingested embedding
    * vectors are assigned to the stored IVF-PQ index's cell geometry
    * and appended as PQ codes — serving
    * (Similarity.topKIvfPqFromIndex) reads base ∪ delta with cell
    * pruning intact, so new vectors are retrievable without an index
    * rebuild (the daily-ingest face of the ANN ladder).
    *
    * Geometry is RE-PINNED PER MICRO-BATCH (a driver-side KB-scale
    * centroid+codebook read in foreachBatch): the round-10 face
    * collected it once at query start, so an index REBUILD installing
    * mid-stream left every later micro-batch encoding with the
    * superseded codebook — old-codebook rows the new version never
    * folds. With the per-batch re-pin the stream SELF-HEALS across a
    * rebuild: the first micro-batch after the install encodes with the
    * retrained geometry, no restart or fresh checkpoint needed. The
    * narrow residual race (a rebuild installing between a batch's pin
    * and its ledger commit) is closed by the write-then-recheck-then-
    * ledger discipline inside Similarity.appendEncodedStreamBatch —
    * the batch fails LOUD with its rows unledgered (invisible), and
    * the checkpoint replays it against the new geometry on restart.
    *
    * Assignment still runs the stateless literal-expression form
    * (Similarity.encodeForIndex — kept bit-equal to the batch face's
    * relational max_by by the q322 verdict differential); each
    * micro-batch lands as its own ledgered
    * `batch=stream-<instance>-<id>` partition through the SAME
    * exactly-once overwrite+ledger-last discipline as daily appends
    * (foreachBatch is at-least-once; a replayed micro-batch id is
    * already ledgered and skips). The `<instance>` segment is the
    * per-stream token from [[resolveStreamInstance]]: ids are scoped
    * to the stream incarnation, so a FRESH checkpoint can never alias
    * (and silently skip) a previous incarnation's ledgered
    * micro-batches — it fails loud instead unless `streamId` declares
    * the new incarnation. One delta discipline for both maintenance
    * faces also means compaction, rebuild fold snapshots and vacuum
    * see streaming rows as ordinary ledgered batches — no separate
    * stream-file machinery to reconcile. */
  def ivfPqMaintenanceStream(newVecs: DataFrame, idCol: String, vecCol: String,
                             indexPath: String, checkpoint: String,
                             streamId: Option[String] = None): StreamingQuery =
    ivfPqMaintenanceStream(newVecs, idCol, vecCol, indexPath, checkpoint,
      streamId, _ => ())

  /** [[ivfPqMaintenanceStream]] with a barrier hook invoked before each
    * micro-batch's geometry pin — lets a spec install a rebuild between
    * two micro-batches deterministically. No-op in production. */
  private[graft] def ivfPqMaintenanceStream(newVecs: DataFrame, idCol: String,
                                            vecCol: String, indexPath: String,
                                            checkpoint: String,
                                            streamId: Option[String],
                                            onBatchStart: Long => Unit): StreamingQuery = {
    val instance = resolveStreamInstance(newVecs.sparkSession, checkpoint,
      indexPath, streamId)
    newVecs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatchStart(batchId)
        val spark = batch.sparkSession
        // per-batch pin: centroids + codebook from ONE live version
        val (centroids, codebook) =
          graft.analytics.Similarity.frozenGeometryOf(spark, indexPath)
        val encoded = graft.analytics.Similarity
          .encodeForIndex(batch, idCol, vecCol, centroids, codebook)
        // encoded rows carry (id, cell, pq_code, cb_fp) — land them as
        // a ledgered stream batch (overwrite + recheck + ledger-last)
        graft.analytics.Similarity.appendEncodedStreamBatch(
          spark, indexPath, encoded, streamBatchLedgerId(instance, batchId),
          graft.analytics.Similarity.codebookFp(codebook))
        ()
      }
      .start()
  }

  /** Streaming MinHash-index maintenance — the text sibling of
    * [[ivfPqMaintenanceStream]]: each micro-batch of newly ingested
    * documents is shingle-hashed and banded with the index's OWN
    * stored parameters and landed as one ledgered
    * `batch=stream-<instance>-<id>` append
    * ([[graft.analytics.Dedup.appendToMinhashIndex]] in foreachBatch —
    * overwrite + params-recheck + ledger-last), so new corpus
    * documents are probe-visible without an index rebuild. The
    * `<instance>` segment scopes ledgered ids to the stream
    * incarnation ([[resolveStreamInstance]]): a FRESH checkpoint
    * cannot alias — and silently skip — a previous incarnation's
    * ledgered micro-batches; it fails loud unless `streamId` declares
    * the new incarnation.
    *
    * Parameters are RE-READ PER MICRO-BATCH from the self-describing
    * meta (the append face does this), so a parameter rebuild
    * ([[graft.analytics.Dedup.rebuildMinhashIndex]]) installing
    * mid-stream doesn't strand the stream on the old bucket space: the
    * next micro-batch re-derives under the new parameters — and the
    * residual race (a rebuild flipping the meta between a batch's
    * derive and its ledger commit) fails LOUD inside the append with
    * the batch unledgered, for the checkpoint to replay. Atomicity is
    * the ledger commit: a document's shingle set and band buckets
    * become visible TOGETHER (both component dirs are gated by the one
    * ledger row — the per-doc pairing the round-10 combined sink
    * existed for, now carried by the same exactly-once discipline the
    * daily appends use; a replayed micro-batch id is already ledgered
    * and skips). */
  def minhashMaintenanceStream(newDocs: DataFrame, idCol: String,
                               textCol: String, indexPath: String,
                               checkpoint: String,
                               streamId: Option[String] = None): StreamingQuery = {
    val instance = resolveStreamInstance(newDocs.sparkSession, checkpoint,
      indexPath, streamId)
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.analytics.Dedup.appendToMinhashIndex(batch, idCol, textCol,
          indexPath, streamBatchLedgerId(instance, batchId))
        ()
      }
      .start()
  }

  /** Streaming near-dup PROBE against a stored MinHash index — the
    * query-side sibling of [[minhashMaintenanceStream]] (that one keeps
    * the index fresh; this one asks it questions): every micro-batch of
    * newly ingested documents is probed against corpus history
    * ([[graft.analytics.Dedup.probeMinhashIndex]] — batch-side
    * signatures broadcast into map-side corpus scans, never a corpus
    * shuffle) and the verified pairs land under `outDir/batch=<id>`.
    * Continuous dedup-at-ingest: a downstream consumer reads `outDir`
    * to quarantine near-duplicate arrivals the moment they land.
    *
    * foreachBatch, not a stateful stream op: the probe is a per-batch
    * JOIN against a stored artifact, with no cross-batch state.
    * Exactly-once by the per-batch OVERWRITE dir keyed on the sink's
    * own batch id — a replayed micro-batch rewrites its own directory
    * with the same rows instead of appending a second copy (the same
    * idempotence discipline as the ledgered index appends). Probe
    * results are per-document, so the micro-batch split never changes
    * the union of outputs (pinned by the q330 verdict differential). */
  def minhashProbeStream(newDocs: DataFrame, idCol: String, textCol: String,
                         indexPath: String, outDir: String,
                         checkpoint: String,
                         num: Long = 1, den: Long = 5): StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.analytics.Dedup.probeMinhashIndex(batch.sparkSession,
            indexPath, batch, idCol, textCol, num, den)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        ()
      }
      .start()

  def latestVersion(spark: SparkSession, tableDir: String,
                    below: Option[Long] = None): Option[Long] = {
    val path = new org.apache.hadoop.fs.Path(tableDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
      .filter(v => below.forall(v < _))
      .filter(v => fs.exists(
        new org.apache.hadoop.fs.Path(s"$tableDir/v=$v/_SUCCESS")))
      .sorted(Ordering[Long].reverse).headOption
  }

  /** Run a streaming aggregation over a bounded source to completion
    * into an in-memory table (test/verification harness). */
  def runToMemory(agg: DataFrame, name: String, outputMode: String = "complete"): Unit = {
    val q = agg.writeStream
      .format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
