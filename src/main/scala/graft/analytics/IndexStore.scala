package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import graft.sources.Readers

/** Shared storage discipline of the two persisted index families
  * (MinHash-LSH: `shingles`/`bands`; IVF-PQ: `codes`). Each component
  * lives in sibling locations under the index path:
  *
  *   `<component>/v=<N>/`      — VERSIONED base: v=0 is the offline
  *                               build, each compaction/rebuild installs
  *                               v=N+1. A version is complete iff BOTH
  *                               its data `_SUCCESS` and its fold
  *                               manifest's `_SUCCESS` exist; readers
  *                               resolve the max complete version.
  *   `<component>_folds/v=<N>/`— version N's FOLD MANIFEST (kind, ref):
  *                               the batch ids whose rows are already
  *                               merged INTO base v=N. Cumulative
  *                               across versions; written strictly
  *                               LAST, so its `_SUCCESS` is the atomic
  *                               install point of the version.
  *   `<component>_delta/`      — batch appends, one `batch=<id>`
  *                               partition per append, gated by the
  *                               index's `_ledger` (exactly-once: a
  *                               replayed batch id is skipped, a retried
  *                               half-write overwrites its own dir).
  *                               STREAMING maintenance lands here too:
  *                               each micro-batch is an ordinary
  *                               ledgered `batch=stream-<id>` append
  *                               (foreachBatch + overwrite +
  *                               ledger-last), so daily jobs and
  *                               streams share ONE delta discipline —
  *                               one visibility rule, one fold
  *                               currency, one compaction/vacuum path.
  *
  * Readers (probe/serve), the health reports and the compactors all
  * assemble the SAME relation: base(pinned version) ∪ ledgered batch
  * delta NOT folded into that version — resolved through ONE [[Pin]]
  * per assembly, so a reader can never mix one version's base with
  * another's fold list.
  * Because deltas are excluded by the fold manifest rather than by
  * deletion, compaction is ONLINE and atomic for readers: a reader
  * resolving mid-compaction sees either the old version (with the
  * deltas it hasn't folded) or the new one (with them folded in) — two
  * bit-equal relations — and a crash at ANY point leaves only an
  * invisible incomplete version, never a double-visible delta
  * (re-running compaction can't bake duplicates: the merge input is
  * itself fold-excluded). Folded dirs and old versions are
  * garbage-collected by the separate vacuum step, which — unlike
  * compaction — must run quiesced (an in-flight reader pinned to an
  * old version would lose files mid-scan): the lakehouse OPTIMIZE
  * (online) vs VACUUM (retention-gated) split.
  *
  * Fold manifests are cumulative and never rewritten, so a manifest's
  * row count is bounded by total batches appended (micro-batches
  * included) over the index's lifetime — the same order as the `_ledger`
  * the design already carries (one driver-side KB-scale read per Pin;
  * refs whose dirs vacuum has deleted are dead weight in a set-membership
  * test, not a scan).
  *
  * The exactly-once batch contract mirrors the reference's name-keyed
  * PROCESSED_FILES ledger (snowflake_load.py:108-133) applied to index
  * artifacts.
  */
private[graft] object IndexStore {

  /** Ledger folder key for appended index batches. */
  val IndexBatchFolder = "index_batches"

  /** Ledger folder key for full index rebuilds (retrain + re-encode). */
  val IndexRebuildFolder = "index_rebuilds"

  /** Is `batchId` already ledgered at this index? (A replayed append
    * must be a no-op.) */
  def batchAlreadyAppended(spark: SparkSession, path: String,
                           batchId: String): Boolean =
    graft.operators.FileLedger
      .unprocessed(spark, s"$path/_ledger", IndexBatchFolder, Seq(batchId))
      .isEmpty

  /** Record a fully-committed batch append — call strictly AFTER every
    * component write committed (ledger-last fails the recoverable way:
    * a crash between data and ledger re-runs the idempotent overwrite). */
  def ledgerBatch(spark: SparkSession, path: String, batchId: String): Unit =
    graft.operators.FileLedger.append(spark, s"$path/_ledger",
      Seq((IndexBatchFolder, batchId)))

  /** Is `rebuildId` already ledgered? (A replayed rebuild is a no-op.) */
  def rebuildAlreadyDone(spark: SparkSession, path: String,
                         rebuildId: String): Boolean =
    graft.operators.FileLedger
      .unprocessed(spark, s"$path/_ledger", IndexRebuildFolder, Seq(rebuildId))
      .isEmpty

  /** Record a fully-installed rebuild (ledger-last, like batches). */
  def ledgerRebuild(spark: SparkSession, path: String, rebuildId: String): Unit =
    graft.operators.FileLedger.append(spark, s"$path/_ledger",
      Seq((IndexRebuildFolder, rebuildId)))

  /** Batch ids the index ledger records, driver-side, deterministically
    * ordered. Bounded by one row per appended batch — days of
    * operation, thousands at most. */
  def ledgeredBatchIds(spark: SparkSession, path: String): Array[String] =
    graft.operators.FileLedger.load(spark, s"$path/_ledger")
      .filter(col("folder_name") === IndexBatchFolder)
      .select("file_name").distinct().collect().map(_.getString(0)).sorted

  // ---------------------------------------------------------------- //
  // Versioned base + fold manifests
  // ---------------------------------------------------------------- //

  private def hfs(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hp(p: String) = new org.apache.hadoop.fs.Path(p)

  def versionDir(path: String, component: String, v: Long): String =
    s"$path/$component/v=$v"

  def foldsDir(path: String, component: String, v: Long): String =
    s"$path/${component}_folds/v=$v"

  /** A version is COMPLETE iff both its data write and its fold
    * manifest committed (`_SUCCESS` each). The fold manifest is written
    * strictly last, so its `_SUCCESS` creation is the single atomic
    * install point a concurrent reader races against. */
  private def isComplete(spark: SparkSession, path: String,
                         component: String, v: Long): Boolean = {
    val fs = hfs(spark, path)
    fs.exists(hp(s"${versionDir(path, component, v)}/_SUCCESS")) &&
      fs.exists(hp(s"${foldsDir(path, component, v)}/_SUCCESS"))
  }

  /** Max complete version of a component — the one readers resolve.
    * None when the index was never built. */
  def liveVersion(spark: SparkSession, path: String,
                  component: String): Option[Long] = {
    val dir = hp(s"$path/$component")
    val fs = hfs(spark, path)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
      .filter(isComplete(spark, path, component, _))
      .sorted(Ordering[Long].reverse).headOption
  }

  /** One reader's atomic resolution of a component: the version it will
    * read plus THAT version's fold manifest. Every assembly (probe,
    * serve, health, compaction input) snapshots exactly one Pin —
    * mixing the base of one version with the folds of another would
    * drop or double rows across a concurrent install. */
  final case class Pin(v: Long, foldedBatches: Set[String])

  def pinOf(spark: SparkSession, path: String, component: String): Pin = {
    val v = liveVersion(spark, path, component).getOrElse(
      sys.error(s"no complete version of index component $path/$component"))
    Pin(v, foldsAt(spark, path, component, v))
  }

  private def foldsAt(spark: SparkSession, path: String, component: String,
                      v: Long): Set[String] =
    Readers.parquet(spark, foldsDir(path, component, v))
      .select("kind", "ref").collect()
      .filter(_.getString(0) == "batch").map(_.getString(1)).toSet

  def readBaseAt(spark: SparkSession, path: String, component: String,
                 pin: Pin): DataFrame =
    Readers.parquet(spark, versionDir(path, component, pin.v))

  def readBase(spark: SparkSession, path: String, component: String): DataFrame =
    readBaseAt(spark, path, component, pinOf(spark, path, component))

  /** Install version `v`: write its cumulative fold manifest. The data
    * under `versionDir(v)` (and any version-scoped meta) must already
    * be fully written — this parquet write's `_SUCCESS` is the commit
    * point that makes the version live.
    *
    * The manifest also records the version's parquet FILE COUNT (one
    * `("base_files", "<n>")` row — [[foldsAt]] filters kind == "batch",
    * so fold semantics never see it): the health reports' file census
    * ([[liveComponentFiles]]) would otherwise stat every reader-visible
    * file serially on the driver — minutes of RPC at a 100 TB index's
    * ~10^5 files for a number the WRITER already knew at install time.
    * Recording it here makes the census O(unfolded deltas), flat in
    * corpus size. Every install path counts its freshly-written dir
    * (one driver listing of files it just created — metadata still hot)
    * and passes it; a manifest without the row (pre-upgrade version)
    * falls back to listing. */
  def commitFolds(spark: SparkSession, path: String, component: String,
                  v: Long, batchIds: Set[String],
                  baseFiles: Option[Long] = None): Unit = {
    import spark.implicits._
    (batchIds.toSeq.sorted.map(("batch", _)) ++
        baseFiles.map(n => ("base_files", n.toString)).toSeq)
      .toDF("kind", "ref")
      .coalesce(1).write.mode("overwrite")
      .parquet(foldsDir(path, component, v))
  }

  /** Parquet data-file count of a written version dir, via Spark's
    * PARALLEL file listing (InMemoryFileIndex fans the stat calls out
    * across threads/tasks): the serial driver loop costs 3-5 ms per
    * stat on object stores and this box's local fs — measured ~10 s
    * per install at a 1024-bucket layout, which would make recording
    * the count cost more than the census it saves. Falls back to the
    * serial count when Spark cannot read the dir (absent/empty). */
  def countDataFiles(spark: SparkSession, dir: String): Long =
    try Readers.parquet(spark, dir).inputFiles
      .count(_.endsWith(".parquet")).toLong
    catch { case _: Exception =>
      graft.operators.Layout.nParquetFiles(spark, dir) }

  /** Parquet file count of version `v`'s data dir as recorded in its
    * fold manifest at install time; None for pre-upgrade manifests. */
  private def recordedBaseFiles(spark: SparkSession, path: String,
                                component: String, v: Long): Option[Long] =
    Readers.parquet(spark, foldsDir(path, component, v))
      .select("kind", "ref").collect()
      .collectFirst { case r if r.getString(0) == "base_files" =>
        r.getString(1).toLong }

  /** Drop a half-written (crashed, incomplete) next-version attempt so
    * a re-run starts clean. Refuses to touch a complete version. */
  def dropIncompleteVersion(spark: SparkSession, path: String,
                            component: String, v: Long): Unit = {
    require(!isComplete(spark, path, component, v),
      s"refusing to drop complete version v=$v of $path/$component")
    val fs = hfs(spark, path)
    Seq(versionDir(path, component, v), foldsDir(path, component, v))
      .foreach(d => if (fs.exists(hp(d))) fs.delete(hp(d), true))
  }

  // ---------------------------------------------------------------- //
  // Delta readers (fold-aware)
  // ---------------------------------------------------------------- //

  /** Ledgered, NOT-folded-at-`pin` batch ids — the delta population a
    * reader of that version must union in. */
  def unfoldedBatchIds(spark: SparkSession, path: String,
                       pin: Pin): Seq[String] =
    ledgeredBatchIds(spark, path).toSeq.filterNot(pin.foldedBatches)

  /** The ledgered batch delta of an index component at `pin`: every
    * `batch=<id>` partition of `<path>/<component>_delta` whose id the
    * ledger records AND the pinned version has not folded. The `isin`
    * over the driver-side id list is a PartitionFilter, so unledgered
    * (crashed, never-retried) and folded batch dirs are skipped at
    * file-listing time.
    *
    * The delta dir is read with an EXPLICIT schema — the component's
    * data schema plus `batch: string` — so the `batch` partition
    * column's type can never be inferred from directory names: an
    * all-numeric id with a leading zero (`batch=007`) would otherwise
    * infer as int 7 while the ledger stores the string "007", putting a
    * cast in the middle of the exactly-once `isin` comparison. */
  def ledgeredDelta(spark: SparkSession, path: String, component: String,
                    pin: Pin, schemaFrom: StructType,
                    selectCols: Seq[String]): Option[DataFrame] = {
    val dir = hp(s"$path/${component}_delta")
    if (!hfs(spark, path).exists(dir)) None
    else {
      val ids = unfoldedBatchIds(spark, path, pin)
      if (ids.isEmpty) None
      else Some(spark.read
        .schema(schemaFrom.add("batch", StringType, nullable = false))
        .parquet(dir.toString)
        .filter(col("batch").isin(ids: _*))
        .select(selectCols.map(col): _*))
    }
  }

  /** Full stored relation of an index component: base(pin) ∪ unfolded
    * ledgered delta — the single visibility rule. Streaming maintenance
    * lands as ledgered `batch=stream-<id>` appends, so this one
    * assembly covers batch jobs and streams alike. */
  def storedComponent(spark: SparkSession, path: String,
                      component: String): DataFrame = {
    val pin = pinOf(spark, path, component)
    val base = readBaseAt(spark, path, component, pin)
    val cols = base.columns.toSeq
    ledgeredDelta(spark, path, component, pin, base.schema, cols)
      .map(base.select(cols.map(col): _*).unionByName(_))
      .getOrElse(base.select(cols.map(col): _*))
  }

  // ---------------------------------------------------------------- //
  // Online compaction + quiesced vacuum
  // ---------------------------------------------------------------- //

  /** Data files a reader at `pin` opens for this component. The BASE
    * term comes from the count the installing writer recorded in the
    * fold manifest ([[commitFolds]]) — one KB-scale manifest read
    * instead of a recursive listing that stats every base file serially
    * on the driver (the census was measured growing 1.08→5.48 s across
    * two decades purely on the bucket-dir layout; at ~10^5 files it is
    * minutes of RPC). Only the UNFOLDED deltas — day-sized between
    * compactions — are listed, so the census is flat in corpus size.
    * Pre-upgrade manifests (no recorded count) fall back to listing. */
  def liveComponentFiles(spark: SparkSession, path: String,
                         component: String, pin: Pin): Long = {
    val base = recordedBaseFiles(spark, path, component, pin.v)
      .getOrElse(graft.operators.Layout
        .nParquetFiles(spark, versionDir(path, component, pin.v)))
    val delta = unfoldedBatchIds(spark, path, pin)
      .map(id => graft.operators.Layout
        .nParquetFiles(spark, s"$path/${component}_delta/batch=$id")).sum
    base + delta
  }

  /** ONLINE compaction of one component: merge base(live) ∪ a SNAPSHOT
    * of the unfolded deltas into `v=live+1` via the family-supplied
    * `write`, then install it by committing the cumulative fold
    * manifest. Readers are never disturbed: until the manifest's
    * `_SUCCESS` exists they resolve the old version (deltas unfolded);
    * after, the new one (deltas folded) — bit-equal relations. A crash
    * anywhere leaves an incomplete, invisible attempt that the next run
    * drops and redoes; delta rows can never become double-visible
    * because visibility subtracts the manifest, not the filesystem.
    * Batches appended AFTER the snapshot (daily or streaming) stay
    * visible as delta under the new version too (their refs are not in
    * its manifest) — concurrent WRITERS are safe as well.
    *
    * `write` receives (merged rows relation, row count, destination
    * dir, the version number being installed) — families with
    * version-scoped sidecars (IVF-PQ meta) carry them forward by
    * number instead of parsing the destination path.
    *
    * Returns (reader-visible files before, files after, merged rows). */
  def compactComponent(spark: SparkSession, path: String, component: String,
                       write: (DataFrame, Long, String, Long) => Unit): (Long, Long, Long) = {
    val pin = pinOf(spark, path, component)
    val newIds = unfoldedBatchIds(spark, path, pin)
    val base = readBaseAt(spark, path, component, pin)
    val cols = base.columns.toSeq
    // merge from the EXACT snapshot (newIds), never by re-reading the
    // ledger: a batch appended between the snapshot and the merge must
    // stay OUT of the new base (it stays out of its fold manifest), or
    // it would be visible twice under the new version
    val merged =
      if (newIds.isEmpty) base.select(cols.map(col): _*)
      else base.select(cols.map(col): _*).unionByName(
        spark.read
          .schema(base.schema.add("batch", StringType, nullable = false))
          .parquet(s"$path/${component}_delta")
          .filter(col("batch").isin(newIds: _*))
          .select(cols.map(col): _*))
    val before = liveComponentFiles(spark, path, component, pin)
    val next = pin.v + 1
    dropIncompleteVersion(spark, path, component, next)
    val rows = merged.count()
    write(merged, rows, versionDir(path, component, next), next)
    // count the freshly-written dir BEFORE the install commit and
    // record it in the manifest — the file census then reads the
    // number instead of re-listing the base (see liveComponentFiles)
    val after = countDataFiles(spark, versionDir(path, component, next))
    commitFolds(spark, path, component, next, pin.foldedBatches ++ newIds,
      baseFiles = Some(after))
    (before, after, rows)
  }

  /** Incomplete-attempt retention: an incomplete version younger than
    * this is presumed to be a compactor's or rebuild's IN-FLIGHT
    * install and is left for it to commit; only attempts older than the
    * TTL are treated as crashed and collected (the Delta-VACUUM
    * uncommitted-file retention trade). 24h — far beyond any single
    * compaction/rebuild run, far below a daily vacuum cadence. The
    * same TTL ages a crashed holder's [[withMaintenanceLease]] lock. */
  val IncompleteAttemptTtlMs: Long = 24L * 3600 * 1000

  /** Exclusive MAINTENANCE lease over one index: compaction, rebuild
    * and vacuum each run inside it, so two maintenance jobs racing the
    * same index (a mis-scheduled cron next to a manual run — the one
    * concurrency class the TTL-gated vacuum alone does not close,
    * because an ACTIVE compactor's dropIncompleteVersion could still
    * destroy another ACTIVE compactor's half-written attempt) fail
    * LOUD at acquisition instead of corrupting each other's installs.
    * READERS and APPENDS are never leased — serving/probing stay
    * online through every maintenance pass, and appends are protected
    * by their own write-then-recheck-then-ledger discipline.
    *
    * Mechanism: create `<path>/_maintenance_lock` with
    * create-if-absent — atomic on HDFS-semantics filesystems (HDFS,
    * local, ABFS); on S3-like object stores it is check-then-write,
    * so there the lease is best-effort mutual exclusion and the
    * row-stamp guards + fold-manifest install discipline remain the
    * correctness backstop (a raced install still degrades loud, never
    * silent). A fresh existing lock means another maintenance job
    * holds the lease → named error; a lock older than `staleTtlMs` is
    * a crashed holder's debris and is broken. The lease is released
    * in a finally, so a FAILED maintenance pass (e.g. a guard tripping
    * on foreign rows) never wedges the index — only a killed PROCESS
    * leaves a lock, and the TTL ages it out.
    *
    * The lease is OWNER-CHECKED: the lock file carries a unique holder
    * token plus its CREATE TIMESTAMP (staleness is judged from the
    * content, never from mtime — a copy-based rename on an object
    * store resets mtime, which would make stale debris look perpetually
    * fresh and wedge maintenance), and both the stale-break and the
    * release operate only on the lock they can prove is theirs to
    * touch —
    *   - BREAK captures the lock by atomic RENAME to a breaker-unique
    *     name, then re-checks the captured file's content age: two
    *     jobs that both observed a stale lock cannot both break it
    *     (one rename wins), and a breaker whose observation went stale
    *     — the debris was already broken and a NEW holder's fresh lock
    *     took the path before its rename — hands the capture straight
    *     back and fails loud. If even the hand-back loses (a third job
    *     re-locked the path first), the captured file is LEFT in place
    *     under its breaker-unique name rather than deleted: it may be
    *     the live holder's lease, and destroying it is never ours to
    *     do. Such debris (and any crashed breaker's) is swept by the
    *     next successful acquirer once it ages past the TTL.
    *   - RELEASE is rename-fenced, the same discipline as the break:
    *     after the owner-check read matches, the lock is CAPTURED by
    *     atomic rename to a holder-unique `.releasing.` name and the
    *     captured file's token re-verified before the delete — a
    *     release racing a break+reacquire captures the successor's
    *     lock, sees a foreign token, and hands it straight back
    *     instead of deleting it. A holder that outlived the TTL and
    *     was broken finds a successor's token (or nothing) at the
    *     first read and skips entirely; its own pass keeps running
    *     unprotected — exactly the state breaking a stale lock
    *     declares — and the install-point atomicity plus the
    *     row-stamp guards remain the correctness backstop. Transient
    *     read faults are retried with backoff; a lock unreadable
    *     after retries proves nothing and the delete is skipped. */
  def withMaintenanceLease[T](spark: SparkSession, path: String, op: String,
                              staleTtlMs: Long = IncompleteAttemptTtlMs,
                              // spec hook, fired between the release's
                              // owner-check read and its capture rename —
                              // lets a test interleave a break+reacquire
                              // inside the exact window the rename fence
                              // closes. No-op in production.
                              releaseRaceHook: () => Unit = () => ())(body: => T): T = {
    val fs = hfs(spark, path)
    val lock = hp(s"$path/_maintenance_lock")
    val token = s"$op-${java.util.UUID.randomUUID().toString}"
    def tryAcquire(): Boolean =
      try {
        val out = fs.create(lock, false)
        out.write(s"$token|${System.currentTimeMillis()}"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.close()
        true
      } catch { case _: java.io.IOException => false }
    // One lock-file read, three-way: the distinction between GONE and
    // UNREADABLE is load-bearing — a transient read fault (object-store
    // throttling) on a LIVE holder's lock must read as "can't prove
    // anything" (treated as fresh: refuse to break, skip deletes),
    // never as "infinitely stale" (which would let the fault break and
    // delete a live lease). Content is read with a fill loop — a short
    // first read is contractually allowed and a truncated token or
    // timestamp would garble both the owner check and the staleness
    // judgment.
    sealed trait LockRead
    case object LockGone extends LockRead
    case object LockUnreadable extends LockRead
    final case class LockHeld(tok: String, createdAt: Long) extends LockRead
    def lockInfo(p: org.apache.hadoop.fs.Path): LockRead =
      try {
        val in = fs.open(p)
        val content = try {
          val buf = new Array[Byte](256)
          var off = 0
          var n = in.read(buf, 0, buf.length)
          while (n > 0) {
            off += n
            n = if (off < buf.length) in.read(buf, off, buf.length - off) else 0
          }
          new String(buf, 0, off, java.nio.charset.StandardCharsets.UTF_8)
        } finally in.close()
        val (tok, created) = content.lastIndexOf('|') match {
          case -1 => (content, fs.getFileStatus(p).getModificationTime)
          case i => (content.substring(0, i),
            scala.util.Try(content.substring(i + 1).trim.toLong)
              .getOrElse(fs.getFileStatus(p).getModificationTime))
        }
        LockHeld(tok, created)
      } catch {
        case _: java.io.FileNotFoundException => LockGone
        case _: java.io.IOException => LockUnreadable
      }
    def ageOf(p: org.apache.hadoop.fs.Path): Long = lockInfo(p) match {
      case LockHeld(_, createdAt) => System.currentTimeMillis() - createdAt
      case LockGone => Long.MaxValue
      case LockUnreadable => 0L // can't prove staleness: treat as fresh
    }
    def sweepBreakDebris(): Unit =
      try {
        fs.listStatus(hp(path)).toSeq
          .filter { st =>
            val n = st.getPath.getName
            n.startsWith("_maintenance_lock.breaking.") ||
              n.startsWith("_maintenance_lock.releasing.")
          }
          .filter(st => ageOf(st.getPath) >= staleTtlMs)
          .foreach(st => fs.delete(st.getPath, false))
      } catch { case _: java.io.IOException => () }
    if (!tryAcquire()) {
      val holderAge = ageOf(lock)
      if (holderAge < staleTtlMs)
        sys.error(s"maintenance already in progress on index at $path " +
          s"(fresh _maintenance_lock, age ${holderAge}ms < ttl " +
          s"${staleTtlMs}ms) — refusing to start '$op' concurrently; " +
          "wait for the holder to finish (a crashed holder's lock ages " +
          "out after the ttl)")
      // crashed holder: CAPTURE the stale lock by atomic rename (only
      // one breaker's rename can succeed), then re-verify the capture
      // really is the stale debris — if a racing breaker already broke
      // it and a new holder's FRESH lock took the path, hand it back
      val captured = hp(s"$path/_maintenance_lock.breaking.$token")
      val renamed = try fs.rename(lock, captured)
        catch { case _: java.io.IOException => false }
      if (renamed) {
        // ageOf treats an unreadable capture as FRESH, so the
        // conservative branch below restores it instead of deleting
        // what might be a live lease behind a transient read fault
        if (ageOf(captured) < staleTtlMs) {
          // captured a LIVE lease: restore it; if the path was re-locked
          // meanwhile, leave the capture as named debris (the TTL sweep
          // collects it) — deleting a file that may be a live holder's
          // lease is never ours to do
          try fs.rename(captured, lock)
          catch { case _: java.io.IOException => () }
          sys.error(s"lost the race breaking a stale maintenance lock " +
            s"on $path — a new holder locked it first; not starting '$op'")
        }
        fs.delete(captured, false)
      }
      if (!tryAcquire())
        sys.error(s"lost the race breaking a stale maintenance lock on " +
          s"$path — another job acquired it; not starting '$op'")
    }
    sweepBreakDebris()
    try body finally {
      // Owner-checked, RENAME-FENCED release: the round-12 release read
      // the lock and deleted on token match, leaving a read-vs-delete
      // window (token matched, then a breaker captured and a successor
      // locked before the delete landed → the blind delete unlocked the
      // index under the successor). Now the release CAPTURES the lock
      // by atomic rename to a holder-unique name first: if the rename
      // raced a break, what it captured is re-verified by CONTENT — a
      // successor's token means "not ours", and the capture is handed
      // straight back. Deleting only a file that has been renamed away
      // from the lock path AND still carries our token can never unlock
      // anyone else. Residuals, both degrading to states the TTL break
      // already accepts: (a) a failed hand-back (a third job locked the
      // path inside the rename-back window) leaves the successor's
      // captured lease as named `.releasing.` debris for the TTL sweep
      // — the successor runs unprotected, exactly what breaking its
      // predecessor's stale lock declared possible; (b) a transient
      // read fault is retried with backoff (an unreadable lock after
      // retries proves nothing, so the delete is skipped — a healthy
      // holder may leave its own lock to age out rather than risk
      // deleting a successor's).
      def readWithRetry(p: org.apache.hadoop.fs.Path): LockRead = {
        var attempt = 0
        var r: LockRead = lockInfo(p)
        while (r == LockUnreadable && attempt < 3) {
          Thread.sleep(50L << attempt)
          attempt += 1
          r = lockInfo(p)
        }
        r
      }
      readWithRetry(lock) match {
        case LockHeld(`token`, _) =>
          releaseRaceHook()
          val capture = hp(s"$path/_maintenance_lock.releasing.$token")
          val renamed = try fs.rename(lock, capture)
            catch { case _: java.io.IOException => false }
          if (renamed) readWithRetry(capture) match {
            case LockHeld(`token`, _) => fs.delete(capture, false); ()
            case _ =>
              // captured a successor's lock inside the race window:
              // restore it; if a third job re-locked the path first,
              // leave the capture as named debris (TTL sweep)
              try { fs.rename(capture, lock); () }
              catch { case _: java.io.IOException => () }
          }
        case _ => ()
      }
    }
  }

  /** Newest file modification time under `dirs` (the dirs' own mtimes
    * when empty) — how vacuum ages an incomplete attempt. Driver-side;
    * an attempt holds one version's files. */
  private def newestMtime(fs: org.apache.hadoop.fs.FileSystem,
                          dirs: Seq[org.apache.hadoop.fs.Path]): Long =
    dirs.filter(fs.exists).flatMap { d =>
      val files = scala.collection.mutable.ArrayBuffer(fs.getFileStatus(d).getModificationTime)
      val it = fs.listFiles(d, true)
      while (it.hasNext) files += it.next().getModificationTime
      files
    }.foldLeft(0L)(math.max)

  /** RETENTION-GATED garbage collection of one component: keep the
    * newest `keepVersions` COMPLETE versions, drop older complete
    * versions and CRASHED incomplete attempts with their fold
    * manifests, and drop the `batch=` delta dirs folded into the
    * OLDEST retained version — folds are cumulative, so a dir folded
    * there is folded in every retained version, and any reader pinned
    * to a retained version never loses a file. Returns
    * (versions removed, batch dirs removed).
    *
    * An incomplete attempt is deleted only when its newest file is
    * older than `incompleteTtlMs` ([[IncompleteAttemptTtlMs]]): a
    * younger one is indistinguishable from a compactor's or rebuild's
    * half-written in-flight install, and deleting it mid-install would
    * destroy the version it is about to commit — the TTL turns the
    * round-10 "never run concurrent with a compactor/rebuild" comment
    * into a mechanism (one mis-scheduled cron no longer loses an
    * install; it only delays GC of true crash debris by a day).
    *
    * Readers are safe as long as none is pinned older than
    * `keepVersions - 1` installs back — `keepVersions = 1` (the
    * default) therefore requires reader quiescence, while
    * `keepVersions = 2` tolerates every reader that pinned since the
    * previous install: the lakehouse VACUUM retention trade, chosen per
    * deployment by how long a probe/serve can run. The ledger is NEVER
    * vacuumed: a late replay of a folded-and-vacuumed batch id must
    * still be recognized and skipped. */
  def vacuumComponent(spark: SparkSession, path: String, component: String,
                      keepVersions: Int = 1,
                      incompleteTtlMs: Long = IncompleteAttemptTtlMs): (Long, Long) = {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    val fs = hfs(spark, path)
    val listed = fs.listStatus(hp(s"$path/$component")).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
    val complete = listed.filter(isComplete(spark, path, component, _)).toSet
    val retained = complete.toSeq.sorted(Ordering[Long].reverse)
      .take(keepVersions)
    require(retained.nonEmpty,
      s"no complete version of index component $path/$component")
    val cutoff = System.currentTimeMillis() - incompleteTtlMs
    val stale = listed.filterNot(retained.contains).filter { v =>
      complete(v) || newestMtime(fs,
        Seq(hp(versionDir(path, component, v)),
          hp(foldsDir(path, component, v)))) < cutoff
    }
    stale.foreach { v =>
      fs.delete(hp(versionDir(path, component, v)), true)
      fs.delete(hp(foldsDir(path, component, v)), true)
    }
    // only dirs every retained version has folded may go: cumulative
    // manifests make that exactly the OLDEST retained version's set
    val foldedB = foldsAt(spark, path, component, retained.min)
    val deltaDir = hp(s"$path/${component}_delta")
    var removed = 0L
    if (fs.exists(deltaDir)) {
      fs.listStatus(deltaDir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        .filter(s => foldedB(s.getPath.getName.stripPrefix("batch=")))
        .foreach { s => fs.delete(s.getPath, true); removed += 1 }
    }
    (stale.size.toLong, removed)
  }

}
