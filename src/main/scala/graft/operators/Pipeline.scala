package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Readers

/** C1/3.1: the whole reference pipeline as one Scala orchestrator —
  * the Airflow DAG `single_load >> incremental_load >> transformations >>
  * snowflake_load` (reference: airflow/dags/pipeline.py:269, groups at
  * 129-238) re-expressed as sequenced DataFrame stages.
  *
  * The reference's process/thread boundaries (per-task Airflow workers,
  * the 10-thread download pool) collapse into Spark's driver/executor
  * split; intra-group parallelism is subsumed by task parallelism over
  * input splits.
  *
  * Layout convention (mirrors the reference's S3 prefixes):
  *   raw/<dataset>/      — as-landed parquet (from csv/json/jdbc/rows)
  *   staging/<dataset>/  — cleaned parquet
  *   warehouse           — Spark SQL tables (saveAsTable), one per folder
  */
object Pipeline {

  /** One source dataset: how to land it + how to clean it
    * (rename maps: reference pipeline.py:49-99). */
  final case class Source(
      name: String,
      land: SparkSession => DataFrame,
      renames: Map[String, String] = Map.empty,
      incremental: Boolean = false)

  /** `stages` are the orchestrator's coarse stage metrics; `actions` are
    * the engine-level per-action metrics the QueryExecutionListener hook
    * captured during the run (C3 — the notification feed the reference
    * emails from, pipeline.py:20-43). */
  final case class RunReport(stages: Seq[Quality.OperationMetadata],
                             actions: Seq[Quality.OperationMetadata] = Nil) {
    def totalSeconds: Double = stages.map(_.durationSeconds).sum
  }

  /** Run the full flow. Returns per-stage metrics (A4 analog) plus the
    * per-action run report (C3 analog). `retries` is the reference's
    * per-task `retries: 2` (pipeline.py:110) as a job-level knob: each
    * per-unit stage body (a landing write, a clean, a table load, a
    * model materialization) is re-attempted up to `retries` times on a
    * transient failure, and every re-attempt is recorded in the stage's
    * OperationMetadata (`retried`); only a unit that exhausts its
    * retries marks `failed` and aborts the run. */
  def run(spark: SparkSession, sources: Seq[Source], root: String,
          buildStar: Map[String, DataFrame] => Map[String, DataFrame] =
            identity[Map[String, DataFrame]] _,
          retries: Int = 2): RunReport = {
    val hook = graft.operators.RunReport.attach(spark)
    try runInner(spark, sources, root, buildStar, hook, retries)
    finally hook.detach(spark)
  }

  /** Retry wrapper for one unit of stage work. Counter contract:
    * success (possibly after re-attempts) bumps processed+succeeded;
    * each re-attempt bumps retried; exhaustion bumps failed and
    * rethrows. Only NonFatal failures are retried: a fatal JVM error
    * (OutOfMemoryError, ThreadDeath) or an interrupt cannot be cured
    * by re-running a Spark job, and retrying it would both waste
    * cluster time and swallow the interrupt. Single-write bodies are
    * retry-safe because a failed write job never commits its output
    * (the committer discards uncommitted task attempts); multi-write
    * bodies must carry their own committed-phase tracking (see the
    * incremental landing unit's `landed` flag in runInner). */
  private def attempt[T](m: Quality.MetricsBuilder, retries: Int)(body: => T): T = {
    var attemptsLeft = retries
    while (true) {
      try {
        val r = body
        m.processed += 1; m.succeeded += 1
        return r
      } catch {
        case scala.util.control.NonFatal(_) if attemptsLeft > 0 =>
          attemptsLeft -= 1; m.retried += 1
        case e: Throwable =>
          m.processed += 1; m.failed += 1
          if (e.isInstanceOf[InterruptedException])
            Thread.currentThread().interrupt()
          throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def runInner(spark: SparkSession, sources: Seq[Source], root: String,
                       buildStar: Map[String, DataFrame] => Map[String, DataFrame],
                       hook: graft.operators.RunReport, retries: Int): RunReport = {
    val ledgerPath = s"$root/_ledger"
    val stagingRoot = s"$root/staging"
    val stages = scala.collection.mutable.ArrayBuffer.empty[Quality.OperationMetadata]
    // file-level exactly-once: one logical "file" per landing batch,
    // keyed by the batch id the caller encodes in the source name; one
    // logical file per staging folder for the warehouse load
    def landPair(src: Source) = (src.name, s"${src.name}.batch")
    def loadPair(name: String) = (s"staging/$name", s"$name.parquet")

    // Stage 1+2: land sources into raw/ (full or ledger-gated incremental).
    // Its time includes the run's one ledger lookup, which covers every
    // incremental landing batch and every staging folder this run can
    // load (those on disk now plus those its sources will write). Only
    // this run appends to the ledger after it: the landing stage drops
    // each batch it marks from `pending` (a source listed twice still
    // lands once), and each staging folder is loaded at most once, so
    // the answer stays current without asking again.
    val landM = Quality.timed("land")
    val stagedAtStart = Readers.listFolders(spark, stagingRoot)
    val staged = (stagedAtStart ++ sources.map(_.name)).distinct
    val pending = scala.collection.mutable.Set(FileLedger.unprocessed(spark, ledgerPath,
      sources.filter(_.incremental).map(landPair) ++ staged.map(loadPair)): _*)
    val landSkipped = scala.collection.mutable.Set.empty[String]
    sources.foreach { src =>
      val rawPath = s"$root/raw/${src.name}"
      if (src.incremental && !pending(landPair(src))) {
        landM.skipped += 1; landSkipped += src.name
      } else {
        // the whole unit (source read + landing write + ledger mark)
        // re-attempts together: a transient source failure is the
        // reference's canonical retry case (retries: 2, pipeline.py:110).
        // The unit performs TWO writes (data append, then ledger mark),
        // so a bare re-run after the data append committed would land
        // the batch twice; `landed` records the committed phase across
        // in-process re-attempts (the only scope attempt() retries in),
        // making the unit idempotent under retry — a re-attempt after a
        // ledger-append failure retries ONLY the ledger append.
        var landed = false
        attempt(landM, retries) {
          if (!landed) {
            val df = src.land(spark)
            // full loads overwrite (re-upload of the same logical
            // files); incremental batches append (new daily files) —
            // reference customerload.py vs s3_copy.py semantics
            val mode = if (src.incremental) "append" else "overwrite"
            df.write.mode(mode).parquet(rawPath)
            landed = true
          }
          // ledger append strictly AFTER the batch lands (same order as
          // the warehouse-load stage): an append-first failure would mark
          // the batch processed and silently skip it forever on re-run
          // (permanent data loss). Land-then-append fails the safe way —
          // a whole-JOB crash between the two (outside attempt()'s
          // in-process retry scope) re-lands the batch on the next run
          // (at-least-once, recoverable by downstream dedup).
          if (src.incremental) {
            FileLedger.append(spark, ledgerPath, Seq(landPair(src)))
            pending -= landPair(src)
          }
        }
      }
    }
    stages += landM.complete()

    // Stage 3: transform raw/ -> staging/ (clean: rename/dropnull/dedup/trim).
    // A source is skipped when re-cleaning it is dead work: its landing
    // was ledger-skipped (raw/ holds nothing new) AND staging/<name> is
    // already ledger-loaded, so stage 4 would skip whatever this wrote.
    // The reference skips a transform whose staging key exists
    // (transform.py:160-169); the staging LEDGER row is required too
    // because a run that crashed between landing and loading leaves a
    // landed batch whose staging output never reached the warehouse:
    // the next run must re-transform and load it. The staging folder
    // must also still exist, or stage 4 would have no table to return.
    val cleanM = Quality.timed("transform")
    sources.foreach { src =>
      if (landSkipped(src.name) && !pending(loadPair(src.name))
          && stagedAtStart.contains(src.name)) cleanM.skipped += 1
      else attempt(cleanM, retries) {
        val raw = Readers.parquet(spark, s"$root/raw/${src.name}")
        val cleaned = Clean.requireNonEmpty(
          Clean.clean(src.renames)(raw), src.name)
        TableStore.writeParquet(cleaned, s"$stagingRoot/${src.name}")
      }
    }
    stages += cleanM.complete()

    // Stage 4: warehouse load — each staging folder becomes a table,
    // ledger-gated per logical staging file: already-loaded names are
    // skipped even if content changed (bug-for-bug with the reference's
    // name-keyed PROCESSED_FILES, snowflake_load.py:108-133). The
    // folders are those listed at the start of the run plus those this
    // run's sources wrote (a skipped source's folder was listed), so the
    // start-of-run lookup covers them all; only the ones loaded are read.
    val loadM = Quality.timed("warehouse_load")
    val tables = staged.sorted.map { name =>
      val pair = loadPair(name)
      if (pending(pair)) attempt(loadM, retries) {
        TableStore.loadIntoTable(spark,
          Readers.parquet(spark, s"$stagingRoot/$name"), name)
        FileLedger.append(spark, ledgerPath, Seq(pair))
      } else loadM.skipped += 1
      name -> spark.table(name)
    }.toMap
    stages += loadM.complete()

    // Stage 5: the dbt layer — dims then facts (C5/C6)
    val starM = Quality.timed("star_schema")
    val models = buildStar(tables)
    models.foreach { case (name, df) =>
      attempt(starM, retries) {
        TableStore.materializeTable(spark, df, name)
      }
    }
    stages += starM.complete()

    hook.awaitQuiescence()
    RunReport(stages.toSeq, hook.report)
  }
}
