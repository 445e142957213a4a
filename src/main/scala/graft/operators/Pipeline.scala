package graft.operators

import java.util.concurrent.{ExecutionException, Executors, Future}
import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Readers

/** C1/3.1: the whole reference pipeline as one Scala orchestrator —
  * the Airflow DAG `single_load >> incremental_load >> transformations >>
  * snowflake_load` (reference: airflow/dags/pipeline.py:269, groups at
  * 129-238) re-expressed as sequenced DataFrame stages.
  *
  * The four stages are barriers, as the reference's task groups are.
  * Inside a stage the units are independent (one per source, staging
  * folder or model), and they run concurrently on driver threads, as the
  * tasks of one Airflow group do. The units of a day are small Spark jobs
  * whose time is mostly driver overhead, so task parallelism over input
  * splits alone leaves the cores idle between one job and the next. The
  * unit-concurrency contract:
  *  - user callbacks (`Source.land`, `buildStar`) run on the calling
  *    thread, in source order; only the writes, cleans, table loads and
  *    model materializations run on the pool;
  *  - every skip is decided on the calling thread before any unit runs;
  *    units that share a name (and so a raw/staging path) run in list
  *    order inside one task;
  *  - each ledger mark is written right after its own batch commits;
  *    marks may be written concurrently ([[FileLedger.append]] gives
  *    each its own file, written by the driver without a Spark job);
  *  - the threads are created by the calling thread for each stage, at
  *    most min(units, defaultParallelism), so they start with its Spark
  *    local properties (job group, tracing tags);
  *  - a stage waits for all its units, then rethrows the first failure
  *    in unit order: sources in list order, folders and models sorted by
  *    name. Units that committed keep their ledger marks.
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
    * unit of stage work (a landing, a clean, a table load, a model
    * materialization) may re-attempt its failed steps up to `retries`
    * times in total, and every re-attempt is recorded in the stage's
    * OperationMetadata (`retried`); a unit that exhausts its retries
    * marks `failed` and aborts the run once its stage's other units
    * have finished. */
  def run(spark: SparkSession, sources: Seq[Source], root: String,
          buildStar: Map[String, DataFrame] => Map[String, DataFrame] =
            identity[Map[String, DataFrame]] _,
          retries: Int = 2): RunReport = {
    val hook = graft.operators.RunReport.attach(spark)
    try runInner(spark, sources, root, buildStar, hook, retries)
    finally hook.detach(spark)
  }

  /** One unit's retry budget. Counter contract: a unit counts once as
    * processed, as succeeded after [[done]] or as failed when a step
    * exhausts the budget (the step then rethrows); each re-attempt counts
    * once as retried. A landing unit runs its first step (the source's
    * `land`) on the calling thread and the rest on a pool thread, one
    * after the other, so the budget is never touched by two threads at
    * once. Only NonFatal failures are retried: a fatal JVM error
    * (OutOfMemoryError, ThreadDeath) or an interrupt cannot be cured by
    * re-running a Spark job, and retrying it would both waste cluster
    * time and swallow the interrupt. A single write is retry-safe because
    * a failed write job never commits its output (the committer discards
    * uncommitted task attempts); a write followed by a ledger mark tracks
    * its committed phase (see `writeThenMark` in runInner). */
  private final class Attempts(m: Quality.MetricsBuilder, retries: Int) {
    private var attemptsLeft = retries

    def step[T](body: => T): T = {
      while (true) {
        try return body
        catch {
          case scala.util.control.NonFatal(_) if attemptsLeft > 0 =>
            attemptsLeft -= 1; m.retry()
          case e: Throwable =>
            m.fail()
            if (e.isInstanceOf[InterruptedException])
              Thread.currentThread().interrupt()
            throw e
        }
      }
      throw new IllegalStateException("unreachable")
    }

    def done(): Unit = m.succeed()
  }

  /** Runs one stage's units on driver threads. `dispatch` runs on the
    * calling thread and hands each unit to `submit`, in unit order. Every
    * submitted unit is waited for; then the first failure in submission
    * order is rethrown. The threads are created here, by the calling
    * thread, so each starts with a copy of its Spark local properties; a
    * pool shared across runs would carry those of whichever run created
    * it. */
  private def concurrently(spark: SparkSession, units: Int)(
      dispatch: ((=> Unit) => Unit) => Unit): Unit = {
    val threads = math.max(1, math.min(units, spark.sparkContext.defaultParallelism))
    val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(r, "graft-pipeline-unit")
      t.setDaemon(true)
      t
    })
    val outcomes = mutable.ArrayBuffer.empty[Future[_]]
    try {
      dispatch(body => outcomes += pool.submit(new Runnable { def run(): Unit = body }))
      outcomes.toSeq.flatMap(f => Try(f.get()).failed.toOption).headOption.foreach {
        case e: ExecutionException => throw e.getCause
        case e => throw e
      }
    } finally pool.shutdownNow()
  }

  /** `units` grouped by name, groups in order of first appearance and
    * each group in list order. */
  private def byName[A](units: Seq[A])(name: A => String): Seq[Seq[A]] =
    units.map(name).distinct.map(n => units.filter(u => name(u) == n))

  /** `src`'s batch at `rawPath`, cleaned, and known to keep a row
    * (reference: transform.py:111-112). `Clean.clean` drops only rows
    * whose every column is null, so a non-null value in the read keeps
    * its row: when a raw footer shows one, no job runs. Only when no
    * footer does (an all-null batch, a nested schema, a layout
    * `Readers.parquet` leaves to Spark) is the cleaned batch probed with
    * [[Clean.requireNonEmpty]], which fails before staging is touched. */
  private[operators] def cleaned(spark: SparkSession, rawPath: String,
                                 src: Source): DataFrame = {
    val raw = Readers.parquet(spark, rawPath)
    val out = Clean.clean(src.renames)(raw)
    if (org.apache.spark.sql.graftshim.Shim.parquetHasValue(spark, rawPath, raw.schema)) out
    else Clean.requireNonEmpty(out, src.name)
  }

  private def runInner(spark: SparkSession, sources: Seq[Source], root: String,
                       buildStar: Map[String, DataFrame] => Map[String, DataFrame],
                       hook: graft.operators.RunReport, retries: Int): RunReport = {
    val ledgerPath = s"$root/_ledger"
    val stagingRoot = s"$root/staging"
    val stages = mutable.ArrayBuffer.empty[Quality.OperationMetadata]
    // file-level exactly-once: one logical "file" per landing batch,
    // keyed by the batch id the caller encodes in the source name; one
    // logical file per staging folder for the warehouse load
    def landPair(src: Source) = (src.name, s"${src.name}.batch")
    def loadPair(name: String) = (s"staging/$name", s"$name.parquet")

    // A unit that writes and then marks the ledger: the mark goes
    // strictly AFTER the write commits. A mark-first failure would record
    // the batch as processed and skip it forever on re-run (permanent
    // data loss); write-then-mark fails the safe way: a whole-JOB crash
    // between the two (outside the in-process retry scope) redoes the
    // batch on the next run (at-least-once, recoverable by downstream
    // dedup). `written` records the committed phase across re-attempts,
    // so a re-attempt after a failed mark retries ONLY the mark and the
    // batch is never written twice.
    def writeThenMark(unit: Attempts, mark: Option[(String, String)])(write: => Unit): Unit = {
      var written = false
      unit.step {
        if (!written) { write; written = true }
        mark.foreach(pair => FileLedger.append(spark, ledgerPath, Seq(pair)))
      }
      unit.done()
    }

    def attempt(m: Quality.MetricsBuilder)(body: => Unit): Unit = {
      val unit = new Attempts(m, retries)
      unit.step(body)
      unit.done()
    }

    // Stage 1+2: land sources into raw/ (full or ledger-gated incremental).
    // Its time includes the run's one ledger lookup, which covers every
    // incremental landing batch and every staging folder this run can
    // load (those on disk now plus those its sources will write). Only
    // this run appends to the ledger after it, and every skip is decided
    // from the lookup before any unit runs: a batch is claimed by its
    // first listing (a source listed twice lands once), and each staging
    // folder is loaded at most once.
    val landM = Quality.timed("land")
    val stagedAtStart = Readers.listFolders(spark, stagingRoot)
    val staged = (stagedAtStart ++ sources.map(_.name)).distinct
    val pending = FileLedger.unprocessed(spark, ledgerPath,
      sources.filter(_.incremental).map(landPair) ++ staged.map(loadPair)).toSet
    val claimed = mutable.Set.empty[(String, String)]
    val landing = sources.filter { src =>
      val lands = !src.incremental || (pending(landPair(src)) && claimed.add(landPair(src)))
      if (!lands) landM.skip()
      lands
    }
    // The source's `land` runs here, on the calling thread (a transient
    // source failure is the reference's canonical retry case, retries: 2,
    // pipeline.py:110); its write and ledger mark run on the pool, and a
    // failed write re-runs the write of the DataFrame already built. A
    // name's units are submitted as one task once its last listing has
    // landed. Full loads overwrite (re-upload of the same logical files);
    // incremental batches append (new daily files): reference
    // customerload.py vs s3_copy.py semantics.
    val lastListing = landing.zipWithIndex.map { case (src, i) => src.name -> i }.toMap
    concurrently(spark, lastListing.size) { submit =>
      val writes = mutable.Map.empty[String, Vector[() => Unit]].withDefaultValue(Vector.empty)
      landing.zipWithIndex.foreach { case (src, i) =>
        val unit = new Attempts(landM, retries)
        val write: () => Unit = Try(unit.step(src.land(spark))) match {
          case Success(df) => () =>
            writeThenMark(unit, Some(landPair(src)).filter(_ => src.incremental)) {
              df.write.mode(if (src.incremental) "append" else "overwrite")
                .parquet(s"$root/raw/${src.name}")
            }
          case Failure(e) => () => throw e
        }
        writes(src.name) :+= write
        if (lastListing(src.name) == i) {
          val group = writes.remove(src.name).get
          submit(group.foreach(_()))
        }
      }
    }
    stages += landM.complete()

    // Stage 3: transform raw/ -> staging/ (clean: rename/dropnull/dedup/trim).
    // A source is skipped when re-cleaning it is dead work: no listing of
    // it landed (raw/ holds nothing new) AND staging/<name> is already
    // ledger-loaded, so stage 4 would skip whatever this wrote.
    // The reference skips a transform whose staging key exists
    // (transform.py:160-169); the staging LEDGER row is required too
    // because a run that crashed between landing and loading leaves a
    // landed batch whose staging output never reached the warehouse:
    // the next run must re-transform and load it. The staging folder
    // must also still exist, or stage 4 would have no table to return.
    val cleanM = Quality.timed("transform")
    val landed = lastListing.keySet
    val cleaning = sources.filter { src =>
      val skip = !landed(src.name) && !pending(loadPair(src.name)) &&
        stagedAtStart.contains(src.name)
      if (skip) cleanM.skip()
      !skip
    }
    val cleanGroups = byName(cleaning)(_.name)
    concurrently(spark, cleanGroups.size) { submit =>
      cleanGroups.foreach(group => submit(group.foreach { src =>
        attempt(cleanM) {
          TableStore.writeParquet(cleaned(spark, s"$root/raw/${src.name}", src),
            s"$stagingRoot/${src.name}")
        }
      }))
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
    val folders = staged.sorted
    val (loading, loaded) = folders.partition(name => pending(loadPair(name)))
    loaded.foreach(_ => loadM.skip())
    concurrently(spark, loading.size) { submit =>
      loading.foreach(name => submit(
        writeThenMark(new Attempts(loadM, retries), Some(loadPair(name))) {
          TableStore.loadIntoTable(spark,
            Readers.parquet(spark, s"$stagingRoot/$name"), name)
        }))
    }
    val tables = folders.map(name => name -> spark.table(name)).toMap
    stages += loadM.complete()

    // Stage 5: the dbt layer — dims then facts (C5/C6). The models are
    // built on the calling thread; each is a DataFrame over the staging
    // tables, so their materializations are independent.
    val starM = Quality.timed("star_schema")
    val models = buildStar(tables).toSeq.sortBy(_._1)
    concurrently(spark, models.size) { submit =>
      models.foreach { case (name, df) =>
        submit(attempt(starM)(TableStore.materializeTable(spark, df, name)))
      }
    }
    stages += starM.complete()

    hook.awaitQuiescence()
    RunReport(stages.toSeq, hook.report)
  }
}
