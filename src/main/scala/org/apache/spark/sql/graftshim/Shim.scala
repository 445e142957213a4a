package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to `private[sql]` Column<->Expression conversion (Spark 4 moved
  * Column onto ColumnNode; attaching a custom catalyst Expression needs
  * ExpressionUtils, which is sql-private). This is the minimal, standard
  * extension-point shim: visibility, plus the few helpers below that are
  * built from Spark-private pieces. */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a catalyst LogicalPlan back into a DataFrame
    * (`Dataset.ofRows` is `private[sql]`) — needed by custom logical
    * operators (plans/Recurrence) that have no Column-level API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** CAP the plan STATISTICS a checkpoint carries across the lineage
    * cut. Spark's `Dataset.checkpoint`/`localCheckpoint` truncate the
    * logical plan to a `LogicalRDD` but preserve the ORIGINAL plan's
    * estimated statistics on it (`originStats`) so the optimizer keeps
    * size information. Inside an ITERATIVE self-join fixpoint that
    * preservation is catastrophic: `SizeInBytesOnlyStatsPlanVisitor`
    * estimates a join as the PRODUCT of its children's sizeInBytes, so
    * each round's carried-over estimate is a power of the previous
    * round's — the BigInt's digit count doubles (or worse) every
    * self-join and by round ~15-25 the planner sits in
    * million-digit `BigInteger.multiply` (Toom-Cook) for minutes per
    * `.stats` walk, on ANY input size (observed: the 200-node
    * DedupClusterSpec graphs hung the suite; the magnitude grows in
    * ROUNDS, not rows).
    *
    * Capping (rather than dropping) keeps the useful half: estimates
    * that are still REAL — small early-round relations — pass through
    * untouched, so the planner's auto-broadcast decisions inside the
    * fixpoint are preserved; only the astronomically-wrong tail is
    * clamped to `cap`. Boundedness is inductive: every checkpointed
    * leaf is ≤ cap, a round's plan has O(1) leaves, so the next
    * pre-checkpoint product is ≤ cap^O(1) — a few hundred digits,
    * cheap — and is clamped again at the next cut. */
  def capCarriedStats(df: org.apache.spark.sql.DataFrame,
                      cap: BigInt = BigInt(Long.MaxValue)): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    df.queryExecution.logical match {
      case lr: LogicalRDD if lr.stats.sizeInBytes > cap =>
        ofRows(df.sparkSession, new LogicalRDD(lr.output, lr.rdd,
          lr.outputPartitioning, lr.outputOrdering, lr.isStreaming,
          lr.stream)(
          df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
          Some(Statistics(sizeInBytes = cap)), None))
      case _ => df
    }
  }

  /** Unset a previously configured checkpoint dir (`sc.checkpointDir`
    * is `private[spark]` with a set-only public face) — lets a test
    * exercise the reliable-checkpoint branch of Fixpoint.cut and then
    * restore the shared session's local-checkpoint default. */
  def clearCheckpointDir(sc: org.apache.spark.SparkContext): Unit =
    sc.checkpointDir = None

  /** Block until every event already posted to the shared listener bus
    * has been delivered (`listenerBus.waitUntilEmpty` is
    * `private[spark]`). Deterministic alternative to sleep-loop
    * quiescence heuristics for post-run report reads. */
  def flushListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }

  /** The schema `spark.read.parquet(path)` infers, read on the driver
    * from one footer, with no Spark job. Spark 4 reads that one footer
    * inside a one-task job (`ParquetUtils.inferSchema` →
    * `ParquetFileFormat.mergeSchemasInParallel`); the reference reads
    * it on the driver (snowflake_load.py:234-235, the first file's
    * footer).
    *
    * This follows the non-merging branch of `ParquetUtils.inferSchema`:
    * the files Spark would list (a Hadoop listing filtered by
    * `HadoopFSUtils.shouldFilterOutPathName`, or a streaming sink's
    * log), sorted by path string as `splitFiles` does; then
    * `_common_metadata`, else `_metadata`, else the first data file;
    * its footer read with `SKIP_ROW_GROUPS` and converted by
    * `readSchemaFromFooter` with the converter flags
    * `mergeSchemasInParallel` passes.
    *
    * None wherever the read is not plain, so the caller leaves it to
    * Spark: schema merging on, a glob, a directory with any
    * subdirectory (partitions), a partitioned sink, no data file, or a
    * footer that fails to read or convert (a missing path lands here). */
  def parquetSchema(spark: org.apache.spark.sql.SparkSession, path: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet._
    import org.apache.spark.sql.execution.streaming.runtime.MetadataLogFileIndex
    import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = session.sessionState.conf
    val root = new Path(path)
    if (conf.isParquetSchemaMergingEnabled ||
        org.apache.spark.deploy.SparkHadoopUtil.get.isGlobPath(root)) None
    else try {
      val hadoopConf = session.sessionState.newHadoopConf()
      val files: Seq[FileStatus] =
        if (FileStreamSink.hasMetadata(Seq(path), hadoopConf, conf)) {
          val index = new MetadataLogFileIndex(session, root, Map.empty, None)
          if (index.partitionSchema.isEmpty) index.allFiles() else Nil
        } else {
          val listed = root.getFileSystem(hadoopConf).listStatus(root).toSeq
            .filterNot(f => org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
          if (listed.exists(_.isDirectory)) Nil else listed
        }
      val summaryNames = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      val (summaries, data) = files.sortBy(_.getPath.toString)
        .partition(f => summaryNames.contains(f.getPath.getName))
      summaryNames.flatMap(n => summaries.find(_.getPath.getName == n))
        .headOption.orElse(data.headOption)
        .map { f =>
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS)
          val converter = new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
          ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter)
        }
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
