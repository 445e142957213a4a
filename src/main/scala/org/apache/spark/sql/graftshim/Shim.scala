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

  /** The running SparkContext, if any, without creating one
    * (`SparkContext.getActive` is `private[spark]`). */
  def activeContext: Option[org.apache.spark.SparkContext] =
    org.apache.spark.SparkContext.getActive

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
    * the files of [[plainParquetFiles]]; then `_common_metadata`, else
    * `_metadata`, else the first data file; its footer read with
    * `SKIP_ROW_GROUPS` and converted by `readSchemaFromFooter` with the
    * converter flags `mergeSchemasInParallel` passes.
    *
    * None wherever the read is not plain, so the caller leaves it to
    * Spark: schema merging on, a glob, a directory with any
    * subdirectory (partitions), a partitioned sink, no data file, or a
    * footer that fails to read or convert (a missing path lands here). */
  def parquetSchema(spark: org.apache.spark.sql.SparkSession, path: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    try {
      val hadoopConf = session.sessionState.newHadoopConf()
      val (summaries, data) = plainParquetFiles(session, hadoopConf, path)
        .partition(f => SummaryNames.contains(f.getPath.getName))
      SummaryNames.flatMap(n => summaries.find(_.getPath.getName == n))
        .headOption.orElse(data.headOption)
        .map(f => footerSchema(session, f, footer(hadoopConf, f, SKIP_ROW_GROUPS)))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Whether `spark.read.schema(schema).parquet(path)` returns a row with
    * a non-null value, decided on the driver from footer statistics, with
    * no Spark job. The data files of [[plainParquetFiles]] are read in
    * path order until one footer shows it: a row group whose chunk of a
    * top-level column counts fewer nulls than values, where `schema` has
    * that column under the same name with the same atomic type.
    *
    * False when no footer shows it, and wherever the answer would be a
    * guess: the read is not plain, a footer lacks null counts or fails
    * to read, or corrupt files are ignored (a skipped file's rows would
    * never be read). */
  def parquetHasValue(spark: org.apache.spark.sql.SparkSession, path: String,
                      schema: org.apache.spark.sql.types.StructType): Boolean = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val atomic = schema.fields.filter(_.dataType match {
      case _: StructType | _: ArrayType | _: MapType => false
      case _ => true
    }).map(f => f.name -> f.dataType).toMap
    !session.sessionState.conf.ignoreCorruptFiles && atomic.nonEmpty && (try {
      val hadoopConf = session.sessionState.newHadoopConf()
      plainParquetFiles(session, hadoopConf, path)
        .filterNot(f => SummaryNames.contains(f.getPath.getName))
        .exists { f =>
          val meta = footer(hadoopConf, f, NO_FILTER)
          val same = footerSchema(session, f, meta).fields
            .filter(g => atomic.get(g.name).contains(g.dataType)).map(_.name).toSet
          meta.getBlocks.asScala.exists(_.getColumns.asScala.exists { c =>
            val leaf = c.getPath.toArray
            val stats = c.getStatistics
            leaf.length == 1 && same(leaf(0)) && stats != null && stats.isNumNullsSet &&
              c.getValueCount > stats.getNumNulls
          })
        }
    } catch { case scala.util.control.NonFatal(_) => false })
  }

  /** Read exactly `files`, the Parquet files of directory `dir` as
    * already listed on the driver, with `schema`. The file index is
    * handed that listing, so building the DataFrame neither checks nor
    * lists a file again and launches no job however many files there
    * are (`spark.read.parquet` of explicit paths checks each path, and
    * past `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * paths lists them in a Spark job). `dir` may have a name Spark's
    * listing treats as hidden. */
  def parquetListed(spark: org.apache.spark.sql.SparkSession, dir: String,
                    files: Seq[org.apache.hadoop.fs.FileStatus],
                    schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val root = new Path(dir)
    val listing = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
        if (path == root) Some(files.toArray) else None
      def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(session, Seq(root), Map.empty, Some(schema), listing)
    session.baseRelationToDataFrame(HadoopFsRelation(index, new org.apache.spark.sql.types.StructType(),
      schema, None, new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty)(session))
  }

  private val SummaryNames = Seq(
    org.apache.parquet.hadoop.ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
    org.apache.parquet.hadoop.ParquetFileWriter.PARQUET_METADATA_FILE)

  /** The files `spark.read.parquet(path)` lists, on the driver, sorted by
    * path string as `splitFiles` does: a Hadoop listing filtered by
    * `HadoopFSUtils.shouldFilterOutPathName` (so summary files stay), or
    * a streaming sink's log. Nil wherever the read is not plain: schema
    * merging on, a glob, a directory with any subdirectory (partitions)
    * or a partitioned sink. A missing path throws. */
  private def plainParquetFiles(session: org.apache.spark.sql.classic.SparkSession,
                                hadoopConf: org.apache.hadoop.conf.Configuration,
                                path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.execution.streaming.runtime.MetadataLogFileIndex
    import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
    val conf = session.sessionState.conf
    val root = new Path(path)
    if (conf.isParquetSchemaMergingEnabled ||
        org.apache.spark.deploy.SparkHadoopUtil.get.isGlobPath(root)) Nil
    else {
      val files =
        if (FileStreamSink.hasMetadata(Seq(path), hadoopConf, conf)) {
          val index = new MetadataLogFileIndex(session, root, Map.empty, None)
          if (index.partitionSchema.isEmpty) index.allFiles() else Nil
        } else {
          val listed = root.getFileSystem(hadoopConf).listStatus(root).toSeq
            .filterNot(f => org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(f.getPath.getName))
          if (listed.exists(_.isDirectory)) Nil else listed
        }
      files.sortBy(_.getPath.toString)
    }
  }

  private def footer(hadoopConf: org.apache.hadoop.conf.Configuration,
                     f: org.apache.hadoop.fs.FileStatus,
                     filter: org.apache.parquet.format.converter.ParquetMetadataConverter.MetadataFilter)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader.readFooter(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, hadoopConf),
      filter)

  /** The Spark schema of one footer, converted as schema inference
    * converts it. */
  private def footerSchema(session: org.apache.spark.sql.classic.SparkSession,
                           f: org.apache.hadoop.fs.FileStatus,
                           meta: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val conf = session.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(f.getPath, meta), converter)
  }
}
