package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** K4/J4/I2: exactly-once *file* processing via a name-keyed ledger.
  *
  * The reference keeps a `PROCESSED_FILES(FOLDER_NAME, FILE_NAME,
  * LOADED_AT default CURRENT_TIMESTAMP)` table and skips any file whose
  * (folder, file) pair is present (reference:
  * airflow/dags/plugins/snowflake_load.py:59-76 DDL, 108-121 check,
  * 123-133 insert; same semantics by `head_object`/listing at
  * s3_copy.py:84-99, transform.py:160-169, customerload.py:84-89).
  *
  * Deliberately filename-keyed and content-blind — re-uploading a changed
  * file under the same name is NOT reprocessed. That is the reference's
  * observable behavior and is preserved (SURVEY §7.5.3).
  *
  * The ledger is a directory of Parquet part files, one per [[append]].
  * Like the reference's metadata statements, the bookkeeping runs no
  * compute job: a mark is written by the driver, and [[load]] lists the
  * part files on the driver and reads exactly those (Spark lists
  * nothing again, for any number of marks), so the directory's own
  * name (often the hidden `_ledger`) never matters.
  * Lookups are batched: [[unprocessed]] answers any number of (folder,
  * file) pairs, across folders, with ONE filtered scan whose collect is
  * bounded by the candidate list, so an orchestrator asks once per run
  * instead of once per source or table. A ledger without part files is
  * an empty local relation, so a lookup against it (and a lookup of no
  * candidates) launches no job at all.
  *
  * Scale note for [[newFiles]], the anti-join of a candidate DataFrame:
  * the ledger is (folder, file) pairs — usually small enough to
  * broadcast, so `newFiles` hints broadcast and candidate discovery
  * never shuffles the candidate side. But a 100 TB daily-ingest lake
  * accumulates 10⁷-10⁸ ledger rows over years — past the driver's
  * broadcast envelope — so the hint is SIZE-CONDITIONAL: above
  * [[BroadcastMaxBytes]] (estimated from the plan's statistics, a
  * driver-side metadata read, no job) the join is left hintless and
  * AQE picks the strategy from the runtime size (a shuffled left_anti
  * at worst — same result, no driver OOM).
  */
object FileLedger {

  val Schema = "folder_name STRING, file_name STRING, loaded_at TIMESTAMP"

  /** [[Schema]] as the Parquet type each mark is written with. */
  private val MarkType = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary folder_name (STRING);
      |  optional binary file_name (STRING);
      |  optional int64 loaded_at (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  /** Past this estimated ledger size the broadcast hint is dropped and
    * AQE chooses the anti-join strategy. */
  val BroadcastMaxBytes: Long = 64L << 20

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The ledger's part files, listed on the driver: the `.parquet`
    * files whose names are not hidden. A mark still under its hidden
    * temp name (a crash mid-[[append]]) is not one of them. */
  private def markFiles(spark: SparkSession, ledgerPath: String): Seq[FileStatus] = {
    val dir = new Path(ledgerPath)
    val fs = fileSystem(spark, dir)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter { f =>
      val n = f.getPath.getName
      !n.startsWith(".") && !n.startsWith("_") && n.endsWith(".parquet")
    }
  }

  /** Read exactly the ledger's part files, as listed, with the declared
    * [[Schema]] (the ledger is only ever written by [[append]], so its
    * footers never need inferring), or an empty local relation if it
    * has none yet. */
  def load(spark: SparkSession, ledgerPath: String): DataFrame =
    read(spark, ledgerPath, markFiles(spark, ledgerPath))

  private def read(spark: SparkSession, ledgerPath: String, parts: Seq[FileStatus]): DataFrame = {
    val schema = StructType.fromDDL(Schema)
    if (parts.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else org.apache.spark.sql.graftshim.Shim.parquetListed(spark, ledgerPath, parts, schema)
  }

  /** J4: the reference's only anti-join — candidates minus already-seen,
    * keyed on (folder_name, file_name). The ledger side is broadcast
    * while its ESTIMATED size (logical-plan statistics — parquet footer
    * metadata, no job) stays under the threshold; a lake-lifetime
    * ledger past it degrades to a hintless join AQE plans from runtime
    * size, instead of force-broadcasting 10⁸ rows through the driver. */
  def newFiles(candidates: DataFrame, ledger: DataFrame): DataFrame =
    newFiles(candidates, ledger, BroadcastMaxBytes)

  private[operators] def newFiles(candidates: DataFrame, ledger: DataFrame,
                                  maxBytes: Long): DataFrame = {
    val keys = ledger.select("folder_name", "file_name")
    val est = keys.queryExecution.optimizedPlan.stats.sizeInBytes
    val side = if (est <= maxBytes) broadcast(keys) else keys
    candidates.join(side, Seq("folder_name", "file_name"), "left_anti")
  }

  /** K4: append processed (folder, file) pairs with a load timestamp
    * (reference: snowflake_load.py:123-133 + `LOADED_AT` default :68).
    * The driver writes the mark as one Parquet file, without a Spark
    * job: first under a hidden temp name, which no read lists, then
    * renamed to a unique `part-<uuid>.parquet`. A mark is therefore
    * either whole or absent, and concurrent appends to one ledger, from
    * any thread or JVM, never touch each other's files. */
  def append(spark: SparkSession, ledgerPath: String,
             entries: Seq[(String, String)]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val dir = new Path(ledgerPath)
    val fs = fileSystem(spark, dir)
    val name = s"part-${java.util.UUID.randomUUID()}.parquet"
    val tmp = new Path(dir, s".$name.tmp")
    val loadedAt = java.time.temporal.ChronoUnit.MICROS
      .between(java.time.Instant.EPOCH, java.time.Instant.now())
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(tmp, spark.sparkContext.hadoopConfiguration))
      .withType(MarkType).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(MarkType)
    try entries.foreach { case (folder, file) =>
      writer.write(rows.newGroup().append("folder_name", folder)
        .append("file_name", file).append("loaded_at", loadedAt))
    } finally writer.close()
    if (!fs.rename(tmp, new Path(dir, name)))
      throw new java.io.IOException(s"could not rename ledger mark $tmp to $name")
  }

  /** Driver-side lookup used by the orchestrator: which of the
    * candidate (folder, file) `pairs` are unprocessed, sorted. All pairs,
    * whatever their folders, go through ONE scan of the ledger's part
    * files, filtered to the candidates' folders and files (the filter
    * pushes to the parquet scan). Only the ledger rows that pass it are
    * collected, so a lake-lifetime ledger never materializes on the
    * driver, and the exact pairs are matched there. One job, no
    * broadcast; no candidates or no part files means no job. */
  def unprocessed(spark: SparkSession, ledgerPath: String,
                  pairs: Seq[(String, String)]): Seq[(String, String)] =
    if (pairs.isEmpty) Nil
    else markFiles(spark, ledgerPath) match {
      case Nil => pairs.sorted
      case parts =>
        import spark.implicits._
        val seen = read(spark, ledgerPath, parts)
          .filter(col("folder_name").isin(pairs.map(_._1).distinct: _*) &&
            col("file_name").isin(pairs.map(_._2).distinct: _*))
          .select("folder_name", "file_name")
          .as[(String, String)].collect().toSet
        pairs.filterNot(seen).sorted
    }

  /** The batched lookup for the `files` of one `folder`: which are
    * unprocessed, in sorted order. */
  def unprocessed(spark: SparkSession, ledgerPath: String, folder: String,
                  files: Seq[String]): Seq[String] =
    unprocessed(spark, ledgerPath, files.map(folder -> _)).map(_._2)
}
