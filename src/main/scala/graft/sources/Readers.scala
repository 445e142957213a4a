package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source readers with the reference's ingestion semantics.
  *
  * The reference ingests five datasets (CSV/S3, JSON/S3, Google-Sheets
  * rows, Postgres JDBC, Parquet staging) with inferred — never declared —
  * schemas (reference: airflow/dags/plugins/customerload.py:96,
  * s3_copy.py:110-114, google_sheets.py:76-77, postgres_extract.py:142-144,
  * snowflake_load.py:136-154) and treats the literals `"NULL"` and `""` as
  * SQL NULL at the load boundary (reference:
  * aws_infrastructure/snowflake.tf:86).
  *
  * Spark-first mapping: `spark.read` with `inferSchema` replaces pandas
  * inference; Parquet is self-describing, so the reference's
  * DDL-from-first-file probe (snowflake_load.py:234-235) shrinks to
  * reading that footer for the scan's schema ([[parquet]]);
  * file listing, pagination and the 10-thread pool
  * (customerload.py:18,151-159) collapse into Spark's task parallelism
  * over input splits.
  */
object Readers {

  /** Null literals narrowed to SQL NULL at the ingestion boundary
    * (reference: snowflake.tf:86 `null_if = ["NULL", ""]`). */
  val NullLiterals: Seq[String] = Seq("NULL", "")

  /** S1: full CSV scan with header + schema inference.
    * Directory or single file; Spark lists and parallelizes natively. */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("nullValue", "NULL")
      .option("emptyValue", null: String) // empty string cell -> null
      .csv(path)

  /** Parity variant: everything read as string, no inference — matches the
    * warehouse-observable behavior where all non-numeric types degrade to
    * VARCHAR (reference: snowflake_load.py:147-154). */
  def csvAllString(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "false")
      .option("nullValue", "NULL")
      .option("emptyValue", null: String)
      .csv(path)

  /** S2 (JSON half): newline-delimited JSON scan with native inference
    * (reference: s3_copy.py:113 pandas read_json). */
  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** S5: Parquet scan; multi-file reads are an implicit UNION ALL
    * (reference: transform.py:71-83 per-file loop). Without schema
    * merging Spark takes the schema from ONE footer (a summary file, else
    * the first data file by path), as the reference does
    * (snowflake_load.py:234-235). For one path that is a file, a flat
    * directory of files or a streaming sink's output, that footer is
    * read on the driver (`Shim.parquetSchema`) and handed to the read
    * as its schema, so building the DataFrame launches no Spark job.
    * Every other read (several paths, a glob, subdirectories such as
    * partitions, `spark.sql.parquet.mergeSchema` on, no data file, an
    * unreadable footer) is `spark.read.parquet` itself, with Spark's own
    * schema and errors. */
  def parquet(spark: SparkSession, path: String*): DataFrame = path match {
    case Seq(p) =>
      org.apache.spark.sql.graftshim.Shim.parquetSchema(spark, p)
        .fold(spark.read.parquet(p))(spark.read.schema(_).parquet(p))
    case _ => spark.read.parquet(path: _*)
  }

  /** S3: sheet-like in-memory rows (Google Sheets analog). The reference
    * fetches all records driver-side (google_sheets.py:76-77); the Spark
    * analog is a driver-side `createDataFrame` — a DataSource V2 connector
    * is not worth it for a single small worksheet. */
  def rows(spark: SparkSession, data: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, math.max(1, data.size / 10000)),
      schema)

  /** S4: JDBC scan of one table. */
  def jdbc(spark: SparkSession, url: String, table: String,
           props: Map[String, String] = Map.empty): DataFrame = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    spark.read.jdbc(url, table, p)
  }

  /** S4 at scale: partitioned JDBC scan — `numPartitions` concurrent
    * range queries over `partitionColumn` in [lowerBound, upperBound].
    * The reference scans each table through one cursor
    * (reference: postgres_extract.py:138-144); a single-task scan is the
    * first bottleneck any real table volume hits, so this is the form a
    * cluster deployment should default to. */
  def jdbcPartitioned(spark: SparkSession, url: String, table: String,
                      partitionColumn: String, lowerBound: Long, upperBound: Long,
                      numPartitions: Int,
                      props: Map[String, String] = Map.empty): DataFrame = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    spark.read.jdbc(url, table, partitionColumn, lowerBound, upperBound,
      numPartitions, p)
  }

  /** SQL-92 identifier check for names that get interpolated into the
    * bounds query below: plain identifiers or dotted qualified names
    * only — anything else (quotes, spaces, semicolons) is rejected, so
    * a table/column name can never smuggle SQL into the probe. */
  private def requireSqlIdentifier(name: String, what: String): Unit =
    require(name.matches("[A-Za-z_][A-Za-z0-9_$]*(\\.[A-Za-z_][A-Za-z0-9_$]*)*"),
      s"$what must be a plain (optionally dotted) SQL identifier, got: $name")

  /** Bounds-discovering variant: one min/max metadata query on the
    * partition column (a single-row aggregate the database answers from
    * its index), then the partitioned scan. Falls back to a single
    * partition when the table is empty. `partitionColumn` must be
    * integral (the JDBC range-partitioning contract); identifiers are
    * validated before interpolation into the probe query. */
  def jdbcPartitionedAuto(spark: SparkSession, url: String, table: String,
                          partitionColumn: String, numPartitions: Int,
                          props: Map[String, String] = Map.empty): DataFrame = {
    requireSqlIdentifier(table, "table")
    requireSqlIdentifier(partitionColumn, "partitionColumn")
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    // DriverManager ignores the "driver" property and only consults its
    // own classloader; Class.forName registers the driver the way
    // spark.read.jdbc's DriverRegistry does, so the bounds probe works
    // wherever the partitioned scan itself would
    props.get("driver").foreach(Class.forName(_))
    val conn = java.sql.DriverManager.getConnection(url, p)
    val bounds = try {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(
          s"SELECT MIN($partitionColumn), MAX($partitionColumn) FROM $table")
        try {
          if (rs.next() && rs.getObject(1) != null) Some((rs.getLong(1), rs.getLong(2)))
          else None
        } finally rs.close()
      } finally st.close()
    } finally conn.close()
    bounds match {
      case Some((lo, hi)) if hi > lo =>
        jdbcPartitioned(spark, url, table, partitionColumn, lo, hi, numPartitions, props)
      case _ => jdbc(spark, url, table, props)
    }
  }

  /** S4: enumerate all tables of a JDBC schema, deterministically sorted
    * by name (reference: postgres_extract.py:102-113 `ORDER BY
    * table_name`), and scan each. */
  def jdbcAllTables(spark: SparkSession, url: String, schema: String,
                    props: Map[String, String] = Map.empty): Seq[(String, DataFrame)] = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    props.get("driver").foreach(Class.forName(_))
    val conn = java.sql.DriverManager.getConnection(url, p)
    val names = try {
      val md = conn.getMetaData
      // getTables takes the schema as a search PATTERN: '_' is a
      // single-char wildcard, so "app_data" would also match tables in
      // "appXdata" — escape pattern metacharacters with the driver's
      // escape string before probing
      val esc = md.getSearchStringEscape
      val schemaPattern =
        if (schema == null) null
        else schema.replace(esc, esc + esc)
          .replace("_", esc + "_").replace("%", esc + "%")
      val rs = md.getTables(null, schemaPattern, "%", Array("TABLE"))
      try {
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (rs.next()) buf += rs.getString("TABLE_NAME")
        buf.toSeq.sorted
      } finally rs.close()
    } finally conn.close()
    names.map { t =>
      val qualified = if (schema == null || schema.isEmpty) t else s"$schema.$t"
      t -> spark.read.jdbc(url, qualified, p)
    }
  }

  /** S5 variant: lenient scan — skip corrupt/truncated files instead of
    * failing the job (the reference's per-file try/except + continue,
    * transform.py error handling). At 100 TB a single bad object must
    * not kill a pipeline run. */
  def parquetLenient(spark: SparkSession, path: String*): DataFrame =
    spark.read.option("ignoreCorruptFiles", "true").parquet(path: _*)

  /** O2/K2 variant: multi-file read with schema drift — footer schemas
    * merged across files (columns missing in older files become null),
    * the scan-time form of `TableStore.appendByName`. */
  def parquetMerged(spark: SparkSession, path: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path: _*)

  /** S1 resilience: PERMISSIVE CSV scan with corrupt-record capture —
    * a malformed row lands intact in `_corrupt_record` (other columns
    * null) instead of failing the job or vanishing. At 100 TB a bad row
    * must be quarantined for audit, never fatal and never silent.
    * Requires an explicit schema: with inference, a bad row would just
    * degrade the column types. */
  def csvWithCorruptCapture(spark: SparkSession, path: String,
                            schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema.add("_corrupt_record",
        org.apache.spark.sql.types.StringType))
      .option("nullValue", "NULL")
      .option("emptyValue", null: String)
      .csv(path)

  /** Columnar-format breadth beyond the reference's parquet: ORC reads
    * with the same self-describing-schema semantics (footer schema, no
    * DDL probe). Predicate pushdown and column pruning work identically
    * — the PlanSpec pushdown gates apply to any columnar scan. */
  def orc(spark: SparkSession, path: String*): DataFrame =
    spark.read.orc(path: _*)

  /** S7: the names of the subdirectories of `root`, sorted — one
    * logical table each (reference: snowflake_load.py:81-92
    * `Delimiter="/"` listing of `staging/`). A Hadoop listing on the
    * driver, no Spark job; a missing root lists as empty. */
  def listFolders(spark: SparkSession, root: String): Seq[String] = {
    val hadoopPath = new org.apache.hadoop.fs.Path(root)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hadoopPath)) Seq.empty
    else fs.listStatus(hadoopPath).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
  }

  /** S7: folder/table discovery — each [[listFolders]] subdirectory of
    * `root` read as one Parquet table. Returns name -> DataFrame, sorted
    * by name. */
  def discoverTables(spark: SparkSession, root: String): Seq[(String, DataFrame)] =
    listFolders(spark, root).map(n =>
      n -> parquet(spark, new org.apache.hadoop.fs.Path(root, n).toString))
}
