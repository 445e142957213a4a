package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** K1/K2/K3/O2: the warehouse-load layer.
  *
  * The reference loads staged Parquet into named tables with
  * `COPY INTO ... MATCH_BY_COLUMN_NAME=CASE_INSENSITIVE` (reference:
  * airflow/dags/plugins/snowflake_load.py:168-208, SQL at 187-192) after
  * an inferred `CREATE TABLE IF NOT EXISTS` (136-165). Daily files
  * append-merge into the table (README.md:23,65).
  *
  * Spark mapping: case-insensitive by-name alignment =
  * `unionByName(allowMissingColumns = true)` over lower-cased schemas;
  * auto-DDL disappears (schema-on-read); append = `mode("append")`.
  */
object TableStore {

  /** O2/K2: by-name, case-insensitive append-union of many daily batches
    * with drifting schemas. Columns are matched by lower-cased name;
    * columns missing on either side become null (reference semantics of
    * MATCH_BY_COLUMN_NAME=CASE_INSENSITIVE, snowflake_load.py:191). */
  def appendByName(batches: Seq[DataFrame]): DataFrame = {
    require(batches.nonEmpty, "appendByName: no batches")
    batches.map(Narrow.lowerCaseColumns)
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** K1: Parquet write (snappy is Spark's default codec — reference:
    * transform.py:124 `compression='snappy'`). */
  def writeParquet(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).parquet(path)

  /** K1 format breadth: write in any Spark-supported file format
    * ("parquet", "orc", "csv", "json") — the interchange sinks a
    * multi-system deployment needs alongside the parquet default. */
  def writeAs(df: DataFrame, format: String, path: String,
              mode: String = "overwrite"): Unit =
    df.write.mode(mode).format(format).save(path)

  /** K2/K3: load a batch into a named warehouse table. Creates the table
    * if absent (schema from the DataFrame — the reference's
    * DDL-from-parquet-footer step is unnecessary in Spark), appends
    * by-name otherwise. */
  def loadIntoTable(spark: SparkSession, df: DataFrame, table: String): Unit = {
    val normalized = Narrow.lowerCaseColumns(df)
    if (spark.catalog.tableExists(table)) {
      val existing = spark.table(table)
      // align to the existing table's columns by name: missing columns
      // fill with null, batch-only columns are DROPPED — appendByName
      // alone would keep them and make the saveAsTable append throw on
      // any batch whose drift ADDS a column (the snowflake
      // MATCH_BY_COLUMN_NAME semantics this models ignore extras)
      val aligned = appendByName(Seq(existing.limit(0), normalized))
        .select(existing.columns.map(c =>
          org.apache.spark.sql.functions.col(c.toLowerCase)): _*)
      aligned.write.mode("append").format("parquet").saveAsTable(table)
    } else {
      normalized.write.format("parquet").saveAsTable(table)
    }
  }

  /** C5: dbt-style materialization — `view` for staging models,
    * `table` for dims/facts (reference: dbt staging models
    * `materialized='view'`, dbt_project.yml:32-36). */
  def materializeView(df: DataFrame, name: String): Unit =
    df.createOrReplaceTempView(name)

  def materializeTable(spark: SparkSession, df: DataFrame, name: String): Unit =
    Narrow.lowerCaseColumns(df).write.mode("overwrite")
      .format("parquet").saveAsTable(name)

  /** Bucketed + sorted materialization — the shuffle-free join layout.
    * Two tables bucketed on their join key into the SAME bucket count
    * join with NO exchange on either side (Spark trusts the on-disk
    * hash layout; with sorted buckets it sort-merges the files
    * directly). This is the 100 TB answer for a fact table joined on
    * the same key every day: pay the shuffle ONCE at write time, then
    * every downstream join of any two co-bucketed tables is
    * exchange-free. ZeroShuffleJoinSpec pins the plan shape.
    *
    * reference: the warehouse-side equivalent is Snowflake's automatic
    * micro-partitioning after COPY (snowflake_load.py:168-208); Spark
    * makes the layout an explicit, queryable contract. */
  def writeBucketed(df: DataFrame, name: String, key: String,
                    buckets: Int, path: Option[String] = None): Unit = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val w = Narrow.lowerCaseColumns(df).write.mode("overwrite")
      .bucketBy(buckets, key.toLowerCase)
      .sortBy(key.toLowerCase)
      .format("parquet")
    // explicit path => external table: the bucketed LAYOUT lives at a
    // caller-owned location instead of the session warehouse (callers
    // outside a test harness shouldn't drop files into ./spark-warehouse)
    path.foreach(p => w.option("path", p))
    w.saveAsTable(name)
  }

  /** Partitioned write with DYNAMIC partition overwrite: only the
    * partition values PRESENT in `df` are replaced; every other
    * partition on disk is untouched. This is the daily-refresh
    * semantics the reference's cron pipeline needs (re-run one day
    * without clobbering the table — its append-only COPY instead
    * accumulates duplicates, snowflake_load.py:168-208) and the
    * static-overwrite default gets catastrophically wrong (static mode
    * DELETES the whole table first, then writes one day back).
    *
    * At scale, partition pruning on the written layout is what makes
    * day-ranged scans cheap: `WHERE day = X` reads one directory. The
    * overwrite-mode conf is set on the session, scoped to the write. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "writePartitioned needs partition columns")
    graft.SessionConf.scoped(df.sparkSession,
        "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)
    }
  }
}
