package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Readers

/** Storage-layout and skew operators — the knobs that decide whether a
  * plan that is correct at 60k rows still runs at 100 TB. */
object Layout {

  /** Hive-style partitioned write: directory-per-value layout so
    * predicate-matching readers scan only matching partitions
    * (PartitionFilters in the plan, not PushedFilters — pruning happens
    * at file-listing time, before any I/O). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed managed table: co-located by key, so repeated joins and
    * aggregations on that key run with zero exchange. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  /** Size-governed write: bound rows per output file so a 100 TB write
    * produces a healthy file population (no 10 GB monoliths, no
    * million-file listings). `repartitionByRange` on the sort key keeps
    * files range-clustered (min/max footer stats stay selective);
    * `maxRecordsPerFile` caps any residual straggler partition. */
  def writeSized(df: DataFrame, path: String, sortCol: String,
                 rowsPerFile: Long, totalRows: Long,
                 mode: String = "overwrite"): Unit = {
    val nFiles = math.max(1L, (totalRows + rowsPerFile - 1) / rowsPerFile).toInt
    df.repartitionByRange(nFiles, col(sortCol))
      .write.mode(mode)
      .option("maxRecordsPerFile", rowsPerFile)
      .parquet(path)
  }

  /** Small-file compaction — the lakehouse maintenance pass: rewrite a
    * directory of many small parquet files into range-sorted files of
    * ~`rowsPerFile`, returning (files_before, files_after, rows). The
    * range partitioning keeps `sortCol` clustered, so parquet footer
    * min/max stats still prune after the rewrite; a plain coalesce
    * would interleave ranges and destroy pruning. At 100 TB this runs
    * per-partition-directory (combine with writePartitioned), never
    * whole-table. */
  def compact(spark: org.apache.spark.sql.SparkSession, srcDir: String,
              destDir: String, sortCol: String,
              rowsPerFile: Long): (Long, Long, Long) = {
    val df = Readers.parquet(spark, srcDir)
    val rows = df.count()
    writeSized(df, destDir, sortCol, rowsPerFile, rows)
    (nParquetFiles(spark, srcDir), nParquetFiles(spark, destDir), rows)
  }

  /** Recursive parquet data-file count of a directory tree (0 when the
    * dir is absent) — the before/after metric every compaction returns. */
  private[graft] def nParquetFiles(spark: org.apache.spark.sql.SparkSession,
                                   dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0L
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
    n
  }

  /** Morton (Z-order) interleaving of the low `16` bits of two integer
    * columns — multi-dimensional layout clustering. Sorting or range-
    * partitioning by the Z-value keeps BOTH dimensions locally bounded
    * per file, so parquet min/max footer stats prune scans filtered on
    * EITHER dimension; a single-column sort leaves the other dimension's
    * per-file range at full width (no pruning). The standard
    * bit-spreading construction ("Interleave bits by Binary Magic
    * Numbers", public bit-twiddling identity) as pure codegen'd integer
    * column arithmetic — no UDF, engine-portable, and exactly
    * reproducible in SQL for the oracle. Callers quantize/normalize
    * dimensions into [0, 65536) first (e.g. `pmod`, bucketed ranks). */
  def zorder2(a: Column, b: Column): Column = {
    def spread16(c: Column): Column = {
      val x0 = c.cast("long").bitwiseAND(lit(0xFFFFL))
      val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
      val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
      x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))
  }

  /** Z-order-clustered write: range-partition and sort by the Morton
    * value of two quantized dimensions, bounding per-file ranges on
    * both. The multi-dimensional upgrade of [[writeSized]]'s
    * single-key clustering. */
  def writeZOrdered(df: DataFrame, path: String, dimA: String, dimB: String,
                    nFiles: Int, mode: String = "overwrite"): Unit =
    df.withColumn("__z", zorder2(col(dimA), col(dimB)))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(mode).parquet(path)

  /** Two-phase salted aggregation for skewed group keys: phase 1
    * aggregates on (key, salt) — the hot key's rows spread over `salt`
    * reducers — phase 2 merges the partials on the key alone. The merge
    * input is |keys|×salt rows regardless of skew.
    *
    * `partials` maps each wanted output column to its (phase-1 agg,
    * phase-2 merge) pair, e.g. count -> (count(*), sum), sum -> (sum,
    * sum), max -> (max, max). */
  def saltedAgg(df: DataFrame, keys: Seq[String], salt: Int,
                partials: Seq[(String, Column, Column => Column)]): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(salt)))
    val phase1 = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(partials.head._2.as(s"__p_${partials.head._1}"),
        partials.tail.map(p => p._2.as(s"__p_${p._1}")): _*)
    phase1
      .groupBy(keys.map(col): _*)
      .agg(
        partials.head._3(col(s"__p_${partials.head._1}")).as(partials.head._1),
        partials.tail.map(p => p._3(col(s"__p_${p._1}")).as(p._1)): _*)
  }
}
