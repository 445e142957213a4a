package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Readers

package object queries {

  /** A registered operator query: the Spark implementation plus, when
    * SQL-expressible, an equivalent ANSI SQL oracle for DuckDB. */
  final case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

  def q(oracle: String)(fn: (SparkSession, String) => DataFrame): Q = Q(fn, Some(oracle))
  def qNoOracle(fn: (SparkSession, String) => DataFrame): Q = Q(fn, None)

  /** Load a driver test table (TESTDATA.md): `$dir/<name>.parquet`.
    *
    * `events.ts` is timestamp[us] without UTC adjustment, which arrives
    * as TIMESTAMP_NTZ; unix_micros()/double casts reject it, so it is
    * cast to TIMESTAMP here and every downstream query sees ONE type.
    * The session zone is pinned UTC everywhere (Verify/Bench/tests), so
    * the wall-clock reinterpretation is value-identical and matches
    * DuckDB's naive reading. A TIMESTAMP(NANOS) column fails the read
    * as it does in Spark. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    ntzTsAsTimestamp(Readers.parquet(spark, s"$dir/$name.parquet"))

  /** [[t]]'s `ts` normalization, shared with the streaming reads. */
  private[queries] def ntzTsAsTimestamp(df: DataFrame): DataFrame =
    if (df.schema.exists(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.TimestampNTZType))
      df.withColumn("ts", col("ts").cast("timestamp"))
    else df

  private val tempDirReg =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[java.io.File]]

  /** Fresh per-invocation temp dir (stream checkpoints must never be
    * reused across bench trials — a reused checkpoint sees zero new
    * files and the "stream" would measure nothing). When called inside
    * a [[tempScoped]] body the dir is registered for deletion as soon
    * as the body's result is materialized; a bench run otherwise leaves
    * corpus-sized source copies and twin indexes behind on every one of
    * its 3×N trials and /tmp grows without bound across a round. */
  def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Option(tempDirReg.get()).foreach(_ += p.toFile)
    p.toString
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(); ()
  }

  /** Scope a VERDICT-SIZED query body's scratch dirs to its invocation:
    * the returned function runs the body, MATERIALIZES its result (the
    * lazy plan may read the scratch dirs, so deletion must wait until
    * the rows are in hand — verdict rows are driver-small by contract),
    * then recursively deletes every dir the body allocated via
    * [[scratchDir]]. Streams started in the body have terminated by the
    * time it returns (AvailableNow + awaitTermination), so nothing
    * still holds the paths. */
  def tempScoped(f: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => {
      val buf = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
      // REENTRANT: save and restore the enclosing scope's buffer — a
      // tempScoped body that (transitively) invokes another tempScoped
      // query must hand the outer registry back, or every scratchDir
      // the outer scope allocates afterwards leaks silently
      val outer = tempDirReg.get()
      tempDirReg.set(buf)
      try {
        val df = f(s, dir)
        val rows = java.util.Arrays.asList(df.collect(): _*)
        s.createDataFrame(rows, df.schema)
      } finally {
        if (outer == null) tempDirReg.remove() else tempDirReg.set(outer)
        buf.foreach(deleteRec)
      }
    }

  /** Exact integer-cents arithmetic for money columns. The test tables
    * carry 2-decimal doubles; summing doubles directly is order-dependent
    * in the last bits (and so engine-dependent), while integer sums are
    * exact in any order — this keeps oracle hash-comparisons stable.
    * DuckDB equivalent: `CAST(floor(x*100 + 0.5) AS BIGINT)`. */
  def cents(c: Column): Column = floor(c * 100 + 0.5).cast("long")

  /** 1e-4-dollar units for discounted prices (price*(1-disc) has 4
    * decimals). DuckDB: `CAST(floor(x*10000 + 0.5) AS BIGINT)`. */
  def tenthCents(c: Column): Column = floor(c * 10000 + 0.5).cast("long")
}
