package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** The reference's per-dataset "transform" stage as composable
  * `DataFrame => DataFrame` functions (reference:
  * airflow/dags/plugins/transform.py:85-118 `ETLPipeline.clean_data`,
  * rename maps at airflow/dags/pipeline.py:49-99).
  *
  * All five steps are pure narrow/shuffle-declarative DataFrame ops, so
  * Catalyst collapses the stacked projections into a single codegen'd
  * stage and pushes what it can into the scan. The only shuffle is the
  * exact-dedup exchange, which hash-partitions on all columns — at 100 TB
  * that is the same plan Spark would pick for `DISTINCT` and is
  * map-side-combined (partial aggregate before the exchange).
  */
object Clean {

  /** P1: map-driven column rename with pandas semantics — keys not present
    * in the schema are silently ignored (reference: transform.py:91-92
    * `df.rename(columns=...)`). Case-sensitive on the raw header, like
    * pandas. */
  def renameColumns(renames: Map[String, String])(df: DataFrame): DataFrame = {
    val present = renames.filter { case (from, _) => df.columns.contains(from) }
    df.withColumnsRenamed(present)
  }

  /** P2: drop rows where every column is null (reference: transform.py:95
    * `df.dropna(how="all")`). */
  def dropAllNullRows(df: DataFrame): DataFrame = df.na.drop("all")

  /** P3: exact full-row deduplication (reference: transform.py:97-102). */
  def dedupExact(df: DataFrame): DataFrame = df.dropDuplicates()

  /** Pandas-parity trim: `str.strip()` strips ALL leading/trailing
    * whitespace including tabs/newlines, while Spark's `trim` strips
    * spaces only — so use a regexp (reference: transform.py:104-107). */
  def trimExpr(c: Column): Column = regexp_replace(c, "^\\s+|\\s+$", "")

  /** P4: trim every string column, pass non-strings through
    * (reference: transform.py:104-107). Single projection — stays inside
    * whole-stage codegen. */
  def trimStrings(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == StringType) trimExpr(col(f.name)).as(f.name)
      else col(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  /** F5: narrow the literals `"NULL"` and `""` to SQL NULL on every string
    * column (reference: aws_infrastructure/snowflake.tf:86
    * `null_if = ["NULL", ""]`). Applied post-scan for sources whose reader
    * cannot do it natively. */
  def normalizeNullLiterals(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == StringType)
        when(col(f.name) === "" || col(f.name) === "NULL", lit(null))
          .otherwise(col(f.name)).as(f.name)
      else col(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  /** P5: empty-result guard (reference: transform.py:111-112). Uses
    * `head(1)` — a driver-side existence probe, not a full count, but
    * still a Spark job. `Pipeline.cleaned` calls it only when no raw
    * footer already shows a non-null value, which proves a row
    * survives `clean`. */
  def requireNonEmpty(df: DataFrame, context: String = "clean"): DataFrame = {
    require(df.head(1).nonEmpty, s"[$context] DataFrame is empty after cleaning")
    df
  }

  /** The full clean pipeline in reference order: rename -> drop-all-null ->
    * dedup -> trim (reference: transform.py:85-118). */
  def clean(renames: Map[String, String] = Map.empty)(df: DataFrame): DataFrame =
    trimStrings(dedupExact(dropAllNullRows(renameColumns(renames)(df))))

  /** Consistent pseudonymization for export: each listed column is
    * replaced by hex sha256(secret ‖ value) — one value always maps to
    * one token (under one secret), so JOINABILITY SURVIVES: two tables
    * pseudonymized with the same secret still join on the tokenized
    * key, which is the property that separates pseudonymization from
    * redaction. NULLs stay NULL (absence is not a value to protect).
    * Rotating the secret unlinks every prior export. A pure
    * projection — no shuffle, and the digest is built-in codegen'd
    * sha2, not a UDF. */
  def pseudonymize(df: DataFrame, cols: Seq[String], secret: String): DataFrame = {
    require(cols.nonEmpty, "pseudonymize: at least one column")
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(c,
        when(col(c).isNotNull,
          sha2(concat(lit(secret), col(c).cast("string")), 256)))
    }
  }
}
