package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The rewrite must be (a) taken when covered — plan reads the cube, not
  * the fact; (b) refused when not covered — plan reads the fact; (c)
  * invisible to results either way. */
class RollupRewriteSpec extends SparkSpec {
  import spark.implicits._

  private lazy val basePath = s"$sf/documents.parquet"
  private lazy val base: DataFrame = graft.queries.t(spark, sf, "documents")

  private lazy val registered: Unit = {
    val cubePath = java.nio.file.Files
      .createTempDirectory("graft-rollup-spec").toString
    RollupRewrite.materializeAndRegister(spark, "spec_cube", base, basePath,
      dims = Seq("source", "lang"), measures = Seq("n_chars"), cubePath)
  }

  override protected def afterAll(): Unit = {
    RollupRewrite.clear() // shared session: don't leak into other suites
    super.afterAll()
  }

  private def scan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  // DataFrames cache their queryExecution: always REBUILD the query
  // after registration or the pre-rewrite plan is what you measure.
  private def covered(): DataFrame =
    base.filter($"lang" =!= "zh").groupBy("source")
      .agg(sum("n_chars").as("total_chars"), count(lit(1)).as("n_docs"))

  test("covered aggregate is answered from the cube, results unchanged") {
    val expected = covered().collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSet // before registration
    registered
    val q = covered()
    val p = scan(q)
    assert(p.contains("graft-rollup-spec"), s"expected cube scan:\n$p")
    assert(!p.contains("documents.parquet"), s"fact must not be read:\n$p")
    val got = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
  }

  test("global aggregate (no grouping) rewrites; count survives via coalesce") {
    registered
    val q = base.agg(count(lit(1)).as("n"), sum("n_chars").as("c"))
    val p = scan(q)
    assert(p.contains("graft-rollup-spec"), s"expected cube scan:\n$p")
    val r = q.collect().head
    assert(r.getLong(0) == base.count())
    assert(r.getLong(1) == base.agg(sum("n_chars")).collect().head.getLong(0))
  }

  test("uncovered shapes are left on the base scan") {
    registered
    // avg is not a registered additive measure
    val avg_ = scan(base.groupBy("source").agg(avg("n_chars")))
    assert(avg_.contains("documents.parquet"), s"avg must not rewrite:\n$avg_")
    // grouping key outside the cube dims
    val key = scan(base.groupBy("doc_id").agg(sum("n_chars")))
    assert(key.contains("documents.parquet"), s"non-dim group must not rewrite:\n$key")
    // filter on a non-dim column
    val filt = scan(base.filter($"n_chars" > 100).groupBy("source")
      .agg(sum("n_chars")))
    assert(filt.contains("documents.parquet"), s"non-dim filter must not rewrite:\n$filt")
    // DISTINCT aggregates cannot merge from partials
    val dist = scan(base.groupBy("source").agg(countDistinct("lang")))
    assert(dist.contains("documents.parquet"), s"distinct must not rewrite:\n$dist")
  }

  test("refresh merges a delta into the cube; rewrite answers base+delta totals") {
    registered
    val delta = Seq(
      ("srcX", "en", 100L), ("srcX", "en", 50L), ("srcX", "fr", 7L)
    ).toDF("source", "lang", "n_chars")
    val next = java.nio.file.Files
      .createTempDirectory("graft-rollup-spec").toString + "/v2"
    RollupRewrite.refresh(spark, "spec_cube", delta, next)
    val q = base.groupBy("source").agg(sum("n_chars").as("c"), count(lit(1)).as("n"))
    val p = scan(q)
    assert(p.contains("v2"), s"expected refreshed cube scan:\n$p")
    // the rewritten answer now includes the delta rows the BASE never saw
    val got = q.as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("srcX") == ((157L, 3L)))
    val src0 = base.filter($"source" === "src0")
      .agg(sum("n_chars"), count(lit(1))).as[(Long, Long)].head()
    assert(got("src0") == src0) // untouched groups unchanged
    // re-register the un-refreshed cube for the remaining tests
    RollupRewrite.clear()
    val cubePath = java.nio.file.Files
      .createTempDirectory("graft-rollup-spec").toString
    RollupRewrite.materializeAndRegister(spark, "spec_cube", base, basePath,
      dims = Seq("source", "lang"), measures = Seq("n_chars"), cubePath)
  }

  test("dim-subset regroup and dim filter re-target exactly") {
    registered
    val q = base.filter($"lang".isin("en", "fr")).groupBy("lang")
      .agg(sum("n_chars").as("c"), count(lit(1)).as("n"))
    val p = scan(q)
    assert(p.contains("graft-rollup-spec"), s"expected cube scan:\n$p")
    val got = q.as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val exp = base.filter($"lang".isin("en", "fr")).collect()
      .groupBy(_.getString(2)).map { case (l, rows) =>
        l -> ((rows.map(_.getLong(4)).sum, rows.length.toLong)) }
    assert(got == exp)
  }
}
