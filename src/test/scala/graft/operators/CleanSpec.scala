package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class CleanSpec extends SparkSpec {
  import spark.implicits._

  private def messy = Seq(
    ("  alice\t", "x", "1"),
    ("  alice\t", "x", "1"), // exact duplicate
    ("bob", "NULL", ""),
    (null, null, null)       // all-null row
  ).toDF("Customer Name", "a", "b")

  test("renameColumns ignores keys not present (pandas semantics)") {
    val out = Clean.renameColumns(Map(
      "Customer Name" -> "customer_name", "missing" -> "nope"))(messy)
    assert(out.columns.toSeq == Seq("customer_name", "a", "b"))
  }

  test("dropAllNullRows keeps partially-null rows") {
    assert(Clean.dropAllNullRows(messy).count() == 3)
  }

  test("dedupExact removes exact duplicate rows only") {
    assert(Clean.dedupExact(messy).count() == 3)
  }

  test("trimStrings strips tabs/newlines like pandas str.strip") {
    val out = Clean.trimStrings(Seq(("\t a b \n", 1)).toDF("s", "i"))
      .select("s").as[String].collect()
    assert(out.head == "a b")
  }

  test("normalizeNullLiterals narrows NULL and empty-string literals") {
    val out = Clean.normalizeNullLiterals(messy)
    val bob = out.filter($"`Customer Name`" === "bob").collect().head
    assert(bob.isNullAt(1) && bob.isNullAt(2))
  }

  test("clean composes rename -> dropAllNull -> dedup -> trim in order") {
    val out = Clean.clean(Map("Customer Name" -> "name"))(messy)
    assert(out.columns.head == "name")
    assert(out.count() == 2) // dup collapsed, all-null dropped
    assert(out.select("name").as[String].collect().toSet == Set("alice", "bob"))
  }

  test("requireNonEmpty throws on empty input (reference guard)") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("x", StringType))))
    intercept[IllegalArgumentException] { Clean.requireNonEmpty(empty) }
  }

  test("requireNonEmpty after clean: all-duplicate input passes, all-null input fails") {
    val dups = Seq.fill(200)(("  a ", "b")).toDF("x", "y").repartition(4)
    val out = Clean.requireNonEmpty(Clean.clean()(dups), "dups")
    assert(out.collect().map(_.toString).toSeq == Seq("[a,b]"))
    val nulls = Seq[(String, String)]((null, null), (null, null)).toDF("x", "y")
    val e = intercept[IllegalArgumentException] {
      Clean.requireNonEmpty(Clean.clean()(nulls), "nulls")
    }
    assert(e.getMessage.contains("[nulls] DataFrame is empty after cleaning"))
  }

  test("pseudonymize: joinability survives, NULLs stay NULL, rotation unlinks") {
    val a = Seq((1L, Some("x")), (2L, None), (3L, Some("y"))).toDF("k", "v")
    val b = Seq((1L, "o1"), (1L, "o2"), (3L, "o3"), (9L, "o9")).toDF("k", "ref")
    val pa = Clean.pseudonymize(a, Seq("k"), "s1")
    val pb = Clean.pseudonymize(b, Seq("k"), "s1")
    // join on tokens == join on raw keys (the pseudonymization contract)
    val viaTokens = pa.join(pb, "k").count()
    val viaRaw = a.join(b, "k").count()
    assert(viaTokens == viaRaw && viaTokens == 3)
    // NULL values are preserved, non-null values are unrecognizable hex
    val rows = pa.collect().map(r => Option(r.getString(0)))
    assert(rows.forall(_.forall(_.matches("[0-9a-f]{64}"))))
    assert(Clean.pseudonymize(a, Seq("v"), "s1")
      .filter($"k" === 2).head().isNullAt(1))
    // a rotated secret produces disjoint tokens for the same values
    val rotated = Clean.pseudonymize(a, Seq("k"), "s2")
      .select("k").as[String].collect().toSet
    assert(pa.select("k").as[String].collect().toSet.intersect(rotated).isEmpty)
  }
}
