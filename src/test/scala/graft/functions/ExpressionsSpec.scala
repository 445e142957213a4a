package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("ArrayDotLong matches interpreted aggregate/zip_with result") {
    val df = Seq(
      (Array(1L, 2L, 3L), Array(4L, 5L, 6L)),
      (Array(-7L, 0L, 2L), Array(3L, 9L, -1L))).toDF("a", "b")
    val got = df.select(ArrayDotLong($"a", $"b")).as[Long].collect().toSeq
    val ref = df.select(
      aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0L), (acc, v) => acc + v))
      .as[Long].collect().toSeq
    assert(got == ref && got == Seq(32L, -23L))
  }

  test("ArrayDotLong truncates to the shorter array, nulls contribute 0") {
    val df = Seq((Seq(Some(2L), None, Some(4L)), Seq(Some(10L), Some(10L)))).toDF("a", "b")
    assert(df.select(ArrayDotLong($"a", $"b")).as[Long].head() == 20L)
  }

  test("ArrayDotLong rejects non-long arrays at analysis") {
    val df = Seq((Array(1, 2), Array(3, 4))).toDF("a", "b")
    intercept[Exception] { df.select(ArrayDotLong($"a", $"b")).collect() }
  }

  test("SparseDotLong: merge-scan equals a map-based reference; disjoint terms dot 0") {
    val df = Seq(
      (Seq("a", "c", "d"), Seq(2L, 3L, 5L), Seq("b", "c", "d"), Seq(7L, 11L, 13L)),
      (Seq("a", "b"), Seq(1L, 2L), Seq("c", "d"), Seq(3L, 4L)),
      (Seq[String](), Seq[Long](), Seq("x"), Seq(9L)))
      .toDF("ta", "wa", "tb", "wb")
    val got = df.select(SparseDotLong($"ta", $"wa", $"tb", $"wb"))
      .as[Long].collect().toSeq
    // reference: scala map intersection
    val ref = df.select($"ta", $"wa", $"tb", $"wb")
      .as[(Seq[String], Seq[Long], Seq[String], Seq[Long])].collect().toSeq
      .map { case (ta, wa, tb, wb) =>
        val m = ta.zip(wa).toMap
        tb.zip(wb).collect { case (t, w) if m.contains(t) => m(t) * w }.sum
      }
    assert(got == ref && got == Seq(3L * 11 + 5 * 13, 0L, 0L))
    // term arrays that differ only in nullability (a column's
    // array<string> holds nulls, a literal array does not) still analyze
    val mixed = df.select(SparseDotLong($"ta", $"wa",
        array(lit("c"), lit("d")), array(lit(10L), lit(100L))))
      .as[Long].collect().toSeq
    assert(mixed == Seq(3L * 10 + 5 * 100, 0L, 0L))
  }

  test("SparseDotLong: bigint-keyed variant equals the string-keyed dot under an order-preserving relabeling") {
    // the round-15 tfIdfCosinePairs path ships dictionary ids instead
    // of term strings — dot must be invariant under the bijection
    val terms = Seq("a", "b", "c", "d", "x")
    val id = terms.zipWithIndex.map { case (t, i) => t -> (i + 10L) }.toMap
    val rows = Seq(
      (Seq("a", "c", "d"), Seq(2L, 3L, 5L), Seq("b", "c", "d"), Seq(7L, 11L, 13L)),
      (Seq("a", "b"), Seq(1L, 2L), Seq("c", "d"), Seq(3L, 4L)),
      (Seq[String](), Seq[Long](), Seq("x"), Seq(9L)))
    val str = rows.toDF("ta", "wa", "tb", "wb")
      .select(SparseDotLong($"ta", $"wa", $"tb", $"wb")).as[Long].collect().toSeq
    val lng = rows.map { case (ta, wa, tb, wb) =>
      (ta.map(id), wa, tb.map(id), wb)
    }.toDF("ta", "wa", "tb", "wb")
      .select(SparseDotLong($"ta", $"wa", $"tb", $"wb")).as[Long].collect().toSeq
    assert(lng == str && str == Seq(3L * 11 + 5 * 13, 0L, 0L))
    // mixed key types must be rejected at analysis
    intercept[Exception] {
      rows.map { case (ta, wa, tb, wb) => (ta.map(id), wa, tb, wb) }
        .toDF("ta", "wa", "tb", "wb")
        .select(SparseDotLong($"ta", $"wa", $"tb", $"wb")).collect()
    }
  }

  test("SparseDotLong fails fast on mismatched parallel arrays (no silent truncation)") {
    // user-facing SQL function: a mis-built vector pair must error, not
    // return a plausible wrong dot from the shorter prefix
    val df = Seq(
      (Seq("a", "b"), Seq(1L), Seq("a"), Seq(2L))) // 2 terms, 1 weight
      .toDF("ta", "wa", "tb", "wb")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    val ex = intercept[Throwable] {
      df.select(SparseDotLong($"ta", $"wa", $"tb", $"wb")).collect()
    }
    assert(messages(ex).exists(_.contains("parallel arrays")), s"got: $ex")
    // ...and on the other side too
    val ex2 = intercept[Throwable] {
      df.select(SparseDotLong($"tb", $"wb", $"ta", $"wa")).collect()
    }
    assert(messages(ex2).exists(_.contains("parallel arrays")), s"got: $ex2")
  }

  test("SparseDotLong matches the relational explode/join/sum dot on random-ish vectors") {
    // the phase-2 equivalence tfIdfCosinePairs relies on: per-doc sorted
    // sparse vectors vs the (doc, term)-keyed equi-join aggregate
    val docs = (0L until 20L).map { i =>
      val terms = (0 until 12).map(j => s"t${(i * 7 + j * 3) % 17}").distinct.sorted
      (i, terms, terms.map(t => (t.length + i % 5 + 1).toLong))
    }
    val vecs = docs.toDF("id", "ts", "ws")
    val pairs = for (a <- 0L until 20L; b <- a + 1 until 20L) yield (a, b)
    val cand = pairs.toDF("id_a", "id_b")
    val got = cand
      .join(vecs.select($"id".as("id_a"), $"ts".as("tsa"), $"ws".as("wsa")), Seq("id_a"))
      .join(vecs.select($"id".as("id_b"), $"ts".as("tsb"), $"ws".as("wsb")), Seq("id_b"))
      .select($"id_a", $"id_b",
        SparseDotLong($"tsa", $"wsa", $"tsb", $"wsb").as("dot"))
      .as[(Long, Long, Long)].collect().toSeq.toMap2
    val posting = vecs.select($"id", explode(arrays_zip($"ts", $"ws")).as("e"))
      .select($"id", $"e.ts".as("t"), $"e.ws".as("w"))
    val rel = cand
      .join(posting.select($"id".as("id_a"), $"t", $"w".as("wa")), Seq("id_a"))
      .join(posting.select($"id".as("id_b"), $"t", $"w".as("wb")), Seq("id_b", "t"))
      .groupBy("id_a", "id_b").agg(sum($"wa" * $"wb").as("dot"))
      .as[(Long, Long, Long)].collect().toSeq.toMap2
    // the relational form drops share-nothing pairs; the scan gives 0
    rel.foreach { case (k, v) => assert(got(k) == v, s"pair $k") }
    got.foreach { case (k, v) => if (!rel.contains(k)) assert(v == 0L, s"pair $k") }
  }

  private implicit class TupleSeqOps(s: Seq[(Long, Long, Long)]) {
    def toMap2: Map[(Long, Long), Long] = s.map(t => (t._1, t._2) -> t._3).toMap
  }

  test("ArrayL2Long matches interpreted aggregate/zip_with squared distance") {
    val df = Seq(
      (Array(1L, 2L, 3L), Array(4L, 5L, 6L)),     // 9+9+9 = 27
      (Array(-7L, 0L, 2L), Array(3L, 9L, -1L))).toDF("a", "b") // 100+81+9 = 190
    val got = df.select(ArrayL2Long($"a", $"b")).as[Long].collect().toSeq
    val ref = df.select(
      aggregate(zip_with($"a", $"b", (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v)).as[Long].collect().toSeq
    assert(got == ref && got == Seq(27L, 190L))
  }

  test("ArrayL2Long truncates to the shorter array, nulls contribute 0") {
    val df = Seq((Seq(Some(2L), None, Some(4L)), Seq(Some(10L), Some(10L)))).toDF("a", "b")
    assert(df.select(ArrayL2Long($"a", $"b")).as[Long].head() == 64L)
  }

  test("RollingHash64 is deterministic, content-sensitive, codegen==interp") {
    val df = Seq("hello world", "hello worlD", "hello world", "").toDF("s")
    val h = df.select(RollingHash64($"s")).as[Long].collect()
    assert(h(0) == h(2) && h(0) != h(1))
    // interpreted path (eval) must agree with the codegen'd result
    val interp = new RollingHash64(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.unsafe.types.UTF8String.fromString("hello world"),
        org.apache.spark.sql.types.StringType)).eval(null)
    assert(interp == h(0))
    // empty string hashes to the FNV offset basis
    assert(h(3) == 0xcbf29ce484222325L)
  }

  test("NfcNormalize recomposes, is idempotent, codegen==interp, null-safe") {
    // "cafe" + combining acute (decomposed) must recompose to U+00E9
    val decomposed = "café"
    val composed = "café"
    assert(decomposed != composed) // distinct byte sequences going in
    val df = Seq(decomposed, composed, "plain ascii", "").toDF("s")
    val out = df.select(NfcNormalize($"s")).as[String].collect()
    assert(out(0) == composed && out(1) == composed)
    assert(out(2) == "plain ascii" && out(3) == "")
    // idempotent: normalizing the output changes nothing
    val twice = df.select(NfcNormalize(NfcNormalize($"s"))).as[String].collect()
    assert(twice.toSeq == out.toSeq)
    // interpreted eval agrees with codegen
    val interp = new NfcNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.unsafe.types.UTF8String.fromString(decomposed),
        org.apache.spark.sql.types.StringType)).eval(null)
    assert(interp.toString == composed)
    // nulls pass through
    assert(Seq[Option[String]](None).toDF("s")
      .select(NfcNormalize($"s")).collect().head.isNullAt(0))
    // the byte-keyed pipeline motivation: fingerprints collapse after NFC
    import graft.analytics.TextAnalysis
    val fp = Seq((decomposed, composed)).toDF("a", "b").select(
      TextAnalysis.fingerprint(NfcNormalize($"a")).as("fa"),
      TextAnalysis.fingerprint(NfcNormalize($"b")).as("fb"),
      TextAnalysis.fingerprint($"a").as("ra"),
      TextAnalysis.fingerprint($"b").as("rb")).head()
    assert(fp.getString(0) == fp.getString(1))
    assert(fp.getString(2) != fp.getString(3))
  }

  test("canonicalText: NFC-first ordering, class strip, whitespace collapse") {
    import graft.analytics.TextAnalysis
    val decomposed = "Café!  du\tmonde  "
    val composed = "Café!  du\tmonde  "
    val df = Seq(decomposed, composed, "  plain   TEXT 42 ").toDF("s")
    val out = df.select(TextAnalysis.canonicalText($"s")).as[String].collect()
    // both spellings canonicalize IDENTICALLY: NFC composes e+accent
    // into é, which the [a-z0-9 ] filter then drops whole
    assert(out(0) == out(1))
    assert(out(0) == "caf du monde")
    assert(out(2) == "plain text 42")
  }

  test("fingerprint64 is whitespace/case-invariant like the md5 form") {
    import graft.analytics.TextAnalysis
    val df = Seq(("a B  c", "A b c", "a b d")).toDF("x", "y", "z")
    val r = df.select(
      TextAnalysis.fingerprint64($"x").as("fx"),
      TextAnalysis.fingerprint64($"y").as("fy"),
      TextAnalysis.fingerprint64($"z").as("fz")).head()
    assert(r.getLong(0) == r.getLong(1) && r.getLong(0) != r.getLong(2))
  }

  test("bpeishTokens splits letter runs, digit runs, and marks") {
    val got = Seq("Hello, world42!  ok").toDF("s")
      .select(graft.analytics.TextAnalysis.bpeishTokens($"s")).as[Seq[String]].head()
    assert(got == Seq("hello", ",", "world", "42", "!", "ok"))
  }

  test("multiple codegen'd hash/dot instances agree under hardened codegen confs") {
    // CODEGEN_ONLY + fallback=false make any codegen compile failure a
    // hard error instead of a silent interpreted fallback. Defensive
    // pin for the freshName'd generated locals: Spark 4.1 scopes each
    // expression's code so even fixed names were verified not to
    // collide, but that is an implementation detail this test would
    // catch changing.
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val prevFallback = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      import org.apache.spark.sql.functions.{lit, array}
      // non-nullable, non-foldable inputs: the shape with the least
      // scoping/folding between the two instances
      val x = $"x".cast("long")
      val r = Seq(1).toDF("x").select(
        graft.functions.RollingHash64(x.cast("string")).as("h1"),
        graft.functions.RollingHash64((x + 1).cast("string")).as("h2"),
        graft.functions.ArrayDotLong(
          array(x, lit(2L)), array(lit(3L), lit(4L))).as("d1"),
        graft.functions.ArrayDotLong(
          array(x + 4, lit(6L)), array(lit(7L), lit(8L))).as("d2")).head()
      assert(r.getLong(2) == 11L && r.getLong(3) == 83L)
      assert(r.getLong(0) != r.getLong(1))
    } finally {
      prevFactory match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
      prevFallback match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }
}
