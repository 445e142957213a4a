package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StarSchemaQualitySpec extends SparkSpec {
  import spark.implicits._

  private def customers = Seq(("c1", "Ann"), ("c2", "Bea")).toDF("customer_id", "name")
  private def agents = Seq(("a1", "Zed", "TX"), ("a2", "Yan", "CA"))
    .toDF("id", "name", "state")
  private def callLogs = Seq(
    ("k1", "c1", "a1"), ("k2", "c2", "a2"),
    ("k3", "c1", "aX"), // dangling agent FK -> dropped by inner join
    ("k4", "cX", "a1")  // dangling customer FK -> dropped
  ).toDF("call_id", "customer_id", "agent_id")

  test("fact: inner joins to dims referentially filter; fact cols only (J1)") {
    val dimCustomers = StarSchema.dim(customers, "customer_id" -> "customer_id")
    val dimAgents = StarSchema.dim(agents, "id" -> "agent_id", "name" -> "agent_name")
    val f = StarSchema.fact(callLogs, Seq("call_id", "customer_id", "agent_id"),
      Seq((dimCustomers, "customer_id", "customer_id"),
        (dimAgents, "agent_id", "agent_id")))
    assert(f.columns.toSeq == Seq("call_id", "customer_id", "agent_id"))
    assert(f.select("call_id").as[String].collect().toSet == Set("k1", "k2"))
  }

  test("duplicate dim key multiplies fact rows under inner join (J1 parity edge)") {
    val dupDim = Seq(("c1", "Ann"), ("c1", "Ann2"), ("c2", "B"))
      .toDF("customer_id", "name")
    val f = StarSchema.fact(callLogs.filter($"call_id" isin ("k1", "k2")),
      Seq("call_id"), Seq((dupDim, "customer_id", "customer_id")))
    assert(f.count() == 3) // k1 doubled by the duplicate c1 key
  }

  test("build runs dims before facts and registers views (C5/C6)") {
    val models = StarSchema.build(
      staging = Map("customers" -> customers, "agents" -> agents,
        "call_logs" -> callLogs),
      dims = Seq(
        "dim_customers" -> (c => StarSchema.dim(c("customers"),
          "customer_id" -> "customer_id", "name" -> "customer_name")),
        "dim_agents" -> (c => StarSchema.dim(c("agents"),
          "id" -> "agent_id", "name" -> "agent_name", "state" -> "state"))),
      facts = Seq(
        "fact_call_logs" -> (c => StarSchema.fact(c("call_logs"),
          Seq("call_id", "customer_id", "agent_id"),
          Seq((c("dim_customers"), "customer_id", "customer_id"),
            (c("dim_agents"), "agent_id", "agent_id"))))))
    assert(models.keySet == Set("dim_customers", "dim_agents", "fact_call_logs"))
    assert(spark.table("fact_call_logs").count() == 2)
    assert(spark.sql("SELECT * FROM dim_agents").columns.contains("agent_name"))
  }

  test("unique/notNull violations (A2/A3, dbt-test analogs)") {
    val df = Seq(("k1", "x"), ("k1", "y"), ("k2", null)).toDF("id", "v")
    val dup = Quality.uniqueViolations(df, "id").as[(String, Long)].collect()
    assert(dup.toSeq == Seq(("k1", 2L)))
    assert(Quality.notNullViolations(df, "v").count() == 1)
    assert(!Quality.isUnique(df, "id") && Quality.isUnique(df.dropDuplicates("id"), "id"))
  }

  test("unique test ignores NULL keys, exactly like dbt's") {
    // dbt's unique test filters `where column is not null` first — two
    // null-keyed rows are NOT duplicates of each other (not_null is the
    // separate test that flags them)
    val df = Seq((null: String, 1), (null: String, 2), ("k", 3))
      .toDF("id", "v")
    assert(Quality.uniqueViolations(df, "id").count() == 0)
    assert(Quality.isUnique(df, "id"))
    assert(Quality.notNullViolations(df, "id").count() == 2)
  }

  test("profileColumns: one row per column with exact stats, one scan") {
    val df = Seq(
      (1L, Some("a"), Some(10)), (2L, Some("b"), None),
      (3L, Some("a"), Some(30)), (4L, None, Some(10))
    ).toDF("id", "s", "n")
    val prof = Quality.profileColumns(df, Seq("id", "s", "n"))
    val rows = prof.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(rows("id") == ((4L, 4L, 4L, "1", "4")))
    assert(rows("s") == ((4L, 3L, 2L, "a", "b")))
    assert(rows("n") == ((4L, 3L, 2L, "10", "30")))
    // single-scan shape: the whole report reads the table ONCE (the
    // per-column-loop formulation would scan it cols.size times)
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val plan = Quality.profileColumns(orders, Seq("o_orderkey", "o_orderstatus"))
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"expected one parquet scan, got $scans:\n$plan")
  }

  test("acceptedValues/relationships: dbt semantics — NULLs pass both tests") {
    val df = Seq(Some("O"), Some("F"), Some("P"), Some("P"), None)
      .toDF("status")
    val av = Quality.acceptedValuesViolations(df, "status", Seq("O", "F"))
      .as[(String, Long)].collect().toSeq
    assert(av == Seq(("P", 2L))) // the NULL row is not a violation
    val child = Seq(Some(1L), Some(2L), Some(7L), Some(7L), None).toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val rel = Quality.relationshipViolations(child, "fk", parent, "pk")
      .as[(Long, Long)].collect().toSeq
    assert(rel == Seq((7L, 2L))) // NULL FK passes, as in dbt
  }

  test("formatSignatures: shapes collapse runs, dirty rows surface, NULL is a shape") {
    val df = Seq(
      Some("AB-1234"), Some("XY-987"), // both "A-9": runs collapse
      Some("no digits"),               // "A A"
      Some("12.50"),                   // "9.9"
      None                             // NULL shape
    ).toDF("code")
    val got = Quality.formatSignatures(df, Seq("code"))
      .collect().map(r => Option(r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      Some("A-9") -> 2L, Some("A A") -> 1L,
      Some("9.9") -> 1L, None -> 1L))
    // single melted scan regardless of column count
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val plan = Quality.formatSignatures(orders,
        Seq("o_orderstatus", "o_orderpriority"))
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
  }

  test("keySkewReport: hottest key per column from one melted scan, ties to min") {
    val df = Seq(
      ("k1", "x"), ("k1", "y"), ("k1", "z"), // k1 hot on col a (3/6)
      ("k2", "x"), ("k3", "x"), ("k4", "y")  // x and y tie? x=3, y=2, z=1
    ).toDF("a", "b")
    val got = Quality.keySkewReport(df, Seq("a", "b"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got("a") == ((4L, 6L, "k1", 3L, 500000L)))
    assert(got("b") == ((3L, 6L, "x", 3L, 500000L)))
    // count ties break to the smallest value string
    val tied = Seq(("v2", 0), ("v2", 0), ("v1", 0), ("v1", 0)).toDF("c", "pad")
    val t2 = Quality.keySkewReport(tied, Seq("c")).collect().head
    assert(t2.getString(3) == "v1")
    // single scan feeds every column's report
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val plan = Quality.keySkewReport(orders, Seq("o_custkey", "o_orderstatus"))
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
  }

  test("cmsFrequencies: never undercounts, overcount bounded by eps*N") {
    // read through t(), as the registry queries read events
    val ev = graft.queries.t(spark, "/root/testdata/sf0.001", "events")
      .select("event_type")
    val exact = ev.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val est = Quality.cmsFrequencies(ev, "event_type",
      exact.keys.toSeq.sorted, eps = 0.001, confidence = 0.99)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, c) =>
      assert(est(k) >= c, s"CMS undercounted $k: ${est(k)} < $c")
      assert(est(k) <= c + math.ceil(0.001 * n).toLong * 2,
        s"CMS overcount out of band for $k: ${est(k)} vs $c (N=$n)")
    }
    // a key never seen estimates near zero (within the eps*N band)
    val ghost = Quality.cmsFrequencies(ev, "event_type", Seq("no_such_type"))
      .collect().head.getLong(1)
    assert(ghost <= math.ceil(0.001 * n).toLong * 2)
  }

  test("cmsFrequenciesVerdict: bound derived for any decimal eps; non-decimal rejected") {
    val ev = graft.queries.t(spark, "/root/testdata/sf0.001", "events")
      .select("event_type")
    val keys = ev.distinct().as[String].collect().toSeq.sorted
    // eps values the old hardcoded /1000 bound silently mangled:
    // 0.0025 rounded to 3/1000, 0.0002 collapsed the bound to 0
    Seq(0.0025, 0.0002, 0.05).foreach { eps =>
      val rows = Quality.cmsFrequenciesVerdict(ev, "event_type", keys, eps = eps)
        .collect()
      assert(rows.length == keys.length)
      assert(rows.forall(_.getBoolean(2)), s"undercount at eps=$eps")
      assert(rows.forall(_.getBoolean(3)),
        s"eps=$eps width bound must hold (it is ceil(eps*N), not a rounded /1000)")
    }
    // a non-decimal eps cannot form the exact integer bound: loud error
    val ex = intercept[IllegalArgumentException] {
      Quality.cmsFrequenciesVerdict(ev, "event_type", keys, eps = 1.0 / 3.0)
    }
    assert(ex.getMessage.contains("decimal"))
  }

  test("keyCandidates: unique key detected; nulls and dups disqualify") {
    val a = Seq((1L, Some("x")), (2L, Some("x")), (3L, None))
      .toDF("id", "grp")
    val b = Seq((1L, 1L), (1L, 2L)).toDF("k", "v")
    val got = Quality.keyCandidates(Seq(
        ("a", a, Seq("id", "grp")), ("b", b, Seq("k", "v"))))
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(got(("a", "id")) == ((3L, 3L, 3L, 1L)))   // the key
    assert(got(("a", "grp")) == ((3L, 2L, 1L, 0L)))  // null + dup
    assert(got(("b", "k")) == ((2L, 2L, 1L, 0L)))    // duplicated
    assert(got(("b", "v")) == ((2L, 2L, 2L, 1L)))
  }

  test("inclusionCoverage: full, partial, and null-excluded containment") {
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(5L), None).toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val got = Quality.inclusionCoverage(Seq(
        ("c", child, "fk", "p", parent, "pk"),
        ("p", parent, "pk", "c", child, "fk")))
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    // child keys {1,2,5} (null dropped, dup collapsed): 2 of 3 contained
    assert(got("c.fk") == ((3L, 2L, 666666L)))
    // reverse: parent keys {1,2,3}, 2 of 3 appear in child
    assert(got("p.pk") == ((3L, 2L, 666666L)))
  }

  test("joinSizeForecast: predicts the exact join size without running it") {
    val a = Seq(1L, 1L, 1L, 2L, 3L).toDF("k")       // counts 3,1,1
    val b = Seq(1L, 1L, 2L, 4L).toDF("kb")          // counts 2,1,1
    val got = Quality.joinSizeForecast(a, "k", b, "kb")
      .as[(Long, Long, Long, Long, Long)].head()
    // 1: 3*2=6, 2: 1*1=1 -> 7 rows predicted; hot key contributes 6
    assert(got == ((7L, 3L, 3L, 2L, 6L)))
    // ground truth: the actual join has exactly that many rows
    assert(a.join(b, $"k" === $"kb").count() == 7L)
    // disjoint keys: zero forecast, no NULLs
    val z = Quality.joinSizeForecast(a, "k", Seq(9L).toDF("kb"), "kb")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(z == ((0L, 3L, 1L, 0L, 0L)))
  }

  test("profileDrift: null-rate and cardinality drift flagged, stable columns pass") {
    // side A: 10 rows, no nulls in c1, 2 distinct in c2
    val a = (1 to 10).map(i => (s"v$i", if (i % 2 == 0) "x" else "y"))
      .toDF("c1", "c2")
    // side B: c1 grows 20% nulls (> 1% delta); c2 explodes to 8 distinct
    val b = (1 to 10).map(i =>
      (if (i <= 2) null else s"v$i", s"w${i % 8}")).toDF("c1", "c2")
    val got = Quality.profileDrift(a, b, Seq("c1", "c2"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(7), r.getLong(8), r.getBoolean(9)))).toMap
    assert(got("c1") == ((0L, 200000L, true)), got.toString)
    assert(got("c2") == ((0L, 0L, true)), "2 -> 8 distinct is > 2x drift")
    // identical sides: nothing drifts
    val same = Quality.profileDrift(a, a, Seq("c1", "c2"))
      .collect().map(r => r.getString(0) -> r.getBoolean(9)).toMap
    assert(same == Map("c1" -> false, "c2" -> false))
  }
}
