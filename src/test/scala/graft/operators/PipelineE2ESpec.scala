package graft.operators

import graft.SparkSpec
import graft.sources.Readers
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types._
import java.nio.file.Files
import java.util.concurrent.{CyclicBarrier, TimeUnit}

/** End-to-end reference-shaped pipeline over synthesized 5-source
  * fixtures (FIXTURES.md §A): messy headers, NULL literals, duplicates,
  * whitespace, dangling FKs — through land -> clean -> warehouse ->
  * star -> quality. */
class PipelineE2ESpec extends SparkSpec {
  import spark.implicits._

  test("full pipeline: 5 sources to star schema with quality checks") {
    val root = Files.createTempDirectory("pipe").toString
    val srcDir = Files.createTempDirectory("pipe-src").toString

    // customers CSV (messy headers, dup row, whitespace)
    Files.writeString(java.nio.file.Paths.get(s"$srcDir/customers.csv"),
      """customer_id,name,Gender,DATE of biRTH,signup_date,email,address
        |c1,  Ann ,F,1990-01-01,2020-01-01,a@x.com,addr1
        |c1,  Ann ,F,1990-01-01,2020-01-01,a@x.com,addr1
        |c2,Bea,F,NULL,2020-02-01,b@x.com,
        |""".stripMargin)
    // call logs CSV (daily incremental)
    Files.writeString(java.nio.file.Paths.get(s"$srcDir/call_logs.csv"),
      """call ID,customeR iD,COMPLAINT_catego ry,agent ID,resolutionstatus
        |k1,c1,billing,a1,resolved
        |k2,c2,network,a2,open
        |k3,cX,network,a1,open
        |""".stripMargin)
    // social media JSON
    Files.writeString(java.nio.file.Paths.get(s"$srcDir/social.json"),
      """{"complaint_id":"s1","customeR iD":"c1","agent ID":"a1","media_channel":"tw"}
        |{"complaint_id":"s2","customeR iD":"c2","agent ID":"aX","media_channel":"fb"}
        |""".stripMargin)

    val agentSchema = StructType(Seq(
      StructField("iD", StringType), StructField("NamE", StringType),
      StructField("experience", StringType), StructField("state", StringType)))

    val sources = Seq(
      Pipeline.Source("customers",
        s => Readers.csvAllString(s, s"$srcDir/customers.csv"),
        renames = Map("Gender" -> "gender", "DATE of biRTH" -> "date_of_birth")),
      Pipeline.Source("agents",
        s => Readers.rows(s, Seq(Row("a1", "Zed", "5", "TX"), Row("a2", "Yan", "3", "CA")),
          agentSchema),
        renames = Map("iD" -> "id", "NamE" -> "name")),
      Pipeline.Source("call_logs",
        s => Readers.csvAllString(s, s"$srcDir/call_logs.csv"),
        renames = Map("call ID" -> "call_id", "customeR iD" -> "customer_id",
          "COMPLAINT_catego ry" -> "complaint_category", "agent ID" -> "agent_id",
          "resolutionstatus" -> "resolution_status"),
        incremental = true),
      Pipeline.Source("social_medias",
        s => Readers.json(s, s"$srcDir/social.json"),
        renames = Map("customeR iD" -> "customer_id", "agent ID" -> "agent_id"),
        incremental = true))

    def star(tables: Map[String, org.apache.spark.sql.DataFrame]) =
      StarSchema.build(
        staging = tables,
        dims = Seq(
          "dim_customers" -> (c => StarSchema.dim(c("customers"),
            "customer_id" -> "customer_id", "name" -> "customer_name",
            "gender" -> "gender")),
          "dim_agents" -> (c => StarSchema.dim(c("agents"),
            "id" -> "agent_id", "name" -> "agent_name", "state" -> "state"))),
        facts = Seq(
          "fact_call_logs" -> (c => StarSchema.fact(c("call_logs"),
            Seq("call_id", "customer_id", "agent_id", "complaint_category",
              "resolution_status"),
            Seq((c("dim_customers"), "customer_id", "customer_id"),
              (c("dim_agents"), "agent_id", "agent_id")))),
          "fact_social_media_complaints" -> (c => StarSchema.fact(c("social_medias"),
            Seq("complaint_id", "customer_id", "agent_id", "media_channel"),
            Seq((c("dim_customers"), "customer_id", "customer_id"),
              (c("dim_agents"), "agent_id", "agent_id"))))))

    val report = Pipeline.run(spark, sources, root, star)
    assert(report.stages.map(_.operation) ==
      Seq("land", "transform", "warehouse_load", "star_schema"))

    // C3: the QueryExecutionListener hook captured per-action metrics
    // for the run's writes/reads, all successful
    assert(report.actions.nonEmpty, "run report captured no actions")
    assert(report.actions.forall(_.failed == 0L))
    assert(report.actions.map(_.durationSeconds).sum > 0.0)

    // customers: dup row collapsed, trim applied, NULL literal nulled
    val cust = spark.table("customers")
    assert(cust.count() == 2)
    assert(cust.filter($"customer_id" === "c1").select("name").as[String].head() == "Ann")
    assert(cust.filter($"customer_id" === "c2" && $"date_of_birth".isNull).count() == 1)

    // facts: dangling FKs dropped by the dim inner joins
    assert(spark.table("fact_call_logs").select("call_id").as[String]
      .collect().toSet == Set("k1", "k2"))
    assert(spark.table("fact_social_media_complaints").count() == 1)

    // dbt-test analogs pass on the built star schema
    assert(Quality.isUnique(spark.table("dim_customers"), "customer_id"))
    assert(Quality.isNotNull(spark.table("fact_call_logs"), "customer_id"))

    // re-run: incremental sources are ledger-skipped -> same row counts
    def contents(t: String) = spark.table(t).collect().map(_.toString).toSet
    val staged = Seq("call_logs", "social_medias").map(t => t -> contents(t)).toMap
    val (report2, jobs2) = countJobs(Pipeline.run(spark, sources, root, star))
    assert(spark.table("customers").count() == 2) // full reload overwrites staging
    assert(report2.stages.head.skipped == 2)      // both incremental batches skipped
    // re-cleaning a ledger-skipped batch whose staging folder is already
    // loaded is dead work: only the two full loads are transformed
    val transform = report2.stages.find(_.operation == "transform").get
    assert(transform.skipped == 2 && transform.processed == 2, transform)
    assert(staged.forall { case (t, rows) => contents(t) == rows })
    assert(spark.table("fact_call_logs").select("call_id").as[String]
      .collect().toSet == Set("k1", "k2"))
    // one single-job ledger lookup, no dead transforms, reads of loaded
    // folders only, no schema-inference job per read, no non-empty probe
    // for a batch whose footer shows a value; the units' pool threads
    // carry the caller's job group, so none of their jobs goes uncounted
    assert(jobs2 == 16, s"re-run launched $jobs2 Spark jobs, pinned at 16")
  }

  test("a batch landed but never loaded (crash between land and load) is transformed and loaded on the next run") {
    val root = Files.createTempDirectory("pipe-crash").toString
    val schema = StructType(Seq(
      StructField("Call ID", StringType), StructField("v", StringType)))
    // what the crashed run left: the landed batch and its landing ledger
    // row, but no staging output and no staging ledger row
    Readers.rows(spark, Seq(Row("k1", "x"), Row("k2", "y")), schema)
      .write.parquet(s"$root/raw/crash_calls")
    FileLedger.append(spark, s"$root/_ledger", Seq(("crash_calls", "crash_calls.batch")))
    val calls = Pipeline.Source("crash_calls",
      _ => throw new IllegalStateException("a ledger-marked batch must not land again"),
      renames = Map("Call ID" -> "call_id"), incremental = true)
    val report = Pipeline.run(spark, Seq(calls), root, _ => Map.empty)
    val stage = report.stages.map(st => st.operation -> st).toMap
    assert(stage("land").skipped == 1 && stage("land").processed == 0)
    assert(stage("transform").processed == 1 && stage("transform").skipped == 0)
    assert(stage("warehouse_load").processed == 1)
    assert(spark.table("crash_calls").select("call_id").as[String].collect().toSet ==
      Set("k1", "k2"))
    assert(FileLedger.unprocessed(spark, s"$root/_ledger",
      Seq(("staging/crash_calls", "crash_calls.parquet"))).isEmpty)
    // a loaded batch whose staging folder was removed is re-cleaned, so
    // the star stage still gets its table, but not loaded twice
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$root/staging/crash_calls"))
    var tables = Set.empty[String]
    val again = Pipeline.run(spark, Seq(calls), root, t => { tables = t.keySet; Map.empty })
      .stages.map(st => st.operation -> st).toMap
    assert(again("transform").processed == 1 && again("warehouse_load").skipped == 1)
    assert(tables == Set("crash_calls") && spark.table("crash_calls").count() == 2)
  }

  test("an all-null batch fails the transform and leaves the previous staging rows untouched") {
    val root = Files.createTempDirectory("pipe-nulls").toString
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("v", StringType)))
    var batch = Seq(Row("r1", "x"), Row("r2", "y"))
    val src = Pipeline.Source("nully", s => Readers.rows(s, batch, schema))
    Pipeline.run(spark, Seq(src), root, _ => Map.empty)
    def staged = spark.read.parquet(s"$root/staging/nully").collect().map(_.toString).toSet
    val before = staged
    assert(before == Set("[r1,x]", "[r2,y]"))
    batch = Seq(Row(null, null), Row(null, null))
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, Seq(src), root, _ => Map.empty, retries = 0)
    }
    assert(e.getMessage.contains("[nully] DataFrame is empty after cleaning"))
    assert(staged == before)
  }

  test("cleaning a batch whose raw footer shows a value launches no probe job") {
    val root = Files.createTempDirectory("pipe-footer").toString
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("v", StringType)))
    Readers.rows(spark, Seq(Row(null, " x "), Row(null, null), Row(null, " x ")), schema)
      .write.parquet(s"$root/raw/footer_src")
    val src = Pipeline.Source("footer_src", _ => throw new IllegalStateException("not landed"))
    val (cleaned, jobs) = countJobs(Pipeline.cleaned(spark, s"$root/raw/footer_src", src))
    assert(jobs == 0, s"cleaning a non-empty batch ran $jobs Spark jobs")
    assert(cleaned.collect().map(_.toString).toSeq == Seq("[null,x]"))
  }

  test("a drifted raw folder whose only values sit outside the read schema fails as empty") {
    val root = Files.createTempDirectory("pipe-drift").toString
    val raw = s"$root/raw/drifted"
    // the first file by path decides the read schema (id, v) and is all
    // null; the second holds values only in a column that schema lacks
    def single(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val out = Files.createTempDirectory("pipe-drift-part").toString + "/o"
      df.coalesce(1).write.parquet(out)
      val part = new java.io.File(out).list().filter(_.endsWith(".parquet")).head
      Files.createDirectories(java.nio.file.Paths.get(raw))
      Files.move(java.nio.file.Paths.get(out, part), java.nio.file.Paths.get(raw, name))
    }
    single(Readers.rows(spark, Seq(Row(null, null)), StructType(Seq(
      StructField("id", StringType), StructField("v", StringType)))), "a.parquet")
    single(Seq("e1", "e2").toDF("extra"), "b.parquet")
    FileLedger.append(spark, s"$root/_ledger", Seq(("drifted", "drifted.batch")))
    val src = Pipeline.Source("drifted",
      _ => throw new IllegalStateException("a ledger-marked batch must not land again"),
      incremental = true)
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, Seq(src), root, _ => Map.empty, retries = 0)
    }
    assert(e.getMessage.contains("[drifted] DataFrame is empty after cleaning"))
    assert(!new java.io.File(s"$root/staging/drifted").exists())
  }

  test("transient source failure is retried and recorded (reference retries: 2)") {
    val root = Files.createTempDirectory("pipe-retry").toString
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("v", StringType)))
    var landCalls = 0
    val flaky = Pipeline.Source("flaky_src", s => {
      landCalls += 1
      // first attempt dies (transient outage); the retry succeeds —
      // the run must complete, record the re-attempt, and mark no failure
      if (landCalls == 1) throw new RuntimeException("transient source outage")
      Readers.rows(s, Seq(Row("r1", "x"), Row("r2", "y")), schema)
    })
    // no star models: the default identity buildStar would re-materialize
    // the warehouse table onto itself (UNSUPPORTED_OVERWRITE)
    val report = Pipeline.run(spark, Seq(flaky), root, _ => Map.empty)
    val land = report.stages.find(_.operation == "land").get
    assert(land.retried == 1, s"expected 1 recorded re-attempt, got $land")
    assert(land.succeeded == 1 && land.failed == 0 && land.processed == 1)
    assert(landCalls == 2)
    assert(spark.table("flaky_src").count() == 2)

    // retry exhaustion: the unit marks failed and the run aborts
    val root2 = Files.createTempDirectory("pipe-retry-exhaust").toString
    var calls2 = 0
    val dead = Pipeline.Source("dead_src", _ => {
      calls2 += 1; throw new RuntimeException("permanent outage")
    })
    val ex = intercept[RuntimeException] {
      Pipeline.run(spark, Seq(dead), root2, _ => Map.empty, retries = 1)
    }
    assert(ex.getMessage == "permanent outage")
    assert(calls2 == 2, "retries = 1 means exactly two attempts")
  }

  private val idSchema = StructType(Seq(StructField("id", StringType)))

  private def causes(e: Throwable): Seq[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq

  test("a stage's units run concurrently; land and buildStar run on the caller's thread") {
    val root = Files.createTempDirectory("pipe-concurrent").toString
    val caller = Thread.currentThread()
    val callbackThreads = scala.collection.mutable.ArrayBuffer.empty[Thread]
    val sources = Seq("meet_l", "meet_r").map(n => Pipeline.Source(n, s => {
      callbackThreads += Thread.currentThread()
      Readers.rows(s, Seq(Row(n)), idSchema)
    }))
    // each model's one row waits for the other model's row: run one
    // after the other, the first model's wait times out
    val meet = udf { (id: String) =>
      PipelineE2ESpec.pair.await(30, TimeUnit.SECONDS); id }
    val report = Pipeline.run(spark, sources, root, tables => {
      callbackThreads += Thread.currentThread()
      tables.map { case (n, df) => s"${n}_model" -> df.select(meet(col("id")).as("id")) }
    }, retries = 0)
    assert(callbackThreads.size == 3 && callbackThreads.forall(_ eq caller), callbackThreads)
    assert(report.stages.forall(_.failed == 0), report.stages)
    assert(spark.table("meet_l_model").as[String].collect().toSeq == Seq("meet_l"))
    assert(spark.table("meet_r_model").as[String].collect().toSeq == Seq("meet_r"))
  }

  test("a failing unit is rethrown once its siblings finish, whose batches and ledger marks exist once") {
    val root = Files.createTempDirectory("pipe-unit-fail").toString
    val ledger = s"$root/_ledger"
    val boom = udf { (id: String) =>
      if (id.startsWith("bad:")) throw new IllegalStateException(s"bad batch $id"); id }
    var broken = true
    def batch(n: String, flaky: Boolean) = Pipeline.Source(n, s =>
      Readers.rows(s, Seq(Row(if (flaky && broken) s"bad:$n" else n)), idSchema)
        .select(boom(col("id")).as("id")), incremental = true)
    val good = Seq("batch_a", "batch_b", "batch_c")
    val sources = Seq(batch("batch_a", false), batch("batch_x1", true),
      batch("batch_b", false), batch("batch_x2", true), batch("batch_c", false))
    def marks = FileLedger.load(spark, ledger).select("folder_name", "file_name")
      .as[(String, String)].collect().toSeq.sorted

    // two units fail; the first in source order is the one rethrown
    val e = intercept[Exception](Pipeline.run(spark, sources, root, _ => Map.empty, retries = 0))
    val messages = causes(e).map(c => String.valueOf(c.getMessage))
    assert(messages.exists(_.contains("bad batch bad:batch_x1")), messages)
    assert(!messages.exists(_.contains("batch_x2")), messages)
    good.foreach(n => assert(spark.read.parquet(s"$root/raw/$n").as[String].collect().toSeq == Seq(n)))
    assert(marks == good.map(n => (n, s"$n.batch")))

    // the re-run lands only the failed batches; every pair is marked once
    broken = false
    val report = Pipeline.run(spark, sources, root, _ => Map.empty, retries = 0)
    val land = report.stages.head
    assert(land.skipped == 3 && land.processed == 2 && land.failed == 0, land)
    val all = sources.map(_.name)
    all.foreach(n => assert(spark.table(n).as[String].collect().toSeq == Seq(n)))
    assert(marks == (all.map(n => (n, s"$n.batch")) ++
      all.map(n => (s"staging/$n", s"$n.parquet"))).sorted)
    assert(!new java.io.File(s"$ledger/_temporary").exists(), "append left _temporary under _ledger")
  }

  test("an incremental source listed twice lands once") {
    val root = Files.createTempDirectory("pipe-twice").toString
    var landCalls = 0
    val calls = Pipeline.Source("twice_calls", s => {
      landCalls += 1
      Readers.rows(s, Seq(Row("k1"), Row("k2")), idSchema)
    }, incremental = true)
    val report = Pipeline.run(spark, Seq(calls, calls), root, _ => Map.empty)
    val land = report.stages.head
    assert(landCalls == 1 && land.processed == 1 && land.skipped == 1, land)
    assert(spark.read.parquet(s"$root/raw/twice_calls").count() == 2)
    assert(spark.table("twice_calls").count() == 2)
    assert(FileLedger.load(spark, s"$root/_ledger").count() == 2) // one land, one load
  }
}

object PipelineE2ESpec {
  /** Met by the two star models' rows; static, so the UDF closure
    * reaches the one instance instead of a serialized copy. */
  val pair = new CyclicBarrier(2)
}
