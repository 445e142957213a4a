package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LedgerAndStoreSpec extends SparkSpec {
  import spark.implicits._

  test("FileLedger.newFiles anti-joins processed (folder, file) pairs") {
    val cand = Seq(("a", "f1"), ("a", "f2"), ("b", "f1"))
      .toDF("folder_name", "file_name")
    val ledger = Seq(("a", "f1")).toDF("folder_name", "file_name")
      .withColumn("loaded_at", current_timestamp())
    val out = FileLedger.newFiles(cand, ledger)
      .as[(String, String)].collect().toSet
    assert(out == Set(("a", "f2"), ("b", "f1")))
  }

  test("newFiles past the broadcast threshold degrades to a shuffled anti-join, same result") {
    val cand = Seq(("a", "f1"), ("a", "f2"), ("b", "f1"))
      .toDF("folder_name", "file_name")
    val ledger = Seq(("a", "f1")).toDF("folder_name", "file_name")
      .withColumn("loaded_at", current_timestamp())
    // zero the size threshold (hint dropped) AND disable the planner's
    // own auto-broadcast, so the fallback really is the shuffled
    // left_anti a lake-lifetime ledger would get
    graft.SessionConf.scoped(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = FileLedger.newFiles(cand, ledger, maxBytes = 0L)
      val out = df.as[(String, String)].collect().toSet
      assert(out == Set(("a", "f2"), ("b", "f1")))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin")
        && !plan.contains("BroadcastNestedLoopJoin"),
        s"oversized ledger must not broadcast:\n$plan")
      assert(plan.contains("LeftAnti"), s"expected an anti-join:\n$plan")
    }
  }

  test("FileLedger append + reload is idempotent on rerun (I2 semantics)") {
    val dir = java.nio.file.Files.createTempDirectory("ledger").toString
    assert(FileLedger.load(spark, dir).count() == 0) // missing -> empty
    FileLedger.append(spark, dir, Seq(("a", "f1"), ("a", "f2")))
    assert(FileLedger.unprocessed(spark, dir, "a", Seq("f1", "f2", "f3")) == Seq("f3"))
    // rerun with same candidates: nothing new (content-blind, name-keyed)
    val cand = Seq(("a", "f1"), ("a", "f2")).toDF("folder_name", "file_name")
    assert(FileLedger.newFiles(cand, FileLedger.load(spark, dir)).count() == 0)
  }

  test("FileLedger.load on an existing ledger launches no job and returns the inferred read's rows") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-load").toString
    FileLedger.append(spark, dir, Seq(("a", "f1"), ("b", "f2")))
    FileLedger.append(spark, dir, Seq(("a", "f3")))
    val (ledger, jobs) = countJobs(FileLedger.load(spark, dir))
    assert(jobs == 0, s"declared-schema load must not infer footers (ran $jobs jobs)")
    assert(ledger.schema == spark.read.parquet(dir).schema)
    assert(ledger.collect().toSet == spark.read.parquet(dir).collect().toSet)
    assert(ledger.count() == 3)
  }

  test("FileLedger.unprocessed: one batched lookup equals per-pair lookups across folders") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-batch").toString
    FileLedger.append(spark, dir,
      Seq(("a", "f1"), ("a", "f2"), ("b", "g1"), ("staging/c", "c.parquet"), ("e", "x")))
    val cands = Seq(("b", "g2"), ("a", "f1"), ("staging/c", "c.parquet"), ("a", "f3"),
      ("b", "g1"), ("d", "h1"), ("staging/d", "d.parquet"), ("a", "f2"))
    val batched = FileLedger.unprocessed(spark, dir, cands)
    val perPair = cands.filter { case (folder, file) =>
      FileLedger.unprocessed(spark, dir, folder, Seq(file)).nonEmpty
    }
    assert(batched == perPair.sorted)
    assert(batched == Seq(("a", "f3"), ("b", "g2"), ("d", "h1"), ("staging/d", "d.parquet")))
  }

  test("FileLedger.unprocessed: no candidates launch no job; a missing ledger reports every pair pending") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-edge").toString
    FileLedger.append(spark, dir, Seq(("a", "f1")))
    val (none, jobs) = countJobs(FileLedger.unprocessed(spark, dir, Nil))
    assert(none.isEmpty && jobs == 0, s"an empty lookup ran $jobs jobs")
    val missing = s"$dir/absent"
    val cands = Seq(("b", "g1"), ("a", "f1"), ("a", "f0"))
    assert(FileLedger.unprocessed(spark, missing, cands) == cands.sorted)
    assert(FileLedger.unprocessed(spark, missing, "a", Seq("f2", "f1")) == Seq("f1", "f2"))
  }

  private def names(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).toSeq.flatten.sorted

  private def marks(dir: String): Seq[String] =
    names(dir).filter(n => n.startsWith("part-") && n.endsWith(".parquet"))

  test("FileLedger.append launches no job and writes one part file whose footer infers to Schema") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-mark").toString + "/_ledger"
    val before = System.currentTimeMillis()
    val (_, jobs) = countJobs(FileLedger.append(spark, dir, Seq(("a", "f1"), ("a", "f2"))))
    assert(jobs == 0, s"a ledger mark ran $jobs Spark jobs")
    val Seq(part) = marks(dir)
    assert(part.matches("part-[0-9a-f-]{36}\\.parquet"), part)
    assert(!names(dir).contains("_temporary") && !names(dir).contains("_SUCCESS"), names(dir))
    val mark = spark.read.parquet(s"$dir/$part")
    assert(mark.schema == org.apache.spark.sql.types.StructType.fromDDL(FileLedger.Schema))
    val stamps = mark.select("loaded_at").as[java.sql.Timestamp].collect().map(_.getTime)
    assert(stamps.length == 2 && stamps.forall(t => t >= before - 1000 && t <= System.currentTimeMillis()))
  }

  test("FileLedger.unprocessed on an existing ledger launches exactly one job") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-one-job").toString
    FileLedger.append(spark, dir, Seq(("a", "f1")))
    FileLedger.append(spark, dir, Seq(("b", "g1")))
    val (pending, jobs) = countJobs(
      FileLedger.unprocessed(spark, dir, Seq(("b", "g1"), ("a", "f2"), ("a", "f1"))))
    assert(pending == Seq(("a", "f2")))
    assert(jobs == 1, s"the ledger lookup ran $jobs Spark jobs")
    // more marks than Spark lists on the driver before it lists in a job
    (0 until 40).foreach(i => FileLedger.append(spark, dir, Seq(("c", s"h$i"))))
    val (many, manyJobs) = countJobs(
      FileLedger.unprocessed(spark, dir, Seq(("c", "h39"), ("c", "h40"), ("a", "f2"))))
    assert(many == Seq(("a", "f2"), ("c", "h40")))
    assert(manyJobs == 1, s"the lookup over 42 marks ran $manyJobs Spark jobs")
  }

  test("FileLedger.load reads exactly the mark files, by explicit path") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-input").toString + "/_ledger"
    FileLedger.append(spark, dir, Seq(("a", "f1")))
    FileLedger.append(spark, dir, Seq(("a", "f2"), ("b", "g1")))
    val read = FileLedger.load(spark, dir).inputFiles
      .map(f => new org.apache.hadoop.fs.Path(f).getName).toSeq.sorted
    assert(read.size == 2 && read == marks(dir))
  }

  test("16 threads appending to one ledger leave every pair once and no temp file") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-threads").toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    val go = new java.util.concurrent.CountDownLatch(1)
    val pairs = (0 until 16).map(i => ("t", s"f$i"))
    try {
      val done = pairs.map(pair => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = { go.await(); FileLedger.append(spark, dir, Seq(pair)) }
      }))
      go.countDown()
      done.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val rows = FileLedger.load(spark, dir).select("folder_name", "file_name")
      .as[(String, String)].collect().toSeq.sorted
    assert(rows == pairs.sorted)
    assert(marks(dir).size == 16)
    assert(!names(dir).exists(n => n == "_temporary" || n.endsWith(".tmp") || n.endsWith(".tmp.crc")),
      names(dir))
  }

  test("a hidden temp mark left by a crash mid-append is ignored by load and unprocessed") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-crash").toString
    val other = java.nio.file.Files.createTempDirectory("ledger-crash-other").toString
    FileLedger.append(spark, dir, Seq(("a", "f1")))
    FileLedger.append(spark, other, Seq(("a", "f2")))
    // a whole mark not yet renamed, and a torn one
    java.nio.file.Files.copy(java.nio.file.Paths.get(other, marks(other).head),
      java.nio.file.Paths.get(dir, s".${marks(other).head}.tmp"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, ".part-torn.parquet.tmp"),
      "PAR1 torn".getBytes)
    assert(FileLedger.load(spark, dir).select("file_name").as[String].collect().toSeq == Seq("f1"))
    assert(FileLedger.unprocessed(spark, dir, "a", Seq("f1", "f2")) == Seq("f2"))
  }

  test("a ledger mixing a Spark-written part with driver-written marks reads both") {
    val dir = java.nio.file.Files.createTempDirectory("ledger-mixed").toString + "/_ledger"
    Seq(("a", "f1")).toDF("folder_name", "file_name")
      .withColumn("loaded_at", current_timestamp())
      .write.mode("append").parquet(dir)
    assert(names(dir).contains("_SUCCESS"))
    FileLedger.append(spark, dir, Seq(("a", "f2")))
    val ledger = FileLedger.load(spark, dir)
    assert(ledger.schema("loaded_at").dataType == org.apache.spark.sql.types.TimestampType)
    assert(ledger.filter(col("loaded_at").isNull).count() == 0)
    assert(ledger.select("folder_name", "file_name").as[(String, String)].collect().toSet ==
      Set(("a", "f1"), ("a", "f2")))
    assert(FileLedger.unprocessed(spark, dir, "a", Seq("f3", "f2", "f1")) == Seq("f3"))
  }

  test("appendByName aligns case-insensitively, fills missing with null") {
    val a = Seq((1L, "x")).toDF("id", "name")
    val b = Seq(("y", 2L)).toDF("NAME", "ID") // permuted + re-cased
    val c = Seq(3L).toDF("id")                // missing column
    val out = TableStore.appendByName(Seq(a, b, c)).orderBy("id")
    assert(out.columns.toSeq == Seq("id", "name"))
    assert(out.as[(Long, Option[String])].collect().toSeq ==
      Seq((1L, Some("x")), (2L, Some("y")), (3L, None)))
  }

  test("loadIntoTable creates then appends by name (K2/K3)") {
    val tbl = "t_load_" + System.nanoTime()
    TableStore.loadIntoTable(spark, Seq((1L, "a")).toDF("ID", "Val"), tbl)
    TableStore.loadIntoTable(spark, Seq(("b", 2L)).toDF("val", "id"), tbl)
    val out = spark.table(tbl).orderBy("id").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "a"), (2L, "b")))
  }

  test("loadIntoTable tolerates drift in BOTH directions") {
    // batch missing a column fills null; batch ADDING a column drops it
    // (MATCH_BY_COLUMN_NAME semantics) instead of failing the append
    val tbl = "t_drift_" + System.nanoTime()
    TableStore.loadIntoTable(spark, Seq((1L, "a")).toDF("id", "val"), tbl)
    TableStore.loadIntoTable(spark, Seq(Tuple1(2L)).toDF("id"), tbl)
    TableStore.loadIntoTable(spark,
      Seq((3L, "c", true)).toDF("id", "val", "extra"), tbl)
    val out = spark.table(tbl).orderBy("id")
      .as[(Long, Option[String])].collect().toSeq
    assert(out == Seq((1L, Some("a")), (2L, None), (3L, Some("c"))))
    assert(!spark.table(tbl).columns.contains("extra"))
  }

  test("writePartitioned: re-writing one day replaces ONLY that day") {
    val path = java.nio.file.Files.createTempDirectory("part-tbl").toString
    TableStore.writePartitioned(
      Seq((1L, "d1"), (2L, "d1"), (3L, "d2"), (4L, "d3"))
        .toDF("id", "day"), path, Seq("day"))
    // refresh day d2 with corrected rows; d1/d3 must survive untouched
    TableStore.writePartitioned(
      Seq((30L, "d2"), (31L, "d2")).toDF("id", "day"), path, Seq("day"))
    val got = spark.read.parquet(path).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "d1"), (2L, "d1"), (30L, "d2"), (31L, "d2"), (4L, "d3")))
    // the written layout partition-prunes: a day filter reads one directory
    val plan = spark.read.parquet(path).filter($"day" === "d3")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"), plan)
  }

  test("compact: many small files become few sorted ones, content intact") {
    val src = java.nio.file.Files.createTempDirectory("compact-src").toString
    val dst = java.nio.file.Files.createTempDirectory("compact-dst").toString + "/t"
    spark.range(0, 1000).select($"id", ($"id" % 7).as("v"))
      .repartition(40) // the small-file problem
      .write.mode("overwrite").parquet(src)
    val (before, after, rows) = Layout.compact(spark, src, dst, "id", 600L)
    assert(before == 40L && rows == 1000L)
    assert(after <= 3L, s"expected <= 3 compacted files, got $after")
    val got = spark.read.parquet(dst).as[(Long, Long)].collect().toSet
    assert(got == (0L until 1000L).map(i => (i, i % 7)).toSet)
    // range layout preserved: per-file id ranges don't interleave, so
    // a point filter prunes to one file via footer stats
    val pruned = spark.read.parquet(dst).filter($"id" === 5L)
    assert(pruned.count() == 1L)
  }
}
