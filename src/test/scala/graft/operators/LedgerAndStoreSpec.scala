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
