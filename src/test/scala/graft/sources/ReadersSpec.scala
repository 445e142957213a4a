package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.nio.file.Files

class ReadersSpec extends SparkSpec {

  private def tmpDir = Files.createTempDirectory("readers").toString

  test("csv: messy headers round-trip; NULL/empty literals become null") {
    val dir = tmpDir
    Files.writeString(java.nio.file.Paths.get(s"$dir/a.csv"),
      "customeR iD,DATE of biRTH,email\nc1,NULL,a@x.com\nc2,1990-01-01,\n")
    val df = Readers.csvAllString(spark, s"$dir/a.csv")
    assert(df.columns.toSeq == Seq("customeR iD", "DATE of biRTH", "email"))
    val rows = df.orderBy("`customeR iD`").collect()
    assert(rows(0).isNullAt(1)) // "NULL" literal
    assert(rows(1).isNullAt(2)) // empty literal
  }

  test("csv with inference types numerics, keeps strings") {
    val dir = tmpDir
    Files.writeString(java.nio.file.Paths.get(s"$dir/n.csv"),
      "id,score,name\n1,2.5,ann\n2,3.5,bea\n")
    val df = Readers.csv(spark, s"$dir/n.csv")
    assert(df.schema("id").dataType == IntegerType)
    assert(df.schema("score").dataType == DoubleType)
    assert(df.schema("name").dataType == StringType)
  }

  test("json: newline-delimited objects with native inference") {
    val dir = tmpDir
    Files.writeString(java.nio.file.Paths.get(s"$dir/d.json"),
      """{"complaint_id":"x1","n":1}
        |{"complaint_id":"x2","n":2}
        |""".stripMargin)
    val df = Readers.json(spark, s"$dir/d.json")
    assert(df.count() == 2 && df.columns.sorted.toSeq == Seq("complaint_id", "n"))
  }

  test("rows: sheet-like driver-side records become a DataFrame (S3 analog)") {
    val schema = StructType(Seq(
      StructField("iD", StringType), StructField("NamE", StringType)))
    val df = Readers.rows(spark, Seq(Row("a1", "Zed"), Row("a2", "Yan")), schema)
    assert(df.count() == 2 && df.columns.toSeq == Seq("iD", "NamE"))
  }

  test("jdbc: Derby round-trip + sorted table discovery (S4)") {
    val url = s"jdbc:derby:memory:graftdb${System.nanoTime()};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("CREATE TABLE APP.WEB_B (request_id VARCHAR(10))")
    st.execute("CREATE TABLE APP.WEB_A (request_id VARCHAR(10))")
    st.execute("INSERT INTO APP.WEB_A VALUES ('r1'), ('r2')")
    st.close(); conn.close()
    val tables = Readers.jdbcAllTables(spark, url, "APP")
    assert(tables.map(_._1) == Seq("WEB_A", "WEB_B")) // deterministic order
    assert(tables.head._2.count() == 2)
  }

  test("jdbcPartitioned: scan splits into parallel range-query partitions") {
    val url = s"jdbc:derby:memory:graftpart${System.nanoTime()};create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    st.execute("CREATE TABLE APP.CALLS (call_id BIGINT, who VARCHAR(10))")
    st.execute("INSERT INTO APP.CALLS VALUES " +
      (1 to 40).map(i => s"($i, 'u$i')").mkString(", "))
    st.close(); conn.close()
    val df = Readers.jdbcPartitioned(spark, url, "APP.CALLS",
      "call_id", lowerBound = 1, upperBound = 40, numPartitions = 4)
    assert(df.rdd.getNumPartitions == 4) // 4 concurrent range cursors
    assert(df.count() == 40) // ranges partition the table exactly
    // bounds-discovering variant: same result without caller-known bounds
    val auto = Readers.jdbcPartitionedAuto(spark, url, "APP.CALLS",
      "call_id", numPartitions = 4)
    assert(auto.rdd.getNumPartitions > 1)
    assert(auto.count() == 40)
  }

  test("csvWithCorruptCapture: malformed rows quarantined, not fatal or silent") {
    val dir = tmpDir
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/m.csv"),
      "id,score\n1,2.5\nnot_a_number,whoops\n3,4.0\n".getBytes)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType)))
    val rows = Readers.csvWithCorruptCapture(spark, s"$dir/m.csv", schema)
      .collect()
    assert(rows.length == 3)
    val corrupt = rows.filter(r => !r.isNullAt(2))
    assert(corrupt.length == 1)
    assert(corrupt.head.getString(2) == "not_a_number,whoops") // raw line kept
    assert(rows.filter(r => r.isNullAt(2)).map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("orc: write-read round-trip preserves schema and values") {
    val root = tmpDir
    import spark.implicits._
    val data = Seq((1L, "a", 1.5), (2L, "NULL", 2.5), (3L, null, 3.5))
      .toDF("id", "name", "score")
    graft.operators.TableStore.writeAs(data, "orc", s"$root/orc")
    val back = Readers.orc(spark, s"$root/orc")
    assert(back.columns.toSeq == Seq("id", "name", "score"))
    assert(back.count() == 3)
    // values, including genuine nulls, survive the round-trip; the
    // "NULL" literal is NOT narrowed here (that is the CSV ingestion
    // boundary's contract, not the self-describing formats')
    val names = back.orderBy("id").select("name").as[String].collect().toSeq
    assert(names == Seq("a", "NULL", null))
  }

  test("orc scan prunes columns and pushes filters like parquet") {
    val root = tmpDir
    import spark.implicits._
    (1L to 1000L).map(i => (i, s"n$i", i % 7)).toDF("id", "name", "grp")
      .write.orc(s"$root/t")
    val df = Readers.orc(spark, s"$root/t")
      .filter(org.apache.spark.sql.functions.col("grp") === 3)
      .select("id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("grp"),
      s"filter must reach the ORC scan:\n$plan")
    assert(!plan.contains("name"), s"pruned column must not be read:\n$plan")
    assert(df.count() == 143)
  }

  test("discoverTables: one table per subdirectory, sorted (S7)") {
    val root = tmpDir
    import spark.implicits._
    Seq(1, 2).toDF("x").write.parquet(s"$root/beta")
    Seq(3).toDF("x").write.parquet(s"$root/alpha")
    val found = Readers.discoverTables(spark, root)
    assert(found.map(_._1) == Seq("alpha", "beta"))
    assert(found.map(_._2.count()).sum == 3)
    // the listing under it: directories only, sorted; a missing root is empty
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/a_file.txt"), "x")
    Seq(4).toDF("x").write.parquet(s"$root/Gamma")
    assert(Readers.listFolders(spark, root) == Seq("Gamma", "alpha", "beta"))
    assert(Readers.discoverTables(spark, root).map(_._1) == Seq("Gamma", "alpha", "beta"))
    assert(Readers.listFolders(spark, s"$root/absent").isEmpty)
    assert(Readers.discoverTables(spark, s"$root/absent").isEmpty)
  }

  /** `Readers.parquet(p)` against Spark's own inferred read of `p`:
    * the same schema and rows. Returns the jobs building the frame took. */
  private def parquetParity(p: String): Int = {
    val (df, jobs) = countJobs(Readers.parquet(spark, p))
    val ref = spark.read.parquet(p)
    assert(df.schema == ref.schema, s"schema differs at $p")
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toString).sorted.toSeq
    assert(rows(df) == rows(ref), s"rows differ at $p")
    jobs
  }

  /** The one data file Spark wrote under `dir`. */
  private def partFile(dir: String): java.nio.file.Path = {
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts.length == 1, parts.toSeq)
    parts.head.toPath
  }

  /** A directory of two single-file parts with drifted schemas: `name1`
    * holds (id, a), `name2` holds (id, a, extra). */
  private def driftedDir(name1: String, name2: String): String = {
    import spark.implicits._
    val root = tmpDir
    Seq((1L, "x"), (2L, "y")).toDF("id", "a").coalesce(1).write.parquet(s"$root/narrow")
    Seq((3L, "z", 3.5)).toDF("id", "a", "extra").coalesce(1).write.parquet(s"$root/wide")
    val dir = s"$root/t"
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.copy(partFile(s"$root/narrow"), java.nio.file.Paths.get(s"$dir/$name1"))
    Files.copy(partFile(s"$root/wide"), java.nio.file.Paths.get(s"$dir/$name2"))
    Files.writeString(java.nio.file.Paths.get(s"$dir/_SUCCESS"), "")
    dir
  }

  test("parquet: a single file and a flat directory read their schema with no Spark job") {
    import spark.implicits._
    val root = tmpDir
    Seq((1L, "a", 1.5), (2L, null, 2.5)).toDF("id", "name", "score")
      .repartition(3).write.parquet(s"$root/multi")
    assert(parquetParity(s"$root/multi") == 0)
    Seq((1L, "a")).toDF("id", "name").coalesce(1).write.parquet(s"$root/one")
    assert(parquetParity(partFile(s"$root/one").toString) == 0)
  }

  test("parquet: drifted parts take the schema of the lexicographically first file") {
    val narrowFirst = driftedDir("part-a.parquet", "part-b.parquet")
    assert(parquetParity(narrowFirst) == 0)
    assert(Readers.parquet(spark, narrowFirst).columns.toSeq == Seq("id", "a"))
    val wideFirst = driftedDir("part-b.parquet", "part-a.parquet")
    assert(parquetParity(wideFirst) == 0)
    assert(Readers.parquet(spark, wideFirst).columns.toSeq == Seq("id", "a", "extra"))
  }

  test("parquet: a summary file decides the schema, as in Spark") {
    import spark.implicits._
    val dir = s"$tmpDir/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").repartition(2).write
      .option("parquet.summary.metadata.level", "ALL").parquet(dir)
    assert(new java.io.File(s"$dir/_common_metadata").exists())
    assert(parquetParity(dir) == 0)
  }

  test("parquet: spark.sql.parquet.mergeSchema on falls back to Spark's merged schema") {
    val dir = driftedDir("part-a.parquet", "part-b.parquet")
    graft.SessionConf.scoped(spark, "spark.sql.parquet.mergeSchema" -> "true") {
      assert(org.apache.spark.sql.graftshim.Shim.parquetSchema(spark, dir).isEmpty)
      parquetParity(dir)
      assert(Readers.parquet(spark, dir).columns.toSeq == Seq("id", "a", "extra"))
    }
  }

  test("parquet: a partitioned directory falls back to Spark's read") {
    import spark.implicits._
    val dir = s"$tmpDir/p"
    graft.operators.TableStore.writePartitioned(
      Seq((1L, "2024-01-01"), (2L, "2024-01-02")).toDF("id", "day"), dir, Seq("day"))
    assert(org.apache.spark.sql.graftshim.Shim.parquetSchema(spark, dir).isEmpty)
    parquetParity(dir)
    assert(Readers.parquet(spark, dir).columns.toSeq == Seq("id", "day"))
  }

  /** A file whose `ts` is INT64 TIMESTAMP(NANOS), which Spark cannot
    * write: written with parquet-mr's example writer. */
  private def nanosFile(): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val path = s"$tmpDir/events.parquet"
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf))
      .withType(schema).withConf(conf).build()
    val rows = new SimpleGroupFactory(schema)
    try Seq(1L -> 1700000000123456789L, 2L -> 1700000001000000001L).foreach {
      case (id, ts) => w.write(rows.newGroup().append("id", id).append("ts", ts))
    } finally w.close()
    path
  }

  test("parquet: TIMESTAMP(NANOS) follows spark.sql.legacy.parquet.nanosAsLong") {
    val events = nanosFile()
    graft.SessionConf.scoped(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      assert(parquetParity(events) == 0)
      assert(Readers.parquet(spark, events).schema("ts").dataType == LongType)
    }
    graft.SessionConf.scoped(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      val ours = intercept[Exception](Readers.parquet(spark, events))
      val spark0 = intercept[Exception](spark.read.parquet(events))
      assert(ours.getClass == spark0.getClass && ours.getMessage == spark0.getMessage)
    }
  }

  test("parquet: an empty directory and a missing path fail as spark.read.parquet does") {
    val empty = tmpDir
    for (p <- Seq(empty, s"$empty/absent")) {
      val ours = intercept[Exception](Readers.parquet(spark, p))
      val spark0 = intercept[Exception](spark.read.parquet(p))
      assert(ours.getClass == spark0.getClass && ours.getMessage == spark0.getMessage)
    }
  }

  test("parquet: a streaming sink's output reads the files its log names, with no Spark job") {
    import spark.implicits._
    val root = tmpDir
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").write.parquet(s"$root/src")
    val q = spark.readStream.schema(spark.read.parquet(s"$root/src").schema)
      .parquet(s"$root/src").writeStream.format("parquet")
      .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(new java.io.File(s"$root/out/_spark_metadata").isDirectory)
    assert(parquetParity(s"$root/out") == 0)
    // a file the log does not name (a failed attempt's leftover) sorts
    // first and has another schema: neither read may take it
    Seq(9.5).toDF("stray").coalesce(1).write.parquet(s"$root/stray")
    Files.copy(partFile(s"$root/stray"), java.nio.file.Paths.get(s"$root/out/part-0.parquet"))
    assert(parquetParity(s"$root/out") == 0)
    assert(Readers.parquet(spark, s"$root/out").columns.toSeq == Seq("id", "name"))
  }
}
