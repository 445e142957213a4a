package graft.queries

// Scratch seam profiler for the q335 disaster drill — optimization-round
// evidence tooling, not registered, not part of the driver contract.
// Replicates q335's seams with a timer around each so the drill's cost
// can be attributed (the registered query runs them as one opaque 50 s
// block). Run:
//   SPARK_GRAFT_CPUS=32 sbt "runMain graft.queries.DrillProfile /root/testdata/sf0.1"
import org.apache.spark.sql.functions._
import graft.analytics.{IndexStore, Similarity}
import graft.streaming.IncrementalStream

object DrillProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = graft.LocalSession(cpus)
    def timed[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"PHASE $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    val e = t(s, sfDir, "embeddings")
    val base = e.filter(col("vec_id") % 4 === 1)
      .select(col("vec_id"), col("embedding"))
    val day1 = e.filter(col("vec_id") % 4 === 2)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val wave1 = e.filter(col("vec_id") % 4 === 3)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    val wave2 = e.filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding"))
    val idx = scratchDir("graft_drillprof_idx")
    val cb0 = timed("codebook (shared memo)")(
      EmbeddingQueries.sharedCodebook(s, sfDir))
    timed("writeIvfPqIndex (base)") {
      Similarity.writeIvfPqIndex(base, "vec_id", "embedding", cb0, idx) }
    timed("append day1") {
      Similarity.appendToIvfPqIndex(s, idx, day1, "vec_id", "embedding",
        batchId = "prof-d1") }
    def serveMany(qids: Seq[Long]): Map[Long, Seq[(Long, Long)]] = {
      val got = Similarity.topKIvfPqManyFromIndex(s, idx,
        e.filter(col("vec_id").isin(qids: _*)), "vec_id", "embedding",
        k = 20, Similarity.codebookOf(s, idx))
        .select(col("qid"), col("id"), col("adc_dist")).collect()
        .groupBy(_.getLong(0))
        .map { case (q, rows) =>
          q -> rows.map(r => (r.getLong(1), r.getLong(2)))
            .sortBy { case (id, d) => (d, id) }.toSeq }
      qids.map(q => q -> got.getOrElse(q, Seq.empty)).toMap
    }
    timed("serveMany [2,6]")(serveMany(Seq(2L, 6L)))
    val src = scratchDir("graft_drillprof_src")
    val ckpt = scratchDir("graft_drillprof_ckpt")
    wave1.repartition(2).write.mode("overwrite").parquet(src)
    def runStream(): Unit = IncrementalStream.ivfPqMaintenanceStream(
      s.readStream.schema(wave1.schema)
        .option("maxFilesPerTrigger", "1").parquet(src),
      "vec_id", "embedding", idx, ckpt).awaitTermination()
    timed("stream run 1 (2 batches)")(runStream())
    val preCrash = timed("serveMany [5,2,3]")(serveMany(Seq(5L, 2L, 3L)))
    timed("crash-sim write") {
      IndexStore.storedComponent(s, idx, "codes").write.mode("overwrite")
        .parquet(IndexStore.versionDir(idx, "codes",
          IndexStore.pinOf(s, idx, "codes").v + 1)) }
    timed("serveMany [5,2,3] again")(serveMany(Seq(5L, 2L, 3L)))
    val indexed = base.unionByName(day1).unionByName(wave1)
    timed("rebuild (nCells=32)") {
      Similarity.rebuildIvfPqIndex(s, idx, indexed, "vec_id", "embedding",
        rebuildId = "prof-r1", nCells = Some(32)) }
    wave2.coalesce(1).write.mode("append").parquet(src)
    timed("stream run 2 (1 batch)")(runStream())
    val indexedAll = indexed.unionByName(wave2)
    timed("ivfPqIndexHealth") {
      Similarity.ivfPqIndexHealth(s, idx, indexedAll,
        "vec_id", "embedding",
        queries = e.filter(col("vec_id").isin(3, 7, 8, 11)), k = 20,
        recallFloorPct = 0).collect() }
    timed("serveMany [8,2,3]")(serveMany(Seq(8L, 2L, 3L)))
    timed("counts (expectedRows+codes)") {
      val expected = base.count() + day1.count() + wave1.count() + wave2.count()
      val c = IndexStore.storedComponent(s, idx, "codes")
      (expected, c.count(),
        c.groupBy("id").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1).count()) }
    timed("serveMany [5,2,3,8]")(serveMany(Seq(5L, 2L, 3L, 8L)))
    timed("compactIvfPqIndex")(Similarity.compactIvfPqIndex(s, idx))
    timed("serveMany post-compact")(serveMany(Seq(5L, 2L, 3L, 8L)))
    timed("vacuumIvfPqIndex")(Similarity.vacuumIvfPqIndex(s, idx))
    timed("serveMany post-vacuum")(serveMany(Seq(5L, 2L, 3L, 8L)))
    timed("replay append")(
      Similarity.appendToIvfPqIndex(s, idx, day1, "vec_id", "embedding",
        batchId = "prof-d1"))
    timed("replay rebuild")(
      Similarity.rebuildIvfPqIndex(s, idx, indexed, "vec_id", "embedding",
        rebuildId = "prof-r1", nCells = Some(32)))
    timed("replay stream")(runStream())
    timed("serveMany final")(serveMany(Seq(5L, 2L, 3L, 8L)))
    println("preCrash sizes: " + preCrash.map { case (k, v) => s"$k:${v.size}" })
    s.stop()
  }
}
