package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupClusterSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents: chains and cliques collapse to min label") {
    // components: {1,2,3,4} (chain), {10,11} (edge), {20,21,22} (clique)
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (20L, 22L), (21L, 22L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents: long chain needs multiple propagation rounds") {
    val chain = (0L until 30L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(comps.forall(_._2 == 0L))
  }

  test("connectedComponents under a reliable checkpoint dir (cluster mode)") {
    // with sc.setCheckpointDir set, rounds checkpoint to reliable storage
    // (survives executor loss at scale) instead of localCheckpoint
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val sc = spark.sparkContext
    sc.setCheckpointDir(dir)
    try {
      val chain = (0L until 30L).sliding(2).map(s => (s(0), s(1))).toSeq
        .toDF("id_a", "id_b")
      val comps = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
      assert(comps.forall(_._2 == 0L))
      // reliable checkpoint files actually landed in the dir
      val fs = org.apache.hadoop.fs.FileSystem.get(sc.hadoopConfiguration)
      assert(fs.listStatus(new org.apache.hadoop.fs.Path(dir)).nonEmpty)
    } finally {
      sc.setCheckpointDir(null)
      // delete the checkpoint dir: each suite run otherwise leaves one
      // behind in /tmp forever
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("connectedComponents matches union-find on seeded random graphs") {
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val n = 200
      val edges = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find oracle
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(id => id -> {
          // min member of the component = canonical label
          var r = find(id.toInt); r.toLong
        }).toMap
      // path-compress fully: roots are minimal by construction (union by min)
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got.keySet == expected.keySet, s"seed=$seed node sets differ")
      // same partition into components AND same canonical min labels
      assert(got == expected, s"seed=$seed components differ")
    }
  }

  test("incrementalComponents: folding day edges equals full recompute") {
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val n = 120
      val all = Seq.fill(130)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val (day2, rest) = all.partition(_ => rnd.nextBoolean())
      val (day1, base) = rest.partition(_ => rnd.nextBoolean())
      val ids = (0L until n.toLong).toDF("id")
      def assignment(edges: Seq[(Long, Long)]) = ids
        .join(Dedup.connectedComponents(edges.toDF("id_a", "id_b")), Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
      val expected = assignment(all).as[(Long, Long)].collect().toMap
      // two consecutive daily folds over the stored base assignment
      val afterDay1 = Dedup.incrementalComponents(
        assignment(base), day1.toDF("id_a", "id_b"))
      val got = Dedup.incrementalComponents(afterDay1, day2.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert((0L until n.toLong).forall(id => got(id) == expected(id)),
        s"seed=$seed incremental != full recompute")
    }
  }

  test("incrementalComponents: brand-new docs enter, including a new min label") {
    // stored: {5,6} comp 5, {10} comp 10. Day: brand-new doc 2 bridges
    // into {5,6} and STEALS the label (2 < 5 — the canonical min moves);
    // new pair (50,51) forms a fresh component; 10 is untouched.
    val stored = Seq((5L, 5L), (6L, 5L), (10L, 10L)).toDF("id", "comp")
    val newE = Seq((2L, 6L), (50L, 51L)).toDF("id_a", "id_b")
    val got = Dedup.incrementalComponents(stored, newE)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(5L -> 2L, 6L -> 2L, 10L -> 10L,
      2L -> 2L, 50L -> 50L, 51L -> 50L))
  }

  test("incrementalComponents without the broadcast hint: identical result") {
    graft.SessionConf.scoped(spark, "graft.dedup.incrementalBroadcastHint" -> "false") {
      val stored = Seq((5L, 5L), (6L, 5L), (10L, 10L)).toDF("id", "comp")
      val newE = Seq((2L, 6L), (50L, 51L)).toDF("id_a", "id_b")
      val got = Dedup.incrementalComponents(stored, newE)
        .as[(Long, Long)].collect().toMap
      assert(got == Map(5L -> 2L, 6L -> 2L, 10L -> 10L,
        2L -> 2L, 50L -> 50L, 51L -> 50L))
    }
  }

  test("dedupVerdicts: unpaired docs survive as their own component") {
    val docs = Seq(1L, 2L, 3L, 99L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val v = Dedup.dedupVerdicts(docs, "doc_id", pairs)
      .select("id", "component", "is_survivor")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(v == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (99L, 99L, true)))
  }

  test("end-to-end near-dedup: minhash pairs -> survivors on real docs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      n = 3, numHashes = 32, bands = 8, num = 1, den = 5)
    val verdicts = Dedup.dedupVerdicts(docs, "doc_id", pairs)
    val total = docs.count()
    val survivors = verdicts.filter(col("is_survivor")).count()
    assert(survivors > 0 && survivors <= total)
    // every component's survivor is its minimum member
    val bad = verdicts.groupBy("component")
      .agg(min("id").as("min_id"))
      .filter(col("component") =!= col("min_id")).count()
    assert(bad == 0)
  }

  test("keepBestPerComponent: max score wins, ties break to min id") {
    // component {1,2,3}: 2 has the top score; component {10,11}: tied
    // scores -> 10 (min id) wins; 99 unpaired -> keeps itself
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 7L), (10L, 4L), (11L, 4L),
      (99L, 1L)).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.keepBestPerComponent(docs, "doc_id", "score", pairs)
      .as[(Long, Long, Long, Boolean)].collect().toSet
    assert(out == Set(
      (1L, 1L, 5L, false), (2L, 1L, 9L, true), (3L, 1L, 7L, false),
      (10L, 10L, 4L, true), (11L, 10L, 4L, false),
      (99L, 99L, 1L, true)))
  }

  test("keepBestPerComponent: exactly one keeper per component on real docs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("score", TextAnalysis.tokenCount(col("text")).cast("long"))
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, num = 1, den = 5, maxDocFreq = 1000L)
    val v = Dedup.keepBestPerComponent(docs, "doc_id", "score", pairs)
    assert(v.count() == docs.count())
    val perComp = v.groupBy("component")
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        max(col("score")).as("top"))
    assert(perComp.filter(col("n_keep") =!= 1L).count() == 0)
    // the keeper carries the component's maximum score
    val mismatch = v.filter(col("keep"))
      .join(perComp, Seq("component"))
      .filter(col("score") =!= col("top")).count()
    assert(mismatch == 0)
  }
}
