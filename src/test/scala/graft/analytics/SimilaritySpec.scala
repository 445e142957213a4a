package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def embeddings = spark.read.parquet(s"$sf/embeddings.parquet")

  test("topKBruteForce: query vector itself ranks first with cosine 1") {
    val e = embeddings
    val top = Similarity.topKBruteForce(e, "vec_id", "embedding",
      e.filter($"vec_id" === 7), k = 5).collect()
    assert(top.head.getLong(0) == 7L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    // descending order
    val sims = top.map(_.getDouble(1)).toSeq
    assert(sims == sims.sorted.reverse)
  }

  test("topKLsh results are a subset of corpus ranked by true cosine (recall>0)") {
    val e = embeddings
    val brute = Similarity.topKBruteForce(e, "vec_id", "embedding",
      e.filter($"vec_id" === 7), k = 20).select("id").as[Long].collect().toSet
    val lsh = Similarity.topKLsh(e, "vec_id", "embedding",
      e.filter($"vec_id" === 7), k = 20).select("id").as[Long].collect().toSet
    assert(lsh.nonEmpty)
    assert(lsh.contains(7L)) // the query collides with itself in every band
    assert((brute intersect lsh).nonEmpty)
  }

  test("topKIvf probes nearest cells and still finds the query vector") {
    val e = embeddings
    val ivf = Similarity.topKIvf(e, "vec_id", "embedding",
      e.filter($"vec_id" === 7), k = 10, nCells = 8, nProbe = 4)
      .select("id").as[Long].collect().toSet
    assert(ivf.contains(7L))
  }

  test("cosineNearDupPairs only returns pairs above threshold") {
    val pairs = Similarity.cosineNearDupPairs(embeddings, "vec_id", "embedding",
      threshold = 0.8, nBits = 8, bands = 4)
    val bad = pairs.filter($"cosine" < 0.8).count()
    assert(bad == 0)
  }

  test("LSH near-dup pairs: precision 1.0 and high recall vs brute force on planted twins") {
    // plant one near-dup twin per vector (first coordinate ×1.5,
    // cosine ~0.997) — same construction as the registered q40/q63
    val base = embeddings.select($"vec_id",
      transform($"embedding", x => x.cast("double")).as("embedding"))
    val twinned = base.unionAll(base.select(($"vec_id" + 1000000L).as("vec_id"),
      transform($"embedding", (x, i) => when(i === 0, x * 1.5d).otherwise(x)).as("embedding")))
    val brute = Similarity.nearDupPairsBruteForce(twinned, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.cosineNearDupPairs(twinned, "vec_id", "embedding", 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.nonEmpty) // the twins really are near-dups
    // precision: exact verify filter => every LSH pair is a true pair
    assert(lsh.subsetOf(brute))
    // recall: banding finds nearly all planted twins
    assert(lsh.size.toDouble / brute.size >= 0.9)
  }

  test("topKIvf construction triggers no Spark jobs (no driver-side corpus pass)") {
    val e = embeddings
    e.schema // force the parquet footer read before counting jobs
    val (df, jobs) = countJobs(Similarity.topKIvf(e, "vec_id", "embedding",
      e.filter($"vec_id" === 7), k = 10))
    assert(jobs == 0, "building the IVF plan must not run jobs")
    assert(df.columns.toSeq == Seq("id", "cosine"))
  }

  test("batch top-k: per-query results match single-query brute force; LSH recall > 0") {
    val e = embeddings
    val queries = e.filter($"vec_id".isin(3L, 7L))
    val many = Similarity.topKBruteForceMany(e, "vec_id", "embedding",
      queries, "vec_id", k = 5)
      .select("qid", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for (q <- Seq(3L, 7L)) {
      val single = Similarity.topKBruteForce(e, "vec_id", "embedding",
        e.filter($"vec_id" === q), k = 5).select("id").as[Long].collect().toSet
      assert(many(q) == single, s"batch != single for query $q")
    }
    val lsh = Similarity.topKLshMany(e, "vec_id", "embedding",
      queries, "vec_id", k = 5)
      .select("qid", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for (q <- Seq(3L, 7L)) {
      assert(lsh.contains(q) && lsh(q).contains(q)) // self always collides
      assert((lsh(q) intersect many(q)).nonEmpty)
    }
  }

  test("PQ: codes in range, encoding deterministic, ADC agrees with exact L2") {
    val e = embeddings
    val cb = Similarity.trainPqCodebook(e, "vec_id", "embedding")
    assert(cb.length == 8 && cb(0).length == 16 && cb(0)(0).length == 8)
    val enc = Similarity.pqEncode(e, "vec_id", "embedding", cb)
    val codes = enc.select("pq_code").as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 8 && c.forall(j => j >= 0 && j < 16)))
    // deterministic re-encode
    val again = Similarity.pqEncode(e, "vec_id", "embedding", cb)
      .select("id", "pq_code").as[(Long, Seq[Int])].collect().toMap
    val first = enc.select("id", "pq_code").as[(Long, Seq[Int])].collect().toMap
    assert(first == again)
    // Structural invariant on planted twins: a twin differs from its
    // base ONLY in coordinate 0, so subspaces 1..7 see identical
    // subvectors and MUST encode to identical codes.
    val base = e.select($"vec_id",
      transform($"embedding", x => x.cast("double")).as("embedding"))
    val twinned = base.unionAll(base.select(($"vec_id" + 1000000L).as("vec_id"),
      transform($"embedding", (x, i) => when(i === 0, x * 1.5d).otherwise(x)).as("embedding")))
    val tcb = Similarity.trainPqCodebook(twinned, "vec_id", "embedding")
    val tcodes = Similarity.pqEncode(twinned, "vec_id", "embedding", tcb)
      .select("id", "pq_code").as[(Long, Seq[Int])].collect().toMap
    tcodes.keys.filter(_ < 1000000L).foreach { id =>
      val (b, t) = (tcodes(id), tcodes(id + 1000000L))
      assert(b.drop(1) == t.drop(1), s"subspaces 1..7 must match for twin of $id")
    }
    // and the twin lands in its base's ADC neighborhood
    val adc = Similarity.topKPqAdc(twinned, "vec_id", "embedding",
      twinned.filter($"vec_id" === 7), k = 20, tcb)
      .select("id").as[Long].collect().toSet
    assert(adc.contains(1000007L) || adc.contains(7L),
      s"query's own twin/self must be in the ADC top-20: $adc")
  }

  test("k-means PQ training strictly descends the quantization objective") {
    val e = embeddings
    val init = Similarity.trainPqCodebook(e, "vec_id", "embedding")
    val trained = Similarity.trainPqCodebookKmeans(e, "vec_id", "embedding", iters = 4)
    val errInit = Similarity.pqQuantizationError(e, "vec_id", "embedding", init)
    val errTrained = Similarity.pqQuantizationError(e, "vec_id", "embedding", trained)
    assert(errTrained < errInit,
      s"k-means must reduce quantization error: $errTrained !< $errInit")
    // determinism: same input -> bit-identical codebook
    val again = Similarity.trainPqCodebookKmeans(e, "vec_id", "embedding", iters = 4)
    assert(trained.flatten.flatten.toSeq == again.flatten.flatten.toSeq)
  }

  test("k-means codebook ADC recall@20 vs brute force beats the hash-picked codebook") {
    val e = embeddings
    val brute = Similarity.topKBruteForce(e, "vec_id", "embedding",
      e.filter($"vec_id" === 7), k = 20).select("id").as[Long].collect().toSet
    def recall(cb: Array[Array[Array[Long]]]): Int =
      (Similarity.topKPqAdc(e, "vec_id", "embedding",
        e.filter($"vec_id" === 7), k = 20, cb)
        .select("id").as[Long].collect().toSet intersect brute).size
    val rHash = recall(Similarity.trainPqCodebook(e, "vec_id", "embedding"))
    val rKmeans = recall(Similarity.trainPqCodebookKmeans(e, "vec_id", "embedding"))
    assert(rKmeans >= rHash,
      s"k-means codebook must not lose recall: $rKmeans < $rHash")
    assert(rKmeans > 0, "trained ADC top-20 must overlap the true top-20")
  }

  test("PQ serving from stored codes equals inline encode-and-serve") {
    val e = embeddings
    val cb = Similarity.trainPqCodebook(e, "vec_id", "embedding")
    val inline = Similarity.topKPqAdc(e, "vec_id", "embedding",
      e.filter($"vec_id" === 7), k = 20, cb).collect().map(_.toSeq).toSeq
    val path = java.nio.file.Files.createTempDirectory("pq-codes-spec").toString
    Similarity.writePqCodes(e, "vec_id", "embedding", cb, path)
    val stored = Similarity.topKPqAdcFromCodes(spark.read.parquet(path),
      e.filter($"vec_id" === 7), "vec_id", "embedding", k = 20, cb)
      .collect().map(_.toSeq).toSeq
    assert(stored == inline, "the stored-code index must serve identical results")
  }

  test("batch PQ serving matches single-query serving per qid") {
    val e = embeddings
    val cb = Similarity.trainPqCodebook(e, "vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("pq-codes-many").toString
    Similarity.writePqCodes(e, "vec_id", "embedding", cb, path)
    val codes = spark.read.parquet(path)
    val many = Similarity.topKPqAdcManyFromCodes(codes,
      e.filter($"vec_id".isin(3L, 7L)), "vec_id", "embedding", k = 5, cb)
      .select("qid", "id", "adc_dist").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    for (q <- Seq(3L, 7L)) {
      val single = Similarity.topKPqAdcFromCodes(codes,
        e.filter($"vec_id" === q), "vec_id", "embedding", k = 5, cb)
        .select("id", "adc_dist").as[(Long, Long)].collect().toSet
      assert(many(q) == single, s"batch != single for query $q")
    }
    // batch-size guard
    intercept[IllegalArgumentException] {
      Similarity.topKPqAdcManyFromCodes(codes, e, "vec_id", "embedding",
        k = 5, cb, maxQueries = 10)
    }
  }

  test("IVF-PQ index: serving prunes cell partitions at the scan and finds the query's own vector") {
    val e = embeddings
    val cb = Similarity.trainPqCodebook(e, "vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("ivfpq-spec").toString
    Similarity.writeIvfPqIndex(e, "vec_id", "embedding", cb, path, nCells = 8)
    val served = Similarity.topKIvfPqFromIndex(spark, path,
      e.filter($"vec_id" === 7), "vec_id", "embedding", k = 20, cb, nProbe = 2)
    // partition pruning is the point of the layout: the scan must carry
    // a PartitionFilters entry on `cell`, not read all 8 cells
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*\\].*"),
      s"expected cell partition pruning in:\n$plan")
    // the query's own cell is by construction its nearest -> always
    // probed, and its own code has ADC distance minimal among its cell
    val ids = served.select("id").as[Long].collect().toSet
    assert(ids.contains(7L), s"query's own vector must be served: $ids")
    // deterministic: same index, same query -> same result
    val again = Similarity.topKIvfPqFromIndex(spark, path,
      e.filter($"vec_id" === 7), "vec_id", "embedding", k = 20, cb, nProbe = 2)
      .select("id").as[Long].collect().toSet
    assert(again == ids)
  }

  test("topKPqAdc rejects a multi-row query (no silent cross-query merge)") {
    val e = embeddings
    val cb = Similarity.trainPqCodebook(e, "vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.topKPqAdc(e, "vec_id", "embedding",
        e.filter($"vec_id".isin(3L, 7L)), k = 5, cb)
    }
  }

  test("semanticDedupVerdicts: full verdict coverage, precision 1.0, twin recall >= 0.9") {
    // plant a twin for every base vector (same construction as q40/q63:
    // first coordinate scaled 1.5x -> cosine ~0.997 to its base)
    val base = embeddings.filter($"vec_id" < 300).select($"vec_id",
      transform($"embedding", x => x.cast("double")).as("embedding"))
    val corpus = base.unionAll(base.select(($"vec_id" + 1000000L).as("vec_id"),
      transform($"embedding", (x, i) =>
        when(i === 0, x * 1.5d).otherwise(x)).as("embedding")))
    val v = Similarity.semanticDedupVerdicts(corpus, "vec_id", "embedding",
      threshold = 0.95, nCells = 8)
      .select("id", "is_survivor").as[(Long, Boolean)].collect()
    // every input id gets exactly one verdict, singletons included
    assert(v.length == corpus.count())
    // precision: every removed id is a true near-dup of SOMETHING
    // (components only ever merge actual >= threshold pairs, so a
    // non-survivor must appear in the brute-force pair set)
    val brutePairs = Similarity.nearDupPairsBruteForce(
      corpus, "vec_id", "embedding", threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val trueDupIds = brutePairs.flatMap(p => Seq(p._1, p._2)).toSet
    val removed = v.collect { case (id, false) => id }.toSet
    assert(removed.subsetOf(trueDupIds), "precision must be 1.0")
    // recall on the planted twins: a twin dedups iff it lands in its
    // base's cell — near-identical vectors share an argmax centroid
    // unless they straddle a boundary, so the vast majority merge
    val baseIds = base.select("vec_id").as[Long].collect()
    val twinRecall = baseIds.count(b => removed.contains(b + 1000000L)).toDouble / baseIds.length
    assert(twinRecall >= 0.9, s"twin recall $twinRecall")
  }

  test("crossCorpusEmbeddingNearDup: precision 1.0, twin recall >= 0.9, batch-only pairs") {
    val base = embeddings.filter($"vec_id" < 300).select($"vec_id",
      transform($"embedding", x => x.cast("double")).as("embedding"))
    val batch = base.select(($"vec_id" + 1000000L).as("vec_id"),
      transform($"embedding", (x, i) =>
        when(i === 0, x * 1.5d).otherwise(x)).as("embedding"))
    val got = Similarity.crossCorpusEmbeddingNearDup(batch, base,
      "vec_id", "embedding", threshold = 0.95, nCells = 8)
      .select("id_new", "id_corpus").as[(Long, Long)].collect().toSet
    // every pair is new x corpus, never corpus x corpus
    assert(got.forall { case (n, c) => n >= 1000000L && c < 1000000L })
    // precision: subset of the exact cross-join pair set
    val brute = batch.as("x").crossJoin(base.as("y"))
      .select(col("x.vec_id").as("id_new"), col("y.vec_id").as("id_corpus"),
        col("x.embedding").as("ea"), col("y.embedding").as("eb"))
      .withColumn("cos",
        aggregate(zip_with($"ea", $"eb", (a, b) => a * b), lit(0.0d), (s, x) => s + x) /
          (sqrt(aggregate($"ea", lit(0.0d), (s, x) => s + x * x)) *
            sqrt(aggregate($"eb", lit(0.0d), (s, x) => s + x * x))))
      .filter($"cos" >= 0.95 - 1e-4) // quantization slack at the boundary
      .select("id_new", "id_corpus").as[(Long, Long)].collect().toSet
    assert(got.subsetOf(brute), "precision must be 1.0 up to quantization slack")
    // recall: each twin finds its base unless they straddle a cell
    val twinHits = got.count { case (n, c) => n == c + 1000000L }
    assert(twinHits.toDouble / 300 >= 0.9, s"twin recall $twinHits/300")
  }

  test("quantized cosine equals double-precision cosine within 1e-5") {
    val v = Seq((1L, Array(0.1f, 0.2f, 0.3f)), (2L, Array(0.2f, 0.1f, 0.3f)))
      .toDF("id", "vec")
    val a = v.filter($"id" === 1).select(Similarity.quantize($"vec").as("qa"))
    val b = v.filter($"id" === 2).select(Similarity.quantize($"vec").as("qb"))
    val got = a.crossJoin(b)
      .select(Similarity.qcosine($"qa", $"qb")).as[Double].head()
    val Seq(x, y) = Seq(Array(0.1, 0.2, 0.3), Array(0.2, 0.1, 0.3))
    val expect = x.zip(y).map { case (p, q) => p * q }.sum /
      (math.sqrt(x.map(p => p * p).sum) * math.sqrt(y.map(q => q * q).sum))
    assert(math.abs(got - expect) < 1e-5)
  }

  test("hardNegatives: never the query's own label, equals label-filtered brute top-k") {
    val e = embeddings
    val q7 = e.filter($"vec_id" === 7)
    val qLabel = q7.select("label").as[Int].head()
    val got = Similarity.hardNegatives(e, "vec_id", "embedding", "label",
      q7, "vec_id", k = 10).orderBy($"cosine".desc, $"id").collect()
    assert(got.length == 10)
    assert(got.forall(_.getInt(2) != qLabel), "a hard negative carried the query label")
    // agrees with brute-force top-k over the pre-filtered other-label corpus
    val expect = Similarity.topKBruteForce(
        e.filter($"label" =!= qLabel), "vec_id", "embedding", q7, k = 10)
      .select("id").as[Long].collect().toSeq
    assert(got.map(_.getLong(1)).toSeq == expect)
  }

  test("labelCentroidDispersion: planted far vector flagged, tight cluster clean") {
    // label 0: fifteen vectors hugging (1, 0) plus one at (-400, -400)
    // — a single extreme outlier among n points can reach at most
    // z = sqrt(n-1), so n must exceed 10 for a 3σ flag to be possible;
    // label 1: a tight clean cluster — nothing flagged there
    val vecs =
      (1L to 15L).map(i => (i, Array(1.0f + 0.001f * i, 0.0f), 0)) ++
        Seq((9000L, Array(-400.0f, -400.0f), 0)) ++
        (9001L to 9005L).map(i => (i, Array(0.0f, 2.0f + 0.001f * i), 1))
    val df = vecs.toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroidDispersion(df, "vec_id", "embedding", "label")
    val flagged = got.filter($"is_outlier").select("id").as[Long].collect().toSet
    assert(flagged == Set(9000L), s"expected only the planted outlier, got $flagged")
    // distances are exact integers: bit-identical under repartitioning
    val again = Similarity
      .labelCentroidDispersion(df.repartition(7), "vec_id", "embedding", "label")
      .select("id", "dist_micro").as[(Long, Long)].collect().toMap
    val first = got.select("id", "dist_micro").as[(Long, Long)].collect().toMap
    assert(first == again)
    // the planted point dominates: its distance is far above the cluster's
    assert(first(9000L) > 10L * first(1L))
  }

  test("densityClusters matches a brute-force DBSCAN reference (differential, seeded)") {
    val seenRoles = scala.collection.mutable.Set.empty[String]
    for (seed <- 1 to 2) {
      val rnd = new scala.util.Random(seed)
      // three planted directions + per-point jitter + a few free points:
      // yields a mix of cores, borders and noise at th=0.9
      val bases = Seq(Array(1.0, 0, 0), Array(0, 1.0, 0), Array(0.6, 0.6, 0.5))
      val rows: Seq[(Long, Array[Float])] = (0 until 40).map { i =>
        val b = if (i < 24) bases(i % 3) else Array(rnd.nextDouble(), rnd.nextDouble(), rnd.nextDouble())
        val v = b.map(x => (x + rnd.nextGaussian() * 0.1).toFloat)
        (i.toLong, v)
      }
      val (threshold, minPts) = (0.97, 4)

      // independent reference on the SAME quantized-cosine definition
      def q(v: Array[Float]) = v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
      def cos(a: Array[Float], b: Array[Float]) = {
        val (qa, qb) = (q(a), q(b))
        def dot(x: Array[Long], y: Array[Long]) = x.zip(y).map { case (p, r) => p * r }.sum
        dot(qa, qb).toDouble / (math.sqrt(dot(qa, qa).toDouble) * math.sqrt(dot(qb, qb).toDouble))
      }
      val byId = rows.toMap
      val ids = rows.map(_._1)
      val nbrs = ids.map(i => i -> ids.filter(j => j != i
        && cos(byId(i), byId(j)) >= threshold).toSet).toMap
      val cores = ids.filter(i => nbrs(i).size + 1 >= minPts).toSet
      // component rep = min reachable core over core-core edges
      def repOf(c: Long): Long = {
        var seen = Set(c); var frontier = Set(c)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(x => nbrs(x).filter(cores)) -- seen
          seen ++= frontier
        }
        seen.min
      }
      val expected = ids.map { i =>
        if (cores(i)) i -> (("core", repOf(i)))
        else {
          val coreNb = nbrs(i).filter(cores)
          if (coreNb.nonEmpty) i -> (("border", coreNb.map(repOf).min))
          else i -> (("noise", -1L))
        }
      }.toMap

      val out = Similarity.densityClusters(rows.toDF("vec_id", "embedding"),
          "vec_id", "embedding", threshold, minPts)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
      assert(out == expected, s"seed $seed: ${out.toSeq.sorted.take(8)}...")
      seenRoles ++= out.values.map(_._1)
    }
    // across the seeds, all three roles must actually be exercised
    assert(seenRoles == Set("core", "border", "noise"), s"roles seen: $seenRoles")
  }

  test("nearestCentroid: separable labels score 1.0; ties go to the smallest label") {
    val sep = Seq(
      (1L, Array(0.0f, 0.0f), 0), (2L, Array(0.2f, 0.0f), 0),
      (3L, Array(10.0f, 10.0f), 1), (4L, Array(10.2f, 10.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.nearestCentroid(sep, "vec_id", "embedding", "label")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(0 -> ((2L, 2L, 1000000L)), 1 -> ((2L, 2L, 1000000L))))
    // identical centroids: every vector ties -> predicted label is the
    // smallest -> label 0 scores 1.0, label 1 scores 0
    val tie = Seq((1L, Array(1.0f), 0), (2L, Array(1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val t2 = Similarity.nearestCentroid(tie, "vec_id", "embedding", "label")
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(t2 == Map(0 -> 1000000L, 1 -> 0L))
  }

  test("knnLabelAgreement: clean pair agrees fully; isolated label scores 0") {
    val vecs = Seq(
      (0L, Array(0.0f), 0), (5L, Array(0.1f), 0),   // mutual NNs, same label
      (10L, Array(100.0f), 1)                        // its NN is label 0
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.knnLabelAgreement(vecs, "vec_id", "embedding", "label",
        k = 1) // default maxSample covers all rows: every point sampled
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(0 -> ((2L, 2L, 1000000L)), 1 -> ((1L, 0L, 0L))))
  }

  test("silhouetteSampled: tight separated clusters near +1; merged labels negative") {
    // labels 0 and 1 far apart, points nearly coincident within a label;
    // ids multiples of 5 so every point is sampled
    val sep = Seq(
      (0L, Array(0.0f), 0), (5L, Array(0.001f), 0),
      (10L, Array(100.0f), 1), (15L, Array(100.001f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.silhouetteSampled(sep, "vec_id", "embedding", "label")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == Set(0, 1))
    assert(got.values.forall { case (n, s) => n == 2L && s > 990000L })
    // the same coincident points split across two labels: a >> b is
    // impossible, b ~ 0 ~ a -> strongly negative for at least one side
    val merged = Seq(
      (0L, Array(0.0f), 0), (5L, Array(1.0f), 1),
      (10L, Array(0.0f), 0), (15L, Array(1.0f), 1),
      (20L, Array(1.0f), 0), (25L, Array(0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val m = Similarity.silhouetteSampled(merged, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(2))
    assert(m.forall(_ < 0L), s"merged labels must score negative: ${m.toList}")
  }

  test("diagnostic samples are COUNT-bounded: n_sampled sums to maxSample") {
    // 60 points, maxSample 7: the broadcast side must be exactly 7 rows
    // regardless of corpus size (the fixed-broadcast contract).
    val vecs = (0L until 60L).map(i => (i, Array(i.toFloat), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val sil = Similarity.silhouetteSampled(vecs, "vec_id", "embedding", "label",
        maxSample = 7)
      .agg(sum("n_sampled")).collect().head.getLong(0)
    assert(sil <= 7L && sil >= 1L, s"silhouette sampled $sil, cap 7")
    val knn = Similarity.knnLabelAgreement(vecs, "vec_id", "embedding", "label",
        k = 3, maxSample = 7)
      .agg(sum("n_sampled")).collect().head.getLong(0)
    assert(knn == 7L, s"knn sampled $knn, cap 7")
  }

  test("kmeansAssign partitions the corpus and Lloyd rounds do not hurt") {
    val e = embeddings
    val n = e.count()
    val a2 = Similarity.kmeansAssign(e, "vec_id", "embedding", k = 8, rounds = 2)
    // every point assigned exactly once, to one of the k clusters
    assert(a2.count() == n)
    val clusters = a2.select("cluster").distinct()
      .as[Long].collect().toSet
    assert(clusters.nonEmpty && clusters.subsetOf((0L until 8L).toSet))
    // Lloyd monotonicity: re-assigning against the updated (truncating
    // integer mean) centroids cannot increase total inertia vs round 1
    // on this corpus — pinned as a measured fact (data is deterministic
    // across rounds).
    val i1 = Similarity.kmeansAssign(e, "vec_id", "embedding", k = 8, rounds = 1)
      .agg(sum("dist")).collect().head.getLong(0)
    val i2 = a2.agg(sum("dist")).collect().head.getLong(0)
    assert(i2 <= i1, s"round-2 inertia $i2 > round-1 $i1")
  }

  test("cluster-balanced sample caps every cluster at the budget") {
    val a = Similarity.kmeansAssign(embeddings, "vec_id", "embedding",
      k = 8, rounds = 2)
    val sizes = a.groupBy("cluster").count()
    val samp = Curation.stratifiedHashSample(a, "id", "cluster", k = 5, salt = "s2")
      .groupBy("cluster").count().withColumnRenamed("count", "sampled")
    val joined = sizes.join(samp, Seq("cluster")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val (sz, sm) = (r.getLong(1), r.getLong(2))
      assert(sm == math.min(5L, sz), s"cluster ${r.getLong(0)}: $sm of $sz")
    }
  }

  test("encodeForIndex: score ties break to the smaller cell; single centroid trivial") {
    val cb = Similarity.trainPqCodebook(embeddings, "vec_id", "embedding")
    val v = Seq((1L, Array.fill(64)(0.001f).toSeq)).toDF("vec_id", "embedding")
    val qv = Array.fill(64)(1000L) // quantize(0.001) = 1000 micro-units
    // two centroids with IDENTICAL direction (equal cosine score):
    // (score, -cell) lexicographic max must pick the SMALLER cell id —
    // the relational max_by's exact tie-break
    val cnorm = math.sqrt(qv.map(x => x.toDouble * x).sum)
    val tied = Array((5L, qv, cnorm), (2L, qv, cnorm))
    val got = Similarity.encodeForIndex(v, "vec_id", "embedding", tied, cb)
      .collect().head
    assert(got.getLong(1) == 2L, s"tie must break to the smaller cell: $got")
    // single centroid: no greatest() needed, still assigns
    val single = Similarity.encodeForIndex(v, "vec_id", "embedding",
      Array((9L, qv, cnorm)), cb)
      .collect().head
    assert(single.getLong(1) == 9L)
    assert(single.getSeq[Any](2).length == cb.length)
  }

  test("appendToIvfPqIndex: serving sees ingested vectors without a rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-append").toString
    val base = embeddings.filter($"vec_id" % 4 =!= 0)
    val cb = Similarity.trainPqCodebook(embeddings, "vec_id", "embedding")
    Similarity.writeIvfPqIndex(base, "vec_id", "embedding", cb, dir)
    // the index is self-describing: the stored codebook round-trips
    // bit-identically (what append/maintenance encode with)
    val stored = Similarity.codebookOf(spark, dir)
    assert(stored.flatten.flatten.toSeq == cb.flatten.flatten.toSeq)
    assert(stored.length == cb.length && stored(0).length == cb(0).length)
    val q8 = embeddings.filter($"vec_id" === 8)
    // before ingest: vec 8 (8 % 4 == 0) is absent from the index
    val before = Similarity.topKIvfPqFromIndex(spark, dir, q8,
      "vec_id", "embedding", k = 20, cb)
    assert(before.filter($"id" === 8).count() == 0)
    // batch-append the missing quarter; now it must be retrievable
    Similarity.appendToIvfPqIndex(spark, dir,
      embeddings.filter($"vec_id" % 4 === 0), "vec_id", "embedding",
      batchId = "day1")
    val after = Similarity.topKIvfPqFromIndex(spark, dir, q8,
      "vec_id", "embedding", k = 20, cb)
    assert(after.filter($"id" === 8).count() == 1,
      "appended vector must be retrievable without a rebuild")
    // an unledgered delta dir (a crashed append that never retried)
    // must stay invisible, not break or change serving
    val ghost = graft.analytics.IndexStore
      .storedComponent(spark, dir, "codes").limit(5)
    ghost.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/codes_delta/batch=ghost")
    val still = Similarity.topKIvfPqFromIndex(spark, dir, q8,
      "vec_id", "embedding", k = 20, cb)
    assert(still.filter($"id" === 8).count() == 1)
    assert(still.collect().toSeq == after.collect().toSeq,
      "ghost (unledgered) delta dirs never reach serving")
  }
}
