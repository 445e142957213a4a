package perfbench

import java.nio.file.{Files => JFiles, Paths}

import graft.SparkEntry

/** The analyst's board: a fixed list of registry rows over the generated
  * tables, always in the same order. Each row is built (construction,
  * which may run eager jobs) and then counted (the timed action
  * graft.Bench uses), with the cache cleared between rows. One untimed
  * pass comes first: it pays each row's first-touch cost (class loading,
  * code generation) and writes every result for run.py to compare with
  * the row's DuckDB oracle. Whole timed passes then repeat until the
  * measured time is spent; every later count must equal the first
  * pass's. */
final class RegistryMix extends Main.Workload {
  private val rows = RegistryMix.Rows

  /** Build and count one row; returns (construction s, action s, count).
    * With `out`, the counted DataFrame is then written there, untimed. */
  private def runRow(ctx: Main.Ctx, name: String, out: Option[String])
      : (Double, Double, Long) = {
    val fn = SparkEntry.queries(name)
    val t = ctx.tracer
    val res = t.span("queries", s"row:$name", t.newOp()) {
      val t0 = System.nanoTime()
      val df = t.span("queries", "construct")(fn(ctx.spark, ctx.input))
      val t1 = System.nanoTime()
      val n = t.span("queries", "action")(df.count())
      val t2 = System.nanoTime()
      out.foreach(o => t.span("bench", "check")(df.write.mode("overwrite").parquet(s"$o/$name")))
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, n)
    }
    ctx.spark.catalog.clearCache()
    res
  }

  def setup(ctx: Main.Ctx): Unit = {
    ctx.spark.read.parquet(s"${ctx.input}/region.parquet").count()
  }

  private val firstCounts = collection.mutable.Map.empty[String, Long]

  override def prepare(ctx: Main.Ctx, r: Main.Result): Unit = {
    val out = s"${ctx.work}/results"
    rows.foreach { name =>
      try firstCounts(name) = runRow(ctx, name, Some(out))._3
      catch { case e: Exception => r.fail(s"$name#0", s"first pass threw $e") }
    }
  }

  def measure(ctx: Main.Ctx, r: Main.Result): Unit = {
    val opMs = collection.mutable.ArrayBuffer.empty[Double]
    var constructS, actionS, graphS, analyticsS, streamingS = 0.0
    var pass = 0
    while (constructS + actionS < ctx.seconds) {
      pass += 1
      rows.foreach { name =>
        val op = s"$name#$pass"
        r.attempted += 1
        try {
          val (c, a, n) = runRow(ctx, name, None)
          constructS += c; actionS += a
          if (RegistryMix.Graph(name)) graphS += c + a
          if (RegistryMix.Analytics(name)) analyticsS += c + a
          if (RegistryMix.Streaming(name)) streamingS += c + a
          opMs += (c + a) * 1000
          r.opMs(op) = (c + a) * 1000
          r.check(op, firstCounts.get(name).contains(n),
            s"count $n, first pass ${firstCounts.getOrElse(name, "failed")}")
        } catch { case e: Exception => r.fail(op, s"threw $e") }
      }
      ctx.sampleHeap()
    }
    // run.py fails every timed run of a row whose first-pass result
    // differs from its oracle
    val out = s"${ctx.work}/results"
    val oracle = rows.sorted.map(name =>
      s"${Json.str(name)}:${SparkEntry.oracleSql.get(name).map(Json.str).getOrElse("null")}")
    JFiles.writeString(Paths.get(s"$out/oracle.json"), oracle.mkString("{", ",", "}"))
    JFiles.writeString(Paths.get(s"$out/passes.txt"), pass.toString)
    r.put("work_per_s", opMs.size / (constructS + actionS), "1/s")
    r.put("op_p50_ms", Stats.median(opMs.toSeq), "ms")
    r.put("op_samples", opMs.size, "count")
    r.put("queries.construct_s", constructS, "s")
    r.put("queries.action_s", actionS, "s")
    r.put("operators.graph_s", graphS, "s")
    r.put("analytics.rows_s", analyticsS, "s")
    r.put("streaming.rows_s", streamingS, "s")
  }
}

object RegistryMix {
  /** Rows whose work is an iterative graph operator (graft.operators.Graph).
    * Label propagation chains a persisted frame per round, so its plan
    * grows with every round; its construction runs job rounds, seconds
    * where the other rows take a few hundred milliseconds. */
  val Graph: Set[String] = Set("q291_label_propagation")

  /** Rows implemented by graft.analytics and graft.streaming operators. */
  val Analytics: Set[String] = Set("q31_dedup_exact", "q37_embed_topk_brute")
  val Streaming: Set[String] = Set("q313_stream_dedup")

  /** The board: four short rows (cleaning, star schema, text dedup,
    * embedding top-k) and two heavy ones (a graph fixpoint, a streaming
    * query). With 2 heavy rows of 6 the median of a pass falls among the
    * short rows, while the heavy rows take most of its time. The order is
    * fixed, not drawn from the seed: rows early in a run still pay some
    * JIT warm-up, so a seeded order would move the median with the seed. */
  val Rows: IndexedSeq[String] = IndexedSeq(
    "q03_clean_rename", "q09_star_fact", "q31_dedup_exact", "q37_embed_topk_brute",
    "q291_label_propagation", "q313_stream_dedup")
}
