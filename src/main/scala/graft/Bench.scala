package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
object Bench {
  /** One row set's outcome: every row still in `runs` has exactly `n`
    * trials; a row whose trial threw is in `errors` instead. */
  final case class Trials(n: Int, runs: Map[String, Vector[Double]],
                          errors: Map[String, String]) {
    def medians: Map[String, Double] = runs.map { case (k, v) => k -> median(v) }
  }

  /** Median of the trials; for an even count, the mean of the middle two. */
  def median(v: Seq[Double]): Double = {
    val s = v.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The trial grant for every row set. `sets` holds (set, rows, target
    * trials) in grant order; `time(set, row)` runs one trial and returns
    * its wall seconds and, if it threw, the error. Each set in turn gets
    * pass 1, one trial for every row, and then its rounds 2..target, each
    * round for every row of the set or for none: a round runs only if its
    * projected cost (the sum of each row's mean trial so far) fits what is
    * left of `budgetSec`, and the first round that does not fit ends that
    * set's rounds. So every row of a set has the same trial count n, and
    * a set's rounds are decided before any later set's pass 1 bills the
    * budget: the maintenance drills, last and one trial each by default,
    * never cost the headline its second round. Pass 1 always runs, so a
    * late set's pass 1 can overrun the budget. Every timed second bills
    * the budget, failed trials included. Returns each set's outcome and
    * the measured seconds. */
  def grant(sets: Seq[(String, Seq[String], Int)], budgetSec: Double)(
      time: (String, String) => (Double, Option[String]))
      : (Map[String, Trials], Double) = {
    var measured = 0.0
    val out = sets.map { case (set, rows, target) =>
      val runs = mutable.LinkedHashMap.empty[String, Vector[Double]]
      val errs = mutable.LinkedHashMap.empty[String, String]
      def trial(row: String): Unit = {
        val (sec, err) = time(set, row)
        measured += sec
        err match {
          case None    => runs(row) = runs.getOrElse(row, Vector.empty) :+ sec
          case Some(m) => runs -= row; errs(row) = m
        }
      }
      rows.foreach(trial)
      var n = if (rows.isEmpty) 0 else 1
      def cost = runs.values.map(v => v.sum / v.length).sum
      while (n < target && runs.nonEmpty && measured + cost <= budgetSec) {
        runs.keys.toSeq.foreach(trial)
        n += 1
      }
      set -> Trials(n, runs.toMap, errs.toMap)
    }
    (out.toMap, measured)
  }

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\u0000-\\u001f]", " ") + "\""
  // ms precision keeps the one-line JSON under the harness's output
  // capture window (full-precision doubles overflowed it at ~95 queries
  // and the line arrived truncated). Double.toString emits the shortest
  // decimal, so 0.109 prints as "0.109".
  private def ms3(sec: Double): String = (math.round(sec * 1000) / 1000.0).toString

  /** The one-line JSON report of the "queries", "maintenance" and
    * "serving" sets. Field ORDER is load-bearing: the harness keeps the
    * TAIL of the output line, so the per-query dict comes FIRST, sorted
    * ascending by median so the heaviest queries sit nearest the end,
    * and the headline total/n_errors/sf fields come LAST where
    * truncation cannot reach. */
  def report(sets: Map[String, Trials], measuredSec: Double, budgetSec: Double,
             maintTrials: Int, sfDir: String): String = {
    val names = Seq("queries", "maintenance", "serving")
    val Seq(head, maint, serving) = names.map(sets)
    def dict(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    def secs(kv: Seq[(String, Double)]) = dict(kv.map { case (k, s) => k -> ms3(s) })
    def errors(t: Trials) = t.errors.toSeq.sorted.map { case (k, m) => k -> jstr(m) }
    val registryErrors = errors(head) ++ errors(maint)
    // max/min trial ratio: the noise indicator, over the registry rows
    val (noisyQ, noisySpread) = (head.runs ++ maint.runs)
      .map { case (k, v) => k -> v.max / v.min.max(1e-9) }
      .maxByOption(_._2).getOrElse("" -> 1.0)
    val trialsN = dict(names.map(k => k -> sets(k).n.toString))
    s"""{"queries":${secs(head.medians.toSeq.sortBy(_._2))},"maintenance":${secs(maint.medians.toSeq.sorted)},"errors":${dict(registryErrors)},"serving":${secs(serving.medians.toSeq.sorted)},"serving_errors":${dict(errors(serving))},"degraded_trials":[],"degraded_metric":"median","maint_trials":$maintTrials,"trials_n":$trialsN,"budget_sec":${ms3(budgetSec)},"measured_sec":${ms3(measuredSec)},"metric":"total","value":${ms3(head.medians.values.sum)},"unit":"sec","maintenance_sec":${ms3(maint.medians.values.sum)},"max_trial_spread":${ms3(noisySpread)},"spread_query":${jstr(noisyQ)},"n_errors":${registryErrors.size},"n_serving_errors":${serving.errors.size},"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    // untimed warm-up: session/JIT/file-index init otherwise lands on
    // whichever query happens to run first
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
      catch { case _: Throwable => () }
      // page-cache pre-touch: stream the table's raw bytes once so
      // first-touch disk I/O doesn't bill to whichever heavy row runs
      // first (q284 measured 30.5 s in a cold driver window vs 6.6 s
      // quiet, q123 10.4 vs 2.8 — pure cache state). Raw streaming, no
      // decode — seconds for a sf0.1-sized corpus, untimed.
      try {
        val p = new java.io.File(s"$sfDir/$t.parquet")
        val files = if (p.isDirectory) p.listFiles().toSeq else Seq(p)
        val buf = new Array[Byte](1 << 20)
        files.filter(f => f.isFile && !f.getName.startsWith(".")).foreach { f =>
          val in = new java.io.FileInputStream(f)
          try { while (in.read(buf) > 0) () } finally in.close()
        }
      } catch { case _: Throwable => () }
    }
    // Trial targets: headline and serving rows `trials` each, the
    // maintenance drills `maintTrials`; the budget is seconds spent
    // inside timed trials (warm-up and sbt excluded).
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "3").toInt
    val maintTrials = sys.env.getOrElse("SPARK_GRAFT_MAINT_TRIALS", "1").toInt
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1100").toDouble
    // SPARK_GRAFT_ONLY=q78,q57 narrows the run for single-query iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def pick[T](m: Map[String, T]): Map[String, T] =
      m.filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
    val selected = pick(SparkEntry.queries)
    // One untimed run per memoized OFFLINE artifact (bucketed layout,
    // day-partitioned events, PQ index): the first-touch build otherwise
    // lands inside trial 1 of whichever query reaches the memo first and
    // inflates max_trial_spread with a one-time cost that is NOT box
    // noise (r6's 14.2x spread was q250's layout build). q79 is left
    // out on purpose — it clears the PQ memo to measure the full build.
    Seq("q250_bucketed_join", "q251_partitioned_scan", "q75_embed_topk_pq")
      .foreach { n =>
        selected.get(n).foreach { fn =>
          try { fn(spark, sfDir).count(); () }
          catch { case _: Throwable => () }
          spark.catalog.clearCache()
        }
      }
    // The index-lifecycle drills build real indexes and run their full
    // differential in-query (rebuilds, compactions, crash sims):
    // maintenance-job costs, not query costs. They report in their own
    // "maintenance" dict so the headline keeps tracking the query
    // surface; headline + maintenance_sec = full registry cost. (q336 is
    // a serving verdict on the memoized index — a headline row.)
    val maintenanceRows = Set("q322", "q325", "q326", "q327", "q328",
      "q329", "q330", "q331", "q332", "q333", "q334", "q335")
    val (maintNames, headNames) =
      selected.keys.toSeq.partition(n => maintenanceRows.exists(n.startsWith))
    // SERVING-ONLY timings for the verdict rungs (registry rows time
    // operator + in-query exact verification; these time the operator
    // alone), reported in their own "serving" dict. A serving row that
    // fails reports in "serving_errors" instead of vanishing: a missing
    // key would read as "query removed", not "regression".
    val serving = pick(SparkEntry.servingQueries)
    val fns = Map("queries" -> selected, "maintenance" -> selected, "serving" -> serving)
    // A failed trial records an error, never a fake timing: a query
    // that throws instantly must not look like a fast success. Cache is
    // cleared after every trial so persisted relations never leak
    // across timings.
    def time(fn: (SparkSession, String) => DataFrame): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
        }
      spark.catalog.clearCache()
      ((System.nanoTime() - t0) / 1e9, err)
    }
    val (sets, measuredSec) = grant(Seq(("queries", headNames, trials),
        ("serving", serving.keys.toSeq, trials),
        ("maintenance", maintNames, maintTrials)), budgetSec) {
      (set, row) => time(fns(set)(row))
    }
    println(report(sets, measuredSec, budgetSec, maintTrials, sfDir))
    spark.stop()
  }
}
