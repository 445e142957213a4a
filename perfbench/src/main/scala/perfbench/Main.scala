package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one closed-loop client driving the library
  * through one workload, for a fixed measured time.
  *
  *   Main <workload> <inputDir> <workDir> <seconds> <trace 0|1> <cores>
  *
  * Writes `<workDir>/result.json`: every metric it measured, the operation
  * counts and each failure. With trace 1 it also writes the spans to
  * `<workDir>/trace.jsonl`. The Python wrapper (run.py) generates the
  * inputs, adds the out-of-process result checks and prints the line the
  * caller reads. */
object Main {
  /** What a workload hands back: its metrics, how many operations it
    * attempted, and which of them failed or gave a wrong result. */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    /** Wall of each timed operation, for the run's diagnostics. */
    val opMs = mutable.LinkedHashMap.empty[String, Double]
    private val failed = mutable.LinkedHashMap.empty[String, String]
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    /** Operation `op` failed; an operation counts once, with its first reason. */
    def fail(op: String, why: String): Unit = if (!failed.contains(op)) failed(op) = why
    def check(op: String, ok: Boolean, why: => String): Unit = if (!ok) fail(op, why)
    /** "op: reason" per failed operation. */
    def failures: Seq[String] = failed.map { case (op, why) => s"$op: $why" }.toSeq
  }

  /** Everything a workload needs from the harness. */
  final class Ctx(val input: String, val work: String, val seconds: Double,
                  val cores: Int, val tracer: Tracer) {
    private var n = 0
    private var current: SparkSession = _
    def spark: SparkSession = current

    /** A fresh local session with its own warehouse; stops the previous one. */
    def newSession(): SparkSession = {
      if (current != null) current.stop()
      n += 1
      current = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.extensions", "graft.GraftSessionExtensions")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$work/warehouse-$n")
        .config("spark.local.dir", s"$work/spark-local")
        .getOrCreate()
      current.sparkContext.setLogLevel("ERROR")
      current
    }

    /** Old-generation bytes live after a full collection, the largest seen.
      * The second collection runs after Spark's cleaner has released what
      * the first one found unreachable (broadcasts, shuffle state). */
    var peakOldGenBytes = 0L
    def sampleHeap(): Unit = {
      System.gc()
      Thread.sleep(200)
      System.gc()
      val old = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
        .map(_.getUsage.getUsed).sum
      peakOldGenBytes = math.max(peakOldGenBytes, old)
    }
  }

  trait Workload {
    /** Untimed preparation inside a fresh session: start-up and warm-up.
      * Run several times; its median is part of `setup_s`. */
    def setup(ctx: Ctx): Unit
    /** One-time untimed work in the session the last setup left (a
      * first-touch pass); its time is the rest of `setup_s`. */
    def prepare(ctx: Ctx, r: Result): Unit = ()
    /** The measured loop; runs once, after `prepare`. */
    def measure(ctx: Ctx, r: Result): Unit
  }

  val Workloads: Map[String, () => Workload] = Map(
    "etl_daily" -> (() => new EtlDaily),
    "registry_mix" -> (() => new RegistryMix))

  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val Array(name, input, work, seconds, trace, cores) = args
    val tracer = new Tracer(trace == "1")
    val ctx = new Ctx(input, work, seconds.toDouble, cores.toInt, tracer)
    val workload = Workloads(name)()
    val r = new Result

    val calibStart = Calibration.seconds()
    val setups = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      ctx.newSession()
      workload.setup(ctx)
      (System.nanoTime() - t0) / 1e9
    }
    val p0 = System.nanoTime()
    workload.prepare(ctx, r)
    val prepareS = (System.nanoTime() - p0) / 1e9
    tracer.attach(ctx.spark)
    ctx.sampleHeap()
    val t0 = System.nanoTime()
    workload.measure(ctx, r)
    val wall = (System.nanoTime() - t0) / 1e9
    ctx.sampleHeap()
    val calibEnd = Calibration.seconds()

    r.put("setup_s", Stats.median(setups) + prepareS, "s")
    r.put("peak_heap_mb", ctx.peakOldGenBytes / 1048576.0, "MB")
    r.put("bench.calib_s", calibStart, "s")
    r.put("bench.calib_drift", calibEnd / calibStart, "ratio")
    if (tracer.enabled) {
      // the traced run's own end-to-end figures; against an untraced run
      // of the same seed they give the tracing overhead
      Seq("work_per_s", "op_p50_ms").foreach(k =>
        r.metrics.get(k).foreach { case (v, u) => r.put(s"bench.traced_$k", v, u) })
      org.apache.spark.sql.graftshim.Shim.flushListenerBus(ctx.spark.sparkContext, 60000)
      Layers.report(tracer, r, ctx.cores)
      tracer.dump(s"$work/trace.jsonl")
    }
    ctx.spark.stop()
    writeResult(s"$work/result.json", r, setups, wall)
  }

  private def writeResult(path: String, r: Result, setups: Seq[Double], wall: Double): Unit = {
    val ms = r.metrics.map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
    val fs = r.failures.map(Json.str)
    val ops = r.opMs.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
    Files.writeString(Paths.get(path),
      s"""{"attempted":${r.attempted},"failed":${r.failures.size},""" +
        s""""failures":[${fs.mkString(",")}],"setup_runs_s":[${setups.map(Json.num).mkString(",")}],""" +
        s""""measure_wall_s":${Json.num(wall)},"ops_ms":{${ops.mkString(",")}},""" +
        s""""metrics":{${ms.mkString(",")}}}""" + "\n")
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** A fixed CPU-bound job timed at the start and end of every run, so the
  * speed of the machine itself is a measured number. */
object Calibration {
  private def once(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 40000000) {
      h ^= h << 13; h ^= h >>> 7; h ^= h << 17; h += i
      i += 1
    }
    if (h == 42L) println("") // keeps the loop's result live
    (System.nanoTime() - t0) / 1e9
  }
  def seconds(): Double = Stats.median((1 to 3).map(_ => once()))
}
