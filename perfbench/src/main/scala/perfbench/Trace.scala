package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One call from the benchmark into a module. `op` groups the spans of one
  * workload operation (a pipeline day, a registry row, a serve). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      op: Int, startNs: Long, startMs: Long,
                      var endNs: Long = 0L, var endMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine-side counts: task metrics from a SparkListener, phase times and
  * plan sizes from a QueryExecutionListener. */
final class Counts {
  var jobs, stages, tasks, taskFailures = 0L
  var execCpuNs, execRunMs, gcMs, schedDelayMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill, input, output = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var planNodesMax = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskFailures += o.taskFailures
    execCpuNs += o.execCpuNs; execRunMs += o.execRunMs; gcMs += o.gcMs
    schedDelayMs += o.schedDelayMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; fetchWaitMs += o.fetchWaitMs; spill += o.spill
    input += o.input; output += o.output; analysisMs += o.analysisMs
    optimizationMs += o.optimizationMs; planningMs += o.planningMs
    planNodesMax = math.max(planNodesMax, o.planNodesMax)
  }

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_failures" -> taskFailures.toDouble, "exec_cpu_s" -> execCpuNs / 1e9,
    "exec_run_s" -> execRunMs / 1e3, "gc_s" -> gcMs / 1e3,
    "sched_delay_s" -> schedDelayMs / 1e3, "shuffle_write_bytes" -> shuffleWrite.toDouble,
    "shuffle_read_bytes" -> shuffleRead.toDouble, "shuffle_fetch_wait_s" -> fetchWaitMs / 1e3,
    "spill_bytes" -> spill.toDouble, "input_bytes" -> input.toDouble,
    "output_bytes" -> output.toDouble, "plan.analysis_ms" -> analysisMs.toDouble,
    "plan.optimization_ms" -> optimizationMs.toDouble,
    "plan.planning_ms" -> planningMs.toDouble, "plan_nodes_max" -> planNodesMax.toDouble)
}

/** Spans around the benchmark's calls into each module, kept in memory and
  * written out when the run ends. Spark work is attributed to the span
  * that was open on the calling thread: the span id travels as a job
  * local property (inherited by threads the call starts, such as a
  * streaming query's). Query-execution events (phase times, plan size)
  * go to the innermost span open when their planning finished; the
  * client is one thread, so that span is the one that ran the query.
  * A disabled tracer runs the body and records nothing. */
final class Tracer(val enabled: Boolean) {
  private val PropKey = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var nextOp = 0
  private val counts = new ConcurrentHashMap[Int, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val queryEvents =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Counts)]()
  private var sc: SparkContext = _

  private def countsOf(span: Int): Counts = counts.computeIfAbsent(span, _ => new Counts)

  def newOp(): Int = { nextOp += 1; nextOp }

  /** Time `body` as a call into module `layer`. Records only once
    * [[attach]] has run, so set-up work is never traced. */
  def span[T](layer: String, name: String, op: Int = 0)(body: => T): T =
    if (sc == null) body
    else {
      val parent = open.headOption
      val s = Span(spans.size + 1, parent.map(_.id).getOrElse(0), layer, name,
        if (op != 0) op else parent.map(_.op).getOrElse(0), System.nanoTime(),
        System.currentTimeMillis())
      spans += s
      open = s :: open
      val prev = sc.getLocalProperty(PropKey)
      sc.setLocalProperty(PropKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(PropKey, prev)
      }
    }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(PropKey))).map(_.toInt).getOrElse(0)

  /** Install the listeners on a session (a no-op when disabled). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val s = spanOf(e.properties)
        e.stageIds.foreach(stageSpan.put(_, s))
        countsOf(s).synchronized { countsOf(s).jobs += 1 }
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val s = spanOf(e.properties)
        stageSpan.putIfAbsent(e.stageInfo.stageId, s)
        stageSubmitMs.put(e.stageInfo.stageId,
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
        countsOf(s).synchronized { countsOf(s).stages += 1 }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val c = countsOf(stageSpan.getOrDefault(e.stageId, 0))
        c.synchronized {
          c.tasks += 1
          if (!e.taskInfo.successful) c.taskFailures += 1
          val submit = stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime)
          c.schedDelayMs += math.max(0L, e.taskInfo.launchTime - submit)
          val m = e.taskMetrics
          if (m != null) {
            c.execCpuNs += m.executorCpuTime; c.execRunMs += m.executorRunTime
            c.gcMs += m.jvmGCTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.input += m.inputMetrics.bytesRead
            c.output += m.outputMetrics.bytesWritten
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        val c = new Counts
        c.analysisMs = ms("analysis"); c.optimizationMs = ms("optimization")
        c.planningMs = ms("planning"); c.planNodesMax = planNodes(qe.executedPlan)
        val at = ph.get("planning").map(_.endTimeMs).getOrElse(System.currentTimeMillis())
        queryEvents.add(at -> c)
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Node count of an executed plan, descending into adaptive plans,
    * query stages and subqueries. */
  private def planNodes(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => 1L + planNodes(a.executedPlan)
    case q: QueryStageExec => 1L + planNodes(q.plan)
    case i: InMemoryTableScanExec => 1L + planNodes(i.relation.cachedPlan)
    case _ => 1L + p.children.map(planNodes).sum + p.subqueries.map(planNodes).sum
  }

  /** Move query-execution events into the span open when they planned. */
  private def resolveQueryEvents(): Unit = {
    var e = queryEvents.poll()
    while (e != null) {
      val (at, c) = e
      val inner = spans.filter(s => s.startMs <= at && (s.endMs == 0L || at <= s.endMs))
        .sortBy(-_.startNs).headOption.map(_.id).getOrElse(0)
      val target = countsOf(inner)
      target.synchronized { target.add(c) }
      e = queryEvents.poll()
    }
  }

  /** Engine counts of the given spans and all their descendants. Work
    * outside every span (before the first one opened) is under span 0 and
    * never counted. */
  def countsUnder(pred: Span => Boolean): Counts = {
    resolveQueryEvents()
    val byParent = spans.groupBy(_.parent)
    val t = new Counts
    def walk(s: Span): Unit = {
      Option(counts.get(s.id)).foreach(c => c.synchronized { t.add(c) })
      byParent.getOrElse(s.id, Nil).foreach(walk)
    }
    spans.filter(pred).foreach(walk)
    t
  }

  /** Total seconds of the spans matching `pred`, nested matches counted once. */
  def seconds(pred: Span => Boolean): Double = {
    val byId = spans.map(s => s.id -> s).toMap
    def coveredByAncestor(s: Span): Boolean =
      Iterator.iterate(byId.get(s.parent))(_.flatMap(p => byId.get(p.parent)))
        .takeWhile(_.isDefined).flatten.exists(pred)
    spans.filter(s => pred(s) && !coveredByAncestor(s)).map(_.seconds).sum
  }

  /** Busy and self seconds per layer. A layer is busy while any of its
    * spans is open; its self time is the part of that no child span of
    * another layer covers. */
  def layerTimes: Map[String, (Double, Double)] = {
    val byParent = spans.groupBy(_.parent)
    def exclusive(s: Span) = s.seconds - byParent.getOrElse(s.id, Nil).map(_.seconds).sum
    spans.map(_.layer).distinct.map { layer =>
      layer -> (seconds(_.layer == layer), spans.filter(_.layer == layer).map(exclusive).sum)
    }.toMap
  }

  private def countsOfSpan(id: Int): Counts = Option(counts.get(id)).getOrElse(new Counts)

  /** Spans and their engine counts as JSON lines. */
  def dump(path: String): Unit = {
    resolveQueryEvents()
    val lines = spans.map { s =>
      val c = countsOfSpan(s.id).toMap.map { case (k, v) => s""""$k":${Json.num(v)}""" }
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":${Json.str(s.layer)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""spark":{${c.mkString(",")}}}""" + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}

/** Per-layer metrics of a traced run, read from the spans. */
object Layers {
  /** The modules the benchmark calls into directly. */
  val Modules = Seq("sources", "operators", "queries")

  def report(t: Tracer, r: Main.Result, cores: Int): Unit = {
    val work = (s: Span) => s.parent == 0 && s.layer != "bench"
    val c = t.countsUnder(work)
    c.toMap.foreach { case (k, v) =>
      val unit = if (k.endsWith("_s")) "s" else if (k.endsWith("_ms")) "ms"
        else if (k.endsWith("_bytes")) "bytes" else "count"
      r.put(s"spark.$k", v, unit)
    }
    r.put("queries.construct_jobs",
      t.countsUnder(s => s.layer == "queries" && s.name == "construct").jobs, "count")
    val busy = t.seconds(work)
    r.put("spark.core_util", c.execCpuNs / 1e9 / (busy * cores), "ratio")
    val times = t.layerTimes
    Modules.foreach { m =>
      val (b, s) = times.getOrElse(m, (0.0, 0.0))
      r.put(s"layer.$m.busy_s", b, "s")
      r.put(s"layer.$m.self_s", s, "s")
    }
  }
}
