package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Bench's trial grant and report, driven by a fake timer: no Spark.
  * Each fake row replays a fixed list of trial seconds. */
class BenchSpec extends AnyFunSuite {

  /** A timer over `plan(set)(row)`: trial i of a row takes the row's
    * i-th seconds (its last, once exhausted); a negative entry throws
    * after that many seconds. Records every call. */
  private class FakeTimer(plan: Map[String, Map[String, Seq[Double]]]) {
    val calls = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def apply(set: String, row: String): (Double, Option[String]) = {
      val i = calls.count(_ == (set -> row))
      calls += (set -> row)
      val secs = plan(set)(row)
      val s = secs(math.min(i, secs.length - 1))
      if (s < 0) (-s, Some(s"boom in $row")) else (s, None)
    }
  }

  /** Grants the three sets (target 3 trials each) over `plan` and
    * parses the report line. */
  private def run(plan: Map[String, Map[String, Seq[Double]]], budget: Double) = {
    val timer = new FakeTimer(plan)
    val sets = Seq("queries", "serving", "maintenance").map { k =>
      (k, plan.getOrElse(k, Map.empty[String, Seq[Double]]).keys.toSeq.sorted, 3)
    }
    val (out, measured) = Bench.grant(sets, budget)(timer.apply)
    val json = new ObjectMapper().readTree(Bench.report(out, measured, budget, 3, "sf"))
    (out, measured, json, timer)
  }

  private def dict(j: JsonNode): Map[String, JsonNode] =
    j.properties().asScala.map(e => e.getKey -> e.getValue).toMap

  test("a budget that buys 2 of 3 rounds gives every headline row n = 2, reporting the mean of its two trials") {
    // pass 1: 1 + 2 = 3 s; round 2 projects 3 s (fits 12, measured 10);
    // round 3 projects 2 + 3 = 5 s, 15 > 12, so the set stops at n = 2.
    // The 10 s maintenance drill runs after the headline's rounds are
    // decided; billed first, it would leave the headline at n = 1.
    val plan = Map(
      "queries" -> Map("a" -> Seq(1.0, 3.0, 1.0), "b" -> Seq(2.0, 4.0, 2.0)),
      "maintenance" -> Map("q322_m" -> Seq(10.0)))
    val (out, measured, json, timer) = run(plan, budget = 12.0)
    assert(out("queries").n == 2 && out("maintenance").n == 1)
    assert(out("queries").runs == Map("a" -> Vector(1.0, 3.0), "b" -> Vector(2.0, 4.0)))
    assert(measured == 20.0)
    assert(timer.calls.size == 5 && timer.calls.last == ("maintenance" -> "q322_m"))
    val q = dict(json.get("queries"))
    assert(q("a").asDouble == 2.0 && q("b").asDouble == 3.0)
    assert(json.get("value").asDouble == 5.0)
    assert(json.get("trials_n").get("queries").asInt == 2)
    assert(Bench.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("a budget that buys nothing gives n = 1 everywhere, degraded_trials empty, the parent's keys in order") {
    val plan = Map(
      "queries" -> Map("a" -> Seq(2.0), "b" -> Seq(3.0)),
      "serving" -> Map("s" -> Seq(1.0)),
      "maintenance" -> Map("q322_m" -> Seq(5.0)))
    val (out, measured, json, _) = run(plan, budget = 1.0)
    assert(out.values.map(_.n).toSet == Set(1))
    assert(measured == 11.0)
    assert(json.get("degraded_trials").isArray && json.get("degraded_trials").size == 0)
    assert(json.get("degraded_metric").asText == "median")
    assert(dict(json.get("trials_n")).map { case (k, v) => k -> v.asInt } ==
      Map("queries" -> 1, "maintenance" -> 1, "serving" -> 1))
    assert(json.fieldNames().asScala.toSeq == Seq("queries", "maintenance",
      "errors", "serving", "serving_errors", "degraded_trials",
      "degraded_metric", "maint_trials", "trials_n", "budget_sec",
      "measured_sec", "metric", "value", "unit", "maintenance_sec",
      "max_trial_spread", "spread_query", "n_errors", "n_serving_errors", "sf"))
    // headline ascending by value so the heaviest rows sit nearest the tail
    assert(json.get("queries").fieldNames().asScala.toSeq == Seq("a", "b"))
    assert(json.get("maintenance_sec").asDouble == 5.0)
  }

  test("a serving row and a registry row with the same name get independent n and values") {
    // headline x: 1 s trials, rounds 2 and 3 fit (1 -> 2.2 -> 3 s);
    // serving x: 5 s trials, pass 1 reaches 8 s and round 2 projects
    // 13 s > 10, so n = 1
    val plan = Map(
      "queries" -> Map("x" -> Seq(1.0, 1.2, 0.8)),
      "serving" -> Map("x" -> Seq(5.0)))
    val (out, _, json, _) = run(plan, budget = 10.0)
    assert(out("queries").n == 3 && out("serving").n == 1)
    assert(json.get("queries").get("x").asDouble == 1.0)
    assert(json.get("serving").get("x").asDouble == 5.0)
    assert(json.get("trials_n").get("serving").asInt == 1)
  }

  test("max_trial_spread is null with one trial per row, the max/min ratio over rows with 2+ trials otherwise") {
    // n = 1: one trial shows no noise, so there is no spread to report
    val one = Map("queries" -> Map("a" -> Seq(2.0), "b" -> Seq(3.0)),
      "maintenance" -> Map("q322_m" -> Seq(5.0)))
    val (_, _, json1, _) = run(one, budget = 1.0)
    assert(json1.get("max_trial_spread").isNull && json1.get("spread_query").isNull)
    // n = 2 headline (a: 1 then 3 s, b: 2 then 2.5 s) beside a 1-trial drill
    val two = Map("queries" -> Map("a" -> Seq(1.0, 3.0, 1.0), "b" -> Seq(2.0, 2.5, 2.0)),
      "maintenance" -> Map("q322_m" -> Seq(10.0)))
    val (out, _, json2, _) = run(two, budget = 12.0)
    assert(out("queries").n == 2 && out("maintenance").n == 1)
    assert(json2.get("max_trial_spread").asDouble == 3.0)
    assert(json2.get("spread_query").asText == "a")
  }

  test("a row whose first trial throws lands in errors, never in timings") {
    val plan = Map(
      "queries" -> Map("bad" -> Seq(-0.5), "ok" -> Seq(1.0, 2.0, 3.0)),
      "serving" -> Map("bad" -> Seq(-0.25)))
    val (out, measured, json, timer) = run(plan, budget = 100.0)
    assert(out("queries").errors.keySet == Set("bad"))
    assert(!out("queries").runs.contains("bad"))
    assert(out("queries").n == 3 && out("queries").runs("ok") == Vector(1.0, 2.0, 3.0))
    assert(timer.calls.count(_ == ("queries" -> "bad")) == 1, "a failed row is not retried")
    assert(measured == 6.75, "failed trials bill the budget")
    assert(!json.get("queries").has("bad"))
    assert(json.get("errors").get("bad").asText == "boom in bad")
    assert(json.get("n_errors").asInt == 1)
    assert(json.get("serving").size == 0 && json.get("serving_errors").has("bad"))
    assert(json.get("n_serving_errors").asInt == 1)
  }
}
