package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for selected registered queries —
  * the plan-evidence side of the optimization rounds (guide §1.1/§7.2:
  * capture the physical plan before and after every change; the plan
  * files under plans/rNN/ are what claims like "2 Exchange → 1" or
  * "SortMergeJoin → BroadcastHashJoin" are checked against).
  *
  * Usage:
  *   SPARK_GRAFT_ONLY=q191,q284 sbt "runMain graft.PlanDump <sfDir> <outDir>"
  *
  * Writes <outDir>/<query>.txt. Honors SPARK_GRAFT_CPUS like the other
  * mains, and any `spark.graft.*` session knob can be pinned through
  * SPARK_GRAFT_CONF ("k=v,k=v") so before/after plan pairs can be
  * produced from the same build (e.g. the GlobalRank size gate).
  *
  * NOTE: some queries execute control-plane jobs at CONSTRUCTION time
  * (size-adaptive dispatch counts, memoized index builds) — dumping a
  * plan therefore runs those jobs; the dumped plan is the one the
  * query's action would execute. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/tmp/plans"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus)
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(",").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k.trim, v.trim)
    })
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith))
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"$name.txt"),
          txt.getBytes("UTF-8"))
        println(s"WROTE $name")
      } catch { case e: Throwable =>
        println(s"FAILED $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
