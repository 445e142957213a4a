package graft

import org.apache.spark.sql.SparkSession

/** The one session the registry mains (Bench, Verify, PlanDump,
  * ScaleSlopes, DrillProfile) run on: `local[cpus]` with the graft
  * extensions, one shuffle partition per core, UTC session time, no UI,
  * WARN logging. Each main reads SPARK_GRAFT_CPUS with its own default
  * and passes it here. */
object LocalSession {
  def apply(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftSessionExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The registry's global windows all run on provably bounded inputs
    // (post-rollup day/vocab/group-sized relations, audited query by
    // query in RegistryContractSpec, which fails if a new global window
    // appears outside its allowlist). At WARN each occurrence still
    // prints "No Partition Defined! Moving all data to a single
    // partition": hundreds of lines that drown the output tail. Silenced
    // here, at the mains, not in library code: an unaudited global
    // window is caught by the spec, not by log spam.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
