package graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graftshim.Shim

/** The engine's single production entry point for Catalyst extension
  * injection — the standard `SparkSessionExtensions` path, so a
  * deployment enables EVERYTHING from session start with one config:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftSessionExtensions
  * }}}
  *
  * or programmatically
  * `SparkSession.builder().withExtensions(new GraftSessionExtensions)`.
  *
  * Injects, in one pass:
  *  - the custom codegen'd SQL functions (rolling_hash64, simhash64,
  *    array_dot_long, array_l2_long, dedup_lines, nfc_normalize,
  *    minhash_sig) via [[graft.functions.GraftExtensions]];
  *  - the planner strategy for the custom logical nodes
  *    ([[graft.plans.GraftStrategy]]: DecayedScan, HoltScan).
  *
  * It also binds `file:` to the engine's local filesystem on the active
  * SparkContext's Hadoop configuration: `fs.file.impl` to
  * [[graft.LocalFileSystem]] and `fs.AbstractFileSystem.file.impl` to
  * [[graft.LocalFs]], which set permissions and probe symlinks through
  * `java.nio` instead of starting a `chmod`/`readlink` process per file
  * (see [[graft.RawLocalFileSystem]]). Every writer on the session gets
  * it: data files, `.crc` sidecars, ledger marks and stream checkpoints.
  * A key the user set (`spark.hadoop.fs.file.impl`, a `core-site.xml`)
  * wins; a value that only `core-default.xml` gives does not count.
  * Spark applies the extension before the session's SharedState
  * qualifies the warehouse path, the step that creates and caches the
  * JVM's first `file:` FileSystem, so the binding holds from session
  * start. That needs an active context when `apply` runs, as on the
  * `spark.sql.extensions` path; `withExtensions` runs `apply` before the
  * context exists and binds nothing.
  *
  * The two GATED rewrites — [[graft.plans.RollupRewrite]] and
  * [[graft.plans.RangeJoinRewrite]] — are deliberately NOT injected
  * here. `injectOptimizerRule` would place them inside the fixed-point
  * operator-optimization batch, but both are specified to run AFTER
  * the main optimizer batches (they match fully-normalized Aggregate /
  * Join shapes), and both already self-register on the correct hook:
  * `RollupRewrite.materializeAndRegister` / `RangeJoinRewrite.enable`
  * append the singleton rule to `spark.experimental.extraOptimizations`
  * exactly once — the last optimizer batch, i.e. the documented
  * placement — so an enabled session carries exactly ONE instance of
  * each (pinned by GraftSessionExtensionsSpec). Until enabled they are
  * absent from the optimizer entirely: zero per-query probe cost.
  */
class GraftSessionExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    Shim.activeContext.foreach(sc => GraftSessionExtensions.bindLocalFs(sc.hadoopConfiguration))
    new graft.functions.GraftExtensions().apply(e)
    e.injectPlannerStrategy(_ => graft.plans.GraftStrategy)
  }
}

object GraftSessionExtensions {
  /** The `file:` keys and the engine's classes they are bound to. */
  val LocalFsKeys: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[LocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[LocalFs].getName)

  /** Binds each key of [[LocalFsKeys]] that the user has not set. */
  def bindLocalFs(conf: Configuration): Unit =
    for ((key, cls) <- LocalFsKeys) {
      val sources = Option(conf.getPropertySources(key)).toSeq.flatten
      if (sources.forall(_ == "core-default.xml"))
        conf.set(key, cls, classOf[GraftSessionExtensions].getName)
    }
}
