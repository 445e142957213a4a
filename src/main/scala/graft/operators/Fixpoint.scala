package graft.operators

import org.apache.spark.sql.DataFrame

/** THE in-loop lineage cut for iterative fixpoints — every loop that
  * carries a frame into its next round routes through [[cut]]
  * (connected components, kPeel, BFS, Bellman-Ford, BPE train, and
  * Graph's pageRank, personalizedPageRank, hits and labelPropagation).
  * ScaleShapeSpec's "iterative graph ops keep O(1) plans per round"
  * test checks that a 6-round plan stays within a constant of the
  * 1-round plan for each graph loop.
  *
  * Two disciplines fused, so the next fixpoint someone adds cannot
  * reintroduce either failure mode:
  *
  *   1. '''Checkpoint-dir awareness.''' Reliable `checkpoint()` when the
  *      session has one configured (`sc.setCheckpointDir` — HDFS/S3 on a
  *      real cluster; survives executor loss, which at 100 TB is routine
  *      mid-iteration), else `localCheckpoint` (unreplicated executor
  *      blocks — fine single-box). Either way lineage truncates: an
  *      iterative loop otherwise grows its logical plan every round and
  *      the plan TREE (not the data) OOMs the driver by round ~10 when
  *      the frame is referenced more than once per round.
  *
  *   2. '''Carried-stats cap''' (Shim.capCarriedStats — always on, a
  *      no-op on sane estimates). Spark's checkpoint preserves the
  *      original plan's estimated `sizeInBytes` on the truncated
  *      LogicalRDD, and `SizeInBytesOnlyStatsPlanVisitor` estimates a
  *      join as the PRODUCT of its children's sizes — so a fixpoint that
  *      references its checkpointed frame k≥2 times per round raises the
  *      carried estimate to the k-th power per round, and by round ~15
  *      every `.stats` walk sits in million-digit BigInteger math for
  *      minutes, on ANY data size (the q57-class planner hang found in
  *      round 9). Single-reference chains only grow digits linearly in
  *      the round count, but the cap costs nothing there — uniformity is
  *      the point (CarriedStatsSpec pins both multiplicity classes at
  *      depth ≥ 30). */
object Fixpoint {

  /** Truncate `df`'s lineage for the next iteration round: reliable
    * checkpoint when a checkpoint dir is configured, local otherwise;
    * carried statistics capped either way. `eager = false` piggybacks
    * materialization on the round's next action instead of paying a
    * dedicated job per cut (use when the loop's own convergence action
    * materializes the frame anyway). */
  def cut(df: DataFrame, eager: Boolean = true): DataFrame = {
    val c =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(eager)
      else df.localCheckpoint(eager)
    org.apache.spark.sql.graftshim.Shim.capCarriedStats(c)
  }
}
