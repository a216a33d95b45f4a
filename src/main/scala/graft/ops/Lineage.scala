package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Per-superstep lineage truncation for iterative operators
  * ([[Dedup.clusters]], [[Dedup.simhashClusters]], [[Bpe.merges]],
  * [[Graph.pageRank]]).
  *
  * Truncation itself is non-negotiable — chaining supersteps lazily
  * replays every prior round through each reference and the plan grows
  * exponentially (SCALE.md rounds 2/5) — but WHERE the truncated state
  * lives is a deployment decision:
  *
  *  - default: `localCheckpoint` — executor-local storage, zero extra
  *    infrastructure, right for local runs and for clusters that accept
  *    re-running a failed job. The trade: lineage is gone, so on a real
  *    cluster an executor loss after round k makes the iterated state
  *    UNRECOVERABLE mid-job (the job fails; rerun recomputes from the
  *    sources).
  *  - `spark.graft.checkpoint.reliable=true`: `checkpoint()` to the
  *    session's checkpoint directory (`SparkContext.setCheckpointDir`,
  *    typically durable distributed storage) — each superstep's state
  *    survives executor loss, the iteration resumes from the last
  *    written round. The cost is a per-superstep write+read of the
  *    (small, vertex/vocab-sized) iterated frame to durable storage.
  */
object Lineage {
  val ReliableConfKey = "spark.graft.checkpoint.reliable"

  /** Cut `df`'s lineage, eagerly; reliable or local per session conf. */
  def cut(df: DataFrame): DataFrame = cutImpl(df, eager = true)

  /** Cut `df`'s lineage WITHOUT forcing materialization now. The logical
    * plan is truncated immediately either way (both forms return a
    * LogicalRDD, so the Catalyst re-analysis blow-up cannot happen); lazy
    * skips the per-superstep job, so a fixed-round loop with no mid-loop
    * action collapses R driver jobs into one final job — measured round 7
    * on the q143/q160/q161 loops (SCALE.md). Convergence-style loops
    * with an action per round (e.g. [[Dedup.clusters]]) ALSO prefer lazy:
    * the round-8 directed A/B (SCALE.md r8 #1) measured eager cuts 1.5–3×
    * slower across the clusters family (q94 8.3→24.2 s, q190 8.3→18.1 s,
    * q65 2.9→9.8 s at sf0.1) — the eager localCheckpoint runs the
    * superstep's plan as its OWN job and the fixpoint-sum action then
    * reads the stored blocks, i.e. one extra scheduled job plus one
    * extra block write/read per round, where the lazy form materializes
    * inside the sum job it already runs. The benign `BlockManager:
    * Block rdd_X already exists` warnings in bench tails are the lazy
    * first-action path double-reporting a stored partition, not
    * recomputation. Under `spark.graft.checkpoint.reliable=true` this
    * stays EAGER: per-round durability is the entire point of the
    * reliable path, a lazy reliable cut would persist nothing until the
    * final action.
    */
  def cutLazy(df: DataFrame): DataFrame = cutImpl(df, eager = false)

  /** Drop the stored blocks behind a frame returned by [[cut]] or
    * [[cutLazy]] (and any `cache()` of it). A cut frame is a scan of a
    * persisted RDD that `DataFrame.unpersist` does not reach, so an
    * iterative operator calls this on each superstep's state once the
    * next superstep's state is materialized. Release only state that
    * nothing reads again: a truncated frame cannot recompute its blocks.
    */
  def release(df: DataFrame): Unit = {
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
    df.unpersist(blocking = false)
  }

  private def cutImpl(df: DataFrame, eager: Boolean): DataFrame = {
    val s = df.sparkSession
    val reliable =
      s.conf.getOption(ReliableConfKey).exists(_.trim.equalsIgnoreCase("true"))
    if (reliable) {
      require(s.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableConfKey=true requires SparkContext.setCheckpointDir " +
          "(a durable location — HDFS/object storage on a cluster)")
      df.checkpoint(true)
    } else df.localCheckpoint(eager)
  }
}
