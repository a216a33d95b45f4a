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

  /** Cut `df`'s lineage WITHOUT forcing its final stage now. The logical
    * plan is truncated immediately either way (both forms return a
    * LogicalRDD, so the Catalyst re-analysis blow-up cannot happen).
    * Lazy is not free of jobs: under adaptive execution the cut plans
    * `df` at the call and runs every shuffle map stage of that plan
    * there (an adaptive plan exists only once its stages have run), so
    * only the final, post-exchange stage is deferred — it runs, and
    * stores the cut's blocks, inside the next action that reads the
    * cut. A cut over a plan with no exchange runs nothing at the call.
    *
    * Lazy fits a frame that a later action of the same loop reads
    * anyway: the fixed-round loops of [[Graph]] and [[Bpe]] (measured
    * faster lazy in round 7, q143/q160/q161, SCALE.md) and the
    * post-probe frame of `Dedup.minLabelFixpoint`, whose final stage runs
    * inside the eager cut of the same superstep. Made eager, that frame
    * costs a job more per superstep (9 against 8 on `FixpointSpec`'s
    * chain fixture at `local[4]`, same shuffle bytes): its final stage
    * runs as a job of its own and its blocks are read back by the next
    * one. Where the loop needs an action per round anyway, cut eagerly
    * and let the cut be the action: `minLabelFixpoint`'s halved state is
    * an eager [[cut]] that carries the round's convergence count as an
    * observed metric. (The round-8 finding that eager cuts ran 1.5–3×
    * slower in convergence loops compared an eager cut followed by a
    * separate label-sum query against a lazy cut materialized inside
    * that query: the eager form paid a job and a block write/read more
    * per round; with the count riding on the cut, no second query
    * runs.) The benign `BlockManager: Block rdd_X
    * already exists` warnings in bench tails are the lazy first-action
    * path double-reporting a stored partition, not recomputation. Under
    * `spark.graft.checkpoint.reliable=true` this stays EAGER: per-round
    * durability is the entire point of the reliable path, a lazy
    * reliable cut would persist nothing until the final action.
    */
  def cutLazy(df: DataFrame): DataFrame = cutImpl(df, eager = false)

  /** Drop the stored blocks behind a frame returned by [[cut]] or
    * [[cutLazy]] (and any `cache()` of it). A cut frame is a scan of a
    * persisted RDD that `DataFrame.unpersist` does not reach, so an
    * iterative operator calls this on each superstep's state once the
    * next superstep's state is materialized. Release only state that
    * nothing reads again: a truncated frame cannot recompute its blocks.
    *
    * One release at a time in the process. Uncaching a frame makes Spark
    * re-plan every cached frame built on it that is not fully stored yet:
    * it removes that frame's entry and adds a re-planned one back. A
    * concurrent release of that dependent frame can run in between, find
    * no entry, and leave the re-added one cached for good; a later call
    * that caches an equal plan then reuses it, stale physical plan and all.
    */
  def release(df: DataFrame): Unit = synchronized {
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
