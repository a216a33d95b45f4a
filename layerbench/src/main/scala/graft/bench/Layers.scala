package graft.bench

import graft.bench.LayerBench.{OpRec, PassRec}

/** Per-layer metrics of a traced run, from its traced pass. Every event
  * is attributed to the op whose interval holds its start; events outside
  * every op (the harness's own work) are dropped. `trace.overhead` is the
  * traced pass's wall over the mean of the untraced passes around it,
  * minus one.
  */
object Layers {
  val corpusOps = Seq("by_fingerprint", "minhash_near_duplicates",
    "simhash_clusters", "winnow_clusters", "ivf_top_k")

  /** Every per-layer name, zero where the workload leaves the layer idle. */
  val names: Seq[String] = Seq(
    "pipeline.bronze_s", "pipeline.silver_s", "pipeline.gold_s", "quality.dq_s",
    "io.bytes_read", "io.bytes_written", "io.files_written", "io.records_written") ++
    corpusOps.flatMap(o => Seq(s"ops.${o}_s", s"ops.$o.rows_out")) ++ Seq(
    "ops.simhash_clusters.jobs", "ops.minhash.pair_yield",
    "functions.simhash64_rows_per_s", "functions.minhash_rows_per_s",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalog.first_task_ms", "catalog.fixed_share",
    "exchange.shuffle_write_bytes", "exchange.shuffle_records",
    "exchange.spill_bytes", "exchange.fetch_wait_ms",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.task_busy_s", "sched.core_busy",
    "streaming.batches", "streaming.trigger_ms", "streaming.addbatch_ms",
    "streaming.machinery_ms", "streaming.state_commit_ms", "streaming.state_rows",
    "jvm.gc_s", "trace.overhead")

  def compute(workload: String, cpus: Int, probe: Probe, passes: Seq[PassRec],
              records: Seq[OpRec]): Map[String, Double] = {
    val traced = passes.filter(_.traced)
    val tracedSet = traced.map(_.index).toSet
    val ops = records.filter(r => tracedSet(r.pass) && r.endMs > 0).sortBy(_.startMs)
    def opAt(t: Long): Option[OpRec] = ops.find(o => o.startMs <= t && t <= o.endMs)
    def within(t: Long) = opAt(t).isDefined

    val tasks = probe.tasks.filter(t => within(t.launchMs)).toSeq
    val jobs = probe.jobs.filter(j => within(j.startMs)).toSeq
    val phases = probe.phases.filter(p => within(p.startMs)).toSeq
    val batches = probe.batches.filter(b => within(b.startMs)).toSeq
    val wallS = ops.map(_.seconds).sum
    def sumOf(f: TaskRec => Long) = tasks.map(f).sum.toDouble
    def phaseMs(name: String) = phases.filter(_.phase == name).map(p => p.endMs - p.startMs).sum.toDouble
    def opS(prefix: String) = ops.filter(_.name.startsWith(prefix)).map(_.seconds).sum

    // fixed cost: op time with no task of the op running
    val tasksByOp = tasks.groupBy(t => opAt(t.launchMs).get)
    val uncoveredMs = ops.map { o =>
      val iv = tasksByOp.getOrElse(o, Nil).map(t => (t.launchMs max o.startMs, t.finishMs min o.endMs))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = curB max b
      }
      covered += curB - curA
      (o.endMs - o.startMs) - covered
    }
    val firstTask = ops.flatMap(o => tasksByOp.get(o).map(ts => (ts.map(_.launchMs).min - o.startMs).toDouble))
    val busyS = tasks.map(t => t.finishMs - t.launchMs).sum / 1000.0
    val trigger = batches.map(_.triggerMs).sum.toDouble
    val addBatch = batches.map(_.addBatchMs).sum.toDouble
    val stateRows = batches.groupBy(_.query).values
      .map(bs => bs.maxBy(_.batchId).stateRows).sum.toDouble
    val simhashJobs = ops.filter(_.name == "simhash_clusters")
      .map(o => jobs.count(j => o.startMs <= j.startMs && j.startMs <= o.endMs)).sum
    def passWall(i: Int) = records.filter(_.pass == i).map(_.seconds).sum

    val base = names.map(_ -> 0.0).toMap
    base ++ Map(
      "pipeline.bronze_s" -> opS("bronze:"),
      "pipeline.silver_s" -> opS("silver:"),
      "pipeline.gold_s" -> opS("gold"),
      "io.bytes_read" -> sumOf(_.bytesRead),
      "io.bytes_written" -> sumOf(_.bytesWritten),
      "io.records_written" -> sumOf(_.recordsWritten),
      "io.files_written" -> traced.map(_.filesWritten).sum.toDouble,
      "ops.simhash_clusters.jobs" -> simhashJobs.toDouble,
      "catalyst.analysis_ms" -> phaseMs("analysis"),
      "catalyst.optimization_ms" -> phaseMs("optimization"),
      "catalyst.planning_ms" -> phaseMs("planning"),
      "catalog.first_task_ms" -> Workload.median(firstTask),
      "catalog.fixed_share" ->
        (if (ops.isEmpty) 0.0 else uncoveredMs.sum.toDouble / ops.map(o => o.endMs - o.startMs).sum.max(1L)),
      "exchange.shuffle_write_bytes" -> sumOf(_.shuffleWriteBytes),
      "exchange.shuffle_records" -> sumOf(_.shuffleRecords),
      "exchange.spill_bytes" -> sumOf(_.spillBytes),
      "exchange.fetch_wait_ms" -> sumOf(_.fetchWaitMs),
      "sched.jobs" -> jobs.size.toDouble,
      "sched.stages" -> probe.stages.count(within).toDouble,
      "sched.tasks" -> tasks.size.toDouble,
      "sched.task_busy_s" -> busyS,
      "sched.core_busy" -> (if (wallS == 0) 0.0 else busyS / (wallS * cpus)),
      "streaming.batches" -> batches.count(_.ranBatch).toDouble,
      "streaming.trigger_ms" -> trigger,
      "streaming.addbatch_ms" -> addBatch,
      "streaming.machinery_ms" -> (trigger - addBatch),
      "streaming.state_commit_ms" -> batches.map(_.stateCommitMs).sum.toDouble,
      "streaming.state_rows" -> stateRows,
      "jvm.gc_s" -> traced.map(_.gcMs).sum / 1000.0,
      "trace.overhead" ->
        (passWall(1) / ((passWall(0) + passWall(2)) / 2).max(1e-9) - 1.0)) ++
      (if (workload == "corpus_dedup") corpusOps.flatMap { o =>
        val rs = ops.filter(_.name == o)
        Seq(s"ops.${o}_s" -> rs.map(_.seconds).sum,
          s"ops.$o.rows_out" -> rs.map(_.rows.max(0L)).sum.toDouble)
      } else Nil)
  }
}
