package graft.bench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, FutureTask, TimeUnit, TimeoutException}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.ops.Dedup

/** The layer benchmark's JVM side. `layerbench/run.py` generates the
  * inputs, starts this program, then checks its outputs and prints the
  * metrics. This program:
  *  1. sets up: session start and the untimed warm-up, added to the
  *     median input generation time the caller measured (`--gen-s`);
  *  2. runs passes over the workload's ops, each op on its own thread
  *     under a timeout: untraced, at least `--min-passes` and until
  *     `--seconds` have elapsed; traced, an untraced, a traced and an
  *     untraced pass;
  *  3. writes result.json (op records, per-pass counters, per-layer
  *     metrics when traced), the first pass's outputs as parquet and,
  *     when traced, trace.json with every span.
  *
  * Usage: LayerBench --workload W --seconds S --min-passes N --trace 0|1
  *          --input DIR --work DIR --gen-s a,b,c
  */
object LayerBench {
  /** An op that runs longer fails by name. */
  val OpTimeoutS = 60.0
  /** No op starts once the run is this old; a skipped op fails. */
  val BudgetS = 120.0

  private lazy val warmUpPool = ExecutionContext.fromExecutorService(
    Executors.newCachedThreadPool((r: Runnable) => {
      val t = new Thread(r, "warm-up")
      t.setDaemon(true)
      t
    }))

  final case class OpRec(pass: Int, name: String, startMs: Long, endMs: Long,
                         seconds: Double, ok: Boolean, error: String, rows: Long,
                         liveHeapBytes: Long = -1, cpuSeconds: Double = 0)
  final case class PassRec(index: Int, traced: Boolean, storageBytes: Long,
                           gcMs: Long, filesWritten: Long)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workloadName = opt("workload")
    val seconds = opt("seconds").toDouble
    val minPasses = opt("min-passes").toInt
    val trace = opt("trace") == "1"
    val input = opt("input")
    val work = opt("work")
    val genS = opt("gen-s").split(",").map(_.toDouble).toSeq
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val runStart = System.nanoTime()
    def elapsedS = (System.nanoTime() - runStart) / 1e9
    val outDir = s"$work/out"
    val outputsDir = s"$work/outputs"

    // ---- set-up: input generation (timed by the caller, the median of
    // its repeats) + session start + the untimed warm-up over the
    // workload's ops, so timed passes see a warm JVM and Spark's code
    // generation cache, as graft.Bench's best-of-passes does
    val spark = session(cpus, work)
    val sessionS = (System.nanoTime() - runStart) / 1e9
    val workload = Workload(workloadName, input, outDir)
    val ops = workload.ops
    val warmUp = workload.warmUpGroups.flatMap { group =>
      val running = group.map(op => Future(runOp(spark, op, -1)._1)(warmUpPool))
      running.map(Await.result(_, Duration.Inf))
    }
    val warmUpS = (System.nanoTime() - runStart) / 1e9 - sessionS
    val setupS = Workload.median(genS) + sessionS + warmUpS

    val sc = spark.sparkContext
    val storage = new StorageCounter
    sc.addSparkListener(storage)
    val probe = new Probe(spark)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

    val records = mutable.ArrayBuffer.empty[OpRec]
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val firstDigests = mutable.Map.empty[String, String]
    val oracles = mutable.LinkedHashMap.empty[String, String]
    val opSpans = mutable.ArrayBuffer.empty[Span]
    // untraced: at least `minPasses`, and until `seconds` have elapsed.
    // Traced: untraced, traced, untraced; the traced pass gives the
    // per-layer metrics, and its wall over the mean of its neighbours'
    // the overhead.
    val windowStart = System.nanoTime()
    var p = 0
    while (if (trace) p < 3
           else (p < minPasses || (System.nanoTime() - windowStart) / 1e9 < seconds) &&
             elapsedS < BudgetS) {
      val traced = trace && p == 1
      if (traced) probe.attach()
      val passSpan = probe.newSpanId()
      var passGcMs = 0L
      val passStart = System.currentTimeMillis()
      val passRecs = ops.map { op =>
        val gc0 = gcMs
        val (rec, out) =
          if (elapsedS > BudgetS) (OpRec(p, op.name, 0, 0, 0, ok = false,
            "skipped: run budget spent", -1), None)
          else runOp(spark, op, p, measureHeap = !trace && p == 0)
        passGcMs += gcMs - gc0
        // outside the op's timed window: compare with the first pass, and
        // write the first output out so the harness holds no result rows
        val checked = out match {
          case Some(o) if rec.ok =>
            val d = Digest.of(o)
            firstDigests.get(op.name) match {
              case None =>
                firstDigests(op.name) = d
                writeOutput(spark, s"$outputsDir/${Digest.fileName(op.name)}", o)
                SparkEntry.oracleSql.get(op.name).foreach(oracles(op.name) = _)
                rec
              case Some(first) if first != d =>
                rec.copy(ok = false, error = "output differs from the first pass")
              case _ => rec
            }
          case _ => rec
        }
        if (traced) opSpans += Span(probe.newSpanId(), passSpan, s"op:${op.name}",
          rec.startMs, rec.endMs)
        checked
      }
      val passEnd = System.currentTimeMillis()
      org.apache.spark.BenchBridge.drainListeners(sc)
      if (traced) {
        probe.detach()
        opSpans += Span(passSpan, 0L, s"pass:$p", passStart, passEnd)
      }
      records ++= passRecs
      passes += PassRec(p, traced, storage.bytesWithin(passRecs.map(r => (r.startMs, r.endMs))),
        passGcMs, FileCount.newer(Seq(outDir, s"$work/tmp"), passStart))
      p += 1
    }

    // ---- traced run: per-layer metrics and the spans
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        opSpans.foreach(probe.span)
        Layers.compute(workloadName, cpus, probe, passes.toSeq, records.toSeq) ++
          workload.extraLayers(spark)
      }
    if (trace) Json.write(s"$work/trace.json", Json.arr(probe.allSpans().map(s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))))

    Files.createDirectories(Paths.get(outputsDir))
    Json.write(s"$outputsDir/oracles.json", Json.obj(oracles.toSeq: _*))
    Json.write(s"$work/result.json", Json.obj(
      "workload" -> workloadName,
      "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "peak_heap_mb" -> records.map(_.liveHeapBytes).max / 1048576.0,
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "warmup_s" -> warmUpS,
      "warmup_ops" -> Json.obj(warmUp.map(r => r.name -> r.seconds): _*),
      "passes" -> Json.arr(passes.map(ps => Json.obj(
        "index" -> ps.index, "traced" -> ps.traced,
        "wall_s" -> records.filter(_.pass == ps.index).map(_.seconds).sum,
        "cpu_s" -> records.filter(_.pass == ps.index).map(_.cpuSeconds).sum,
        "storage_bytes" -> ps.storageBytes, "gc_s" -> ps.gcMs / 1000.0))),
      "ops" -> Json.arr(records.map(r => Json.obj(
        "pass" -> r.pass, "name" -> r.name, "seconds" -> r.seconds,
        "ok" -> r.ok, "error" -> r.error, "rows" -> r.rows, "cpu_s" -> r.cpuSeconds,
        "live_heap_mb" -> r.liveHeapBytes / 1048576.0))),
      "per_layer" -> Json.obj(layers.toSeq.sortBy(_._1): _*)))
    spark.stop()
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time the process spent outside the JIT compiler's threads: the
    * driver, the task threads, Spark's own threads and the collector.
    * CPU time leaves out the time the threads waited for a core, so other
    * load on a shared host does not inflate it as it inflates wall time;
    * the compiler is left out because its background work, still busy
    * with new generated classes pass after pass, would add its own noise.
    * `run.py` keeps the compiler threads alive for the whole run
    * (-XX:-UseDynamicNumberOfCompilerThreads), so their CPU time only
    * grows. */
  private def engineCpuNs: Long = osBean.getProcessCpuTime - compilerCpuNs

  /** CPU time of the JIT compiler's threads: utime + stime from
    * /proc/self/task/<tid>/stat, in ticks of USER_HZ (100 on Linux). */
  private def compilerCpuNs: Long = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) 0L
    else tasks.iterator.map { t =>
      try {
        val comm = new String(Files.readAllBytes(Paths.get(t.getPath, "comm")), StandardCharsets.UTF_8)
        if (!comm.contains("CompilerThre")) 0L
        else {
          val stat = new String(Files.readAllBytes(Paths.get(t.getPath, "stat")), StandardCharsets.UTF_8)
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) * 10000000L
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum
  }

  /** One op on its own thread, under a timeout. A timeout cancels the
    * op's jobs, stops every active stream and fails the op by name; the
    * run goes on. Pinned dedup caches are released inside the window.
    *
    * With `measureHeap`, full collections run before the op starts and
    * when it returns, before its caches are released and while its
    * result is held, both left out of the op's time: the heap then in
    * use is what the op left live. The collection before the op lets
    * Spark's cleaner drop what earlier ops left behind while the op runs;
    * without it the first op's reading varied 94-254 MB across seeds.
    * Heap in use after the collections that happen on their own read
    * 140-240 MB on medallion passes whose live heap was ~90 MB: it is
    * mostly old-generation garbage awaiting G1's next mixed collection,
    * and it spread 0.23 across seeds. One pass measures; the others keep
    * the heap and the GC pressure ops see in real use. */
  private def runOp(spark: SparkSession, op: Op, pass: Int,
                    measureHeap: Boolean = false): (OpRec, Option[Output]) = {
    val task = new FutureTask[(Long, Long, Long, Long, Long, Option[Output])](() => {
      val startMs = System.currentTimeMillis()
      val c0 = engineCpuNs
      val t0 = System.nanoTime()
      var gcNs = 0L
      var gcCpuNs = 0L
      var live = -1L
      val out = try op.run(spark) finally {
        if (measureHeap) {
          val g0 = System.nanoTime()
          val gc0 = engineCpuNs
          System.gc()
          live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
          gcNs = System.nanoTime() - g0
          gcCpuNs = engineCpuNs - gc0
        }
        Dedup.releaseCaches()
      }
      val t1 = System.nanoTime()
      val c1 = engineCpuNs
      (startMs, t1 - t0 - gcNs, c1 - c0 - gcCpuNs,
        System.currentTimeMillis(), live, out)
    })
    val thread = new Thread(task, s"op-${op.name}")
    thread.setDaemon(true)
    if (measureHeap) System.gc()
    val wallStart = System.currentTimeMillis()
    thread.start()
    try {
      val (startMs, ns, cpuNs, endMs, live, out) =
        task.get((OpTimeoutS * 1000).toLong, TimeUnit.MILLISECONDS)
      (OpRec(pass, op.name, startMs, endMs, ns / 1e9, ok = true, "",
        out.map(_.rows.length.toLong).getOrElse(-1L), live, cpuNs / 1e9), out)
    } catch {
      case _: TimeoutException =>
        spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => })
        spark.sparkContext.cancelAllJobs()
        thread.interrupt()
        thread.join(10000)
        Dedup.releaseCaches()
        (OpRec(pass, op.name, wallStart, System.currentTimeMillis(), OpTimeoutS,
          ok = false, s"timeout after ${OpTimeoutS}s", -1), None)
      case e: java.util.concurrent.ExecutionException =>
        val cause = Option(e.getCause).getOrElse(e)
        (OpRec(pass, op.name, wallStart, System.currentTimeMillis(),
          (System.currentTimeMillis() - wallStart) / 1000.0, ok = false,
          s"${cause.getClass.getSimpleName}: ${String.valueOf(cause.getMessage).take(300)}",
          -1), None)
    }
  }

  /** The collected rows as one parquet file, the way `graft.Verify`
    * writes a result, so the checker reads them as it reads Verify's. */
  private def writeOutput(spark: SparkSession, dir: String, o: Output): Unit =
    spark.createDataFrame(o.rows.toSeq.asJava, o.schema).coalesce(1)
      .write.mode("overwrite").parquet(dir)

  /** `graft.Bench`'s session: local[cpus], shuffle partitions = cpus, UTC,
    * UI off; scratch and warehouse inside the run's work directory. */
  private def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object FileCount {
  /** Regular files under `roots` last modified at or after `sinceMs`: the
    * files a pass left behind (temporary files it deleted do not count). */
  def newer(roots: Seq[String], sinceMs: Long): Long = roots.map { r =>
    val root = Paths.get(r)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.count(p =>
        Files.isRegularFile(p) && Files.getLastModifiedTime(p).toMillis >= sinceMs).toLong
      finally s.close()
    }
  }.sum
}

/** A minimal JSON writer: enough for numbers, strings, booleans, nulls,
  * arrays and objects. */
object Json {
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) =>
    str(k) + ":" + value(v) }.mkString("{", ",", "}"))
  def arr(xs: Iterable[Any]): Raw = Raw(xs.map(value).mkString("[", ",", "]"))
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => arr(xs).s
    case other => str(other.toString)
  }
  def write(path: String, v: Raw): Unit =
    Files.write(Paths.get(path), v.s.getBytes(StandardCharsets.UTF_8))
}
