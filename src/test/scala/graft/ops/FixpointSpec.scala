package graft.ops

import graft.SparkSpec
import org.apache.spark.ListenerBusBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The connected-components fixpoints ([[Dedup.simhashClusters]],
  * [[Dedup.clusters]]) against a driver-side union-find, on fixtures
  * whose label chains need several supersteps, plus their resource and
  * job-count footprint. The fixtures fit under the default broadcast
  * threshold, so the ops solve them on the driver; the loop tests turn
  * broadcasting off ([[onLoop]]) to reach the superstep loop.
  */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  /** Component min id per vertex: union by smaller root, so every root is
    * the minimum of its set. */
  private def unionFind(ids: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      val p = parent(x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(i => i -> find(i)).toMap
  }

  private def collectLabels(df: DataFrame): Map[Long, Long] =
    df.select("id", "cluster_id").as[(Long, Long)].collect().toMap

  private val ThresholdKey = "spark.sql.autoBroadcastJoinThreshold"

  /** `body` with the broadcast threshold set to `bytes`, restored after. */
  private def withThreshold[T](bytes: Long)(body: => T): T = {
    val prev = spark.conf.getOption(ThresholdKey)
    spark.conf.set(ThresholdKey, bytes.toString)
    try body finally prev.fold(spark.conf.unset(ThresholdKey))(spark.conf.set(ThresholdKey, _))
  }

  /** `body` with broadcasting off: both ops run the superstep loop. */
  private def onLoop[T](body: => T): T = withThreshold(-1L)(body)

  // Two Hamming chains at radius 1: chain A sets bits [0, k) for k in
  // 0..32, so fingerprints k apart differ in exactly k bits; chain B sets
  // a marker byte (bits 32..39) plus bits [40, 40 + j), at least 8 bits
  // from every A. A's min id sits at one end, so its label crosses the
  // whole chain. Exact duplicates (ids 1005, 1017, 50) exercise the
  // fingerprint collapse; id 50 becomes B's minimum from the chain's
  // middle. Id 7 is a singleton.
  private val chainDocs: Seq[(Long, Long)] = {
    val a = (0 to 32).map(k => (100L + k, (1L << k) - 1))
    val b = (0 to 20).map(j => (300L - j, (0xFFL << 32) | (((1L << j) - 1) << 40)))
    val dups = Seq((1005L, a(5)._2), (1017L, a(17)._2), (50L, b(10)._2))
    a ++ b ++ dups :+ ((7L, 0x5555L << 48))
  }
  private def chainFp: DataFrame = chainDocs.toDF("id", "fp")

  /** Reference labels of the chain fixture at Hamming radius `r`. */
  private def chainExpected(r: Int): Map[Long, Long] =
    unionFind(chainDocs.map(_._1), for {
      (i, fi) <- chainDocs; (j, fj) <- chainDocs
      if i < j && java.lang.Long.bitCount(fi ^ fj) <= r
    } yield (i, j))

  // Path graphs for clusters(): 40 vertices with the min id at one end,
  // and 41 vertices whose ids follow a stride permutation; a 3-cycle.
  private val pathEdges: Seq[(Long, Long)] = {
    val p = (0 until 39).map(k => if (k % 2 == 0) (1000L + k, 1001L + k) else (1001L + k, 1000L + k))
    val q = (0 until 40).map(k => (2000L + (k * 37) % 41, 2000L + ((k + 1) * 37) % 41))
    p ++ q ++ Seq((5L, 6L), (6L, 7L), (7L, 5L))
  }
  private def pathPairs: DataFrame = pathEdges.toDF("id1", "id2")
  private val smallEdges = Seq((9L, 1L), (1L, 2L), (2L, 3L), (5L, 7L))

  private def pathExpected: Map[Long, Long] =
    unionFind(pathEdges.flatMap { case (a, b) => Seq(a, b) }.distinct, pathEdges)

  test("loop partitions: the session cap wins over the floor of 8") {
    assert(Dedup.loopPartitions(4, 1000L) == 4)
    assert(Dedup.loopPartitions(32, 1000L) == 8)
    assert(Dedup.loopPartitions(32, 10L * 65536) == 18)
    assert(Dedup.loopPartitions(32, 1L << 40) == 32)
    // at most 8 session partitions is the answer for every vertex count,
    // so the count (an action in simhashClusters) is not evaluated
    var counted = 0
    def n(v: Long): Long = { counted += 1; v }
    assert(Dedup.loopPartitions(4, n(1L << 40)) == 4)
    assert(Dedup.loopPartitions(8, n(1L << 40)) == 8)
    assert(counted == 0)
    assert(Dedup.loopPartitions(9, n(1000L)) == 8)
    assert(counted == 1)
  }

  test("simhashClusters equals a driver-side union-find on a long Hamming chain") {
    val expected = chainExpected(1)
    assert(expected(100L + 32) == 100L && expected(300L) == 50L)
    onLoop {
      assert(collectLabels(Dedup.simhashClusters(chainFp, maxHammingDistance = 1)) == expected)
      // the fixture needs more than 3 supersteps: cut short, the loop fails
      val e = intercept[IllegalStateException](Dedup.simhashClusters(chainFp,
        maxHammingDistance = 1, maxSupersteps = 3))
      assert(e.getMessage.startsWith("simhashClusters did not converge in 3 supersteps"))
    }
    Dedup.releaseCaches()
  }

  test("clusters equals a driver-side union-find on path graphs") {
    val expected = pathExpected
    assert(expected(1039L) == 1000L && expected(5L) == 5L)
    onLoop {
      assert(collectLabels(Dedup.clusters(pathPairs)) == expected)
      val e = intercept[IllegalStateException](Dedup.clusters(pathPairs, maxSupersteps = 3))
      assert(e.getMessage.startsWith("clusters did not converge in 3 supersteps"))
    }
    Dedup.releaseCaches()
  }

  test("fixpoints leave no persisted RDD behind after releaseCaches") {
    Dedup.releaseCaches()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Dedup.simhashClusters(chainFp, maxHammingDistance = 1).collect()
    Dedup.clusters(pathPairs).collect()
    onLoop {
      Dedup.simhashClusters(chainFp, maxHammingDistance = 1).collect()
      Dedup.clusters(pathPairs).collect()
      intercept[IllegalStateException](Dedup.simhashClusters(chainFp, maxHammingDistance = 1,
        maxSupersteps = 3))
      intercept[IllegalStateException](Dedup.clusters(pathPairs, maxSupersteps = 3))
    }
    Dedup.releaseCaches()
    val leaked = sc.getPersistentRDDs.keys.filterNot(before.contains).toSeq.sorted
    assert(leaked.isEmpty, "persisted RDDs left behind: " +
      leaked.map(id => sc.getPersistentRDDs(id).toDebugString.take(300)))
  }

  /** Supersteps run by the fixpoints in `body`: each superstep's cut
    * carries exactly one observed convergence certificate. */
  private def supersteps(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.observedMetrics.nonEmpty) n.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusBridge.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try { body; ListenerBusBridge.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    n.get
  }

  // Superstep counts of the fixtures as measured with the label-sum
  // certificate the observed count replaced (labels only decrease, so
  // "no label dropped" and "label sum unchanged" stop at the same step).
  // Cut to 10 supersteps, the chain's labels have settled but are not
  // yet certified (the 11th superstep certifies them), so that call
  // runs its 10 supersteps and then fails.
  test("fixpoints run as many supersteps as the label-sum loop did") { onLoop {
    def steps(body: => DataFrame): Int = supersteps { body.collect(); Dedup.releaseCaches() }
    val small = smallEdges.toDF("id1", "id2")
    assert(steps(Dedup.simhashClusters(chainFp, maxHammingDistance = 1)) == 11)
    assert(supersteps {
      intercept[IllegalStateException](Dedup.simhashClusters(chainFp, maxHammingDistance = 1,
        maxSupersteps = 10))
      Dedup.releaseCaches()
    } == 10)
    assert(steps(Dedup.simhashClusters(chainFp, maxHammingDistance = 3)) == 5)
    assert(steps(Dedup.clusters(pathPairs)) == 12)
    assert(steps(Dedup.clusters(small)) == 2)
  }}

  test("an empty vertex set converges in one superstep and returns no rows") { onLoop {
    var rows = -1
    assert(supersteps {
      rows = Dedup.simhashClusters(chainFp.limit(0), maxHammingDistance = 1).collect().length
      Dedup.releaseCaches()
    } == 1)
    assert(rows == 0)
    assert(supersteps {
      rows = Dedup.clusters(pathPairs.limit(0)).collect().length
      Dedup.releaseCaches()
    } == 1)
    assert(rows == 0)
  }}

  // Both paths under reliable checkpoints: the loop's certificates and
  // the row counts both ops observe on their cuts to choose a path.
  test("reliable checkpoints deliver every convergence certificate") {
    val ids = chainDocs.map(_._1)
    def both(): (Map[Long, Long], Map[Long, Long]) = {
      val r = (collectLabels(Dedup.simhashClusters(chainFp, maxHammingDistance = 1)),
        collectLabels(Dedup.clusters(pathPairs)))
      Dedup.releaseCaches()
      r
    }
    val expected = onLoop(both())
    assert(both() == expected)
    val sc = spark.sparkContext
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_fixpoint_ckpt")
    val hadDir = sc.getCheckpointDir
    sc.setCheckpointDir(ckptDir.toString)
    spark.conf.set(Lineage.ReliableConfKey, "true")
    // a certificate or a row count that never arrives would block its
    // call for good: run under a deadline so that fails by name instead
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val run = pool.submit(() => {
        val loop = onLoop(both())
        var driver = (Map.empty[Long, Long], Map.empty[Long, Long])
        val observed = supersteps { driver = both() }
        (loop, driver, observed)
      })
      val (loop, driver, observed) = run.get(300, java.util.concurrent.TimeUnit.SECONDS)
      assert(loop == expected && loop._1.keySet == ids.toSet)
      assert(driver == expected)
      // at the default threshold both fixtures take the driver-side solve:
      // the two observed executions are the row counts on the cuts of the
      // simhash reps and the `clusters` edges, no superstep
      assert(observed == 2)
      val wrote = java.nio.file.Files.walk(ckptDir)
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "reliable mode must write to the checkpoint dir")
    } finally {
      pool.shutdownNow()
      spark.conf.unset(Lineage.ReliableConfKey)
      sc.setCheckpointDir(hadDir.orNull)
    }
  }

  test("concurrent fixpoint calls release only their own pins") { onLoop {
    Dedup.releaseCaches()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val simhashExpected = collectLabels(Dedup.simhashClusters(chainFp, maxHammingDistance = 1))
    val clustersExpected = collectLabels(Dedup.clusters(pathPairs))
    Dedup.releaseCaches()
    // the clusters call releases its pins while the simhash call's lazy
    // result, backed by its pinned final state, is still unread
    val built = new java.util.concurrent.CyclicBarrier(2)
    val released = new java.util.concurrent.CyclicBarrier(2)
    var simhashGot, clustersGot = Map.empty[Long, Long]
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def thread(body: => Unit) = new Thread(() =>
      try body catch { case t: Throwable => errors.add(t); built.reset(); released.reset() })
    val threads = Seq(
      thread {
        val result = Dedup.simhashClusters(chainFp, maxHammingDistance = 1)
        built.await()
        released.await()
        simhashGot = collectLabels(result)
        Dedup.releaseCaches()
      },
      thread {
        val result = Dedup.clusters(pathPairs)
        clustersGot = collectLabels(result)
        built.await()
        Dedup.releaseCaches()
        released.await()
      })
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, errors.toArray.map(_.toString).mkString("\n"))
    assert(simhashGot == simhashExpected)
    assert(clustersGot == clustersExpected)
    assert(Dedup.pinnedCacheCount == 0)
    val leaked = sc.getPersistentRDDs.keys.filterNot(before.contains)
    assert(leaked.isEmpty, s"persisted RDDs left behind: $leaked")
  }}

  // Upper bounds on the loop over the fixtures above, with broadcasting
  // off (measured 74 and 86 jobs on a local[4] session). A second
  // evaluation of the probe inside a superstep (both sides of the
  // pointer-halving join recomputing it), an extra join or a separate
  // convergence query per superstep adds its jobs to every superstep
  // (an eager post-probe cut: 85 and 98 jobs, the second over its bound),
  // as does counting the reps for a 4-partition session.
  private val SimhashJobs = 85
  private val ClustersJobs = 97
  // Shuffle bytes of simhashClusters on the chain fixture at the default
  // threshold, where it is solved on the driver (measured 1 545). The
  // bound was set on the loop with broadcast joins on (42 088 bytes for
  // 10 supersteps); with broadcasting off the loop writes more than it
  // (46 071 bytes for those 10 supersteps), so the loop's bytes have a
  // bound of their own below.
  private val SimhashShuffleBytes = 43000L
  // Shuffle bytes of the loop on the chain fixture with broadcasting off:
  // 11 supersteps and the fan-out join (measured 47 448). The first
  // superstep probes the chunk table at the seed labels with no exchange;
  // shuffling every rep's chunk projection into it again, as the first
  // frontier, wrote 49 679.
  private val SimhashLoopShuffleBytes = 48000L

  test("simhashClusters job count stays within its bound") { onLoop {
    val jobs = Footprint.of(spark) {
      Dedup.simhashClusters(chainFp, maxHammingDistance = 1).collect()
      Dedup.releaseCaches()
    }.jobs
    assert(jobs <= SimhashJobs, s"simhashClusters launched $jobs jobs > $SimhashJobs")
  }}

  private def simhashShuffleBytes: Long = Footprint.of(spark) {
    Dedup.simhashClusters(chainFp, maxHammingDistance = 1).collect()
    Dedup.releaseCaches()
  }.shuffleBytes

  test("simhashClusters shuffle bytes stay within their bound") {
    val bytes = simhashShuffleBytes
    assert(bytes <= SimhashShuffleBytes,
      s"simhashClusters wrote $bytes shuffle bytes > $SimhashShuffleBytes")
  }

  test("simhashClusters loop shuffle bytes stay within their bound") { onLoop {
    val bytes = simhashShuffleBytes
    assert(bytes <= SimhashLoopShuffleBytes,
      s"simhashClusters wrote $bytes shuffle bytes on the loop > $SimhashLoopShuffleBytes")
  }}

  test("clusters job count stays within its bound") { onLoop {
    val jobs = Footprint.of(spark) {
      Dedup.clusters(pathPairs).collect()
      Dedup.releaseCaches()
    }.jobs
    assert(jobs <= ClustersJobs, s"clusters launched $jobs jobs > $ClustersJobs")
  }}

  // ---------------------------------------------- graphs under the bound

  test("the driver-side solve equals the reference union-find on every fixture") {
    for (r <- Seq(1, 3))
      assert(collectLabels(Dedup.simhashClusters(chainFp, maxHammingDistance = r)) ==
        chainExpected(r), s"radius $r")
    assert(collectLabels(Dedup.clusters(pathPairs)) == pathExpected)
    val small = unionFind(smallEdges.flatMap { case (a, b) => Seq(a, b) }.distinct, smallEdges)
    assert(collectLabels(Dedup.clusters(smallEdges.toDF("id1", "id2"))) == small)
    assert(Dedup.simhashClusters(chainFp.limit(0), maxHammingDistance = 1).collect().isEmpty)
    assert(Dedup.clusters(pathPairs.limit(0)).collect().isEmpty)
    Dedup.releaseCaches()
  }

  test("NULL fingerprints and ids come out as the loop returns them") {
    val withNull = (chainDocs.map { case (i, f) => (i, Option(f)) } :+ ((999L, None)))
      .toDF("id", "fp")
    val expected = chainExpected(1)
    assert(collectLabels(Dedup.simhashClusters(withNull, maxHammingDistance = 1)) == expected)
    assert(onLoop(collectLabels(Dedup.simhashClusters(withNull, maxHammingDistance = 1))) == expected)
    // a NULL id is on no edge: a vertex of its own with a NULL label
    val nullPairs = Seq((Some(3L), Some(1L)), (Some(1L), Some(2L)), (Some(4L), None))
      .toDF("id1", "id2")
    val rows = Dedup.clusters(nullPairs).collect().toSet
    assert(rows == onLoop(Dedup.clusters(nullPairs).collect().toSet))
    assert(rows.map(r => (Option(r.get(0)), Option(r.get(1)))) == Set(
      (Some(1L), Some(1L)), (Some(2L), Some(1L)), (Some(3L), Some(1L)),
      (Some(4L), Some(4L)), (None, None)))
    Dedup.releaseCaches()
  }

  test("both sides of the bound return the same schema for int and long ids") {
    val intChain = chainDocs.map { case (i, f) => (i.toInt, f) }.toDF("id", "fp")
    val intPath = pathEdges.map { case (a, b) => (a.toInt, b.toInt) }.toDF("id1", "id2")
    for ((fp, pairs) <- Seq((chainFp, pathPairs), (intChain, intPath))) {
      val simhash = Dedup.simhashClusters(fp, maxHammingDistance = 1).schema
      val clusters = Dedup.clusters(pairs).schema
      onLoop {
        assert(simhash == Dedup.simhashClusters(fp, maxHammingDistance = 1).schema)
        assert(clusters == Dedup.clusters(pairs).schema)
      }
    }
    Dedup.releaseCaches()
  }

  // Jobs of the driver-side solve on the fixtures (measured 6 and 3 on a
  // local[4] session, against 84 and 96 for the loop at the default
  // threshold). A graph of n rows is solved on the driver while 24 n
  // bytes fit under the threshold.
  private val SimhashLocalJobs = 6
  private val ClustersLocalJobs = 3

  test("a threshold of exactly 24 bytes a row takes the driver-side solve") {
    def jobs(threshold: Long)(body: => DataFrame): Int = withThreshold(threshold) {
      Footprint.of(spark) { body.collect(); Dedup.releaseCaches() }.jobs
    }
    val reps = chainDocs.map(_._2).distinct.size.toLong
    def simhash = Dedup.simhashClusters(chainFp, maxHammingDistance = 1)
    assert(jobs(24 * reps)(simhash) <= SimhashLocalJobs)
    assert(jobs(24 * reps - 1)(simhash) > SimhashLocalJobs)
    val edges = 2L * pathEdges.size
    assert(jobs(24 * edges)(Dedup.clusters(pathPairs)) <= ClustersLocalJobs)
    assert(jobs(24 * edges - 1)(Dedup.clusters(pathPairs)) > ClustersLocalJobs)
  }

  test("the driver-side solve stays within its job bound") {
    def jobs(body: => DataFrame): Int =
      Footprint.of(spark) { body.collect(); Dedup.releaseCaches() }.jobs
    for (r <- Seq(1, 3)) {
      val n = jobs(Dedup.simhashClusters(chainFp, maxHammingDistance = r))
      assert(n <= SimhashLocalJobs, s"simhashClusters (radius $r) launched $n jobs > $SimhashLocalJobs")
    }
    for (pairs <- Seq(pathPairs, smallEdges.toDF("id1", "id2"))) {
      val n = jobs(Dedup.clusters(pairs))
      assert(n <= ClustersLocalJobs, s"clusters launched $n jobs > $ClustersLocalJobs")
    }
  }
}
