package graft.ops

import graft.SparkSpec
import org.apache.spark.ListenerBusBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The connected-components fixpoints ([[Dedup.simhashClusters]],
  * [[Dedup.clusters]]) against a driver-side union-find, on fixtures
  * whose label chains need several supersteps, plus their resource and
  * job-count footprint.
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

  // Path graphs for clusters(): 40 vertices with the min id at one end,
  // and 41 vertices whose ids follow a stride permutation; a 3-cycle.
  private val pathEdges: Seq[(Long, Long)] = {
    val p = (0 until 39).map(k => if (k % 2 == 0) (1000L + k, 1001L + k) else (1001L + k, 1000L + k))
    val q = (0 until 40).map(k => (2000L + (k * 37) % 41, 2000L + ((k + 1) * 37) % 41))
    p ++ q ++ Seq((5L, 6L), (6L, 7L), (7L, 5L))
  }
  private def pathPairs: DataFrame = pathEdges.toDF("id1", "id2")

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
    val ids = chainDocs.map(_._1)
    val edges = for {
      (i, fi) <- chainDocs; (j, fj) <- chainDocs
      if i < j && java.lang.Long.bitCount(fi ^ fj) <= 1
    } yield (i, j)
    val expected = unionFind(ids, edges)
    assert(expected(100L + 32) == 100L && expected(300L) == 50L)
    assert(collectLabels(Dedup.simhashClusters(chainFp, maxHammingDistance = 1)) == expected)
    // the fixture needs more than 3 supersteps: cut short, labels differ
    assert(collectLabels(Dedup.simhashClusters(chainFp, maxHammingDistance = 1,
      maxSupersteps = 3)) != expected)
    Dedup.releaseCaches()
  }

  test("clusters equals a driver-side union-find on path graphs") {
    val ids = pathEdges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val expected = unionFind(ids, pathEdges)
    assert(expected(1039L) == 1000L && expected(5L) == 5L)
    assert(collectLabels(Dedup.clusters(pathPairs)) == expected)
    assert(collectLabels(Dedup.clusters(pathPairs, maxSupersteps = 3)) != expected)
    Dedup.releaseCaches()
  }

  test("fixpoints leave no persisted RDD behind after releaseCaches") {
    Dedup.releaseCaches()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Dedup.simhashClusters(chainFp, maxHammingDistance = 1).collect()
    Dedup.clusters(pathPairs).collect()
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
  test("fixpoints run as many supersteps as the label-sum loop did") {
    def steps(body: => DataFrame): Int = supersteps { body.collect(); Dedup.releaseCaches() }
    val small = Seq((9L, 1L), (1L, 2L), (2L, 3L), (5L, 7L)).toDF("id1", "id2")
    assert(steps(Dedup.simhashClusters(chainFp, maxHammingDistance = 1, maxSupersteps = 20)) == 11)
    assert(steps(Dedup.simhashClusters(chainFp, maxHammingDistance = 1)) == 10)
    assert(steps(Dedup.simhashClusters(chainFp, maxHammingDistance = 3)) == 5)
    assert(steps(Dedup.clusters(pathPairs)) == 12)
    assert(steps(Dedup.clusters(small)) == 2)
  }

  test("an empty vertex set converges in one superstep and returns no rows") {
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
  }

  test("reliable checkpoints deliver every convergence certificate") {
    val ids = chainDocs.map(_._1)
    val simhashExpected = collectLabels(Dedup.simhashClusters(chainFp, maxHammingDistance = 1))
    val clustersExpected = collectLabels(Dedup.clusters(pathPairs))
    Dedup.releaseCaches()
    val sc = spark.sparkContext
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_fixpoint_ckpt")
    val hadDir = sc.getCheckpointDir
    sc.setCheckpointDir(ckptDir.toString)
    spark.conf.set(Lineage.ReliableConfKey, "true")
    // a certificate that never arrives would block its superstep for
    // good: run under a deadline so that fails by name instead
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val run = pool.submit(() => {
        val s = collectLabels(Dedup.simhashClusters(chainFp, maxHammingDistance = 1))
        val c = collectLabels(Dedup.clusters(pathPairs))
        Dedup.releaseCaches()
        (s, c)
      })
      val (s, c) = run.get(300, java.util.concurrent.TimeUnit.SECONDS)
      assert(s == simhashExpected && s.keySet == ids.toSet)
      assert(c == clustersExpected)
      val wrote = java.nio.file.Files.walk(ckptDir)
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "reliable mode must write to the checkpoint dir")
    } finally {
      pool.shutdownNow()
      spark.conf.unset(Lineage.ReliableConfKey)
      sc.setCheckpointDir(hadDir.orNull)
    }
  }

  test("concurrent fixpoint calls release only their own pins") {
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
  }

  // Upper bounds on the fixtures above (measured 84 and 96 jobs on a
  // local[4] session; 96 and 114 with a label-sum query per superstep).
  // A second evaluation of the probe inside a superstep (both sides of
  // the pointer-halving join recomputing it), an extra join or a separate
  // convergence query per superstep adds its jobs to every superstep and
  // breaks the bound, as does counting the reps for a 4-partition
  // session.
  private val SimhashJobs = 85
  private val ClustersJobs = 97
  // Shuffle bytes of simhashClusters on the chain fixture (measured
  // 42 088). The first superstep probes the chunk table at the seed
  // labels with no exchange; shuffling every rep's chunk projection into
  // it again, as the first frontier, wrote 44 912.
  private val SimhashShuffleBytes = 43000L

  test("simhashClusters job count stays within its bound") {
    val jobs = Footprint.of(spark) {
      Dedup.simhashClusters(chainFp, maxHammingDistance = 1).collect()
      Dedup.releaseCaches()
    }.jobs
    assert(jobs <= SimhashJobs, s"simhashClusters launched $jobs jobs > $SimhashJobs")
  }

  test("simhashClusters shuffle bytes stay within their bound") {
    val bytes = Footprint.of(spark) {
      Dedup.simhashClusters(chainFp, maxHammingDistance = 1).collect()
      Dedup.releaseCaches()
    }.shuffleBytes
    assert(bytes <= SimhashShuffleBytes,
      s"simhashClusters wrote $bytes shuffle bytes > $SimhashShuffleBytes")
  }

  test("clusters job count stays within its bound") {
    val jobs = Footprint.of(spark) {
      Dedup.clusters(pathPairs).collect()
      Dedup.releaseCaches()
    }.jobs
    assert(jobs <= ClustersJobs, s"clusters launched $jobs jobs > $ClustersJobs")
  }
}
