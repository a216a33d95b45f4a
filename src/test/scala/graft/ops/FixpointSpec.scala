package graft.ops

import graft.SparkSpec
import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

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

  /** Jobs launched while `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusBridge.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusBridge.drain(sc) }
    finally sc.removeSparkListener(listener)
    n.get()
  }

  // Upper bounds on the fixtures above (6 supersteps each; measured 98
  // and 114 jobs on a local[4] session). A second evaluation of the probe
  // inside a superstep (both sides of the pointer-halving join
  // recomputing it: 177 jobs for simhashClusters) or an extra join per
  // superstep adds its stages' jobs to every superstep and breaks the
  // bound.
  private val SimhashJobs = 100
  private val ClustersJobs = 115

  test("simhashClusters job count stays within its bound") {
    val jobs = jobsOf {
      Dedup.simhashClusters(chainFp, maxHammingDistance = 1).collect()
      Dedup.releaseCaches()
    }
    assert(jobs <= SimhashJobs, s"simhashClusters launched $jobs jobs > $SimhashJobs")
  }

  test("clusters job count stays within its bound") {
    val jobs = jobsOf {
      Dedup.clusters(pathPairs).collect()
      Dedup.releaseCaches()
    }
    assert(jobs <= ClustersJobs, s"clusters launched $jobs jobs > $ClustersJobs")
  }
}
