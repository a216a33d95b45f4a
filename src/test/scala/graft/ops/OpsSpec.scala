package graft.ops

import graft.SparkSpec
import graft.functions.VectorExpressions
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- dedup

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "THE  QUICK   brown fox jumps over the lazy dog"), // ws/case variant
    (3L, "the quick brown fox jumps over the lazy cat"),    // near-dup
    (4L, "completely different content about spark engines")
  ).toDF("doc_id", "text")

  test("byFingerprint marks whitespace/case variants as duplicates") {
    val out = Dedup.byFingerprint(docs).orderBy("doc_id")
      .select("doc_id", "keeper_id", "is_duplicate")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq((1L, 1L, false), (2L, 1L, true),
      (3L, 3L, false), (4L, 4L, false)))
  }

  test("exactGroups keeps deterministic min-id keeper") {
    val df = Seq((10L, "a"), (7L, "a"), (3L, "b")).toDF("id", "k")
    val out = Dedup.exactGroups(df, col("k"), col("id"))
      .orderBy("dedup_key").collect()
    assert(out(0).getLong(1) == 7L && out(0).getLong(2) == 2L)
    assert(out(1).getLong(1) == 3L && out(1).getLong(2) == 1L)
  }

  test("charShingles guards short docs (sequence() descends when a>b)") {
    val df = Seq("ab", "abcdef").toDF("text")
    val out = df.select(size(Dedup.charShingles(col("text"), 5)).as("n"))
      .as[Int].collect().toSeq
    assert(out == Seq(0, 2)) // "abcde","bcdef"
  }

  test("CharShingleMinHash rolling hash agrees with per-window recomputation") {
    // Exact property: the full-text signature equals the element-wise min
    // over every single-window signature (each computed WITHOUT rolling,
    // since a lone window never rolls) — verifying the O(1)-per-step
    // arithmetic against from-scratch hashing.
    import graft.functions.CharShingleMinHash.compute
    // whitespace-free so window substrings aren't re-trimmed by compute's
    // own normalization
    val text = "TheQuickBrownFoxJumpsOverTheLazyDog"
    val n = 5; val k = 16
    val norm = text.toLowerCase
    val rolled = compute(text, n, k)
    val direct = (0 to norm.length - n)
      .map(s => compute(norm.substring(s, s + n), n, k))
      .reduce((x, y) => x.zip(y).map { case (a, b) => math.min(a, b) })
    assert(rolled.toSeq == direct.toSeq)
  }

  test("minhash near-dup finds the near pair, not the unrelated doc") {
    val pairs = Dedup.minhashNearDuplicates(docs, "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("clusters: min-label fixpoint matches transitive connectivity") {
    // components: {1,2,3,9} via chain 9-1, 1-2, 2-3; {5,7}; {8} absent (no pair)
    val pairs = Seq((9L, 1L), (1L, 2L), (2L, 3L), (5L, 7L))
      .toDF("id1", "id2")
    val got = Dedup.clusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 7L -> 5L))
    Dedup.releaseCaches()
  }

  test("dedup caches are pinned per call and released by releaseCaches") {
    Dedup.releaseCaches() // start clean regardless of earlier tests
    assert(Dedup.pinnedCacheCount == 0)
    Dedup.minhashNearDuplicates(docs, "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.5).collect()
    Dedup.simhashNearDuplicates(docs, "text", "doc_id", 3).collect()
    // banded + candidate pairs + candDocs + fpMat + keyed
    assert(Dedup.pinnedCacheCount == 5)
    assert(Dedup.releaseCaches() == 5)
    assert(Dedup.pinnedCacheCount == 0)
    // released intermediates recompute: the operator still works
    val again = Dedup.simhashNearDuplicates(docs, "text", "doc_id", 3).collect()
    assert(again.nonEmpty || again.isEmpty) // executable, no cache error
    Dedup.releaseCaches()
  }

  test("concurrent releaseCaches leave no pinned frame cached") {
    // Each thread pins a chain of frames, each built on the one before and
    // none stored yet, puts them on a shared queue and releases whatever
    // it takes from that queue, so the threads release each other's
    // frames: uncaching a frame while another thread releases a frame
    // built on it must not leave the latter cached.
    Dedup.releaseCaches()
    val pinned = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.DataFrame]()
    val shared = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.DataFrame]()
    val base = spark.range(0, 1000).toDF("id")
    val threads = (1 to 4).map { t =>
      new Thread(() => (1 to 25).foreach { i =>
        val a = Dedup.pin(base.filter(col("id") % (100 * t + i) === 0))
        val b = Dedup.pin(a.select((col("id") * 2).as("x")))
        val c = Dedup.pin(b.filter(col("x") > 2))
        Seq(a, b, c).foreach { df => pinned.add(df); shared.add(df) }
        var df = shared.poll()
        while (df != null) { Lineage.release(df); df = shared.poll() }
        Dedup.releaseCaches()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val stillCached = pinned.toArray(Array.empty[org.apache.spark.sql.DataFrame])
      .count(_.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    assert(stillCached == 0)
  }

  test("releaseCaches drops only the calling thread's pins") {
    Dedup.releaseCaches()
    val childPinned = new java.util.concurrent.CountDownLatch(1)
    val parentReleased = new java.util.concurrent.CountDownLatch(1)
    var parentDropped, childSaw, childDropped = -1
    var cachedAfterParent = false
    // a parent thread that has never pinned starts a child that pins
    val parent = new Thread(() => {
      val child = new Thread(() => {
        val df = Dedup.pin(spark.range(0, 10).toDF("id"))
        childPinned.countDown()
        parentReleased.await()
        cachedAfterParent = df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
        childSaw = Dedup.pinnedCacheCount
        childDropped = Dedup.releaseCaches()
      })
      child.start()
      childPinned.await()
      parentDropped = Dedup.releaseCaches()
      parentReleased.countDown()
      child.join()
    })
    parent.start()
    parent.join()
    assert(parentDropped == 0)
    assert(cachedAfterParent)
    assert(childSaw == 1 && childDropped == 1)
  }

  test("simhash near-dup: identical-token docs at distance 0") {
    val out = Dedup.simhashNearDuplicates(docs, "text", "doc_id",
      maxHammingDistance = 10)
      .select("id1", "id2", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(out.exists(t => t._1 == 1L && t._2 == 2L && t._3 == 0))
  }

  test("blocked Jaccard: exact similarity within blocks") {
    val blocked = Seq(
      (1L, "a b c d", "en"), (2L, "a b c e", "en"), (3L, "a b c d", "fr"))
      .toDF("doc_id", "text", "lang")
    val out = Dedup.blockedJaccardPairs(blocked, "text", "doc_id",
      Seq("lang"), threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 2L, 0.6))) // |{a,b,c}|/|{a,b,c,d,e}| = 3/5
  }

  test("embeddingNearDuplicates finds planted near-identical vectors") {
    val base = Array.tabulate(16)(i => math.sin(i * 3.1).toFloat)
    val nearCopy = base.clone(); nearCopy(0) = base(0) + 1e-4f
    // hash-ish generator, NOT sin(i*k): sine is periodic, so vectors at
    // i and i+17 would themselves be near-identical (289 ≈ 46·2π)
    val vecs = (Seq((1L, base), (2L, nearCopy)) ++
      (3L to 30L).map(i => (i, Array.tabulate(16)(d =>
        (((i * 2654435761L + d * 40503L) % 1000L) / 500.0f) - 1.0f))))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDuplicates(vecs, "embedding", "vec_id",
      planes = 6, threshold = 0.999)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("NormalizeUnicode: composed == normalized decomposed; ASCII fast path") {
    import graft.functions.NormalizeUnicode.normalize_unicode
    val composed = "caf\u00e9"            // é U+00E9
    val decomposed = "cafe\u0301"         // e + combining acute
    val df = Seq((composed, decomposed, "plain ascii")).toDF("a", "b", "c")
    val row = df.select(
      (normalize_unicode(col("a"), "NFC") === normalize_unicode(col("b"), "NFC")).as("eq"),
      (col("a") === col("b")).as("raw_eq"),
      normalize_unicode(col("c"), "NFC").as("ascii")).head()
    assert(row.getBoolean(0))      // NFC unifies the two forms
    assert(!row.getBoolean(1))     // raw strings differ
    assert(row.getString(2) == "plain ascii")
    // NFKC folds compatibility chars (ﬁ ligature → fi)
    val k = Seq("\ufb01le").toDF("s")
      .select(normalize_unicode(col("s"), "NFKC")).as[String].head()
    assert(k == "file")
  }

  // ------------------------------------------------------------ simsearch

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(-1.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosine_similarity expression: exact values, null safety") {
    val out = vecs.as("a").crossJoin(vecs.as("b"))
      .filter(col("a.vec_id") === 0 && col("b.vec_id").isin(0, 2, 3))
      .orderBy(col("b.vec_id"))
      .select(VectorExpressions.cosine_similarity(
        col("a.embedding"), col("b.embedding")).as("c"))
      .as[Double].collect().toSeq
    assert(out(0) === 1.0)
    assert(math.abs(out(1)) < 1e-12)
    assert(out(2) === -1.0)
    // length mismatch → NULL
    val bad = Seq((Array(1f, 2f), Array(1f))).toDF("a", "b")
      .select(VectorExpressions.cosine_similarity(col("a"), col("b")))
      .collect()(0)
    assert(bad.isNullAt(0))
  }

  test("bruteForceTopK ranks by cosine with id tiebreak") {
    val out = SimSearch.bruteForceTopK(
      vecs.filter(col("vec_id") > 0), vecs.filter(col("vec_id") === 0), k = 2)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toSeq
    assert(out == Seq((1, 1L), (2, 2L)))
  }

  test("lshTopK returns a subset consistent with brute force on its bucket") {
    val out = SimSearch.lshTopK(
      vecs.filter(col("vec_id") > 0), vecs.filter(col("vec_id") === 0),
      k = 2, planes = 2)
    // bucketing may prune, but whatever it returns must be correctly ranked
    val rows = out.select("rank", "score").as[(Int, Double)].collect().toSeq
    assert(rows.sortBy(_._1) == rows)
    assert(rows.map(_._2).reverse.sorted.reverse == rows.map(_._2))
  }

  test("dot_product and l2 norm") {
    val d = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f))).toDF("a", "b")
      .select(VectorExpressions.dot_product(col("a"), col("b")).as("d"))
      .as[Double].head()
    assert(d === 32.0)
  }

  // ------------------------------------------------------------ textstats

  test("token/subword/punct/stopword counts") {
    val df = Seq("The cat, and the dog!  ").toDF("text")
    val out = df.select(
      TextStats.tokenCount(col("text")).as("t"),
      TextStats.punctCount(col("text")).as("p"),
      TextStats.stopwordCount(col("text"), TextStats.defaultStopwords).as("s"))
      .as[(Int, Int, Int)].head()
    assert(out == ((5, 2, 3))) // the, and, the (case-insensitive)
  }

  test("quality score bounded in [0,1] and favors longer clean text") {
    val df = Seq("short", ("word " * 60).trim).toDF("text")
    val out = df.select(TextStats.qualityScore(col("text"))).as[Double].collect()
    assert(out.forall(v => v >= 0.0 && v <= 1.0))
    assert(out(1) > out(0))
  }

  test("languageId picks the profile with most marker hits") {
    val df = Seq(
      "the cat and the dog is happy during the meeting",
      "el perro y la casa de que la niña canción").toDF("text")
    val out = df.select(TextStats.languageId(col("text"))).as[String].collect()
    assert(out(0) == "en")
    assert(out(1) == "es")
  }

  test("fingerprint is whitespace/case-insensitive") {
    val df = Seq(("a  B c", "A b C")).toDF("x", "y")
    val same = df.select((TextStats.fingerprint(col("x")) ===
      TextStats.fingerprint(col("y"))).as("eq")).as[Boolean].head()
    assert(same)
  }

  // ----------------------------------------------------------- multimodal

  test("multimodal: schema plumbing + deterministic stub features") {
    val media = Multimodal.asMediaTable(
      Seq((1L, "hello world"), (2L, "")).toDF("id", "payload"),
      "id", "payload", "text")
    val meta = Multimodal.payloadMetadata(media).orderBy("media_id").collect()
    assert(meta(0).getInt(2) == 11 && meta(1).getInt(2) == 0)

    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(feats.length == 2)
    assert(feats(0).feature.length == 8)
    assert(feats(0).width >= 1 && feats(0).width <= 64)
    // deterministic: same payload → same features
    val again = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(feats(0).feature.toSeq == again(0).feature.toSeq)
  }
}
