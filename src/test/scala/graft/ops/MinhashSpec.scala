package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The MinHash/LSH operators ([[Dedup.minhashNearDuplicates]],
  * [[Dedup.incrementalMinhashPairs]]) on a corpus with near-duplicate
  * clusters: their rows against the single-statement formulation the
  * shared verify stage replaced, every pair's Jaccard against a
  * driver-side recomputation, and their job and shuffle footprint.
  */
class MinhashSpec extends SparkSpec {
  import spark.implicits._

  private val ShingleSize = 3
  private val Threshold = 0.7

  // 120 unrelated 50-word documents over a 3 000-word vocabulary; base
  // documents 0-9 each get three variants with 1, 2 and 5 words replaced
  // (word 3-shingle Jaccard ~0.88, ~0.78 and below the threshold), base 10
  // an exact copy. Ids are spread so that a document taken as fresh by
  // the incremental split (id % 5 == 0) has partners on both sides of it.
  // A two-word and an empty document have no shingle (NULL signature).
  private val fixture: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(20260418L)
    val vocab = Vector.fill(3000)(
      Iterator.fill(5 + rnd.nextInt(5))(('a' + rnd.nextInt(26)).toChar).mkString)
    def words(): Vector[String] = Vector.fill(50)(vocab(rnd.nextInt(vocab.size)))
    val base = (0 until 120).map(i => (1000L + 7L * i, words()))
    val variants = (0 until 10).flatMap(i => Seq(1, 2, 5).map(k => (i, k))).zipWithIndex
      .map { case ((i, k), j) =>
        val w = base(i)._2
        val pos = rnd.shuffle((0 until w.size).toList).take(k)
        (3001L + 13L * j, pos.foldLeft(w)((acc, p) => acc.updated(p, vocab(rnd.nextInt(vocab.size)))))
      }
    val copy = (2995L, base(10)._2)
    ((base ++ variants :+ copy).map { case (id, w) => (id, w.mkString(" ")) }) ++
      Seq((4001L, "two words"), (4002L, ""))
  }
  // read from parquet, as the operators' callers do: the planner then
  // sizes the corpus from its files, not from an in-memory relation
  private lazy val docsPath: String = {
    val dir = java.nio.file.Files.createTempDirectory("minhash-spec").resolve("docs").toString
    fixture.toDF("doc_id", "text").coalesce(1).write.parquet(dir)
    dir
  }
  private def docs: DataFrame = spark.read.parquet(docsPath)
  private def isFresh(id: Long): Boolean = id % 5 == 0
  private def fresh: DataFrame = docs.filter(col("doc_id") % 5 === 0)
  private def index: DataFrame = docs.filter(col("doc_id") % 5 =!= 0)

  // ------------------------------------------------ reference formulation

  // The formulation before the shared verify stage: the candidate frame
  // read three times in one statement (both halves of the id union and
  // the final join). Same signatures, bands and shingles, so its rows are
  // what the operators must return.
  private def bandedRef(df: DataFrame, sig: Column, r: Int): DataFrame = df
    .select(col("doc_id").as("id"), sig.as("sig"))
    .filter(col("sig").isNotNull)
    .select(col("id"), posexplode(Dedup.bandHashes(col("sig"), 16, r)).as(Seq("band", "bh")))

  private def verifyRef(cand: DataFrame, corpus: DataFrame, shingles: Column): DataFrame = {
    val candIds = cand.select(col("id1").as("id"))
      .union(cand.select(col("id2").as("id"))).distinct()
    val candDocs = corpus.select(col("doc_id").as("id"), col("text"))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"), array_distinct(shingles).as("sh"))
    cand
      .join(candDocs.select(col("id").as("id1"), col("sh").as("sh1")), "id1")
      .join(candDocs.select(col("id").as("id2"), col("sh").as("sh2")), "id2")
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))).cast("double"))
      .filter(col("jaccard") >= Threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  private def minhashRef(corpus: DataFrame, word: Boolean): DataFrame = {
    val sig =
      if (word) graft.functions.WordShingleMinHash.word_shingle_minhash(col("text"), ShingleSize, 64)
      else graft.functions.CharShingleMinHash.char_shingle_minhash(col("text"), ShingleSize, 64)
    val banded = bandedRef(corpus, sig, 4)
    val cand = banded.as("l")
      .join(banded.as("r"), col("l.band") === col("r.band") && col("l.bh") === col("r.bh")
        && col("l.id") < col("r.id"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"))
      .distinct()
    verifyRef(cand, corpus,
      if (word) Dedup.wordShingles(col("text"), ShingleSize)
      else Dedup.charShingles(col("text"), ShingleSize))
  }

  private def incrementalRef(index: DataFrame, fresh: DataFrame): DataFrame = {
    val sig = graft.functions.WordShingleMinHash.word_shingle_minhash(col("text"), ShingleSize, 64)
    val all = bandedRef(index.unionByName(fresh), sig, 4)
    val cand = bandedRef(fresh, sig, 4).as("l")
      .join(all.as("r"), col("l.band") === col("r.band") && col("l.bh") === col("r.bh")
        && col("l.id") =!= col("r.id"))
      .select(least(col("l.id"), col("r.id")).as("id1"),
        greatest(col("l.id"), col("r.id")).as("id2"))
      .distinct()
    verifyRef(cand, index.unionByName(fresh), Dedup.wordShingles(col("text"), ShingleSize))
  }

  // ------------------------------------------------ driver-side Jaccard

  private val text: Map[Long, String] = fixture.toMap

  private def wordSet(t: String): Set[String] = {
    val toks = t.split("\\s+").filter(_.nonEmpty)
    toks.sliding(ShingleSize).filter(_.length == ShingleSize).map(_.mkString(" ")).toSet
  }
  private def charSet(t: String): Set[String] = {
    val norm = t.toLowerCase.replaceAll("\\s+", " ").trim
    (0 to norm.length - ShingleSize).map(i => norm.substring(i, i + ShingleSize)).toSet
  }
  private def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size.toDouble
  private def round6(j: Double): Double =
    BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def rows(df: DataFrame): Seq[(Long, Long, Double)] =
    df.as[(Long, Long, Double)].collect().toSeq.sorted

  private def checkJaccard(got: Seq[(Long, Long, Double)], sets: String => Set[String]): Unit =
    got.foreach { case (a, b, j) =>
      assert(a < b, s"pair ($a, $b) is not ordered")
      val exact = jaccard(sets(text(a)), sets(text(b)))
      assert(exact >= Threshold && j == round6(exact),
        s"pair ($a, $b): operator jaccard $j, driver-side $exact")
    }

  // ------------------------------------------------------------- tests

  test("minhashNearDuplicates equals the reference and the driver-side Jaccard") {
    for (word <- Seq(true, false)) {
      val got = rows(Dedup.minhashNearDuplicates(docs, "text", "doc_id",
        shingleSize = ShingleSize, numHashes = 64, bands = 16, threshold = Threshold,
        useWordShingles = word))
      assert(got == rows(minhashRef(docs, word)), s"word shingles = $word")
      checkJaccard(got, if (word) wordSet else charSet)
      Dedup.releaseCaches()
      if (word) {
        // above the banding S-curve's knee a pair is missed with
        // probability (1 - 0.85^4)^16 < 1e-5: every such pair is found
        val sure = for {
          (a, ta) <- fixture; (b, tb) <- fixture
          if a < b && wordSet(ta).nonEmpty && jaccard(wordSet(ta), wordSet(tb)) >= 0.85
        } yield (a, b)
        assert(sure.size >= 11 && sure.contains((1070L, 2995L)))
        assert(sure.toSet.subsetOf(got.map(p => (p._1, p._2)).toSet))
      }
    }
  }

  test("incrementalMinhashPairs equals the reference and the driver-side Jaccard") {
    val got = rows(Dedup.incrementalMinhashPairs(index, fresh, "text", "doc_id",
      shingleSize = ShingleSize, numHashes = 64, bands = 16, threshold = Threshold))
    Dedup.releaseCaches()
    assert(got == rows(incrementalRef(index, fresh)))
    checkJaccard(got, wordSet)
    assert(got.nonEmpty && got.forall { case (a, b, _) => isFresh(a) || isFresh(b) })
    // fresh ids pair with partners on both sides of them
    assert(got.exists { case (a, _, _) => isFresh(a) } && got.exists { case (_, b, _) => isFresh(b) })
  }

  test("no candidate pair: an empty result with the reference schema") {
    val unique = docs.filter(col("doc_id") < 2000)
    val got = Dedup.minhashNearDuplicates(unique, "text", "doc_id",
      shingleSize = ShingleSize, numHashes = 64, bands = 16, threshold = Threshold,
      useWordShingles = true)
    assert(got.schema == minhashRef(unique, word = true).schema)
    assert(got.collect().isEmpty)
    val inc = Dedup.incrementalMinhashPairs(unique.filter(col("doc_id") % 5 =!= 0),
      unique.filter(col("doc_id") % 5 === 0), "text", "doc_id")
    assert(inc.collect().isEmpty)
    Dedup.releaseCaches()
  }

  // Upper bounds on the fixture above (local[4], 4 shuffle partitions).
  // Measured: minhashNearDuplicates 15 jobs and 3 275 shuffle bytes,
  // incrementalMinhashPairs 17 and 3 088. The formulation before the
  // shared verify stage took 21 / 52 348 and 25 / 56 527: the candidate
  // pairs, unpinned, were generated again for each of their three reads
  // (more jobs), and the semi-join, planned against their estimated size
  // as a sort-merge join, shuffled every document's text.
  private val MinhashJobs = 17
  private val IncrementalJobs = 19
  private val ShuffleBytes = 10000L

  test("minhashNearDuplicates stays within its job and shuffle bounds") {
    val f = Footprint.of(spark) {
      Dedup.minhashNearDuplicates(docs, "text", "doc_id", shingleSize = ShingleSize,
        numHashes = 64, bands = 16, threshold = Threshold, useWordShingles = true).collect()
      Dedup.releaseCaches()
    }
    assert(f.jobs <= MinhashJobs && f.shuffleBytes <= ShuffleBytes,
      s"minhashNearDuplicates launched ${f.jobs} jobs (bound $MinhashJobs) and wrote " +
        s"${f.shuffleBytes} shuffle bytes (bound $ShuffleBytes)")
  }

  test("incrementalMinhashPairs stays within its job and shuffle bounds") {
    val f = Footprint.of(spark) {
      Dedup.incrementalMinhashPairs(index, fresh, "text", "doc_id", shingleSize = ShingleSize,
        numHashes = 64, bands = 16, threshold = Threshold).collect()
      Dedup.releaseCaches()
    }
    assert(f.jobs <= IncrementalJobs && f.shuffleBytes <= ShuffleBytes,
      s"incrementalMinhashPairs launched ${f.jobs} jobs (bound $IncrementalJobs) and wrote " +
        s"${f.shuffleBytes} shuffle bytes (bound $ShuffleBytes)")
  }
}
