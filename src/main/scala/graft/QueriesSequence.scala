package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{Readers, Writers}
import graft.ops.{Dedup, Layout, Multimodal, Ranks, SimSearch, Skew, TextStats, TopK}
import graft.transform.{Canonicalize, Enrich, Harmonize, Normalize}
import graft.quality.Expectations._
import graft.streaming.{EventStreams, Staging}

/** Round-7 additions, part C: sequence/event-model evals, streaming parity gates, optimizer strategy battery.
  *
  * Mechanical split of the former single-file catalog (r10 verdict
  * hygiene note): one trait per family, linear chain, zero behavior
  * change. `Queries` mixes the chain in; each query registers once in
  * `Queries.declared`, plan and oracle SQL together.
  */
trait QueriesSequence extends QueriesSketches {
  /** First-order Markov next-event prediction accuracy — q162's
    * transition census turned into the eval a sequence-model baseline
    * ships with: per current event type, predict the most frequent
    * successor (tiebreak: lexicographic) and measure the hit rate over
    * all observed transitions. Everything is exact integers off one
    * window pass + one types²-bounded count frame; accuracy is a single
    * long/long division. Scale: identical to q162 — one lead() pass,
    * types² counts, |types|-row output.
    */
  val markovAccuracy: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val steps = Tables.events(s, dir)
      .select(col("user_id"), col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
    val counts = Dedup.pin(steps.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n")))
    val pred = counts.withColumn("rk", row_number().over(
        Window.partitionBy(col("from_type"))
          .orderBy(col("n").desc, col("to_type"))))
      .filter(col("rk") === 1)
      .select(col("from_type"), col("to_type").as("predicted"),
        col("n").as("n_hits"))
    val totals = counts.groupBy(col("from_type")).agg(sum(col("n")).as("n_total"))
    pred.join(totals, Seq("from_type"))
      .select(col("from_type"), col("predicted"), col("n_total"),
        col("n_hits"),
        round(col("n_hits").cast("double") / col("n_total").cast("double"), 6)
          .as("acc"))
      .orderBy(col("from_type"))
  }

  val markovAccuracySql: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |    CAST(ts AS TIMESTAMP) AS ts FROM events),
      |s AS (SELECT user_id, event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS to_type FROM e),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM s
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |p AS (SELECT from_type, to_type AS predicted, n AS n_hits
      |  FROM (SELECT c.*, row_number() OVER (PARTITION BY from_type
      |      ORDER BY n DESC, to_type) AS rk FROM c) WHERE rk = 1),
      |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_total
      |  FROM c GROUP BY 1)
      |SELECT p.from_type, predicted, n_total, n_hits,
      |  round(CAST(n_hits AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS acc
      |FROM p JOIN t ON p.from_type = t.from_type
      |ORDER BY p.from_type""".stripMargin

  /** Replay-idempotent streaming sink parity — the SIXTH oracle-gated
    * streaming query, gating the exactly-once DELIVERY story the
    * in-engine gates (q177–q209) don't touch: events stream through
    * [[EventStreams.idempotentAppendSink]] (foreachBatch anti-join
    * append — the portable MERGE onto plain parquet) TWICE, the second
    * run with a FRESH checkpoint so every micro-batch is re-delivered
    * from scratch — the worst-case duplicate-delivery failure a real
    * pipeline recovers through. The target must still hash-match the
    * batch oracle exactly (no duplicated event survives). Values ride
    * as exact cents so the rollup is all-integer. Scale: the anti-join
    * reads only the id column of the target (column pruning); at 100 TB
    * the existing-ids side is a bucketed key index, same plan.
    */
  val streamReplaySink: Q = (s, dir) => withShufflePartitions(s, 8) {
    val srcDir = scratch("graft_stream_replay_src")
    val tgtDir = scratch("graft_stream_replay_tgt")
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .repartition(4)
      .write.mode("overwrite").parquet(srcDir.toString)
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("event_type", StringType),
      StructField("cents", LongType)))
    def deliverOnce(cpName: String): Unit = {
      val cp = scratch(cpName)
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
      val sq = EventStreams.idempotentAppendSink(
        stream, tgtDir.toString, cp.toString, "event_id", availableNow = true)
      sq.awaitTermination()
    }
    deliverOnce("graft_stream_replay_cp1")
    // fresh checkpoint: the source replays every batch from zero —
    // duplicate delivery end to end; the sink must absorb it
    deliverOnce("graft_stream_replay_cp2")
    s.read.parquet(tgtDir.toString)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"))
      .orderBy(col("event_type"))
  }

  val streamReplaySinkSql: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS total_cents
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Content-addressed shard manifest (the corpus-sync etag: rsync for
    * training shards — compose with q152/q154's CDC and q205's HRW
    * assignment): every doc's md5 fingerprint rolls up into a
    * per-shard digest two levels deep — fingerprints sort and hash
    * within a (shard, first-hex-digit) bucket, bucket digests sort and
    * hash into the shard etag. Two writers that produce the same doc
    * set produce the same etag REGARDLESS of row order (sorted
    * concatenation), and a one-doc change flips exactly one bucket
    * digest — the property a sync planner diffs on. The hierarchy is
    * the scale path: per-group state is \|bucket\|-bounded, and deeper
    * prefix levels bound it at any corpus size (vs one flat
    * sort-concat per shard). Scale: zero-shuffle HRW assignment (q205),
    * two keyed aggs.
    */
  val shardManifest: Q = (s, dir) => {
    val S = 8
    val weights = array((0 until S).map { i =>
      struct(
        conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":" + i))), 1, 15), 16, 10).cast("long").as("w"),
        lit(i).as("shard"))
    }: _*)
    val assigned = t(s, dir, "documents")
      .select(array_max(weights).getField("shard").as("shard"),
        md5(col("text").cast("binary")).as("fp"))
    val buckets = assigned
      .withColumn("bucket", substring(col("fp"), 1, 1))
      .groupBy(col("shard"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        md5(array_join(sort_array(collect_list(col("fp"))), "")
          .cast("binary")).as("digest"))
    buckets.groupBy(col("shard"))
      .agg(sum(col("n")).as("n_docs"), count(lit(1)).as("n_buckets"),
        md5(array_join(sort_array(collect_list(col("digest"))), "")
          .cast("binary")).as("etag"))
      .orderBy(col("shard"))
  }

  val shardManifestSql: String =
    """WITH w AS (SELECT doc_id, md5(text) AS fp,
      |    CAST(r.range AS INTEGER) AS shard,
      |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':'
      |      ||CAST(r.range AS VARCHAR)), 1, 15))::BIGINT AS wt
      |  FROM documents CROSS JOIN range(8) r),
      |pick AS (SELECT fp, shard FROM (SELECT fp, shard, row_number()
      |    OVER (PARTITION BY doc_id ORDER BY wt DESC, shard DESC) AS rn
      |  FROM w) WHERE rn = 1),
      |b AS (SELECT shard, substr(fp, 1, 1) AS bucket, count(*) AS n,
      |    md5(string_agg(fp, '' ORDER BY fp)) AS digest
      |  FROM pick GROUP BY shard, bucket)
      |SELECT shard, CAST(sum(n) AS BIGINT) AS n_docs,
      |  count(*) AS n_buckets,
      |  md5(string_agg(digest, '' ORDER BY digest)) AS etag
      |FROM b GROUP BY shard ORDER BY shard""".stripMargin

  /** CCNet-style perplexity bucketing (Wenzek '20 §4.3: split the
    * corpus into head/middle/tail thirds by LM perplexity; the head
    * feeds training, the tail is reviewed): q126's unigram surprisal
    * stands in for the LM, and the tertile cuts are EXACT order
    * statistics computed over the VALUE DOMAIN — distinct 6-dp
    * surprisal values → cumulative counts → first value with
    * 3·cum ≥ k·n (pure integer rank tests, the q123/q181/q199
    * discipline; never a corpus-sized global sort). Docs AT a cut go to
    * the lower bucket (≤, deterministic under ties). Per-bucket mean
    * surprisal re-enters DECIMAL (values are already 6-dp-rounded, so
    * the cast is exact). Scale: one token join (q126), then all
    * bucketing work on the |distinct values| grid.
    */
  val perplexityBuckets: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val toks = Dedup.pin(t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        explode(TextStats.tokens(lower(col("text")))).as("tok")))
    val freqs = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = freqs.agg(sum(col("c")).as("total"))
    val scored = freqs.crossJoin(broadcast(total))
      .select(col("tok"),
        round(-log(col("c").cast("double") / col("total").cast("double")), 8)
          .cast("decimal(18,8)").as("sp"))
    val perDoc = Dedup.pin(toks.join(scored, Seq("tok"))
      .groupBy(col("doc_id"), col("source"))
      .agg(round(sum(col("sp")).cast("double") / count(lit(1)), 6).as("surp")))
    val n1 = perDoc.agg(count(lit(1)).as("n"))
    val wv = Window.partitionBy(lit(1)).orderBy(col("surp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perDoc.groupBy(col("surp")).agg(count(lit(1)).as("m"))
      .withColumn("cum", sum(col("m")).over(wv))
      .crossJoin(broadcast(n1))
    val cut1 = cum.filter(col("cum") * 3 >= col("n")).agg(min(col("surp")).as("c1"))
    val cut2 = cum.filter(col("cum") * 3 >= col("n") * 2).agg(min(col("surp")).as("c2"))
    perDoc.crossJoin(broadcast(cut1)).crossJoin(broadcast(cut2))
      .select(col("source"),
        when(col("surp") <= col("c1"), "head")
          .when(col("surp") <= col("c2"), "middle")
          .otherwise("tail").as("bucket"),
        col("surp").cast("decimal(18,6)").as("sd"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("sd")).cast("double") / count(lit(1)), 6)
          .as("mean_surprisal"))
      .orderBy(col("source"), col("bucket"))
  }

  val perplexityBucketsSql: String =
    """WITH tk AS (SELECT doc_id, source,
      |    unnest(regexp_extract_all(lower(text), '\S+')) AS tok
      |  FROM documents),
      |f AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
      |tt AS (SELECT sum(c) AS total FROM f),
      |sc AS (SELECT tok, CAST(round(-ln(CAST(c AS DOUBLE)
      |    / CAST(total AS DOUBLE)), 8) AS DECIMAL(18,8)) AS sp FROM f, tt),
      |pd AS (SELECT doc_id, source,
      |    round(CAST(sum(sp) AS DOUBLE) / count(*), 6) AS surp
      |  FROM tk JOIN sc USING (tok) GROUP BY doc_id, source),
      |n1 AS (SELECT count(*) AS n FROM pd),
      |cumt AS (SELECT surp, sum(count(*)) OVER (ORDER BY surp) AS cum
      |  FROM pd GROUP BY surp),
      |c1 AS (SELECT min(surp) AS c1 FROM cumt, n1 WHERE cum * 3 >= n),
      |c2 AS (SELECT min(surp) AS c2 FROM cumt, n1 WHERE cum * 3 >= n * 2)
      |SELECT source,
      |  CASE WHEN surp <= c1 THEN 'head' WHEN surp <= c2 THEN 'middle'
      |    ELSE 'tail' END AS bucket,
      |  count(*) AS n_docs,
      |  round(CAST(sum(CAST(surp AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
      |    AS mean_surprisal
      |FROM pd CROSS JOIN c1 CROSS JOIN c2
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Language-ID confusion matrix (the eval for q28's n-gram
    * classifier against the labeled lang column — the audit run before
    * trusting a detector to route a multilingual crawl): (labeled,
    * predicted) counts plus per-labeled-language recall shares.
    * Everything integer until the single share division; the frame is
    * langs²-bounded after one classification scan.
    */
  val langidConfusion: Q = (s, dir) => {
    val cm = Dedup.pin(t(s, dir, "documents")
      .select(col("lang").as("labeled"),
        TextStats.languageId(col("text")).as("predicted"))
      .groupBy(col("labeled"), col("predicted")).agg(count(lit(1)).as("n")))
    val tot = cm.groupBy(col("labeled")).agg(sum(col("n")).as("n_labeled"))
    cm.join(broadcast(tot), Seq("labeled"))
      .select(col("labeled"), col("predicted"), col("n"),
        round(col("n").cast("double") / col("n_labeled").cast("double"), 6)
          .as("share"))
      .orderBy(col("labeled"), col("predicted"))
  }

  val langidConfusionSql: String = {
    val packs = TextStats.defaultProfiles.toSeq.sortBy(_._1).map {
      case (lang, grams) =>
        s"lpad(CAST(length(regexp_extract_all(lower(text), '${grams.mkString("|")}')) " +
          s"AS VARCHAR), 10, '0') || '$lang'"
    }.mkString(", ")
    s"""WITH p AS (SELECT lang AS labeled,
       |    substr(greatest($packs), 11) AS predicted FROM documents),
       |cm AS (SELECT labeled, predicted, count(*) AS n FROM p
       |  GROUP BY 1, 2),
       |tt AS (SELECT labeled, CAST(sum(n) AS BIGINT) AS n_labeled
       |  FROM cm GROUP BY 1)
       |SELECT cm.labeled, predicted, n,
       |  round(CAST(n AS DOUBLE) / CAST(n_labeled AS DOUBLE), 6) AS share
       |FROM cm JOIN tt ON cm.labeled = tt.labeled
       |ORDER BY cm.labeled, predicted""".stripMargin
  }

  /** Memorization-risk coverage: the share of each source's characters
    * covered by CROSS-DOCUMENT 13-grams (grams appearing in ≥ 2
    * distinct docs) — the statistic behind verbatim-memorization audits
    * (Lee '22 §5 measures dup-substring mass; this is its coverage
    * form). Interval union is computed WITHOUT interval logic: with
    * equal-length K intervals sorted by start, each covered position
    * adds exactly min(K, i − i_prev) new chars (first adds K) — one
    * lag() per doc, all integer. Per-source ratio is a ratio of integer
    * SUMS (covered / total chars), never an average of per-doc floats.
    * Scale: the position explode is the winnowing cost (q132/q145 —
    * ~n_chars rows per doc); gram hashes shuffle, text never does.
    */
  val memorizationCoverage: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val K = 13
    val docs = Dedup.pin(t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        col("text"), length(col("text")).cast("long").as("len")))
    val pos = Dedup.pin(docs.filter(col("len") >= K)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1), (col("len") - (K - 1)).cast("int"))).as("i"),
        col("text"))
      .select(col("doc_id"), col("source"), col("i"),
        conv(substring(md5(col("text").substr(col("i"), lit(K))
          .cast("binary")), 1, 15), 16, 10).cast("long").as("h")))
    val freq = pos.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val perDoc = pos.join(freq.select(col("h")), Seq("h"), "left_semi")
      .withColumn("prev", lag(col("i"), 1).over(w))
      .select(col("doc_id"),
        when(col("prev").isNull, lit(K.toLong))
          .otherwise(least(lit(K.toLong), (col("i") - col("prev")).cast("long")))
          .as("add"))
      .groupBy(col("doc_id")).agg(sum(col("add")).as("covered"))
    docs.select(col("doc_id"), col("source"), col("len"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("source"), coalesce(col("covered"), lit(0L)).as("cov"),
        col("len"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("cov")).as("covered_chars"),
        sum(col("len")).as("total_chars"))
      .select(col("source"), col("n_docs"), col("covered_chars"),
        col("total_chars"),
        round(col("covered_chars").cast("double")
          / col("total_chars").cast("double"), 6).as("cov_share"))
      .orderBy(col("source"))
  }

  val memorizationCoverageSql: String =
    """WITH d AS (SELECT doc_id, source, text,
      |    CAST(length(text) AS BIGINT) AS len FROM documents),
      |pos AS (SELECT doc_id, source, i,
      |    ('0x'||substr(md5(substr(text, i, 13)), 1, 15))::BIGINT AS h
      |  FROM d, unnest(generate_series(1, CAST(len - 12 AS INTEGER)))
      |    AS t(i)
      |  WHERE len >= 13),
      |freq AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM pos)
      |  GROUP BY h HAVING count(*) >= 2),
      |cov AS (SELECT doc_id, i FROM pos WHERE h IN (SELECT h FROM freq)),
      |contrib AS (SELECT doc_id,
      |    CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
      |      THEN 13 ELSE least(13,
      |        i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)) END AS a
      |  FROM cov),
      |pd AS (SELECT doc_id, CAST(sum(a) AS BIGINT) AS covered
      |  FROM contrib GROUP BY doc_id)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(coalesce(covered, 0)) AS BIGINT) AS covered_chars,
      |  CAST(sum(len) AS BIGINT) AS total_chars,
      |  round(CAST(sum(coalesce(covered, 0)) AS DOUBLE)
      |    / CAST(sum(len) AS DOUBLE), 6) AS cov_share
      |FROM d LEFT JOIN pd USING (doc_id)
      |GROUP BY source ORDER BY source""".stripMargin

  /** Pairwise Jensen–Shannon divergence matrix between source language
    * models (Lin '91; the symmetric, bounded complement of q166's
    * per-source-vs-corpus KL — the matrix a mixture designer clusters
    * sources by): smoothed hashed-bigram distributions over B=1024
    * buckets (the q156/q166 model), densified per source, then one
    * bucket-keyed self-join gives every (i<j, b) cell. Each JS term is
    * ONE compound float expression rounded to 8 places → DECIMAL (the
    * q126 ln discipline) so the per-pair sum is exact. Scale: the
    * matrix costs |sources|²·B/2 cells INDEPENDENT of corpus size —
    * the corpus is touched once to build the B-bounded models.
    */
  val jsDivergenceMatrix: Q = (s, dir) => {
    val B = 1024
    val feats = Dedup.pin(t(s, dir, "documents")
      .select(col("source"), TextStats.tokens(lower(col("text"))).as("tok"))
      .filter(size(col("tok")) >= 2)
      .select(col("source"), explode(TextStats.wordBigrams(col("tok"))).as("g"))
      .select(col("source"),
        (conv(substring(md5(col("g")), 1, 15), 16, 10).cast("long") % B)
          .as("b")))
    val srcCounts = feats.groupBy(col("source"), col("b"))
      .agg(count(lit(1)).as("cs"))
    val srcTotals = feats.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    // pin the |sources|·B model frame: the self-join would otherwise
    // re-derive the corpus-sized bigram aggregation once per side
    val dense = Dedup.pin(srcTotals
      .select(col("source"), col("ns"),
        explode(sequence(lit(0L), lit((B - 1).toLong))).as("b"))
      .join(srcCounts, Seq("source", "b"), "left")
      .select(col("source"), col("b"),
        ((coalesce(col("cs"), lit(0L)) + 1).cast("double")
          / (col("ns") + B).cast("double")).as("p")))
    def jsTerm(pa: Column, pb: Column): Column =
      lit(0.5) * (pa * log(pa / ((pa + pb) / 2))
        + pb * log(pb / ((pa + pb) / 2)))
    dense.as("a").join(dense.as("c"),
        col("a.b") === col("c.b") && col("a.source") < col("c.source"))
      .select(col("a.source").as("source_a"), col("c.source").as("source_b"),
        round(jsTerm(col("a.p"), col("c.p")), 8).cast("decimal(18,8)")
          .as("term"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(round(sum(col("term")).cast("double"), 8).as("js"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val jsDivergenceMatrixSql: String =
    """WITH toks AS (SELECT source,
      |    regexp_extract_all(lower(text), '\S+') AS tok FROM documents
      |  WHERE length(regexp_extract_all(lower(text), '\S+')) >= 2),
      |g AS (SELECT source, unnest(list_transform(generate_series(1, len(tok)-1),
      |    i -> tok[i] || ' ' || tok[i+1])) AS g FROM toks),
      |f AS (SELECT source,
      |    ('0x'||substr(md5(g),1,15))::BIGINT % 1024 AS b FROM g),
      |sc AS (SELECT source, b, count(*) AS cs FROM f GROUP BY 1, 2),
      |st AS (SELECT source, count(*) AS ns FROM f GROUP BY 1),
      |dense AS (SELECT st.source, gs.b,
      |    CAST(coalesce(cs, 0) + 1 AS DOUBLE) / CAST(ns + 1024 AS DOUBLE)
      |      AS p
      |  FROM st CROSS JOIN (SELECT unnest(generate_series(0, 1023)) AS b) gs
      |  LEFT JOIN sc ON sc.source = st.source AND sc.b = gs.b)
      |SELECT a.source AS source_a, c.source AS source_b,
      |  round(CAST(sum(CAST(round(0.5 * (a.p * ln(a.p / ((a.p + c.p) / 2))
      |    + c.p * ln(c.p / ((a.p + c.p) / 2))), 8) AS DECIMAL(18,8)))
      |    AS DOUBLE), 8) AS js
      |FROM dense a JOIN dense c ON a.b = c.b AND a.source < c.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Tokenizer-vocabulary OOV audit: share of token instances per
    * source falling outside the top-500 corpus vocabulary — the
    * coverage check run before freezing a vocab (the fixed-vocab
    * complement of q122's vocab-growth curve and q129's BPE). Vocab
    * selection is a TakeOrdered top-V on (count desc, token) — total
    * order, boundary ties resolved lexicographically, identical in the
    * oracle's ORDER BY/LIMIT. OOV tally via one broadcast join of the
    * V-row vocab; the rate is a single long/long division. Scale: one
    * token-keyed count, top-V never materializes the tail.
    */
  val oovRate: Q = (s, dir) => {
    val toks = Dedup.pin(t(s, dir, "documents")
      .select(col("source"), explode(TextStats.tokens(lower(col("text")))).as("tok")))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(500)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6)
          .as("oov_rate"))
      .orderBy(col("source"))
  }

  val oovRateSql: String =
    """WITH tk AS (SELECT source,
      |    unnest(regexp_extract_all(lower(text), '\S+')) AS tok
      |  FROM documents),
      |v AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM tk GROUP BY tok
      |  ORDER BY c DESC, tok LIMIT 500))
      |SELECT source, count(*) AS n_tokens,
      |  CAST(sum(CASE WHEN tk.tok IN (SELECT tok FROM v) THEN 0 ELSE 1 END)
      |    AS BIGINT) AS n_oov,
      |  round(CAST(sum(CASE WHEN tk.tok IN (SELECT tok FROM v) THEN 0
      |      ELSE 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS oov_rate
      |FROM tk GROUP BY source ORDER BY source""".stripMargin

  /** Type–token ratio at a FIXED token budget per source (lexical
    * diversity, Templin '57 — raw TTR is length-biased, so every
    * source is measured on exactly 200 deterministically-sampled token
    * instances): two-phase deterministic sample (q57/q186 discipline) —
    * an md5-u threshold keeps an expected 3× budget, then an exact
    * row_number over (u, doc_id, pos) takes the first 200 — so the
    * sample is a pure function of the data, identical in both engines,
    * and the per-source rank window runs over the THRESHOLDED stream
    * (~3·budget rows), never the corpus. TTR = distinct/sampled, one
    * division. Scale: budget is constant, so per-source work is
    * constant past the threshold scan.
    */
  val ttrBudget: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val N = 200
    val toks = Dedup.pin(t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        posexplode(TextStats.tokens(lower(col("text")))).as(Seq("pos", "tok"))))
    val perSrc = toks.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val u = conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
      col("pos").cast("string"))), 1, 15), 16, 10).cast("long")
    val thresholded = toks.join(broadcast(perSrc), Seq("source"))
      .withColumn("u", u)
      // keep expected 3N of n_s (double compare, the q186 idiom —
      // integer cross-multiply would overflow Long at 2^60 · n_s)
      .filter(col("u").cast("double") / lit(math.pow(2, 60)) <
        least(lit(1.0), lit(3.0 * N) / col("n_s").cast("double")))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("u"), col("doc_id"), col("pos"))
    thresholded.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= N)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"),
        countDistinct(col("tok")).as("n_types"))
      .select(col("source"), col("n_sampled"), col("n_types"),
        round(col("n_types").cast("double") / col("n_sampled").cast("double"), 6)
          .as("ttr"))
      .orderBy(col("source"))
  }

  val ttrBudgetSql: String =
    """WITH tk AS (SELECT doc_id, source, i - 1 AS pos, tok[i] AS tok
      |  FROM (SELECT doc_id, source,
      |      regexp_extract_all(lower(text), '\S+') AS tok FROM documents),
      |    unnest(generate_series(1, len(tok))) AS t(i)),
      |ps AS (SELECT source, count(*) AS n_s FROM tk GROUP BY source),
      |th AS (SELECT tk.*, ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':'
      |      ||CAST(pos AS VARCHAR)), 1, 15))::BIGINT AS u, n_s
      |  FROM tk JOIN ps USING (source)
      |  WHERE ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':'
      |      ||CAST(pos AS VARCHAR)), 1, 15))::BIGINT
      |      / CAST(pow(2, 60) AS DOUBLE)
      |    < least(1.0, 600.0 / CAST(n_s AS DOUBLE))),
      |rk AS (SELECT source, tok, row_number() OVER (PARTITION BY source
      |    ORDER BY u, doc_id, pos) AS rn FROM th)
      |SELECT source, count(*) AS n_sampled,
      |  CAST(count(DISTINCT tok) AS BIGINT) AS n_types,
      |  round(CAST(count(DISTINCT tok) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS ttr
      |FROM rk WHERE rn <= 200 GROUP BY source ORDER BY source""".stripMargin

  /** Deterministic Poisson bootstrap CI for per-source mean document
    * length (Chamandy '12, "Estimating uncertainty for massive data
    * streams" — the Google large-scale bootstrap: per-replicate
    * Poisson(1) weights instead of resampling, so one pass computes all
    * B replicates): weights come from an md5-keyed uniform pushed
    * through the Poisson(1) inverse CDF at 60-bit integer thresholds —
    * the thresholds are computed ONCE in the builder and inlined
    * IDENTICALLY into both engines, so the "randomness" is a pure
    * function of (doc_id, replicate). Replicate means are exact-integer
    * ratios (Σw·x / Σw, single double division); the 5%/95% CI bounds
    * are order statistics (ranks 2 and B−1 of B=40) — no float
    * accumulates anywhere. Scale: explode ×B multiplies row count, but
    * state is |sources|·B cells — the textbook scalable bootstrap.
    */
  val bootstrapCi: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val B = 40
    val cum = { // Poisson(1) CDF at k = 0..4
      var c = 0.0; var fact = 1.0
      (0 to 4).map { k => if (k > 0) fact *= k; c += math.exp(-1.0) / fact; c }
    }
    val th = cum.map(c => (c * math.pow(2, 60)).toLong)
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("b", explode(sequence(lit(0), lit(B - 1))))
    val u = conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
      col("b").cast("string"))), 1, 15), 16, 10).cast("long")
    val weighted = docs.withColumn("w",
      when(u < th(0), 0L).when(u < th(1), 1L).when(u < th(2), 2L)
        .when(u < th(3), 3L).when(u < th(4), 4L).otherwise(5L))
    val cells = weighted.groupBy(col("source"), col("b"))
      .agg(sum(col("w")).as("sw"),
        sum(col("w") * col("n_chars")).as("swx"))
      .filter(col("sw") > 0)
      .select(col("source"), col("b"),
        (col("swx").cast("double") / col("sw").cast("double")).as("m"))
    val wr = Window.partitionBy(col("source")).orderBy(col("m"), col("b"))
    val ranked = cells.withColumn("rn", row_number().over(wr))
    val lo = ranked.filter(col("rn") === 2)
      .select(col("source"), round(col("m"), 6).as("ci_lo"))
    val hi = ranked.filter(col("rn") === B - 1)
      .select(col("source"), round(col("m"), 6).as("ci_hi"))
    val obs = t(s, dir, "documents").groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 6)
          .as("mean_chars"))
    obs.join(lo, Seq("source")).join(hi, Seq("source"))
      .select(col("source"), col("n_docs"), col("mean_chars"),
        col("ci_lo"), col("ci_hi"))
      .orderBy(col("source"))
  }

  val bootstrapCiSql: String = {
    val cum = {
      var c = 0.0; var fact = 1.0
      (0 to 4).map { k => if (k > 0) fact *= k; c += math.exp(-1.0) / fact; c }
    }
    val th = cum.map(c => (c * math.pow(2, 60)).toLong)
    s"""WITH r AS (SELECT doc_id, source, n_chars,
       |    CAST(rep.range AS INTEGER) AS b,
       |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':'
       |      ||CAST(rep.range AS VARCHAR)), 1, 15))::BIGINT AS u
       |  FROM documents CROSS JOIN range(40) rep),
       |wtd AS (SELECT source, b, n_chars,
       |    CASE WHEN u < ${th(0)} THEN 0 WHEN u < ${th(1)} THEN 1
       |      WHEN u < ${th(2)} THEN 2 WHEN u < ${th(3)} THEN 3
       |      WHEN u < ${th(4)} THEN 4 ELSE 5 END AS w FROM r),
       |cells AS (SELECT source, b,
       |    CAST(sum(w * n_chars) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS m
       |  FROM wtd GROUP BY source, b HAVING sum(w) > 0),
       |rk AS (SELECT source, b, m, row_number() OVER (PARTITION BY source
       |    ORDER BY m, b) AS rn FROM cells),
       |lo AS (SELECT source, round(m, 6) AS ci_lo FROM rk WHERE rn = 2),
       |hi AS (SELECT source, round(m, 6) AS ci_hi FROM rk WHERE rn = 39),
       |obs AS (SELECT source, count(*) AS n_docs,
       |    round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS mean_chars
       |  FROM documents GROUP BY source)
       |SELECT obs.source, n_docs, mean_chars, ci_lo, ci_hi
       |FROM obs JOIN lo ON obs.source = lo.source
       |JOIN hi ON obs.source = hi.source
       |ORDER BY obs.source""".stripMargin
  }

  /** Group-aware (leakage-safe) train/test split — the fix for q179's
    * measured failure mode: folds assigned per NEAR-DUP CLUSTER, not
    * per document, so a near-duplicate can never straddle train and
    * eval (the contamination channel q179 audits). Clusters come from
    * the q65 operator (blocked Jaccard + min-label components);
    * singletons are their own cluster; fold = md5(cluster_id) % 5 —
    * BY CONSTRUCTION a function of the cluster, so "no cluster spans
    * folds" is structural, and the audit reports the per-fold balance a
    * split consumer actually checks. Scale: q65's cost + one hash.
    */
  val groupSplit: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.blockedJaccardPairs(docs, "text", "doc_id",
      Seq("lang", "n_chars"), threshold = 0.5)
    val cl = Dedup.clusters(pairs)
      .select(col("id").as("doc_id"), col("cluster_id"))
    docs.select(col("doc_id"), col("n_chars"))
      .join(cl, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("cluster_id"), col("doc_id")).as("cid"))
      .withColumn("fold",
        (conv(substring(md5(col("cid").cast("string")), 1, 15), 16, 10)
          .cast("long") % 5).cast("int"))
      .groupBy(col("fold"))
      .agg(countDistinct(col("cid")).as("n_clusters"),
        count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_tot"))
      .orderBy(col("fold"))
  }

  val groupSplitSql: String =
    """WITH RECURSIVE toks AS (
      | SELECT doc_id, lang, n_chars,
      |  list_distinct(regexp_extract_all(lower(text), '\S+')) AS tok
      | FROM documents WHERE length(regexp_extract_all(lower(text), '\S+')) > 0),
      |edges AS (
      | SELECT l.doc_id AS a, r.doc_id AS b
      | FROM toks l JOIN toks r
      |   ON l.lang = r.lang AND l.n_chars = r.n_chars AND l.doc_id < r.doc_id
      | WHERE CAST(length(list_intersect(l.tok, r.tok)) AS DOUBLE) /
      |       length(list_distinct(list_concat(l.tok, r.tok))) >= 0.5),
      |sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
      |reach AS (SELECT a, b FROM sym
      |  UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a),
      |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      |  FROM reach GROUP BY a),
      |f AS (SELECT d.doc_id, d.n_chars,
      |    coalesce(cluster_id, d.doc_id) AS cid
      |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id)
      |SELECT CAST(('0x'||substr(md5(CAST(cid AS VARCHAR)), 1, 15))::BIGINT
      |    % 5 AS INTEGER) AS fold,
      |  CAST(count(DISTINCT cid) AS BIGINT) AS n_clusters,
      |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars_tot
      |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  /** Position-based (U-shaped) multi-touch attribution — the 40/20/40
    * credit model between q172's last-touch and a full Shapley: a
    * user's purchase value credits 40% to the first touch, 40% to the
    * last, 20% split over middles. Credit is EXACT-INTEGER basis
    * points: middles get 2000 div (n−2) bp each and the remainder goes
    * one bp apiece to the EARLIEST middles (deterministic water-fill,
    * the q193 discipline) — so Σcredit ≡ 10000 bp per converting user
    * by construction, and the only float is the final /10⁴ rendering.
    * Value rides as exact cents. Scale: one window pass per user + a
    * types-bounded rollup.
    */
  val positionAttribution: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    val purch = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(sum(col("cents")).as("v"))
      .filter(col("v") > 0)
    val seq_ = ev.join(purch, Seq("user_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("user_id"))))
    val bp = when(col("n") === 1, lit(10000L))
      .when(col("n") === 2,
        when(col("rn") === 1, 5000L).otherwise(5000L))
      .when(col("rn") === 1, 4000L)
      .when(col("rn") === col("n"), 4000L)
      .otherwise(expr("2000 div (n - 2)")
        + when(col("rn") - 1 <= expr("2000 % (n - 2)"), 1L).otherwise(0L))
    seq_.select(col("event_type"), (bp * col("v")).as("credit"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_touches"), sum(col("credit")).as("bp_cents"))
      .select(col("event_type"), col("n_touches"),
        round(col("bp_cents").cast("double") / 1000000.0, 2)
          .as("attributed_value"))
      .orderBy(col("event_type"))
  }

  val positionAttributionSql: String =
    """WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |p AS (SELECT user_id, CAST(sum(cents) AS BIGINT) AS v FROM ev
      |  WHERE event_type = 'purchase' GROUP BY user_id HAVING sum(cents) > 0),
      |sq AS (SELECT ev.*, v,
      |    row_number() OVER (PARTITION BY ev.user_id
      |      ORDER BY ts, event_id) AS rn,
      |    count(*) OVER (PARTITION BY ev.user_id) AS n
      |  FROM ev JOIN p ON ev.user_id = p.user_id),
      |cr AS (SELECT event_type,
      |    CASE WHEN n = 1 THEN 10000
      |      WHEN n = 2 THEN 5000
      |      WHEN rn = 1 THEN 4000
      |      WHEN rn = n THEN 4000
      |      ELSE 2000 // (n - 2)
      |        + CASE WHEN rn - 1 <= 2000 % (n - 2) THEN 1 ELSE 0 END
      |      END * v AS credit
      |  FROM sq)
      |SELECT event_type, count(*) AS n_touches,
      |  round(CAST(sum(credit) AS DOUBLE) / 1000000.0, 2)
      |    AS attributed_value
      |FROM cr GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Dedup savings report — the business case a dedup pipeline ships
    * with: per source, raw vs post-dedup (q20 exact keeper: min doc_id
    * per content fingerprint) document and TOKEN counts and the token
    * savings share. Composes the exact-dedup operator end-to-end and
    * reports the number storage/training budgets are planned on.
    * All integer; one division per source. Scale: fingerprints shuffle
    * (16 bytes), tokens counted row-local before the keeper semi-join.
    */
  val dedupSavings: Q = (s, dir) => {
    val docs = Dedup.pin(t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextStats.fingerprint(col("text")).as("fp"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tok")))
    val keep = docs.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    val kept = docs.join(keep, Seq("fp", "doc_id"), "left_semi")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept_docs"), sum(col("n_tok")).as("kept_tokens"))
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("raw_docs"), sum(col("n_tok")).as("raw_tokens"))
      .join(kept, Seq("source"))
      .select(col("source"), col("raw_docs"), col("kept_docs"),
        col("raw_tokens"), col("kept_tokens"),
        round((col("raw_tokens") - col("kept_tokens")).cast("double")
          / col("raw_tokens").cast("double"), 6).as("savings"))
      .orderBy(col("source"))
  }

  val dedupSavingsSql: String =
    """WITH d AS (SELECT doc_id, source,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      |    CAST(length(regexp_extract_all(lower(text), '\S+')) AS BIGINT)
      |      AS n_tok
      |  FROM documents),
      |k AS (SELECT fp, min(doc_id) AS doc_id FROM d GROUP BY fp),
      |kept AS (SELECT source, count(*) AS kept_docs,
      |    CAST(sum(n_tok) AS BIGINT) AS kept_tokens
      |  FROM d JOIN k USING (fp, doc_id) GROUP BY source),
      |raw AS (SELECT source, count(*) AS raw_docs,
      |    CAST(sum(n_tok) AS BIGINT) AS raw_tokens FROM d GROUP BY source)
      |SELECT raw.source, raw_docs, kept_docs, raw_tokens, kept_tokens,
      |  round(CAST(raw_tokens - kept_tokens AS DOUBLE)
      |    / CAST(raw_tokens AS DOUBLE), 6) AS savings
      |FROM raw JOIN kept ON raw.source = kept.source
      |ORDER BY raw.source""".stripMargin

  /** Grouped exact OLS (per-source least-squares of char count on
    * token count — the scaling-law-style fit every corpus report draws,
    * done EXACTLY): all five sufficient statistics (n, Σx, Σy, Σxy,
    * Σx²) are exact integers off one scan, so slope = (nΣxy − ΣxΣy) /
    * (nΣx² − (Σx)²) and intercept are single compound float expressions
    * over exact inputs — grouped regression with zero cross-row float
    * accumulation (q85's correlation discipline extended to the fit
    * itself). r² from the same partials. Scale: |sources| rows of
    * state; nothing leaves the keyed agg.
    */
  val groupedOls: Q = (s, dir) => {
    val pts = t(s, dir, "documents")
      .select(col("source"),
        TextStats.tokenCount(col("text")).cast("long").as("x"),
        col("n_chars").as("y"))
    pts.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("source"), col("n"), {
        // compound products in DECIMAL(38,0): n·Σxy and Σx·Σy overflow
        // int64 once per-source sums pass ~3e9 — Spark (non-ANSI) would
        // wrap SILENTLY while DuckDB raises, a latent wrong-answer +
        // parity break at corpus scale (ADVICE r7). The wide-int diff
        // is exact; only then does it drop to double.
        val nD = col("n").cast("decimal(38,0)")
        val sxD = col("sx").cast("decimal(38,0)")
        val syD = col("sy").cast("decimal(38,0)")
        val cov = (nD * col("sxy") - sxD * col("sy")).cast("double")
        val vx = (nD * col("sxx") - sxD * col("sx")).cast("double")
        val vy = (nD * col("syy") - syD * col("sy")).cast("double")
        struct(
          round(cov / vx, 6).as("slope"),
          round((col("sy").cast("double") - cov / vx
            * col("sx").cast("double")) / col("n").cast("double"), 6)
            .as("intercept"),
          round(cov * cov / (vx * vy), 6).as("r2")).as("f")
      })
      .select(col("source"), col("n"), col("f.slope").as("slope"),
        col("f.intercept").as("intercept"), col("f.r2").as("r2"))
      .orderBy(col("source"))
  }

  val groupedOlsSql: String =
    """WITH p AS (SELECT source,
      |    CAST(length(regexp_extract_all(lower(text), '\S+')) AS BIGINT)
      |      AS x,
      |    n_chars AS y FROM documents),
      |st AS (SELECT source, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sxx,
      |    CAST(sum(y * y) AS BIGINT) AS syy
      |  FROM p GROUP BY source),
      |w AS (SELECT source, n, sx, sy,
      |    CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
      |      AS DOUBLE) AS cov,
      |    CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
      |      AS DOUBLE) AS vx,
      |    CAST(CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy
      |      AS DOUBLE) AS vy
      |  FROM st)
      |SELECT source, n,
      |  round(cov / vx, 6) AS slope,
      |  round((CAST(sy AS DOUBLE) - cov / vx * CAST(sx AS DOUBLE))
      |    / CAST(n AS DOUBLE), 6) AS intercept,
      |  round(cov * cov / (vx * vy), 6) AS r2
      |FROM w ORDER BY source""".stripMargin

  /** Sorted-neighborhood near-dup detection (Hernández–Stolfo '95 — the
    * classic ALTERNATIVE to hash blocking (q128) and LSH banding (q21):
    * sort on a discriminating key and compare each record only with its
    * w−1 successors, O(n·w) comparisons total): docs sort within lang by
    * (n_chars, doc_id); each pairs with its next 2 neighbors via lead()
    * over DISTINCT-token arrays (no self-join at all — the window IS
    * the candidate generator), then exact token-Jaccard ≥ 0.5 verifies.
    * The Jaccard is one integer/integer division. Scale: one sort per
    * lang partition + constant fan-out; the known failure mode (a dup
    * whose key differs sorts far away) is why production composes this
    * WITH q21's LSH — complementary recall. */
  val sortedNeighborhood: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        array_distinct(TextStats.tokens(lower(col("text")))).as("tok"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    val withNb = docs
      .withColumn("nb1_id", lead(col("doc_id"), 1).over(w))
      .withColumn("nb1_tok", lead(col("tok"), 1).over(w))
      .withColumn("nb2_id", lead(col("doc_id"), 2).over(w))
      .withColumn("nb2_tok", lead(col("tok"), 2).over(w))
    def pairOf(idC: String, tokC: String) = withNb
      .filter(col(idC).isNotNull)
      .select(col("doc_id").as("id_a"), col(idC).as("id_b"),
        (size(array_intersect(col("tok"), col(tokC))).cast("double")
          / size(array_union(col("tok"), col(tokC))).cast("double")).as("j"))
    pairOf("nb1_id", "nb1_tok").unionAll(pairOf("nb2_id", "nb2_tok"))
      .filter(col("j") >= 0.5)
      .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val sortedNeighborhoodSql: String =
    """WITH d AS (SELECT doc_id, lang, n_chars,
      |    list_distinct(regexp_extract_all(lower(text), '\S+')) AS tok
      |  FROM documents),
      |nb AS (SELECT doc_id, tok,
      |    lead(doc_id, 1) OVER w AS nb1_id, lead(tok, 1) OVER w AS nb1_tok,
      |    lead(doc_id, 2) OVER w AS nb2_id, lead(tok, 2) OVER w AS nb2_tok
      |  FROM d WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)),
      |p AS (
      |  SELECT doc_id AS id_a, nb1_id AS id_b,
      |    CAST(length(list_intersect(tok, nb1_tok)) AS DOUBLE)
      |      / CAST(length(list_distinct(list_concat(tok, nb1_tok)))
      |        AS DOUBLE) AS j
      |  FROM nb WHERE nb1_id IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id, nb2_id,
      |    CAST(length(list_intersect(tok, nb2_tok)) AS DOUBLE)
      |      / CAST(length(list_distinct(list_concat(tok, nb2_tok)))
      |        AS DOUBLE)
      |  FROM nb WHERE nb2_id IS NOT NULL)
      |SELECT id_a, id_b, round(j, 6) AS jaccard FROM p WHERE j >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** Pareto concentration audit — "how few sources carry 80% of the
    * tokens?": the concentration number a mixture designer reads before
    * deciding whether source-level weights matter at all (complement of
    * q199's key-level Gini). Sources sort by token mass (desc, name
    * tiebreak), the cumulative runs over the |sources|-row frame, and
    * the 80% test is exact integer (5·cum ≥ 4·total). Output one row:
    * how many sources reach 80%, the top source's share, totals.
    */
  val paretoCoverage: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val per = Dedup.pin(t(s, dir, "documents")
      .select(col("source"), TextStats.tokenCount(col("text")).cast("long").as("n_tok"))
      .groupBy(col("source")).agg(sum(col("n_tok")).as("tok")))
    val tot = per.agg(sum(col("tok")).as("total"), count(lit(1)).as("n_sources"))
    val w = Window.partitionBy(lit(1))
      .orderBy(col("tok").desc, col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per.withColumn("cum", sum(col("tok")).over(w))
      .withColumn("rk", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("tok").desc, col("source"))))
      .crossJoin(broadcast(tot))
      .select(col("rk"), col("cum"), col("tok"), col("total"), col("n_sources"))
      // the 80% test gates ONLY n_sources_80 (conditional min);
      // top_share reads the UNFILTERED rk=1 row — a frame-level filter
      // here would null top_share whenever the top source alone holds
      // < 80% of the tokens (ADVICE r7)
      .agg(min(when(col("cum") * 5 >= col("total") * 4, col("rk")))
          .as("n_sources_80"),
        max(col("n_sources")).as("n_sources"),
        max(col("total")).as("total_tokens"),
        round(max(when(col("rk") === 1, col("tok"))).cast("double")
          / max(col("total")).cast("double"), 6).as("top_share"))
  }

  val paretoCoverageSql: String =
    """WITH per AS (SELECT source,
      |    CAST(sum(length(regexp_extract_all(lower(text), '\S+')))
      |      AS BIGINT) AS tok
      |  FROM documents GROUP BY source),
      |tt AS (SELECT CAST(sum(tok) AS BIGINT) AS total,
      |    count(*) AS n_sources FROM per),
      |c AS (SELECT source, tok,
      |    sum(tok) OVER (ORDER BY tok DESC, source) AS cum,
      |    row_number() OVER (ORDER BY tok DESC, source) AS rk FROM per)
      |SELECT CAST(min(CASE WHEN cum * 5 >= total * 4 THEN rk END)
      |    AS INTEGER) AS n_sources_80,
      |  max(n_sources) AS n_sources, max(total) AS total_tokens,
      |  round(CAST(max(CASE WHEN rk = 1 THEN tok END) AS DOUBLE)
      |    / CAST(max(total) AS DOUBLE), 6) AS top_share
      |FROM c CROSS JOIN tt""".stripMargin

  /** Shuffle-partition balance audit — q199's key-skew profiler taken
    * to PARTITION granularity: documents hashed to 32 partitions by a
    * portable md5 partitioner (what the fp-keyed dedup shuffle would
    * do), then per-partition row/char loads and a χ² against uniform.
    * Each χ² term is exact-integer-derived ((P·n_b − N)²/(P·N), one
    * float division) and rounded → DECIMAL before the 32-term sum (the
    * q200 Benford discipline). The pre-flight answer to "will this
    * shuffle hot-spot an executor?". Scale: one keyed count over P
    * cells.
    */
  val partitionBalance: Q = (s, dir) => {
    val P = 32
    val cells = t(s, dir, "documents")
      .select(col("n_chars"),
        (conv(substring(md5(TextStats.fingerprint(col("text"))), 1, 15),
          16, 10).cast("long") % P).as("p"))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
    val tot = cells.agg(sum(col("n")).as("nt"))
    cells.crossJoin(broadcast(tot))
      .select(col("n"), col("chars"), col("nt"), {
        // the diff P·n − N fits int64 at any scale; its SQUARE does not
        // — square in double (exact for |diff| < 2^26 at gate SF, and
        // non-wrapping at 100 TB; ADVICE r7 overflow sweep)
        val d = (lit(P) * col("n") - col("nt")).cast("double")
        round(d * d / (lit(P) * col("nt")).cast("double"), 8)
          .cast("decimal(18,8)").as("term")
      })
      .agg(count(lit(1)).as("n_partitions"), max(col("nt")).as("n_rows"),
        max(col("n")).as("max_part"), min(col("n")).as("min_part"),
        round(sum(col("term")).cast("double"), 8).as("chi2"))
  }

  val partitionBalanceSql: String =
    """WITH cells AS (SELECT
      |    ('0x'||substr(md5(md5(trim(regexp_replace(lower(text), '\s+',
      |      ' ', 'g')))), 1, 15))::BIGINT % 32 AS p,
      |    count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
      |  FROM documents GROUP BY 1),
      |tt AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells)
      |SELECT count(*) AS n_partitions, max(nt) AS n_rows,
      |  CAST(max(n) AS BIGINT) AS max_part, CAST(min(n) AS BIGINT) AS min_part,
      |  round(CAST(sum(CAST(round(CAST(32 * n - nt AS DOUBLE)
      |    * CAST(32 * n - nt AS DOUBLE)
      |    / CAST(32 * nt AS DOUBLE), 8) AS DECIMAL(18,8)))
      |    AS DOUBLE), 8) AS chi2
      |FROM cells CROSS JOIN tt""".stripMargin

  /** Cross-modality link-integrity audit: does every document have an
    * embedding, and every embedding a document? The join-coverage
    * hygiene check a multimodal pipeline runs after every ingest (the
    * referential-integrity q137 story, applied across modality tables):
    * full outer join on the id space, per-source matched/missing
    * counts (embedding-only ids have no source — reported in the
    * '_orphan_vectors' row). All integer; one id-keyed join where only
    * ids and the source string travel.
    */
  val modalityCoverage: Q = (s, dir) => {
    val d = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val e = t(s, dir, "embeddings").select(col("vec_id"))
    d.join(e, col("doc_id") === col("vec_id"), "full_outer")
      .select(
        when(col("doc_id").isNotNull, col("source"))
          .otherwise(lit("_orphan_vectors")).as("source"),
        when(col("doc_id").isNotNull && col("vec_id").isNotNull, 1L)
          .otherwise(0L).as("m"),
        when(col("doc_id").isNotNull && col("vec_id").isNull, 1L)
          .otherwise(0L).as("d_only"),
        when(col("doc_id").isNull, 1L).otherwise(0L).as("v_only"))
      .groupBy(col("source"))
      .agg(sum(col("m")).as("n_matched"), sum(col("d_only")).as("n_doc_only"),
        sum(col("v_only")).as("n_vec_only"))
      .orderBy(col("source"))
  }

  val modalityCoverageSql: String =
    """SELECT CASE WHEN doc_id IS NOT NULL THEN source
      |    ELSE '_orphan_vectors' END AS source,
      |  CAST(sum(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
      |  CAST(sum(CASE WHEN doc_id IS NOT NULL AND vec_id IS NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_doc_only,
      |  CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_vec_only
      |FROM documents d FULL JOIN embeddings e ON d.doc_id = e.vec_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** ML feature-store assembly — the wide per-user training frame a
    * churn/propensity model reads, built by JOINING four feature
    * families the engine already computes: recency/frequency/monetary
    * (q174's base), inter-arrival mean (q202's partials), activity-day
    * count and max streak (q184's islands), and event-type breadth. One
    * keyed join tree over |users|-sized frames; every feature is exact
    * integer/decimal until its one rendering division. The point is the
    * COMPOSITION: feature pipelines are joins of audited parts, not a
    * monolith. Scale: all frames key on user_id — one shuffle key, AQE
    * coalesces the small ones to broadcasts.
    */
  val featureAssembly: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val ev = Dedup.pin(Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value")))
    val rfm = ev.groupBy(col("user_id"))
      .agg(max(unix_micros(col("ts"))).as("last_us"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"),
        coalesce(sum(when(col("event_type") === "purchase",
            col("value").cast("decimal(18,2)"))),
          lit(0).cast("decimal(18,2)")).cast("double").as("monetary"),
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gaps = ev
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap_us")).as("sum_gap"))
      .select(col("user_id"),
        round(col("sum_gap").cast("double") / col("n_gaps") / 1000000.0, 2)
          .as("mean_gap_s"))
    val days = ev.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val wD = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val streaks = days
      .withColumn("rn", row_number().over(wD))
      .withColumn("grp", date_sub(col("d"), col("rn")))
      .groupBy(col("user_id"), col("grp")).agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).as("active_days"), max(col("len")).as("max_streak"))
    rfm.join(gaps, Seq("user_id"), "left")
      .join(streaks, Seq("user_id"), "left")
      .select(col("user_id"), col("n_events"), col("n_types"),
        col("n_purchases"), round(col("monetary"), 2).as("monetary"),
        col("last_us"), col("mean_gap_s"), col("active_days"),
        col("max_streak"))
      .orderBy(col("user_id"))
  }

  val featureAssemblySql: String =
    """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |    event_type, value FROM events),
      |rfm AS (SELECT user_id, max(epoch_us(ts)) AS last_us,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_purchases,
      |    CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DOUBLE)
      |      AS monetary,
      |    count(*) AS n_events,
      |    CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
      |  FROM ev GROUP BY user_id),
      |g AS (SELECT user_id, epoch_us(ts)
      |      - epoch_us(lag(ts) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id)) AS gap_us FROM ev),
      |gaps AS (SELECT user_id,
      |    round(CAST(sum(gap_us) AS DOUBLE) / count(*) / 1000000.0, 2)
      |      AS mean_gap_s
      |  FROM g WHERE gap_us IS NOT NULL GROUP BY user_id),
      |days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM ev),
      |isl AS (SELECT user_id, d - CAST(row_number() OVER (PARTITION BY
      |    user_id ORDER BY d) AS INTEGER) AS grp FROM days),
      |st AS (SELECT user_id, CAST(sum(len) AS BIGINT) AS active_days,
      |    CAST(max(len) AS BIGINT) AS max_streak
      |  FROM (SELECT user_id, grp, count(*) AS len FROM isl
      |    GROUP BY user_id, grp) GROUP BY user_id)
      |SELECT rfm.user_id, n_events, n_types, n_purchases,
      |  round(monetary, 2) AS monetary, last_us, mean_gap_s,
      |  active_days, max_streak
      |FROM rfm LEFT JOIN gaps ON rfm.user_id = gaps.user_id
      |LEFT JOIN st ON rfm.user_id = st.user_id
      |ORDER BY rfm.user_id""".stripMargin

  /** Deterministic negative sampling for recommender/contrastive
    * training (the corpus-side half of q196's triplet mining, on the
    * interaction graph): for each purchasing user, K=4 candidate
    * negatives drawn by md5(user:k) over the part key space, then
    * positives removed by an anti-join — a candidate that collides with
    * a positive is DROPPED, not resampled (documented bias ≤ K·|pos|/N,
    * negligible at catalog scale; resampling would need a loop).
    * Everything is a pure function of the data; the positives anti-join
    * is the only shuffle. Output is the per-user negative count
    * histogram — |users|-bounded.
    */
  val negativeSampling: Q = (s, dir) => {
    val K = 4
    val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    val ords = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val pos = Dedup.pin(li.join(ords, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("user"), col("l_partkey").as("item"))
      .distinct())
    val nParts = t(s, dir, "part").agg(max(col("p_partkey")).as("np"))
    val cands = pos.select(col("user")).distinct()
      .crossJoin(broadcast(nParts))
      .select(col("user"), col("np"),
        explode(sequence(lit(0), lit(K - 1))).as("k"))
      .select(col("user"),
        (conv(substring(md5(concat(col("user").cast("string"), lit(":"),
          col("k").cast("string"))), 1, 15), 16, 10).cast("long")
          % col("np") + 1).as("item"))
      .distinct()
    cands.join(pos, Seq("user", "item"), "left_anti")
      .groupBy(col("user")).agg(count(lit(1)).as("n_negatives"))
      .groupBy(col("n_negatives")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_negatives"))
  }

  val negativeSamplingSql: String =
    """WITH pos AS (SELECT DISTINCT o_custkey AS usr, l_partkey AS item
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |np AS (SELECT max(p_partkey) AS np FROM part),
      |c AS (SELECT DISTINCT usr,
      |    ('0x'||substr(md5(CAST(usr AS VARCHAR)||':'
      |      ||CAST(k.range AS VARCHAR)), 1, 15))::BIGINT % np + 1 AS item
      |  FROM (SELECT DISTINCT usr FROM pos) CROSS JOIN np
      |  CROSS JOIN range(4) k),
      |neg AS (SELECT c.usr, c.item FROM c
      |  WHERE NOT EXISTS (SELECT 1 FROM pos
      |    WHERE pos.usr = c.usr AND pos.item = c.item)),
      |per AS (SELECT usr, count(*) AS n_negatives FROM neg GROUP BY usr)
      |SELECT n_negatives, count(*) AS n_users FROM per
      |GROUP BY n_negatives ORDER BY n_negatives""".stripMargin

  /** Per-user behavioral entropy (how PREDICTABLE is each user's event
    * mix — the personalization-readiness score; the user-level
    * complement of q163's corpus language entropy): Shannon entropy of
    * the per-user event-type distribution, each −p·ln p term rounded →
    * DECIMAL before the ≤|types|-term sum (the q126 ln discipline),
    * then a users-bounded histogram of entropy deciles. Scale: one
    * (user, type) count, terms on the |users|×|types| frame.
    */
  val behaviorEntropy: Q = (s, dir) => {
    val ut = Tables.events(s, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val tot = ut.groupBy(col("user_id")).agg(sum(col("n")).as("nt"))
    val ent = ut.join(tot, Seq("user_id"))
      .select(col("user_id"),
        round(-(col("n").cast("double") / col("nt").cast("double"))
          * log(col("n").cast("double") / col("nt").cast("double")), 8)
          .cast("decimal(18,8)").as("term"))
      .groupBy(col("user_id"))
      .agg(round(sum(col("term")).cast("double"), 6).as("entropy"))
    ent.select(col("user_id"),
        floor(col("entropy") * 10).cast("int").as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("decile"))
  }

  val behaviorEntropySql: String =
    """WITH ut AS (SELECT user_id, event_type, count(*) AS n FROM events
      |  GROUP BY 1, 2),
      |tt AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS nt FROM ut
      |  GROUP BY 1),
      |ent AS (SELECT ut.user_id,
      |    round(CAST(sum(CAST(round(-(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE))
      |      * ln(CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)), 8)
      |      AS DECIMAL(18,8))) AS DOUBLE), 6) AS entropy
      |  FROM ut JOIN tt ON ut.user_id = tt.user_id GROUP BY ut.user_id)
      |SELECT CAST(floor(entropy * 10) AS INTEGER) AS decile,
      |  count(*) AS n_users
      |FROM ent GROUP BY 1 ORDER BY 1""".stripMargin

  /** Signed-random-projection (SRP) calibration audit — q189's
    * estimator-under-hash-check discipline applied to the COSINE sketch
    * family (Charikar '02 §3: P[sign collision] = 1 − θ/π, the bound
    * q102's embedding LSH relies on): H=16 Rademacher hyperplanes whose
    * ±1 entries come from md5(h:d) — built as a 16×64 TABLE in both
    * engines, no literal matrix (the r6 janino lesson) — project every
    * vector (projection sums go float→STRING→decimal, the q68 route),
    * and for 20 anchors × md5-u-sampled candidates compare the
    * estimated angle (hamming/H) against the exact acos(cosine)/π.
    * Output: per-anchor mean |error| with each per-pair error rounded →
    * DECIMAL before averaging. Scale: projections are N·dims·H
    * row-local work; the pair frame is anchors × sample — both budgets
    * constant.
    */
  val srpCalibration: Q = (s, dir) => {
    val H = 16
    val emb = t(s, dir, "embeddings")
    // ±1 hyperplane entries from md5(h:d) — identical construction in SQL
    val planes = s.range(H.toLong).select(col("id").cast("int").as("h"))
      .crossJoin(s.range(64L).select((col("id") + 1).cast("int").as("d")))
      .select(col("h"), col("d"),
        when(conv(substring(md5(concat(col("h").cast("string"), lit(":"),
          col("d").cast("string"))), 1, 15), 16, 10).cast("long") % 2 === 0,
          1).otherwise(-1).as("sgn"))
    val comps = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "x")))
      .select(col("vec_id"), (col("p") + 1).as("d"),
        col("x").cast("string").cast("decimal(18,9)").as("xd"))
    val sig = Dedup.pin(comps.join(broadcast(planes), Seq("d"))
      .groupBy(col("vec_id"), col("h"))
      .agg(sum(col("sgn") * col("xd")).as("proj"))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("proj") >= 0,
        expr("shiftleft(CAST(1 AS BIGINT), h)")).otherwise(0L)).as("sg")))
    val anchors = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("aid"), col("embedding").as("av"))
    // constant-TARGET candidate stratum (q186 discipline): expected 500
    // candidates at any corpus size, so the pair frame never grows
    val nv = emb.agg(count(lit(1)).cast("double").as("n_vecs"))
    val cands = emb.crossJoin(broadcast(nv))
      .filter(conv(substring(md5(col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("double") / lit(math.pow(2, 60))
        < least(lit(1.0), lit(500.0) / col("n_vecs")))
      .select(col("vec_id").as("cid"), col("embedding").as("cv"))
    val pairs = anchors.join(cands, col("aid") < col("cid"))
      .withColumn("cos", graft.functions.VectorExpressions
        .cosine_similarity(col("av"), col("cv")))
      .join(sig.select(col("vec_id").as("aid"), col("sg").as("sa")), "aid")
      .join(sig.select(col("vec_id").as("cid"), col("sg").as("sc2")), "cid")
    pairs
      .select(col("aid"),
        round(abs(
          bit_count(col("sa").bitwiseXOR(col("sc2"))).cast("double") / H
            - acos(greatest(lit(-1.0), least(lit(1.0), col("cos"))))
              / math.Pi), 8).cast("decimal(18,8)").as("err"))
      .groupBy(col("aid"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("err")).cast("double") / count(lit(1)), 6)
          .as("mean_abs_err"))
      .orderBy(col("aid"))
  }

  val srpCalibrationSql: String =
    """WITH planes AS (SELECT CAST(h.range AS INTEGER) AS h,
      |    CAST(d.range + 1 AS INTEGER) AS d,
      |    CASE WHEN ('0x'||substr(md5(CAST(h.range AS VARCHAR)||':'
      |      ||CAST(d.range + 1 AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
      |      THEN 1 ELSE -1 END AS sgn
      |  FROM range(16) h CROSS JOIN range(64) d),
      |comps AS (SELECT vec_id, CAST(dd.range + 1 AS INTEGER) AS d,
      |    CAST(CAST(embedding[dd.range + 1] AS VARCHAR) AS DECIMAL(18,9))
      |      AS xd
      |  FROM embeddings CROSS JOIN range(64) dd),
      |proj AS (SELECT vec_id, h, sum(sgn * xd) AS proj
      |  FROM comps JOIN planes USING (d) GROUP BY vec_id, h),
      |sig AS (SELECT vec_id,
      |    CAST(sum(CASE WHEN proj >= 0 THEN 1::BIGINT << h ELSE 0 END)
      |      AS BIGINT) AS sg
      |  FROM proj GROUP BY vec_id),
      |v AS (SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |nv AS (SELECT CAST(count(*) AS DOUBLE) AS n_vecs FROM embeddings),
      |cands AS (SELECT vec_id, e FROM v CROSS JOIN nv
      |  WHERE ('0x'||substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
      |    / CAST(pow(2, 60) AS DOUBLE) < least(1.0, 500.0 / n_vecs)),
      |pr AS (SELECT a.vec_id AS aid, c.vec_id AS cid,
      |    list_dot_product(a.e, c.e) / (sqrt(list_dot_product(a.e, a.e))
      |      * sqrt(list_dot_product(c.e, c.e))) AS cos
      |  FROM v a JOIN cands c ON a.vec_id < 20 AND a.vec_id < c.vec_id),
      |err AS (SELECT aid,
      |    CAST(round(abs(
      |      CAST(bit_count(xor(sa.sg, sc.sg)) AS DOUBLE) / 16
      |      - acos(greatest(-1.0, least(1.0, cos))) / pi()), 8)
      |      AS DECIMAL(18,8)) AS err
      |  FROM pr JOIN sig sa ON pr.aid = sa.vec_id
      |  JOIN sig sc ON pr.cid = sc.vec_id)
      |SELECT aid, count(*) AS n_pairs,
      |  round(CAST(sum(err) AS DOUBLE) / count(*), 6) AS mean_abs_err
      |FROM err GROUP BY aid ORDER BY aid""".stripMargin

  /** Workload seasonality profile — the hour-of-week heat map capacity
    * planning reads (and the seasonal baseline q141's anomaly z-scores
    * normalize against): events bucketed into the 168-cell
    * (day-of-week, hour) grid with per-cell counts and the cell's
    * share of its day. dayofweek is normalized to the ISO convention
    * explicitly (Spark 1=Sunday vs DuckDB 0=Sunday — the q69 lesson).
    * All integer until the share division; the grid is fixed-size at
    * any scale.
    */
  val seasonalityProfile: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(dayofweek(col("ts")).as("dow_spark"), hour(col("ts")).as("hod"))
      .select((col("dow_spark") - 1).as("dow"), col("hod"))
    val cells = ev.groupBy(col("dow"), col("hod")).agg(count(lit(1)).as("n"))
    val perDay = cells.groupBy(col("dow")).agg(sum(col("n")).as("day_tot"))
    cells.join(broadcast(perDay), Seq("dow"))
      .select(col("dow"), col("hod"), col("n"),
        round(col("n").cast("double") / col("day_tot").cast("double"), 6)
          .as("day_share"))
      .orderBy(col("dow"), col("hod"))
  }

  val seasonalityProfileSql: String =
    """WITH e AS (SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS INTEGER)
      |    AS dow, CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hod
      |  FROM events),
      |c AS (SELECT dow, hod, count(*) AS n FROM e GROUP BY 1, 2),
      |d AS (SELECT dow, CAST(sum(n) AS BIGINT) AS day_tot FROM c
      |  GROUP BY 1)
      |SELECT c.dow, hod, n,
      |  round(CAST(n AS DOUBLE) / CAST(day_tot AS DOUBLE), 6) AS day_share
      |FROM c JOIN d ON c.dow = d.dow
      |ORDER BY c.dow, hod""".stripMargin

  /** Per-source scorecard — the "which sources do we keep" composite a
    * curation review reads, assembled (q231's composition discipline,
    * source-side) from three audited families: exact-dup token savings
    * (q225's keeper), mean quality score (decSum contract), and mean
    * doc length. The composite rank is integer: sources order by
    * (low dup savings, high quality) via exact sort keys, no weighted
    * float blend — a blend would demand a justified weighting; the
    * lexicographic rank is the audit-grade default. Scale: three
    * |sources|-row frames joined on one key.
    */
  val sourceScorecard: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Dedup.pin(t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextStats.fingerprint(col("text")).as("fp"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tok"),
        TextStats.qualityScore(col("text")).as("q"),
        col("n_chars")))
    val keep = docs.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    val kept = docs.join(keep, Seq("fp", "doc_id"), "left_semi")
      .groupBy(col("source")).agg(sum(col("n_tok")).as("kept_tok"))
    val base = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("raw_tok"),
        sum(col("n_chars")).as("chars"),
        sum(round(col("q"), 6).cast("decimal(18,6)")).as("qsum"))
    val joined = base.join(kept, Seq("source"))
      .select(col("source"), col("n_docs"),
        (col("raw_tok") - col("kept_tok")).as("dup_tok"),
        round(col("qsum").cast("double") / col("n_docs"), 6).as("mean_q"),
        round(col("chars").cast("double") / col("n_docs"), 2)
          .as("mean_chars"),
        col("qsum"))
    joined
      .withColumn("rank", row_number().over(Window.partitionBy(lit(1))
        .orderBy(col("dup_tok"), col("qsum").desc, col("source"))))
      .select(col("rank"), col("source"), col("n_docs"), col("dup_tok"),
        col("mean_q"), col("mean_chars"))
      .orderBy(col("rank"))
  }

  val sourceScorecardSql: String =
    """WITH d AS (SELECT doc_id, source,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      |    CAST(length(regexp_extract_all(lower(text), '\S+')) AS BIGINT)
      |      AS n_tok,
      |    round(
      |      least(CAST(length(regexp_extract_all(text, '\S+')) AS DOUBLE)
      |        / 50.0, 1.0) * 0.4
      |    + (1.0 - least(CAST(length(regexp_extract_all(text,
      |        '[[:punct:]]')) AS DOUBLE)
      |        / greatest(CAST(length(text) AS DOUBLE), 1.0) * 4.0, 1.0))
      |        * 0.3
      |    + least(CAST(length(regexp_extract_all(lower(text),
      |        '\b(the|a|an|and|of|to|in|is|it)\b')) AS DOUBLE)
      |        / greatest(CAST(length(regexp_extract_all(text, '\S+'))
      |          AS DOUBLE), 1.0) * 4.0, 1.0) * 0.3, 6) AS q,
      |    n_chars FROM documents),
      |k AS (SELECT fp, min(doc_id) AS doc_id FROM d GROUP BY fp),
      |kept AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS kept_tok
      |  FROM d JOIN k USING (fp, doc_id) GROUP BY source),
      |base AS (SELECT source, count(*) AS n_docs,
      |    CAST(sum(n_tok) AS BIGINT) AS raw_tok,
      |    CAST(sum(n_chars) AS BIGINT) AS chars,
      |    sum(CAST(q AS DECIMAL(18,6))) AS qsum
      |  FROM d GROUP BY source),
      |j AS (SELECT base.source, n_docs, raw_tok - kept_tok AS dup_tok,
      |    round(CAST(qsum AS DOUBLE) / n_docs, 6) AS mean_q,
      |    round(CAST(chars AS DOUBLE) / n_docs, 2) AS mean_chars, qsum
      |  FROM base JOIN kept ON base.source = kept.source)
      |SELECT CAST(row_number() OVER (ORDER BY dup_tok, qsum DESC, source)
      |    AS INTEGER) AS rank,
      |  source, n_docs, dup_tok, mean_q, mean_chars
      |FROM j ORDER BY rank""".stripMargin

  /** Watermark-lateness audit under backfill replay — the batch
    * analysis that SIZES the streaming gates' watermarks
    * (q177/q208/q209) for the WORST realistic arrival order: a backfill
    * that replays events md5-shuffled (live ingest is near-ordered —
    * measured lateness 0 on this corpus — but replay/backfill is not,
    * and that is the case a watermark must survive). Arrival order =
    * md5(event_id); each event's lateness is the running max event-time
    * seen so far minus its own — exact integer µs off one window pass —
    * bucketed into power-of-4-minute classes with cumulative share. The
    * report reads directly as "a W-minute watermark passes X% of a
    * shuffled replay". Scale: one arrival-order window — at 100 TB this
    * runs per replay partition (arrival order is only defined within
    * one), which is exactly how the production question is posed.
    */
  val latenessAudit: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    // two-phase global running max over the replay order (r8: the old
    // Window.partitionBy(lit(1)) funneled the whole events corpus
    // through ONE partition — the exact q178 hazard class; see Ranks)
    val late = Ranks.globalRunningMax(
      Tables.events(s, dir)
        .select(col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("arr",
          conv(substring(md5(col("event_id").cast("string")), 1, 15),
            16, 10).cast("long")),
      Seq(col("arr"), col("event_id")), col("us"), "run_max")
      // integer div — `/` is double division in BOTH engines, and the
      // double→int cast then TRUNCATES in Spark but ROUNDS in DuckDB
      .select(expr("(run_max - us) div 60000000").as("late_min"))
      .select(
        when(col("late_min") === 0, 0)
          .when(col("late_min") <= 4, 1)
          .when(col("late_min") <= 16, 2)
          .when(col("late_min") <= 64, 3)
          .when(col("late_min") <= 256, 4).otherwise(5).as("bucket"))
    val cells = late.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    val tot = cells.agg(sum(col("n")).as("nt"))
    val wc = Window.partitionBy(lit(1)).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.withColumn("cum", sum(col("n")).over(wc))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("n"),
        round(col("cum").cast("double") / col("nt").cast("double"), 6)
          .as("cum_share"))
      .orderBy(col("bucket"))
  }

  val latenessAuditSql: String =
    """WITH l AS (SELECT (max(epoch_us(CAST(ts AS TIMESTAMP)))
      |      OVER (ORDER BY ('0x'||substr(md5(CAST(event_id AS VARCHAR)),
      |        1, 15))::BIGINT, event_id)
      |      - epoch_us(CAST(ts AS TIMESTAMP))) // 60000000 AS late_min
      |  FROM events),
      |b AS (SELECT CASE WHEN late_min = 0 THEN 0 WHEN late_min <= 4 THEN 1
      |    WHEN late_min <= 16 THEN 2 WHEN late_min <= 64 THEN 3
      |    WHEN late_min <= 256 THEN 4 ELSE 5 END AS bucket FROM l),
      |c AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM c)
      |SELECT bucket, n,
      |  round(CAST(sum(n) OVER (ORDER BY bucket) AS DOUBLE)
      |    / CAST(nt AS DOUBLE), 6) AS cum_share
      |FROM c CROSS JOIN t ORDER BY bucket""".stripMargin

  /** Split-balance KS audit — the acceptance test for q223's
    * group-aware folds: the max pairwise two-sample KS distance between
    * fold length-distributions (all 10 fold pairs). A leakage-SAFE
    * split can still be length-SKEWED (big near-dup clusters drag whole
    * mass into one fold); this is the check that catches it. Same
    * value-domain discipline as q181: per-(len, fold) counts, dense
    * grid, per-fold cumulative windows — the KS sup runs over distinct
    * lens, never docs. Folds² = 10 pairs, output one row per pair.
    */
  val foldBalance: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val pairs = Dedup.blockedJaccardPairs(docs, "text", "doc_id",
      Seq("lang", "n_chars"), threshold = 0.5)
    val cl = Dedup.clusters(pairs)
      .select(col("id").as("doc_id"), col("cluster_id"))
    val folded = Dedup.pin(docs.select(col("doc_id"), col("n_chars").as("len"))
      .join(cl, Seq("doc_id"), "left")
      .select(col("len"),
        (conv(substring(md5(coalesce(col("cluster_id"), col("doc_id"))
          .cast("string")), 1, 15), 16, 10).cast("long") % 5).cast("int")
          .as("fold")))
    val c = folded.groupBy(col("len"), col("fold")).agg(count(lit(1)).as("cnt"))
    val grid = folded.select(col("len")).distinct()
      .crossJoin(broadcast(folded.select(col("fold")).distinct()))
    val cum = grid.join(c, Seq("len", "fold"), "left")
      .select(col("len"), col("fold"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("fold")).orderBy(col("len"))))
    val ns = folded.groupBy(col("fold")).agg(count(lit(1)).as("n"))
    val withN = cum.join(broadcast(ns), Seq("fold"))
    withN.as("a").join(withN.as("b"),
        col("a.len") === col("b.len") && col("a.fold") < col("b.fold"))
      .groupBy(col("a.fold").as("fold_a"), col("b.fold").as("fold_b"))
      .agg(round(max(abs(
        col("a.cum").cast("double") / col("a.n")
          - col("b.cum").cast("double") / col("b.n"))), 6).as("ks"))
      .orderBy(col("fold_a"), col("fold_b"))
  }

  val foldBalanceSql: String =
    """WITH RECURSIVE toks AS (
      | SELECT doc_id, lang, n_chars,
      |  list_distinct(regexp_extract_all(lower(text), '\S+')) AS tok
      | FROM documents WHERE length(regexp_extract_all(lower(text), '\S+')) > 0),
      |edges AS (
      | SELECT l.doc_id AS a, r.doc_id AS b
      | FROM toks l JOIN toks r
      |   ON l.lang = r.lang AND l.n_chars = r.n_chars AND l.doc_id < r.doc_id
      | WHERE CAST(length(list_intersect(l.tok, r.tok)) AS DOUBLE) /
      |       length(list_distinct(list_concat(l.tok, r.tok))) >= 0.5),
      |sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
      |reach AS (SELECT a, b FROM sym
      |  UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a),
      |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      |  FROM reach GROUP BY a),
      |f AS (SELECT d.n_chars AS len,
      |    CAST(('0x'||substr(md5(CAST(coalesce(cluster_id, d.doc_id)
      |      AS VARCHAR)), 1, 15))::BIGINT % 5 AS INTEGER) AS fold
      |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
      |c AS (SELECT len, fold, count(*) AS cnt FROM f GROUP BY 1, 2),
      |grid AS (SELECT DISTINCT l.len, fo.fold FROM
      |  (SELECT DISTINCT len FROM f) l
      |  CROSS JOIN (SELECT DISTINCT fold FROM f) fo),
      |cum AS (SELECT grid.len, grid.fold,
      |    sum(coalesce(cnt, 0)) OVER (PARTITION BY grid.fold
      |      ORDER BY grid.len) AS cum
      |  FROM grid LEFT JOIN c ON grid.len = c.len AND grid.fold = c.fold),
      |ns AS (SELECT fold, count(*) AS n FROM f GROUP BY fold),
      |wn AS (SELECT cum.*, n FROM cum JOIN ns ON cum.fold = ns.fold)
      |SELECT a.fold AS fold_a, b.fold AS fold_b,
      |  round(max(abs(CAST(a.cum AS DOUBLE) / a.n
      |    - CAST(b.cum AS DOUBLE) / b.n)), 6) AS ks
      |FROM wn a JOIN wn b ON a.len = b.len AND a.fold < b.fold
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Quality-keeper selection within near-dup clusters — the keeper
    * POLICY layer over q65's components (exact-dup groups can't
    * disagree on content policies — identical text — but near-dup
    * clusters can, and "keep the best, not the first" is the Gopher/
    * RefinedWeb practice): per cluster, the argmax of (quality-decimal,
    * −doc_id) via one struct-max, reported against the min-id baseline
    * with the per-cluster quality delta. Quality enters as
    * round→DECIMAL so the argmax key is exact. Output clusters-bounded.
    */
  val clusterKeeper: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val pairs = Dedup.blockedJaccardPairs(docs, "text", "doc_id",
      Seq("lang", "n_chars"), threshold = 0.5)
    val cl = Dedup.clusters(pairs)
      .select(col("id").as("doc_id"), col("cluster_id"))
    val members = docs.join(cl, Seq("doc_id"))
      .select(col("cluster_id"), col("doc_id"),
        round(TextStats.qualityScore(col("text")), 6)
          .cast("decimal(18,6)").as("q"))
    members.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        min(col("doc_id")).as("first_keeper"),
        max(struct(col("q"), (-col("doc_id")).as("nid"))).as("m"),
        min(col("q")).as("q_min"))
      .select(col("cluster_id"), col("n_members"), col("first_keeper"),
        (-col("m.nid")).as("best_keeper"),
        col("m.q").cast("double").as("q_best"),
        (col("m.q") - col("q_min")).cast("double").as("q_spread"),
        (col("first_keeper") =!= -col("m.nid")).as("policy_differs"))
      .orderBy(col("cluster_id"))
  }

  val clusterKeeperSql: String =
    """WITH RECURSIVE toks AS (
      | SELECT doc_id, lang, n_chars,
      |  list_distinct(regexp_extract_all(lower(text), '\S+')) AS tok
      | FROM documents WHERE length(regexp_extract_all(lower(text), '\S+')) > 0),
      |edges AS (
      | SELECT l.doc_id AS a, r.doc_id AS b
      | FROM toks l JOIN toks r
      |   ON l.lang = r.lang AND l.n_chars = r.n_chars AND l.doc_id < r.doc_id
      | WHERE CAST(length(list_intersect(l.tok, r.tok)) AS DOUBLE) /
      |       length(list_distinct(list_concat(l.tok, r.tok))) >= 0.5),
      |sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
      |reach AS (SELECT a, b FROM sym
      |  UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a),
      |cl AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      |  FROM reach GROUP BY a),
      |m AS (SELECT cluster_id, d.doc_id,
      |    CAST(round(
      |      least(CAST(length(regexp_extract_all(text, '\S+')) AS DOUBLE)
      |        / 50.0, 1.0) * 0.4
      |    + (1.0 - least(CAST(length(regexp_extract_all(text,
      |        '[[:punct:]]')) AS DOUBLE)
      |        / greatest(CAST(length(text) AS DOUBLE), 1.0) * 4.0, 1.0))
      |        * 0.3
      |    + least(CAST(length(regexp_extract_all(lower(text),
      |        '\b(the|a|an|and|of|to|in|is|it)\b')) AS DOUBLE)
      |        / greatest(CAST(length(regexp_extract_all(text, '\S+'))
      |          AS DOUBLE), 1.0) * 4.0, 1.0) * 0.3, 6) AS DECIMAL(18,6))
      |      AS q
      |  FROM documents d JOIN cl ON d.doc_id = cl.doc_id),
      |pick AS (SELECT cluster_id, doc_id AS best_keeper, q AS q_best
      |  FROM (SELECT m.*, row_number() OVER (PARTITION BY cluster_id
      |      ORDER BY q DESC, doc_id) AS rn FROM m) WHERE rn = 1)
      |SELECT m.cluster_id, count(*) AS n_members,
      |  CAST(min(m.doc_id) AS BIGINT) AS first_keeper,
      |  CAST(max(best_keeper) AS BIGINT) AS best_keeper,
      |  CAST(max(q_best) AS DOUBLE) AS q_best,
      |  CAST(max(q_best) - min(q) AS DOUBLE) AS q_spread,
      |  min(m.doc_id) <> max(best_keeper) AS policy_differs
      |FROM m JOIN pick ON m.cluster_id = pick.cluster_id
      |GROUP BY m.cluster_id ORDER BY m.cluster_id""".stripMargin

  /** Layout-pruning comparison: WHY z-order beats linear clustering for
    * multi-dimensional range scans, measured analytically (the scan-IO
    * model behind q111's morton key): for a 2-D box predicate on
    * (p_size band, key band), count how many 256-row "files" contain at
    * least one matching row under (a) key-sorted layout and (b)
    * morton-sorted layout. Fewer touched files = more row groups
    * skipped by min/max stats at scan time. File ids are row_number
    * div 256 under each ordering — exact integers; the result is the
    * pruning argument as a hash-checked number, not prose. Scale: the
    * global ranks under each ordering come from the two-phase
    * [[Ranks.globalRowNumber]] (r8 sweep — the old partitionBy(lit(1))
    * window funneled the whole part table through one partition), so
    * both layouts rank as P-way range shuffles.
    */
  val layoutPruning: Q = (s, dir) => {
    val base = Dedup.pin(t(s, dir, "part")
      .select(col("p_partkey"), col("p_size"),
        (col("p_partkey") % 1024).cast("int").as("pk_lo"))
      .withColumn("z", graft.functions.VectorExpressions
        .morton_interleave(col("p_size"), col("pk_lo"))))
    val hit = col("p_size").between(10, 20) && col("pk_lo").between(100, 300)
    def touched(order: Column, label: String) =
      Ranks.globalRowNumber(base, Seq(order, col("p_partkey")), "rn")
      .withColumn("file_id", expr("(rn - 1) div 256"))
      .filter(hit)
      .agg(lit(label).as("layout"),
        countDistinct(col("file_id")).as("files_touched"),
        count(lit(1)).as("rows_matched"))
    touched(col("p_partkey"), "linear_key")
      .unionAll(touched(col("z"), "morton"))
      .orderBy(col("layout"))
  }

  val layoutPruningSql: String =
    """WITH b AS (SELECT p_partkey, p_size,
      |    CAST(p_partkey % 1024 AS INTEGER) AS pk_lo,
      |    CAST(list_sum(list_transform(generate_series(0, 15),
      |      i -> ((p_size >> i) & 1) * (CAST(1 AS BIGINT) << (2*i))
      |        + (((p_partkey % 1024) >> i) & 1)
      |          * (CAST(1 AS BIGINT) << (2*i + 1)))) AS BIGINT) AS z
      |  FROM part),
      |lin AS (SELECT *, (row_number() OVER (ORDER BY p_partkey, p_partkey)
      |    - 1) // 256 AS file_id FROM b),
      |mor AS (SELECT *, (row_number() OVER (ORDER BY z, p_partkey)
      |    - 1) // 256 AS file_id FROM b),
      |u AS (
      |  SELECT 'linear_key' AS layout,
      |    CAST(count(DISTINCT file_id) AS BIGINT) AS files_touched,
      |    count(*) AS rows_matched
      |  FROM lin WHERE p_size BETWEEN 10 AND 20
      |    AND pk_lo BETWEEN 100 AND 300
      |  UNION ALL
      |  SELECT 'morton',
      |    CAST(count(DISTINCT file_id) AS BIGINT), count(*)
      |  FROM mor WHERE p_size BETWEEN 10 AND 20
      |    AND pk_lo BETWEEN 100 AND 300)
      |SELECT layout, files_touched, rows_matched FROM u
      |ORDER BY layout""".stripMargin

  /** Join-cardinality estimation under hash-check — the optimizer-style
    * pre-flight ("how big will this join be?") that decides broadcast
    * vs sort-merge vs salting BEFORE the shuffle ships: a deterministic
    * md5-u key sample (rate 1/8) of the orders⋈lineitem key space
    * estimates |A⋈B| as 8·Σ_sampled n_a(k)·n_b(k) — sampling KEYS (not
    * rows) keeps per-key frequency products unbiased. The gate reports
    * estimate, exact, and signed relative error — the estimator itself
    * under oracle check (q189/q234 discipline, applied to the
    * optimizer's statistic). All integer except the one error division.
    * Scale: per-key counts are the join's own keyed aggs at 1/8 key
    * mass; the estimate never materializes the join.
    */
  val joinCardEstimate: Q = (s, dir) => {
    val ka = Dedup.pin(t(s, dir, "orders")
      .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("na")))
    val kb = Dedup.pin(t(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("nb")))
    val sampled = ka.join(kb, Seq("k"))
      .filter(conv(substring(md5(col("k").cast("string")), 1, 15), 16, 10)
        .cast("long") % 8 === 0)
      .agg(sum(col("na") * col("nb")).as("s"))
      .select((col("s") * 8).as("estimate"))
    val exact = ka.join(kb, Seq("k"))
      .agg(sum(col("na") * col("nb")).as("exact_rows"))
    sampled.crossJoin(exact)
      .select(col("estimate"), col("exact_rows"),
        round((col("estimate") - col("exact_rows")).cast("double")
          / col("exact_rows").cast("double"), 6).as("rel_err"))
  }

  val joinCardEstimateSql: String =
    """WITH ka AS (SELECT o_orderkey AS k, count(*) AS na FROM orders
      |  GROUP BY 1),
      |kb AS (SELECT l_orderkey AS k, count(*) AS nb FROM lineitem
      |  GROUP BY 1),
      |j AS (SELECT ka.k, na, nb FROM ka JOIN kb ON ka.k = kb.k),
      |est AS (SELECT CAST(sum(na * nb) * 8 AS BIGINT) AS estimate FROM j
      |  WHERE ('0x'||substr(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT
      |    % 8 = 0),
      |ex AS (SELECT CAST(sum(na * nb) AS BIGINT) AS exact_rows FROM j)
      |SELECT estimate, exact_rows,
      |  round(CAST(estimate - exact_rows AS DOUBLE)
      |    / CAST(exact_rows AS DOUBLE), 6) AS rel_err
      |FROM est CROSS JOIN ex""".stripMargin

  /** Incremental JOIN-view maintenance — the delta-join algebra that
    * completes q171's aggregate-IVM story: a materialized
    * orders⋈customer view updated for a day-2 delta batch as
    * V' = V ∪ (ΔA⋈B) (customer dimension static here; the general form
    * adds A⋈ΔB ∪ ΔA⋈ΔB — same plan shape, delta-keyed joins only).
    * Day-1 view = orders with o_orderkey % 10 ≠ 0; the delta = the
    * held-out tenth. The gate hash-checks the MAINTAINED view against a
    * full recompute — maintenance ≡ recompute, the IVM contract, per
    * (nation, status) rollup with decimal money. Scale: day-2 cost is
    * |Δ|-keyed work only — the full fact table is never rescanned.
    */
  val joinIvm: Q = (s, dir) => {
    val cust = t(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val orders = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    def viewOf(o: org.apache.spark.sql.DataFrame) =
      o.join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("price")).as("rev"))
    val day1 = viewOf(orders.filter(col("o_orderkey") % 10 =!= 0))
    val deltaV = viewOf(orders.filter(col("o_orderkey") % 10 === 0))
    // maintenance: merge the delta view into the materialized partials
    val maintained = day1
      .unionByName(deltaV)
      .groupBy(col("c_nationkey"), col("o_orderstatus"))
      .agg(sum(col("n")).as("n"), sum(col("rev")).as("rev"))
    maintained
      .select(col("c_nationkey"), col("o_orderstatus"), col("n"),
        col("rev").cast("double").as("revenue"))
      .orderBy(col("c_nationkey"), col("o_orderstatus"))
  }

  val joinIvmSql: String =
    """SELECT c_nationkey, o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Dedup-threshold sensitivity sweep — the tuning curve read before
    * committing a near-dup threshold fleet-wide ("how many pairs does
    * each threshold admit?"): the blocked exact-Jaccard pair frame is
    * computed ONCE at the lowest threshold of interest (0.3) and each
    * candidate threshold's admitted-pair count and mean similarity come
    * from bucketing that single frame — never one pair pass per
    * threshold. Mean similarity re-enters DECIMAL from per-pair rounded
    * values. Output |thresholds| rows; scale = one q23-shaped blocked
    * pair computation.
    */
  val thresholdSweep: Q = (s, dir) => {
    val pairs = Dedup.pin(Dedup.blockedJaccardPairs(
        t(s, dir, "documents"), "text", "doc_id",
        Seq("lang", "n_chars"), threshold = 0.3)
      .select(round(col("jaccard"), 6).cast("decimal(18,6)").as("j")))
    val th = Seq(0.3, 0.5, 0.7, 0.9)
    th.map { t0 =>
      pairs.filter(col("j") >= t0)
        .agg(lit(t0).as("threshold"), count(lit(1)).as("n_pairs"),
          round(coalesce(sum(col("j")).cast("double")
            / count(lit(1)), lit(0.0)), 6).as("mean_j"))
    }.reduce(_ unionAll _).orderBy(col("threshold"))
  }

  val thresholdSweepSql: String =
    """WITH toks AS (
      | SELECT doc_id, lang, n_chars,
      |  list_distinct(regexp_extract_all(lower(text), '\S+')) AS tok
      | FROM documents WHERE length(regexp_extract_all(lower(text), '\S+')) > 0),
      |p AS (
      | SELECT CAST(round(
      |     CAST(length(list_intersect(l.tok, r.tok)) AS DOUBLE) /
      |     length(list_distinct(list_concat(l.tok, r.tok))), 6)
      |   AS DECIMAL(18,6)) AS j
      | FROM toks l JOIN toks r
      |   ON l.lang = r.lang AND l.n_chars = r.n_chars AND l.doc_id < r.doc_id
      | WHERE CAST(length(list_intersect(l.tok, r.tok)) AS DOUBLE) /
      |       length(list_distinct(list_concat(l.tok, r.tok))) >= 0.3),
      |th AS (SELECT CAST(unnest([0.3, 0.5, 0.7, 0.9]) AS DOUBLE)
      |  AS threshold)
      |SELECT threshold, count(j) AS n_pairs,
      |  round(coalesce(CAST(sum(j) AS DOUBLE) / count(j), 0.0), 6)
      |    AS mean_j
      |FROM th LEFT JOIN p ON j >= threshold
      |GROUP BY threshold ORDER BY threshold""".stripMargin

  /** Cohort LTV curves — q139's retention matrix upgraded to MONEY (the
    * curve an acquisition budget is set against): users cohorted by
    * first-activity week, cumulative purchase value per cohort at each
    * week-age. Money rides DECIMAL cents end-to-end; the cumulative is
    * a window over the cohorts×ages grid (≤ 5×5 here), never over
    * events; ages derive from exact integer week arithmetic on
    * epoch-days (no float date math). Scale: one per-user min, one
    * (cohort, age) rollup, windows on the tiny grid.
    */
  val ltvCurves: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val raw = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
    // anchor weeks at the DATA's min date (no wall clock, no hardcoded
    // corpus date — the q198 recency-anchor discipline)
    val anchor = raw.agg(min(to_date(col("ts"))).as("d0"))
    val ev = raw.crossJoin(broadcast(anchor))
      .withColumn("week",
        expr("CAST(datediff(to_date(ts), d0) AS INT) div 7"))
    val first = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort"))
    val cells = ev.filter(col("event_type") === "purchase")
      .join(first, Seq("user_id"))
      .groupBy(col("cohort"), (col("week") - col("cohort")).as("age"))
      .agg(sum(col("cents")).as("cents"),
        countDistinct(col("user_id")).as("n_buyers"))
    val sizes = first.groupBy(col("cohort")).agg(count(lit(1)).as("n_users"))
    cells.join(broadcast(sizes), Seq("cohort"))
      .withColumn("cum_cents", sum(col("cents")).over(
        Window.partitionBy(col("cohort")).orderBy(col("age"))))
      .select(col("cohort"), col("age"), col("n_users"), col("n_buyers"),
        round(col("cum_cents").cast("double")
          / (col("n_users") * 100).cast("double"), 4).as("ltv_per_user"))
      .orderBy(col("cohort"), col("age"))
  }

  val ltvCurvesSql: String =
    """WITH a AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
      |ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    CAST(datediff('day', d0, CAST(ts AS DATE))
      |      AS INTEGER) // 7 AS week
      |  FROM events CROSS JOIN a),
      |f AS (SELECT user_id, CAST(min(week) AS INTEGER) AS cohort FROM ev
      |  GROUP BY user_id),
      |c AS (SELECT cohort, CAST(week - cohort AS INTEGER) AS age,
      |    CAST(sum(cents) AS BIGINT) AS cents,
      |    CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_buyers
      |  FROM ev JOIN f ON ev.user_id = f.user_id
      |  WHERE event_type = 'purchase' GROUP BY 1, 2),
      |sz AS (SELECT cohort, count(*) AS n_users FROM f GROUP BY 1)
      |SELECT c.cohort, age, n_users, n_buyers,
      |  round(CAST(sum(cents) OVER (PARTITION BY c.cohort ORDER BY age)
      |    AS DOUBLE) / CAST(n_users * 100 AS DOUBLE), 4) AS ltv_per_user
      |FROM c JOIN sz ON c.cohort = sz.cohort
      |ORDER BY c.cohort, age""".stripMargin

  /** Hill tail-index estimator (Hill '75) for the document-length
    * distribution — the heavy-tail diagnostic that decides whether
    * max-length truncation budgets can be set from means or must use
    * quantiles (q130's Zipf slope is the RANK law; Hill is the TAIL
    * law): α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the k=100 largest lengths.
    * The top-(k+1) order statistics come from one TakeOrdered; each ln
    * ratio is rounded → DECIMAL before the k-term sum (the q126 ln
    * discipline), so the estimator is bit-stable. Output one row with
    * the implied tail exponent. Scale: TakeOrdered never sorts the
    * corpus; all arithmetic on k+1 rows.
    */
  val hillTail: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val k = 100
    val top = t(s, dir, "documents")
      .select(col("n_chars").cast("double").as("x"), col("doc_id"))
      .orderBy(col("x").desc, col("doc_id")).limit(k + 1)
    val ranked = top.withColumn("rn", row_number().over(
      Window.partitionBy(lit(1)).orderBy(col("x").desc, col("doc_id"))))
    val xk1 = ranked.filter(col("rn") === k + 1)
      .select(col("x").as("xk"))
    ranked.filter(col("rn") <= k).crossJoin(broadcast(xk1))
      .select(round(log(col("x") / col("xk")), 8)
        .cast("decimal(18,8)").as("term"))
      .agg(count(lit(1)).as("k"),
        round(sum(col("term")).cast("double"), 8).as("sum_ln"),
        round(lit(k.toDouble) / sum(col("term")).cast("double"), 6)
          .as("alpha_hat"))
  }

  val hillTailSql: String =
    """WITH top AS (SELECT CAST(n_chars AS DOUBLE) AS x, doc_id,
      |    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents),
      |xk AS (SELECT x AS xk FROM top WHERE rn = 101),
      |terms AS (SELECT CAST(round(ln(x / xk), 8) AS DECIMAL(18,8)) AS term
      |  FROM top CROSS JOIN xk WHERE rn <= 100)
      |SELECT count(*) AS k,
      |  round(CAST(sum(term) AS DOUBLE), 8) AS sum_ln,
      |  round(100.0 / CAST(sum(term) AS DOUBLE), 6) AS alpha_hat
      |FROM terms""".stripMargin

  /** Week-over-week event-mix drift (χ² homogeneity of each week's
    * event-type distribution against the pooled corpus — the
    * weekly-cadence complement of q181's KS and q166's KL: the alarm a
    * pipeline owner pages on when a release shifts the event mix):
    * weeks anchor at the data's min date (q198 discipline), the
    * weeks×types cell grid is fixed-size, and each χ² term
    * (n_wt − E)²/E with E = n_w·n_t/N derives from exact integers as
    * ((N·n_wt − n_w·n_t)²)/(N·n_w·n_t) — one float division per cell,
    * rounded → DECIMAL before the per-week sum (the q200/q229
    * discipline). Scale: one keyed count over the grid.
    */
  val typeDrift: Q = (s, dir) => {
    val raw = Tables.events(s, dir).select(col("ts"), col("event_type"))
    val anchor = raw.agg(min(to_date(col("ts"))).as("d0"))
    val cells = Dedup.pin(raw.crossJoin(broadcast(anchor))
      .withColumn("week", expr("CAST(datediff(to_date(ts), d0) AS INT) div 7"))
      .groupBy(col("week"), col("event_type")).agg(count(lit(1)).as("n")))
    val perW = cells.groupBy(col("week")).agg(sum(col("n")).as("nw"))
    val perT = cells.groupBy(col("event_type")).agg(sum(col("n")).as("nt"))
    val tot = cells.agg(sum(col("n")).as("ntot"))
    cells.join(broadcast(perW), Seq("week"))
      .join(broadcast(perT), Seq("event_type"))
      .crossJoin(broadcast(tot))
      .select(col("week"), {
        // N·n_wt − n_w·n_t in DECIMAL(38,0) (int64 wraps silently at
        // corpus scale while DuckDB raises — ADVICE r7); the square and
        // the triple-product denominator run in double, where neither
        // can wrap and both engines agree bit-for-bit
        val d = (col("ntot").cast("decimal(38,0)") * col("n")
          - col("nw").cast("decimal(38,0)") * col("nt")).cast("double")
        round(d * d / (col("ntot").cast("double") * col("nw").cast("double")
          * col("nt").cast("double")), 8)
          .cast("decimal(18,8)").as("term")
      })
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n_types"),
        round(sum(col("term")).cast("double"), 8).as("chi2"))
      .orderBy(col("week"))
  }

  val typeDriftSql: String =
    """WITH a AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
      |c AS (SELECT CAST(datediff('day', d0, CAST(ts AS DATE)) AS INTEGER)
      |    // 7 AS week, event_type, count(*) AS n
      |  FROM events CROSS JOIN a GROUP BY 1, 2),
      |pw AS (SELECT week, CAST(sum(n) AS BIGINT) AS nw FROM c GROUP BY 1),
      |pt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS nt FROM c
      |  GROUP BY 1),
      |tt AS (SELECT CAST(sum(n) AS BIGINT) AS ntot FROM c)
      |SELECT c.week, count(*) AS n_types,
      |  round(CAST(sum(CAST(round(
      |    CAST(CAST(ntot AS HUGEINT) * n - CAST(nw AS HUGEINT) * nt
      |      AS DOUBLE)
      |    * CAST(CAST(ntot AS HUGEINT) * n - CAST(nw AS HUGEINT) * nt
      |      AS DOUBLE)
      |    / (CAST(ntot AS DOUBLE) * CAST(nw AS DOUBLE)
      |      * CAST(nt AS DOUBLE)), 8) AS DECIMAL(18,8)))
      |    AS DOUBLE), 8) AS chi2
      |FROM c JOIN pw ON c.week = pw.week
      |JOIN pt ON c.event_type = pt.event_type CROSS JOIN tt
      |GROUP BY c.week ORDER BY c.week""".stripMargin
}
