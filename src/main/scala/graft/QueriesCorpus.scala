package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{Readers, Writers}
import graft.ops.{Dedup, Layout, Multimodal, Ranks, SimSearch, Skew, TextStats, TopK}
import graft.transform.{Canonicalize, Enrich, Harmonize, Normalize}
import graft.quality.Expectations._
import graft.streaming.{EventStreams, Staging}

/** Round-5 corpus surgery & layout: packing, splits, sharding, manifests.
  *
  * Mechanical split of the former single-file catalog (r10 verdict
  * hygiene note): one trait per family, linear chain, zero behavior
  * change. `Queries` mixes the chain in; each query registers once in
  * `Queries.declared`, plan and oracle SQL together.
  */
trait QueriesCorpus extends QueriesIngest {
  // ==================================== round 5: corpus surgery & layout

  /** Passage-level exact dedup (the cross-document repeated-passage removal
    * of Lee et al. '22 "Deduplicating Training Data Makes Language Models
    * Better", hash-granularity variant): each document is cut into
    * consecutive 20-token passages, every passage is fingerprinted, and a
    * passage survives only if it is the corpus-wide FIRST occurrence of its
    * fingerprint (order = (doc_id, position)); surviving passages are
    * reassembled in order and the result is emitted as an md5 so the gate
    * is byte-exact without shipping text. Scale shape: the passage table is
    * pinned once (feeds both the first-occurrence aggregation and the keep
    * probe), the dedup decision is a hash aggregation keyed on the 32-hex
    * fingerprint — never a corpus sort — and reassembly groups only
    * surviving passages per doc. Docs whose every passage occurred earlier
    * elsewhere vanish (nothing left to reassemble) on both engines.
    */
  val passageDedup: Q = (s, dir) => {
    val P = 20
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), TextStats.tokens(col("text")).as("tok"))
      .filter(size(col("tok")) > 0)
      .select(col("doc_id"), col("tok"), size(col("tok")).cast("long").as("n_tok"))
    val passages = Dedup.pin(
      toks.select(col("doc_id"),
          expr(s"CAST((n_tok + ${P - 1}) div $P AS BIGINT)").as("n_passages"),
          posexplode(transform(
            sequence(lit(0), expr(s"CAST((n_tok + ${P - 1}) div $P AS INT)") - 1),
            w => array_join(slice(col("tok"), w * P + 1, lit(P)), " "))))
        .select(col("doc_id"), col("n_passages"), col("pos"),
          col("col").as("passage"),
          md5(col("col").cast("binary")).as("pfp"),
          // global (doc_id, pos) order as a fixed-width zero-padded string
          // — collision-free at any document length, where a numeric
          // doc_id*K+pos encoding silently collides once a doc exceeds K
          // passages (non-negative ids assumed, as everywhere in the gate)
          concat(lpad(col("doc_id").cast("string"), 19, "0"),
            lpad(col("pos").cast("string"), 12, "0")).as("okey")))
    val firsts = passages.groupBy(col("pfp")).agg(min(col("okey")).as("first_okey"))
    passages.join(firsts, Seq("pfp"))
      .filter(col("okey") === col("first_okey"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_passages")).as("n_passages"),
        count(lit(1)).as("n_kept"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("passage")))),
            p => p.getField("passage")), " ").cast("binary")).as("dedup_md5"))
      .orderBy(col("doc_id"))
  }

  val passageDedupSql: String =
    """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS tok
      |              FROM documents),
      |t2 AS (SELECT doc_id, tok, CAST(len(tok) AS BIGINT) AS n
      |       FROM toks WHERE len(tok) > 0),
      |p AS (SELECT doc_id, (n + 19) // 20 AS n_passages,
      |        unnest(generate_series(1, (n + 19) // 20)) - 1 AS pos,
      |        unnest(list_transform(generate_series(1, (n + 19) // 20),
      |          w -> array_to_string(tok[(w-1)*20+1 : (w-1)*20+20], ' '))) AS passage
      |      FROM t2),
      |f AS (SELECT *, md5(passage) AS pfp,
      |        lpad(CAST(doc_id AS VARCHAR), 19, '0') ||
      |        lpad(CAST(pos AS VARCHAR), 12, '0') AS okey FROM p),
      |fk AS (SELECT pfp, min(okey) AS first_okey FROM f GROUP BY pfp),
      |k AS (SELECT f.* FROM f JOIN fk USING (pfp) WHERE okey = first_okey)
      |SELECT doc_id, CAST(max(n_passages) AS BIGINT) AS n_passages,
      | count(*) AS n_kept,
      | md5(string_agg(passage, ' ' ORDER BY pos)) AS dedup_md5
      |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Temperature-based mixture reweighting (the multilingual upsampling
    * recipe of Xue et al. '21 mT5 §3.1 / Conneau et al. '20 XLM-R:
    * q_i ∝ p_i^α with α=0.3): one corpus scan aggregates per-language token
    * mass; p, p^α, the renormalized sampling share, and the repeat factor
    * q/p all derive from a window over the POST-AGG totals (≤ |langs| rows
    * — the q91/q105 single-scan lesson). Doubles cross engines only through
    * single-operation derivations (one division, one pow); the cross-row
    * p^α normalizer is summed as a 12-digit DECIMAL so the tiny-row total
    * is bit-identical under any association order.
    */
  val temperatureMix: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(lit(1))
    t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextStats.tokenCount(col("text")).cast("long")).as("total_tok"))
      .withColumn("p",
        col("total_tok").cast("double") / sum(col("total_tok")).over(w).cast("double"))
      .withColumn("pa", round(pow(col("p"), 0.3), 12).cast("decimal(20,12)"))
      .withColumn("q", col("pa").cast("double") / sum(col("pa")).over(w).cast("double"))
      .select(col("lang"), col("n_docs"), col("total_tok"),
        round(col("p"), 6).as("p_data"),
        round(col("q"), 6).as("p_sample"),
        round(col("q") / col("p"), 6).as("repeat_factor"))
      .orderBy(col("lang"))
  }

  val temperatureMixSql: String =
    """WITH l AS (SELECT lang, count(*) AS n_docs,
      |    CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS total_tok
      |  FROM documents GROUP BY lang),
      |w AS (SELECT *,
      |    CAST(total_tok AS DOUBLE) / CAST(sum(total_tok) OVER () AS DOUBLE) AS p
      |  FROM l),
      |a AS (SELECT *, CAST(round(pow(p, 0.3), 12) AS DECIMAL(20,12)) AS pa FROM w),
      |n AS (SELECT *,
      |    CAST(pa AS DOUBLE) / CAST(sum(pa) OVER () AS DOUBLE) AS q
      |  FROM a)
      |SELECT lang, n_docs, total_tok,
      | round(p, 6) AS p_data,
      | round(q, 6) AS p_sample,
      | round(q / p, 6) AS repeat_factor
      |FROM n ORDER BY lang""".stripMargin

  /** Deterministic stratified train/val/test split (90/5/5 per language):
    * membership is a pure row-local predicate on the md5-uniform of the
    * doc_id — reproducible across engines, runs, partitionings, and corpus
    * growth (a doc never migrates between splits when new data arrives,
    * the property that keeps eval holdouts stable). The corpus never
    * shuffles rows: scan → row-local split tag → one partial-agg'd
    * aggregation keyed on (lang, split).
    */
  val stratifiedSplit: Q = (s, dir) => {
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long").cast("double") / lit(math.pow(2, 60)))
    t(s, dir, "documents")
      .select(col("lang"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tok"),
        when(u < 0.90, "train").when(u < 0.95, "val").otherwise("test").as("split"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tok"))
      .orderBy(col("lang"), col("split"))
  }

  val stratifiedSplitSql: String =
    """WITH d AS (SELECT lang,
      |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |      / CAST(pow(2, 60) AS DOUBLE) AS u
      |  FROM documents)
      |SELECT lang,
      | CASE WHEN u < 0.90 THEN 'train' WHEN u < 0.95 THEN 'val'
      |      ELSE 'test' END AS split,
      | count(*) AS n_docs,
      | CAST(sum(n_tok) AS BIGINT) AS total_tok
      |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** RAG-style overlapping chunking: window 64 tokens, stride 48 (16-token
    * overlap), last window ragged — the retrieval-index layout step. Chunk
    * enumeration is row-local (sequence + slice under one explode, no
    * shuffle at all before the ORDER BY); each chunk carries its token
    * span and an md5 so the gate is byte-exact on content without
    * shipping chunk text. nchunks = 1 for n ≤ 64 else ceil((n-64)/48)+1,
    * computed in exact integer arithmetic on both engines.
    */
  val ragChunks: Q = (s, dir) => {
    val W = 64; val S = 48
    t(s, dir, "documents")
      .select(col("doc_id"), TextStats.tokens(col("text")).as("tok"))
      .filter(size(col("tok")) > 0)
      .select(col("doc_id"), col("tok"), size(col("tok")).cast("long").as("n_tok"))
      .withColumn("n_chunks",
        when(col("n_tok") <= W, lit(1L))
          .otherwise(expr(s"CAST((n_tok - $W + ${S - 1}) div $S AS BIGINT) + 1")))
      .select(col("doc_id"), col("n_tok"),
        posexplode(transform(sequence(lit(0), col("n_chunks").cast("int") - 1),
          i => struct(
            (i * S + 1).cast("long").as("start_tok"),
            least(lit(W).cast("long"), col("n_tok") - i * S).as("len_tok"),
            md5(array_join(slice(col("tok"), i * S + 1, lit(W)), " ").cast("binary"))
              .as("chunk_md5")))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        col("col.start_tok"), col("col.len_tok"), col("col.chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  val ragChunksSql: String =
    """WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS tok
      |              FROM documents),
      |t2 AS (SELECT doc_id, tok, CAST(len(tok) AS BIGINT) AS n
      |       FROM toks WHERE len(tok) > 0),
      |c AS (SELECT doc_id, n,
      |        CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END AS nc
      |      FROM t2),
      |x AS (SELECT doc_id,
      |        unnest(generate_series(1, nc)) - 1 AS chunk_id,
      |        unnest(list_transform(generate_series(1, nc),
      |          i -> {s: (i-1)*48 + 1,
      |                l: least(64, n - (i-1)*48),
      |                m: md5(array_to_string(tok[(i-1)*48+1 : (i-1)*48+64], ' '))}))
      |          AS ch
      |      FROM c JOIN t2 USING (doc_id, n))
      |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      | CAST(ch.s AS BIGINT) AS start_tok,
      | CAST(ch.l AS BIGINT) AS len_tok,
      | ch.m AS chunk_md5
      |FROM x ORDER BY doc_id, chunk_id""".stripMargin

  /** Per-source vocabulary statistics (Heaps-law evidence for tokenizer and
    * dedup planning): total token occurrences, distinct vocabulary size,
    * hapax count (frequency-1 tokens — the long-tail mass), type-token
    * ratio, and the modal token share. Two keyed aggregations, both with
    * map-side partials absorbing the explode fan-out; shuffle volume is
    * (source, distinct-token) sized, a vanishing fraction of the corpus.
    */
  val vocabGrowth: Q = (s, dir) => {
    val cnt = t(s, dir, "documents")
      .select(col("source"), explode(TextStats.tokens(lower(col("text")))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
    cnt.groupBy(col("source"))
      .agg(sum(col("c")).as("total_tok"),
        count(lit(1)).as("vocab"),
        coalesce(sum(when(col("c") === 1, 1L)), lit(0L)).as("hapax"),
        max(col("c")).as("top_freq"))
      .select(col("source"), col("total_tok"), col("vocab"), col("hapax"),
        round(col("vocab").cast("double") / col("total_tok"), 6).as("ttr"),
        round(col("top_freq").cast("double") / col("total_tok"), 6).as("top_share"))
      .orderBy(col("source"))
  }

  val vocabGrowthSql: String =
    """WITH tk AS (SELECT source, unnest(regexp_extract_all(lower(text), '\S+')) AS tok
      |            FROM documents),
      |c AS (SELECT source, tok, count(*) AS c FROM tk GROUP BY source, tok),
      |a AS (SELECT source, sum(c) AS total_tok, count(*) AS vocab,
      |        coalesce(sum(CASE WHEN c = 1 THEN 1 END), 0) AS hapax,
      |        max(c) AS top_freq
      |      FROM c GROUP BY source)
      |SELECT source, CAST(total_tok AS BIGINT) AS total_tok,
      | CAST(vocab AS BIGINT) AS vocab, CAST(hapax AS BIGINT) AS hapax,
      | round(vocab / CAST(total_tok AS DOUBLE), 6) AS ttr,
      | round(top_freq / CAST(total_tok AS DOUBLE), 6) AS top_share
      |FROM a ORDER BY source""".stripMargin

  /** Per-language winsorized quality statistics: clip scores at the exact
    * empirical p05/p95 and report the clipped mean beside the raw mean —
    * the outlier-robust aggregate quality filters are tuned against.
    * The quantiles are EXACT order statistics (value at rank ceil(q·n),
    * integer arithmetic, no interpolation) computed by the histogram
    * method: aggregate (lang, score) counts, cumulative-sum over the
    * DISTINCT score values, pick the first value whose cum ≥ rank. The
    * per-lang window therefore sorts score *cardinality* (≤ 10^6 distinct
    * 6-dec values), never corpus rows — the scalable exact-quantile shape
    * (contrast q92's corpus-wide window, VERDICT r3 "What's wrong" #1;
    * approximate twin: q77). Scores are pinned once and feed both the
    * histogram and the final clip; cross-row means go through DECIMAL.
    */
  val winsorizeQuality: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val scored = Dedup.pin(
      t(s, dir, "documents").select(col("lang"),
        TextStats.qualityScore(col("text")).as("q")))
    val hist = scored.groupBy(col("lang"), col("q")).agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("lang"))
    val bounds = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy(col("lang"))
      .agg(min(when(col("cum") >= expr("(n * 5 + 99) div 100"), col("q"))).as("lo"),
        min(when(col("cum") >= expr("(n * 95 + 99) div 100"), col("q"))).as("hi"))
    scored.join(broadcast(bounds), Seq("lang"))
      .select(col("lang"), col("lo"), col("hi"),
        col("q").cast("decimal(18,6)").as("qd"),
        least(greatest(col("q"), col("lo")), col("hi"))
          .cast("decimal(18,6)").as("wd"),
        (col("q") < col("lo")).cast("long").as("is_lo"),
        (col("q") > col("hi")).cast("long").as("is_hi"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(max(col("lo")), 6).as("p05"),
        round(max(col("hi")), 6).as("p95"),
        round((sum(col("qd")) / count(lit(1))).cast("double"), 6).as("mean_q"),
        round((sum(col("wd")) / count(lit(1))).cast("double"), 6).as("mean_q_wins"),
        sum(col("is_lo")).as("n_clipped_lo"),
        sum(col("is_hi")).as("n_clipped_hi"))
      .orderBy(col("lang"))
  }

  val winsorizeQualitySql: String =
    """WITH scored AS (SELECT lang,
      | round(
      |   least(CAST(length(regexp_extract_all(text, '\S+')) AS DOUBLE) / 50.0, 1.0) * 0.4
      | + (1.0 - least(CAST(length(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE)
      |     / greatest(CAST(length(text) AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.3
      | + least(CAST(length(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it)\b')) AS DOUBLE)
      |     / greatest(CAST(length(regexp_extract_all(text, '\S+')) AS DOUBLE), 1.0) * 4.0, 1.0) * 0.3,
      | 6) AS q
      |FROM documents),
      |h AS (SELECT lang, q, count(*) AS c FROM scored GROUP BY lang, q),
      |w AS (SELECT lang, q,
      |        sum(c) OVER (PARTITION BY lang ORDER BY q
      |                     ROWS UNBOUNDED PRECEDING) AS cum,
      |        sum(c) OVER (PARTITION BY lang) AS n
      |      FROM h),
      |b AS (SELECT lang,
      |        min(CASE WHEN cum >= (n * 5 + 99) // 100 THEN q END) AS lo,
      |        min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN q END) AS hi
      |      FROM w GROUP BY lang)
      |SELECT s.lang, count(*) AS n_docs,
      | round(max(lo), 6) AS p05, round(max(hi), 6) AS p95,
      | round(CAST(sum(CAST(q AS DECIMAL(18,6))) / count(*) AS DOUBLE), 6) AS mean_q,
      | round(CAST(sum(CAST(least(greatest(q, lo), hi) AS DECIMAL(18,6)))
      |   / count(*) AS DOUBLE), 6) AS mean_q_wins,
      | CAST(coalesce(sum(CASE WHEN q < lo THEN 1 END), 0) AS BIGINT) AS n_clipped_lo,
      | CAST(coalesce(sum(CASE WHEN q > hi THEN 1 END), 0) AS BIGINT) AS n_clipped_hi
      |FROM scored s JOIN b USING (lang)
      |GROUP BY s.lang ORDER BY s.lang""".stripMargin

  /** Bloom-pruned exact semi join ([[graft.ops.BloomJoin]]): lineitems of
    * urgent finished orders, with the fact side prefiltered by a bloom
    * filter over the qualifying order keys before the exact semi join.
    * Bloom FPs are removed by the semi join and FNs are impossible, so
    * the result is row-identical to the plain semi join — which is the
    * oracle (WHERE EXISTS). At 100 TB the `might_contain` predicate runs
    * scan-side and cuts the fact shuffle to rows that can possibly match;
    * the filter itself is a few MB broadcast regardless of corpus size.
    */
  val bloomSemiJoin: Q = (s, dir) => {
    val li = t(s, dir, "lineitem")
    val hot = t(s, dir, "orders")
      .filter(col("o_orderstatus") === "F" && col("o_orderpriority") === "1-URGENT")
    graft.ops.BloomJoin.semiJoin(li, hot, "l_orderkey", "o_orderkey",
        expectedItems = 1 << 20)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  val bloomSemiJoinSql: String =
    """SELECT l_returnflag, count(*) AS n_items,
      | CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F'
      |    AND o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Audio-header decode over binary media columns (the WAV sibling of
    * q30's PNG/JPEG gate; [[graft.functions.AudioExpressions]]): fixture
    * RIFF/WAVE payloads are synthesized per row — odd doc_ids get a LIST
    * chunk BEFORE "fmt " so the decoder must walk chunks, not read fixed
    * offsets; doc_id%3==2 rows carry raw text bytes and must decode to
    * NULLs. The oracle recomputes the planted rate/channels/width/size
    * arithmetically, so the gate proves the little-endian encode→parse
    * round-trip including the integer-exact duration derivation.
    */
  val audioMeta: Q = (s, dir) => {
    import graft.functions.AudioExpressions._
    def le32(c: Column) = {
      val h = lpad(hex(c), 8, "0")
      unhex(concat(substring(h, 7, 2), substring(h, 5, 2),
        substring(h, 3, 2), substring(h, 1, 2)))
    }
    def le16(c: Column) = {
      val h = lpad(hex(c), 4, "0")
      unhex(concat(substring(h, 3, 2), substring(h, 1, 2)))
    }
    val rate = (lit(8000L) + (col("doc_id") % 4) * 8000L)
    val ch = (lit(1L) + col("doc_id") % 2)
    val bits = lit(16L)
    val dataBytes = (col("n_chars") * 4L)
    val fmtChunk = concat(lit("fmt ").cast("binary"), le32(lit(16L)),
      le16(lit(1L)), le16(ch), le32(rate), le32(rate * ch * 2L),
      le16(ch * 2L), le16(bits))
    val listChunk = concat(lit("LIST").cast("binary"), le32(lit(4L)),
      lit("INFO").cast("binary"))
    val dataChunk = concat(lit("data").cast("binary"), le32(dataBytes))
    val wav = concat(lit("RIFF").cast("binary"), le32(dataBytes + 36L),
      lit("WAVE").cast("binary"),
      when(col("doc_id") % 2 === 1, listChunk)
        .otherwise(lit(Array.emptyByteArray)),
      fmtChunk, dataChunk)
    val payload = when(col("doc_id") % 3 === 2, col("text").cast("binary"))
      .otherwise(wav)
    t(s, dir, "documents")
      .select(col("doc_id").as("media_id"), payload.as("payload"))
      .select(col("media_id"),
        audio_format(col("payload")).as("fmt"),
        audio_sample_rate(col("payload")).as("sample_rate"),
        audio_channels(col("payload")).as("channels"),
        audio_bits(col("payload")).as("bits"),
        audio_data_bytes(col("payload")).as("data_bytes"),
        audio_duration_ms(col("payload")).as("duration_ms"))
      .orderBy(col("media_id"))
  }

  val audioMetaSql: String =
    """SELECT doc_id AS media_id,
      | CASE WHEN doc_id % 3 <> 2 THEN 'wav' END AS fmt,
      | CAST(CASE WHEN doc_id % 3 <> 2 THEN 8000 + (doc_id % 4) * 8000 END AS INTEGER) AS sample_rate,
      | CAST(CASE WHEN doc_id % 3 <> 2 THEN 1 + doc_id % 2 END AS INTEGER) AS channels,
      | CAST(CASE WHEN doc_id % 3 <> 2 THEN 16 END AS INTEGER) AS bits,
      | CASE WHEN doc_id % 3 <> 2 THEN n_chars * 4 END AS data_bytes,
      | CASE WHEN doc_id % 3 <> 2 THEN (n_chars * 4 * 8000)
      |   // ((8000 + (doc_id % 4) * 8000) * (1 + doc_id % 2) * 16) END AS duration_ms
      |FROM documents ORDER BY media_id""".stripMargin

  /** Unigram surprisal scoring (the perplexity-proxy LM filter of
    * Wenzek et al. '20 CCNet §4.3, unigram variant): train a unigram LM on
    * the corpus itself (token frequencies), score each document by its
    * mean −ln p(token). High surprisal = unusual token mix (noise, rare
    * boilerplate); low = prototypical text — the standard cheap ranking
    * before an expensive LM pass. Scale shape: the token table is pinned
    * once and feeds BOTH the frequency aggregation and the scoring join
    * (the q91/q106 lesson); the model side is (vocab)-sized, joined on the
    * token key — never broadcast (vocab can reach 10^8 at 100 TB) and
    * never a corpus sort. Cross-engine determinism: per-token −ln p is
    * rounded to 8 decimals and decimal-summed, so association order
    * cannot move the mean.
    */
  val tokenSurprisal: Q = (s, dir) => {
    val toks = Dedup.pin(
      t(s, dir, "documents")
        .select(col("doc_id"), explode(TextStats.tokens(lower(col("text")))).as("tok")))
    val freqs = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = freqs.agg(sum(col("c")).as("total"))
    val scored = freqs.crossJoin(broadcast(total))
      .select(col("tok"),
        round(-log(col("c").cast("double") / col("total").cast("double")), 8)
          .cast("decimal(18,8)").as("s"))
    toks.join(scored, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        round((sum(col("s")).cast("double") / count(lit(1))), 6).as("avg_surprisal"))
      .orderBy(col("doc_id"))
  }

  val tokenSurprisalSql: String =
    """WITH tk AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS tok
      |            FROM documents),
      |f AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
      |t AS (SELECT sum(c) AS total FROM f),
      |sc AS (SELECT tok,
      |         CAST(round(-ln(CAST(c AS DOUBLE) / CAST(total AS DOUBLE)), 8)
      |           AS DECIMAL(18,8)) AS s
      |       FROM f, t)
      |SELECT doc_id, count(*) AS n_tok,
      | round(CAST(sum(s) AS DOUBLE) / count(*), 6) AS avg_surprisal
      |FROM tk JOIN sc USING (tok)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Corpus snapshot diff — the ingest-ops primitive behind incremental
    * re-training decisions ("what changed since the last crawl?"): two
    * deterministic synthetic snapshots of the documents table (old = ids
    * not ≡0 mod 7; new = ids not ≡0 mod 5, with ids ≡0 mod 11 textually
    * revised) are full-outer-joined on doc_id and every doc classified
    * added / removed / changed / unchanged by content fingerprint.
    * One shuffle keyed on doc_id; the 16-byte fingerprints travel, never
    * the text (the exact-dedup shuffle discipline).
    */
  val snapshotDiff: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val old = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("lang").as("lang_a"),
        TextStats.fingerprint(col("text")).as("ofp"))
    val nw = docs.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("lang").as("lang_b"),
        TextStats.fingerprint(
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text"))).as("nfp"))
    old.join(nw, Seq("doc_id"), "full_outer")
      .select(coalesce(col("lang_a"), col("lang_b")).as("lang"),
        when(col("ofp").isNull, "added")
          .when(col("nfp").isNull, "removed")
          .when(col("ofp") =!= col("nfp"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("lang"), col("status"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("status"))
  }

  val snapshotDiffSql: String =
    """WITH old AS (SELECT doc_id, lang,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS ofp
      |  FROM documents WHERE doc_id % 7 <> 0),
      |nw AS (SELECT doc_id, lang,
      |    md5(trim(regexp_replace(lower(
      |      CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END),
      |      '\s+', ' ', 'g'))) AS nfp
      |  FROM documents WHERE doc_id % 5 <> 0)
      |SELECT coalesce(old.lang, nw.lang) AS lang,
      | CASE WHEN ofp IS NULL THEN 'added'
      |      WHEN nfp IS NULL THEN 'removed'
      |      WHEN ofp <> nfp THEN 'changed'
      |      ELSE 'unchanged' END AS status,
      | count(*) AS n_docs
      |FROM old FULL OUTER JOIN nw USING (doc_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Blocked fuzzy nearest-neighbor match (entity-resolution shape): for
    * each part, the closest DIFFERENTLY-NAMED part by Levenshtein ≤ 4,
    * candidates restricted to the same blocking key (the name's final
    * word). Two scale disciplines compose: (1) blocking keeps the edit
    * distance off the full cross product; (2) the pairwise work runs over
    * DISTINCT names only — real catalogs repeat names heavily (here 20k
    * parts share ~120 names), and distinct-entity cardinality grows
    * sublinearly, so the quadratic stage is corpus-size-independent while
    * every corpus-sized step is a broadcast join. (A first cut joined raw
    * rows: 66M levenshtein evals at sf0.1, ~2 min — the distinct-first
    * formulation is ~10^4× fewer.) The arg-min packs (dist ‖ name) into a
    * lexicographic min (the q28 argmax trick), deterministic on ties; the
    * reported nn_id is the min part id bearing the matched name.
    */
  val fuzzyBlockedMatch: Q = (s, dir) => {
    val p = t(s, dir, "part")
      .select(col("p_partkey").as("id"), lower(col("p_name")).as("nm"))
    // COMPOSITE block key: last word + name-length bucket. A single-token
    // block re-quadratics on a real catalog's dominant last token; the
    // length bucket subdivides hot blocks WITHOUT losing matches, because
    // levenshtein ≤ 4 bounds the length difference by 4 < the bucket
    // width 8 — a true match is always in the same or an adjacent bucket,
    // so the probe side fans out to {lb−1, lb, lb+1} (each true pair
    // meets exactly once: the build side keeps its own single bucket).
    // The oracle keeps the plain last-token block: same filtered pair
    // set, so identical results — the gate proves the subdivision exact.
    val names = Dedup.pin(
      p.select(col("nm")).distinct()
        .withColumn("blk", element_at(split(col("nm"), " "), -1))
        .withColumn("lb", floor(length(col("nm")) / 8)))
    val probe = names.select(col("nm"), col("blk"),
      explode(array(col("lb") - 1, col("lb"), col("lb") + 1)).as("lb"))
    val reps = p.groupBy(col("nm")).agg(min(col("id")).as("rep_id"))
    val nn = probe.as("a").join(names.as("b"),
        col("a.blk") === col("b.blk") && col("a.lb") === col("b.lb") &&
          col("a.nm") =!= col("b.nm"))
      .select(col("a.nm").as("nm"), col("b.nm").as("cand_nm"),
        levenshtein(col("a.nm"), col("b.nm")).as("d"))
      .filter(col("d") <= 4)
      .groupBy(col("nm"))
      .agg(min(concat(lpad(col("d").cast("string"), 3, "0"), col("cand_nm")))
        .as("pk"))
      .select(col("nm"),
        substring(col("pk"), 1, 3).cast("int").as("nn_dist"),
        col("pk").substr(lit(4), length(col("pk")) - 3).as("nn_nm"))
      .join(reps.select(col("nm").as("nn_nm"), col("rep_id").as("nn_id")),
        Seq("nn_nm"))
    p.join(broadcast(nn.select(col("nm"), col("nn_dist"), col("nn_id"))),
        Seq("nm"))
      .select(col("id").as("p_partkey"), col("nn_dist"), col("nn_id"))
      .orderBy(col("p_partkey"))
  }

  val fuzzyBlockedMatchSql: String =
    """WITH p AS (SELECT p_partkey AS id, lower(p_name) AS nm FROM part),
      |names AS (SELECT DISTINCT nm, string_split(nm, ' ')[-1] AS blk FROM p),
      |reps AS (SELECT nm, min(id) AS rep_id FROM p GROUP BY nm),
      |c AS (SELECT a.nm AS nm, b.nm AS cand_nm, levenshtein(a.nm, b.nm) AS d
      |      FROM names a JOIN names b ON a.blk = b.blk AND a.nm <> b.nm
      |      WHERE levenshtein(a.nm, b.nm) <= 4),
      |m AS (SELECT nm, min(lpad(CAST(d AS VARCHAR), 3, '0') || cand_nm) AS pk
      |      FROM c GROUP BY nm),
      |nn AS (SELECT m.nm,
      |         CAST(substr(pk, 1, 3) AS INTEGER) AS nn_dist,
      |         r.rep_id AS nn_id
      |       FROM m JOIN reps r ON r.nm = substr(m.pk, 4))
      |SELECT p.id AS p_partkey, nn_dist, nn_id
      |FROM p JOIN nn USING (nm)
      |ORDER BY p_partkey""".stripMargin

  /** Distributed BPE vocabulary induction ([[graft.ops.Bpe]]): the first 6
    * merge rounds over the lowercased corpus, emitted as the merge table
    * (round, pair, frequency). The DuckDB oracle is the unrolled 6-stage
    * CTE chain generated by `Bpe.mergesOracleSql` — each stage recomputes
    * its own argmax, so the gate proves pair counting, the deterministic
    * tie rule, and the left-to-right merge application all round-trip.
    */
  val bpeMerges: Q = (s, dir) =>
    graft.ops.Bpe.merges(t(s, dir, "documents"), "text", rounds = 6)

  val bpeMergesSql: String = graft.ops.Bpe.mergesOracleSql(6)

  /** Per-language Zipf slope: least-squares slope of ln(freq) vs ln(rank)
    * over the token frequency ranking — the corpus-health statistic whose
    * drift flags template/boilerplate contamination (natural language sits
    * near −1). The ranking window runs over the per-lang VOCABULARY
    * (sublinear in the corpus — the q128/q129 discipline), not corpus
    * rows. Determinism: x/y are 8-dec-rounded logs summed as DECIMALs
    * (exact, association-free); the closed-form slope is then a fixed
    * sequence of double ops on identical operands, rounded to 6.
    */
  val zipfSlope: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val freqs = t(s, dir, "documents")
      .select(col("lang"), explode(TextStats.tokens(lower(col("text")))).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("f"))
    val ranked = freqs.withColumn("rk",
      row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("f").desc, col("tok"))))
    val xy = ranked.select(col("lang"),
      round(log(col("rk").cast("double")), 8).cast("decimal(18,8)").as("x"),
      round(log(col("f").cast("double")), 8).cast("decimal(18,8)").as("y"))
    xy.groupBy(col("lang"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("x") * col("y")).cast("double").as("sxy"))
      .select(col("lang"), col("n").cast("long").as("n_vocab"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"))
      .orderBy(col("lang"))
  }

  val zipfSlopeSql: String =
    """WITH tk AS (SELECT lang, unnest(regexp_extract_all(lower(text), '\S+')) AS tok
      |            FROM documents),
      |f AS (SELECT lang, tok, count(*) AS f FROM tk GROUP BY lang, tok),
      |r AS (SELECT lang, f,
      |        row_number() OVER (PARTITION BY lang ORDER BY f DESC, tok) AS rk
      |      FROM f),
      |xy AS (SELECT lang,
      |         CAST(round(ln(CAST(rk AS DOUBLE)), 8) AS DECIMAL(18,8)) AS x,
      |         CAST(round(ln(CAST(f AS DOUBLE)), 8) AS DECIMAL(18,8)) AS y
      |       FROM r),
      |a AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n,
      |        CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
      |        CAST(sum(x * x) AS DOUBLE) AS sxx,
      |        CAST(sum(x * y) AS DOUBLE) AS sxy
      |      FROM xy GROUP BY lang)
      |SELECT lang, CAST(n AS BIGINT) AS n_vocab,
      | round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
      |FROM a ORDER BY lang""".stripMargin

  /** JSONL malformed-line quarantine (`Readers.jsonlWithCorruptCapture` —
    * the JSON sibling of q98's CSV gate): one line of the JSONL copy is
    * doctored into invalid JSON; PERMISSIVE mode must keep every good
    * line AND capture exactly the broken one in the corrupt-record
    * column. The oracle derives the expected counts arithmetically from
    * the parquet original.
    */
  val jsonlQuarantine: Q = (s, dir) => {
    import org.apache.spark.sql.types._
    val tmp = scratch("graft_jsonl_quar").toString
    t(s, dir, "nation").select(
        when(col("n_nationkey") === 0, lit("{broken"))
          .otherwise(to_json(struct(col("n_nationkey"), col("n_name"),
            col("n_regionkey")))).as("value"))
      .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite).text(tmp)
    val schema = StructType(Seq(
      StructField("n_nationkey", LongType),
      StructField("n_name", StringType),
      StructField("n_regionkey", LongType)))
    Readers.jsonlWithCorruptCapture(s, tmp, schema)
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("_corrupt_record")).as("n_corrupt"),
        sum(when(col("_corrupt_record").isNull, col("n_regionkey")))
          .as("good_region_sum"))
  }

  val jsonlQuarantineSql: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      | CAST(1 AS BIGINT) AS n_corrupt,
      | CAST(sum(CASE WHEN n_nationkey <> 0 THEN n_regionkey END) AS BIGINT) AS good_region_sum
      |FROM nation""".stripMargin

  /** Winnowing fingerprint overlap (Schleimer et al. '03 "Winnowing:
    * Local Algorithms for Document Fingerprinting" — the MOSS detector):
    * positional char-20-gram hashes, sampled by taking the minimum of
    * each 8-hash sliding window, then pairwise overlap counting on the
    * sampled set. Versus q91/q100's every-gram indexes, winnowing keeps
    * the partial-overlap guarantee (any shared run ≥ k+w−1 chars shares
    * a fingerprint) at ~2/(w+1) the index size — the sampling is the
    * scale story. Both the hash array and the exploded fingerprint table
    * are pinned: the sliding-window minima reference the hash array from
    * inside a HOF lambda, and without the cache boundary CollapseProject
    * inlines the whole gram-hash construction into the lambda — O(n²·k)
    * per document (the round-4 lambda-recompute trap). The window min is
    * array_min(slice) — O(n·w) per doc, fine here; a custom monotonic-
    * deque expression would make it O(n) if profiles ever demand it.
    */
  val winnowOverlap: Q = (s, dir) => {
    val K = 20; val W = 8
    // fused native md5-winnow (same VALUES as the composed
    // transform/md5/conv/array_min formulation — Md5WinnowSpec proves
    // the equivalence; the DuckDB oracle below is that spec verbatim):
    // the 59.8 s r7 bench row was expression-tree overhead around the
    // inherent md5 work, not the join (VERDICT r7 perf audit)
    val fps = Dedup.pin(
      t(s, dir, "documents").filter(length(col("text")) >= K + W - 1)
        .select(col("doc_id"),
          explode(graft.functions.WinnowFingerprints
            .md5_winnow_set(col("text"), K, W)).as("fp")))
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .orderBy(col("id1"), col("id2"))
  }

  val winnowOverlapSql: String =
    """WITH g AS (SELECT doc_id,
      |    list_transform(generate_series(1, length(text) - 19),
      |      i -> ('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 20)), 1, 15))::BIGINT) AS h
      |  FROM documents WHERE length(text) >= 27),
      |m AS (SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(h) - 7),
      |      j -> list_min(h[j : j + 7]))) AS fps
      |  FROM g),
      |e AS (SELECT doc_id, unnest(fps) AS fp FROM m)
      |SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared
      |FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING count(*) >= 2
      |ORDER BY 1, 2""".stripMargin

  /** CLUSTER-NATIVE winnowing dedup — the scale path that retires q132's
    * pair materialization ([[graft.ops.Dedup.winnowClusters]]): the pair
    * list is quadratic in duplicate-cluster size (127× output at 10× docs,
    * SCALE.md round-5), so instead each fingerprint bucket emits STAR
    * edges to its minimum doc id (linear, component-preserving) and the
    * min-label fixpoint of q65 turns them into clusters. Semantics: docs
    * sharing any ≥ k+w−1-char run cluster transitively; one output row
    * per clustered doc. Same md5 hash as q132 so the DuckDB oracle can
    * recompute the identical fingerprints (production twin uses the
    * native [[graft.functions.WinnowFingerprints]] hash — the q22/q94
    * FNV-vs-md5 gate pattern); the oracle's closure is a recursive CTE
    * over the identical star-edge set. Fingerprints come from the fused
    * [[graft.functions.Md5WinnowSet]] expression — value-identical to the
    * composed transform/md5/conv/array_min formulation it replaced (the
    * r8 q132 lesson applied here in r14: the expression tree re-paid ~10×
    * overhead around the inherent md5 work; q132's gate pins the fused
    * expression against this exact oracle formulation).
    */
  val winnowClustersQ: Q = (s, dir) => {
    val K = 20; val W = 8
    val fps = Dedup.pin(
      t(s, dir, "documents").filter(length(col("text")) >= K + W - 1)
        .select(col("doc_id").as("id"),
          explode(graft.functions.WinnowFingerprints
            .md5_winnow_set(col("text"), K, W)).as("fp")))
    Dedup.clusters(Dedup.starEdges(fps))
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  val winnowClustersSql: String =
    """WITH RECURSIVE g AS (SELECT doc_id,
      |    list_transform(generate_series(1, length(text) - 19),
      |      i -> ('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 20)), 1, 15))::BIGINT) AS h
      |  FROM documents WHERE length(text) >= 27),
      |m AS (SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(h) - 7),
      |      j -> list_min(h[j : j + 7]))) AS fps
      |  FROM g),
      |e AS (SELECT doc_id, unnest(fps) AS fp FROM m),
      |hub AS (SELECT fp, min(doc_id) AS hub FROM e GROUP BY fp HAVING count(*) >= 2),
      |edges AS (SELECT DISTINCT e.doc_id AS a, h.hub AS b
      |  FROM e JOIN hub h USING (fp) WHERE e.doc_id <> h.hub),
      |sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
      |reach AS (SELECT a, b FROM sym
      |  UNION SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a WHERE s.b <> r.a)
      |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin

  /** End-to-end curation FUNNEL — the whole training-data pipeline as one
    * query: exact dedup → benchmark decontamination → quality floor →
    * length band → stratified split, reported as survivor counts + token
    * mass per stage. Shape: every per-doc decision is computed as a FLAG
    * in one wide frame (one fingerprint window, one gram-overlap
    * aggregation joined back, row-local quality/length/split), the frame
    * is pinned, and the funnel is conditional aggregation — the corpus is
    * never passed once per stage (stage k = flags 1..k, monotone by
    * construction). This is the composition proof for the operator
    * catalog: q20's dedup, q91's contamination, q26's quality, q116's
    * lengths, and q120's split in a single DAG.
    */
  val curationFunnel: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val bench = docs.filter(col("doc_id") < 20).filter(length(col("text")) >= 13)
      .select(explode(TextStats.charNgrams(col("text"), 13)).as("gram"))
      .distinct().withColumn("hit", lit(1))
    // contaminated = heavy overlap (≥ 30% of the doc's distinct grams in
    // the benchmark set) — the any-single-gram rule is degenerate on a
    // shared-vocabulary corpus (q91 measures 477/500 docs with ≥ 1 hit,
    // median ratio 0.13), so the funnel uses the ratio-threshold variant
    val contam = docs.filter(length(col("text")) >= 13)
      .select(col("doc_id"), explode(TextStats.charNgrams(col("text"), 13)).as("gram"))
      .join(broadcast(bench), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg((count(col("hit")).cast("double") / count(lit(1))).as("ratio"))
      .filter(col("ratio") >= 0.3).withColumn("contam", lit(true))
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
      .cast("long").cast("double") / lit(math.pow(2, 60)))
    val flags = Dedup.pin(docs
      .withColumn("fp", TextStats.fingerprint(col("text")))
      .withColumn("keeper", col("doc_id") ===
        min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .join(contam.select(col("doc_id"), col("contam")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        TextStats.tokenCount(col("text")).cast("long").as("n_tok"),
        col("keeper"),
        (col("keeper") && col("doc_id") >= 20 &&
          !coalesce(col("contam"), lit(false))).as("clean"),
        TextStats.qualityScore(col("text")).as("q"),
        when(u < 0.90, "train").when(u < 0.95, "val").otherwise("test").as("split"))
      .withColumn("good", col("clean") && col("q") >= 0.45)
      .withColumn("fit", col("good") && col("n_tok").between(10, 5000)))
    def stage(name: String, cond: Column) =
      flags.filter(cond).agg(
        lit(name).as("stage"),
        count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"))
    stage("1_raw", lit(true))
      .unionAll(stage("2_dedup", col("keeper")))
      .unionAll(stage("3_decontam", col("clean")))
      .unionAll(stage("4_quality", col("good")))
      .unionAll(stage("5_length", col("fit")))
      .unionAll(stage("6_train", col("fit") && col("split") === "train"))
      .unionAll(stage("7_val", col("fit") && col("split") === "val"))
      .unionAll(stage("8_test", col("fit") && col("split") === "test"))
      .orderBy(col("stage"))
  }

  val curationFunnelSql: String =
    """WITH pos AS (SELECT doc_id, text, unnest(generate_series(1, length(text)-12)) AS i
      |  FROM documents WHERE length(text) >= 13),
      |g AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 13) AS gram FROM pos),
      |b AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20),
      |ct AS (SELECT doc_id FROM (
      |    SELECT g.doc_id,
      |      CAST(count(b.gram) AS DOUBLE) / count(*) AS ratio
      |    FROM g LEFT JOIN b ON g.gram = b.gram GROUP BY g.doc_id)
      |  WHERE ratio >= 0.3),
      |fl AS (SELECT d.doc_id,
      |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tok,
      |    d.doc_id = min(d.doc_id) OVER (PARTITION BY
      |      md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS keeper,
      |    round(
      |      least(CAST(length(regexp_extract_all(text, '\S+')) AS DOUBLE) / 50.0, 1.0) * 0.4
      |    + (1.0 - least(CAST(length(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE)
      |        / greatest(CAST(length(text) AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.3
      |    + least(CAST(length(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it)\b')) AS DOUBLE)
      |        / greatest(CAST(length(regexp_extract_all(text, '\S+')) AS DOUBLE), 1.0) * 4.0, 1.0) * 0.3,
      |    6) AS q,
      |    (ct.doc_id IS NOT NULL) AS contam,
      |    CASE WHEN u < 0.90 THEN 'train' WHEN u < 0.95 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM (SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |          / CAST(pow(2, 60) AS DOUBLE) AS u FROM documents) d
      |  LEFT JOIN ct ON ct.doc_id = d.doc_id),
      |f2 AS (SELECT *, (keeper AND doc_id >= 20 AND NOT contam) AS clean FROM fl),
      |f3 AS (SELECT *, (clean AND q >= 0.45) AS good FROM f2),
      |f4 AS (SELECT *, (good AND n_tok BETWEEN 10 AND 5000) AS fit FROM f3)
      |SELECT stage, n_docs, n_tokens FROM (
      |  SELECT '1_raw' AS stage, count(*) AS n_docs,
      |    CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens FROM f4
      |  UNION ALL SELECT '2_dedup', count(*), CAST(coalesce(sum(n_tok), 0) AS BIGINT)
      |    FROM f4 WHERE keeper
      |  UNION ALL SELECT '3_decontam', count(*), CAST(coalesce(sum(n_tok), 0) AS BIGINT)
      |    FROM f4 WHERE clean
      |  UNION ALL SELECT '4_quality', count(*), CAST(coalesce(sum(n_tok), 0) AS BIGINT)
      |    FROM f4 WHERE good
      |  UNION ALL SELECT '5_length', count(*), CAST(coalesce(sum(n_tok), 0) AS BIGINT)
      |    FROM f4 WHERE fit
      |  UNION ALL SELECT '6_train', count(*), CAST(coalesce(sum(n_tok), 0) AS BIGINT)
      |    FROM f4 WHERE fit AND split = 'train'
      |  UNION ALL SELECT '7_val', count(*), CAST(coalesce(sum(n_tok), 0) AS BIGINT)
      |    FROM f4 WHERE fit AND split = 'val'
      |  UNION ALL SELECT '8_test', count(*), CAST(coalesce(sum(n_tok), 0) AS BIGINT)
      |    FROM f4 WHERE fit AND split = 'test'
      |) ORDER BY stage""".stripMargin

  /** BPE encoding with the learned merges ([[graft.ops.Bpe.encodeSymbols]]
    * — the apply side of q129): per-source token/char/symbol totals and
    * the symbols-per-char compression the 6-merge vocabulary achieves.
    * Merges apply per DISTINCT word (sublinear); the corpus is scored by
    * one keyed join per token occurrence.
    */
  val bpeEncode: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val enc = graft.ops.Bpe.encodeSymbols(docs, "text", rounds = 6)
    docs.select(col("source"),
        explode(TextStats.tokens(lower(col("text")))).as("w"))
      .join(enc, Seq("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("w"))).cast("bigint").as("n_chars"),
        sum(col("n_sym")).as("n_symbols"))
      .select(col("source"), col("n_tokens"), col("n_chars"), col("n_symbols"),
        round(col("n_symbols").cast("double") / col("n_chars"), 6)
          .as("sym_per_char"))
      .orderBy(col("source"))
  }

  val bpeEncodeSql: String = graft.ops.Bpe.encodeOracleSql(6)

  /** SCD TYPE-2 history build — the companion to q60's SCD1 merge: per
    * user, collapse consecutive repeats of `event_type` and emit validity
    * intervals [valid_from, valid_to) with an open (NULL) end for the
    * current state — the standard change-capture layout for dimension
    * history. Two window passes over the SAME (user_id; ts, event_id)
    * spec (lag to find change points, lead over the survivors for the
    * interval end) → one hash exchange, sort reused; per-user windows
    * parallelize across the key space at any scale.
    */
  val scd2History: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))
  }

  val scd2HistorySql: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |    CAST(ts AS TIMESTAMP) AS ts FROM events),
      |c AS (SELECT *, lag(event_type) OVER
      |        (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e),
      |ch AS (SELECT * FROM c WHERE prev IS NULL OR prev <> event_type),
      |o AS (SELECT user_id, event_id, event_type, ts AS valid_from,
      |        lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |          AS valid_to
      |      FROM ch)
      |SELECT user_id, event_id, event_type, valid_from, valid_to,
      | valid_to IS NULL AS is_current
      |FROM o ORDER BY user_id, valid_from, event_id""".stripMargin

  /** Deletion propagation ("right to be forgotten"): a customer key set
    * (c_custkey ≡ 0 mod 97) cascades through customer → orders →
    * lineitem, and the query reports kept/deleted row counts per table —
    * the audit artifact a data-subject erasure run must produce. Each
    * table is one anti/semi join against the (small, broadcast) key set
    * or its order-key projection; nothing shuffles the fact tables.
    */
  val forgetKeys: Q = (s, dir) => {
    val keys = t(s, dir, "customer").filter(col("c_custkey") % 97 === 0)
      .select(col("c_custkey"))
    val orders = t(s, dir, "orders")
    val doomedOrders = orders.join(broadcast(keys),
      col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"))
    def report(name: String, total: DataFrame, doomed: DataFrame) = {
      val d = doomed.agg(count(lit(1)).as("n_deleted"))
      total.agg(count(lit(1)).as("n_total")).crossJoin(d)
        .select(lit(name).as("table_name"),
          (col("n_total") - col("n_deleted")).as("n_kept"), col("n_deleted"))
    }
    val cust = t(s, dir, "customer")
    val li = t(s, dir, "lineitem")
    report("1_customer", cust,
        cust.join(broadcast(keys), Seq("c_custkey"), "left_semi"))
      .unionAll(report("2_orders", orders,
        orders.join(broadcast(keys),
          col("o_custkey") === col("c_custkey"), "left_semi")))
      .unionAll(report("3_lineitem", li,
        li.join(broadcast(doomedOrders),
          col("l_orderkey") === col("o_orderkey"), "left_semi")))
      .orderBy(col("table_name"))
  }

  val forgetKeysSql: String =
    """WITH k AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
      |doomed_o AS (SELECT o_orderkey FROM orders
      |             WHERE o_custkey IN (SELECT c_custkey FROM k))
      |SELECT '1_customer' AS table_name,
      | CAST((SELECT count(*) FROM customer) -
      |   (SELECT count(*) FROM k) AS BIGINT) AS n_kept,
      | CAST((SELECT count(*) FROM k) AS BIGINT) AS n_deleted
      |UNION ALL
      |SELECT '2_orders',
      | CAST((SELECT count(*) FROM orders) -
      |   (SELECT count(*) FROM doomed_o) AS BIGINT),
      | CAST((SELECT count(*) FROM doomed_o) AS BIGINT)
      |UNION ALL
      |SELECT '3_lineitem',
      | CAST((SELECT count(*) FROM lineitem) -
      |   (SELECT count(*) FROM lineitem
      |    WHERE l_orderkey IN (SELECT o_orderkey FROM doomed_o)) AS BIGINT),
      | CAST((SELECT count(*) FROM lineitem
      |    WHERE l_orderkey IN (SELECT o_orderkey FROM doomed_o)) AS BIGINT)
      |ORDER BY table_name""".stripMargin

  /** Referential-integrity audit across the star schema: orphaned foreign
    * keys per relationship (lineitem→orders/part/supplier, orders→
    * customer) plus null-key counts — the relational layer of the DQ
    * story (column expectations are q08/q99; this is the cross-table
    * contract). Each relationship is one broadcast/keyed anti join; a
    * healthy warehouse emits zeros, and the gate pins that invariant so
    * ingest regressions become hash mismatches.
    */
  val integrityAudit: Q = (s, dir) => {
    def audit(name: String, fact: DataFrame, fk: String,
              dim: DataFrame, pk: String) =
      fact.agg(lit(name).as("relationship"),
          count(lit(1)).as("n_rows"),
          coalesce(sum(col(fk).isNull.cast("long")), lit(0L)).as("n_null_fk"))
        .crossJoin(
          fact.filter(col(fk).isNotNull)
            .join(dim.select(col(pk).as(fk)), Seq(fk), "left_anti")
            .agg(count(lit(1)).as("n_orphans")))
    val li = t(s, dir, "lineitem")
    audit("1_lineitem_orders", li, "l_orderkey", t(s, dir, "orders"), "o_orderkey")
      .unionAll(audit("2_lineitem_part", li, "l_partkey",
        t(s, dir, "part"), "p_partkey"))
      .unionAll(audit("3_lineitem_supplier", li, "l_suppkey",
        t(s, dir, "supplier"), "s_suppkey"))
      .unionAll(audit("4_orders_customer", t(s, dir, "orders"), "o_custkey",
        t(s, dir, "customer"), "c_custkey"))
      .select(col("relationship"), col("n_rows"), col("n_null_fk"),
        col("n_orphans"))
      .orderBy(col("relationship"))
  }

  val integrityAuditSql: String =
    """SELECT '1_lineitem_orders' AS relationship,
      | CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_rows,
      | CAST((SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL) AS BIGINT) AS n_null_fk,
      | CAST((SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
      |   AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS BIGINT) AS n_orphans
      |UNION ALL SELECT '2_lineitem_part',
      | (SELECT count(*) FROM lineitem),
      | (SELECT count(*) FROM lineitem WHERE l_partkey IS NULL),
      | (SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL
      |   AND l_partkey NOT IN (SELECT p_partkey FROM part))
      |UNION ALL SELECT '3_lineitem_supplier',
      | (SELECT count(*) FROM lineitem),
      | (SELECT count(*) FROM lineitem WHERE l_suppkey IS NULL),
      | (SELECT count(*) FROM lineitem WHERE l_suppkey IS NOT NULL
      |   AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
      |UNION ALL SELECT '4_orders_customer',
      | (SELECT count(*) FROM orders),
      | (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
      | (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
      |   AND o_custkey NOT IN (SELECT c_custkey FROM customer))
      |ORDER BY relationship""".stripMargin

  /** Behavioral conversion funnel over the event stream: per user, the
    * ordered progression first-view → first-click-after-view →
    * first-purchase-after-click, reported as stage populations and
    * conversion rates. One groupBy(user) pass computes the three
    * conditional first-timestamps (min with a when-guard is order-free —
    * no window, no sort); the funnel is then a single-row aggregate.
    */
  val conversionFunnel: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val perUser = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click_any"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_buy_any"))
      .select(col("user_id"), col("t_view"),
        when(col("t_click_any") > col("t_view"), col("t_click_any")).as("t_click"))
      .join(ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_buy_all")),
        Seq("user_id"), "left")
    perUser.agg(
        count(lit(1)).as("n_users"),
        coalesce(sum(col("t_view").isNotNull.cast("long")), lit(0L)).as("n_view"),
        coalesce(sum(col("t_click").isNotNull.cast("long")), lit(0L)).as("n_view_click"),
        coalesce(sum((col("t_buy_all") > col("t_click")).cast("long")), lit(0L))
          .as("n_full_funnel"))
      .select(col("n_users"), col("n_view"), col("n_view_click"),
        col("n_full_funnel"),
        // guards: an empty (or view-free) stream must report NULL rates,
        // not an ANSI divide-by-zero (EmptyInputSpec)
        when(col("n_view") > 0,
          round(col("n_view_click").cast("double") / col("n_view"), 6))
          .as("view_to_click"),
        when(col("n_view_click") > 0,
          round(col("n_full_funnel").cast("double") / col("n_view_click"), 6))
          .as("click_to_buy"))
  }

  val conversionFunnelSql: String =
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |           FROM events),
      |pu AS (SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
      |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click_any,
      |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy_all
      |  FROM e GROUP BY user_id),
      |f AS (SELECT user_id, t_view,
      |    CASE WHEN t_click_any > t_view THEN t_click_any END AS t_click,
      |    t_buy_all
      |  FROM pu)
      |SELECT CAST(count(*) AS BIGINT) AS n_users,
      | CAST(coalesce(sum(CASE WHEN t_view IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_view,
      | CAST(coalesce(sum(CASE WHEN t_click IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_view_click,
      | CAST(coalesce(sum(CASE WHEN t_buy_all > t_click THEN 1 END), 0) AS BIGINT) AS n_full_funnel,
      | round(coalesce(sum(CASE WHEN t_click IS NOT NULL THEN 1 END), 0)
      |   / CAST(coalesce(sum(CASE WHEN t_view IS NOT NULL THEN 1 END), 0) AS DOUBLE), 6) AS view_to_click,
      | round(coalesce(sum(CASE WHEN t_buy_all > t_click THEN 1 END), 0)
      |   / CAST(coalesce(sum(CASE WHEN t_click IS NOT NULL THEN 1 END), 0) AS DOUBLE), 6) AS click_to_buy
      |FROM f""".stripMargin

  /** Weekly cohort retention: users grouped by the ISO week of their first
    * event; for each (cohort_week, week_offset) the count of cohort users
    * active in that offset week. Two keyed aggregations (first-event per
    * user, then distinct user per cell) — the cohort matrix never needs a
    * window or a sort, and both shuffles key on user/cohort.
    */
  val cohortRetention: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
    val firstWk = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    ev.join(firstWk, Seq("user_id"))
      .select(col("user_id"), col("cohort_wk"),
        datediff(col("wk"), col("cohort_wk")).cast("int").as("day_off"))
      .select(col("user_id"), col("cohort_wk"),
        (col("day_off") / 7).cast("int").as("week_offset"))
      .distinct()
      .groupBy(col("cohort_wk"), col("week_offset"))
      .agg(count(lit(1)).as("n_active_users"))
      .orderBy(col("cohort_wk"), col("week_offset"))
  }

  val cohortRetentionSql: String =
    """WITH e AS (SELECT user_id,
      |    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
      |  FROM events),
      |fw AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id),
      |j AS (SELECT DISTINCT e.user_id, cohort_wk,
      |    CAST(date_diff('day', cohort_wk, wk) // 7 AS INTEGER) AS week_offset
      |  FROM e JOIN fw USING (user_id))
      |SELECT cohort_wk, week_offset,
      | CAST(count(*) AS BIGINT) AS n_active_users
      |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Market-basket co-occurrence: the top part pairs ordered together,
    * with support counts — the a-priori first pass. Pairs are generated
    * WITHIN each order only (self-join keyed on the order key; basket
    * sizes are bounded, so per-order pair fan-out is a constant, never
    * corpus-quadratic), then one count aggregation; the top slice goes
    * through TakeOrdered. Dedup on (order, pair) first so multi-line
    * orders of the same part don't inflate support.
    */
  val marketBasket: Q = (s, dir) => {
    // basket-local pair generation: ONE shuffle builds the per-order part
    // set (collect_set folds the dedup in), pairs enumerate row-locally
    // from the bounded basket array, then one count aggregation — the
    // self-join formulation costs four exchanges (distinct, both join
    // sides, agg) for the same result (measured 2.4 s → ~1 s at sf0.1)
    val baskets = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .filter(size(col("parts")) >= 2)
    baskets
      .select(explode(flatten(transform(
        sequence(lit(1), size(col("parts")) - 1),
        i => transform(sequence(i + 1, size(col("parts"))),
          j => struct(element_at(col("parts"), i).as("part_a"),
            element_at(col("parts"), j).as("part_b")))))).as("pair"))
      .groupBy(col("pair.part_a").as("part_a"), col("pair.part_b").as("part_b"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(25)
  }

  val marketBasketSql: String =
    """WITH i AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk
      |           FROM lineitem)
      |SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS support
      |FROM i a JOIN i b ON a.okey = b.okey AND a.pk < b.pk
      |GROUP BY 1, 2
      |ORDER BY support DESC, part_a, part_b
      |LIMIT 25""".stripMargin

  /** Hourly event-rate anomaly detection: per event type, hours whose
    * volume deviates from the trailing-24-hour mean by more than 3
    * trailing standard deviations. The expensive step is the hourly
    * aggregation (map-side partials over the raw stream); the window
    * arithmetic runs over the tiny (hours × types) frame, with the
    * trailing moments as exact integer sums (sum, sum of squares) so the
    * z-score is a fixed double derivation on both engines.
    */
  val hourlyAnomalies: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val hourly = Tables.events(s, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(-24, -1)
    hourly
      .withColumn("m", count(col("n")).over(w))
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
      .filter(col("m") >= 12)
      .withColumn("mean", col("s1").cast("double") / col("m"))
      .withColumn("var0",
        col("s2").cast("double") / col("m") - col("mean") * col("mean"))
      .filter(col("var0") > 0)
      .withColumn("z", (col("n") - col("mean")) / sqrt(col("var0")))
      .filter(abs(col("z")) >= 3.0)
      .select(col("hour"), col("event_type"), col("n"),
        round(col("mean"), 6).as("trailing_mean"),
        round(col("z"), 6).as("z_score"))
      .orderBy(col("hour"), col("event_type"))
  }

  val hourlyAnomaliesSql: String =
    """WITH h AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
      |    event_type, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |t AS (SELECT *,
      |    count(n) OVER w AS m,
      |    sum(n) OVER w AS s1,
      |    sum(n * n) OVER w AS s2
      |  FROM h
      |  WINDOW w AS (PARTITION BY event_type ORDER BY hour
      |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
      |z AS (SELECT hour, event_type, n,
      |    CAST(s1 AS DOUBLE) / m AS mean,
      |    CAST(s2 AS DOUBLE) / m
      |      - (CAST(s1 AS DOUBLE) / m) * (CAST(s1 AS DOUBLE) / m) AS var0
      |  FROM t WHERE m >= 12)
      |SELECT hour, event_type, n,
      | round(mean, 6) AS trailing_mean,
      | round((n - mean) / sqrt(var0), 6) AS z_score
      |FROM z WHERE var0 > 0 AND abs((n - mean) / sqrt(var0)) >= 3.0
      |ORDER BY hour, event_type""".stripMargin

  /** Embedding drift monitor: per label, the L2 distance between the
    * centroid of "snapshot A" (even vec_ids) and "snapshot B" (odd) —
    * the drift statistic an embedding pipeline alarms on when a model or
    * corpus shifts. Determinism chain: per-dim means use exact decimal
    * sums (q68 machinery); the rounded means cross back into
    * DECIMAL(18,6) via strings (exact — shortest-repr of a round-6
    * double is its 6-dec literal); the 64-dim squared-diff sum is decimal
    * (association-free); only the final sqrt is a double op. The heavy
    * aggregation is per (label, half, dim) with map-side partials; the
    * drift math runs on a labels×dims frame.
    */
  val embeddingDrift: Q = (s, dir) => {
    val emb = t(s, dir, "embeddings")
    val cents = emb
      .select(col("label"), (col("vec_id") % 2).as("half"),
        posexplode(col("embedding")).as(Seq("pos", "val")))
      .groupBy(col("label"), col("half"), col("pos"))
      .agg(round(sum(col("val").cast("string").cast("decimal(18,9)"))
        .cast("double") / count(lit(1)), 6).as("c"))
    val diffs = cents.groupBy(col("label"), col("pos"))
      .agg(
        sum(when(col("half") === 0, col("c"))).cast("string")
          .cast("decimal(18,6)").as("c0"),
        sum(when(col("half") === 1, col("c"))).cast("string")
          .cast("decimal(18,6)").as("c1"))
      .select(col("label"), ((col("c0") - col("c1")) * (col("c0") - col("c1")))
        .as("d2"))
    val ns = emb.groupBy(col("label"))
      .agg(coalesce(sum((col("vec_id") % 2 === 0).cast("long")), lit(0L)).as("n_a"),
        coalesce(sum((col("vec_id") % 2 === 1).cast("long")), lit(0L)).as("n_b"))
    ns.join(
        diffs.groupBy(col("label"))
          .agg(round(sqrt(sum(col("d2")).cast("double")), 6).as("drift_l2")),
        Seq("label"))
      .orderBy(col("label"))
  }

  val embeddingDriftSql: String =
    """WITH h AS (SELECT label, vec_id % 2 AS half, d.dim AS dim,
      |    CAST(CAST(embedding[d.dim] AS VARCHAR) AS DECIMAL(18,9)) AS v
      |  FROM embeddings CROSS JOIN
      |    (SELECT unnest(generate_series(1, 64)) AS dim) d),
      |c AS (SELECT label, half, dim,
      |        round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS c
      |      FROM h GROUP BY 1, 2, 3),
      |w AS (SELECT label, dim,
      |        CAST(CAST(sum(CASE WHEN half = 0 THEN c END) AS VARCHAR)
      |          AS DECIMAL(18,6)) AS c0,
      |        CAST(CAST(sum(CASE WHEN half = 1 THEN c END) AS VARCHAR)
      |          AS DECIMAL(18,6)) AS c1
      |      FROM c GROUP BY 1, 2),
      |dd AS (SELECT label, sum((c0 - c1) * (c0 - c1)) AS d2 FROM w GROUP BY 1),
      |ns AS (SELECT label,
      |        CAST(coalesce(sum(CASE WHEN vec_id % 2 = 0 THEN 1 END), 0) AS BIGINT) AS n_a,
      |        CAST(coalesce(sum(CASE WHEN vec_id % 2 = 1 THEN 1 END), 0) AS BIGINT) AS n_b
      |      FROM embeddings GROUP BY 1)
      |SELECT ns.label, n_a, n_b,
      | round(sqrt(CAST(d2 AS DOUBLE)), 6) AS drift_l2
      |FROM ns JOIN dd ON ns.label = dd.label
      |ORDER BY ns.label""".stripMargin

  /** Co-purchase PageRank ([[graft.ops.Graph.pageRank]]): part importance
    * over the ordered-together graph (symmetric by construction, so no
    * dangling mass), 5 damped iterations from the uniform start, in
    * FIXED-POINT integer mass units — three floating formulations each
    * diverged from DuckDB by 1 ulp (see Graph scaladoc); integer
    * arithmetic is the reproducible form. The oracle is a generated
    * 5-stage unrolled CTE chain (the q129 BPE pattern — aggregation is
    * not allowed in a recursive CTE term) of the same exact BIGINT ops.
    */
  val copurchaseRank: Q = (s, dir) => {
    // max-basket guard (VERDICT r6 #6): TPC-H baskets are ≤7 parts, so
    // the 64 cap never binds here — it exists so one pathological order
    // cannot detonate the O(basket²) pair emission on a raw feed
    val items = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pk"))
    val edges = graft.ops.Graph.coOccurrenceEdges(items, "okey", "pk")
    graft.ops.Graph.pageRank(edges, iterations = 5)
      .select(col("pk").as("p_partkey"), col("r").as("rank_units"))
      .orderBy(col("p_partkey"))
  }

  val copurchaseRankSql: String = {
    val head =
      """WITH i AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pk
        |           FROM lineitem),
        |e AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
        |      FROM i a JOIN i b ON a.okey = b.okey AND a.pk <> b.pk),
        |d AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |nn AS (SELECT count(*) AS n FROM d),
        |p0 AS (SELECT src AS pk, CAST(1000000000000 // n AS BIGINT) AS r
        |       FROM d, nn)""".stripMargin
    val iters = (1 to 5).map { k =>
      s"""c$k AS (SELECT e.dst,
         |    CAST(sum(p.r // d.deg) AS BIGINT) AS s
         |  FROM e JOIN p${k - 1} p ON e.src = p.pk JOIN d ON d.src = e.src
         |  GROUP BY e.dst),
         |p$k AS (SELECT dst AS pk,
         |    CAST((15 * 1000000000000) // (100 * n)
         |      + (85 * s) // 100 AS BIGINT) AS r
         |  FROM c$k, nn)""".stripMargin
    }
    ((head +: iters).mkString(",\n")) +
      "\nSELECT pk AS p_partkey, r AS rank_units FROM p5 ORDER BY pk"
  }

  /** Compressed-CSV ingest round-trip: write region as gzip CSV (crawl
    * dumps and public datasets ship as .csv.gz; Spark's text sources
    * decompress by extension) and read it back through the standard CSV
    * reader — the gate proves the compressed path end-to-end, with the
    * codec visible in the part-file names. Note gzip is NOT splittable:
    * one task per file on read, so at 100 TB the layout rule is many
    * medium .csv.gz files (or zstd/bzip2 where splittable codecs are
    * available), never one giant archive.
    */
  val csvGzipRoundtrip: Q = (s, dir) => {
    val tmp = scratch("graft_csv_gz").toString
    t(s, dir, "region").write
      .option("header", "true").option("compression", "gzip")
      .mode(org.apache.spark.sql.SaveMode.Overwrite).csv(tmp)
    val gzParts = new java.io.File(tmp).listFiles()
      .count(_.getName.endsWith(".csv.gz"))
    Readers.csv(s, tmp)
      .select(col("r_regionkey").cast("bigint").as("r_regionkey"),
        col("r_name"))
      .withColumn("gz_parts_nonzero", lit(gzParts > 0))
      .orderBy(col("r_regionkey"))
  }

  val csvGzipRoundtripSql: String =
    """SELECT r_regionkey, r_name, TRUE AS gz_parts_nonzero
      |FROM region ORDER BY r_regionkey""".stripMargin
}
