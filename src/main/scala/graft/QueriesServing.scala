package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{Readers, Writers}
import graft.ops.{Dedup, Layout, Multimodal, Ranks, SimSearch, Skew, TextStats, TopK}
import graft.transform.{Canonicalize, Enrich, Harmonize, Normalize}
import graft.quality.Expectations._
import graft.streaming.{EventStreams, Staging}

/** Round-8+ additions, part A: serving-path gates — IVF/PQ, incremental dedup, checkpoint resume, stats tiers.
  *
  * Mechanical split of the former single-file catalog (r10 verdict
  * hygiene note): one trait per family, linear chain, zero behavior
  * change. `Queries` mixes the chain in; each query registers once in
  * `Queries.declared`, plan and oracle SQL together.
  */
trait QueriesServing extends QueriesSequence {
  // ======================================= round-8 additions (q247+)

  /** The quality-score SQL twin (TextStats.qualityScore verbatim) shared
    * by the round-8 oracles — same expression the q178/q239 oracles
    * inline.
    */
  protected val qScoreSql: String =
    """round(
      |      least(CAST(length(regexp_extract_all(text, '\S+')) AS DOUBLE) / 50.0, 1.0) * 0.4
      |    + (1.0 - least(CAST(length(regexp_extract_all(text, '[[:punct:]]')) AS DOUBLE)
      |        / greatest(CAST(length(text) AS DOUBLE), 1.0) * 4.0, 1.0)) * 0.3
      |    + least(CAST(length(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it)\b')) AS DOUBLE)
      |        / greatest(CAST(length(regexp_extract_all(text, '\S+')) AS DOUBLE), 1.0) * 4.0, 1.0) * 0.3,
      |    6)""".stripMargin

  /** Classifier-calibration audit (reliability diagram + per-bin Brier
    * terms + the ECE decomposition; Naeini '15 / Guo '17 framing): the
    * quality score read as a pseudo-probability that a document is
    * English, binned into deciles, each bin reporting population,
    * confidence (mean score), empirical accuracy (share actually en),
    * the |acc − conf| gap, its N-weighted ECE contribution, and the
    * bin's Brier mean. The go/no-go read before a score is used as a
    * sampling weight (a mis-calibrated score silently re-weights the
    * corpus). Determinism: score is round(·,6) at source; per-row
    * (s−y)² rounds → DECIMAL before the bin sum; bin means divide
    * exact DECIMAL sums and round last. Scale: one scan, 10 rows of
    * state — the agg is the whole query; nothing is corpus-sized after
    * the map side.
    */
  val calibrationAudit: Q = (s, dir) => {
    val scored = t(s, dir, "documents")
      .select(TextStats.qualityScore(col("text")).as("sc"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .select(col("sc"), col("y"),
        least(floor(col("sc") * 10).cast("int"), lit(9)).as("bin"),
        round((col("sc") - col("y")) * (col("sc") - col("y")), 8)
          .cast("decimal(18,8)").as("sq"))
    // the 10-row binned aggregate is pinned: its two consumers (the
    // grand total and the final projection) must not re-scan and
    // re-regex the corpus (q183 lesson)
    val binned = Dedup.pin(scored.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("sc").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("conf"),
        round(sum(col("y")).cast("double") / count(lit(1)), 6).as("acc"),
        round(sum(col("sq")).cast("double") / count(lit(1)), 6)
          .as("brier_bin")))
    val tot = binned.agg(sum(col("n_docs")).as("n_all"))
    binned
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("n_docs"), col("conf"), col("acc"),
        round(abs(col("acc") - col("conf")), 6).as("abs_gap"),
        round(col("n_docs").cast("double") / col("n_all").cast("double")
          * abs(col("acc") - col("conf")), 6).as("ece_term"),
        col("brier_bin"))
      .orderBy(col("bin"))
  }

  val calibrationAuditSql: String =
    s"""WITH sc AS (SELECT $qScoreSql AS sc,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
       |b AS (SELECT sc, y,
       |    least(CAST(floor(sc * 10) AS INTEGER), 9) AS bin,
       |    CAST(round((sc - y) * (sc - y), 8) AS DECIMAL(18,8)) AS sq
       |  FROM sc),
       |tt AS (SELECT count(*) AS n_all FROM b),
       |g AS (SELECT bin, count(*) AS n_docs,
       |    round(CAST(sum(CAST(sc AS DECIMAL(18,6))) AS DOUBLE)
       |      / count(*), 6) AS conf,
       |    round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS acc,
       |    round(CAST(sum(sq) AS DOUBLE) / count(*), 6) AS brier_bin
       |  FROM b GROUP BY bin)
       |SELECT bin, n_docs, conf, acc,
       |  round(abs(acc - conf), 6) AS abs_gap,
       |  round(CAST(n_docs AS DOUBLE) / CAST(n_all AS DOUBLE)
       |    * abs(acc - conf), 6) AS ece_term,
       |  brier_bin
       |FROM g CROSS JOIN tt ORDER BY bin""".stripMargin

  /** Mann–Whitney U rank-sum test (Mann & Whitney '47, with the tie
    * correction): are English documents drawn from the same length
    * distribution as the rest? The distribution-free two-sample test a
    * corpus comparison reaches for before any parametric assumption
    * (q181's KS gives the max-gap view; U gives the rank-sum view with
    * an asymptotic z). EVERYTHING until the final z is exact integer
    * via the VALUE-DOMAIN discipline (q123/q216): ranks come from the
    * distinct n_chars domain — avg rank of a tied value kept as the
    * DOUBLED integer 2·cum_before + cnt + 1, so Σranks of group A is
    * an exact integer sum over |domain| rows, never a corpus window.
    * Tie correction Σ(t³−t) in DECIMAL(38,0). Scale: the only window
    * runs over the distinct-value frame (bounded by the n_chars
    * domain), shuffles carry (value, group) counts.
    */
  val mannWhitney: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val per = t(s, dir, "documents")
      .select(col("n_chars"),
        when(col("lang") === "en", 1L).otherwise(0L).as("isA"))
      .groupBy(col("n_chars"))
      .agg(sum(col("isA")).as("ca"), count(lit(1)).as("ct"))
    // bounded partition-less window: input is the per-DISTINCT-n_chars
    // aggregate — value-domain-sized (≤ max doc length rows), never the
    // corpus (r8 verdict #5 allowlist)
    val w = Window.orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = per
      .withColumn("cum", sum(col("ct")).over(w))
      // doubled average rank of this tied value: 2·(cum−ct) + ct + 1
      .withColumn("r2", lit(2) * (col("cum") - col("ct")) + col("ct") + 1)
    ranked.agg(
        sum(col("ca")).as("na"),
        sum(col("ct") - col("ca")).as("nb"),
        // ca·r2 ~ N² wraps int64 at corpus scale — DECIMAL(38,0)
        // through the whole rank-sum (HUGEINT on the oracle side)
        sum(col("ca").cast("decimal(38,0)") * col("r2")).as("ra2"),
        sum((col("ct").cast("decimal(38,0)") * col("ct") * col("ct")
          - col("ct"))).as("ties"))
      .select(col("na"), col("nb"), {
        // U_A = R_A − n_A(n_A+1)/2, carried doubled until the final /2
        val u2 = col("ra2") - col("na").cast("decimal(38,0)") * (col("na") + 1)
        val n = col("na") + col("nb")
        val mu2 = col("na").cast("decimal(38,0)") * col("nb") // 2·µ_U
        val varU = col("na").cast("double") * col("nb").cast("double") / 12.0 *
          ((n + 1).cast("double") -
            col("ties").cast("double")
              / (n.cast("double") * (n - 1).cast("double")))
        struct(
          round(u2.cast("double") / 2.0, 1).as("u_stat"),
          round((u2 - mu2).cast("double") / 2.0 / sqrt(varU), 6).as("z"))
          .as("f")
      })
      .select(col("na"), col("nb"), col("f.u_stat").as("u_stat"),
        col("f.z").as("z"))
  }

  val mannWhitneySql: String =
    """WITH per AS (SELECT n_chars,
      |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ca,
      |    count(*) AS ct
      |  FROM documents GROUP BY n_chars),
      |r AS (SELECT ca, ct,
      |    2 * (sum(ct) OVER (ORDER BY n_chars
      |      ROWS UNBOUNDED PRECEDING) - ct) + ct + 1 AS r2
      |  FROM per),
      |agg AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
      |    CAST(sum(ct - ca) AS BIGINT) AS nb,
      |    sum(CAST(ca AS HUGEINT) * r2) AS ra2,
      |    CAST(sum(CAST(ct AS HUGEINT) * ct * ct - ct) AS DOUBLE) AS ties
      |  FROM r)
      |SELECT na, nb,
      |  round(CAST(ra2 - CAST(na AS HUGEINT) * (na + 1) AS DOUBLE)
      |    / 2.0, 1) AS u_stat,
      |  round(CAST(ra2 - CAST(na AS HUGEINT) * (na + 1)
      |      - CAST(na AS HUGEINT) * nb AS DOUBLE) / 2.0
      |    / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
      |      * (CAST(na + nb + 1 AS DOUBLE)
      |        - ties / (CAST(na + nb AS DOUBLE)
      |          * CAST(na + nb - 1 AS DOUBLE)))), 6) AS z
      |FROM agg""".stripMargin

  /** First-order Markov transition matrix of user event streams (the
    * behavioral fingerprint a product-analytics team reads for "what
    * follows what": transition counts and row-conditional probabilities
    * P(next=to | cur=from) over each user's time-ordered sequence).
    * Ordering is total per user (ts, event_id tiebreak); the lead()
    * window is PARTITIONED BY user — thousands of parallel partitions,
    * never a global sort. State after the map side: |types|² cells.
    * Probabilities divide exact integer counts, rounded once.
    */
  val markovTransitions: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val seq = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("to_type").isNotNull)
    val cells = Dedup.pin(seq.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_trans")))
    val rowTot = cells.groupBy(col("from_type"))
      .agg(sum(col("n_trans")).as("n_from"))
    cells.join(broadcast(rowTot), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n_trans"),
        round(col("n_trans").cast("double") / col("n_from").cast("double"),
          6).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val markovTransitionsSql: String =
    """WITH s AS (SELECT user_id, event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, count(*) AS n_trans FROM s
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |rt AS (SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS n_from
      |  FROM c GROUP BY 1)
      |SELECT c.from_type, to_type, n_trans,
      |  round(CAST(n_trans AS DOUBLE) / CAST(n_from AS DOUBLE), 6) AS p
      |FROM c JOIN rt ON c.from_type = rt.from_type
      |ORDER BY c.from_type, to_type""".stripMargin

  /** Kaplan–Meier survival of time-to-first-error in EVENT STEPS
    * (Kaplan & Meier '58, product-limit estimator with right
    * censoring): for each user, t = the 1-based position of the first
    * `error` event in their time-ordered stream, censored at the
    * stream's end for users who never error — "how many actions does a
    * user get through before the first failure", with censoring handled
    * correctly (a naive failure-rate-per-position over-counts for
    * short streams; calendar-day lifetime is degenerate on this corpus
    * — every user spans the full window, so day-granularity churn has
    * zero uncensored deaths). S(t) = Π_{t'≤t} (1 − deaths_{t'}/risk_{t'}).
    * Exactness: deaths/risk are exact integers (at-risk =
    * reverse-cumulative over the position domain); each step's
    * ln(1−d/r) rounds → DECIMAL before the cumulative sum (q126's ln
    * discipline); one exp at the end. Scale: the per-user position
    * window is user-partitioned; after the per-user reduce every frame
    * is POSITION-domain-sized (≤ max events per user), so the two
    * unpartitioned windows run over a bounded domain, never the corpus.
    */
  val kmRetention: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val seqd = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))).as("pos"))
    val per = seqd.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "error", col("pos"))).as("terr"),
        max(col("pos")).as("nev"))
      .select(coalesce(col("terr"), col("nev")).as("t"),
        col("terr").isNull.as("censored"))
    val byT = per.groupBy(col("t"))
      .agg(sum(when(col("censored"), 0L).otherwise(1L)).as("deaths"),
        count(lit(1)).as("n_at"))
    // bounded partition-less windows: input is the per-DISTINCT-t
    // aggregate (one row per distinct event time in the study grid),
    // never the subject corpus (r8 verdict #5 allowlist)
    val wRisk = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .withColumn("risk", sum(col("n_at")).over(wRisk))
      .filter(col("deaths") > 0)
      // deaths == risk is the absorbing state (everyone remaining dies:
      // S hits exactly 0 and ln(0) diverges — DuckDB raises, Spark
      // nulls): flag it cumulatively and pin surv to 0.0 from there on
      .withColumn("gone",
        max(when(col("deaths") === col("risk"), 1).otherwise(0)).over(wCum))
      .withColumn("lnterm",
        when(col("deaths") < col("risk"),
          round(log(lit(1.0) - col("deaths").cast("double")
            / col("risk").cast("double")), 8).cast("decimal(18,8)")))
      .withColumn("surv",
        when(col("gone") === 1, lit(0.0))
          .otherwise(round(exp(sum(col("lnterm")).over(wCum)
            .cast("double")), 6)))
      .select(col("t"), col("deaths"), col("risk"), col("surv"))
      .orderBy(col("t"))
  }

  val kmRetentionSql: String =
    """WITH s AS (SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS pos
      |  FROM events),
      |u AS (SELECT user_id,
      |    min(CASE WHEN event_type = 'error' THEN pos END) AS terr,
      |    max(pos) AS nev FROM s GROUP BY user_id),
      |lt AS (SELECT coalesce(terr, nev) AS t, terr IS NULL AS censored
      |  FROM u),
      |bt AS (SELECT t,
      |    CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT)
      |      AS deaths,
      |    count(*) AS n_at FROM lt GROUP BY t),
      |r AS (SELECT t, deaths,
      |    CAST(sum(n_at) OVER (ORDER BY t DESC
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS risk FROM bt),
      |tm AS (SELECT t, deaths, risk,
      |    max(CASE WHEN deaths = risk THEN 1 ELSE 0 END)
      |      OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS gone,
      |    CASE WHEN deaths < risk THEN
      |      CAST(round(ln(1.0 - CAST(deaths AS DOUBLE)
      |        / CAST(risk AS DOUBLE)), 8) AS DECIMAL(18,8)) END AS lnterm
      |  FROM r WHERE deaths > 0)
      |SELECT t, deaths, risk,
      |  CASE WHEN gone = 1 THEN 0.0
      |    ELSE round(exp(CAST(sum(lnterm) OVER (ORDER BY t
      |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 6) END AS surv
      |FROM tm ORDER BY t""".stripMargin

  /** Importance reweighting to a TARGET mixture (uniform over sources —
    * the Xie '23 DoReMi-style "reweight, don't resample" first step)
    * with the effective-sample-size diagnostic (Kish '65): per-source
    * weight w_s = N/(S·n_s) normalizes the corpus to equal source mass;
    * ESS/N = S²/(N·Σ 1/n_s) says how much statistical power the
    * reweighting costs (1.0 = already uniform; → 0 as one source
    * dominates). All per-source quantities derive from exact counts;
    * the only cross-row float sum (Σ 1/n_s, one term per SOURCE) goes
    * per-value round → DECIMAL. Scale: one keyed count; |sources| rows
    * of state; nothing corpus-sized leaves the map side.
    */
  val importanceReweight: Q = (s, dir) => {
    val per = Dedup.pin(t(s, dir, "documents").groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs")))
    val tot = per.agg(sum(col("n_docs")).as("n_all"),
      count(lit(1)).as("n_sources"),
      sum(round(lit(1.0) / col("n_docs"), 14).cast("decimal(18,14)"))
        .as("inv_sum"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_all").cast("double"), 6)
          .as("share"),
        round(col("n_all").cast("double")
          / (col("n_sources").cast("double") * col("n_docs").cast("double")),
          6).as("weight"),
        round(col("n_sources").cast("double") * col("n_sources").cast("double")
          / (col("n_all").cast("double") * col("inv_sum").cast("double")), 6)
          .as("ess_ratio"))
      .orderBy(col("source"))
  }

  val importanceReweightSql: String =
    """WITH per AS (SELECT source, count(*) AS n_docs FROM documents
      |  GROUP BY source),
      |tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_all,
      |    count(*) AS n_sources,
      |    sum(CAST(round(1.0 / n_docs, 14) AS DECIMAL(18,14))) AS inv_sum
      |  FROM per)
      |SELECT source, n_docs,
      |  round(CAST(n_docs AS DOUBLE) / CAST(n_all AS DOUBLE), 6) AS share,
      |  round(CAST(n_all AS DOUBLE)
      |    / (CAST(n_sources AS DOUBLE) * CAST(n_docs AS DOUBLE)), 6)
      |    AS weight,
      |  round(CAST(n_sources AS DOUBLE) * CAST(n_sources AS DOUBLE)
      |    / (CAST(n_all AS DOUBLE) * CAST(inv_sum AS DOUBLE)), 6)
      |    AS ess_ratio
      |FROM per CROSS JOIN tt ORDER BY source""".stripMargin

  /** LSH banding-parameter calibration against OBSERVED similarities
    * (the S-curve 1−(1−s^r)^b of Broder/Indyk–Motwani banding theory,
    * evaluated where it matters — on this corpus's actual near-neighbor
    * similarity profile, not a textbook grid): candidate pairs come
    * from the q227 sorted-neighborhood generator (O(n·w), no
    * threshold), bucket by exact-Jaccard decile, and each decile
    * reports its pair mass, mean Jaccard, and the probability the
    * SHIPPED (b=16, r=4) MinHash banding would surface such a pair —
    * the table a dedup owner reads to see which similarity range the
    * current banding misses. Determinism: per-pair j rounds → DECIMAL
    * before the decile mean; the S-curve is a single compound float on
    * the rounded mean. Scale: the window IS the candidate generator
    * (q227); deciles are 10 rows of state.
    */
  val lshCalibration: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        array_distinct(TextStats.tokens(lower(col("text")))).as("tok"))
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    val withNb = docs
      .withColumn("nb1_tok", lead(col("tok"), 1).over(w))
      .withColumn("nb2_tok", lead(col("tok"), 2).over(w))
    def jOf(tokC: String) = withNb.filter(col(tokC).isNotNull)
      .select(round(size(array_intersect(col("tok"), col(tokC))).cast("double")
        / size(array_union(col("tok"), col(tokC))).cast("double"), 6).as("j"))
    jOf("nb1_tok").unionAll(jOf("nb2_tok"))
      .select(col("j"), least(floor(col("j") * 10).cast("int"), lit(9))
        .as("decile"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("j").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("mean_j"))
      .withColumn("p_candidate",
        round(lit(1.0) - pow(lit(1.0) - pow(col("mean_j"), 4), 16), 6))
      .orderBy(col("decile"))
  }

  val lshCalibrationSql: String =
    """WITH d AS (SELECT doc_id, lang, n_chars,
      |    list_distinct(regexp_extract_all(lower(text), '\S+')) AS tok
      |  FROM documents),
      |nb AS (SELECT tok,
      |    lead(tok, 1) OVER w AS nb1_tok, lead(tok, 2) OVER w AS nb2_tok
      |  FROM d WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)),
      |p AS (
      |  SELECT round(CAST(length(list_intersect(tok, nb1_tok)) AS DOUBLE)
      |    / CAST(length(list_distinct(list_concat(tok, nb1_tok)))
      |      AS DOUBLE), 6) AS j
      |  FROM nb WHERE nb1_tok IS NOT NULL
      |  UNION ALL
      |  SELECT round(CAST(length(list_intersect(tok, nb2_tok)) AS DOUBLE)
      |    / CAST(length(list_distinct(list_concat(tok, nb2_tok)))
      |      AS DOUBLE), 6)
      |  FROM nb WHERE nb2_tok IS NOT NULL),
      |g AS (SELECT least(CAST(floor(j * 10) AS INTEGER), 9) AS decile,
      |    count(*) AS n_pairs,
      |    round(CAST(sum(CAST(j AS DECIMAL(18,6))) AS DOUBLE)
      |      / count(*), 6) AS mean_j
      |  FROM p GROUP BY 1)
      |SELECT decile, n_pairs, mean_j,
      |  round(1.0 - pow(1.0 - pow(mean_j, 4), 16), 6) AS p_candidate
      |FROM g ORDER BY decile""".stripMargin

  /** Embedding-space drift matrix: pairwise cosine between per-LABEL
    * centroids — "are class regions collapsing or drifting apart", the
    * geometry check run after any re-embedding before similarity
    * thresholds are trusted again (complements q153's PCA variance
    * view with a direct between-class angle view). Centroids follow
    * the q41 float→STRING→DECIMAL discipline per dimension; the 45
    * label-pair cosines derive from rounded centroid cells with
    * per-dim product rounds → DECIMAL sums. Scale: one posexplode scan
    * reduces to |labels|×64 cells; everything after is
    * labels²-bounded.
    */
  val centroidDrift: Q = (s, dir) => {
    val cells = t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(round(sum(col("v").cast("string").cast("decimal(18,9)"))
        .cast("double") / count(lit(1)), 6).as("c"))
    val pairs = cells.as("a").join(cells.as("b"),
        col("a.pos") === col("b.pos") && col("a.label") < col("b.label"))
      .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
        round(col("a.c") * col("b.c"), 10).cast("decimal(20,10)").as("ab"),
        round(col("a.c") * col("a.c"), 10).cast("decimal(20,10)").as("aa"),
        round(col("b.c") * col("b.c"), 10).cast("decimal(20,10)").as("bb"))
    pairs.groupBy(col("label_a"), col("label_b"))
      .agg(round(sum(col("ab")).cast("double")
        / sqrt(sum(col("aa")).cast("double") * sum(col("bb")).cast("double")),
        6).as("cosine"))
      .orderBy(col("label_a"), col("label_b"))
  }

  val centroidDriftSql: String =
    """WITH cells AS (SELECT label, CAST(d.dim AS INTEGER) AS pos,
      |    round(CAST(sum(CAST(CAST(embedding[d.dim] AS VARCHAR)
      |      AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS c
      |  FROM embeddings CROSS JOIN
      |    (SELECT unnest(generate_series(1, 64)) AS dim) d
      |  GROUP BY 1, 2)
      |SELECT a.label AS label_a, b.label AS label_b,
      |  round(CAST(sum(CAST(round(a.c * b.c, 10) AS DECIMAL(20,10)))
      |      AS DOUBLE)
      |    / sqrt(CAST(sum(CAST(round(a.c * a.c, 10) AS DECIMAL(20,10)))
      |        AS DOUBLE)
      |      * CAST(sum(CAST(round(b.c * b.c, 10) AS DECIMAL(20,10)))
      |        AS DOUBLE)), 6) AS cosine
      |FROM cells a JOIN cells b ON a.pos = b.pos AND a.label < b.label
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Unseen-species estimation per source (Good '53 / Chao '84): the
    * Good–Turing unseen-probability mass p₀ = n₁/N (share of the NEXT
    * token drawn that will be a never-seen type) and the bias-corrected
    * Chao1 richness floor V + n₁(n₁−1)/(2(n₂+1)) — "how much vocabulary
    * is the next crawl of this source going to add", the planning
    * number behind tokenizer-budget and dedup-priority calls (q221's
    * TTR says what IS there; this says what ISN'T yet). Everything is
    * exact integer (N, V, n₁, n₂ off one token-keyed agg) with two
    * final float divisions. Scale: the q129/q188 gram discipline —
    * shuffle carries (source, token) once; state is |sources| rows.
    */
  val unseenSpecies: Q = (s, dir) => {
    val cnt = t(s, dir, "documents")
      .select(col("source"),
        explode(TextStats.tokens(lower(col("text")))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c"))
    cnt.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tok"), count(lit(1)).as("vocab"),
        coalesce(sum(when(col("c") === 1, 1L)), lit(0L)).as("n1"),
        coalesce(sum(when(col("c") === 2, 1L)), lit(0L)).as("n2"))
      .select(col("source"), col("n_tok"), col("vocab"), col("n1"),
        col("n2"),
        round(col("n1").cast("double") / col("n_tok").cast("double"), 6)
          .as("p_unseen"),
        round(col("vocab").cast("double")
          + col("n1").cast("double") * (col("n1") - 1).cast("double")
            / (lit(2.0) * (col("n2") + 1).cast("double")), 2).as("chao1"))
      .orderBy(col("source"))
  }

  val unseenSpeciesSql: String =
    """WITH tk AS (SELECT source,
      |    unnest(regexp_extract_all(lower(text), '\S+')) AS tok
      |  FROM documents),
      |c AS (SELECT source, tok, count(*) AS c FROM tk GROUP BY 1, 2)
      |SELECT source, CAST(sum(c) AS BIGINT) AS n_tok,
      |  count(*) AS vocab,
      |  CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 END), 0) AS BIGINT) AS n1,
      |  CAST(coalesce(sum(CASE WHEN c = 2 THEN 1 END), 0) AS BIGINT) AS n2,
      |  round(CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 END), 0) AS DOUBLE)
      |    / CAST(sum(c) AS DOUBLE), 6) AS p_unseen,
      |  round(CAST(count(*) AS DOUBLE)
      |    + CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 END), 0) AS DOUBLE)
      |      * CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 END), 0) - 1
      |        AS DOUBLE)
      |      / (2.0 * CAST(coalesce(sum(CASE WHEN c = 2 THEN 1 END), 0) + 1
      |        AS DOUBLE)), 2) AS chao1
      |FROM c GROUP BY source ORDER BY source""".stripMargin

  /** Heaps'-law fit (Heaps '78, V = k·N^β): log-log OLS of vocabulary
    * size on token count across sources — the sublinear-growth exponent
    * every tokenizer-capacity and storage projection extrapolates with
    * (q221/vocabGrowth gives the raw per-source points; this fits the
    * law and reports how well it holds). The fit runs on |sources|
    * points: ln's round → DECIMAL per point (the q126 ln discipline),
    * the five OLS moments are DECIMAL sums, slope/intercept/r² are
    * single compound float expressions over exact sums (q226's grouped
    * OLS shape, one group). Scale: input is the (source, token)-keyed
    * agg; the regression itself is |sources|-bounded.
    */
  val heapsFit: Q = (s, dir) => {
    val pts = t(s, dir, "documents")
      .select(col("source"),
        explode(TextStats.tokens(lower(col("text")))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
      .select(round(log(col("n").cast("double")), 8)
          .cast("decimal(18,8)").as("x"),
        round(log(col("v").cast("double")), 8).cast("decimal(18,8)").as("y"))
      .select(col("x"), col("y"),
        round(col("x") * col("y"), 10).cast("decimal(24,10)").as("xy"),
        round(col("x") * col("x"), 10).cast("decimal(24,10)").as("xx"),
        round(col("y") * col("y"), 10).cast("decimal(24,10)").as("yy"))
    pts.agg(count(lit(1)).as("n_sources"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("xy")).as("sxy"), sum(col("xx")).as("sxx"),
        sum(col("yy")).as("syy"))
      .select(col("n_sources"), {
        val n = col("n_sources").cast("double")
        // operators TRAIL the line (a LEADING '-' in a brace block is a
        // new unary-minus statement in Scala and silently drops the
        // subtrahend — caught by the sf0.01 oracle on first contact)
        val cov = n * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")
        val vx = n * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")
        val vy = n * col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double")
        struct(
          round(cov / vx, 6).as("beta"),
          round(exp((col("sy").cast("double") - cov / vx
            * col("sx").cast("double")) / n), 4).as("k_hat"),
          round(cov * cov / (vx * vy), 6).as("r2")).as("f")
      })
      .select(col("n_sources"), col("f.beta").as("beta"),
        col("f.k_hat").as("k_hat"), col("f.r2").as("r2"))
  }

  val heapsFitSql: String =
    """WITH tk AS (SELECT source,
      |    unnest(regexp_extract_all(lower(text), '\S+')) AS tok
      |  FROM documents),
      |c AS (SELECT source, tok, count(*) AS c FROM tk GROUP BY 1, 2),
      |p0 AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
      |    count(*) AS v FROM c GROUP BY source),
      |p AS (SELECT CAST(round(ln(CAST(n AS DOUBLE)), 8) AS DECIMAL(18,8))
      |      AS x,
      |    CAST(round(ln(CAST(v AS DOUBLE)), 8) AS DECIMAL(18,8)) AS y
      |  FROM p0),
      |m AS (SELECT x, y,
      |    CAST(round(x * y, 10) AS DECIMAL(24,10)) AS xy,
      |    CAST(round(x * x, 10) AS DECIMAL(24,10)) AS xx,
      |    CAST(round(y * y, 10) AS DECIMAL(24,10)) AS yy FROM p),
      |a AS (SELECT count(*) AS n_sources,
      |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
      |    CAST(sum(xy) AS DOUBLE) AS sxy, CAST(sum(xx) AS DOUBLE) AS sxx,
      |    CAST(sum(yy) AS DOUBLE) AS syy FROM m)
      |SELECT n_sources,
      |  round((n_sources * sxy - sx * sy)
      |    / (n_sources * sxx - sx * sx), 6) AS beta,
      |  round(exp((sy - (n_sources * sxy - sx * sy)
      |      / (n_sources * sxx - sx * sx) * sx) / n_sources), 4) AS k_hat,
      |  round((n_sources * sxy - sx * sy) * (n_sources * sxy - sx * sy)
      |    / ((n_sources * sxx - sx * sx)
      |      * (n_sources * syy - sy * sy)), 6) AS r2
      |FROM a""".stripMargin

  /** Offline CUSUM changepoint detection (Page '54's cumulative-sum
    * statistic in its retrospective max-|S| form): daily event totals,
    * centered cumulative sum S_d = Σ_{d'≤d}(x − μ), and the changepoint
    * estimate argmax|S_d| with the σ√n-normalized magnitude — the
    * level-shift detector that catches what q246's week-mix χ² (share
    * drift) and the rolling z (local spikes) both miss: a sustained
    * volume step. EXACTNESS: S is carried ×n as n·S_d = n·cum_d −
    * d_idx·N (pure integers in DECIMAL(38,0) — no float until the two
    * final divisions), so the argmax is an exact integer argmax with a
    * min-day tiebreak. Scale: day-domain-bounded after the daily
    * reduce; the cumulative window runs over |days| rows.
    */
  val cusumChangepoint: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = Dedup.pin(Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x")))
    val tot = daily.agg(count(lit(1)).as("nd"), sum(col("x")).as("nx"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("nxx"))
    // bounded partition-less windows (this and idx below): input is the
    // per-DAY aggregate — calendar-sized, never events (r8 verdict #5)
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily
      .withColumn("cum", sum(col("x")).over(wCum))
      .withColumn("idx", row_number().over(Window.orderBy(col("day"))))
      .crossJoin(broadcast(tot))
      // n·S_d, exact in DECIMAL(38,0)
      .withColumn("ns", col("nd").cast("decimal(38,0)") * col("cum")
        - col("idx").cast("decimal(38,0)") * col("nx"))
      .withColumn("absns", abs(col("ns")))
    val top = cum.orderBy(col("absns").desc, col("day")).limit(1)
    top.select(col("nd").as("n_days"), col("day").as("cp_day"),
      round((col("ns").cast("double") / col("nd").cast("double")), 2)
        .as("s_at_cp"),
      round(abs(col("ns")).cast("double") / col("nd").cast("double")
        / (sqrt((col("nd").cast("double") * col("nxx").cast("double")
          - col("nx").cast("double") * col("nx").cast("double"))
          / (col("nd").cast("double") * col("nd").cast("double")))
          * sqrt(col("nd").cast("double"))), 6).as("stat"))
  }

  val cusumChangepointSql: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS x
      |  FROM events GROUP BY 1),
      |tt AS (SELECT count(*) AS nd, CAST(sum(x) AS BIGINT) AS nx,
      |    sum(CAST(x AS HUGEINT) * x) AS nxx FROM daily),
      |c AS (SELECT day,
      |    CAST(sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cum,
      |    row_number() OVER (ORDER BY day) AS idx FROM daily),
      |ns AS (SELECT day,
      |    CAST(nd AS HUGEINT) * cum - CAST(idx AS HUGEINT) * nx AS ns,
      |    nd, nx, nxx FROM c CROSS JOIN tt),
      |top AS (SELECT * FROM ns ORDER BY abs(ns) DESC, day LIMIT 1)
      |SELECT nd AS n_days, day AS cp_day,
      |  round(CAST(ns AS DOUBLE) / CAST(nd AS DOUBLE), 2) AS s_at_cp,
      |  round(CAST(abs(ns) AS DOUBLE) / CAST(nd AS DOUBLE)
      |    / (sqrt((CAST(nd AS DOUBLE) * CAST(nxx AS DOUBLE)
      |      - CAST(nx AS DOUBLE) * CAST(nx AS DOUBLE))
      |      / (CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE)))
      |      * sqrt(CAST(nd AS DOUBLE))), 6) AS stat
      |FROM top""".stripMargin

  /** Classifier ranking-quality battery: EXACT ROC-AUC via the
    * rank-sum identity AUC = U/(n₊·n₋) (Hanley–McNeil '82 — so the AUC
    * needs no curve integration and no corpus sort: it reuses q248's
    * value-domain doubled-rank machinery on the score domain), plus the
    * precision/recall/F1 operating table at the 11 decile thresholds —
    * the companion readout to q247's calibration: q247 says whether the
    * score MEANS its value, this says how well it RANKS (and where to
    * cut it). Positives = lang-en documents, score = quality. All
    * counts exact integers; divisions happen once per output cell;
    * zero-denominator cells are NULL on both engines. Scale: one scan
    * to score-value counts (≤10⁶ distinct rounded scores), then
    * 11-row and 1-row frames.
    */
  val rocPr: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val per = Dedup.pin(t(s, dir, "documents")
      .select(TextStats.qualityScore(col("text")).as("sc"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .groupBy(col("sc"))
      .agg(sum(col("y")).as("ca"), count(lit(1)).as("ct")))
    // bounded partition-less window: input is the per-DISTINCT-score
    // aggregate — score-domain-sized, never the corpus (r8 verdict #5)
    val w = Window.orderBy(col("sc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val auc = per
      .withColumn("cum", sum(col("ct")).over(w))
      .withColumn("r2", lit(2) * (col("cum") - col("ct")) + col("ct") + 1)
      .agg(sum(col("ca")).as("na"), sum(col("ct") - col("ca")).as("nb"),
        sum(col("ca").cast("decimal(38,0)") * col("r2")).as("ra2"))
      .select(round((col("ra2")
        - col("na").cast("decimal(38,0)") * (col("na") + 1)).cast("double")
        / 2.0
        / (col("na").cast("double") * col("nb").cast("double")), 6)
        .as("auc"))
    val grid = spark_range_thresholds(s)
    per.crossJoin(broadcast(grid))
      .groupBy(col("thresh"))
      .agg(
        coalesce(sum(when(col("sc") >= col("thresh").cast("double") / 10.0,
          col("ca"))), lit(0L)).as("tp"),
        coalesce(sum(when(col("sc") >= col("thresh").cast("double") / 10.0,
          col("ct") - col("ca"))), lit(0L)).as("fp"),
        coalesce(sum(when(col("sc") < col("thresh").cast("double") / 10.0,
          col("ca"))), lit(0L)).as("fn"))
      .select(col("thresh"), col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") > 0,
          round(col("tp").cast("double")
            / (col("tp") + col("fp")).cast("double"), 6)).as("precision"),
        when(col("tp") + col("fn") > 0,
          round(col("tp").cast("double")
            / (col("tp") + col("fn")).cast("double"), 6)).as("recall"),
        when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
          round(lit(2.0) * col("tp").cast("double")
            / (lit(2) * col("tp") + col("fp") + col("fn")).cast("double"),
            6)).as("f1"))
      .crossJoin(broadcast(auc))
      .orderBy(col("thresh"))
  }

  protected def spark_range_thresholds(s: SparkSession): DataFrame =
    s.range(0, 11).select(col("id").cast("int").as("thresh"))

  val rocPrSql: String =
    s"""WITH sc AS (SELECT $qScoreSql AS sc,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
       |per AS (SELECT sc, CAST(sum(y) AS BIGINT) AS ca, count(*) AS ct
       |  FROM sc GROUP BY sc),
       |r AS (SELECT sc, ca, ct,
       |    2 * (sum(ct) OVER (ORDER BY sc ROWS UNBOUNDED PRECEDING) - ct)
       |      + ct + 1 AS r2 FROM per),
       |a AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
       |    CAST(sum(ct - ca) AS BIGINT) AS nb,
       |    sum(CAST(ca AS HUGEINT) * r2) AS ra2 FROM r),
       |auc AS (SELECT round(CAST(ra2 - CAST(na AS HUGEINT) * (na + 1)
       |      AS DOUBLE) / 2.0
       |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS auc FROM a),
       |g AS (SELECT CAST(t.range AS INTEGER) AS thresh FROM range(11) t),
       |cells AS (SELECT thresh,
       |    CAST(coalesce(sum(CASE WHEN sc >= CAST(thresh AS DOUBLE) / 10.0
       |      THEN ca END), 0) AS BIGINT) AS tp,
       |    CAST(coalesce(sum(CASE WHEN sc >= CAST(thresh AS DOUBLE) / 10.0
       |      THEN ct - ca END), 0) AS BIGINT) AS fp,
       |    CAST(coalesce(sum(CASE WHEN sc < CAST(thresh AS DOUBLE) / 10.0
       |      THEN ca END), 0) AS BIGINT) AS fn
       |  FROM per CROSS JOIN g GROUP BY thresh)
       |SELECT thresh, tp, fp, fn,
       |  CASE WHEN tp + fp > 0 THEN round(CAST(tp AS DOUBLE)
       |    / CAST(tp + fp AS DOUBLE), 6) END AS precision,
       |  CASE WHEN tp + fn > 0 THEN round(CAST(tp AS DOUBLE)
       |    / CAST(tp + fn AS DOUBLE), 6) END AS recall,
       |  CASE WHEN 2 * tp + fp + fn > 0 THEN round(2.0 * CAST(tp AS DOUBLE)
       |    / CAST(2 * tp + fp + fn AS DOUBLE), 6) END AS f1,
       |  auc
       |FROM cells CROSS JOIN auc ORDER BY thresh""".stripMargin

  /** Watermark-lateness audit: the measurement that SIZES
    * `withWatermark` for the streaming family (q177/q194/q208/q209) —
    * how much event-time disorder does the arrival stream actually
    * carry, and what fraction of events would each candidate watermark
    * drop? Arrival disorder is PLANTED deterministically (the
    * q102/q117 planted-construction idiom: this corpus's event_id
    * arrival order is perfectly time-sorted, so a real audit needs
    * jitter): arrival = event time + md5-uniform jitter in [0, 120 s).
    * Per user, the running event-time max over arrival order (exactly
    * Spark's per-key watermark state) flags events arriving more than
    * W behind it, for W ∈ {1 s, 10 s, 60 s}. All comparisons exact
    * integer µs. Scale: ONE user-partitioned window (thousands of
    * parallel partitions), then a global one-row reduce.
    */
  val watermarkAudit: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("arrival",
        col("us") + conv(substring(md5(col("event_id").cast("string")),
          1, 15), 16, 10).cast("long") % 120000000L)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("arrival"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = ev
      .withColumn("pm", max(col("us")).over(w))
      .withColumn("late_us",
        greatest(lit(0L), coalesce(col("pm") - col("us"), lit(0L))))
    late.agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 1000000L, 1L).otherwise(0L)).as("late_1s"),
        sum(when(col("late_us") > 10000000L, 1L).otherwise(0L))
          .as("late_10s"),
        sum(when(col("late_us") > 60000000L, 1L).otherwise(0L))
          .as("late_60s"),
        max(col("late_us")).as("max_late_us"))
      .select(col("n_events"), col("late_1s"), col("late_10s"),
        col("late_60s"),
        round(col("late_1s").cast("double") / col("n_events").cast("double"),
          6).as("share_1s"),
        round(col("late_10s").cast("double")
          / col("n_events").cast("double"), 6).as("share_10s"),
        round(col("late_60s").cast("double")
          / col("n_events").cast("double"), 6).as("share_60s"),
        col("max_late_us"))
  }

  val watermarkAuditSql: String =
    """WITH e AS (SELECT user_id, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |j AS (SELECT user_id, event_id, us,
      |    us + ('0x'||substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
      |      % 120000000 AS arrival FROM e),
      |l AS (SELECT us,
      |    greatest(0, coalesce(max(us) OVER (PARTITION BY user_id
      |      ORDER BY arrival, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - us, 0))
      |      AS late_us FROM j)
      |SELECT count(*) AS n_events,
      |  CAST(sum(CASE WHEN late_us > 1000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS late_1s,
      |  CAST(sum(CASE WHEN late_us > 10000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS late_10s,
      |  CAST(sum(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS late_60s,
      |  round(CAST(sum(CASE WHEN late_us > 1000000 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*), 6) AS share_1s,
      |  round(CAST(sum(CASE WHEN late_us > 10000000 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*), 6) AS share_10s,
      |  round(CAST(sum(CASE WHEN late_us > 60000000 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*), 6) AS share_60s,
      |  CAST(max(late_us) AS BIGINT) AS max_late_us
      |FROM l""".stripMargin

  /** Leave-one-out k-NN label accuracy on sampled anchors (the Cover &
    * Hart '67 1-NN risk bound generalized to k=5 majority vote): does
    * the embedding space actually SEPARATE the labels the similarity
    * ops assume it does — the fitness check run before any
    * SemDeDup-style (q155) semantic pruning trusts cosine
    * neighborhoods. Anchors are the 50 lowest vec_ids (FIXED count, so
    * the pair frame is 50·n — linear in the corpus, never n²; the
    * production path for all-points coverage is the LSH-bucketed kNN,
    * q25). Vote: top-5 by (cosine desc, vec_id), majority with
    * smallest-label tiebreak, scored against the anchor's own label.
    * Cosines use the q24 double-dot formulation both engines share
    * bit-for-bit. Output: per-label anchor counts and accuracy.
    */
  val knnAccuracy: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val emb = t(s, dir, "embeddings")
    val anchors = emb.orderBy(col("vec_id")).limit(50)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val scored = emb.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
        (graft.functions.VectorExpressions.dot_product(col("qe"),
          col("embedding"))
          / (sqrt(graft.functions.VectorExpressions.dot_product(col("qe"),
            col("qe")))
            * sqrt(graft.functions.VectorExpressions.dot_product(
              col("embedding"), col("embedding"))))).as("score"))
    val top = scored.withColumn("rk",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("vec_id"))))
      .filter(col("rk") <= 5)
    val votes = top.groupBy(col("qid"), col("qlabel"), col("label"))
      .agg(count(lit(1)).as("v"))
    val winner = votes.withColumn("rv",
        row_number().over(Window.partitionBy(col("qid"))
          .orderBy(col("v").desc, col("label"))))
      .filter(col("rv") === 1)
    winner.groupBy(col("qlabel"))
      .agg(count(lit(1)).as("n_anchors"),
        sum(when(col("label") === col("qlabel"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("qlabel").as("label"), col("n_anchors"), col("n_correct"),
        round(col("n_correct").cast("double")
          / col("n_anchors").cast("double"), 6).as("acc"))
      .orderBy(col("label"))
  }

  val knnAccuracySql: String =
    """WITH v AS (SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |a AS (SELECT vec_id AS qid, label AS qlabel, e AS qe FROM v
      |  ORDER BY vec_id LIMIT 50),
      |scored AS (SELECT qid, qlabel, vec_id, label,
      |    list_dot_product(qe, e) / (sqrt(list_dot_product(qe, qe))
      |      * sqrt(list_dot_product(e, e))) AS score
      |  FROM v CROSS JOIN a WHERE vec_id <> qid),
      |top AS (SELECT * FROM (SELECT qid, qlabel, label, score,
      |    row_number() OVER (PARTITION BY qid
      |      ORDER BY score DESC, vec_id) AS rk FROM scored)
      |  WHERE rk <= 5),
      |votes AS (SELECT qid, qlabel, label, count(*) AS v FROM top
      |  GROUP BY 1, 2, 3),
      |w AS (SELECT * FROM (SELECT qid, qlabel, label,
      |    row_number() OVER (PARTITION BY qid ORDER BY v DESC, label)
      |      AS rv FROM votes) WHERE rv = 1)
      |SELECT qlabel AS label, count(*) AS n_anchors,
      |  CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_correct,
      |  round(CAST(sum(CASE WHEN label = qlabel THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*), 6) AS acc
      |FROM w GROUP BY qlabel ORDER BY label""".stripMargin

  /** NATIVE session_window sessionization, batch mode (the Spark 3.2+
    * built-in that replaces hand-rolled gaps-and-islands when gap
    * semantics suffice — q42/q209 build sessions manually; this gates
    * the ENGINE's own session operator against the same islands
    * oracle): 30-minute-gap user sessions, session end = last event +
    * gap by definition of the operator. Values ride as exact cents
    * (q209 discipline). Sessions merge when the next event starts at
    * or before the current session end (ts ≤ prev + gap), mirrored in
    * the oracle's strict `>` break predicate. Scale: one user-keyed
    * agg — the operator's merging iterator is the same shuffle shape
    * as any groupBy(user).
    */
  val sessionWindowBatch: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"),
        (col("value").cast("decimal(18,2)") * 100).cast("double").as("cents"))
    ev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("c"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"), col("c").cast("long").as("total_cents"))
      .orderBy(col("user_id"), col("start_us"))
  }

  val sessionWindowBatchSql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events),
      |b AS (SELECT user_id, ts, cents,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |      THEN 1 ELSE 0 END AS brk
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |g AS (SELECT user_id, ts, cents,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS UNBOUNDED PRECEDING) AS sid FROM b)
      |SELECT user_id, epoch_us(min(ts)) AS start_us,
      |  epoch_us(max(ts)) + 1800000000 AS end_us,
      |  count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS total_cents
      |FROM g GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin

  /** NATIVE session_window sessionization, STREAMING (the seventh
    * streaming parity gate; the built-in-state complement of q209's
    * flatMapGroupsWithState — same 30-minute-gap semantics, state
    * managed by the engine's session-merging aggregation instead of
    * custom code): 5-batch time-partitioned file stream (q209 staging:
    * monotone modtimes so arrival = event-time order), 2 h watermark,
    * append mode — closed sessions emit when the watermark passes
    * session end, and the far-future sentinel (user −1) flushes every
    * open session at end-of-stream. Hash-matched against the identical
    * islands oracle as the batch twin, so the gate proves the
    * streaming state machinery changes NOTHING about the answer.
    * Scale: state = active sessions only, evicted at watermark.
    */
  val streamSessionWindow: Q = (s, dir) => withShufflePartitions(s, 8) {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = scratch("graft_stream_swin_src")
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("double").as("cents"))
    val bounds = ev.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi")).head()
    val (lo, hi) =
      if (bounds.isNullAt(0)) (0L, 4L)
      else (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(hi - lo, 4L)
    Staging.stageSlices(ev, unix_micros(col("ts")), 4, lo, span, srcDir,
      scratch("graft_stream_swin_stage"), Seq(col("event_id")))
    Staging.stageOne(s.range(1).select(lit(-1L).as("event_id"),
      timestamp_micros(lit(hi + 30L * 86400L * 1000000L)).as("ts"),
      lit(-1L).as("user_id"), lit(0.0).as("cents")), 4, srcDir,
      scratch("graft_stream_swin_sent"))
    val stream = s.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir.toString)
    val sessions = stream
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("c"))
    val qname = "graft_stream_swin_sink"
    val sq = sessions
      .writeStream.outputMode("append").format("memory")
      .queryName(qname).trigger(Trigger.AvailableNow()).start()
    sq.awaitTermination()
    s.table(qname)
      .filter(col("user_id") >= 0)
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"), col("c").cast("long").as("total_cents"))
      .orderBy(col("user_id"), col("start_us"))
  }

  val streamSessionWindowSql: String = sessionWindowBatchSql

  /** Curation attrition waterfall — the per-stage survivor report every
    * dataset paper publishes (Gopher table A1, Dolma, RefinedWeb all
    * lead with one): the corpus flows through exact-dedup keeper →
    * word-count band → mean-word-length band → stopword floor (q20's
    * dedup + q158's rule battery, applied CUMULATIVELY in the order a
    * production pipeline runs them), and each stage reports rows in,
    * rows dropped, rows out, and surviving token mass. The one
    * artifact that tells an owner WHERE the corpus is going and which
    * rule to re-tune. Plan shape: one scan computes every rule bit
    * row-locally; the only shuffle is the 16-byte-fingerprint keeper
    * group (q20); the waterfall itself is ONE global aggregate
    * unpivoted to 4 rows. Counts exact; no floats cross rows.
    */
  val curationWaterfall: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val nW = TextStats.tokenCount(col("text"))
    val mwl = length(regexp_replace(col("text"), "\\s", "")).cast("double") /
      greatest(nW, lit(1)).cast("double")
    val stw = TextStats.stopwordCount(col("text"), TextStats.defaultStopwords)
    // every rule bit + the dedup fingerprint off ONE scan
    val base = Dedup.pin(docs.select(col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"),
      nW.cast("long").as("tok"),
      nW.between(20, 80).as("rw"),
      (mwl >= 3.0 && mwl <= 10.0).as("rm"),
      (stw >= 2).as("rs")))
    val keepers = base.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    val flags = base.join(keepers, Seq("fp"))
      .select(col("tok"),
        (col("doc_id") === col("keep_id")).as("c1"),
        col("rw"), col("rm"), col("rs"))
      .select(col("tok"), col("c1"),
        (col("c1") && col("rw")).as("c2"),
        (col("c1") && col("rw") && col("rm")).as("c3"),
        (col("c1") && col("rw") && col("rm") && col("rs")).as("c4"))
    def n(c: String) = sum(when(col(c), 1L).otherwise(0L))
    def tk(c: String) = coalesce(sum(when(col(c), col("tok"))), lit(0L))
    flags.agg(count(lit(1)).as("n0"),
        n("c1").as("n1"), tk("c1").as("t1"),
        n("c2").as("n2"), tk("c2").as("t2"),
        n("c3").as("n3"), tk("c3").as("t3"),
        n("c4").as("n4"), tk("c4").as("t4"))
      .select(expr(
        "stack(4, 1, 'exact_dedup', n0, n1, t1," +
          " 2, 'word_count', n1, n2, t2," +
          " 3, 'word_length', n2, n3, t3," +
          " 4, 'stopwords', n3, n4, t4)" +
          " AS (stage, rule, n_in, n_out, tok_out)"))
      .select(col("stage"), col("rule"), col("n_in"),
        (col("n_in") - col("n_out")).as("n_dropped"), col("n_out"),
        col("tok_out"))
      .orderBy(col("stage"))
  }

  val curationWaterfallSql: String =
    """WITH b AS (SELECT doc_id,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      |    CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS tok,
      |    length(regexp_extract_all(text, '\S+')) BETWEEN 20 AND 80 AS rw,
      |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
      |      / greatest(length(regexp_extract_all(text, '\S+')), 1)
      |      BETWEEN 3.0 AND 10.0 AS rm,
      |    length(regexp_extract_all(lower(text),
      |      '\b(the|a|an|and|of|to|in|is|it)\b')) >= 2 AS rs
      |  FROM documents),
      |k AS (SELECT fp, min(doc_id) AS keep_id FROM b GROUP BY fp),
      |f AS (SELECT tok, b.doc_id = keep_id AS c1, rw, rm, rs
      |  FROM b JOIN k USING (fp)),
      |c AS (SELECT tok, c1, c1 AND rw AS c2, c1 AND rw AND rm AS c3,
      |    c1 AND rw AND rm AND rs AS c4 FROM f),
      |a AS (SELECT count(*) AS n0,
      |    CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(coalesce(sum(CASE WHEN c1 THEN tok END), 0) AS BIGINT) AS t1,
      |    CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(coalesce(sum(CASE WHEN c2 THEN tok END), 0) AS BIGINT) AS t2,
      |    CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
      |    CAST(coalesce(sum(CASE WHEN c3 THEN tok END), 0) AS BIGINT) AS t3,
      |    CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
      |    CAST(coalesce(sum(CASE WHEN c4 THEN tok END), 0) AS BIGINT) AS t4
      |  FROM c)
      |SELECT * FROM (
      |  SELECT 1 AS stage, 'exact_dedup' AS rule, n0 AS n_in,
      |    n0 - n1 AS n_dropped, n1 AS n_out, t1 AS tok_out FROM a
      |  UNION ALL SELECT 2, 'word_count', n1, n1 - n2, n2, t2 FROM a
      |  UNION ALL SELECT 3, 'word_length', n2, n2 - n3, n3, t3 FROM a
      |  UNION ALL SELECT 4, 'stopwords', n3, n3 - n4, n4, t4 FROM a)
      |ORDER BY stage""".stripMargin

  /** transformWithState running-totals parity — the EIGHTH streaming
    * gate, and the first on Spark 4's NEW arbitrary-state API
    * (StatefulProcessor + ValueState + the RocksDB state store, the
    * surface that supersedes q209's flatMapGroupsWithState): per-user
    * cumulative (event count, cent total) emitted per event across a
    * 5-file time-partitioned stream, hash-matched against the batch
    * cumulative-window oracle. Parity engineering: the q209 staging
    * (arrival = event-time order) plus in-batch (µs, event_id)
    * sort inside the processor make the fold order exactly the
    * oracle's window order; cents are whole doubles so sums are exact.
    * The RocksDB provider is set for THIS query and restored after —
    * the other streaming gates stay on the default provider. Scale:
    * state is one (n, cents) pair per user (TTL-expirable).
    */
  val streamRunningTotals: Q = (s, dir) => withShufflePartitions(s, 8) {
    import org.apache.spark.sql.streaming.Trigger
    import s.implicits._
    val srcDir = scratch("graft_stream_tws_src")
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("double").as("value"))
    val bounds = ev.agg(min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi")).head()
    val (lo, hi) =
      if (bounds.isNullAt(0)) (0L, 4L)
      else (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(hi - lo, 4L)
    Staging.stageSlices(ev, unix_micros(col("ts")), 4, lo, span, srcDir,
      scratch("graft_stream_tws_stage"), Seq(col("event_id")))
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = s.conf.getOption(providerKey)
    s.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = s.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir.toString)
        .as[graft.streaming.EventStreams.Event]
      val totals = graft.streaming.EventStreams.runningTotals(stream)(s)
      val qname = "graft_stream_tws_sink"
      val sq = totals.toDF()
        .writeStream.outputMode("append").format("memory")
        .queryName(qname).trigger(Trigger.AvailableNow()).start()
      sq.awaitTermination()
      s.table(qname)
        .select(col("user_id"), col("event_id"), col("cum_n"),
          col("cum_cents"))
        .orderBy(col("user_id"), col("event_id"))
    } finally {
      prevProvider match {
        case Some(p) => s.conf.set(providerKey, p)
        case None    => s.conf.unset(providerKey)
      }
    }
  }

  val streamRunningTotalsSql: String =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events)
      |SELECT user_id, event_id,
      |  CAST(row_number() OVER w AS BIGINT) AS cum_n,
      |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents
      |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin

  /** Join-strategy parity battery: the SAME customer⋈orders aggregate
    * executed under the engine's three equi-join strategies — broadcast
    * hash, shuffled hash, sort-merge — selected by hints, with the
    * results proven identical (one oracle row per strategy). The gate
    * that demonstrates plan CONTROL: Catalyst picks a default, but a
    * 100 TB operator must be able to force the right strategy when
    * statistics mislead (a broadcast that OOMs the driver, a sort that
    * spills). PlanShapeSpec pins each hinted plan to its exec node.
    * Values are decSum-exact so all three strategies hash identically.
    */
  val joinStrategies: Q = (s, dir) => {
    val c = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
    val o = t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
    def run(hint: String, label: String): DataFrame =
      o.join(c.hint(hint), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice"), 2)
          .as("total"))
        .select(lit(label).as("strategy"), col("c_mktsegment"),
          col("n_orders"), col("total"))
    run("broadcast", "broadcast_hash")
      .unionAll(run("shuffle_hash", "shuffled_hash"))
      .unionAll(run("merge", "sort_merge"))
      .orderBy(col("strategy"), col("c_mktsegment"))
  }

  val joinStrategiesSql: String =
    """WITH a AS (SELECT c_mktsegment, count(*) AS n_orders,
      |    round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
      |      2) AS total
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_mktsegment)
      |SELECT s.strategy, a.c_mktsegment, a.n_orders, a.total
      |FROM a CROSS JOIN (SELECT unnest(['broadcast_hash', 'shuffled_hash',
      |  'sort_merge']) AS strategy) s
      |ORDER BY s.strategy, a.c_mktsegment""".stripMargin

  /** Day-2 incremental MinHash/LSH maintenance
    * ([[Dedup.incrementalMinhashPairs]] — the near-dup analog of q117's
    * exact incremental screen, completing the IVM family q171/q242/
    * q154/q117 with the APPROXIMATE index): docs with id % 10 == 0
    * arrive as the new batch; only pairs INVOLVING the batch are
    * discovered, by probing the band table from the new side — no
    * old×old work. The oracle is the exact all-pairs shingle Jaccard
    * (the q21 recall harness) restricted to new-involving pairs, so
    * the gate simultaneously proves day-2 completeness (LSH missed
    * nothing) and day-2 scope (nothing outside the Δ neighborhood is
    * touched). Scale: Δ signatures are the only new map work; the
    * probe is Δ-bands × bucket width.
    *
    * Gate scope (r8 advice #5): the operator screens at threshold 0.7,
    * but BOTH sides of the gate keep only pairs with exact j ≥ 0.85 —
    * above the (b=16, r=4) S-curve's high-recall knee. At j = 0.70 a
    * true pair agrees in no band with probability (1−0.7⁴)¹⁶ ≈ 1.2%,
    * so exact-set equality at the operating threshold would hold only
    * while the fixed corpus happens to miss nothing and any testdata
    * regeneration could flip the gate red with no code change; at
    * j = 0.85 the per-pair miss probability is (1−0.85⁴)¹⁶ ≈ 7·10⁻⁶.
    * The 0.7-threshold recall itself is measured (not gated) by q189's
    * calibration harness.
    */
  val incrementalLsh: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val fresh = docs.filter(col("doc_id") % 10 === 0)
    val index = docs.filter(col("doc_id") % 10 =!= 0)
    Dedup.incrementalMinhashPairs(index, fresh, "text", "doc_id",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.7)
      .filter(col("jaccard") >= 0.85)
      .orderBy(col("id1"), col("id2"))
  }

  val incrementalLshSql: String =
    """WITH toks AS (SELECT doc_id,
      |    regexp_extract_all(lower(text), '\S+') AS tok FROM documents),
      |sh AS (SELECT doc_id,
      |    list_distinct(list_transform(generate_series(1, len(tok)-2),
      |      i -> tok[i]||' '||tok[i+1]||' '||tok[i+2])) AS sh
      |  FROM toks WHERE len(tok) >= 3),
      |g AS (SELECT doc_id, unnest(sh) AS gram FROM sh),
      |inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS cnt
      |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |p AS (SELECT i.id1, i.id2,
      |    CAST(i.cnt AS DOUBLE) / (len(l.sh) + len(r.sh) - i.cnt) AS j
      |  FROM inter i JOIN sh l ON i.id1 = l.doc_id
      |    JOIN sh r ON i.id2 = r.doc_id)
      |SELECT id1, id2, round(j, 6) AS jaccard
      |FROM p WHERE j >= 0.85 AND (id1 % 10 = 0 OR id2 % 10 = 0)
      |ORDER BY id1, id2""".stripMargin

  /** Welch's unequal-variance t-test (Welch '47 with the
    * Welch–Satterthwaite df): the parametric twin of q248's
    * Mann–Whitney on the SAME contrast (en vs rest document lengths),
    * so an analyst can read both the rank-based and the moment-based
    * verdicts off comparable gates. All five sufficient statistics are
    * exact integers off one conditional agg (Σx and Σx² per group in
    * DECIMAL(38,0) — n_chars² sums wrap int64 at corpus scale); the
    * t statistic and df are single compound float expressions. Scale:
    * one scan, two rows of state.
    */
  val welchT: Q = (s, dir) => {
    val base = t(s, dir, "documents")
      .select(col("n_chars"),
        when(col("lang") === "en", 1L).otherwise(0L).as("g"))
    base.agg(
        sum(col("g")).as("na"), sum(lit(1L) - col("g")).as("nb"),
        sum(when(col("g") === 1, col("n_chars")).otherwise(0L)
          .cast("decimal(38,0)")).as("sa"),
        sum(when(col("g") === 0, col("n_chars")).otherwise(0L)
          .cast("decimal(38,0)")).as("sb"),
        sum(when(col("g") === 1,
          col("n_chars").cast("decimal(38,0)") * col("n_chars"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("qa"),
        sum(when(col("g") === 0,
          col("n_chars").cast("decimal(38,0)") * col("n_chars"))
          .otherwise(lit(0).cast("decimal(38,0)"))).as("qb"))
      .select(col("na"), col("nb"), {
        val na = col("na").cast("double"); val nb = col("nb").cast("double")
        val ma = col("sa").cast("double") / na
        val mb = col("sb").cast("double") / nb
        // sample variance via the exact sums: (nΣx² − (Σx)²)/(n(n−1))
        val va = (na * col("qa").cast("double")
          - col("sa").cast("double") * col("sa").cast("double")) /
          (na * (na - 1))
        val vb = (nb * col("qb").cast("double")
          - col("sb").cast("double") * col("sb").cast("double")) /
          (nb * (nb - 1))
        val sea = va / na; val seb = vb / nb
        struct(
          round(ma, 4).as("mean_a"), round(mb, 4).as("mean_b"),
          round((ma - mb) / sqrt(sea + seb), 6).as("t_stat"),
          round((sea + seb) * (sea + seb)
            / (sea * sea / (na - 1) + seb * seb / (nb - 1)), 2).as("df"))
          .as("f")
      })
      .select(col("na"), col("nb"), col("f.mean_a").as("mean_a"),
        col("f.mean_b").as("mean_b"), col("f.t_stat").as("t_stat"),
        col("f.df").as("df"))
  }

  val welchTSql: String =
    """WITH a AS (SELECT
      |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS na,
      |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS nb,
      |    sum(CASE WHEN lang = 'en' THEN CAST(n_chars AS HUGEINT)
      |      ELSE 0 END) AS sa,
      |    sum(CASE WHEN lang <> 'en' THEN CAST(n_chars AS HUGEINT)
      |      ELSE 0 END) AS sb,
      |    sum(CASE WHEN lang = 'en'
      |      THEN CAST(n_chars AS HUGEINT) * n_chars ELSE 0 END) AS qa,
      |    sum(CASE WHEN lang <> 'en'
      |      THEN CAST(n_chars AS HUGEINT) * n_chars ELSE 0 END) AS qb
      |  FROM documents),
      |m AS (SELECT na, nb,
      |    CAST(sa AS DOUBLE) / na AS ma, CAST(sb AS DOUBLE) / nb AS mb,
      |    (na * CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE)
      |      * CAST(sa AS DOUBLE)) / (na * CAST(na - 1 AS DOUBLE)) / na
      |      AS sea,
      |    (nb * CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE)
      |      * CAST(sb AS DOUBLE)) / (nb * CAST(nb - 1 AS DOUBLE)) / nb
      |      AS seb
      |  FROM a)
      |SELECT na, nb, round(ma, 4) AS mean_a, round(mb, 4) AS mean_b,
      |  round((ma - mb) / sqrt(sea + seb), 6) AS t_stat,
      |  round((sea + seb) * (sea + seb)
      |    / (sea * sea / (na - 1) + seb * seb / (nb - 1)), 2) AS df
      |FROM m""".stripMargin

  /** Seasonal-naive forecast backtest with MASE (Hyndman & Koehler '06
    * — the scale-free forecast-accuracy metric): per event type,
    * "predict day d by day d−7" is scored against the actual daily
    * count, scaled by the in-sample naive-1 mean absolute difference —
    * MASE < 1 means the weekly-seasonal rule beats the naive
    * random-walk, the go/no-go before anyone ships a fancier forecast.
    * Errors are exact integer |x_d − x_{d−7}| sums; the two means and
    * their ratio are the only floats. Scale: day-domain frames per
    * type after the daily reduce; lag() windows partitioned by type.
    */
  val maseBacktest: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("f7", lag(col("x"), 7).over(w))
      .withColumn("f1", lag(col("x"), 1).over(w))
      .filter(col("f7").isNotNull && col("f1").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("x") - col("f7"))).as("ae7"),
        sum(abs(col("x") - col("f1"))).as("ae1"))
      .select(col("event_type"), col("n_days"),
        round(col("ae7").cast("double") / col("n_days").cast("double"), 4)
          .as("mae_seasonal"),
        round(col("ae1").cast("double") / col("n_days").cast("double"), 4)
          .as("mae_naive"),
        round(col("ae7").cast("double") / col("ae1").cast("double"), 6)
          .as("mase"))
      .orderBy(col("event_type"))
  }

  val maseBacktestSql: String =
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    count(*) AS x FROM events GROUP BY 1, 2),
      |l AS (SELECT event_type, x,
      |    lag(x, 7) OVER w AS f7, lag(x, 1) OVER w AS f1
      |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day))
      |SELECT event_type, count(*) AS n_days,
      |  round(CAST(sum(abs(x - f7)) AS DOUBLE) / count(*), 4)
      |    AS mae_seasonal,
      |  round(CAST(sum(abs(x - f1)) AS DOUBLE) / count(*), 4)
      |    AS mae_naive,
      |  round(CAST(sum(abs(x - f7)) AS DOUBLE)
      |    / CAST(sum(abs(x - f1)) AS DOUBLE), 6) AS mase
      |FROM l WHERE f7 IS NOT NULL AND f1 IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Neyman optimal stratified-sampling allocation (Neyman '34): for a
    * fixed inspection budget of 1000 documents, how many to draw from
    * each language stratum — n_h ∝ N_h·σ_h (big AND variable strata
    * get more) vs the proportional baseline N_h/N — the sample-design
    * table behind every human-eval and labeling budget. σ_h from exact
    * integer moments; the Σ N_h·σ_h normalizer sums per-stratum
    * round→DECIMAL terms (q126 discipline). Scale: one keyed agg,
    * |strata| rows.
    */
  val neymanAllocation: Q = (s, dir) => {
    val B = 1000
    val per = Dedup.pin(t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("nh"),
        sum(col("n_chars").cast("decimal(38,0)")).as("sx"),
        sum(col("n_chars").cast("decimal(38,0)") * col("n_chars"))
          .as("sxx"))
      .select(col("lang"), col("nh"), {
        val n = col("nh").cast("double")
        round(sqrt((n * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
          / (n * n)), 6).as("sigma")
      }))
    val tot = per.agg(sum(col("nh")).as("n_all"),
      sum(round(col("nh") * col("sigma"), 4).cast("decimal(28,4)"))
        .as("wsum"))
    per.crossJoin(broadcast(tot))
      .select(col("lang"), col("nh"), round(col("sigma"), 2).as("sigma"),
        round(lit(B) * round(col("nh") * col("sigma"), 4)
          .cast("double") / col("wsum").cast("double"), 2)
          .as("alloc_neyman"),
        round(lit(B) * col("nh").cast("double")
          / col("n_all").cast("double"), 2).as("alloc_prop"))
      .orderBy(col("lang"))
  }

  val neymanAllocationSql: String =
    """WITH per AS (SELECT lang, count(*) AS nh,
      |    sum(CAST(n_chars AS HUGEINT)) AS sx,
      |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
      |  FROM documents GROUP BY lang),
      |sg AS (SELECT lang, nh,
      |    round(sqrt((nh * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
      |      * CAST(sx AS DOUBLE))
      |      / (CAST(nh AS DOUBLE) * CAST(nh AS DOUBLE))), 6) AS sigma
      |  FROM per),
      |tt AS (SELECT CAST(sum(nh) AS BIGINT) AS n_all,
      |    sum(CAST(round(nh * sigma, 4) AS DECIMAL(28,4))) AS wsum
      |  FROM sg)
      |SELECT lang, nh, round(sigma, 2) AS sigma,
      |  round(1000 * CAST(CAST(round(nh * sigma, 4) AS DECIMAL(28,4))
      |    AS DOUBLE) / CAST(wsum AS DOUBLE), 2) AS alloc_neyman,
      |  round(1000 * CAST(nh AS DOUBLE) / CAST(n_all AS DOUBLE), 2)
      |    AS alloc_prop
      |FROM sg CROSS JOIN tt ORDER BY lang""".stripMargin

  /** Lincoln–Petersen capture–recapture population estimate (Petersen
    * 1896 / Lincoln '30, with Chapman '51's bias correction): two
    * deterministic md5 "crawls" each capture ~60% of the corpus, and
    * the overlap estimates the TOTAL population — the estimator a crawl
    * operator uses to size the web they have NOT yet fetched, here run
    * against a corpus whose true size is known so the estimator's
    * error is itself hash-checked. Capture flags are row-local
    * md5-uniform tests (independent per crawl by key salt); counts
    * exact; both estimators and the error are final-step floats.
    * Scale: one scan, one row of state.
    */
  val captureRecapture: Q = (s, dir) => {
    def u(salt: String) =
      (conv(substring(md5(concat(col("doc_id").cast("string"), lit(salt))),
        1, 15), 16, 10).cast("long").cast("double") / lit(math.pow(2, 60)))
    t(s, dir, "documents")
      .select((u(":a") < 0.6).as("ia"), (u(":b") < 0.6).as("ib"))
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("ia"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("ib"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("ia") && col("ib"), 1L).otherwise(0L)).as("m"))
      .select(col("n_a"), col("n_b"), col("m"), col("n_true"),
        round(col("n_a").cast("double") * col("n_b").cast("double")
          / col("m").cast("double"), 2).as("n_hat_lp"),
        round((col("n_a") + 1).cast("double")
          * (col("n_b") + 1).cast("double")
          / (col("m") + 1).cast("double") - 1.0, 2).as("n_hat_chapman"),
        round(((col("n_a") + 1).cast("double")
          * (col("n_b") + 1).cast("double")
          / (col("m") + 1).cast("double") - 1.0
          - col("n_true").cast("double"))
          / col("n_true").cast("double"), 6).as("chapman_err"))
  }

  val captureRecaptureSql: String =
    """WITH f AS (SELECT
      |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':a'), 1, 15))::BIGINT
      |      / CAST(pow(2, 60) AS DOUBLE) < 0.6 AS ia,
      |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':b'), 1, 15))::BIGINT
      |      / CAST(pow(2, 60) AS DOUBLE) < 0.6 AS ib
      |  FROM documents),
      |a AS (SELECT count(*) AS n_true,
      |    CAST(sum(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS BIGINT) AS m
      |  FROM f)
      |SELECT n_a, n_b, m, n_true,
      |  round(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
      |    / CAST(m AS DOUBLE), 2) AS n_hat_lp,
      |  round(CAST(n_a + 1 AS DOUBLE) * CAST(n_b + 1 AS DOUBLE)
      |    / CAST(m + 1 AS DOUBLE) - 1.0, 2) AS n_hat_chapman,
      |  round((CAST(n_a + 1 AS DOUBLE) * CAST(n_b + 1 AS DOUBLE)
      |    / CAST(m + 1 AS DOUBLE) - 1.0 - CAST(n_true AS DOUBLE))
      |    / CAST(n_true AS DOUBLE), 6) AS chapman_err
      |FROM a""".stripMargin

  /** End-to-end curated export — the pipeline the whole catalog exists
    * to run, as ONE gate: q262's cumulative keep-set (exact-dedup
    * keeper + the Gopher rule battery) → q205's row-local HRW shard
    * assignment (4 shards) → a REAL partitioned parquet write → read
    * the files back and emit the shard manifest (docs, token mass,
    * integrity triple min/max/Σ of ids — exact integers, so any row
    * the write dropped or duplicated flips the manifest). The oracle
    * computes the same manifest from the logical pipeline alone, so
    * the hash-match proves the physical round-trip byte-preserved the
    * keep-set. Scale: the write IS the shuffle (partitionBy on the
    * 4-value shard column); everything else is row-local or
    * |shards|-bounded.
    */
  val curatedExport: Q = (s, dir) => {
    val tmp = scratch("graft_export_gate").toString
    val docs = t(s, dir, "documents")
    val nW = TextStats.tokenCount(col("text"))
    val mwl = length(regexp_replace(col("text"), "\\s", "")).cast("double") /
      greatest(nW, lit(1)).cast("double")
    val stw = TextStats.stopwordCount(col("text"), TextStats.defaultStopwords)
    val base = docs.select(col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"),
      nW.cast("long").as("tok"),
      (nW.between(20, 80) && mwl >= 3.0 && mwl <= 10.0 && (stw >= 2))
        .as("rules"))
    val keepers = base.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    val weights = array((0 until 4).map { i =>
      struct(
        conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(":" + i))), 1, 15), 16, 10).cast("long").as("w"),
        lit(i).as("shard"))
    }: _*)
    val kept = base.join(keepers, Seq("fp"))
      .filter(col("doc_id") === col("keep_id") && col("rules"))
      .select(col("doc_id"), col("tok"),
        array_max(weights).getField("shard").as("shard"))
    Writers.parquet(kept, s"$tmp/export", partitionBy = Seq("shard"))
    Readers.parquetWithSchema(s, s"$tmp/export", kept.schema)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tok_sum"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
        sum(col("doc_id")).as("id_sum"))
      .select(col("shard").cast("int").as("shard"), col("n_docs"),
        col("tok_sum"), col("min_id"), col("max_id"), col("id_sum"))
      .orderBy(col("shard"))
  }

  val curatedExportSql: String =
    """WITH b AS (SELECT doc_id,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      |    CAST(length(regexp_extract_all(text, '\S+')) AS BIGINT) AS tok,
      |    (length(regexp_extract_all(text, '\S+')) BETWEEN 20 AND 80)
      |      AND (CAST(length(regexp_replace(text, '\s', '', 'g'))
      |        AS DOUBLE)
      |        / greatest(length(regexp_extract_all(text, '\S+')), 1)
      |        BETWEEN 3.0 AND 10.0)
      |      AND length(regexp_extract_all(lower(text),
      |        '\b(the|a|an|and|of|to|in|is|it)\b')) >= 2 AS rules
      |  FROM documents),
      |k AS (SELECT fp, min(doc_id) AS keep_id FROM b GROUP BY fp),
      |kept AS (SELECT b.doc_id, tok FROM b JOIN k USING (fp)
      |  WHERE b.doc_id = keep_id AND rules),
      |w AS (SELECT doc_id, tok, CAST(r.range AS INTEGER) AS shard,
      |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)||':'
      |      ||CAST(r.range AS VARCHAR)), 1, 15))::BIGINT AS wt
      |  FROM kept CROSS JOIN range(4) r),
      |pick AS (SELECT doc_id, tok, shard FROM (SELECT doc_id, tok, shard,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY wt DESC, shard DESC) AS rn FROM w) WHERE rn = 1)
      |SELECT shard, count(*) AS n_docs,
      |  CAST(sum(tok) AS BIGINT) AS tok_sum,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id,
      |  CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM pick GROUP BY shard ORDER BY shard""".stripMargin

  /** Time-RANGE window frame (the frame variety the catalog's other
    * 30+ windows don't exercise — every prior frame is ROWS-based):
    * for every event, the count and cent mass of the SAME user's
    * events in the preceding hour, frame = RANGE [−1h, current] over
    * the µs axis — the sliding-context feature a fraud/burst scorer
    * computes per event, where a ROWS frame would be WRONG whenever
    * event density varies (k rows ≠ one hour). Exact integer µs
    * bounds; cents sum exactly. Scale: user-partitioned range frames —
    * Spark evaluates them with a sliding two-pointer over each
    * partition's sort, O(n) per user.
    */
  val rangeFrame: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-3600000000L, 0L)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .withColumn("n_hour", count(lit(1)).over(w))
      .withColumn("cents_hour", sum(col("cents")).over(w))
      .select(col("event_id"), col("user_id"), col("n_hour"),
        col("cents_hour"))
      .orderBy(col("event_id"))
  }

  val rangeFrameSql: String =
    """WITH e AS (SELECT event_id, user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM events)
      |SELECT event_id, user_id,
      |  count(*) OVER w AS n_hour,
      |  CAST(sum(cents) OVER w AS BIGINT) AS cents_hour
      |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us
      |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  /** Typed Dataset mapGroups pipeline (the `KeyValueGroupedDataset`
    * batch surface — the catalog uses its streaming siblings in
    * q209/q263; this gates the TYPED per-key escape hatch itself):
    * per-user stream shape via case-class groups — event count, span,
    * and the LONGEST inter-event gap, computed imperatively over the
    * sorted group. The pattern for per-key logic that genuinely
    * doesn't decompose into window functions (here it does — which is
    * exactly what makes it oracle-checkable). Scale: one user-keyed
    * shuffle; each group folds in memory (per-user streams, not the
    * corpus).
    */
  val typedGroups: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .as[(Long, Long, Long)]
    ev.groupByKey(_._1)
      .mapGroups { (uid, it) =>
        val times = it.map(e => (e._2, e._3)).toArray.sortBy(identity)
        var maxGap = 0L
        var i = 1
        while (i < times.length) {
          val g = times(i)._1 - times(i - 1)._1
          if (g > maxGap) maxGap = g
          i += 1
        }
        (uid, times.length.toLong, times.last._1 - times.head._1, maxGap)
      }
      .toDF("user_id", "n_events", "span_us", "max_gap_us")
      .orderBy(col("user_id"))
  }

  val typedGroupsSql: String =
    """WITH e AS (SELECT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id FROM events),
      |g AS (SELECT user_id, us,
      |    us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      AS gap FROM e)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(max(us) - min(us) AS BIGINT) AS span_us,
      |  CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap_us
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Consistent-hash ring assignment + the consistency property
    * MEASURED (Karger '97; 4 nodes × 16 vnodes): the ring is 64
    * md5 positions computed ONCE and shipped as a broadcast literal
    * array sorted by position, so per-doc assignment is a ROW-LOCAL
    * first-position-≥-hash probe (wraparound to ring[0]) — zero
    * shuffle, the q205 HRW discipline for the ring family. The gate
    * then REMOVES node 3 and re-assigns: per node, docs before, docs
    * after, docs gained — consistent hashing's whole selling point
    * ("only the removed node's keys move") as hash-checked integers
    * rather than prose. Scale: assignment is row-local against a
    * 64-struct constant.
    */
  val consistentRing: Q = (s, dir) => {
    def md5pos(key: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8"))
      var v = 0L
      (0 until 7).foreach(i => v = (v << 8) | (d(i) & 0xffL))
      (v << 4) | ((d(7) & 0xf0L) >>> 4)
    }
    val ring = (for (n <- 0 until 4; v <- 0 until 16)
      yield (md5pos(s"node:$n:$v"), n)).sortBy(_._1)
    val ringSans3 = ring.filter(_._2 != 3)
    def assign(r: Seq[(Long, Int)], p: Column): Column = {
      // first ring position >= p, else wraparound to the smallest
      val hit = r.foldRight(lit(r.head._2)) { case ((pos, node), acc) =>
        when(p <= pos, lit(node)).otherwise(acc)
      }
      hit
    }
    val p = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
      16, 10).cast("long")
    val assigned = t(s, dir, "documents")
      .select(col("doc_id"),
        assign(ring, p).as("node_before"),
        assign(ringSans3, p).as("node_after"))
    assigned.groupBy(col("node_before").as("node"))
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("node_after") === col("node_before"), 1L).otherwise(0L))
          .as("n_stayed"))
      .join(
        assigned.filter(col("node_after") =!= col("node_before"))
          .groupBy(col("node_after").as("node"))
          .agg(count(lit(1)).as("n_gained")),
        Seq("node"), "left")
      .select(col("node"), col("n_before"), col("n_stayed"),
        coalesce(col("n_gained"), lit(0L)).as("n_gained"))
      .orderBy(col("node"))
  }

  val consistentRingSql: String = {
    // the same driver-computed ring inlined into the oracle: the ring
    // is a CONSTANT of the algorithm (md5 of "node:n:v"), so both
    // engines must agree on it by construction
    def md5pos(key: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8"))
      var v = 0L
      (0 until 7).foreach(i => v = (v << 8) | (d(i) & 0xffL))
      (v << 4) | ((d(7) & 0xf0L) >>> 4)
    }
    val ring = (for (n <- 0 until 4; v <- 0 until 16)
      yield (md5pos(s"node:$n:$v"), n)).sortBy(_._1)
    def values(r: Seq[(Long, Int)]) =
      r.map { case (pos, node) => s"($pos, $node)" }.mkString(", ")
    s"""WITH ring AS (SELECT * FROM (VALUES ${values(ring)}) r(pos, node)),
       |ring2 AS (SELECT * FROM ring WHERE node <> 3),
       |d AS (SELECT doc_id,
       |    ('0x'||substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS p
       |  FROM documents),
       |a AS (SELECT doc_id, p,
       |    coalesce((SELECT node FROM ring WHERE pos >= p
       |        ORDER BY pos LIMIT 1),
       |      (SELECT node FROM ring ORDER BY pos LIMIT 1)) AS node_before,
       |    coalesce((SELECT node FROM ring2 WHERE pos >= p
       |        ORDER BY pos LIMIT 1),
       |      (SELECT node FROM ring2 ORDER BY pos LIMIT 1)) AS node_after
       |  FROM d),
       |b AS (SELECT node_before AS node, count(*) AS n_before,
       |    CAST(sum(CASE WHEN node_after = node_before THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_stayed
       |  FROM a GROUP BY node_before),
       |g AS (SELECT node_after AS node, count(*) AS n_gained FROM a
       |  WHERE node_after <> node_before GROUP BY node_after)
       |SELECT b.node, n_before, n_stayed,
       |  CAST(coalesce(n_gained, 0) AS BIGINT) AS n_gained
       |FROM b LEFT JOIN g ON b.node = g.node ORDER BY b.node""".stripMargin
  }

  /** Time-series gap fill by linear interpolation, with the recovery
    * error MEASURED: every 5th day of each event type's daily-count
    * series is removed (a planted outage — the corpus has no natural
    * gaps, the q102/q258 planting idiom), the holes are filled by
    * exact-rational linear interpolation between the surviving
    * neighbors, and the gate reports per type how close the fill came
    * to the KNOWN truth — gap-filling quality as a hash-checked
    * number. Neighbors come from a portable day-domain non-equi join
    * (max surviving day < gap < min surviving day), not engine-specific
    * IGNORE NULLS forms. Scale: day-domain frames per type throughout.
    */
  val gapFill: Q = (s, dir) => {
    val daily = Dedup.pin(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("di", datediff(col("day"), to_date(lit("2024-01-01")))))
    val kept = daily.filter(col("di") % 5 =!= 2)
    val holes = daily.filter(col("di") % 5 === 2)
      .select(col("event_type"), col("di").as("hd"), col("x").as("truth"))
    val prevN = holes.join(kept.select(col("event_type"),
        col("di").as("pd"), col("x").as("pv")), Seq("event_type"))
      .filter(col("pd") < col("hd"))
      .groupBy(col("event_type"), col("hd"), col("truth"))
      .agg(max(struct(col("pd"), col("pv"))).as("p"))
    val nextN = holes.join(kept.select(col("event_type"),
        col("di").as("nd"), col("x").as("nv")), Seq("event_type"))
      .filter(col("nd") > col("hd"))
      .groupBy(col("event_type"), col("hd"))
      .agg(min(struct(col("nd"), col("nv"))).as("n"))
    prevN.join(nextN, Seq("event_type", "hd"))
      .select(col("event_type"), col("hd"), col("truth"),
        round(col("p.pv").cast("double")
          + (col("n.nv") - col("p.pv")).cast("double")
          * (col("hd") - col("p.pd")).cast("double")
          / (col("n.nd") - col("p.pd")).cast("double"), 4).as("filled"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        round(sum(round(abs(col("filled") - col("truth")), 4)
          .cast("decimal(18,4)")).cast("double")
          / count(lit(1)), 4).as("mae"),
        round(max(abs(col("filled") - col("truth"))), 4).as("max_err"))
      .orderBy(col("event_type"))
  }

  val gapFillSql: String =
    """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    count(*) AS x,
      |    datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di
      |  FROM events GROUP BY 1, 2),
      |kept AS (SELECT * FROM d WHERE di % 5 <> 2),
      |holes AS (SELECT event_type, di AS hd, x AS truth FROM d
      |  WHERE di % 5 = 2),
      |p AS (SELECT h.event_type, hd, truth,
      |    max_by(k.x, k.di) AS pv, max(k.di) AS pd
      |  FROM holes h JOIN kept k ON h.event_type = k.event_type
      |    AND k.di < h.hd
      |  GROUP BY 1, 2, 3),
      |n AS (SELECT h.event_type, hd,
      |    min_by(k.x, k.di) AS nv, min(k.di) AS nd
      |  FROM holes h JOIN kept k ON h.event_type = k.event_type
      |    AND k.di > h.hd
      |  GROUP BY 1, 2),
      |f AS (SELECT p.event_type, p.hd, truth,
      |    round(CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE)
      |      * CAST(p.hd - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE), 4)
      |      AS filled
      |  FROM p JOIN n ON p.event_type = n.event_type AND p.hd = n.hd)
      |SELECT event_type, count(*) AS n_gaps,
      |  round(CAST(sum(CAST(round(abs(filled - truth), 4)
      |    AS DECIMAL(18,4))) AS DOUBLE) / count(*), 4) AS mae,
      |  round(max(abs(filled - truth)), 4) AS max_err
      |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Revenue mix-shift decomposition (the Laspeyres-convention
    * volume/rate attribution every BI review runs on a metric change):
    * purchase cents per event type, week 1 vs week 2 (anchored at the
    * data's min date — q198 discipline), with Δrevenue split EXACTLY
    * into volume effect Δn·r₀ and rate effect n₁·Δr — the identity
    * volume + rate = Δ holds algebraically, so the gate's rounded
    * columns must reconcile to the cent. All inputs exact integers;
    * the two effects are single compound float expressions. Scale:
    * |types| rows after one filtered scan.
    */
  val mixShift: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val anchor = ev.agg(min(to_date(col("ts"))).as("d0"))
    val base = ev.filter(col("event_type") === "purchase")
      .crossJoin(broadcast(anchor))
      .withColumn("wk", expr("CAST(datediff(to_date(ts), d0) AS INT) div 7"))
      .filter(col("wk") <= 1)
      .groupBy(col("wk"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("c"))
    val w0 = base.filter(col("wk") === 0)
      .select(col("n").as("n0"), col("c").as("c0"))
    val w1 = base.filter(col("wk") === 1)
      .select(col("n").as("n1"), col("c").as("c1"))
    w0.crossJoin(w1)
      .select(col("n0"), col("n1"), col("c0"), col("c1"), {
        val r0 = col("c0").cast("double") / col("n0").cast("double")
        val r1 = col("c1").cast("double") / col("n1").cast("double")
        struct(
          round((col("n1") - col("n0")).cast("double") * r0, 2)
            .as("volume_effect"),
          round(col("n1").cast("double") * (r1 - r0), 2).as("rate_effect"))
          .as("f")
      })
      .select(col("n0"), col("n1"), col("c0"), col("c1"),
        col("f.volume_effect").as("volume_effect"),
        col("f.rate_effect").as("rate_effect"))
  }

  val mixShiftSql: String =
    """WITH a AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
      |b AS (SELECT CAST(datediff('day', d0, CAST(ts AS DATE)) AS INTEGER)
      |      // 7 AS wk,
      |    count(*) AS n,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM events CROSS JOIN a WHERE event_type = 'purchase'
      |  GROUP BY 1 HAVING wk <= 1),
      |w0 AS (SELECT n AS n0, c AS c0 FROM b WHERE wk = 0),
      |w1 AS (SELECT n AS n1, c AS c1 FROM b WHERE wk = 1)
      |SELECT n0, n1, c0, c1,
      |  round(CAST(n1 - n0 AS DOUBLE) * (CAST(c0 AS DOUBLE)
      |    / CAST(n0 AS DOUBLE)), 2) AS volume_effect,
      |  round(CAST(n1 AS DOUBLE) * (CAST(c1 AS DOUBLE)
      |    / CAST(n1 AS DOUBLE) - CAST(c0 AS DOUBLE)
      |    / CAST(n0 AS DOUBLE)), 2) AS rate_effect
      |FROM w0 CROSS JOIN w1""".stripMargin

  /** Mid-stream checkpoint RESUME — the production failure mode q214's
    * replay gate does NOT cover (q214 proves a re-delivered source is
    * absorbed idempotently from a FRESH checkpoint; this gate proves a
    * stopped query restarted on its EXISTING checkpoint recovers both
    * its source offsets and its operator state). Harness: phase 1
    * streams the even-doc_id half of the corpus (one file per
    * micro-batch) through dropDuplicates + a complete-mode aggregate
    * and stops; phase 2 appends the odd half PLUS a re-delivery of
    * every doc_id % 10 == 0 document (all even → all already consumed
    * in phase 1) and restarts on the SAME checkpoint. The re-delivered
    * docs appear exactly once in phase-2 input, so ONLY the recovered
    * dropDuplicates state can drop them — a fresh-state restart would
    * overcount n_unique, and a restart that re-read phase-1 files
    * would double-process (offsets proof). The batch oracle is the
    * whole-corpus distinct count: equality proves state AND offset
    * recovery in one hash. [[graft.streaming.CheckpointResumeSpec]]
    * additionally pins that phase-2 batchIds CONTINUE phase-1's
    * sequence (the restart consumed the existing write-ahead log, not
    * a new one). Scale: state is (source, fp-16-bytes) pairs; the
    * checkpoint is the standard HDFS-backed WAL — exactly the
    * machinery a 1000-executor recovery uses.
    */
  private[graft] def checkpointResumeRun(s: SparkSession, dir: String)
      : (DataFrame, Long, Long) = withShufflePartitions(s, 8) {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val srcDir = scratch("graft_ckpt_resume_src")
    val ckptDir = scratch("graft_ckpt_resume_ckpt")
    val docs = Tables.table(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    docs.filter(col("doc_id") % 2 === 0).repartition(4)
      .write.mode("overwrite").parquet(srcDir.toString)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType)))
    def run(qname: String) = {
      val sq = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir.toString)
        .select(col("source"), md5(col("text").cast("binary")).as("fp"))
        .dropDuplicates("source", "fp")
        .groupBy(col("source")).agg(count(lit(1)).as("n_unique"))
        .writeStream.outputMode("complete").format("memory")
        .option("checkpointLocation", ckptDir.toString)
        .queryName(qname).trigger(Trigger.AvailableNow()).start()
      sq.awaitTermination()
      Option(sq.lastProgress).map(_.batchId).getOrElse(-1L)
    }
    val p1Last = run("graft_ckpt_resume_p1")
    docs.filter(col("doc_id") % 2 === 1)
      .unionByName(docs.filter(col("doc_id") % 10 === 0))
      .repartition(4)
      .write.mode("append").parquet(srcDir.toString)
    val p2Last = run("graft_ckpt_resume_p2")
    val out = s.table("graft_ckpt_resume_p2")
      .select(col("source"), col("n_unique"))
      .orderBy(col("source"))
    (out, p1Last, p2Last)
  }

  val checkpointResume: Q = (s, dir) => checkpointResumeRun(s, dir)._1

  val checkpointResumeSql: String =
    """SELECT source, count(DISTINCT md5(text)) AS n_unique
      |FROM documents GROUP BY source ORDER BY source""".stripMargin
}
