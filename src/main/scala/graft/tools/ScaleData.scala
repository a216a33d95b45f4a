package graft.tools

import org.apache.spark.sql.functions._

/** Deterministic corpus augmentation for scaling-curve runs (r3 VERDICT
  * #8: no scale factor above sf0.1 existed, so scale claims beyond it were
  * design-by-argument).
  *
  * Each source document is emitted `copies` times: copy 0 verbatim, copy
  * k > 0 with a short " vk" suffix — so every original near-dup CLUSTER
  * grows ×copies while staying a genuine near-dup cluster (pairwise
  * shingle-Jaccard stays high). That makes pair counts grow
  * QUADRATICALLY in `copies` while docs grow linearly — exactly the
  * stress that separates pair-materializing dedup from cluster-native
  * dedup. Embeddings are likewise replicated with a tiny deterministic
  * per-copy perturbation on one dimension (keeps near-neighbor structure,
  * avoids exact duplicates).
  *
  * Usage: runMain graft.tools.ScaleData [srcDir] [outDir] [copies]
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sfbig")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session.local("graft-scaledata")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val bigDocs = docs
      .select(col("*"), explode(sequence(lit(0), lit(copies - 1))).as("k"))
      .select(
        (col("doc_id") + col("k") * maxId).as("doc_id"),
        when(col("k") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" v"), col("k"))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
    bigDocs.repartition(16).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val maxVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val bigEmb = emb
      .select(col("*"), explode(sequence(lit(0), lit(copies - 1))).as("k"))
      .select(
        (col("vec_id") + col("k") * maxVec).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + col("k").cast("float") * lit(0.001f))
            .otherwise(x)).as("embedding"),
        col("label")) // carried per copy — label-keyed ops (q196) need it
    bigEmb.repartition(16).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")

    // events ×copies: user population replicated with offset ids (each
    // copy keeps its users' event streams intact, so per-user windowed
    // ops see the same stream shapes at 10× the key cardinality — the
    // right stress for SCD2/funnel/cohort/anomaly scaling); raw nanos ts
    // kept as a plain long column (Tables.events handles both encodings)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$src/events.parquet")
    val maxUser = ev.agg(max(col("user_id"))).head().getLong(0) + 1
    val maxEvent = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    val bigEv = ev
      .select(col("*"), explode(sequence(lit(0), lit(copies - 1))).as("k"))
      .select(
        (col("event_id") + col("k") * maxEvent).as("event_id"),
        col("ts"),
        (col("user_id") + col("k") * maxUser).as("user_id"),
        col("event_type"), col("value"), col("props"))
    bigEv.repartition(16).write.mode("overwrite").parquet(s"$out/events.parquet")

    println(s"""{"docs":${bigDocs.count()},"vecs":${bigEmb.count()},"events":${bigEv.count()},"out":"$out"}""")
    spark.stop()
  }
}
