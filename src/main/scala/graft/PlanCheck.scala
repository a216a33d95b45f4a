package graft

/** Dev tool: dump formatted physical plans for headline queries so the
  * shuffle/broadcast/pushdown story can be inspected and tuned
  * (`sbt "runMain graft.PlanCheck [sfDir] [query ...]"`).
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q01_gold_flagship", "q11_filter_pushdown", "q21_dedup_minhash",
        "q24_simsearch_brute", "q13_window_topk", "q92_reservoir_sample",
        "q91_contamination", "q22_dedup_simhash", "q104_repetition_signals",
        "q105_domain_mix", "q106_ngram_novelty", "q110_salted_join",
        "q118_passage_dedup", "q123_winsorize_quality", "q124_bloom_semi_join",
        "q126_token_surprisal", "q147_pii_scrub", "q148_sequence_pack",
        "q151_domain_blocklist", "q152_cdc_chunks", "q154_cdc_sync")
    val spark = Session.local("graft-plancheck")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      Queries.all(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
