package graft

import org.apache.spark.sql.SparkSession

/** Plan-evidence dump: writes the FORMATTED physical plan of each
  * headline query to bench/PLANS.md so the plan-shape claims (pushdown,
  * pruning, broadcast choice, keyed windows, no cartesian products) are
  * reviewable as a committed artifact and diffable between rounds — a
  * silently-acquired exchange or a lost PushedFilters shows up in the
  * diff before it shows up in the bench. Named queries instead print
  * their plans to stdout, for a before/after diff of one change. A query
  * that persists an intermediate while it is built prints its lazy form
  * ([[SparkEntry.lazyQuery]]): the plan its final checkpoint runs, not a
  * scan of that checkpoint.
  *
  * Run: sbt "runMain graft.PlanDump [sfDir] [query ...]"
  */
object PlanDump {
  private val Headline = Seq(
    "q1_pricing_summary",  // scan + partial agg: PushedFilters/ReadSchema
    "q3_top_revenue",      // broadcast dim join
    "window_dwell",        // keyed window
    "rfm_tiers",           // exact global ntiles, two-pass range sort
    "dedup_minhash",       // LSH banding + pair-driven verify
    "ann_ivf",             // coarse-quantized ANN probe
    "media_neardup_sampled", // sampled pair histogram under a broadcast
    "span_scrub",          // block-hash first-occurrence + rebuild
    "hard_negatives",      // broadcast-bounded contrastive mining
    "gains_deciles",       // ntile + tiny self-join, no global window
    "score_rank_norm",     // global range-sort rank + broadcast offsets
    "ann_probe_persisted", // probe-only plan over the published index
    "ann_probe_pq",        // ADC codes-scan probe + bounded exact re-rank
    "trigram_ppl",         // KN LM aggs + trigram-keyed score join
    "fourgram_ppl",        // pruned 4-gram left join + backoff coalesce
    "fivegram_ppl",        // pruned 5-gram left join + backoff coalesce
    "funnel_windowed",     // stage filter below ONE user-keyed shuffle
    "bm25_topk",           // pre-shuffle term filter + TakeOrdered top-k
    "semantic_decontam_ann", // eval probes × inverted lists, no crossJoin
    "group_sample",        // md5-coin rank → WindowGroupLimit pushdown
    "ewma_smooth",         // bucket-blocked band join, bounded fan-out
    "item_cooccur",        // basket self-join + exact-integer lift
    "triangle_count",      // degree-oriented wedge join + edge semi-join
    "containment_pairs",   // capped inverted index, one-pass pair agg
    "rolling_zscore",      // keyed frame aggregates, row-local score
    "gap_fill_locf",       // day-spine explode + ignoreNulls running window
    "bpe_apply",           // vocab-fold broadcast join over corpus words
    "fuzzy_pairs",         // prefix/suffix block joins + banded Levenshtein
    "cusum_alerts",        // rebased prefix-sum CUSUM, user-keyed windows
    "cms_est_err",         // mergeable count-min grid + broadcast probe
    "peak_concurrency",    // interval sweep on the two-pass running sum
    "isotonic_calibration", // PAV minimax on the O(bins) reduced frame
    "embed_rp",            // row-local JL projection, zero pre-agg shuffle
    "weighted_percentiles", // global range sort + running weight CDF
    "hll_est_err",         // register grid partial agg + tiny estimate join
    "label_prop",          // iterative keyed join vs the cached edge list
    "curriculum_order",    // exact ntile tiers + coin-shuffled global rank
    "ann_ndcg",            // membership join over tiny per-query frames
    "dq_checks",           // rule scans + keyed FK join, unioned report
    "kmv_est_err",         // bottom-k coin ranks → WindowGroupLimit pushdown
    "bloom_filter",        // dim-built bit set broadcast to the probe side
    "weighted_percentiles_interp", // collapsed knot CDF + flanking-knot aggs
    "decontam_bloom",      // broadcast bloom prefilter + exact semi-join verify
    "zorder_layout",       // row-local morton fold + exact ntile buckets
    "mann_whitney",        // distinct-value rank sums, no global window
    "embed_corr",          // ONE co-moment aggregate, no explode (round 12)
    "novelty_curve",       // min-doc-per-shingle groupBy + ntile deciles
    "soft_dedup_weights",  // dedup-shuffle reuse + keyed weight join
    "ann_mmr",             // bounded candidate table + greedy argmax rounds
    "media_neardup",       // codegen ByteFold features + broadcast pair join
    "jpeg_codec",          // row-local ImageIO codec (scan-bound map)
    "gif_codec",           // row-local ImageIO codec (scan-bound generator)
    "webp_codec",          // row-local VP8L codec (scan-bound generator)
    "flac_codec",          // row-local Rice/predictor codec (scan-bound)
    "jpeg_exif_meta",      // row-local segment walk + strip (scan-bound)
    "mp4_meta",            // row-local box walk (scan-bound map)
    "mp3_meta",            // row-local frame-header walk (scan-bound map)
    "unigram_lm_train",    // EM over the vocab table, 1-row ok-set broadcasts
    "msprt_peek")          // filtered-sequence look explode + keyed agg

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val named = args.drop(1)
    val spark = GraftSession.local(8, "graft-plan-dump")
    if (named.nonEmpty) named.foreach(name => println(plan(spark, sfDir, name)))
    else writeHeadline(spark, sfDir)
    spark.stop()
  }

  private def plan(spark: SparkSession, sfDir: String, name: String): String = {
    val q = SparkEntry.lazyQuery(name, spark, sfDir)
    try q.frame.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    finally q.release()
  }

  private def writeHeadline(spark: SparkSession, sfDir: String): Unit = {
    val sb = new StringBuilder
    sb.append("# Headline query plans (generated by graft.PlanDump — do not edit)\n\n")
    sb.append(s"Source: `$sfDir`; mode: formatted physical plan.\n")
    val dumped = Headline.filter(SparkEntry.queries.contains)
    dumped.foreach { name =>
      sb.append(s"\n## $name\n\n```\n").append(plan(spark, sfDir, name).trim).append("\n```\n")
    }
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_PLANS_OUT", "/root/repo/bench/PLANS.md"))
    Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(out, sb.toString)
    println(s"[plans] wrote ${dumped.size} plans to $out")
  }
}
