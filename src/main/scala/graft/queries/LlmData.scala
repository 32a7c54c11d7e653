package graft.queries

import graft.Tables
import graft.plans.Held
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale training-data pipeline operators over the `documents` and
  * `embeddings` tables: deduplication (exact, MinHash-LSH, SimHash, n-gram
  * Jaccard), similarity search (brute-force cosine top-k baseline),
  * text analysis (language-ID heuristic, quality scoring, token counting,
  * fingerprinting).
  *
  * Scale notes (100 TB):
  *  - All dedup ops are expressed as shuffle-on-key joins/aggregations —
  *    never all-pairs. MinHash-LSH pairs candidates through band-signature
  *    buckets (shuffle keyed on the 128-bit band hash → uniform
  *    distribution, no skew); the exact-Jaccard verify join only touches
  *    candidate pairs.
  *  - The n-gram inverted-index join (`neardup_pairs`) is quadratic in
  *    per-shingle document frequency; at 100 TB it needs a DF cap on hot
  *    shingles or the MinHash path. It is kept as the exactness baseline.
  *  - Everything is hash-based on md5 (same function exists in the DuckDB
  *    oracle), so correctness is verifiable bit-for-bit across engines.
  *  - Text expressions are Spark-SQL builtins; the vector kernels are
  *    native Catalyst expressions with codegen (graft.functions) — both
  *    run inside whole-stage codegen, no Scala UDFs anywhere.
  */
object LlmData extends QueryPack with LlmDedupOps with LlmQuantOps
    with LlmTextOps with LlmPplOps with LlmMixOps {

  protected val direct: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> dedupExact,
    "soft_dedup_weights" -> softDedupWeights,
    "label_agreement" -> labelAgreement,
    "embed_corr" -> embedCorr,
    "source_kl" -> sourceKl,
    "dedup_normalized" -> dedupNormalized,
    "fuzzy_pairs" -> ((s, d) => fuzzyPairs(s, d)),
    "doc_chunk" -> docChunk,
    "dedup_canonical" -> dedupCanonical,
    "neardup_pairs" -> neardupPairs,
    "neardup_capped" -> neardupCapped,
    "dedup_clusters" -> dedupClusters,
    "simhash_sig" -> simhashSig,
    "ann_topk" -> annTopK,
    "ann_ndcg" -> annNdcg,
    "ann_lsh" -> annLsh,
    "neardup_cosine" -> neardupCosine,
    "quality_filter" -> qualityFilter,
    "embed_stats" -> embedStats,
    "embed_rp" -> embedRp,
    "text_stats" -> textStats,
    "token_bpe" -> tokenBpe,
    "bpe_train" -> bpeTrain,
    "unigram_lm_apply_persisted" -> unigramLmApplyPersisted,
    "bpe_apply" -> bpeApply,
    "bpe_apply_persisted" -> bpeApplyPersisted,
    "langid_markers" -> langidMarkers,
    "doc_fingerprint" -> docFingerprint,
    "doc_winnow" -> docWinnow,
    "lang_profile" -> langProfile,
    "decontam_overlap" -> decontamOverlap,
    "decontam_bloom" -> decontamBloom,
    "gopher_repetition" -> gopherRepetition,
    "embed_pq" -> ((s, d) => embedPq(s, d)),
    "ann_probe_persisted" -> annIvfProbePersisted,
    "ann_probe_pq" -> ((s, d) => annIvfPqProbePersisted(s, d)),
    "merge_upsert" -> mergeUpsert,
    "text_normalize" -> textNormalize,
    "dedup_incremental" -> dedupIncremental,
    "topk_per_source" -> topkPerSource,
    "source_mix_sample" -> ((s, d) => sourceMixSample(s, d)),
    "source_temp_mix" -> ((s, d) => sourceTemperatureMix(s, d)),
    "source_token_mix" -> ((s, d) => sourceTokenMix(s, d)),
    "bigram_ppl" -> bigramPpl,
    "bm25_topk" -> bm25TopK,
    "pmi_bigrams" -> pmiBigrams,
    "weighted_sample" -> ((s, d) => weightedSample(s, d)),
    "semantic_decontam_ann" -> ((s, d) => semanticDecontamAnn(s, d)),
    "corpus_diff" -> corpusDiff,
    "doc_entropy" -> docEntropy,
    "vocab_heaps" -> vocabHeaps,
    "source_report" -> sourceReport,
    "embed_outliers" -> embedOutliers,
    "neardup_sweep" -> neardupSweep,
    "dedup_minhash_incr" -> ((s, d) => dedupMinhashIncr(s, d)))

  override val held: Map[String, (SparkSession, String) => Held] = Map(
    "containment_pairs" -> ((s, d) => containmentPairs(s, d)),
    "unigram_lm_train" -> unigramLmTrain,
    "unigram_lm_apply" -> unigramLmApply,
    "embed_pq_trained" -> ((s, d) => embedPqTrained(s, d)),
    "ann_ivfpq" -> ((s, d) => annIvfPq(s, d)),
    "ann_sq8" -> ((s, d) => annSq8(s, d)),
    "ann_mmr" -> ((s, d) => annMmr(s, d)),
    "hard_negatives" -> hardNegatives,
    "ann_ivf" -> ((s, d) => annIvf(s, d)),
    "ann_ivf_trained" -> ((s, d) => annIvfTrained(s, d)),
    "embed_kmeans" -> embedKmeans,
    "kmeans_balance" -> ((s, d) => kmeansBalance(s, d)),
    "semdedup" -> ((s, d) => semDedup(s, d)),
    "semantic_decontam" -> ((s, d) => semanticDecontam(s, d)),
    "doc_pack" -> ((s, d) => docPack(s, d)),
    "pack_stats" -> ((s, d) => packStats(s, d)),
    "dsir_weights" -> dsirWeights,
    "dedup_minhash" -> dedupMinhash,
    "cluster_safe_split" -> ((s, d) => clusterSafeSplit(s, d)),
    "minhash_est_err" -> minhashEstErr,
    "source_overlap" -> sourceOverlap,
    "dup_segments" -> ((s, d) => dupSegments(s, d)),
    "span_scrub" -> spanScrub,
    "simhash_neardup" -> simhashNeardupProfile,
    "novelty_curve" -> noveltyCurve,
    "curriculum_order" -> curriculumOrder,
    "corpus_shuffle" -> ((s, d) => corpusShuffle(s, d)),
    "unigram_ppl" -> unigramPpl,
    "trigram_ppl" -> trigramPpl,
    "fourgram_ppl" -> fourgramPpl,
    "fivegram_ppl" -> fivegramPpl,
    "score_rank_norm" -> scoreRankNorm,
    "quality_tiers" -> qualityTiers,
    "vocab_zipf" -> vocabZipf)

  /** Per-family oracle maps live beside their implementations —
    * [[LlmDedupOps]], [[LlmAnnOps]], [[LlmQuantOps]], [[LlmTextOps]], [[LlmPplOps]],
    * [[LlmMixOps]] — and concatenate here into the driver contract. */
  val oracle: Map[String, String] =
    dedupOracles ++ annOracles ++ quantOracles ++ textOracles ++
      pplOracles ++ mixOracles
}
