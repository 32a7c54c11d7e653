package graft.examples

import graft.{CorpusRunner, GraftSession}
import graft.config.GraftConf
import graft.queries.LlmData

/** End-to-end drive of the corpus-cleaning mode — the pretraining-data
  * pipeline a user would run at 100 TB, on the testdata `documents`
  * table: config parse + validate → read → exact dedup → MinHash-LSH
  * near-dup dedup → C4-style duplicated-span REMOVAL (docs rewritten) →
  * corpus-wide duplicated-span gate → quality gate → unigram-entropy
  * gate → CCNet perplexity gate → language filter → benchmark
  * decontamination against an external eval file → SEMANTIC
  * (paraphrase) decontamination against the eval set's embeddings →
  * DSIR importance
  * gate → deterministic source-mix downsampling → TOKEN-budget
  * temperature mixing → cleaned-corpus savepoint, then the
  * deterministic training-order shuffle + token-budget packing over
  * the survivors.
  *
  * Run: sbt "runMain graft.examples.CorpusQuickStart /root/testdata/sf0.01"
  */
object CorpusQuickStart {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(8, "graft-corpus-quickstart")

    // stage a tiny "benchmark eval set" for the decontam step — in
    // production this is the held-out eval suite, read via the same
    // scheme dispatch as any other source
    val evalPath = "/tmp/graft-corpus-demo-eval"
    spark.read.parquet(s"$dir/documents.parquet")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 101 === 0)
      .select("text").write.mode("overwrite").parquet(evalPath)
    // ... and the eval suite's EMBEDDINGS for the semantic (paraphrase)
    // decontam step — same staging convention, vector side
    val evalVecPath = "/tmp/graft-corpus-demo-eval-vec"
    spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(org.apache.spark.sql.functions.col("vec_id") % 101 === 0)
      .select("vec_id", "embedding").write.mode("overwrite")
      .parquet(evalVecPath)

    // stage the raw ingest as a crawl with RE-CRAWLS: every 7th doc
    // arrives twice under a fresh id (the frame_dedup staging
    // convention) — the duplication soft_dedup down-weights instead of
    // dropping, so the chain demonstrates the SlimPajama accounting
    val rawPath = "/tmp/graft-corpus-demo-raw"
    locally {
      import org.apache.spark.sql.functions._
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val off = docs.agg((max("doc_id") + 1).as("__off"))
      docs.unionByName(
          docs.filter(col("doc_id") % 7 === 0).crossJoin(broadcast(off))
            .withColumn("doc_id", col("doc_id") + col("__off")).drop("__off"))
        .write.mode("overwrite").parquet(rawPath)
    }

    val confJson =
      s"""{
        |  "project": {"name": "corpus-quickstart", "root": "/tmp/graft-corpus-demo"},
        |  "data": {"source": "parquet://$rawPath"},
        |  "columns": {"response": "lang"},
        |  "corpus": {"steps": [
        |    {"op": "soft_dedup"},
        |    {"op": "dedup_minhash", "threshold": 0.7},
        |    {"op": "span_scrub", "window": 8},
        |    {"op": "span_dedup", "window": 8, "threshold": 0.5},
        |    {"op": "quality_gate", "minTokens": 10, "maxTokens": 5000},
        |    {"op": "entropy_gate", "threshold": 1.0},
        |    {"op": "ppl_gate", "threshold": 0.9},
        |    {"op": "lang_filter", "keepLangs": ["en", "de", "fr", "es"]},
        |    {"op": "decontam", "evalSource": "parquet://$evalPath", "threshold": 0.5},
        |    {"op": "semantic_decontam", "evalSource": "parquet://$evalVecPath",
        |     "vectorSource": "parquet://$dir/embeddings.parquet", "threshold": 0.3},
        |    {"op": "dsir_sample", "keepLangs": ["en"], "threshold": 0.0},
        |    {"op": "source_mix", "quota": 15, "groupColumn": "source"},
        |    {"op": "token_mix", "quota": 4000, "alpha": 0.5},
        |    {"op": "chunk", "window": 64, "stride": 48}
        |  ]}
        |}""".stripMargin

    val conf = GraftConf.fromJson(confJson)
    println(s"[corpus] config OK: ${conf.project.name}")

    val result = CorpusRunner.run(spark, conf, savepointing = true)
    result.metrics.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(f"[corpus] $k = ${v.toLong}")
    }

    // training-order shuffle + shard assignment over the CLEANED corpus —
    // positions are dense and shards balanced round-robin over survivors
    val cleaned = result.corpus.cache()
    val n = cleaned.count()
    // SlimPajama end-to-end: soft_dedup kept every exact copy but
    // attached weight = 1/n_copies, token_mix consumed the EFFECTIVE
    // token mass, and the weight column rides the cleaned corpus into
    // the trainer's sampler
    val wAgg = cleaned.agg(
      org.apache.spark.sql.functions.round(
        org.apache.spark.sql.functions.sum("weight"), 2).as("eff"),
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("raw")).collect().head
    println(s"[corpus] soft-dedup effective doc mass: ${wAgg.getDouble(0)} " +
      s"of ${wAgg.getLong(1)} surviving rows")
    val sharded = LlmData.corpusShuffleOf(cleaned, "doc_id", shards = 8).checkpointed()
    println(s"[corpus] cleaned corpus: $n docs across " +
      s"${sharded.select("shard").distinct().count()} shards")

    // token-budget sequence packing of the survivors: global running token
    // sums (two-pass range prefix sums, partition-parallel) -> budget bins
    val packed = LlmData.docPackOf(cleaned, "doc_id", "text", budget = 256).checkpointed()
    println(s"[corpus] packed ${packed.count()} context-window chunks into " +
      s"${packed.select("bin_id").distinct().count()} token-budget bins")
    spark.stop()
  }
}
