package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Persisted-tokenizer lifecycle: train-once publish through
  * SnapshotStore, serve-time load byte-identical to the inline path, and
  * version semantics under re-publish + vacuum (the AnnRecallSpec
  * persisted-index contract, applied to the BPE merge artifact). */
class BpeArtifactSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  behavior of "BPE tokenizer artifact"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getDouble(3), r.getDouble(4))).toSeq

  it should "tokenize from the committed artifact byte-identically to the inline path" in {
    val inline = rows(LlmData.bpeApply(spark, dir))
    rows(LlmData.bpeApplyPersisted(spark, dir)) shouldBe inline
    // the registry caches the publish: same corpus signature, same root,
    // no second training run
    val root = LlmData.bpeTokenizerPublish(spark, dir)
    LlmData.bpeTokenizerPublish(spark, dir) shouldBe root
    graft.plans.SnapshotStore.versions(s"$root/merges") shouldBe Seq(1L)
  }

  it should "survive a concurrent re-train (re-publish) and vacuum unchanged" in {
    val inline = rows(LlmData.bpeApply(spark, dir))
    val root = LlmData.bpeTokenizerPublish(spark, dir)
    // a re-train of the SAME corpus publishes v2 with the same merges;
    // running tokenization keeps its answers, old readers never touched
    val merges = graft.plans.SnapshotStore.readLatest(spark, s"$root/merges")
    graft.plans.SnapshotStore.publish(merges, s"$root/merges", 2L)
    graft.plans.SnapshotStore.versions(s"$root/merges") shouldBe Seq(1L, 2L)
    rows(LlmData.bpeApplyPersisted(spark, dir)) shouldBe inline
    // reclaim superseded directories; the committed version keeps serving
    graft.plans.SnapshotStore.vacuum(s"$root/merges", graceMs = 0L)
    rows(LlmData.bpeApplyPersisted(spark, dir)) shouldBe inline
  }

  it should "serve unigram-LM tokenization from its committed artifact byte-identically" in {
    val inline = rows(LlmData.unigramLmApply(spark, dir).checkpointed())
    rows(LlmData.unigramLmApplyPersisted(spark, dir)) shouldBe inline
    val root = LlmData.unigramLmPublish(spark, dir)
    LlmData.unigramLmPublish(spark, dir) shouldBe root
    // the artifact is the real input: the persisted frame reads the
    // published parquet, not a re-derived segmentation
    LlmData.unigramLmApplyPersisted(spark, dir)
      .inputFiles.exists(_.contains("graft-unigram-tokenizer")) shouldBe true
  }

  it should "really read the committed artifact, not silently re-train" in {
    val root = LlmData.bpeTokenizerPublish(spark, dir)
    val v = graft.plans.SnapshotStore.latestVersion(s"$root/merges").get
    val before = rows(LlmData.bpeApplyPersisted(spark, dir))
    // publish a DELIBERATELY truncated merge list as the next version: if
    // the persisted path re-trained inline, the output could not change
    val one = graft.plans.SnapshotStore
      .readLatest(spark, s"$root/merges").filter(col("step") === 1)
    graft.plans.SnapshotStore.publish(one, s"$root/merges", v + 1)
    val truncated = rows(LlmData.bpeApplyPersisted(spark, dir))
    truncated should not be before
    // heal: restore the full merge table at the next version
    val full = LlmData.bpeTrain(spark, dir)
    graft.plans.SnapshotStore.publish(full, s"$root/merges", v + 2)
    rows(LlmData.bpeApplyPersisted(spark, dir)) shouldBe before
  }
}
