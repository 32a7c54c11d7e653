package graft.examples

import graft.{GraftSession, Tables}
import graft.queries.{AnalyticsPack, EventOpsPack, LlmData}
import org.apache.spark.sql.functions._

/** End-to-end drive of the graph / sequence / tokenizer analytics mode —
  * the beyond-warehouse operators on the testdata tables: PageRank over
  * the customer→part endorsement graph, the triangle census and
  * market-basket lift on the co-purchase graph, sequence mining and the
  * rolling z-score monitor on the event stream, LOCF gap-fill, the
  * deterministic per-group reservoir, and BPE merge training + corpus
  * tokenization with the learned vocabulary.
  *
  * Run: sbt "runMain graft.examples.AnalyticsQuickStart /root/testdata/sf0.01"
  */
object AnalyticsQuickStart {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(8, "graft-analytics-quickstart")

    val pr = AnalyticsPack.pagerank(spark, dir).checkpointed()
    val topPart = pr.filter(col("node").startsWith("p:"))
      .orderBy(desc("rank")).head()
    println(s"[analytics] pagerank: ${pr.count()} nodes, " +
      s"top part ${topPart.getString(0)} rank=${topPart.getDouble(1)}")

    val tri = AnalyticsPack.triangleCount(spark, dir).head()
    println(s"[analytics] co-purchase graph: edges=${tri.getLong(0)} " +
      s"wedges=${tri.getLong(1)} triangles=${tri.getLong(2)}")

    val lift = AnalyticsPack.itemCooccur(spark, dir).head()
    println(s"[analytics] top basket pair: parts " +
      s"(${lift.getLong(0)}, ${lift.getLong(1)}) " +
      s"n=${lift.getLong(2)} lift=${lift.getDouble(3)}")

    val seq = AnalyticsPack.seqMining(spark, dir).head()
    println(s"[analytics] top 3-event sequence: " +
      s"${seq.getString(0)}->${seq.getString(1)}->${seq.getString(2)} " +
      s"n=${seq.getLong(3)}")

    val anomalies = EventOpsPack.rollingZscore(spark, dir).count()
    val filled = EventOpsPack.gapFillLocf(spark, dir)
    val nFilled = filled.filter(!col("observed")).count()
    println(s"[analytics] monitor: $anomalies |z|>3 anomalies; " +
      s"gap-fill wrote $nFilled carried-forward days of ${filled.count()}")

    val sample = AnalyticsPack.groupSample(spark, dir).count()
    println(s"[analytics] deterministic reservoir: $sample rows " +
      "(3 per event type, identical on every engine and re-run)")

    // the mergeable-summary trio: frequency (CMS), cardinality (KMV —
    // deterministic, vs HLL's bias bands), membership (Bloom)
    val kmv = AnalyticsPack.kmvEstErr(spark, dir)
      .agg(max(abs(col("err_pct"))).as("worst")).head().getDouble(0)
    val bl = AnalyticsPack.bloomFilter(spark, dir).head()
    println(f"[analytics] sketches: KMV worst |err| $kmv%.2f%%; bloom " +
      s"${bl.getAs[Long]("n_positives")} positives over " +
      s"${bl.getAs[Long]("n_probes")} probes " +
      s"(${bl.getAs[Long]("n_false_pos")} false, 0 missed members)")

    val merges = LlmData.bpeTrain(spark, dir).collect()
      .map(r => s"${r.getString(1)}+${r.getString(2)}").mkString(" ")
    val fert = LlmData.bpeApply(spark, dir)
      .agg(sum("n_tokens").as("t"), sum("n_words").as("w")).head()
    println(s"[analytics] bpe: merges [$merges]; corpus fertility " +
      f"${fert.getLong(0).toDouble / fert.getLong(1)}%.3f tokens/word")

    println(s"[analytics] done (${Tables.all.size} tables available at $dir)")
    spark.stop()
  }
}
