package graft.queries

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The approximate scale paths, measured against their exact twins.
  *
  * At 100 TB exact `countDistinct` / rank-quantiles are a shuffle of every
  * distinct value; the sketch versions (HyperLogLog++, KLL/GK summaries)
  * are one pass with bounded state and mergeable partials. They are only
  * usable if the error is KNOWN — these tests pin it on real data, so a
  * regression in how we call them (rsd, accuracy knobs) fails loudly.
  */
class SketchSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  behavior of "sketch aggregates"

  it should "bound approx_count_distinct error by the configured rsd" in {
    val e = Tables.events(spark, dir)
    val row = e.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id"), rsd = 0.02).as("approx")).head()
    val (exact, approx) = (row.getLong(0), row.getLong(1))
    // HLL++ rsd is a standard deviation, not a hard bound — 4σ covers it
    // deterministically at this cardinality (the sketch itself is
    // deterministic for fixed input)
    math.abs(approx - exact).toDouble / exact should be <= 0.08
  }

  it should "keep approx_percentile within rank tolerance of the exact rank quantile" in {
    val o = Tables.orders(spark, dir).select(col("o_totalprice"))
    val n = o.count()
    val acc = 1000 // rank error ≤ n/acc
    val approx = o.agg(percentile_approx(col("o_totalprice"),
      array(lit(0.25), lit(0.5), lit(0.75)), lit(acc))).head()
      .getSeq[Double](0)
    // exact rank interval per p: the approx value must sit between the
    // values at ranks ⌈(p ± 1/acc)·n⌉ under the total order
    val ranked = graft.plans.GlobalRank.withRowNumber(
      o, Seq(col("o_totalprice")), "rn").frame.cache()
    Seq(0.25, 0.5, 0.75).zip(approx).foreach { case (p, v) =>
      val lo = math.max(1L, math.ceil((p - 1.0 / acc) * n).toLong)
      val hi = math.min(n, math.ceil((p + 1.0 / acc) * n).toLong)
      val Array(vLo, vHi) = ranked
        .filter(col("rn") === lo || col("rn") === hi)
        .orderBy("rn").select("o_totalprice")
        .collect().map(_.getDouble(0))
      v should (be >= vLo and be <= vHi)
    }
    ranked.unpersist()
  }

  it should "keep HLL partials mergeable across groups (union = merged estimate)" in {
    // the property that makes HLL usable in partial aggregation: estimating
    // per-partition then merging must equal estimating the whole — Spark
    // guarantees it internally; pin it end-to-end through a rollup
    val e = Tables.events(spark, dir)
    val byType = e.groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("d"))
    byType.count() shouldBe 5
    val overall = e.agg(approx_count_distinct(col("user_id"), rsd = 0.02)).head().getLong(0)
    // every per-type estimate is ≤ the overall estimate within sketch noise
    byType.agg(max("d")).head().getLong(0) should be <= (overall * 1.05).toLong
  }

  it should "keep KMV estimates inside the bottom-k error envelope" in {
    val rows = AnalyticsPack.kmvEstErr(spark, dir).collect()
    rows.length shouldBe 5
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact"); val est = r.getAs[Double]("est")
      if (exact < 64) est shouldBe exact.toDouble // small-range exact rule
      // k = 64 ⇒ relative σ ≈ 1/√(k−2) ≈ 12.7%; 4σ envelope
      else math.abs(est - exact) / exact should be < 0.51
    }
  }

  it should "admit every member through the Bloom filter (zero false negatives)" in {
    val r = AnalyticsPack.bloomFilter(spark, dir).collect().head
    val (nProbes, nMembers, nPos, nFp) = (r.getAs[Long]("n_probes"),
      r.getAs[Long]("n_members"), r.getAs[Long]("n_positives"),
      r.getAs[Long]("n_false_pos"))
    nMembers should be > 0L
    // positives = members + false positives ⇔ no member was rejected
    nPos - nFp shouldBe nMembers
    nProbes should be > nMembers // the audit actually probes non-members
    // the bit array is far from saturated at this dim size
    r.getAs[Long]("bits_set") should be < 8192L
  }
}
