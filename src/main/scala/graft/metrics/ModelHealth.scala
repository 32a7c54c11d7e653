package graft.metrics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Population / variable stability drift metrics
  * (ref: core/metrics/ModelHealthMetricsEvaluator.scala:43-210).
  *
  * SI formula per bucket/value: (p − q)·ln(p/q)·100 with p = base share,
  * q = current share; buckets joined INNER (only cells present on both
  * sides contribute — reference semantics).
  *
  * Scale design: shares come from one hash aggregate per side plus a
  * broadcast of the single-row totals — no windows, no collect; the join is
  * on the bucket id (k rows). The reference buckets the base with
  * QuantileDiscretizer; here both an equidistant path (deterministic,
  * oracle-able) and a quantile path (approxQuantile — reference parity) are
  * provided.
  */
object ModelHealth {

  private def shares(df: DataFrame, bucket: org.apache.spark.sql.Column,
                     out: String): DataFrame = {
    val counts = df.select(bucket.as("bucket")).groupBy("bucket")
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("bucket"), (col("n") / col("total")).as(out))
  }

  private def si = (col("p") - col("q")) * log(col("p") / col("q")) * 100.0

  /** PSI with k equidistant buckets from the BASE min/max (bucket 0 and k−1
    * absorb the tails). Returns one row per bucket: (bucket, p, q, si). */
  def psiEquidistant(base: DataFrame, current: DataFrame, column: String,
                     k: Int): DataFrame = {
    val stats = base.agg(min(col(column)).as("mn"), max(col(column)).as("mx"))
    def bucketed(df: DataFrame, out: String): DataFrame = {
      val withStats = df.crossJoin(broadcast(stats))
      val width = (col("mx") - col("mn")) / k
      val b = least(greatest(floor((col(column) - col("mn")) / width), lit(0)), lit(k - 1))
      shares(withStats, b.cast("long"), out)
    }
    bucketed(base, "p").join(bucketed(current, "q"), Seq("bucket"))
      .select(col("bucket"), col("p"), col("q"), si.as("si"))
  }

  /** PSI with k quantile buckets of the base (reference parity path:
    * QuantileDiscretizer ≈ approxQuantile splits). */
  def psiQuantile(base: DataFrame, current: DataFrame, column: String,
                  k: Int, relativeError: Double = 1e-4): DataFrame = {
    val probes = (1 until k).map(_.toDouble / k).toArray
    val splits = base.stat.approxQuantile(column, probes, relativeError)
    def b(df: DataFrame, out: String) = {
      val c = col(column)
      // bucket = index of the FIRST split >= x (checked smallest-first —
      // a largest-first chain would swallow every lower bucket), values
      // above the last split land in bucket k−1
      val expr = splits.zipWithIndex
        .foldRight(lit(splits.length).cast("long"): org.apache.spark.sql.Column) {
          case ((s, i), acc) => when(c <= s, i.toLong).otherwise(acc)
        }
      shares(df, expr, out)
    }
    b(base, "p").join(b(current, "q"), Seq("bucket"))
      .select(col("bucket"), col("p"), col("q"), si.as("si"))
  }

  /** PSI bucketing BOTH frames with the real spark.ml QuantileDiscretizer
    * fitted on the base — the reference's exact scheme (one fitted
    * Bucketizer applied to base and current; inner join on the bucket).
    * The approxQuantile path above is the scale-preferred twin; this one
    * exists for golden parity with the reference's monitoring tests. */
  def psiDiscretizer(base: DataFrame, current: DataFrame, column: String,
                     k: Int): DataFrame = {
    val model = new org.apache.spark.ml.feature.QuantileDiscretizer()
      .setInputCol(column).setOutputCol("__bucket").setNumBuckets(k)
      .fit(base)
    def sh(df: DataFrame, out: String) =
      shares(model.transform(df), col("__bucket").cast("long"), out)
    sh(base, "p").join(sh(current, "q"), Seq("bucket"))
      .select(col("bucket"), col("p"), col("q"), si.as("si"))
  }

  /** PSI with EXACT quantile buckets of the base — reproduces the
    * reference's QuantileDiscretizer goldens to 1e-9 where the sketch path
    * ([[psiDiscretizer]]) drifts across Spark sketch versions.
    *
    * Two reference behaviors are replayed deliberately:
    *  1. The probability sequence is Spark 2.4's `0.0 to 1.0 by 1.0/k`
    *     DOUBLE range — i·(1/k) with its floating-point drift (0.1·3 =
    *     0.30000000000000004), because `ceil(q·n)` lands one rank higher
    *     at the drifted points whenever q·n is integral. Using "clean"
    *     probabilities changes 3 of 10 reference goldens.
    *  2. Spark 2.4's GK query with `targetError = relativeError·count`
    *     (< 1 at small n ⇒ NO slack) returns exactly the sorted element at
    *     rank ceil(q·n); Spark 3+ switched to `ceil(relativeError·count)`
    *     (= 1 ⇒ off-by-one slack) — the source of the former ±8 parity
    *     band. Exact rank selection restores the 2.4 value.
    *
    * Scale path: the rank selection is [[graft.plans.GlobalRank]]'s
    * two-pass range-sort row number — distributed and exact at any base
    * size (only the k−1 split VALUES are collected). */
  def psiExact(base: DataFrame, current: DataFrame, column: String,
               k: Int): DataFrame = {
    // read by the count and the rank pass, not by the returned frame
    val held = graft.plans.Held.cached(base.select(col(column).cast("double").as("__v")))
    val b = held.frame
    val n = b.count()
    val step = 1.0 / k
    val targetRanks = (1 until k)
      .map(i => math.max(1L, math.ceil(i * step * n).toLong)).distinct
    val innerSplits = graft.plans.GlobalRank
      .withRowNumber(b, Seq(col("__v")), "__rn")
      .map(_.filter(col("__rn").isin(targetRanks: _*)).select("__v").distinct())
      .rows().map(_.getDouble(0)).sorted
    held.release()
    // Bucketizer semantics on [-inf, s1..sm, +inf]: bucket = #{s_j <= x}
    def bucketExpr(c: org.apache.spark.sql.Column) =
      innerSplits.zipWithIndex.foldLeft(lit(0)) {
        case (acc, (s, i)) => when(c >= s, i + 1).otherwise(acc)
      }
    def counts(df: DataFrame, out: String) =
      df.select(bucketExpr(col(column).cast("double")).cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(out))
    // reference normalization: shares are over the buckets present on BOTH
    // sides (its window total runs on the inner-joined frame) — a bucket
    // empty on one side drops from the other side's denominator too
    val joined = counts(base, "nb").join(counts(current, "nc"), Seq("bucket"))
    val tot = joined.agg(sum("nb").as("tb"), sum("nc").as("tc"))
    joined.crossJoin(broadcast(tot))
      .select(col("bucket"), (col("nb") / col("tb")).as("p"),
        (col("nc") / col("tc")).as("q"))
      .select(col("bucket"), col("p"), col("q"), si.as("si"))
  }

  /** Total PSI as a single-row DataFrame. */
  def psiTotal(bucketDf: DataFrame): DataFrame = bucketDf.agg(sum("si").as("psi"))

  /** VSI for one categorical variable: SI summed over values present on
    * both sides → single row (variable, vsi). */
  def vsi(base: DataFrame, current: DataFrame, column: String): DataFrame =
    shares(base, col(column), "p").join(shares(current, col(column), "q"), Seq("bucket"))
      .agg(sum(si).as("vsi"))
      .select(lit(column).as("variable"), col("vsi"))

  /** VSI across many variables — one row each. */
  def vsiAll(base: DataFrame, current: DataFrame, columns: Seq[String]): DataFrame =
    columns.map(vsi(base, current, _)).reduce(_ unionAll _)

  /** Values present in base but missing in current, and vice versa
    * (ref: ModelHealthMetricsEvaluator.scala:190-210 set-difference audit). */
  def valueDrift(base: DataFrame, current: DataFrame, column: String): DataFrame = {
    val b = base.select(col(column).as("value")).distinct()
    val c = current.select(col(column).as("value")).distinct()
    b.except(c).select(col("value"), lit("missing_in_current").as("status"))
      .unionAll(c.except(b).select(col("value"), lit("new_in_current").as("status")))
  }
}
