package graft.metrics

import graft.plans.{GlobalRank, Held}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Standard classification metrics (ref:
  * core/metrics/StandardMetricsEvaluator.scala:66-309, which builds one
  * mllib BinaryClassificationMetrics and one MulticlassMetrics per
  * dataset). One mechanism per metric family:
  *
  *  - Rank statistics (AUROC, F-measure-by-threshold, the best F_β row)
  *    read ONE ranked pass. The frame is grouped by the SCORE VALUE, so
  *    the pass runs over distinct scores — cardinality ≪ rows (bounded by
  *    rounding, e.g. probabilities have ≤ ~1e7 distinct doubles in
  *    practice; bucket scores first if not) — never over the full fact
  *    table. Those are range-sorted ascending with running sums of the
  *    count `c` and the positives `pos`
  *    ([[graft.plans.GlobalRank.withRunningSums]]: partition-
  *    parallel prefix sums, not an unpartitioned `Window.orderBy` that
  *    serializes into one task). A threshold's descending counts are
  *    total − ascending + own, exact because every count is an
  *    integer-valued double. Every call releases the sort it made.
  *  - Label statistics (accuracy, weighted precision/recall/F1, the
  *    confusion text) come from the (label, prediction, n) counts
  *    collected ONCE to the driver: O(labels²) rows, the state mllib's
  *    MulticlassMetrics keeps ([[ConfusionCounts]]). [[perLabel]] and
  *    [[weightedSummary]] return them as local frames.
  *
  * A pipeline run's per-dataset evaluation is [[binarySummary]] plus
  * [[confusionCounts]]: one ranked pass and one collected count.
  */
object StandardMetrics {

  /** Confusion matrix: one row per (label, prediction) pair. */
  def confusion(df: DataFrame, labelCol: String, predCol: String): DataFrame =
    df.groupBy(col(labelCol), col(predCol)).agg(count(lit(1)).as("n"))

  /** Per-label precision/recall/F1 + support (one row per actual label, in
    * label order): [[ConfusionCounts.byLabel]] as a local frame, `class`
    * typed like `labelCol`. Predicted-only classes contribute to false
    * positives via the predicted totals but don't get their own row —
    * matching MulticlassMetrics. */
  def perLabel(df: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val schema = StructType(
      StructField("class", df.select(col(labelCol)).schema.head.dataType) +:
        (Seq("support", "tp", "predTotal").map(StructField(_, LongType)) ++
          Seq("precision", "recall", "f1").map(StructField(_, DoubleType))))
    val rows = confusionCounts(df, labelCol, predCol).byLabel.map { s =>
      Row(s.label, s.support, s.tp, s.predTotal, s.precision, s.recall, s.f1)
    }
    df.sparkSession.createDataFrame(rows.asJava, schema)
  }

  /** One actual label's row of [[perLabel]]. */
  final case class LabelStats(label: Any, support: Long, tp: Long, predTotal: Long) {
    val precision: Double = if (predTotal > 0) tp.toDouble / predTotal else 0.0
    val recall: Double = tp.toDouble / support
    val f1: Double =
      if (tp > 0) 2.0 * precision * recall / (precision + recall) else 0.0
  }

  /** A frame's (label, prediction, n) counts, collected once and ordered
    * by (label, prediction); every label statistic is derived from them
    * on the driver. Label and prediction share one type. */
  final case class ConfusionCounts(rows: Seq[(Any, Any, Long)]) {

    /** Support, true positives and predicted total of every actual label,
      * in label order; a predicted-only class has no row. */
    lazy val byLabel: Seq[LabelStats] = {
      val support = rows.groupMapReduce(_._1)(_._3)(_ + _)
      val predTotal = rows.groupMapReduce(_._2)(_._3)(_ + _)
      val tp = rows.collect { case (l, p, n) if l == p => l -> n }.toMap
      rows.map(_._1).distinct.map { c =>
        LabelStats(c, support(c), tp.getOrElse(c, 0L), predTotal.getOrElse(c, 0L))
      }
    }

    /** [[weightedSummary]]'s row: accuracy and the support-weighted
      * precision, recall and F1. */
    lazy val weighted: Row = {
      val support = byLabel.map(_.support).sum.toDouble
      def weightedBy(f: LabelStats => Double) =
        byLabel.map(s => f(s) * s.support).foldLeft(0.0)(_ + _) / support
      Row(byLabel.map(_.tp).sum / support, weightedBy(_.precision),
        weightedBy(_.recall), weightedBy(_.f1))
    }

    /** The reference's confusion-matrix text block: a tab-separated
      * Intent/TP/FP/Precision/Recall table, one line per actual label
      * (ref: StandardMetricsEvaluator.scala:210-229, which builds exactly
      * this header + rows and writes them via a 1-partition text write;
      * its `.toInt` truncation of precision/recall discards the value, so
      * they are emitted at 4 dp here). */
    def text: Seq[String] =
      "Intent\t\tTrue Positive\t\tFalse Positive\t\tPrecision\t\tRecall" +:
        byLabel.map { s =>
          f"${s.label}\t\t${s.tp}\t\t${s.predTotal - s.tp}\t\t${s.precision}%.4f\t\t${s.recall}%.4f"
        }
  }

  /** The confusion counts of `df`, collected in one action. */
  def confusionCounts(df: DataFrame, labelCol: String, predCol: String): ConfusionCounts =
    ConfusionCounts(confusion(df, labelCol, predCol).orderBy(labelCol, predCol)
      .collect().toSeq.map(r => (r.get(0), r.get(1), r.getLong(2))))

  /** [[ConfusionCounts.text]] of `df`. */
  def confusionText(df: DataFrame, labelCol: String, predCol: String): Seq[String] =
    confusionCounts(df, labelCol, predCol).text

  private val weightedSchema = StructType(
    Seq("accuracy", "weightedPrecision", "weightedRecall", "weightedF1")
      .map(StructField(_, DoubleType)))

  /** Single-row summary: accuracy + support-weighted precision/recall/F1
    * ([[ConfusionCounts.weighted]], as a local frame). */
  def weightedSummary(df: DataFrame, labelCol: String, predCol: String): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.List.of(confusionCounts(df, labelCol, predCol).weighted), weightedSchema)

  /** Per-distinct-score counts with positives — shared base for the rank
    * statistics. `scoreCol` ascending. */
  private def byScore(df: DataFrame, labelCol: String, scoreCol: String): DataFrame =
    df.groupBy(col(scoreCol).as("s"))
      .agg(count(lit(1)).as("c"), sum(col(labelCol).cast("double")).as("pos"))

  /** The ranked pass: distinct scores ascending with inclusive running sums
    * `cumC`/`cumPos`, held with the sort to release once consumed, and the
    * grand totals `n` (rows) and `npos` (positives). */
  private final case class Ranked(held: Held, n: Double, npos: Double) {

    /** The ranked frame plus precision / recall / F_β at every distinct
      * score threshold (predict positive when score ≥ t): tp and cnt are
      * the descending inclusive counts, total − ascending + own. */
    def withFMeasure(beta: Double): Held = held.map { frame =>
      val b2 = beta * beta
      val tp = lit(npos) - col("cumPos") + col("pos")
      val cnt = lit(n) - col("cumC") + col("c")
      frame
        .withColumn("thresh", col("s"))
        .withColumn("precision", tp / cnt)
        .withColumn("recall", tp / lit(npos))
        .withColumn("fbeta",
          when(col("precision") + col("recall") > 0,
            (lit(1 + b2) * col("precision") * col("recall")) /
              (lit(b2) * col("precision") + col("recall"))).otherwise(lit(0.0)))
    }
  }

  private def ranked(df: DataFrame, labelCol: String, scoreCol: String): Ranked = {
    val (held, tot) = GlobalRank.withRunningSums(
      byScore(df, labelCol, scoreCol), Seq(col("s")), Seq("c" -> "cumC", "pos" -> "cumPos"))
    Ranked(held, tot("c"), tot("pos"))
  }

  /** [[auroc]] as an aggregate over the ranked frame. */
  private def aurocCol: Column = {
    val avgrank = col("cumC") - col("c") + (col("c") + 1) / 2.0
    val (np, n) = (sum("pos"), sum("c"))
    ((sum(col("pos") * avgrank) - np * (np + 1) / 2.0) / (np * (n - np))).as("auroc")
  }

  private val curveCols = Seq("thresh", "precision", "recall", "fbeta")

  /** The best-F_β row as a struct of [[curveCols]]: highest F_β, the lower
    * threshold on a tie. */
  private def bestCol: Column =
    max_by(struct(curveCols.map(col): _*), struct(col("fbeta"), -col("thresh"))).as("best")

  /** AUROC via the rank-sum (Mann-Whitney U) identity with average ranks
    * for ties: AUROC = (Σ ranks₊ − n₊(n₊+1)/2) / (n₊ n₋). Exact — identical
    * to the trapezoidal ROC integral mllib computes. One aggregate over the
    * ranked pass; the one-row result is collected and the sort released. */
  def auroc(df: DataFrame, labelCol: String, scoreCol: String): DataFrame =
    ranked(df, labelCol, scoreCol).held.map(_.agg(aurocCol)).collected()

  /** Precision / recall / F_β at every distinct score threshold (predict
    * positive when score ≥ t). Ref: fMeasureByThreshold with β=2 feeding the
    * best-threshold search (WebCustomMetricsEvaluator.scala:38-65). The
    * curve is checkpointed and the sort released before it returns. */
  def fMeasureByThreshold(df: DataFrame, labelCol: String, scoreCol: String,
                          beta: Double): DataFrame =
    ranked(df, labelCol, scoreCol).withFMeasure(beta)
      .map(_.select(curveCols.map(col): _*)).checkpointed()

  /** The best-F_β threshold row (deterministic tie-break: the lower
    * threshold wins). */
  def bestThreshold(df: DataFrame, labelCol: String, scoreCol: String,
                    beta: Double): DataFrame =
    ranked(df, labelCol, scoreCol).withFMeasure(beta)
      .map(_.agg(bestCol).where(col("best").isNotNull).select("best.*")).collected()

  /** AUROC and the best-F_β row of a binary scorer. */
  final case class BinarySummary(auroc: Double, thresh: Double, precision: Double,
                                 recall: Double, fbeta: Double)

  /** [[auroc]] and [[bestThreshold]] from ONE ranked pass and one
    * aggregate over it. */
  def binarySummary(df: DataFrame, labelCol: String, scoreCol: String,
                    beta: Double): BinarySummary = {
    val fm = ranked(df, labelCol, scoreCol).withFMeasure(beta)
    val row = fm.map(_.agg(aurocCol, bestCol)).rows().head
    val best = row.getStruct(1)
    BinarySummary(row.getDouble(0), best.getAs[Number]("thresh").doubleValue(),
      best.getAs[Double]("precision"), best.getAs[Double]("recall"),
      best.getAs[Double]("fbeta"))
  }

  /** Reliability-diagram data (model calibration): scores normalized to
    * [0, 1] by the max, cut into `bins` equal-width buckets, each with its
    * mean predicted value and observed positive rate — a calibrated model
    * tracks the diagonal. One broadcast max + one keyed agg; no window. */
  def calibrationBins(df: DataFrame, labelCol: String, scoreCol: String,
                      bins: Int = 10): DataFrame = {
    val mx = df.agg(max(col(scoreCol)).cast("double").as("__mx"))
    df.crossJoin(broadcast(mx))
      .withColumn("__p", col(scoreCol) / col("__mx"))
      .withColumn("bin",
        least(lit(bins - 1), floor(col("__p") * bins)).cast("int"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        avg("__p").as("mean_pred"),
        avg(col(labelCol).cast("double")).as("frac_pos"))
  }

  /** Isotonic (non-parametric, monotone) calibration — the PAV fit via its
    * minimax identity, computed over pre-aggregated reliability bins:
    *   iso(b) = max_{i ≤ b} min_{j ≥ b} mean(y[i..j])
    * (Barlow et al. 1972 — the closed form of pool-adjacent-violators).
    *
    * The corpus collapses to `bins` rows FIRST (one keyed agg, identical
    * to [[calibrationBins]]); the minimax then runs on that O(bins) frame
    * with broadcast range self-joins — O(bins³) pairs of a ≤32-row frame,
    * nothing quadratic in the data. Every pooled mean is an
    * integer-positives / integer-count ratio, so the fit is bit-identical
    * in any IEEE engine — no rounding tolerance needed on the fit itself.
    * Complements [[graft.train.PlattScalar]]: Platt is the parametric
    * (sigmoid) calibrator, this is the distribution-free one. */
  def isotonicCalibration(df: DataFrame, labelCol: String, scoreCol: String,
                          bins: Int = 20): DataFrame = {
    val mx = df.agg(max(col(scoreCol)).cast("double").as("__mx"))
    val b = df.crossJoin(broadcast(mx))
      // a non-positive score ceiling makes __p meaningless (null or
      // sign-flipped for every row) — fail loudly instead of returning a
      // silently-wrong fit. assert_true yields null on success, so the
      // division only evaluates behind the guard.
      .withColumn("__p", when(
        assert_true(col("__mx") > 0,
          lit(s"isotonicCalibration: max($scoreCol) must be > 0")).isNull,
        col(scoreCol) / col("__mx")))
      // clamp BOTH ends like ModelHealth's bucketing: negative scores
      // otherwise land on negative bin ids and vanish from the fit
      .withColumn("bin",
        least(lit(bins - 1), greatest(lit(0), floor(col("__p") * bins)))
          .cast("int"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), avg("__p").as("mean_pred"),
        sum(col(labelCol).cast("long")).as("sy"))
    // inclusive prefix sums over the tiny bin frame (self-join, no window;
    // every read of `b` shares its one exchange)
    val cum = b.as("x")
      .join(broadcast(b.select(col("bin").as("b2"), col("n").as("n2"),
        col("sy").as("sy2"))), col("b2") <= col("bin"))
      .groupBy(col("bin"), col("n"), col("sy"))
      .agg(sum("n2").as("cn"), sum("sy2").as("cs"))
      .select(col("bin"), col("cn"), col("cs"),
        (col("cn") - col("n")).as("pcn"), (col("cs") - col("sy")).as("pcs"))
    // pooled means over every bin range [i, j]
    val pairs = cum.select(col("bin").as("i"), col("pcn"), col("pcs"))
      .join(broadcast(cum.select(col("bin").as("j"), col("cn"), col("cs"))),
        col("i") <= col("j"))
      .select(col("i"), col("j"),
        ((col("cs") - col("pcs")).cast("double") /
          (col("cn") - col("pcn"))).as("pool"))
    val iso = b.select(col("bin").as("__b"))
      .join(broadcast(pairs), col("i") <= col("__b") && col("j") >= col("__b"))
      .groupBy(col("__b"), col("i")).agg(min("pool").as("mn"))
      .groupBy(col("__b")).agg(max("mn").as("iso_fit"))
    b.join(iso, col("bin") === col("__b"))
      .select(col("bin"), col("n"), col("mean_pred"),
        (col("sy").cast("double") / col("n")).as("frac_pos"), col("iso_fit"))
  }

  /** Cumulative-gains (lift) deciles: rank by score DESC into 10 exact
    * global deciles via the two-pass range sort (no single-partition
    * window), then per-decile positives and the cumulative capture rate —
    * "the top k% of scores captures X% of positives", the campaign-
    * targeting read of a binary scorer. The cumulative step is a
    * decile≤decile self-join on the 10-row summary, not a global window. */
  def gainsDeciles(df: DataFrame, labelCol: String, scoreCol: String,
                   tieCol: String): Held = {
    val ranked = GlobalRank.withNtile(df, Seq(col(scoreCol).desc, col(tieCol)), 10, "decile")
    // 10 rows, read three times below: cached once, held with the sort
    val per = Held.cached(ranked.frame.groupBy("decile")
      .agg(count(lit(1)).as("n"), sum(col(labelCol).cast("long")).as("n_pos")))
    val tot = per.frame.agg(sum("n_pos").as("__tot"))
    Held(per.frame.as("a")
      .join(per.frame.select(col("decile").as("__d"), col("n_pos").as("__p")),
        col("__d") <= col("decile"))
      .groupBy("decile", "n", "n_pos")
      .agg(sum("__p").as("cum_pos"))
      .crossJoin(broadcast(tot))
      .withColumn("cum_capture", col("cum_pos") / col("__tot"))
      .select("decile", "n", "n_pos", "cum_pos", "cum_capture"),
      ranked.handles ++ per.handles)
  }

  /** Scalar calibration summary: ECE (expected calibration error — the
    * bin-weighted |mean_pred − frac_pos| over the reliability bins) and
    * the Brier score (mean squared error of the normalized score against
    * the outcome). Rides [[calibrationBins]] for ECE; Brier is one more
    * column of the same corpus agg. */
  def calibrationSummary(df: DataFrame, labelCol: String, scoreCol: String,
                         bins: Int = 10): DataFrame = {
    val mx = df.agg(max(col(scoreCol)).cast("double").as("__mx"))
    val scored = df.crossJoin(broadcast(mx))
      .withColumn("__p", col(scoreCol) / col("__mx"))
      .withColumn("__y", col(labelCol).cast("double"))
    val brier = scored.agg(count(lit(1)).as("n"),
      avg(pow(col("__p") - col("__y"), 2)).as("brier"))
    val ece = calibrationBins(df, labelCol, scoreCol, bins)
      .agg(sum(col("n") * abs(col("mean_pred") - col("frac_pos"))).as("__w"),
        sum("n").as("__n"))
      .select((col("__w") / col("__n")).as("ece"))
    brier.crossJoin(broadcast(ece)).select("n", "brier", "ece")
  }
}
