package graft.examples

import graft.GraftSession
import graft.queries.ExperimentPack
import org.apache.spark.sql.functions._

/** End-to-end drive of the experimentation/causal-measurement suite over
  * the events firehose: Welch inference, CUPED variance reduction,
  * difference-in-differences, the nonparametric Mann-Whitney read, robust
  * (winsorized) means, quantile treatment effects, and the two survival
  * estimators (Kaplan-Meier, Nelson-Aalen) — the analyses an A/B platform
  * runs at fleet scale, each reducing the corpus to per-user frames and
  * O(1)/O(span) statistics.
  *
  * Run: sbt "runMain graft.examples.ExperimentQuickStart /root/testdata/sf0.01"
  */
object ExperimentQuickStart {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(8, "graft-experiment-quickstart")

    val w = ExperimentPack.abWelch(spark, dir).head()
    println(f"[experiment] welch: n=(${w.getAs[Long]("n_a")}, " +
      f"${w.getAs[Long]("n_b")}) t=${w.getAs[Double]("t_stat")}%.4f " +
      f"df=${w.getAs[Double]("df")}%.1f")

    val mw = ExperimentPack.mannWhitney(spark, dir).rows().head
    println(f"[experiment] mann-whitney: U=${mw.getAs[Double]("u_stat")}%.0f " +
      f"z=${mw.getAs[Double]("z_stat")}%.4f (rank-based twin of the t-test)")

    val did = ExperimentPack.diffInDiff(spark, dir).head()
    println(f"[experiment] diff-in-diff: did=${did.getAs[Double]("did")}%.4f " +
      f"over ${did.getAs[Long]("n_users")} users")

    val cu = ExperimentPack.cupedAdjust(spark, dir).collect()
    val vr = cu.head.getAs[Double]("var_ratio")
    println(f"[experiment] cuped: var(adj)/var(post)=$vr%.4f " +
      s"(${math.round((1 - vr) * 100)}% variance removed)")

    ExperimentPack.winsorizedMean(spark, dir).rows().foreach { r =>
      println(f"[experiment] winsorized v${r.getAs[Int]("variant")}: raw " +
        f"${r.getAs[Double]("raw_mean")}%.2f -> ${r.getAs[Double]("winsor_mean")}%.2f " +
        f"(clamped to [${r.getAs[Double]("lo")}%.1f, ${r.getAs[Double]("hi")}%.1f])")
    }

    val q = ExperimentPack.quantileTreatment(spark, dir).rows().head
    println(f"[experiment] qte: p10=${q.getAs[Double]("qte_p10")}%.3f " +
      f"p50=${q.getAs[Double]("qte_p50")}%.3f p90=${q.getAs[Double]("qte_p90")}%.3f")

    val km = ExperimentPack.kaplanMeier(spark, dir)
      .orderBy(desc("dur")).head()
    val na = ExperimentPack.nelsonAalen(spark, dir)
      .orderBy(desc("dur")).head()
    println(f"[experiment] survival at day ${km.getAs[Long]("dur")}: " +
      f"KM S=${km.getAs[Double]("surv")}%.4f, " +
      f"NA H=${na.getAs[Double]("cum_hazard")}%.4f " +
      f"(exp(-H)=${math.exp(-na.getAs[Double]("cum_hazard"))}%.4f)")

    println("[experiment] done")
    spark.stop()
  }
}
