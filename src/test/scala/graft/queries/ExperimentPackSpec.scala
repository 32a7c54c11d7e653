package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic invariants of the experimentation/survival operators, checked
  * against independent in-test re-implementations (plain Scala, no Spark)
  * so the engine math is verified, not just reproduced. */
class ExperimentPackSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  behavior of "abWelch"

  it should "match a plain-Scala Welch t computation on per-user totals" in {
    val u = graft.Tables.events(spark, dir)
      .groupBy("user_id").agg(sum("value").as("m"))
      .select(col("user_id"), col("m"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val a = u.filter(_._1 % 2 == 0).map(_._2)
    val b = u.filter(_._1 % 2 == 1).map(_._2)
    def meanVar(x: Array[Double]) = {
      val m = x.sum / x.length
      (m, x.map(v => (v - m) * (v - m)).sum / (x.length - 1))
    }
    val ((ma, va), (mb, vb)) = (meanVar(a), meanVar(b))
    val se2 = va / a.length + vb / b.length
    val t = (ma - mb) / math.sqrt(se2)
    val df = se2 * se2 / (math.pow(va / a.length, 2) / (a.length - 1) +
      math.pow(vb / b.length, 2) / (b.length - 1))

    val row = ExperimentPack.abWelch(spark, dir).head()
    row.getAs[Long]("n_a") shouldBe a.length.toLong
    row.getAs[Long]("n_b") shouldBe b.length.toLong
    row.getAs[Double]("t_stat") shouldBe t +- 1e-4
    row.getAs[Double]("df") shouldBe df +- 1e-2
  }

  behavior of "msprtPeek"

  it should "emit a valid peeking curve whose final look matches a plain-Scala replay" in {
    val rows = ExperimentPack.msprtPeek(spark, dir).collect()
    rows.map(_.getAs[Long]("look")).toSeq shouldBe (1L to 5L)
    // sample sizes only grow as the looks widen
    val nas = rows.map(_.getAs[Long]("n_a"))
    val nbs = rows.map(_.getAs[Long]("n_b"))
    nas.zip(nas.tail).foreach { case (a, b) => b should be >= a }
    nbs.zip(nbs.tail).foreach { case (a, b) => b should be >= a }
    rows.foreach { r =>
      val pav = r.getAs[Double]("p_always_valid")
      pav should (be > 0.0 and be <= 1.0)
      r.getAs[Long]("significant") shouldBe (if (pav <= 0.05) 1L else 0L)
    }
    // plain-Scala mSPRT at the FULL corpus (the last look covers all
    // events): same conditional moments, same mixture formula
    import org.apache.spark.sql.functions._
    val u = graft.Tables.events(spark, dir)
      .groupBy("user_id").agg(sum("value").as("m"))
      .withColumn("variant", (col("user_id") % 2).cast("int"))
      .collect().map(r => (r.getAs[Int]("variant"), r.getAs[Double]("m")))
    def stats(v: Int) = {
      val xs = u.filter(_._1 == v).map(_._2)
      val mean = xs.sum / xs.length
      val varS = xs.map(x => (x - mean) * (x - mean)).sum / (xs.length - 1)
      (xs.length, mean, varS)
    }
    val (na, ma, va) = stats(0); val (nb, mb, vb) = stats(1)
    val vv = va / na + vb / nb
    val tau2 = 1.0
    val want = 0.5 * math.log(vv / (vv + tau2)) +
      (ma - mb) * (ma - mb) * tau2 / (2 * vv * (vv + tau2))
    val last = rows.last
    last.getAs[Long]("n_a") shouldBe na
    last.getAs[Double]("log_lambda") shouldBe want +- 1e-3
  }

  behavior of "cupedAdjust"

  it should "reduce variance and preserve the overall metric mean" in {
    val out = ExperimentPack.cupedAdjust(spark, dir)
      .collect().map(r => (r.getAs[Long]("n"),
        r.getAs[Double]("mean_post"), r.getAs[Double]("mean_adj"),
        r.getAs[Double]("var_ratio")))
    out.length shouldBe 2
    // CUPED never inflates variance (it is the OLS-optimal θ)
    all(out.map(_._4)) should be <= 1.0
    all(out.map(_._4)) should be > 0.0
    // Σ adj = Σ post − θ·Σ(pre − mean_pre) = Σ post exactly, so the
    // n-weighted overall means agree even though per-variant ones move
    val n = out.map(_._1.toDouble).sum
    val post = out.map(r => r._1 * r._2).sum / n
    val adj = out.map(r => r._1 * r._3).sum / n
    adj shouldBe post +- 1e-4
  }

  behavior of "kaplanMeier"

  it should "produce a valid survival curve equal to the step-product" in {
    val steps = ExperimentPack.kaplanMeier(spark, dir)
      .collect().map(r => (r.getAs[Long]("dur"), r.getAs[Long]("n_risk"),
        r.getAs[Long]("n_event"), r.getAs[Double]("surv")))
    steps should not be empty
    // risk sets shrink as duration grows; survival is monotone in [0,1]
    steps.map(_._2).toSeq shouldBe steps.map(_._2).sortBy(-_).toSeq
    all(steps.map(_._4)) should (be >= 0.0 and be <= 1.0)
    steps.map(_._4).toSeq shouldBe steps.map(_._4).sortBy(-_).toSeq
    // S(d) = Π (1 − e/n) replayed in plain Scala
    var prod = 1.0
    steps.sortBy(_._1).foreach { case (_, n, e, surv) =>
      prod *= (1.0 - e.toDouble / n)
      surv shouldBe prod +- 1e-6
    }
  }

  behavior of "isotonicCalibration"

  it should "match a textbook pool-adjacent-violators fit over the bins" in {
    val rows = MetricsPack.isotonicCalibration(spark, dir)
      .collect().map(r => (r.getAs[Int]("bin"), r.getAs[Long]("n"),
        r.getAs[Double]("frac_pos"), r.getAs[Double]("iso_fit")))
      .sortBy(_._1)
    rows should not be empty
    // monotone nondecreasing fit
    rows.map(_._4).toSeq shouldBe rows.map(_._4).sorted.toSeq
    // classic stack-based PAV on (n, sum_y) per bin
    case class Block(var n: Long, var sy: Double)
    val stack = scala.collection.mutable.ArrayBuffer.empty[Block]
    rows.foreach { case (_, n, fp, _) =>
      stack += Block(n, fp * n)
      while (stack.length > 1 &&
          stack(stack.length - 2).sy / stack(stack.length - 2).n >=
            stack.last.sy / stack.last.n) {
        val top = stack.remove(stack.length - 1)
        stack.last.n += top.n
        stack.last.sy += top.sy
      }
    }
    // expand the PAV blocks back to per-bin fits (each block spans the
    // consecutive bins whose row counts sum to the block's n)
    val fits = scala.collection.mutable.ArrayBuffer.empty[Double]
    var i = 0
    stack.foreach { b =>
      var remaining = b.n
      while (remaining > 0 && i < rows.length) {
        fits += b.sy / b.n
        remaining -= rows(i)._2
        i += 1
      }
    }
    fits.length shouldBe rows.length
    rows.map(_._4).zip(fits).foreach { case (got, want) =>
      got shouldBe want +- 1e-6
    }
  }

  behavior of "cusumAlerts"

  it should "equal the literal max(0, C + d) recurrence" in {
    val evs = graft.Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
      .select("user_id", "event_id", "value", "us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val m = evs.map(_._3).sum / evs.length
    val sd0 = math.sqrt(evs.map(v => (v._3 - m) * (v._3 - m)).sum / (evs.length - 1))
    val mk = BigDecimal(m + 0.5 * sd0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sd = BigDecimal(sd0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = evs.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
      var c = 0.0
      rows.sortBy(r => (r._4, r._2)).zipWithIndex.flatMap { case (r, i) =>
        c = math.max(0.0, c + (r._3 - mk))
        if (c > 5.0 * sd) Some((uid, (i + 1).toLong, r._2)) else None
      }
    }.toSet
    val got = AnalyticsPack.cusumAlerts(spark, dir)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("rn"),
        r.getAs[Long]("event_id"))).toSet
    got shouldBe expected
  }

  behavior of "cmsEstErr"

  it should "never undercount (est >= exact on every audited key)" in {
    val rows = AnalyticsPack.cmsEstErr(spark, dir)
      .collect().map(r => (r.getAs[Long]("exact"), r.getAs[Long]("est"),
        r.getAs[Long]("overcount")))
    rows should not be empty
    rows.foreach { case (exact, est, over) =>
      est should be >= exact
      over shouldBe est - exact
    }
  }

  behavior of "hllEstErr"

  it should "estimate within the m=256 accuracy band on every group" in {
    val rows = AnalyticsPack.hllEstErr(spark, dir)
      .collect().map(r => (r.getAs[String]("event_type"),
        r.getAs[Long]("exact"), r.getAs[Double]("est"),
        r.getAs[Double]("err_pct")))
    rows should not be empty
    rows.foreach { case (_, exact, est, err) =>
      est should be > 0.0
      // 1.04/√256 ≈ 6.5% standard error; 20% is a >3σ generous band
      math.abs(err) should be < 20.0
      math.abs(est - exact) / exact should be < 0.2
    }
  }

  behavior of "docKeywords"

  it should "pick the per-doc tf-idf top-3 with monotone scores" in {
    val rows = TextOpsPack.docKeywords(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rnk"),
        r.getAs[String]("term"), r.getAs[Double]("score")))
    rows should not be empty
    rows.groupBy(_._1).foreach { case (_, ks) =>
      ks.map(_._2).sorted.toSeq shouldBe (1 to ks.length)
      val byRank = ks.sortBy(_._2).map(_._4)
      byRank.toSeq shouldBe byRank.sortBy(-_).toSeq // nonincreasing
      ks.map(_._3).distinct.length shouldBe ks.length // distinct terms
    }
  }

  behavior of "peakConcurrency"

  it should "equal a brute-force interval sweep over the sessionized data" in {
    val gap = 600L * 1000000
    val evs = graft.Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
      .select("user_id", "event_id", "us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // sessionize per user in plain Scala
    val sessions = evs.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._2)).map(_._3)
      val bounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var start = sorted.head; var last = sorted.head
      sorted.tail.foreach { us =>
        if (us - last > gap) { bounds += ((start, last)); start = us }
        last = us
      }
      bounds += ((start, last))
      bounds
    }
    // sweep: starts before ends at the same instant
    val deltas = sessions.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
      .sortBy { case (us, d) => (us, -d) }
    var conc = 0; var peak = 0; var at = 0L
    deltas.foreach { case (us, d) =>
      conc += d
      if (conc > peak) { peak = conc; at = us }
    }
    val row = AnalyticsPack.peakConcurrency(spark, dir).rows().head
    row.getAs[Long]("peak") shouldBe peak.toLong
    row.getAs[Long]("at_us") shouldBe at
  }

  behavior of "embedRp"

  it should "concentrate projected norms around the original (JL lemma)" in {
    val row = LlmData.embedRp(spark, dir).head()
    row.getAs[Long]("n") should be > 0L
    row.getAs[Double]("mean_ratio") shouldBe 1.0 +- 0.2
    row.getAs[Double]("min_ratio") should be > 0.0
  }

  behavior of "diffInDiff"

  it should "equal the interaction of the four cell means" in {
    val r = ExperimentPack.diffInDiff(spark, dir).head()
    val did = (r.getAs[Double]("trt_post") - r.getAs[Double]("trt_pre")) -
      (r.getAs[Double]("ctrl_post") - r.getAs[Double]("ctrl_pre"))
    r.getAs[Double]("did") shouldBe did +- 1e-5 // 6-dp rounded cells
    r.getAs[Long]("n_users") should be > 0L
  }

  behavior of "mannWhitney"

  it should "produce a U inside [0, n_a*n_b] with a finite z" in {
    val r = ExperimentPack.mannWhitney(spark, dir).rows().head
    val (na, nb) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
    na should be > 0L; nb should be > 0L
    val u = r.getAs[Double]("u_stat")
    u should (be >= 0.0 and be <= (na * nb).toDouble)
    r.getAs[Double]("z_stat").isNaN shouldBe false
  }

  behavior of "winsorizedMean"

  it should "pull the mean toward the clamp window on both variants" in {
    ExperimentPack.winsorizedMean(spark, dir).checkpointed().collect().foreach { r =>
      val (lo, hi) = (r.getAs[Double]("lo"), r.getAs[Double]("hi"))
      lo should be <= hi
      val w = r.getAs[Double]("winsor_mean")
      w should (be >= lo - 1e-9 and be <= hi + 1e-9)
    }
  }

  behavior of "quantileTreatment"

  it should "keep per-variant percentiles monotone in p" in {
    val r = ExperimentPack.quantileTreatment(spark, dir).checkpointed().head()
    r.getAs[Double]("ctrl_p10") should be <= r.getAs[Double]("ctrl_p50")
    r.getAs[Double]("ctrl_p50") should be <= r.getAs[Double]("ctrl_p90")
    r.getAs[Double]("trt_p10") should be <= r.getAs[Double]("trt_p50")
    r.getAs[Double]("trt_p50") should be <= r.getAs[Double]("trt_p90")
  }

  behavior of "nelsonAalen"

  it should "be nondecreasing and bounded by -ln(KM survival)" in {
    val na = ExperimentPack.nelsonAalen(spark, dir).collect()
      .map(r => r.getAs[Long]("dur") -> r.getAs[Double]("cum_hazard")).toMap
    val km = ExperimentPack.kaplanMeier(spark, dir).collect()
      .map(r => r.getAs[Long]("dur") -> r.getAs[Double]("surv")).toMap
    na.keySet shouldBe km.keySet
    val byDur = na.toSeq.sortBy(_._1).map(_._2)
    byDur.sliding(2).foreach {
      case Seq(a, b) => a should be <= b + 1e-9
      case _ =>
    }
    // -ln(1-x) >= x termwise, so -ln(S_KM) >= H_NA wherever S > 0
    km.foreach { case (d, s) =>
      if (s > 0) -math.log(s) should be >= na(d) - 1e-6
    }
  }

  behavior of "labelAgreement"

  it should "produce a kappa consistent with its own 2x2 cells" in {
    val r = LlmData.labelAgreement(spark, dir).head()
    val (n, n11, n10, n01, n00) = (r.getAs[Long]("n"), r.getAs[Long]("n11"),
      r.getAs[Long]("n10"), r.getAs[Long]("n01"), r.getAs[Long]("n00"))
    n shouldBe n11 + n10 + n01 + n00
    val po = (n11 + n00).toDouble / n
    val pe = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)).toDouble / (n.toDouble * n)
    r.getAs[Double]("p_observed") shouldBe po +- 1e-5
    r.getAs[Double]("kappa") shouldBe ((po - pe) / (1 - pe)) +- 1e-5
    r.getAs[Double]("kappa") should (be >= -1.0 and be <= 1.0)
  }
}
