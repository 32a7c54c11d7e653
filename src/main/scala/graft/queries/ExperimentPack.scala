package graft.queries

import graft.Tables
import graft.plans.Held
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Experimentation / causal-measurement operators: the analyses an A/B
  * platform runs over the same event firehose the rest of the engine
  * processes — two-sample Welch inference, CUPED variance reduction, and
  * Kaplan-Meier survival over user lifetimes.
  *
  * Scale notes (100 TB):
  *  - Every query reduces the event table to a PER-USER frame with one
  *    keyed aggregation (partial aggregates crush the shuffle to
  *    O(users)), then computes the statistic from O(1) or O(users)
  *    moments. No windows over raw events, no driver loops.
  *  - Global moments (means, variances, covariance, θ) travel as one-row
  *    broadcast frames — the same idiom as the mixing/EWMA ops.
  *  - `kaplan_meier`'s risk-set recursion collapses onto the DISTINCT
  *    duration frame (bounded by the observation span in days, not by
  *    users), where the cumulative product is a tiny self-join — no
  *    unpartitioned window anywhere.
  */
object ExperimentPack extends QueryPack {

  /** Deterministic per-user experiment frame: variant = user_id % 2 (the
    * hash-bucket assignment every experiment platform uses, determinized),
    * metric = the user's total event value. */
  private def perUser(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(sum("value").as("m"))
      .withColumn("variant", (col("user_id") % 2).cast("int"))

  // -------------------------------------------------------- Welch t-test

  /** Two-sample Welch t-test on per-user value totals between the two
    * deterministic variants: t = (m̄_a − m̄_b)/√(s²_a/n_a + s²_b/n_b) with
    * Welch–Satterthwaite degrees of freedom. One keyed user agg + one
    * conditional global agg — O(1) result from any corpus size. */
  def abWelch(s: SparkSession, dir: String): DataFrame = {
    val u = perUser(s, dir)
    val g = u.agg(
      count(when(col("variant") === 0, 1)).as("n_a"),
      count(when(col("variant") === 1, 1)).as("n_b"),
      avg(when(col("variant") === 0, col("m"))).as("ma"),
      avg(when(col("variant") === 1, col("m"))).as("mb"),
      var_samp(when(col("variant") === 0, col("m"))).as("va"),
      var_samp(when(col("variant") === 1, col("m"))).as("vb"))
    g.select(
      col("n_a"), col("n_b"),
      round(col("ma"), 6).as("mean_a"), round(col("mb"), 6).as("mean_b"),
      // + 0.0 on every sign-crossing statistic: maps a rounded -0.0 to
      // +0.0 so Spark and DuckDB agree bit-exactly at sign crossings.
      (round((col("ma") - col("mb")) /
        sqrt(col("va") / col("n_a") + col("vb") / col("n_b")), 6) + lit(0.0))
        .as("t_stat"),
      round(
        pow(col("va") / col("n_a") + col("vb") / col("n_b"), 2) /
          (pow(col("va") / col("n_a"), 2) / (col("n_a") - 1) +
            pow(col("vb") / col("n_b"), 2) / (col("n_b") - 1)), 4).as("df"))
  }

  /** mSPRT mixture-variance parameter τ² — a MODEL hyperparameter tuned
    * to expected effect sizes in real deployments; fixed here so the
    * test statistic is a pure function of the data (always-validity
    * requires τ² chosen before looking). */
  private val MsprtTau2 = 1.0
  private val MsprtLooks = 5

  /** Always-valid sequential A/B test — the mixture SPRT (Johari,
    * Koomen, Pekelis & Walsh, KDD'17 "Peeking at A/B tests"): a fixed-n
    * t-test's error guarantee breaks the moment an experimenter peeks
    * early, but the mSPRT's mixture likelihood ratio
    * Λ_n = √(V/(V+τ²))·exp(Δ²τ²/(2V(V+τ²))) is a test MARTINGALE, so
    * p_n = min(1, 1/Λ_n) is valid at EVERY interim look simultaneously —
    * the monitoring read an experiment platform recomputes on each
    * refresh. This query materializes the whole peeking curve: the
    * corpus is cut at [[MsprtLooks]] interim event-id thresholds and the
    * statistic emitted per look (log Λ to stay finite when evidence is
    * overwhelming).
    *
    * Scale shape: look membership is a row-local filtered-sequence
    * explode (≤ `looks` copies per event, map-side), per-(look, user)
    * sums are ONE keyed partial aggregate, and each look's statistic
    * reduces to a conditional global agg — O(looks) result rows from any
    * corpus size; the only broadcast is the 1-row max-id frame. */
  def msprtPeek(s: SparkSession, dir: String): DataFrame = {
    val looks = MsprtLooks
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("value"))
    val mx = ev.agg(max("event_id").as("mx"))
    val perLook = ev.crossJoin(broadcast(mx))
      .select(col("user_id"), col("value"),
        explode(expr(
          s"filter(sequence(1, $looks), k -> event_id <= (k * mx) div $looks)"))
          .as("look"))
      .groupBy("look", "user_id").agg(sum("value").as("m"))
      .withColumn("variant", (col("user_id") % 2).cast("int"))
    val g = perLook.groupBy("look").agg(
      count(when(col("variant") === 0, 1)).as("n_a"),
      count(when(col("variant") === 1, 1)).as("n_b"),
      avg(when(col("variant") === 0, col("m"))).as("ma"),
      avg(when(col("variant") === 1, col("m"))).as("mb"),
      var_samp(when(col("variant") === 0, col("m"))).as("va"),
      var_samp(when(col("variant") === 1, col("m"))).as("vb"))
    val v = col("va") / col("n_a") + col("vb") / col("n_b")
    val logLambda = lit(0.5) * log(v / (v + lit(MsprtTau2))) +
      pow(col("ma") - col("mb"), 2) * lit(MsprtTau2) /
        (lit(2.0) * v * (v + lit(MsprtTau2)))
    // `+ 0.0` after every sign-crossing round(): IEEE -0.0 + 0.0 = +0.0,
    // so both engines emit the same bit pattern when a tiny negative
    // statistic rounds to zero (Spark rounds to +0.0, DuckDB to -0.0 —
    // numerically equal but hash-distinct for the driver's bit compare).
    g.select(col("look").cast("long").as("look"), col("n_a"), col("n_b"),
        (round(col("ma") - col("mb"), 6) + lit(0.0)).as("delta"),
        (round(logLambda, 4) + lit(0.0)).as("log_lambda"),
        (round(least(lit(1.0), exp(-logLambda)), 6) + lit(0.0))
          .as("p_always_valid"))
      .withColumn("significant",
        when(col("p_always_valid") <= 0.05, 1L).otherwise(0L))
      .orderBy("look")
  }

  // ------------------------------------------------------------- CUPED

  /** CUPED variance reduction (Deng et al. 2013): regress the experiment
    * metric on a pre-experiment covariate and analyze the residualized
    * metric. Deterministic stand-in split: a user's even-event_id value
    * mass is the "pre-period" covariate, the odd mass is the experiment
    * metric. θ = cov(pre, post)/var(pre) is ONE global moment row
    * broadcast back over the per-user frame; the output is the per-variant
    * adjusted means plus the realized variance-reduction ratio
    * var(adj)/var(post) — the number that justifies CUPED at all. */
  def cupedAdjust(s: SparkSession, dir: String): DataFrame = {
    val u = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(
        coalesce(sum(when(col("event_id") % 2 === 0, col("value"))), lit(0.0))
          .as("pre"),
        coalesce(sum(when(col("event_id") % 2 === 1, col("value"))), lit(0.0))
          .as("post"))
      .withColumn("variant", (col("user_id") % 2).cast("int"))
    val st = u.agg(
      (covar_samp(col("pre"), col("post")) / var_samp(col("pre"))).as("theta"),
      avg("pre").as("mean_pre"))
    val adj = u.crossJoin(broadcast(st))
      .withColumn("adj",
        col("post") - col("theta") * (col("pre") - col("mean_pre")))
    val ratio = adj.agg(
      (var_samp(col("adj")) / var_samp(col("post"))).as("vr"),
      min(col("theta")).as("th"))
    adj.groupBy("variant")
      .agg(count(lit(1)).as("n"),
        avg("post").as("mp"), avg("adj").as("madj"))
      .crossJoin(broadcast(ratio))
      .select(col("variant"), col("n"),
        round(col("mp"), 6).as("mean_post"),
        (round(col("madj"), 6) + lit(0.0)).as("mean_adj"),
        (round(col("th"), 6) + lit(0.0)).as("theta"),
        round(col("vr"), 6).as("var_ratio"))
      .orderBy("variant")
  }

  // ----------------------------------------------------- Kaplan-Meier

  /** Kaplan-Meier survival over user lifetimes: duration = whole days
    * between a user's first and last event; "death" = the user ever
    * purchased (else right-censored at last observation). For each
    * distinct event duration d: risk set n_d = users with duration ≥ d,
    * deaths e_d = purchasers with duration exactly d, and the survival
    * curve S(d) = Π_{d' ≤ d} (1 − e_{d'}/n_{d'}).
    *
    * The product is exp(Σ ln(1−e/n)) accumulated by a self-join on the
    * DISTINCT-duration frame (bounded by the observation span in days —
    * O(100s) rows after the per-user reduction, never O(users)); a factor
    * that hits zero (e = n at the tail) zeroes the curve from there on via
    * an explicit zero-count instead of ln(0). */
  def kaplanMeier(s: SparkSession, dir: String): DataFrame = {
    val life = Tables.events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .groupBy("user_id")
      .agg(
        floor((max("us") - min("us")) / lit(86400000000L)).as("dur"),
        max((col("event_type") === "purchase").cast("int")).as("died"))
    // read three times in one plan, through one reused exchange
    val atRisk = life.groupBy("dur").agg(count(lit(1)).as("n_enter"),
      sum("died").as("e"))
    // n_risk(d) = Σ_{d' ≥ d} n_enter(d'); tiny frame — self-join suffices
    val risk = atRisk.select(col("dur"))
      .join(atRisk.select(col("dur").as("d2"), col("n_enter")),
        col("d2") >= col("dur"))
      .groupBy("dur").agg(sum("n_enter").as("n_risk"))
    val steps = atRisk.filter(col("e") > 0)
      .join(risk, "dur")
      .select(col("dur"), col("n_risk"), col("e"),
        (lit(1.0) - col("e").cast("double") / col("n_risk")).as("f"))
    steps.as("a")
      .join(steps.select(col("dur").as("d2"), col("f").as("f2")),
        col("d2") <= col("dur"))
      .groupBy(col("dur"), col("n_risk"), col("e"))
      .agg(sum(when(col("f2") === 0.0, 1).otherwise(0)).as("nz"),
        sum(when(col("f2") > 0.0, log(col("f2")))).as("ls"))
      .select(col("dur"), col("n_risk"), col("e").as("n_event"),
        round(when(col("nz") > 0, lit(0.0)).otherwise(exp(col("ls"))), 6)
          .as("surv"))
      .orderBy("dur")
  }

  // ----------------------------------------------- difference-in-differences

  /** Difference-in-differences over the deterministic 2×2 design: variant
    * (user_id parity) × period (event_id parity — the same pre/post
    * stand-in [[cupedAdjust]] uses). Each user contributes a pre and a
    * post total (missing period ⇒ 0, like CUPED); the estimate is the
    * classic interaction of cell means, did = (trt_post − trt_pre) −
    * (ctrl_post − ctrl_pre). ONE keyed user agg + ONE conditional global
    * agg — O(1) result from any corpus size. */
  def diffInDiff(s: SparkSession, dir: String): DataFrame = {
    val u = Tables.events(s, dir)
      .groupBy("user_id")
      .agg(
        coalesce(sum(when(col("event_id") % 2 === 0, col("value"))), lit(0.0))
          .as("pre"),
        coalesce(sum(when(col("event_id") % 2 === 1, col("value"))), lit(0.0))
          .as("post"))
      .withColumn("variant", (col("user_id") % 2).cast("int"))
    u.agg(
      count(lit(1)).as("n_users"),
      avg(when(col("variant") === 0, col("pre"))).as("cp"),
      avg(when(col("variant") === 0, col("post"))).as("cq"),
      avg(when(col("variant") === 1, col("pre"))).as("tp"),
      avg(when(col("variant") === 1, col("post"))).as("tq"))
      .select(col("n_users"),
        round(col("cp"), 6).as("ctrl_pre"), round(col("cq"), 6).as("ctrl_post"),
        round(col("tp"), 6).as("trt_pre"), round(col("tq"), 6).as("trt_post"),
        (round((col("tq") - col("tp")) - (col("cq") - col("cp")), 6)
          + lit(0.0)).as("did"))
  }

  // ------------------------------------------------- Mann-Whitney U test

  /** Mann–Whitney U (Wilcoxon rank-sum) — the nonparametric complement of
    * [[abWelch]]: rank every user's metric globally (average ranks on
    * ties), U = R_b − n_b(n_b+1)/2, normal approximation with the exact
    * tie correction. The metric is rounded to 6 dp BEFORE ranking (the
    * doc_keywords idiom: per-user float sums carry ulp noise that must
    * never decide a rank), then the corpus collapses to the DISTINCT-value
    * frame whose cumulative counts come from the two-pass running-sum
    * machinery — avg tie rank = cum − (c−1)/2 is row-local, R_b is one
    * conditional sum. No global window, no per-group buffer. */
  def mannWhitney(s: SparkSession, dir: String): Held = {
    val u = perUser(s, dir).withColumn("m", round(col("m"), 6))
    val v = u.groupBy("m").agg(count(lit(1)).as("c"),
      sum(col("variant")).as("cb"))
    graft.plans.GlobalRank.withRunningSums(
      v, Seq(col("m")), Seq("c" -> "cum"))._1.map(_
      .select(((col("cum") - (col("c") - 1) / 2.0) * col("cb")).as("rbp"),
        col("c"), col("cb"))
      .agg(sum("rbp").as("rb"),
        sum(pow(col("c"), 3) - col("c")).as("ties"),
        sum("c").as("nn"), sum("cb").as("nb"))
      .select(
        (col("nn") - col("nb")).as("n_a"), col("nb").as("n_b"),
        round(col("rb") - col("nb") * (col("nb") + 1) / 2.0, 2).as("u_stat"),
        (round(
          (col("rb") - col("nb") * (col("nb") + 1) / 2.0
            - (col("nn") - col("nb")) * col("nb") / 2.0) /
            sqrt((col("nn") - col("nb")) * col("nb") / 12.0 *
              ((col("nn") + 1) - col("ties") /
                (col("nn") * (col("nn") - 1)))), 6) + lit(0.0)).as("z_stat")))
  }

  // ---------------------------------------------------- winsorized means

  /** Winsorized per-variant means — the robust-metric read every revenue
    * experiment ships next to the raw mean (heavy-tail users otherwise
    * decide the test): clamp each user's metric at the variant's exact
    * [p05, p95] (PERCENTILE_CONT semantics through the two-pass rank
    * machinery — no per-group value buffer), then average. Metric rounded
    * to 6 dp first so the percentile inputs are engine-identical. */
  def winsorizedMean(s: SparkSession, dir: String): Held = {
    val u = perUser(s, dir).withColumn("m", round(col("m"), 6))
    graft.plans.GlobalRank
      .groupPercentilesExact(u, "variant", "m", Seq(0.05, 0.95))
      .map(p => u.join(broadcast(
          p.select(col("variant"), col("p0").as("lo"), col("p1").as("hi"))), "variant")
        .withColumn("w", least(greatest(col("m"), col("lo")), col("hi")))
        .groupBy("variant")
        .agg(count(lit(1)).as("n"),
          round(max("lo"), 6).as("lo"), round(max("hi"), 6).as("hi"),
          round(avg("m"), 6).as("raw_mean"),
          round(avg("w"), 6).as("winsor_mean"))
        .orderBy("variant"))
  }

  // --------------------------------------------- quantile treatment effects

  /** Quantile treatment effects — the distributional read a mean-based
    * test hides: per-variant exact PERCENTILE_CONT at p10/p50/p90 (rank
    * machinery, no per-group buffer) and their treated-minus-control
    * differences. A treatment that moves the tail but not the median
    * shows up here and nowhere in [[abWelch]]. Metric rounded to 6 dp
    * first so the percentile inputs are engine-identical. */
  def quantileTreatment(s: SparkSession, dir: String): Held = {
    val u = perUser(s, dir).withColumn("m", round(col("m"), 6))
    val pct = graft.plans.GlobalRank
      .groupPercentilesExact(u, "variant", "m", Seq(0.1, 0.5, 0.9))
    // two rows, read twice below: cached once, held with the sort
    val Held(p, pH) = Held.cached(pct.frame)
    val c = p.filter(col("variant") === 0)
      .select(col("p0").as("c10"), col("p1").as("c50"), col("p2").as("c90"))
    val t = p.filter(col("variant") === 1)
      .select(col("p0").as("t10"), col("p1").as("t50"), col("p2").as("t90"))
    Held(t.crossJoin(broadcast(c)).select(
      round(col("c10"), 6).as("ctrl_p10"), round(col("t10"), 6).as("trt_p10"),
      (round(col("t10") - col("c10"), 6) + lit(0.0)).as("qte_p10"),
      round(col("c50"), 6).as("ctrl_p50"), round(col("t50"), 6).as("trt_p50"),
      (round(col("t50") - col("c50"), 6) + lit(0.0)).as("qte_p50"),
      round(col("c90"), 6).as("ctrl_p90"), round(col("t90"), 6).as("trt_p90"),
      (round(col("t90") - col("c90"), 6) + lit(0.0)).as("qte_p90")), pct.handles ++ pH)
  }

  // ------------------------------------------------ Nelson-Aalen hazard

  /** Nelson–Aalen cumulative hazard over the same right-censored user
    * lifetimes as [[kaplanMeier]]: H(t) = Σ_{d ≤ t} e_d / n_risk(d) — the
    * estimator survival analysis prefers when hazards (not survival
    * probabilities) are the object. Identical scale shape: everything
    * collapses onto the distinct-duration frame, the cumulative sum is a
    * tiny self-join, no unpartitioned window. */
  def nelsonAalen(s: SparkSession, dir: String): DataFrame = {
    val life = Tables.events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .groupBy("user_id")
      .agg(
        floor((max("us") - min("us")) / lit(86400000000L)).as("dur"),
        max((col("event_type") === "purchase").cast("int")).as("died"))
    val atRisk = life.groupBy("dur").agg(count(lit(1)).as("n_enter"),
      sum("died").as("e"))
    val risk = atRisk.select(col("dur"))
      .join(atRisk.select(col("dur").as("d2"), col("n_enter")),
        col("d2") >= col("dur"))
      .groupBy("dur").agg(sum("n_enter").as("n_risk"))
    val steps = atRisk.filter(col("e") > 0)
      .join(risk, "dur")
      .select(col("dur"), col("n_risk"), col("e"),
        (col("e").cast("double") / col("n_risk")).as("h"))
    steps.as("a")
      .join(steps.select(col("dur").as("d2"), col("h").as("h2")),
        col("d2") <= col("dur"))
      .groupBy(col("dur"), col("n_risk"), col("e"))
      .agg(sum("h2").as("ch"))
      .select(col("dur"), col("n_risk"), col("e").as("n_event"),
        round(col("ch"), 6).as("cum_hazard"))
      .orderBy("dur")
  }

  // ---------------------------------------------------------- registry

  protected def direct: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ab_welch" -> abWelch,
    "msprt_peek" -> msprtPeek,
    "cuped_adjust" -> cupedAdjust,
    "diff_in_diff" -> diffInDiff,
    "nelson_aalen" -> nelsonAalen,
    "kaplan_meier" -> kaplanMeier)

  override def held: Map[String, (SparkSession, String) => Held] = Map(
    "mann_whitney" -> mannWhitney,
    "winsorized_mean" -> winsorizedMean,
    "quantile_treatment" -> quantileTreatment)

  def oracle: Map[String, String] = Map(
    "diff_in_diff" ->
      """WITH u AS (SELECT user_id, user_id % 2 AS variant,
        |   coalesce(sum(CASE WHEN event_id % 2 = 0 THEN value END), 0.0) AS pre,
        |   coalesce(sum(CASE WHEN event_id % 2 = 1 THEN value END), 0.0) AS post
        |  FROM events GROUP BY 1),
        | g AS (SELECT count(*)::BIGINT AS n_users,
        |   avg(CASE WHEN variant = 0 THEN pre END) AS cp,
        |   avg(CASE WHEN variant = 0 THEN post END) AS cq,
        |   avg(CASE WHEN variant = 1 THEN pre END) AS tp,
        |   avg(CASE WHEN variant = 1 THEN post END) AS tq FROM u)
        |SELECT n_users, round(cp, 6) AS ctrl_pre, round(cq, 6) AS ctrl_post,
        | round(tp, 6) AS trt_pre, round(tq, 6) AS trt_post,
        | round((tq - tp) - (cq - cp), 6) + 0.0 AS did
        |FROM g""".stripMargin,
    "mann_whitney" ->
      """WITH u AS (SELECT user_id, user_id % 2 AS variant,
        |   round(sum(value), 6) AS m FROM events GROUP BY 1),
        | v AS (SELECT m, count(*)::BIGINT AS c, sum(variant)::BIGINT AS cb
        |   FROM u GROUP BY m),
        | s AS (SELECT m, c, cb, sum(c) OVER (ORDER BY m
        |     ROWS UNBOUNDED PRECEDING) AS cum FROM v),
        | g AS (SELECT sum((cum - (c - 1) / 2.0) * cb) AS rb,
        |   sum(pow(c, 3) - c) AS ties,
        |   sum(c)::BIGINT AS nn, sum(cb)::BIGINT AS nb FROM s)
        |SELECT (nn - nb)::BIGINT AS n_a, nb AS n_b,
        | round(rb - nb * (nb + 1) / 2.0, 2) AS u_stat,
        | 0.0 + round((rb - nb * (nb + 1) / 2.0 - (nn - nb) * nb / 2.0) /
        |   sqrt((nn - nb) * nb / 12.0 *
        |     ((nn + 1) - ties / (nn * (nn - 1.0)))), 6) AS z_stat
        |FROM g""".stripMargin,
    "winsorized_mean" ->
      """WITH u AS (SELECT user_id, user_id % 2 AS variant,
        |   round(sum(value), 6) AS m FROM events GROUP BY 1),
        | p AS (SELECT variant, quantile_cont(m, 0.05) AS lo,
        |   quantile_cont(m, 0.95) AS hi FROM u GROUP BY variant)
        |SELECT u.variant, count(*)::BIGINT AS n,
        | round(p.lo, 6) AS lo, round(p.hi, 6) AS hi,
        | round(avg(m), 6) AS raw_mean,
        | round(avg(least(greatest(m, p.lo), p.hi)), 6) AS winsor_mean
        |FROM u JOIN p USING (variant)
        |GROUP BY u.variant, p.lo, p.hi ORDER BY variant""".stripMargin,
    "quantile_treatment" ->
      """WITH u AS (SELECT user_id, user_id % 2 AS variant,
        |   round(sum(value), 6) AS m FROM events GROUP BY 1),
        | p AS (SELECT variant,
        |   quantile_cont(m, 0.1) AS p10, quantile_cont(m, 0.5) AS p50,
        |   quantile_cont(m, 0.9) AS p90 FROM u GROUP BY variant),
        | c AS (SELECT p10 AS c10, p50 AS c50, p90 AS c90 FROM p WHERE variant = 0),
        | t AS (SELECT p10 AS t10, p50 AS t50, p90 AS t90 FROM p WHERE variant = 1)
        |SELECT round(c10, 6) AS ctrl_p10, round(t10, 6) AS trt_p10,
        | round(t10 - c10, 6) + 0.0 AS qte_p10,
        | round(c50, 6) AS ctrl_p50, round(t50, 6) AS trt_p50,
        | round(t50 - c50, 6) + 0.0 AS qte_p50,
        | round(c90, 6) AS ctrl_p90, round(t90, 6) AS trt_p90,
        | round(t90 - c90, 6) + 0.0 AS qte_p90
        |FROM t CROSS JOIN c""".stripMargin,
    "nelson_aalen" ->
      """WITH e AS (SELECT user_id, event_type,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        | life AS (SELECT user_id,
        |   floor((max(us) - min(us)) / 86400000000.0)::BIGINT AS dur,
        |   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS died
        |  FROM e GROUP BY 1),
        | enter AS (SELECT dur, count(*)::BIGINT AS n_enter,
        |   sum(died)::BIGINT AS ev FROM life GROUP BY 1),
        | risk AS (SELECT a.dur, sum(b.n_enter)::BIGINT AS n_risk
        |  FROM enter a JOIN enter b ON b.dur >= a.dur GROUP BY a.dur),
        | steps AS (SELECT a.dur, r.n_risk, a.ev AS e,
        |   a.ev::DOUBLE / r.n_risk AS h
        |  FROM enter a JOIN risk r ON a.dur = r.dur WHERE a.ev > 0)
        |SELECT a.dur, a.n_risk, a.e AS n_event,
        | round(sum(b.h), 6) AS cum_hazard
        |FROM steps a JOIN steps b ON b.dur <= a.dur
        |GROUP BY a.dur, a.n_risk, a.e ORDER BY a.dur""".stripMargin,
    "msprt_peek" ->
      s"""WITH mx AS (SELECT max(event_id) AS mx FROM events),
        | pl AS (SELECT look, user_id, user_id % 2 AS variant,
        |     sum(value) AS m
        |   FROM (SELECT user_id, value,
        |       unnest(list_filter(generate_series(1, $MsprtLooks),
        |         k -> event_id <= (k * mx) // $MsprtLooks)) AS look
        |     FROM events, mx)
        |   GROUP BY 1, 2),
        | g AS (SELECT look,
        |   count(CASE WHEN variant = 0 THEN 1 END)::BIGINT AS n_a,
        |   count(CASE WHEN variant = 1 THEN 1 END)::BIGINT AS n_b,
        |   avg(CASE WHEN variant = 0 THEN m END) AS ma,
        |   avg(CASE WHEN variant = 1 THEN m END) AS mb,
        |   var_samp(CASE WHEN variant = 0 THEN m END) AS va,
        |   var_samp(CASE WHEN variant = 1 THEN m END) AS vb
        |  FROM pl GROUP BY 1),
        | s AS (SELECT look, n_a, n_b, ma - mb AS delta,
        |   va / n_a + vb / n_b AS v FROM g)
        |SELECT look::BIGINT AS look, n_a, n_b,
        |  round(delta, 6) + 0.0 AS delta,
        |  round(0.5 * ln(v / (v + $MsprtTau2)) +
        |    delta * delta * $MsprtTau2 / (2 * v * (v + $MsprtTau2)), 4)
        |    + 0.0 AS log_lambda,
        |  round(least(1.0, exp(-(0.5 * ln(v / (v + $MsprtTau2)) +
        |    delta * delta * $MsprtTau2 / (2 * v * (v + $MsprtTau2))))), 6)
        |    + 0.0 AS p_always_valid,
        |  CASE WHEN round(least(1.0, exp(-(0.5 * ln(v / (v + $MsprtTau2)) +
        |    delta * delta * $MsprtTau2 / (2 * v * (v + $MsprtTau2))))), 6)
        |    <= 0.05 THEN 1 ELSE 0 END::BIGINT AS significant
        |FROM s ORDER BY look""".stripMargin,
    "ab_welch" ->
      """WITH u AS (SELECT user_id, user_id % 2 AS variant, sum(value) AS m
        |   FROM events GROUP BY 1),
        | g AS (SELECT
        |   count(CASE WHEN variant = 0 THEN 1 END)::BIGINT AS n_a,
        |   count(CASE WHEN variant = 1 THEN 1 END)::BIGINT AS n_b,
        |   avg(CASE WHEN variant = 0 THEN m END) AS ma,
        |   avg(CASE WHEN variant = 1 THEN m END) AS mb,
        |   var_samp(CASE WHEN variant = 0 THEN m END) AS va,
        |   var_samp(CASE WHEN variant = 1 THEN m END) AS vb FROM u)
        |SELECT n_a, n_b, round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |  round((ma - mb) / sqrt(va / n_a + vb / n_b), 6) + 0.0 AS t_stat,
        |  round(pow(va / n_a + vb / n_b, 2) /
        |    (pow(va / n_a, 2) / (n_a - 1) + pow(vb / n_b, 2) / (n_b - 1)), 4)
        |    AS df
        |FROM g""".stripMargin,
    "cuped_adjust" ->
      """WITH u AS (SELECT user_id, user_id % 2 AS variant,
        |   coalesce(sum(CASE WHEN event_id % 2 = 0 THEN value END), 0.0) AS pre,
        |   coalesce(sum(CASE WHEN event_id % 2 = 1 THEN value END), 0.0) AS post
        |  FROM events GROUP BY 1),
        | st AS (SELECT covar_samp(pre, post) / var_samp(pre) AS theta,
        |   avg(pre) AS mean_pre FROM u),
        | a AS (SELECT variant, post,
        |   post - theta * (pre - mean_pre) AS adj FROM u, st),
        | r AS (SELECT var_samp(adj) / var_samp(post) AS vr FROM a)
        |SELECT variant, count(*)::BIGINT AS n,
        |  round(avg(post), 6) AS mean_post,
        |  round(avg(adj), 6) + 0.0 AS mean_adj,
        |  round((SELECT theta FROM st), 6) + 0.0 AS theta,
        |  round((SELECT vr FROM r), 6) AS var_ratio
        |FROM a GROUP BY variant ORDER BY variant""".stripMargin,
    "kaplan_meier" ->
      """WITH e AS (SELECT user_id, event_type,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        | life AS (SELECT user_id,
        |   floor((max(us) - min(us)) / 86400000000.0)::BIGINT AS dur,
        |   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS died
        |  FROM e GROUP BY 1),
        | enter AS (SELECT dur, count(*)::BIGINT AS n_enter,
        |   sum(died)::BIGINT AS ev FROM life GROUP BY 1),
        | risk AS (SELECT a.dur, sum(b.n_enter)::BIGINT AS n_risk
        |  FROM enter a JOIN enter b ON b.dur >= a.dur GROUP BY a.dur),
        | steps AS (SELECT a.dur, r.n_risk, a.ev AS e,
        |   1.0 - a.ev::DOUBLE / r.n_risk AS f
        |  FROM enter a JOIN risk r ON a.dur = r.dur WHERE a.ev > 0)
        |SELECT a.dur, a.n_risk, a.e AS n_event,
        |  round(CASE WHEN sum(CASE WHEN b.f = 0.0 THEN 1 ELSE 0 END) > 0
        |    THEN 0.0
        |    ELSE exp(sum(CASE WHEN b.f > 0.0 THEN ln(b.f) ELSE 0 END)) END, 6)
        |    AS surv
        |FROM steps a JOIN steps b ON b.dur <= a.dur
        |GROUP BY a.dur, a.n_risk, a.e ORDER BY a.dur""".stripMargin)
}
