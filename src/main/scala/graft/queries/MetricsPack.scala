package graft.queries

import graft.Tables
import graft.plans.Held
import graft.metrics.{ModelHealth, StandardMetrics, WebCustomMetrics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Evaluation-metric operators (SURVEY §2.8 + §2.3 metric joins) exercised
  * as driver-checkable queries. Each entry calls the REAL metrics code in
  * graft.metrics on deterministic label/score derivations over the test
  * tables, so the oracle verifies the engine operators — not duplicated SQL.
  *
  * Deterministic stand-ins (no trained model in the oracle loop):
  *  - label: o_orderstatus / event_type predicates
  *  - score: o_totalprice rounded to 1k buckets (forces rank ties → the
  *    tie-handling paths are exercised), events.value scaled to [0,1].
  */
object MetricsPack extends QueryPack {

  private def labeled(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderstatus").as("label"),
      when(col("o_totalprice") > 300000, "F")
        .when(col("o_totalprice") > 100000, "O").otherwise("P").as("pred"),
      (col("o_orderstatus") === "F").cast("int").as("y"),
      round(col("o_totalprice") / 1000.0, 0).as("score"))

  private def evenOdd(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val o = Tables.orders(s, dir)
    (o.filter(col("o_orderkey") % 2 === 0), o.filter(col("o_orderkey") % 2 === 1))
  }

  def confusionMatrix(s: SparkSession, dir: String): DataFrame =
    StandardMetrics.confusion(labeled(s, dir), "label", "pred")
      .orderBy("label", "pred")

  def multiclassMetrics(s: SparkSession, dir: String): DataFrame =
    StandardMetrics.perLabel(labeled(s, dir), "label", "pred")
      .select(col("class").as("label"), col("support"), col("tp"), col("predTotal"),
        round(col("precision"), 6).as("prec"), round(col("recall"), 6).as("rec"),
        round(col("f1"), 6).as("f1"))
      .orderBy("label")

  def aurocRank(s: SparkSession, dir: String): DataFrame =
    StandardMetrics.auroc(labeled(s, dir), "y", "score")
      .select(round(col("auroc"), 6).as("auroc"))

  def f2BestThreshold(s: SparkSession, dir: String): DataFrame =
    StandardMetrics.bestThreshold(labeled(s, dir), "y", "score", beta = 2.0)
      .select(col("thresh"), round(col("precision"), 6).as("prec"),
        round(col("recall"), 6).as("rec"), round(col("fbeta"), 6).as("f2"))

  def psiDrift(s: SparkSession, dir: String): DataFrame = {
    val (base, cur) = evenOdd(s, dir)
    ModelHealth.psiEquidistant(base, cur, "o_totalprice", 10)
      .select(col("bucket"), round(col("p"), 6).as("p"), round(col("q"), 6).as("q"),
        round(col("si"), 6).as("si"))
      .orderBy("bucket")
  }

  /** The exact-quantile PSI twin ([[ModelHealth.psiExact]]): split values
    * are the base's EXACT sorted elements at ranks ceil(q·n) under the
    * reference's drifted probability sequence q = i·0.1 — the oracle
    * replays the identical rank selection, bucket rule (#splits ≤ x) and
    * joined-frame share normalization. */
  def psiExactDrift(s: SparkSession, dir: String): DataFrame = {
    val (base, cur) = evenOdd(s, dir)
    ModelHealth.psiExact(base, cur, "o_totalprice", 10)
      .select(col("bucket"), round(col("p"), 6).as("p"), round(col("q"), 6).as("q"),
        round(col("si"), 6).as("si"))
      .orderBy("bucket")
  }

  def vsiDrift(s: SparkSession, dir: String): DataFrame = {
    val (base, cur) = evenOdd(s, dir)
    ModelHealth.vsiAll(base, cur, Seq("o_orderstatus", "o_orderpriority"))
      .select(col("variable"), round(col("vsi"), 6).as("vsi"))
      .orderBy("variable")
  }

  def valueDrift(s: SparkSession, dir: String): DataFrame = {
    val (base, cur) = evenOdd(s, dir)
    ModelHealth.valueDrift(base, cur, "o_orderpriority").orderBy("value", "status")
  }

  def hotleadSim(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val scored = Tables.events(s, dir)
      .withColumn("page", row_number().over(w).cast("long"))
      .withColumn("prob", col("value") / 500.0)
      .withColumn("resp", (col("event_type") === "purchase").cast("int"))
    WebCustomMetrics.simulate(scored, "user_id", "page", "prob", "resp",
        nPages = 5, default = 0.6)
      .select(col("page"), col("hotleads"), col("captured"),
        round(col("hotlead_rate"), 6).as("hotlead_rate"),
        round(col("capture_rate"), 6).as("capture_rate"))
      .orderBy("page")
  }

  def calibrationBins(s: SparkSession, dir: String): DataFrame =
    StandardMetrics.calibrationBins(labeled(s, dir), "y", "score")
      .select(col("bin"), col("n"),
        round(col("mean_pred"), 6).as("mean_pred"),
        round(col("frac_pos"), 6).as("frac_pos"))
      .orderBy("bin")

  /** PAV isotonic calibration over 20 reliability bins — the fit values
    * are exact integer ratios, so the oracle replays the identical minimax
    * with no tolerance (see [[StandardMetrics.isotonicCalibration]]). */
  def isotonicCalibration(s: SparkSession, dir: String): DataFrame =
    StandardMetrics.isotonicCalibration(labeled(s, dir), "y", "score")
      .select(col("bin"), col("n"),
        round(col("mean_pred"), 6).as("mean_pred"),
        round(col("frac_pos"), 6).as("frac_pos"),
        round(col("iso_fit"), 6).as("iso_fit"))
      .orderBy("bin")

  def gainsDeciles(s: SparkSession, dir: String): Held = {
    val t = Tables.orders(s, dir).select(
      (col("o_orderstatus") === "F").cast("int").as("y"),
      round(col("o_totalprice") / 1000.0, 0).as("score"),
      col("o_orderkey"))
    StandardMetrics.gainsDeciles(t, "y", "score", "o_orderkey")
      .map(_.select(col("decile"), col("n"), col("n_pos"), col("cum_pos"),
        round(col("cum_capture"), 6).as("cum_capture"))
      .orderBy("decile"))
  }

  def calibrationSummary(s: SparkSession, dir: String): DataFrame =
    StandardMetrics.calibrationSummary(labeled(s, dir), "y", "score")
      .select(col("n"), round(col("brier"), 6).as("brier"),
        round(col("ece"), 6).as("ece"))

  def labelFreq(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).groupBy("lang").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("lang"))

  protected def direct: Map[String, (SparkSession, String) => DataFrame] = Map(
    "confusion_matrix" -> (confusionMatrix(_, _)),
    "multiclass_metrics" -> (multiclassMetrics(_, _)),
    "auroc_rank" -> (aurocRank(_, _)),
    "f2_best_threshold" -> (f2BestThreshold(_, _)),
    "psi_drift" -> (psiDrift(_, _)),
    "psi_exact" -> (psiExactDrift(_, _)),
    "vsi_drift" -> (vsiDrift(_, _)),
    "value_drift" -> (valueDrift(_, _)),
    "hotlead_sim" -> (hotleadSim(_, _)),
    "calibration_bins" -> (calibrationBins(_, _)),
    "calibration_summary" -> (calibrationSummary(_, _)),
    "isotonic_calibration" -> (isotonicCalibration(_, _)),
    "label_freq" -> (labelFreq(_, _)))

  override def held: Map[String, (SparkSession, String) => Held] = Map(
    "gains_deciles" -> (gainsDeciles(_, _)))

  private val labeledSql =
    """SELECT o_orderstatus AS label,
      |  CASE WHEN o_totalprice > 300000 THEN 'F'
      |       WHEN o_totalprice > 100000 THEN 'O' ELSE 'P' END AS pred,
      |  CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
      |  round(o_totalprice / 1000.0, 0) AS score
      |FROM orders""".stripMargin

  override def oracle: Map[String, String] = Map(
    "confusion_matrix" ->
      s"""WITH t AS ($labeledSql)
         |SELECT label, pred, count(*) AS n FROM t GROUP BY 1, 2
         |ORDER BY label, pred""".stripMargin,

    "multiclass_metrics" ->
      s"""WITH t AS ($labeledSql),
         |cnt AS (SELECT label, pred, count(*) AS n FROM t GROUP BY 1, 2),
         |actual AS (SELECT label AS cls, sum(n)::BIGINT AS support FROM cnt GROUP BY 1),
         |predicted AS (SELECT pred AS cls, sum(n)::BIGINT AS predTotal FROM cnt GROUP BY 1),
         |tp AS (SELECT label AS cls, n AS tp FROM cnt WHERE label = pred)
         |SELECT a.cls AS label, a.support,
         |  coalesce(tp.tp, 0)::BIGINT AS tp,
         |  coalesce(p.predTotal, 0)::BIGINT AS predTotal,
         |  round(CASE WHEN coalesce(p.predTotal, 0) > 0
         |    THEN coalesce(tp.tp, 0) / CAST(p.predTotal AS DOUBLE) ELSE 0 END, 6) AS prec,
         |  round(coalesce(tp.tp, 0) / CAST(a.support AS DOUBLE), 6) AS rec,
         |  round(CASE WHEN coalesce(tp.tp, 0) > 0
         |    THEN 2.0 * (tp.tp / CAST(p.predTotal AS DOUBLE)) * (tp.tp / CAST(a.support AS DOUBLE))
         |       / (tp.tp / CAST(p.predTotal AS DOUBLE) + tp.tp / CAST(a.support AS DOUBLE))
         |    ELSE 0 END, 6) AS f1
         |FROM actual a
         |LEFT JOIN tp ON a.cls = tp.cls
         |LEFT JOIN predicted p ON a.cls = p.cls
         |ORDER BY label""".stripMargin,

    "calibration_bins" ->
      s"""WITH t AS ($labeledSql),
         | mx AS (SELECT max(score)::DOUBLE AS m FROM t),
         | b AS (SELECT least(9, floor(score / m * 10))::INT AS bin,
         |     score / m AS p, y FROM t, mx)
         |SELECT bin, count(*)::BIGINT AS n, round(avg(p), 6) AS mean_pred,
         | round(avg(y), 6) AS frac_pos
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "calibration_summary" ->
      s"""WITH t AS ($labeledSql),
         | mx AS (SELECT max(score)::DOUBLE AS m FROM t),
         | sc AS (SELECT score / m AS p, y::DOUBLE AS yd FROM t, mx),
         | b AS (SELECT least(9, floor(p * 10))::INT AS bin, p, yd FROM sc),
         | bins AS (SELECT bin, count(*)::BIGINT AS n, avg(p) AS mp,
         |     avg(yd) AS fp FROM b GROUP BY bin),
         | e AS (SELECT sum(n * abs(mp - fp)) / sum(n) AS ece FROM bins),
         | br AS (SELECT count(*)::BIGINT AS n,
         |     avg(pow(p - yd, 2)) AS brier FROM sc)
         |SELECT n, round(brier, 6) AS brier, round(ece, 6) AS ece
         |FROM br, e""".stripMargin,

    "isotonic_calibration" ->
      s"""WITH t AS ($labeledSql),
         | mx AS (SELECT max(score)::DOUBLE AS m FROM t),
         | b AS (SELECT least(19, floor(score / m * 20))::INT AS bin,
         |     score / m AS p, y FROM t, mx),
         | bb AS (SELECT bin, count(*)::BIGINT AS n, avg(p) AS mean_pred,
         |     sum(y)::BIGINT AS sy FROM b GROUP BY bin),
         | cum AS (SELECT x.bin, x.n, x.sy, x.mean_pred,
         |     sum(y.n)::BIGINT AS cn, sum(y.sy)::BIGINT AS cs
         |   FROM bb x JOIN bb y ON y.bin <= x.bin
         |   GROUP BY x.bin, x.n, x.sy, x.mean_pred),
         | pts AS (SELECT bin, cn, cs, cn - n AS pcn, cs - sy AS pcs FROM cum),
         | pairs AS (SELECT i.bin AS i, j.bin AS j,
         |     (j.cs - i.pcs)::DOUBLE / (j.cn - i.pcn) AS pool
         |   FROM pts i JOIN pts j ON i.bin <= j.bin),
         | iso AS (SELECT b2, max(mn) AS iso_fit FROM (
         |     SELECT bb.bin AS b2, p.i, min(p.pool) AS mn
         |     FROM bb JOIN pairs p ON p.i <= bb.bin AND p.j >= bb.bin
         |     GROUP BY bb.bin, p.i) GROUP BY b2)
         |SELECT bb.bin, bb.n, round(bb.mean_pred, 6) AS mean_pred,
         |  round(bb.sy::DOUBLE / bb.n, 6) AS frac_pos,
         |  round(iso.iso_fit, 6) AS iso_fit
         |FROM bb JOIN iso ON bb.bin = iso.b2 ORDER BY bb.bin""".stripMargin,

    "gains_deciles" ->
      """WITH t AS (SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
        |   round(o_totalprice / 1000.0, 0) AS score, o_orderkey AS ok FROM orders),
        | r AS (SELECT y, CAST(ntile(10) OVER (ORDER BY score DESC, ok) AS BIGINT)
        |     AS decile FROM t),
        | per AS (SELECT decile, count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos
        |   FROM r GROUP BY decile),
        | tot AS (SELECT sum(n_pos)::BIGINT AS tp FROM per),
        | cum AS (SELECT a.decile, a.n, a.n_pos, sum(b.n_pos)::BIGINT AS cum_pos
        |   FROM per a JOIN per b ON b.decile <= a.decile
        |   GROUP BY a.decile, a.n, a.n_pos)
        |SELECT decile, n, n_pos, cum_pos,
        | round(cum_pos::DOUBLE / tp, 6) AS cum_capture
        |FROM cum, tot ORDER BY decile""".stripMargin,

    "auroc_rank" ->
      s"""WITH t AS ($labeledSql),
         |g AS (SELECT score AS s, count(*) AS c, sum(y) AS pos FROM t GROUP BY 1),
         |r AS (SELECT s, pos, c,
         |  sum(c) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) - c + (c + 1) / 2.0 AS avgrank
         |  FROM g),
         |agg AS (SELECT sum(pos * avgrank) AS sr, sum(pos) AS np, sum(c) AS n FROM r)
         |SELECT round((sr - np * (np + 1) / 2.0) / (np * CAST(n - np AS DOUBLE)), 6) AS auroc
         |FROM agg""".stripMargin,

    "f2_best_threshold" ->
      s"""WITH t AS ($labeledSql),
         |g AS (SELECT score AS s, count(*) AS c, sum(y) AS pos FROM t GROUP BY 1),
         |tot AS (SELECT sum(pos) AS npos FROM g),
         |cum AS (SELECT s,
         |  sum(pos) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS tp,
         |  sum(c) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cnt FROM g),
         |f AS (SELECT s AS thresh,
         |  tp / CAST(cnt AS DOUBLE) AS p, tp / CAST(npos AS DOUBLE) AS r FROM cum, tot),
         |fb AS (SELECT thresh, p, r,
         |  CASE WHEN p + r > 0 THEN 5.0 * p * r / (4.0 * p + r) ELSE 0 END AS fbeta FROM f)
         |SELECT thresh, round(p, 6) AS prec, round(r, 6) AS rec, round(fbeta, 6) AS f2
         |FROM fb ORDER BY fbeta DESC, thresh ASC LIMIT 1""".stripMargin,

    "psi_drift" ->
      """WITH stats AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |b AS (SELECT least(greatest(floor((o_totalprice - mn) / ((mx - mn) / 10)), 0), 9)::BIGINT AS bucket
        |  FROM orders, stats WHERE o_orderkey % 2 = 0),
        |c AS (SELECT least(greatest(floor((o_totalprice - mn) / ((mx - mn) / 10)), 0), 9)::BIGINT AS bucket
        |  FROM orders, stats WHERE o_orderkey % 2 = 1),
        |bp AS (SELECT bucket, count(*) / CAST((SELECT count(*) FROM b) AS DOUBLE) AS p FROM b GROUP BY 1),
        |cq AS (SELECT bucket, count(*) / CAST((SELECT count(*) FROM c) AS DOUBLE) AS q FROM c GROUP BY 1)
        |SELECT bp.bucket, round(p, 6) AS p, round(q, 6) AS q,
        |  round((p - q) * ln(p / q) * 100, 6) AS si
        |FROM bp JOIN cq USING (bucket) ORDER BY bucket""".stripMargin,

    "psi_exact" ->
      """WITH base AS (SELECT CAST(o_totalprice AS DOUBLE) AS v
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |cur AS (SELECT CAST(o_totalprice AS DOUBLE) AS v
        |  FROM orders WHERE o_orderkey % 2 = 1),
        |n AS (SELECT count(*) AS cnt FROM base),
        |rk AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM base),
        |tr AS (SELECT DISTINCT greatest(1,
        |    CAST(ceil(i * CAST(0.1 AS DOUBLE) * cnt) AS BIGINT)) AS r
        |  FROM generate_series(1, 9) AS t(i), n),
        |sp AS (SELECT DISTINCT v AS s FROM rk JOIN tr ON rk.rn = tr.r),
        |bb AS (SELECT (SELECT count(*) FROM sp WHERE s <= base.v) AS bucket,
        |    count(*) AS nb FROM base GROUP BY 1),
        |cc AS (SELECT (SELECT count(*) FROM sp WHERE s <= cur.v) AS bucket,
        |    count(*) AS nc FROM cur GROUP BY 1),
        |j AS (SELECT bb.bucket, nb, nc FROM bb JOIN cc USING (bucket)),
        |t2 AS (SELECT sum(nb)::DOUBLE AS tb, sum(nc)::DOUBLE AS tc FROM j)
        |SELECT bucket, round(nb / tb, 6) AS p, round(nc / tc, 6) AS q,
        |  round((nb / tb - nc / tc) * ln((nb / tb) / (nc / tc)) * 100, 6) AS si
        |FROM j, t2 ORDER BY bucket""".stripMargin,

    "vsi_drift" ->
      """WITH base AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
        |cur AS (SELECT * FROM orders WHERE o_orderkey % 2 = 1),
        |f AS (
        |  SELECT 'o_orderstatus' AS variable, b.p, c.q FROM
        |    (SELECT o_orderstatus AS v, count(*) / CAST((SELECT count(*) FROM base) AS DOUBLE) AS p
        |     FROM base GROUP BY 1) b
        |    JOIN (SELECT o_orderstatus AS v, count(*) / CAST((SELECT count(*) FROM cur) AS DOUBLE) AS q
        |     FROM cur GROUP BY 1) c USING (v)
        |  UNION ALL
        |  SELECT 'o_orderpriority', b.p, c.q FROM
        |    (SELECT o_orderpriority AS v, count(*) / CAST((SELECT count(*) FROM base) AS DOUBLE) AS p
        |     FROM base GROUP BY 1) b
        |    JOIN (SELECT o_orderpriority AS v, count(*) / CAST((SELECT count(*) FROM cur) AS DOUBLE) AS q
        |     FROM cur GROUP BY 1) c USING (v))
        |SELECT variable, round(sum((p - q) * ln(p / q) * 100), 6) AS vsi
        |FROM f GROUP BY 1 ORDER BY variable""".stripMargin,

    "value_drift" ->
      """WITH b AS (SELECT DISTINCT o_orderpriority AS v FROM orders WHERE o_orderkey % 2 = 0),
        |c AS (SELECT DISTINCT o_orderpriority AS v FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT * FROM (
        |  SELECT v AS value, 'missing_in_current' AS status FROM b
        |  WHERE v NOT IN (SELECT v FROM c)
        |  UNION ALL
        |  SELECT v, 'new_in_current' FROM c WHERE v NOT IN (SELECT v FROM b))
        |ORDER BY value, status""".stripMargin,

    "hotlead_sim" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu, event_id, value, event_type
        |  FROM events),
        |p AS (SELECT user_id,
        |  least(row_number() OVER (PARTITION BY user_id ORDER BY tsu, event_id), 5) AS page,
        |  value / 500.0 AS prob,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS resp FROM e),
        |tot AS (SELECT count(DISTINCT user_id) AS tv,
        |  count(DISTINCT CASE WHEN resp = 1 THEN user_id END) AS tpos FROM p),
        |vis AS (SELECT user_id, min(page) AS hotlead_page, max(resp) AS converted
        |  FROM p WHERE prob >= 0.6 GROUP BY 1),
        |pp AS (SELECT hotlead_page AS page, count(*)::BIGINT AS hotleads,
        |  sum(converted)::BIGINT AS captured FROM vis GROUP BY 1)
        |SELECT page, hotleads, captured,
        |  round(hotleads / CAST(tv AS DOUBLE), 6) AS hotlead_rate,
        |  round(captured / CAST(tpos AS DOUBLE), 6) AS capture_rate
        |FROM pp, tot ORDER BY page""".stripMargin,

    "label_freq" ->
      """SELECT lang, count(*) AS n FROM documents GROUP BY 1
        |ORDER BY n DESC, lang""".stripMargin)
}
