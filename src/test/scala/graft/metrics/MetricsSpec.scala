package graft.metrics

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MetricsSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs of one binary dataset's evaluation, as measured on
    * local[4]. */
  private val JobBound = 15

  behavior of "StandardMetrics"

  private val preds = Seq(
    ("a", "a"), ("a", "a"), ("a", "b"),
    ("b", "b"), ("b", "a"), ("c", "c")).toDF("label", "pred")

  it should "compute the confusion matrix" in {
    val m = StandardMetrics.confusion(preds, "label", "pred")
      .as[(String, String, Long)].collect().toSet
    m should contain allOf (("a", "a", 2L), ("a", "b", 1L), ("b", "b", 1L),
      ("b", "a", 1L), ("c", "c", 1L))
  }

  it should "compute per-label precision/recall/F1 with hand values" in {
    val rows = StandardMetrics.perLabel(preds, "label", "pred")
      .orderBy("class").collect()
    val a = rows(0) // tp=2 support=3 predTotal=3
    a.getAs[Double]("precision") shouldBe 2.0 / 3 +- 1e-9
    a.getAs[Double]("recall") shouldBe 2.0 / 3 +- 1e-9
    a.getAs[Double]("f1") shouldBe 2.0 / 3 +- 1e-9
    val c = rows(2) // tp=1 support=1 predTotal=1
    c.getAs[Double]("f1") shouldBe 1.0 +- 1e-9
  }

  it should "compute accuracy and weighted summaries" in {
    val r = StandardMetrics.weightedSummary(preds, "label", "pred").head()
    r.getAs[Double]("accuracy") shouldBe 4.0 / 6 +- 1e-9
  }

  it should "compute AUROC by rank-sum with average-rank tie handling" in {
    val df = Seq((0.9, 1), (0.8, 0), (0.7, 1), (0.6, 0)).toDF("s", "y")
    StandardMetrics.auroc(df, "y", "s").head().getDouble(0) shouldBe 0.75 +- 1e-9
    // all-ties → 0.5 exactly (average ranks)
    val ties = Seq((0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0)).toDF("s", "y")
    StandardMetrics.auroc(ties, "y", "s").head().getDouble(0) shouldBe 0.5 +- 1e-9
    // perfect separation → 1.0
    val sep = Seq((0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)).toDF("s", "y")
    StandardMetrics.auroc(sep, "y", "s").head().getDouble(0) shouldBe 1.0 +- 1e-9
  }

  it should "find the best F-beta threshold" in {
    val df = Seq((0.9, 1), (0.8, 1), (0.7, 0), (0.6, 1), (0.5, 0))
      .toDF("s", "y")
    val best = StandardMetrics.bestThreshold(df, "y", "s", beta = 1.0).head()
    // t=0.6: P=3/4 R=1 F1=6/7 beats t=0.8 (P=1 R=2/3 F1=0.8) and t=0.9
    best.getAs[Double]("thresh") shouldBe 0.6
    best.getAs[Double]("fbeta") shouldBe 6.0 / 7 +- 1e-9
  }

  /** A binary scorer's frame: many distinct scores with heavy ties, over
    * more rows than partitions, with a label/prediction pair per row. */
  private def binaryScored = (1 to 2000).map { i =>
    val y = if (i % 3 == 0 || i % 7 == 0) 1 else 0
    val score = (i * 7919 % 101) / 100.0
    (y, score, y.toDouble, if (score >= 0.5) 1.0 else 0.0)
  }.toDF("y", "score", "label", "pred").repartition(8)

  /** The curve's best row by the definition: highest F_β, lower threshold
    * on a tie. */
  private def bestByOrder(df: org.apache.spark.sql.DataFrame, beta: Double) =
    StandardMetrics.fMeasureByThreshold(df, "y", "score", beta)
      .orderBy(desc("fbeta"), asc("thresh")).head()

  it should "give the one-pass binary summary exactly the separate metrics' values" in {
    val df = binaryScored
    val s = StandardMetrics.binarySummary(df, "y", "score", 2.0)
    s.auroc shouldBe StandardMetrics.auroc(df, "y", "score").head().getDouble(0)
    // the definition on the driver: P(score₊ > score₋) + P(tie)/2 over all
    // positive-negative pairs
    val ys = df.select("y", "score").as[(Int, Double)].collect()
    val (pos, neg) = ys.partition(_._1 == 1)
    val wins = pos.map { case (_, p) =>
      neg.map { case (_, q) => if (p > q) 1.0 else if (p == q) 0.5 else 0.0 }.sum
    }.sum
    s.auroc shouldBe wins / (pos.length.toDouble * neg.length) +- 1e-12
    val best = StandardMetrics.bestThreshold(df, "y", "score", 2.0).head()
    Seq(s.thresh, s.precision, s.recall, s.fbeta) shouldBe
      Seq("thresh", "precision", "recall", "fbeta").map(c => best.getAs[Double](c))
    best shouldBe bestByOrder(df, 2.0)
    val counts = StandardMetrics.confusionCounts(df, "label", "pred")
    counts.weighted shouldBe
      StandardMetrics.weightedSummary(df, "label", "pred").head()
  }

  it should "derive the descending threshold counts exactly from the ascending pass" in {
    import org.apache.spark.sql.expressions.Window
    val df = binaryScored
    // the definition: inclusive running sums in descending score order
    val w = Window.orderBy(desc("s")).rowsBetween(Window.unboundedPreceding, 0)
    val npos = df.agg(sum(col("y").cast("double"))).head().getDouble(0)
    val want = df.groupBy(col("score").as("s"))
      .agg(count(lit(1)).as("c"), sum(col("y").cast("double")).as("pos"))
      .withColumn("tp", sum("pos").over(w))
      .withColumn("cnt", sum("c").over(w).cast("double"))
      .select(col("s").as("thresh"), (col("tp") / col("cnt")).as("precision"),
        (col("tp") / lit(npos)).as("recall"))
    val got = StandardMetrics.fMeasureByThreshold(df, "y", "score", 2.0)
      .select("thresh", "precision", "recall")
    got.collect().toSet shouldBe want.collect().toSet
  }

  it should "break an F-beta tie toward the lower threshold in every path" in {
    // beta = 1: t=0.9 gives P=1 R=1/2 and t=0.6 gives P=1/2 R=1, both
    // F1 = 1/1.5 to the bit
    val df = Seq((0.9, 1), (0.8, 0), (0.7, 0), (0.6, 1), (0.5, 0)).toDF("score", "y")
    val curve = StandardMetrics.fMeasureByThreshold(df, "y", "score", 1.0)
      .collect().map(r => r.getDouble(0) -> r.getDouble(3)).toMap
    curve(0.9) shouldBe curve(0.6)
    val s = StandardMetrics.binarySummary(df, "y", "score", 1.0)
    s.thresh shouldBe 0.6
    s.fbeta shouldBe 1.0 / 1.5
    val best = StandardMetrics.bestThreshold(df, "y", "score", 1.0).head()
    best.getAs[Double]("thresh") shouldBe 0.6
    best shouldBe bestByOrder(df, 1.0)
  }

  it should "compute the multiclass label statistics once from the collected counts" in {
    // a predicted-only class ("d") counts toward false positives only
    val df = preds.union(Seq(("c", "d"), ("b", "c")).toDF("label", "pred"))
    val counts = StandardMetrics.confusionCounts(df, "label", "pred")
    counts.rows shouldBe Seq(("a", "a", 2L), ("a", "b", 1L), ("b", "a", 1L),
      ("b", "b", 1L), ("b", "c", 1L), ("c", "c", 1L), ("c", "d", 1L))
    // per label (support, tp, predTotal): a (3, 2, 3), b (3, 1, 2), c (2, 1, 2)
    val byLabel = counts.byLabel.map(s => (s.label, s.support, s.tp, s.predTotal))
    byLabel shouldBe Seq(("a", 3L, 2L, 3L), ("b", 3L, 1L, 2L), ("c", 2L, 1L, 2L))
    val plan = StandardMetrics.perLabel(df, "label", "pred").collect()
    plan.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq shouldBe byLabel
    // F1: a 2/3, b 2·(1/2)(1/3)/(5/6) = 2/5, c 1/2
    plan.map(_.getDouble(6)).toSeq.zip(Seq(2.0 / 3, 0.4, 0.5))
      .foreach { case (got, want) => got shouldBe want +- 1e-12 }
    // support-weighted over 8 rows: P (3·2/3 + 3·1/2 + 2·1/2)/8,
    // R (2 + 1 + 1)/8, F1 (3·2/3 + 3·2/5 + 2·1/2)/8
    val w = counts.weighted
    w.getDouble(0) shouldBe 4.0 / 8
    w.getDouble(1) shouldBe 4.5 / 8 +- 1e-12
    w.getDouble(2) shouldBe 4.0 / 8 +- 1e-12
    w.getDouble(3) shouldBe 4.2 / 8 +- 1e-12
    StandardMetrics.weightedSummary(df, "label", "pred").head() shouldBe w
    StandardMetrics.confusionText(df, "label", "pred") shouldBe Seq(
      "Intent\t\tTrue Positive\t\tFalse Positive\t\tPrecision\t\tRecall",
      "a\t\t2\t\t1\t\t0.6667\t\t0.6667",
      "b\t\t1\t\t1\t\t0.5000\t\t0.3333",
      "c\t\t1\t\t1\t\t0.5000\t\t0.5000")
  }

  it should "leave no cache entry behind on any call" in {
    val sc = spark.sparkContext
    val df = binaryScored
    // ids, not sizes: the context cleaner may drop older entries meanwhile
    def added(call: => Any): Set[Int] = {
      val before = sc.getPersistentRDDs.keySet
      call
      (sc.getPersistentRDDs.keySet -- before).toSet
    }
    added(StandardMetrics.auroc(df, "y", "score").collect()) shouldBe empty
    added(StandardMetrics.bestThreshold(df, "y", "score", 2.0).collect()) shouldBe empty
    added(StandardMetrics.binarySummary(df, "y", "score", 2.0)) shouldBe empty
    added(StandardMetrics.perLabel(df, "label", "pred").collect()) shouldBe empty
    added(StandardMetrics.weightedSummary(df, "label", "pred").collect()) shouldBe empty
    added(StandardMetrics.confusionText(df, "label", "pred")) shouldBe empty
    added(StandardMetrics.confusionCounts(df, "label", "pred")) shouldBe empty
    // the curve is returned materialized: its own checkpoint is the one
    // entry, the sort behind it is released
    added(StandardMetrics.fMeasureByThreshold(df, "y", "score", 2.0).collect()) should have size 1
  }

  it should "bound the jobs one binary dataset's evaluation starts" in {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    def marker(g: String): Unit = {
      sc.setJobGroup(g, g)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    }
    val df = binaryScored
    sc.addSparkListener(l)
    try {
      marker("metrics-bound-start")
      // what PipelineRunner's evaluation does per binary dataset
      val proj = df.select(col("label"), col("pred"), col("y"), col("score")).cache()
      StandardMetrics.binarySummary(proj, "y", "score", 2.0)
      StandardMetrics.confusionCounts(proj, "label", "pred").text
      proj.unpersist()
      marker("metrics-bound-end")
      // the bus delivers in order: once the end marker is seen, every job
      // between the markers has been counted
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains("metrics-bound-end") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      import scala.jdk.CollectionConverters._
      val seq = groups.asScala.toSeq
      val jobs = seq.indexOf("metrics-bound-end") - seq.indexOf("metrics-bound-start") - 1
      info(s"$jobs jobs")
      jobs should be > 0
      jobs should be <= JobBound
    } finally sc.removeSparkListener(l)
  }

  behavior of "ModelHealth"

  it should "yield zero PSI for identical distributions" in {
    val df = (1 to 100).map(_.toDouble).toDF("x")
    val psi = ModelHealth.psiTotal(
      ModelHealth.psiEquidistant(df, df, "x", 10)).head().getDouble(0)
    psi shouldBe 0.0 +- 1e-12
  }

  it should "detect a shifted distribution with positive PSI" in {
    val base = (1 to 100).map(_.toDouble).toDF("x")
    val cur = (41 to 140).map(_.toDouble).toDF("x")
    val psi = ModelHealth.psiTotal(
      ModelHealth.psiEquidistant(base, cur, "x", 10)).head().getDouble(0)
    psi should be > 10.0
  }

  it should "spread quantile-PSI base mass near-uniformly across buckets" in {
    // regression for a largest-split-first when() chain that collapsed
    // every bucket below the top split into one: on 1..100 with k=10
    // deciles, each base bucket must carry ~10% of the mass
    val base = (1 to 100).map(_.toDouble).toDF("x")
    val cur = (1 to 100).map(_.toDouble).toDF("x")
    val rows = ModelHealth.psiQuantile(base, cur, "x", 10)
      .collect()
    rows.length shouldBe 10
    rows.foreach { r =>
      r.getAs[Double]("p") shouldBe 0.1 +- 0.02
      r.getAs[Double]("q") shouldBe 0.1 +- 0.02
    }
    val psi = ModelHealth.psiTotal(
      ModelHealth.psiQuantile(base, cur, "x", 10)).head().getDouble(0)
    psi shouldBe 0.0 +- 1e-12
  }

  it should "reproduce the exact-quantile PSI against a driver-side replay" in {
    // psiExact's distributed rank selection vs an in-memory replay of the
    // same rule (element at rank ceil(i·(1/k)·n), bucket = #splits ≤ x,
    // shares over the joined buckets)
    val baseVals = (1 to 97).map(i => (i * 37 % 101).toDouble)
    val curVals = (1 to 151).map(i => (i * 53 % 97).toDouble)
    val base = baseVals.toDF("x")
    val cur = curVals.toDF("x")
    val k = 10
    val n = baseVals.size
    val sorted = baseVals.sorted
    val splits = (1 until k)
      .map(i => sorted(math.max(0, math.ceil(i * (1.0 / k) * n).toInt - 1)))
      .distinct.sorted
    def bucket(x: Double) = splits.count(_ <= x)
    val bb = baseVals.groupBy(bucket).view.mapValues(_.size).toMap
    val cc = curVals.groupBy(bucket).view.mapValues(_.size).toMap
    val common = bb.keySet intersect cc.keySet
    val tb = common.toSeq.map(bb).sum.toDouble
    val tc = common.toSeq.map(cc).sum.toDouble
    val expect = common.toSeq.map { b =>
      val p = bb(b) / tb; val q = cc(b) / tc
      (p - q) * math.log(p / q) * 100
    }.sum
    val actual = ModelHealth.psiTotal(
      ModelHealth.psiExact(base, cur, "x", k)).head().getDouble(0)
    actual shouldBe expect +- 1e-9
  }

  it should "compute VSI with hand values" in {
    val base = Seq("a", "a", "b", "b").toDF("v")
    val cur = Seq("a", "a", "a", "b").toDF("v")
    val vsi = ModelHealth.vsi(base, cur, "v").head().getAs[Double]("vsi")
    val expect = (0.5 - 0.75) * math.log(0.5 / 0.75) * 100 +
      (0.5 - 0.25) * math.log(0.5 / 0.25) * 100
    vsi shouldBe expect +- 1e-9
  }

  it should "report value drift as set differences" in {
    val base = Seq("a", "b", "gone").toDF("v")
    val cur = Seq("a", "b", "new").toDF("v")
    val drift = ModelHealth.valueDrift(base, cur, "v")
      .as[(String, String)].collect().toSet
    drift shouldBe Set(("gone", "missing_in_current"), ("new", "new_in_current"))
  }

  behavior of "WebCustomMetrics"

  it should "simulate hotleads with first-page attribution and page accumulation" in {
    // visitor 1 fires on page 2 (first clearing 0.7) and converts;
    // visitor 2 fires on page 7 → accumulated into page 5; no conversion;
    // visitor 3 never fires
    val df = Seq(
      (1L, 1L, 0.3, 0), (1L, 2L, 0.8, 0), (1L, 3L, 0.9, 1),
      (2L, 7L, 0.75, 0),
      (3L, 1L, 0.2, 1)).toDF("vis", "pg", "prob", "resp")
    val out = WebCustomMetrics.simulate(df, "vis", "pg", "prob", "resp",
        nPages = 5, default = 0.7)
      .as[(Long, Long, Long, Double, Double)].collect()
      .map { case (p, h, c, hr, cr) => (p, (h, c, hr, cr)) }.toMap
    out(2L) shouldBe ((1L, 1L, 1.0 / 3, 1.0 / 2)) // visitor 1
    out(5L) shouldBe ((1L, 0L, 1.0 / 3, 0.0))     // visitor 2, page 7 → 5
    out.keySet shouldBe Set(2L, 5L)
  }

  it should "gate hotleads on both probability and time-on-page thresholds" in {
    import org.apache.spark.ml.linalg.Vectors
    val df = Seq(
      (Vectors.dense(0.2, 0.8), 1L, 50.0),  // prob ok, TOP ok
      (Vectors.dense(0.2, 0.8), 1L, 5.0),   // prob ok, TOP too low
      (Vectors.dense(0.9, 0.1), 1L, 50.0),  // prob too low
      (Vectors.dense(0.2, 0.8), 2L, 5.0))   // page 2: no TOP threshold set
    .toDF("probability", "pg", "top")
    val out = new graft.publish.HotleadTransformer()
      .setPageCol("pg").setDefaultThreshold(0.5)
      .setTopCol("top").setTopThresholds(Map(1 -> 10.0))
      .transform(df)
      .select("isHotLead").as[Int].collect().toSeq
    out shouldBe Seq(1, 0, 0, 1)
  }
}
