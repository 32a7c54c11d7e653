package graft

import graft.config._
import graft.features.VectorizationEngine
import graft.io.{Savepoints, SourceReader}
import graft.metrics.StandardMetrics
import graft.sampling.TrainTestSampler
import graft.text.PreprocessingEngine
import graft.train.ModelTrainingEngine
import graft.train.ModelTrainingEngine.FittedChain
import org.apache.spark.internal.Logging
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The pipeline orchestrator — the engine's `PipelineSteps.run()`
  * (ref: core/PipelineSteps.scala:35-296): config snapshot → validation →
  * read (+SQL views, filter, derived columns) → train/test sampling → page
  * split → per-page preprocessing/feature-gen/vectorization pipeline →
  * model chain fit → scoring (+post-predict filter) → metrics → savepoints.
  *
  * Scale behavior carried over from the reference, Spark-first:
  *  - column pruning BEFORE every cache/savepoint (Catalyst cannot prune
  *    through a cache barrier — PipelineSteps.scala:163-177);
  *  - savepoints are parquet per (step, page, dataset) so any step can
  *    restart as its own job;
  *  - per-page models are independent → pages parallelize trivially on a
  *    cluster (driver-side loop, executor-side fits);
  *  - caching: the vectorized train set is persisted for the (possibly
  *    iterative) fit, unpersisted right after (PipelineSteps.scala:138-158);
  *  - metrics: per dataset, one cached projection feeds one ranked pass
  *    (AUROC + best F2) and one confusion count collected to the driver
  *    (O(labels²) rows) that gives the weighted metrics and, for the test
  *    split, the confusion text; the projection and the sort are
  *    released before the next dataset.
  */
object PipelineRunner extends Logging {

  final case class PageResult(
      page: Int,
      prep: PipelineModel,
      chain: FittedChain,
      scored: Map[String, DataFrame])

  final case class RunResult(
      metrics: Map[String, Double],
      pages: Seq[PageResult],
      savepoints: Savepoints,
      input: DataFrame) {
    /** Page-level union per dataset (ref: MetricsEvaluator.scala:49-72). */
    def scoredUnion(dataset: String): DataFrame =
      pages.flatMap(_.scored.get(dataset)).reduce(_ unionByName _)
  }

  private val datasetNames = Seq("train", "test", "validate")

  /** @param savepointing write parquet savepoints per step
    * @param resume       load the input step from its savepoint when
    *                     present instead of re-reading the source — the
    *                     reference's compute-or-load-per-step contract
    *                     (ref: PipelineSteps.scala:56-78) */
  def run(spark: SparkSession, conf: GraftConf,
          savepointing: Boolean = false, resume: Boolean = false): RunResult = {
    val sp = new Savepoints(conf.project)
    ConfigValidator.validateOrThrow(conf)
    if (savepointing) sp.saveConfigSnapshot(conf.toString)

    // 1. read: source → SQL view chain → filter → derived columns —
    // or load the savepointed result of a previous run
    val input =
      if (resume && sp.exists("input", 0, "all")) {
        logInfo("resuming: input loaded from savepoint")
        sp.load(spark, "input", 0, "all")
      } else {
        val df = SourceReader.read(spark, conf.data, conf.columns)
        if (savepointing) sp.save(df, "input", 0, "all")
        df
      }

    // 2. sampling
    val splits = TrainTestSampler.sample(
      input, conf.sampling, conf.columns.response, conf.columns.primaryKey)
    val named = splits.zip(datasetNames).map(_.swap)

    // 3. page split — page k model trains on `page == k` rows, the last
    // page accumulates `>=` (ref: PipelineSteps.scala:298-327)
    val numPages = conf.numPages.max(1)
    val perPage: Seq[(Int, Seq[(String, DataFrame)])] =
      (1 to numPages).map { k =>
        k -> named.map { case (name, df) =>
          name -> (conf.columns.page match {
            case Some(pg) if numPages > 1 =>
              if (k == numPages) df.filter(col(pg) >= k) else df.filter(col(pg) === k)
            case _ => df
          })
        }
      }

    // columns the scored output keeps (prune before cache/savepoint)
    val keepCols = (conf.columns.primaryKey ++ conf.columns.page.toSeq :+
      conf.columns.response).distinct

    val pageResults = perPage.map { case (k, datasets) =>
      val train = datasets.head._2
      // 4. preprocessing + feature gen + vectorization, fit on train;
      // every tokenizer output becomes its own text vector (the reference's
      // per-column text vectorization steps)
      val tokenCols = conf.preprocessing.zipWithIndex.collect {
        case (p, i) if p.op == "tokenizer" =>
          p.outputColumn.getOrElse(s"${p.inputColumn}_c$i")
      }
      val preStages = PreprocessingEngine.buildStages(conf.preprocessing)
      // per-page binning scope: page k's list overrides the shared one
      // (ref: featuregeneration scope "perPage")
      val fg = conf.featureGeneration
      val fgPage =
        if (fg.binningPerPage.nonEmpty)
          fg.copy(binning = fg.binningPerPage.lift(k - 1).getOrElse(Nil))
        else fg
      val vecStages = VectorizationEngine.buildStages(
        train, conf.columns, fgPage, conf.vectorization,
        tokenCols, conf.training.uplift)
      val prep = new Pipeline().setStages((preStages ++ vecStages).toArray).fit(train)

      val vectorized = datasets.map { case (name, df) =>
        name -> prep.transform(df)
          .select((keepCols :+ "features").distinct.map(col): _*)
      }
      val trainVec = vectorized.head._2.persist()
      val (chain, scored) = try {
        // 5. model chain
        val chain = ModelTrainingEngine.fit(
          trainVec, conf.training, conf.tuning, conf.columns.response)

        // 6. scoring + post-predict filter (ref: core/Predict.scala:43-107)
        (chain, vectorized.map { case (name, df) =>
          val out = chain.transform(df)
          val filtered = conf.postPredictFilter.map(out.filter).getOrElse(out)
          if (savepointing) sp.save(filtered.drop("features"), "scored", k, name)
          name -> filtered
        }.toMap)
      } finally trainVec.unpersist()
      logInfo(s"page $k: trained ${conf.training.algorithm} " +
        s"(${conf.training.buildType}), scored ${scored.keys.mkString(",")}")
      PageResult(k, prep, chain, scored)
    }

    // 7. metrics (ref: PipelineSteps.scala:247-272)
    val (metrics, counts) = evaluate(conf, pageResults)
    if (savepointing) {
      sp.saveMetrics(metrics)
      // per-page confusion-matrix text, from the test split when present
      // (ref: StandardMetricsEvaluator.scala:222-229) — the counts the
      // metrics already collected, so no job runs here
      pageResults.foreach { pr =>
        val ds = if (pr.scored.contains("test")) "test" else pr.scored.head._1
        sp.saveConfusionText(counts((pr.page, ds)).text, pr.page)
      }
    }
    RunResult(metrics, pageResults, sp, input)
  }

  /** Monitoring mode — the reference's 4th entry point
    * (`experiment.type = monitoring`, ref: DirectoryCreator.scala:29-37 +
    * ModelHealthMetricsEvaluator): no training, just drift between a base
    * and a current snapshot. PSI per numerical column (equidistant buckets
    * from the base), VSI per categorical column. Returns the metrics map
    * and savepoints it like a training run. */
  def monitor(spark: SparkSession, conf: GraftConf,
              base: org.apache.spark.sql.DataFrame,
              current: org.apache.spark.sql.DataFrame,
              buckets: Int = 10,
              savepointing: Boolean = false): Map[String, Double] = {
    val m = Map.newBuilder[String, Double]
    conf.columns.numerical.foreach { c =>
      val psi = graft.metrics.ModelHealth.psiTotal(
        graft.metrics.ModelHealth.psiEquidistant(base, current, c, buckets))
        .head().getDouble(0)
      m += s"psi_$c" -> psi
    }
    conf.columns.categorical.foreach { c =>
      val vsi = graft.metrics.ModelHealth.vsi(base, current, c)
        .head().getAs[Double]("vsi")
      m += s"vsi_$c" -> vsi
    }
    val out = m.result()
    if (savepointing) new Savepoints(conf.project).saveMetrics(out, "monitoring")
    out
  }

  /** Positive-class score column: calibrated probability when present,
    * raw margin otherwise (rank metrics are invariant to the sigmoid).
    * Uplift runs carry the BASE model's probability as `modelProbability`
    * (the uplift Δ replaces `probability`); standard metrics evaluate the
    * base model exactly like the reference
    * (StandardMetricsEvaluator.scala:66-76 switches on isUplift). */
  private def scoreCol(df: DataFrame) =
    element_at(vector_to_array(col(
      if (df.columns.contains("modelProbability")) "modelProbability"
      else if (df.columns.contains("probability")) "probability"
      else "rawPrediction")), 2)

  /** Predicted-class column, by the same base-model rule as [[scoreCol]]:
    * uplift frames carry the base model's prediction as `modelPrediction`. */
  private def predCol(df: DataFrame): String =
    if (df.columns.contains("modelPrediction")) "modelPrediction" else "prediction"

  /** Publish the combined serving pipeline of every page to the project's
    * savepoint tree (`publish/page<k>/pipeline`) — the artifact
    * [[predict]] loads. Returns the per-page paths. */
  def publish(conf: GraftConf, result: RunResult,
              hotlead: Option[graft.publish.HotleadTransformer] = None): Seq[String] =
    result.pages.map { pr =>
      // the combined pipeline starts from RAW input — schema-propagate from
      // the run's input, not the scored output (which is pruned to
      // keepCols + features and no longer has the preprocessing columns)
      val model = graft.publish.Publish.combined(pr.prep, pr.chain, result.input, hotlead)
      val path = result.savepoints.publishPath(pr.page)
      graft.publish.Publish.save(model, path)
      path
    }

  /** Predict-only mode — the reference's `experiment.type = predict` (user
    * guide "Running a predict job on new dataset"): no training; load the
    * PUBLISHED pipeline per page, score the config's (new) data source,
    * apply the post-predict filter, savepoint, and report the standard
    * metrics against the new data's labels. */
  def predict(spark: SparkSession, conf: GraftConf,
              savepointing: Boolean = false): Map[String, Double] = {
    val sp = new Savepoints(conf.project)
    val input = SourceReader.read(spark, conf.data, conf.columns)
    val numPages = conf.numPages.max(1)
    val scored = (1 to numPages).map { k =>
      val df = conf.columns.page match {
        case Some(pg) if numPages > 1 =>
          if (k == numPages) input.filter(col(pg) >= k) else input.filter(col(pg) === k)
        case _ => input
      }
      val model = PipelineModel.load(sp.publishPath(k))
      val out = model.transform(df)
      val filtered = conf.postPredictFilter.map(out.filter).getOrElse(out)
      if (savepointing) sp.save(filtered.drop("features"), "predictions", k, "predict")
      k -> filtered
    }
    val m = Map.newBuilder[String, Double]
    scored.foreach { case (k, df) =>
      val suffix = if (numPages > 1) s"_page$k" else ""
      evaluateOne(conf, "predict", suffix, df, m)
    }
    val out = m.result()
    if (savepointing) sp.saveMetrics(out, "predict_metrics")
    out
  }

  /** Every page's and dataset's metrics, plus the confusion counts they
    * were computed from, keyed by (page, dataset). */
  private def evaluate(conf: GraftConf, pages: Seq[PageResult])
      : (Map[String, Double], Map[(Int, String), StandardMetrics.ConfusionCounts]) = {
    val m = Map.newBuilder[String, Double]
    val counts = for {
      pr <- pages
      (name, df) <- pr.scored
    } yield {
      val suffix = if (pages.length > 1) s"_page${pr.page}" else ""
      (pr.page, name) -> evaluateOne(conf, name, suffix, df, m)
    }
    (m.result(), counts.toMap)
  }

  /** One dataset's metrics. A binary run caches one projection (label,
    * prediction, label as int, score) and reads it twice: one ranked pass
    * for AUROC and the best F2 row ([[StandardMetrics.binarySummary]]) and
    * one collected confusion count for the weighted precision/recall the
    * reference also reports for binary runs (StandardMetricsEvaluator
    * computes both). A multiclass run needs only the collected count, so
    * nothing is cached. Driver state is O(labels²). Returns the counts. */
  private def evaluateOne(conf: GraftConf, name: String, suffix: String,
                          df: DataFrame,
                          m: scala.collection.mutable.Builder[(String, Double), Map[String, Double]])
      : StandardMetrics.ConfusionCounts =
    if (conf.training.buildType == "binary") {
      val proj = df.select(col("label"), col(predCol(df)).as("pred"),
        col("label").cast("int").as("y"), scoreCol(df).as("score")).cache()
      try {
        // best F2 threshold feeds the hotlead rule
        // (ref: WebCustomMetricsEvaluator.scala:38-65)
        val s = StandardMetrics.binarySummary(proj, "y", "score", 2.0)
        val counts = StandardMetrics.confusionCounts(proj, "label", "pred")
        val w = counts.weighted
        m += s"auroc_$name$suffix" -> s.auroc
        m += s"f2_$name$suffix" -> s.fbeta
        m += s"f2_threshold_$name$suffix" -> s.thresh
        m += s"weightedPrecision_$name$suffix" -> w.getDouble(1)
        m += s"weightedRecall_$name$suffix" -> w.getDouble(2)
        counts
      } finally proj.unpersist()
    } else {
      val counts = StandardMetrics.confusionCounts(df, "label", predCol(df))
      val w = counts.weighted
      m += s"accuracy_$name$suffix" -> w.getDouble(0)
      m += s"weightedPrecision_$name$suffix" -> w.getDouble(1)
      m += s"weightedRecall_$name$suffix" -> w.getDouble(2)
      m += s"weightedF1_$name$suffix" -> w.getDouble(3)
      counts
    }
}
