package graft.train

import graft.config.{TrainingConf, TuningConf}
import org.apache.spark.ml.classification.{ClassificationModel, LinearSVCModel, MultilayerPerceptronClassifier}
import org.apache.spark.ml.feature.{IndexToString, StringIndexer, StringIndexerModel}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.{Estimator, Pipeline, PipelineModel, PipelineStage, Transformer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Assembles and fits the model chain
  * (ref: core/modeltraining/ModelTrainingEngine.scala:126-276):
  * StringIndexer(response → label, handleInvalid=skip; `alphabetAsc` order
  * for multi-intent) → estimator (optionally CV/HyperBand-wrapped) →
  * optional PlattScalar → optional TopKIntents → IndexToString for
  * multi-intent.
  */
object ModelTrainingEngine {

  final case class FittedChain(
      indexer: StringIndexerModel,
      stages: Seq[Transformer],
      labels: Array[String]) {
    def transform(df: DataFrame): DataFrame = {
      val in =
        if (df.columns.contains(indexer.getOutputCol)) df.drop(indexer.getOutputCol)
        else df
      stages.foldLeft(indexer.transform(in))((d, t) => t.transform(d))
    }
  }

  /** Resolve MLP layer sizes from the data: [numFeatures, hidden..., numClasses]
    * (ref: ModelTrainingUtils.scala:32-48 — probes one vectorized row and the
    * distinct response count). */
  def mlpLayers(df: DataFrame, featuresCol: String, labelCol: String,
                hidden: Seq[Int]): Array[Int] = {
    val nFeatures = df.select(featuresCol).head().getAs[Vector](0).size
    val nClasses =
      df.select(max(col(labelCol).cast("double"))).head().getDouble(0).toInt + 1
    (nFeatures +: hidden :+ nClasses).toArray
  }

  def fit(train: DataFrame, conf: TrainingConf, tuning: TuningConf,
          responseCol: String, featuresCol: String = "features"): FittedChain = {
    val orderType =
      if (conf.buildType == "binary") "frequencyDesc" else "alphabetAsc"
    val cleaned =
      if (train.columns.contains("label") && responseCol != "label") train.drop("label")
      else train
    val indexer = new StringIndexer()
      .setInputCol(responseCol).setOutputCol("label")
      .setHandleInvalid("skip").setStringOrderType(orderType)
      .fit(cleaned)
    val labels = indexer.labelsArray.head
    val indexed = indexer.transform(cleaned).cache()
    try {
      val mlpHidden =
        if (conf.hiddenLayers.nonEmpty) conf.hiddenLayers
        else conf.params.get("hiddenLayer").map(h => Seq(h.toInt)).getOrElse(Seq(10))
      val baseEst: Estimator[_] = ModelFactory.build(conf) match {
        case mlp: MultilayerPerceptronClassifier =>
          mlp.setLayers(mlpLayers(
            indexed.withColumn("features", col(featuresCol)), "features", "label", mlpHidden))
        case ovr: OneVsRestScored
            if ovr.getClassifier.isInstanceOf[MultilayerPerceptronClassifier] =>
          // each OVR submodel is binary → output width 2, input from the data
          val nFeatures = indexed.select(featuresCol).head().getAs[Vector](0).size
          ovr.getClassifier.asInstanceOf[MultilayerPerceptronClassifier]
            .setLayers((nFeatures +: mlpHidden :+ 2).toArray)
          ovr
        case e => e
      }
      baseEst.set(baseEst.getParam("labelCol"), "label")
      baseEst.set(baseEst.getParam("featuresCol"), featuresCol)

      val tuned: Transformer = tuning.method match {
        case "none" =>
          baseEst.fit(indexed).asInstanceOf[Transformer]
        case "cv" =>
          CrossValidatorCustom.fit(indexed, baseEst, ModelFactory.grid(baseEst, tuning),
            tuning, conf.buildType)
        case "hyperband" =>
          HyperBand.fit(indexed, baseEst, tuning, conf.seed)
        case other => throw new IllegalArgumentException(s"unknown tuning method '$other'")
      }

      val stages = Seq.newBuilder[Transformer]
      stages += tuned

      val plattModel =
        if (conf.plattScaling) {
          val scored = tuned.transform(indexed)
          val m = new PlattScalar()
            .setLabelCol("label")
            .setIsMultiIntent(conf.buildType != "binary")
            .fit(scored)
          stages += m
          Some(m)
        } else None
      // uplift scoring replaces the probability with p(treated) − p(control)
      // (ref: ModelTrainingEngine.scala:186-208 — SVM flows calibrate each
      // pass through the fitted PlattScalar)
      conf.uplift.foreach { _ =>
        val u = new UpliftTransformer().setFeaturesCol(featuresCol)
          .setBaseModel(tuned.asInstanceOf[ClassificationModel[Vector, _]])
        plattModel.foreach(u.setPlattModel)
        stages += u
      }
      if (conf.topK > 0)
        stages += new TopKIntents().setLabels(labels).setK(conf.topK)
      if (conf.buildType != "binary")
        stages += new IndexToString().setInputCol("prediction")
          .setOutputCol("predictedResponse").setLabels(labels)

      FittedChain(indexer, stages.result(), labels)
    } finally indexed.unpersist()
  }
}
