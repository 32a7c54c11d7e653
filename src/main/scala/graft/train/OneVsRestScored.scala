package graft.train

import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.classification.{ClassificationModel, Classifier}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.{IntParam, Param, ParamMap}
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.StructType

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** One-vs-rest that keeps EVERY sub-model's raw score.
  *
  * Spark's built-in OneVsRest discards the per-class scores and emits only
  * the argmax; the reference forks it so each binary sub-model's
  * rawPrediction (and probability when available) accumulates into vectors
  * (ref: org/apache/spark/ml/classification/OneVsRestCustomModel.scala:166-243),
  * because Platt scaling and top-k intents need the full score vector.
  * This is a fresh re-implementation on the public spark.ml API: sub-models
  * are fitted in parallel (driver-side futures, ref parallelism default 3)
  * and the transform side is pure Column expressions over vector_to_array —
  * one pass, no UDFs, codegen-friendly.
  *
  * Label contract: `labelCol` is a StringIndexer output, values 0..k-1.
  */
class OneVsRestScored(override val uid: String)
    extends Estimator[OneVsRestScoredModel] {
  def this() = this(Identifiable.randomUID("ovrScored"))

  final val classifier =
    new Param[Classifier[_, _, _]](this, "classifier", "binary base classifier")
  final val labelCol = new Param[String](this, "labelCol", "indexed label column")
  final val featuresCol = new Param[String](this, "featuresCol", "features column")
  final val parallelism = new IntParam(this, "parallelism", "parallel sub-model fits")
  setDefault(labelCol -> "label", featuresCol -> "features", parallelism -> 3)

  def setClassifier(c: Classifier[_, _, _]): this.type = set(classifier, c)
  def getClassifier: Classifier[_, _, _] = $(classifier)
  def setLabelCol(v: String): this.type = set(labelCol, v)
  def setFeaturesCol(v: String): this.type = set(featuresCol, v)
  def setParallelism(v: Int): this.type = set(parallelism, v)

  override def fit(dataset: Dataset[_]): OneVsRestScoredModel = {
    val numClasses =
      dataset.select(max(col($(labelCol)).cast("double"))).head().getDouble(0).toInt + 1
    val df = dataset.select(col($(featuresCol)), col($(labelCol)).cast("double")).cache()
    val pool = java.util.concurrent.Executors.newFixedThreadPool($(parallelism))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val models = try (0 until numClasses).map { k =>
      Future {
        val bin = df.withColumn("__ovr_label",
          when(col($(labelCol)) === k, 1.0).otherwise(0.0))
        val est = $(classifier).copy(ParamMap.empty).asInstanceOf[Classifier[_, _, _]]
        est.set(est.getParam("labelCol"), "__ovr_label")
        est.set(est.getParam("featuresCol"), $(featuresCol))
        est.fit(bin).asInstanceOf[ClassificationModel[Vector, _]]
      }
    }.map(Await.result(_, Duration.Inf)).toArray
    finally { pool.shutdown(); df.unpersist() }
    val m = new OneVsRestScoredModel(uid, models)
    copyValues(m).setParent(this)
  }

  override def transformSchema(schema: StructType): StructType =
    schema.add("rawPrediction", org.apache.spark.ml.linalg.SQLDataTypes.VectorType)
      .add("prediction", org.apache.spark.sql.types.DoubleType)
  /** Propagates `extra` into the inner classifier too, so CV/HyperBand
    * grids built on the sub-model's params (e.g. smoothing, regParam)
    * apply — the same contract as spark.ml's OneVsRest.copy. */
  override def copy(extra: ParamMap): OneVsRestScored = {
    val copied = defaultCopy(extra).asInstanceOf[OneVsRestScored]
    if (isDefined(classifier))
      copied.setClassifier(
        $(classifier).copy(extra).asInstanceOf[Classifier[_, _, _]])
    copied
  }
}

class OneVsRestScoredModel(
    override val uid: String,
    val models: Array[ClassificationModel[Vector, _]])
    extends Model[OneVsRestScoredModel] {

  final val featuresCol = new Param[String](this, "featuresCol", "features column")
  final val labelCol = new Param[String](this, "labelCol", "indexed label column")
  final val parallelism = new IntParam(this, "parallelism", "unused at transform")
  final val classifier = new Param[Classifier[_, _, _]](this, "classifier", "base")
  setDefault(featuresCol -> "features", labelCol -> "label", parallelism -> 3)

  private def hasProbability: Boolean =
    models.head.isInstanceOf[org.apache.spark.ml.classification.ProbabilisticClassificationModel[_, _]]

  override def transform(dataset: Dataset[_]): DataFrame = {
    // Each sub-model writes its rawPrediction to a unique column in one
    // foldLeft chain; margins then pack into vectors via array expressions.
    val withRaw = models.zipWithIndex.foldLeft(dataset.toDF()) { case (acc, (m, k)) =>
      val mc = m.copy(ParamMap.empty).asInstanceOf[ClassificationModel[Vector, _]]
      mc.set(mc.getParam("rawPredictionCol"), s"__raw_$k")
      mc.set(mc.getParam("predictionCol"), s"__pred_$k")
      mc.set(mc.getParam("featuresCol"), $(featuresCol))
      mc.params.find(_.name == "probabilityCol")
        .foreach(p => mc.set(p.asInstanceOf[Param[String]], s"__prob_$k"))
      mc.transform(acc).drop(s"__pred_$k")
    }
    val margins = array(models.indices.map(k =>
      element_at(vector_to_array(col(s"__raw_$k")), 2)): _*)
    val withVecs = withRaw
      .withColumn("rawPrediction", array_to_vector(margins))
      .withColumn("prediction",
        (array_position(margins, array_max(margins)) - 1).cast("double"))
    val out =
      if (hasProbability) {
        val probs = array(models.indices.map(k =>
          element_at(vector_to_array(col(s"__prob_$k")), 2)): _*)
        // normalized accumulated positive-class probabilities; the array is
        // materialized into a column first so the normalize lambda reads an
        // attribute — referencing `probs` inside the lambda would re-run
        // the k element_at(vector_to_array(...)) calls per element (k² per
        // row)
        withVecs.withColumn("__parr", probs)
          .withColumn("probability",
            array_to_vector(F.transform(col("__parr"), p =>
              p / aggregate(col("__parr"), lit(0.0), (a, x) => a + x))))
          .drop("__parr")
      } else withVecs
    models.indices.foldLeft(out)((acc, k) =>
      acc.drop(s"__raw_$k").drop(s"__prob_$k"))
  }

  override def transformSchema(schema: StructType): StructType =
    schema.add("rawPrediction", org.apache.spark.ml.linalg.SQLDataTypes.VectorType)
      .add("prediction", org.apache.spark.sql.types.DoubleType)
  override def copy(extra: ParamMap): OneVsRestScoredModel = {
    val m = new OneVsRestScoredModel(uid, models)
    copyValues(m, extra)
  }
}
