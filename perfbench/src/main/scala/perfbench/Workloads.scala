package perfbench

import graft.{CorpusRunner, PipelineRunner}
import graft.config.{ConfigValidator, GraftConf}
import graft.features.VectorizationEngine
import graft.io.{Savepoints, SourceReader}
import graft.metrics.StandardMetrics
import graft.sampling.TrainTestSampler
import graft.text.PreprocessingEngine
import graft.train.ModelTrainingEngine
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a run produced, reduced to named numbers: the runner's metrics map
  * plus row counts and content hashes. Checks and the traced replay compare
  * these. */
object Outputs {
  type T = Map[String, Double]
  /** Computes a run's outputs after the timed interval; `roundTrip` adds
    * the checks that load the run's artifacts back, which cost seconds. */
  type Of = Boolean => T
}

/** One benchmark workload: its inputs, the timed call into the program, the
  * reduction of the run's products to [[Outputs.T]], and a traced replay of
  * the same runner's step order. */
trait Workload {
  def name: String
  /** Writes this workload's inputs for `seed` as parquet under `dir`. */
  def stage(spark: SparkSession, dir: String, seed: Long): Unit
  def conf(inputs: String, root: String, seed: Long): GraftConf
  /** The timed body. */
  def run(spark: SparkSession, conf: GraftConf): Outputs.Of
  /** The same work as [[run]], step by step through the modules' public
    * functions, each call inside a span. Returns its outputs closure too. */
  def replay(spark: SparkSession, conf: GraftConf, tr: Tracer): Outputs.Of
  /** Failures of the checks that need no pinned value. */
  def check(o: Outputs.T): Seq[String]
}

object Workloads {
  val all: Map[String, Workload] = Seq[Workload](
    new TextPipeline(docs = 100), new CorpusWorkload(docs = 202)).map(w => w.name -> w).toMap

  /** Order-independent hash of a frame's rows, exact in a double. */
  def rowHash(df: DataFrame, cols: String*): Double =
    df.agg(coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L)))
      .head().getLong(0).&((1L << 52) - 1).toDouble
}

/** `pipeline_text`: config → `PipelineRunner.run` with savepoints →
  * `publish`. Binary logistic regression on `y = lang = 'en'` over a
  * case_normalization → stopwords → stemming → tokenizer chain, bigrams and
  * a 2,048-slot tf-idf, one page, random 80/20 split. */
final class TextPipeline(docs: Int) extends Workload {
  val name = "pipeline_text"

  def stage(spark: SparkSession, dir: String, seed: Long): Unit =
    Inputs.documents(spark, docs).write.parquet(s"$dir/documents")

  def conf(inputs: String, root: String, seed: Long): GraftConf = GraftConf.fromJson(
    s"""{
      |  "project": {"name": "$name", "root": "$root"},
      |  "data": {"source": "parquet://$inputs/documents",
      |    "queries": ["SELECT *, CASE WHEN lang = 'en' THEN 'pos' ELSE 'neg' END AS y FROM graftView0"]},
      |  "columns": {"response": "y", "text": ["text"], "primaryKey": ["doc_id"]},
      |  "sampling": {"samplingType": "random", "split": [80, 20], "seed": $seed},
      |  "preprocessing": [
      |    {"op": "case_normalization", "inputColumn": "text", "outputColumn": "t_lower"},
      |    {"op": "stopwords", "inputColumn": "t_lower", "outputColumn": "t_stop",
      |     "stopwords": ["a", "the"]},
      |    {"op": "stemming", "inputColumn": "t_stop", "outputColumn": "t_stem"},
      |    {"op": "tokenizer", "inputColumn": "t_stem", "outputColumn": "tokens"}
      |  ],
      |  "featureGeneration": {"ngrams": [2]},
      |  "vectorization": {"method": "tfidf", "slots": 2048},
      |  "training": {"algorithm": "logistic_regression", "seed": $seed,
      |               "params": {"maxIter": 5}}
      |}""".stripMargin)

  def run(spark: SparkSession, conf: GraftConf): Outputs.Of = {
    val result = PipelineRunner.run(spark, conf, savepointing = true)
    PipelineRunner.publish(conf, result)
    outputs(spark, conf, result)
  }

  /** PipelineRunner.run's step order for one page, each module call in a
    * span. A drift from the runner shows as outputs that differ from the
    * untraced run's. */
  def replay(spark: SparkSession, conf: GraftConf, tr: Tracer): Outputs.Of = {
    val sp = new Savepoints(conf.project)
    tr.span("config.validate") {
      ConfigValidator.validateOrThrow(conf)
      sp.saveConfigSnapshot(conf.toString)
    }
    val input = tr.span("io.read")(SourceReader.read(spark, conf.data, conf.columns))
    tr.span("io.savepoint")(sp.save(input, "input", 0, "all"))
    val datasets = tr.span("sampling.sample")(TrainTestSampler.sample(
      input, conf.sampling, conf.columns.response, conf.columns.primaryKey))
      .zip(Seq("train", "test")).map(_.swap)
    val train = datasets.head._2
    val prep = tr.span("features.prep_fit") {
      val tokenCols = conf.preprocessing.zipWithIndex.collect {
        case (p, i) if p.op == "tokenizer" => p.outputColumn.getOrElse(s"${p.inputColumn}_c$i")
      }
      val preStages = PreprocessingEngine.buildStages(conf.preprocessing)
      val vecStages = VectorizationEngine.buildStages(train, conf.columns,
        conf.featureGeneration, conf.vectorization, tokenCols, conf.training.uplift)
      new Pipeline().setStages((preStages ++ vecStages).toArray).fit(train)
    }
    val keepCols = (conf.columns.primaryKey :+ conf.columns.response :+ "features").map(col)
    val vectorized = datasets.map { case (n, df) => n -> prep.transform(df).select(keepCols: _*) }
    val trainVec = vectorized.head._2.persist()
    val chain = tr.span("train.fit")(ModelTrainingEngine.fit(
      trainVec, conf.training, conf.tuning, conf.columns.response))
    val scored = vectorized.map { case (n, df) =>
      val out = tr.span("score.transform")(chain.transform(df))
      tr.span("io.savepoint")(sp.save(out.drop("features"), "scored", 1, n))
      n -> out
    }.toMap
    trainVec.unpersist()
    val m = Map.newBuilder[String, Double]
    tr.span("metrics.evaluate")(scored.foreach { case (n, df) => evaluateOne(n, df, m) })
    val metrics = m.result()
    tr.span("io.savepoint")(sp.saveMetrics(metrics))
    tr.span("metrics.confusion")(sp.saveConfusionText(
      StandardMetrics.confusionText(scored("test"), "label", "prediction"), 1))
    val result = PipelineRunner.RunResult(metrics,
      Seq(PipelineRunner.PageResult(1, prep, chain, scored)), sp, input)
    tr.span("publish.save")(PipelineRunner.publish(conf, result))
    outputs(spark, conf, result)
  }

  /** The binary branch of the runner's private per-dataset evaluation:
    * the same StandardMetrics calls on the same score column. */
  private def evaluateOne(name: String, df: DataFrame,
                          m: scala.collection.mutable.Builder[(String, Double), Map[String, Double]]): Unit = {
    val score = element_at(vector_to_array(col("probability")), 2)
    val scored = df.select(col("label").cast("int").as("y"), score.as("score")).cache()
    m += s"auroc_$name" -> StandardMetrics.auroc(scored, "y", "score").head().getDouble(0)
    val best = StandardMetrics.bestThreshold(scored, "y", "score", 2.0).head()
    m += s"f2_$name" -> best.getAs[Double]("fbeta")
    m += s"f2_threshold_$name" -> best.getAs[Double]("thresh")
    scored.unpersist()
    val row = StandardMetrics.weightedSummary(df, "label", "prediction").head()
    m += s"weightedPrecision_$name" -> row.getDouble(1)
    m += s"weightedRecall_$name" -> row.getDouble(2)
  }

  /** The run's metrics, plus scored test rows and the size of the test
    * split they should cover; with `roundTrip`, also the rows the
    * published pipeline scores when loaded back against the source. */
  private def outputs(spark: SparkSession, conf: GraftConf,
                      result: PipelineRunner.RunResult): Outputs.Of = roundTrip => {
    val input = SourceReader.read(spark, conf.data, conf.columns)
    result.metrics ++ Map(
      "rows.input" -> input.count().toDouble,
      "rows.test_split" -> testSplitRows(conf, input),
      "rows.scored_test" -> result.scoredUnion("test").count().toDouble) ++
      (if (roundTrip) Map("rows.served" ->
        PipelineModel.load(result.savepoints.publishPath(1)).transform(input).count().toDouble)
      else Map.empty)
  }

  /** Test split size, computed once per process: it depends only on the
    * seed, which is fixed for the process. */
  private var splitRows = Option.empty[Double]
  private def testSplitRows(conf: GraftConf, input: DataFrame): Double =
    splitRows.getOrElse {
      val n = TrainTestSampler.sample(input, conf.sampling, conf.columns.response,
        conf.columns.primaryKey)(1).count().toDouble
      splitRows = Some(n)
      n
    }

  val metricKeys: Seq[String] = for {
    ds <- Seq("train", "test")
    m <- Seq("auroc", "f2", "f2_threshold", "weightedPrecision", "weightedRecall")
  } yield s"${m}_$ds"

  def check(o: Outputs.T): Seq[String] = {
    val missing = metricKeys.filterNot(o.contains)
    val outOfRange = metricKeys.filter(k => o.get(k).exists(v =>
      v.isNaN || (!k.startsWith("f2_threshold") && (v < 0 || v > 1))))
    Seq(
      if (missing.nonEmpty) Some(s"missing metrics: ${missing.mkString(",")}") else None,
      if (outOfRange.nonEmpty) Some(s"metrics out of [0,1]: ${outOfRange.mkString(",")}") else None,
      if (o.get("rows.scored_test") != o.get("rows.test_split"))
        Some(s"scored test rows ${o.get("rows.scored_test")} != test split ${o.get("rows.test_split")}")
      else None,
      if (o.contains("rows.served") && o.get("rows.served") != o.get("rows.input"))
        Some(s"published pipeline scored ${o.get("rows.served")} of ${o.get("rows.input")} rows")
      else None,
      if (!o.get("rows.test_split").exists(_ > 0)) Some("empty test split") else None
    ).flatten
  }
}

/** `corpus_clean`: the CorpusQuickStart 14-step chain through
  * `CorpusRunner.run` in memory, then the final row count. */
final class CorpusWorkload(docs: Int) extends Workload {
  val name = "corpus_clean"
  val steps: Seq[String] = Seq("soft_dedup", "dedup_minhash", "span_scrub",
    "span_dedup", "quality_gate", "entropy_gate", "ppl_gate", "lang_filter",
    "decontam", "semantic_decontam", "dsir_sample", "source_mix", "token_mix", "chunk")

  /** Raw ingest: every doc, plus a re-crawl under a fresh id of the docs
    * the seed picks (one in 7); the eval slice is one doc in 101, text and
    * embedding. */
  def stage(spark: SparkSession, dir: String, seed: Long): Unit = {
    val d = Inputs.documents(spark, docs).cache()
    val pick = (m: Int) => (col("doc_id") + lit(math.floorMod(seed, m.toLong))) % m === 0
    d.unionByName(d.filter(pick(7)).withColumn("doc_id", col("doc_id") + docs))
      .write.parquet(s"$dir/raw")
    d.filter(pick(101)).select("text").write.parquet(s"$dir/eval")
    val e = Inputs.embeddings(spark, docs)
    e.write.parquet(s"$dir/embeddings")
    e.filter((col("vec_id") + lit(math.floorMod(seed, 101L))) % 101 === 0)
      .select("vec_id", "embedding").write.parquet(s"$dir/eval_vec")
    d.unpersist()
  }

  def conf(inputs: String, root: String, seed: Long): GraftConf = GraftConf.fromJson(
    s"""{
      |  "project": {"name": "$name", "root": "$root"},
      |  "data": {"source": "parquet://$inputs/raw"},
      |  "columns": {"response": "lang"},
      |  "corpus": {"steps": [
      |    {"op": "soft_dedup"},
      |    {"op": "dedup_minhash", "threshold": 0.7},
      |    {"op": "span_scrub", "window": 8},
      |    {"op": "span_dedup", "window": 8, "threshold": 0.5},
      |    {"op": "quality_gate", "minTokens": 10, "maxTokens": 5000},
      |    {"op": "entropy_gate", "threshold": 1.0},
      |    {"op": "ppl_gate", "threshold": 0.9},
      |    {"op": "lang_filter", "keepLangs": ["en", "de", "fr", "es"]},
      |    {"op": "decontam", "evalSource": "parquet://$inputs/eval", "threshold": 0.5},
      |    {"op": "semantic_decontam", "evalSource": "parquet://$inputs/eval_vec",
      |     "vectorSource": "parquet://$inputs/embeddings", "threshold": 0.3},
      |    {"op": "dsir_sample", "keepLangs": ["en"], "threshold": 0.0},
      |    {"op": "source_mix", "quota": 15, "groupColumn": "source"},
      |    {"op": "token_mix", "quota": 4000, "alpha": 0.5},
      |    {"op": "chunk", "window": 64, "stride": 48}
      |  ]}
      |}""".stripMargin)

  def run(spark: SparkSession, conf: GraftConf): Outputs.Of = {
    val result = CorpusRunner.run(spark, conf)
    val n = result.corpus.count()
    _ => outputs(result.corpus, result.metrics, n)
  }

  /** CorpusRunner.run's in-memory path, one span per step: the step's
    * transform, the local checkpoint that cuts its lineage, and its row
    * count, which is where the step's work runs. */
  def replay(spark: SparkSession, conf: GraftConf, tr: Tracer): Outputs.Of = {
    val cc = conf.corpus.get
    tr.span("config.validate")(ConfigValidator.validateOrThrow(conf))
    val m = Map.newBuilder[String, Double]
    val input = tr.span("io.read") {
      val df = SourceReader.read(spark, conf.data, conf.columns)
      m += "rows_input" -> df.count().toDouble
      df
    }
    val cleaned = cc.steps.zipWithIndex.foldLeft(input) { case (df, (step, i)) =>
      tr.span(s"queries.${step.op}") {
        val out = CorpusRunner.applyStep(df, step, cc).localCheckpoint(false)
        m += s"rows_after_${i + 1}_${step.op}" -> out.count().toDouble
        out
      }
    }
    val n = tr.span("io.read")(cleaned.count())
    val metrics = m.result()
    _ => outputs(cleaned, metrics, n)
  }

  private def outputs(corpus: DataFrame, metrics: Map[String, Double], n: Long): Outputs.T =
    metrics.filter(_._1.startsWith("rows_")) ++ Map(
      "rows.final" -> n.toDouble,
      "corpus.hash" -> Workloads.rowHash(corpus, "doc_id", "text"))

  def check(o: Outputs.T): Seq[String] = {
    val keys = "rows_input" +: steps.zipWithIndex.map { case (s, i) => s"rows_after_${i + 1}_$s" }
    val missing = keys.filterNot(o.contains)
    // every step but the final chunking keeps or drops rows, never adds
    val grew = keys.sliding(2).collect {
      case Seq(a, b) if !b.endsWith("_chunk") && o.getOrElse(b, 0.0) > o.getOrElse(a, 0.0) => b
    }.toSeq
    Seq(
      if (missing.nonEmpty) Some(s"missing row counts: ${missing.mkString(",")}") else None,
      if (grew.nonEmpty) Some(s"row count grew at ${grew.mkString(",")}") else None,
      if (o.get("rows.final") != o.get(keys.last))
        Some(s"final count ${o.get("rows.final")} != ${keys.last} ${o.get(keys.last)}")
      else None,
      if (!o.get("rows.final").exists(_ > 0)) Some("empty cleaned corpus") else None
    ).flatten
  }
}
