package graft

import graft.config._
import graft.publish.{HotleadTransformer, Publish}
import org.apache.spark.sql.functions._

/** System tests in the reference's style (systemTests/BinaryLogisticTest
  * .scala:23-69): run the full config-driven pipeline, assert metric
  * quality with tolerances (exact goldens don't survive engine versions —
  * SURVEY §5). Data: deterministic synthetic fixture derived from the
  * documents table at sf0.001. */
class PipelineRunnerSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def baseConf(extra: String = "") = GraftConf.fromJson(
    s"""{
      |  "project": {"name": "spec", "root": "/tmp/graft-spec"},
      |  "data": {
      |    "source": "parquet://$dir/documents.parquet",
      |    "queries": ["SELECT *, CASE WHEN lang = 'en' THEN 'pos' ELSE 'neg' END AS y, 1 + doc_id % 3 AS pg FROM graftView0"]
      |  },
      |  "columns": {"response": "y", "text": ["text"], "numerical": ["n_chars"],
      |              "primaryKey": ["doc_id"], "page": "pg"},
      |  "sampling": {"samplingType": "random", "split": [80, 20], "seed": 20},
      |  "preprocessing": [
      |    {"op": "case_normalization", "inputColumn": "text", "outputColumn": "t_lower"},
      |    {"op": "tokenizer", "inputColumn": "t_lower", "outputColumn": "tokens"}
      |  ],
      |  "featureGeneration": {"ngrams": [2]},
      |  "vectorization": {"method": "tfidf", "slots": 4096}
      |  $extra
      |}""".stripMargin)

  behavior of "PipelineRunner"

  it should "run a binary flow end-to-end with separable-train AUROC" in {
    val result = PipelineRunner.run(spark, baseConf())
    result.pages should have size 1
    // the label is word-salad noise — train AUROC measures that the chain
    // can overfit 400 docs with a bigram tfidf space (plumbing, not model
    // quality; mirrors the reference's separable-train golden pattern)
    result.metrics("auroc_train") should be > 0.9
    result.metrics.keySet should contain allOf ("auroc_train", "auroc_test")
    val scored = result.scoredUnion("test")
    scored.columns should contain allOf ("label", "prediction", "probability")
  }

  it should "train one model per page with last-page accumulation" in {
    val conf = baseConf(""", "numPages": 3""")
    val result = PipelineRunner.run(spark, conf)
    result.pages should have size 3
    result.metrics.keySet should contain allOf
      ("auroc_train_page1", "auroc_train_page2", "auroc_train_page3")
    // union of page-level test scores covers every test row exactly once
    val input = io.SourceReader.read(spark, conf.data, conf.columns)
    val Seq(_, test) = sampling.TrainTestSampler.sample(
      input, conf.sampling, "y", Seq("doc_id"))
    result.scoredUnion("test").count() shouldBe test.count()
  }

  it should "publish a combined pipeline that reproduces chain scores on raw input" in {
    val conf = baseConf()
    val result = PipelineRunner.run(spark, conf)
    val raw = io.SourceReader.read(spark, conf.data, conf.columns)
    val page = result.pages.head
    val serving = Publish.combined(page.prep, page.chain, raw,
      Some(new HotleadTransformer().setDefaultThreshold(0.5)))
    val served = serving.transform(raw).select("doc_id", "prediction", "isHotLead")
    val direct = page.chain.transform(page.prep.transform(raw))
      .select(col("doc_id"), col("prediction").as("p2"))
    val joined = served.join(direct, "doc_id")
    joined.filter(col("prediction") =!= col("p2")).count() shouldBe 0
    served.columns should contain("isHotLead")
  }

  it should "generate QA data keyed on the primary key" in {
    val conf = baseConf()
    val result = PipelineRunner.run(spark, conf)
    val raw = io.SourceReader.read(spark, conf.data, conf.columns)
    val qa = Publish.qaData(raw, result.pages.head.scored("test"),
      Seq("doc_id"), Seq("prediction"), n = 10, seed = 20)
    qa.count() shouldBe 10
    qa.columns should contain allOf ("text", "prediction")
  }

  it should "run a multi-intent OVR SVM flow with Platt scaling and top-k" in {
    val conf = GraftConf.fromJson(
      s"""{
        |  "project": {"name": "spec-mi", "root": "/tmp/graft-spec"},
        |  "data": {"source": "parquet://$dir/documents.parquet"},
        |  "columns": {"response": "lang", "text": ["text"], "numerical": ["n_chars"],
        |              "primaryKey": ["doc_id"]},
        |  "sampling": {"samplingType": "random", "split": [80, 20], "seed": 20},
        |  "preprocessing": [
        |    {"op": "tokenizer", "inputColumn": "text", "outputColumn": "tokens"}
        |  ],
        |  "featureGeneration": {"ngrams": [2]},
        |  "vectorization": {"method": "tfidf", "slots": 4096},
        |  "training": {"algorithm": "svm", "buildType": "ovr",
        |               "plattScaling": true, "topK": 3}
        |}""".stripMargin)
    val result = PipelineRunner.run(spark, conf)
    val scored = result.pages.head.scored("test")
    scored.columns should contain allOf
      ("svm_prediction", "topIntents", "predictedResponse", "probability")
    // alphabetAsc label order (ref: ModelTrainingEngine.scala:133-149)
    result.pages.head.chain.labels.toSeq shouldBe
      result.pages.head.chain.labels.toSeq.sorted
    result.metrics("accuracy_train") should be > 0.9 // overfit = plumbing OK
    // top-k struct ranks labels by calibrated probability
    val top = scored.select("topIntents").head().getSeq[org.apache.spark.sql.Row](0)
    top should have size 3
    top.head.getDouble(1) should be >= top(1).getDouble(1)
  }

  it should "run a binary uplift flow with the treatment slot forced" in {
    val conf = GraftConf.fromJson(
      s"""{
        |  "project": {"name": "spec-uplift", "root": "/tmp/graft-spec"},
        |  "data": {
        |    "source": "parquet://$dir/documents.parquet",
        |    "queries": ["SELECT *, CASE WHEN lang = 'en' THEN 'pos' ELSE 'neg' END AS y, CAST(doc_id % 2 AS DOUBLE) AS treat FROM graftView0"]
        |  },
        |  "columns": {"response": "y", "text": ["text"], "numerical": ["n_chars"],
        |              "primaryKey": ["doc_id"]},
        |  "sampling": {"samplingType": "random", "split": [80, 20], "seed": 20},
        |  "preprocessing": [
        |    {"op": "tokenizer", "inputColumn": "text", "outputColumn": "tokens"}
        |  ],
        |  "vectorization": {"method": "hashingtf", "slots": 1024},
        |  "training": {"algorithm": "logistic_regression", "uplift": "treat"}
        |}""".stripMargin)
    val result = PipelineRunner.run(spark, conf)
    val scored = result.pages.head.scored("test")
    scored.columns should contain allOf ("probability", "modelProbability")
    import org.apache.spark.ml.functions.vector_to_array
    val deltas = scored
      .select(element_at(vector_to_array(col("probability")), 2)).collect().map(_.getDouble(0))
    all(deltas) should (be >= -1.0 and be <= 1.0)
  }

  it should "run a cross-validated flow selecting from the grid" in {
    // label derived from n_chars, which is IN the feature vector — the
    // L1-0.01 grid point cross-validates ≈1.0, L1-10 flatlines at 0.5, so
    // selection is meaningful (noise labels would tie both at 0.5)
    val conf = GraftConf.fromJson(
      s"""{
        |  "project": {"name": "spec-cv", "root": "/tmp/graft-spec"},
        |  "data": {
        |    "source": "parquet://$dir/documents.parquet",
        |    "queries": ["SELECT *, CASE WHEN n_chars > 300 THEN 'pos' ELSE 'neg' END AS y FROM graftView0"]
        |  },
        |  "columns": {"response": "y", "text": ["text"], "numerical": ["n_chars"],
        |              "primaryKey": ["doc_id"]},
        |  "sampling": {"samplingType": "random", "split": [80, 20], "seed": 20},
        |  "preprocessing": [
        |    {"op": "tokenizer", "inputColumn": "text", "outputColumn": "tokens"}
        |  ],
        |  "vectorization": {"method": "hashingtf", "slots": 256},
        |  "training": {"algorithm": "logistic_regression",
        |               "params": {"elasticNetParam": 1.0}},
        |  "tuning": {"method": "cv", "folds": 3, "evalMetric": "areaUnderROC",
        |             "grid": {"regParam": [10.0, 0.01]}}
        |}""".stripMargin)
    val result = PipelineRunner.run(spark, conf)
    result.metrics("auroc_test") should be > 0.9 // flatlined model would be 0.5
  }

  it should "apply the post-predict filter" in {
    val conf = baseConf(""", "postPredictFilter": "prediction = 1.0"""")
    val result = PipelineRunner.run(spark, conf)
    result.pages.head.scored("test").filter(col("prediction") =!= 1.0).count() shouldBe 0
  }

  it should "run monitoring mode computing PSI/VSI drift per column" in {
    val conf = GraftConf.fromJson(
      s"""{
        |  "project": {"name": "spec-mon", "root": "/tmp/graft-spec"},
        |  "data": {"source": "parquet://$dir/orders.parquet"},
        |  "columns": {"response": "o_orderstatus", "numerical": ["o_totalprice"],
        |              "categorical": ["o_orderpriority"]}
        |}""".stripMargin)
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val base = orders.filter(col("o_orderkey") % 2 === 0)
    val cur = orders.filter(col("o_orderkey") % 2 === 1)
    val metrics = PipelineRunner.monitor(spark, conf, base, cur)
    metrics.keySet shouldBe Set("psi_o_totalprice", "vsi_o_orderpriority")
    // even/odd halves of the same table — negligible drift
    metrics("psi_o_totalprice") should be < 5.0
    metrics("vsi_o_orderpriority") should be < 5.0
    // genuine drift is detected
    val shifted = PipelineRunner.monitor(spark, conf, base,
      cur.withColumn("o_totalprice", col("o_totalprice") * 3))
    shifted("psi_o_totalprice") should be > 50.0
  }

  it should "run a hyperband-tuned flow" in {
    val conf = baseConf(
      """, "tuning": {"method": "hyperband", "evalMetric": "areaUnderROC",
        |             "grid": {"regParam": [0.0, 1.0]}, "maxHyperbandIter": 9, "eta": 3}""".stripMargin)
    val result = PipelineRunner.run(spark, conf)
    result.metrics.keySet should contain ("auroc_train")
  }

  it should "resume the input step from its savepoint" in {
    val root = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val conf = baseConf(extra = "").copy(
      project = graft.config.ProjectConf(name = "resume", root = root))
    PipelineRunner.run(spark, conf, savepointing = true)
    // re-run pointing at a nonexistent source: only the savepoint can feed it
    val broken = conf.copy(data = conf.data.copy(
      source = "parquet:///nonexistent/nope.parquet", queries = Nil))
    val resumed = PipelineRunner.run(spark, broken, savepointing = true, resume = true)
    resumed.metrics.keySet should contain ("auroc_test")
  }

  it should "write metrics json+csv and the confusion text artifact" in {
    val root = java.nio.file.Files.createTempDirectory("graft-artifacts").toString
    val conf = baseConf().copy(
      project = graft.config.ProjectConf(name = "arts", root = root))
    val result = PipelineRunner.run(spark, conf, savepointing = true)
    val base = java.nio.file.Paths.get(s"$root/arts/${conf.project.retrainId}")
    // metrics.csv round-trips to the exact metrics map; json carries the keys
    val csv = java.nio.file.Files.readString(base.resolve("metrics.csv"))
    val fromCsv = csv.trim.linesIterator.drop(1).map { l =>
      val Array(k, v) = l.split(",", 2); k -> v.toDouble
    }.toMap
    fromCsv shouldBe result.metrics
    java.nio.file.Files.readString(base.resolve("metrics.json")) should
      include ("auroc_test")
    // confusion text: reference-style header + one row per actual label
    val txt = java.nio.file.Files.readString(
      base.resolve("confusionMetrics/page1.txt"))
    val lines = txt.trim.linesIterator.toSeq
    lines.head should startWith ("Intent")
    lines should have length 3 // header + the two binary classes
    lines.tail.foreach(_.split("\t\t") should have length 5)
    // the counts the metrics collected, line for line
    txt.linesIterator.toSeq shouldBe graft.metrics.StandardMetrics.confusionText(
      result.scoredUnion("test"), "label", "prediction")
  }

  it should "publish per-page pipelines and score new data in predict mode" in {
    val root = java.nio.file.Files.createTempDirectory("graft-predict").toString
    val conf = baseConf().copy(
      project = graft.config.ProjectConf(name = "pred", root = root))
    val result = PipelineRunner.run(spark, conf)
    val paths = PipelineRunner.publish(conf, result)
    paths should have size 1
    paths.foreach(p => new java.io.File(p).exists() shouldBe true)
    // predict-only job on the same source (stand-in for out-of-sample data)
    val metrics = PipelineRunner.predict(spark, conf, savepointing = true)
    metrics.keySet should contain allOf ("auroc_predict", "weightedPrecision_predict")
    // the published pipeline scores the full input: AUROC over train+test
    // rows must be at least the training run's held-out AUROC
    metrics("auroc_predict") should be > result.metrics("auroc_test")
    new graft.io.Savepoints(conf.project)
      .load(spark, "predictions", 1, "predict").count() should be > 0L
  }
}
