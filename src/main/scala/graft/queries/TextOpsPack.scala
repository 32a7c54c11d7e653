package graft.queries

import graft.Tables
import graft.features.{CategoricalAssembler, GramAssembler, SkipGramGenerator}
import graft.text._
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.feature.{CountVectorizer, CountVectorizerModel, IDF, IDFModel, NGram}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver-checkable queries over the REAL text-preprocessing (§2.4) and
  * feature-generation (§2.5) transformers: each query runs the spark.ml
  * stages themselves (not re-implemented SQL), and the DuckDB oracle
  * replays the same semantics independently, so the transformers' exact
  * string behavior — `~SP~` token convention included — is verified
  * cross-engine.
  *
  * Scale notes: every stage here is a row-local Column expression
  * (whole-stage codegen, no shuffle besides the final deterministic
  * ORDER BY); gram generation explodes only per-row arrays.
  */
object TextOpsPack extends QueryPack {

  private val subsFrom = Seq("dont", "cant", "wont")
  private val subsTo = Seq("do not", "can not", "will not")
  private val stops = Seq("the", "a", "of", "and", "is")

  /** case_normalization → contractions (WordSubstitutor) →
    * word_classes_replacement (digits → _class_number) → stopwords →
    * sentence_marker, chained exactly like PreprocessingEngine builds the
    * per-column pipeline (ref: PreprocessingEngine.scala:206-248). */
  def preprocessChain(s: SparkSession, dir: String): DataFrame = {
    val stages = new Pipeline().setStages(Array(
      new CaseNormalizer().setInputCol("text").setOutputCol("t1"),
      new WordSubstitutor().setInputCol("t1").setOutputCol("t2")
        .setDictionary(subsFrom.zip(subsTo).toMap),
      new RegexReplacer().setInputCol("t2").setOutputCol("t3")
        .setPairs(Seq("[0-9]+" -> "_class_number")),
      new StopWordsFilter().setInputCol("t3").setOutputCol("t4")
        .setStopwords(stops.toArray),
      new SentenceMarker().setInputCol("t4").setOutputCol("out")))
    val df = Tables.documents(s, dir)
    stages.fit(df).transform(df)
      .select(col("doc_id"), length(col("out")).as("n_out"),
        md5(col("out")).as("out_md5"))
      .orderBy("doc_id")
  }

  /** TokenSplitter → SkipGramGenerator(window 5): per-doc gram count +
    * order-sensitive content hash (ref: SkipGramGenerator.scala:28-46). */
  def skipgramStats(s: SparkSession, dir: String): DataFrame = {
    val stages = new Pipeline().setStages(Array(
      new TokenSplitter().setInputCol("text").setOutputCol("toks"),
      new SkipGramGenerator().setInputCol("toks").setOutputCol("grams")
        .setWindowSize(5)))
    val df = Tables.documents(s, dir)
    stages.fit(df).transform(df)
      .select(col("doc_id"), size(col("grams")).as("n_grams"),
        md5(concat_ws("|", col("grams"))).as("grams_md5"))
      .orderBy("doc_id")
  }

  /** TokenSplitter → spark.ml NGram(n=2): per-doc bigram count + hash. */
  def ngramStats(s: SparkSession, dir: String): DataFrame = {
    val stages = new Pipeline().setStages(Array(
      new TokenSplitter().setInputCol("text").setOutputCol("toks"),
      new NGram().setN(2).setInputCol("toks").setOutputCol("grams")))
    val df = Tables.documents(s, dir)
    stages.fit(df).transform(df)
      .select(col("doc_id"), size(col("grams")).as("n_grams"),
        md5(concat_ws("|", col("grams"))).as("grams_md5"))
      .orderBy("doc_id")
  }

  /** CategoricalAssembler over two order columns → token frequencies
    * (ref: CategoricalColumnsTransformer.scala:31-33). */
  def catAssemble(s: SparkSession, dir: String): DataFrame = {
    val t = new CategoricalAssembler()
      .setInputCols(Array("o_orderstatus", "o_orderpriority"))
      .setOutputCol("cats")
    t.transform(Tables.orders(s, dir))
      .select(explode(col("cats")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy("token")
  }

  /** Interval binning through the real Bucketizer stage
    * (ref: FeatureGenerationEngine.scala:320-332). */
  def binningIntervals(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.orders(s, dir)
    val stage = graft.features.Binning.buildStage(df,
      graft.config.BinningConf("o_totalprice", "intervals", 0,
        intervals = Seq(100000.0, 200000.0, 400000.0)))
      .asInstanceOf[org.apache.spark.ml.feature.Bucketizer]
    stage.transform(df)
      .groupBy(col(graft.features.Binning.outputName("o_totalprice"))
        .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min("o_totalprice"), 2).as("lo"),
        round(max("o_totalprice"), 2).as("hi"))
      .orderBy("bucket")
  }

  /** TokenSplitter → NGram(2) → SkipGramGenerator(5) → GramAssembler: the
    * gram-union operator itself (ref: GramAssembler.scala:33-35) through
    * real stages — base tokens ++ bigrams ++ skip-grams in declared
    * order, per-doc count + order-sensitive hash. */
  def gramAssemble(s: SparkSession, dir: String): DataFrame = {
    val stages = new Pipeline().setStages(Array(
      new TokenSplitter().setInputCol("text").setOutputCol("toks"),
      new NGram().setN(2).setInputCol("toks").setOutputCol("bi"),
      new SkipGramGenerator().setInputCol("toks").setOutputCol("sk")
        .setWindowSize(5),
      new GramAssembler().setInputCols(Array("toks", "bi", "sk"))
        .setOutputCol("all_grams")))
    val df = Tables.documents(s, dir)
    stages.fit(df).transform(df)
      .select(col("doc_id"), size(col("all_grams")).as("n_grams"),
        md5(concat_ws("|", col("all_grams"))).as("grams_md5"))
      .orderBy("doc_id")
  }

  /** TokenSplitter → CountVectorizer(minDF=5) → IDF, then per-term df +
    * idf read from the FITTED models (docFreq/idf are what the transform
    * applies) joined with corpus term totals from the same token stream —
    * verifying Spark's idf formula ln((m+1)/(df+1)) cross-engine
    * (ref: VectorizationEngine.scala:208-216, the tfidf method).
    *
    * Scale note: vocabulary size is bounded by vocabSize/minDF exactly as
    * CountVectorizer bounds its driver-side vocab; term totals come from a
    * row-local explode + one hash aggregate — never a dense vector
    * explode (which would be rows × |vocab|). */
  def tfidfStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val pipe = new Pipeline().setStages(Array(
      new TokenSplitter().setInputCol("text").setOutputCol("toks"),
      new CountVectorizer().setInputCol("toks").setOutputCol("tf")
        .setMinDF(5).setVocabSize(1 << 18),
      new IDF().setInputCol("tf").setOutputCol("tfidf")))
    val model = pipe.fit(docs)
    val cv = model.stages(1).asInstanceOf[CountVectorizerModel]
    val idfM = model.stages(2).asInstanceOf[IDFModel]
    import s.implicits._
    val vocab = cv.vocabulary.indices
      .map(i => (cv.vocabulary(i), idfM.docFreq(i), idfM.idf(i)))
      .toDF("term", "df", "idf")
    val totals = new TokenSplitter().setInputCol("text").setOutputCol("toks")
      .transform(docs)
      .select(explode(col("toks")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("tf_total"))
    totals.join(broadcast(vocab), "term")
      .select(col("term"), col("df"), round(col("idf"), 6).as("idf"),
        col("tf_total"))
      .orderBy("term")
  }

  /** Per-document keyword extraction: top-3 terms by tf·idf — the
    * lightweight labeling pass a corpus browser or retrieval-debug view
    * runs over every document. tf and df are two hash aggregates over the
    * row-local token explode; scoring joins the O(vocab) df table; the
    * per-doc cut is a keyed rank that pushes down as WindowGroupLimit so
    * the exchange carries O(docs·k), not every (doc, term). Scores are
    * ROUNDED BEFORE ranking (ties then break on the term string), so the
    * selected set is reproducible across engines — ranking raw ln-scores
    * would flip on the last ulp of a libm difference. */
  def docKeywords(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("score"), asc("term"))
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs") / col("df")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("score"))
      .orderBy("doc_id", "rnk")
  }

  /** PII-style identifier scrub through the REAL RegexReplacer stage
    * (word_classes_replacement with ID classes): long digit runs →
    * `_class_id` first, remaining digit runs → `_class_num` second — the
    * reference's ordered longest-class-first application
    * (PreprocessingEngine.scala:395-401) on a mixed corpus of customer
    * names and event property JSON. Per-source redaction profile.
    *
    * Scale notes: row-local regex (codegen, no shuffle before the final
    * per-source aggregate); countDistinct is a two-level hash aggregate
    * (partial map-side), never a collect. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val txt = Tables.customer(s, dir)
      .select(lit("customer").as("src"), col("c_name").as("raw"))
      .unionAll(Tables.events(s, dir)
        .select(lit("events").as("src"), col("props").as("raw")))
    val red = new RegexReplacer().setInputCol("raw").setOutputCol("red")
      .setPairs(Seq("[0-9]{4,}" -> "_class_id", "[0-9]+" -> "_class_num"))
    red.transform(txt)
      .groupBy("src")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("red") =!= col("raw"), 1L).otherwise(0L)).as("n_redacted"),
        countDistinct(col("red")).as("n_forms"),
        min(col("red")).as("min_form"),
        sum(length(col("raw"))).as("n_chars_in"),
        sum(length(col("red"))).as("n_chars_out"))
      .orderBy("src")
  }

  protected val direct: Map[String, (SparkSession, String) => DataFrame] = Map(
    "preprocess_chain" -> preprocessChain,
    "skipgram_stats" -> skipgramStats,
    "ngram_stats" -> ngramStats,
    "cat_assemble" -> catAssemble,
    "binning_intervals" -> binningIntervals,
    "tfidf_stats" -> tfidfStats,
    "gram_assemble" -> gramAssemble,
    "pii_scrub" -> piiScrub,
    "doc_keywords" -> docKeywords)

  private val splitRe = "\\s|(~SP~)"

  val oracle: Map[String, String] = Map(
    "preprocess_chain" -> {
      val subCases = subsFrom.zip(subsTo)
        .map { case (f, t) => s"WHEN t = '$f' THEN '$t'" }.mkString(" ")
      val stopList = stops.map(w => s"'$w'").mkString(", ")
      s"""WITH c AS (SELECT doc_id, lower(text) AS t1 FROM documents),
         | sub AS (SELECT doc_id, array_to_string(list_transform(
         |     string_split_regex(t1, '$splitRe'),
         |     t -> CASE $subCases ELSE t END), '~SP~') AS t2 FROM c),
         | cls AS (SELECT doc_id,
         |     regexp_replace(t2, '[0-9]+', '_class_number', 'g') AS t3 FROM sub),
         | stp AS (SELECT doc_id, array_to_string(list_filter(
         |     string_split_regex(t3, '$splitRe'),
         |     t -> t NOT IN ($stopList)), '~SP~') AS t4 FROM cls)
         |SELECT doc_id,
         |  length('_class_ss ' || t4 || ' _class_se') AS n_out,
         |  md5('_class_ss ' || t4 || ' _class_se') AS out_md5
         |FROM stp ORDER BY doc_id""".stripMargin
    },
    "skipgram_stats" ->
      s"""WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '$splitRe'),
         |     x -> length(x) > 0) AS toks FROM documents),
         | g AS (SELECT doc_id, CASE WHEN len(toks) >= 3 THEN
         |     flatten(list_transform(generate_series(3, 5), w ->
         |       CASE WHEN len(toks) >= w THEN
         |         list_transform(generate_series(1, len(toks) - w + 1),
         |           i -> toks[i] || ' & ' || toks[i + w - 1])
         |       ELSE [] END))
         |   ELSE [] END AS grams FROM t)
         |SELECT doc_id, len(grams) AS n_grams,
         |  md5(array_to_string(grams, '|')) AS grams_md5
         |FROM g ORDER BY doc_id""".stripMargin,
    "ngram_stats" ->
      s"""WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '$splitRe'),
         |     x -> length(x) > 0) AS toks FROM documents),
         | g AS (SELECT doc_id, CASE WHEN len(toks) >= 2 THEN
         |     list_transform(generate_series(1, len(toks) - 1),
         |       i -> toks[i] || ' ' || toks[i + 1])
         |   ELSE [] END AS grams FROM t)
         |SELECT doc_id, len(grams) AS n_grams,
         |  md5(array_to_string(grams, '|')) AS grams_md5
         |FROM g ORDER BY doc_id""".stripMargin,
    "cat_assemble" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(['o_orderstatus_' || o_orderstatus,
        |                 'o_orderpriority_' || o_orderpriority]) AS token
        |  FROM orders)
        |GROUP BY token ORDER BY token""".stripMargin,
    "gram_assemble" ->
      s"""WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '$splitRe'),
         |     x -> length(x) > 0) AS toks FROM documents),
         | g AS (SELECT doc_id, toks,
         |   CASE WHEN len(toks) >= 2 THEN
         |     list_transform(generate_series(1, len(toks) - 1),
         |       i -> toks[i] || ' ' || toks[i + 1])
         |   ELSE [] END AS bi,
         |   CASE WHEN len(toks) >= 3 THEN
         |     flatten(list_transform(generate_series(3, 5), w ->
         |       CASE WHEN len(toks) >= w THEN
         |         list_transform(generate_series(1, len(toks) - w + 1),
         |           i -> toks[i] || ' & ' || toks[i + w - 1])
         |       ELSE [] END))
         |   ELSE [] END AS sk FROM t),
         | u AS (SELECT doc_id, list_concat(list_concat(toks, bi), sk) AS allg FROM g)
         |SELECT doc_id, len(allg) AS n_grams,
         | md5(array_to_string(allg, '|')) AS grams_md5
         |FROM u ORDER BY doc_id""".stripMargin,
    "tfidf_stats" ->
      s"""WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text, '$splitRe'),
         |     x -> length(x) > 0) AS toks FROM documents),
         | td AS (SELECT doc_id, unnest(toks) AS term FROM toks),
         | stats AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df,
         |     count(*)::BIGINT AS tf_total FROM td GROUP BY term),
         | n AS (SELECT count(*) AS m FROM documents)
         |SELECT term, df, round(ln((m + 1.0) / (df + 1.0)), 6) AS idf, tf_total
         |FROM stats, n WHERE df >= 5 ORDER BY term""".stripMargin,
    "binning_intervals" ->
      """SELECT CASE WHEN o_totalprice < 100000 THEN 0
        |            WHEN o_totalprice < 200000 THEN 1
        |            WHEN o_totalprice < 400000 THEN 2
        |            ELSE 3 END::BIGINT AS bucket,
        | count(*) AS n, round(min(o_totalprice), 2) AS lo,
        | round(max(o_totalprice), 2) AS hi
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "doc_keywords" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |   FROM documents),
        | t AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks
        |   WHERE length(term) > 0 GROUP BY 1, 2),
        | d AS (SELECT term, count(*)::BIGINT AS df FROM t GROUP BY 1),
        | n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        | sc AS (SELECT doc_id, term,
        |     round(tf * ln(n_docs / df), 6) AS score
        |   FROM t JOIN d USING (term), n),
        | r AS (SELECT doc_id, term, score, row_number() OVER
        |     (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk FROM sc)
        |SELECT doc_id, rnk, term, score FROM r WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,
    "pii_scrub" ->
      """WITH txt AS (
        |  SELECT 'customer' AS src, c_name AS raw FROM customer
        |  UNION ALL
        |  SELECT 'events' AS src, props AS raw FROM events),
        | red AS (SELECT src, raw,
        |   regexp_replace(regexp_replace(raw, '[0-9]{4,}', '_class_id', 'g'),
        |                  '[0-9]+', '_class_num', 'g') AS red FROM txt)
        |SELECT src, count(*) AS n_rows,
        | sum(CASE WHEN red <> raw THEN 1 ELSE 0 END)::BIGINT AS n_redacted,
        | count(DISTINCT red)::BIGINT AS n_forms,
        | min(red) AS min_form,
        | sum(length(raw))::BIGINT AS n_chars_in,
        | sum(length(red))::BIGINT AS n_chars_out
        |FROM red GROUP BY src ORDER BY src""".stripMargin)
}
