package graft

import org.apache.spark.sql.functions._

/** Config-driven corpus cleaning — the training-data twin of
  * PipelineRunnerSpec's flows, over the real documents table. */
class CorpusRunnerSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def conf(stepsJson: String) = config.GraftConf.fromJson(
    s"""{
      |  "project": {"name": "corpus-spec", "root": "/tmp/graft-corpus-spec"},
      |  "data": {"source": "parquet://$dir/documents.parquet"},
      |  "columns": {"response": "lang"},
      |  "corpus": {"steps": [$stepsJson]}
      |}""".stripMargin)

  behavior of "CorpusRunner"

  it should "run the cleaning chain with per-step row accounting" in {
    val c = conf(
      """{"op": "lang_filter", "keepLangs": ["en", "de"]},
        |{"op": "dedup_exact"},
        |{"op": "token_bounds", "minTokens": 10, "maxTokens": 10000},
        |{"op": "source_mix", "quota": 5}""".stripMargin)
    val result = CorpusRunner.run(spark, c, savepointing = true)
    val m = result.metrics
    m("rows_input") shouldBe 500.0
    // monotone non-increasing: every step only removes rows
    val chain = Seq("rows_input", "rows_after_1_lang_filter",
      "rows_after_2_dedup_exact", "rows_after_3_token_bounds",
      "rows_after_4_source_mix").map(m)
    chain.sliding(2).foreach { case Seq(a, b) => b should be <= a }
    // step semantics check against independent computations
    val docs = Tables.documents(spark, dir)
    m("rows_after_1_lang_filter") shouldBe
      docs.filter(col("lang").isin("en", "de")).count().toDouble
    m("rows_after_2_dedup_exact") shouldBe
      docs.filter(col("lang").isin("en", "de"))
        .select(md5(lower(trim(col("text"))))).distinct().count().toDouble
    // the cleaned corpus savepoint round-trips
    result.savepoints.load(spark, "corpus", 0, "clean")
      .count().toDouble shouldBe m("rows_after_4_source_mix")
  }

  it should "resume after the last savepointed step and reproduce the same corpus" in {
    val c = conf(
      """{"op": "lang_filter", "keepLangs": ["en", "de"]},
        |{"op": "dedup_exact"},
        |{"op": "token_bounds", "minTokens": 10, "maxTokens": 10000}""".stripMargin)
    // full run with per-step savepoints
    val full = CorpusRunner.run(spark, c, savepointing = true)
    val expected = full.corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    // wipe the LAST step's savepoint: resume must restart from step 2
    val lastPath = new java.io.File(
      full.savepoints.path("corpus_step3_token_bounds", 0, "clean"))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(lastPath)
    val resumed = CorpusRunner.run(spark, c, resume = true)
    resumed.metrics("resumed_after_step") shouldBe 2.0
    // the skipped steps leave no row metric; the re-run step does
    resumed.metrics should not contain key ("rows_after_1_lang_filter")
    resumed.metrics should contain key ("rows_after_3_token_bounds")
    resumed.corpus.select("doc_id").collect()
      .map(_.getLong(0)).toSet shouldBe expected
  }

  it should "scrub PII in place without changing the row count or schema" in {
    val c = conf("""{"op": "pii_scrub", "pairs": [["[aeiou]", "_v"]]}""")
    val result = CorpusRunner.run(spark, c)
    result.metrics("rows_after_1_pii_scrub") shouldBe 500.0
    result.corpus.columns shouldBe Tables.documents(spark, dir).columns
    // every vowel redacted
    result.corpus.filter(col("text").rlike("[aeiou]")).count() shouldBe 0
  }

  it should "canonicalize text in place through the normalize step" in {
    val c = conf("""{"op": "normalize"}""")
    val result = CorpusRunner.run(spark, c)
    result.metrics("rows_after_1_normalize") shouldBe 500.0
    result.corpus.columns shouldBe Tables.documents(spark, dir).columns
    // canonical: no upper case, no double spaces, no leading/trailing space
    result.corpus.filter(col("text").rlike("[A-Z]|\\s\\s|^\\s|\\s$"))
      .count() shouldBe 0
  }

  it should "split docs into covering chunks through the chunk step" in {
    import org.apache.spark.sql.functions.{size => fsize, split => fsplit, max => fmax}
    val c = conf("""{"op": "chunk", "window": 16}""") // stride 0 → 16
    val result = CorpusRunner.run(spark, c)
    val docs = Tables.documents(spark, dir)
    val out = result.corpus
    out.columns shouldBe docs.columns
    // every chunk is <= window tokens
    out.filter(fsize(fsplit(col("text"), " ")) > 16).count() shouldBe 0
    out.select("doc_id").distinct().count() shouldBe out.count() // unique ids
    // recover the original id: newId = id*C + i with C = max-chunks + 2,
    // derived here exactly as the step derives it
    val C = docs
      .selectExpr("CAST(ceil(greatest(size(split(text, ' ')) - 16, 0) / 16.0) AS LONG) + 2 AS c")
      .agg(fmax("c")).head().getLong(0)
    // with stride == window the in-order chunks CONCATENATE back to the
    // original text — no token lost, none duplicated
    val glued = out
      .withColumn("__orig", (col("doc_id") / C).cast("long"))
      .withColumn("__i", col("doc_id") % C)
      .groupBy("__orig")
      .agg(org.apache.spark.sql.functions.expr(
        "array_join(transform(sort_array(collect_list(struct(__i, text))), x -> x.text), ' ')")
        .as("t"))
    val orig = docs.select(col("doc_id").as("__orig"), col("text").as("t0"))
    glued.join(orig, "__orig")
      .filter(col("t") =!= col("t0")).count() shouldBe 0
    result.metrics("rows_after_1_chunk") shouldBe out.count().toDouble
  }

  it should "lay the corpus out in curriculum order through the curriculum step" in {
    val c = conf("""{"op": "curriculum", "tiers": 5}""")
    val result = CorpusRunner.run(spark, c)
    val out = result.corpus
    val docs = Tables.documents(spark, dir)
    out.count() shouldBe docs.count() // ordering, not filtering
    (out.columns.toSet -- docs.columns.toSet) shouldBe Set("cur_tier", "cur_ord")
    val rows = out.select(col("cur_tier"), col("cur_ord"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(col("text"), " "))
          .cast("long").as("ntok"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // cur_ord is a permutation of 1..n
    rows.map(_._2).sorted.toSeq shouldBe (1L to rows.length.toLong)
    // tiers are contiguous runs of the order (easy band finishes first)
    val byTier = rows.groupBy(_._1)
    byTier.keys.toSeq.sorted.sliding(2).foreach {
      case Seq(a, b) =>
        byTier(a).map(_._2).max should be < byTier(b).map(_._2).min
      case _ =>
    }
    // difficulty actually rises: first tier's mean tokens < last tier's
    val tmin = byTier.keys.min; val tmax = byTier.keys.max
    val meanOf = (t: Long) =>
      byTier(t).map(_._3).sum.toDouble / byTier(t).length
    meanOf(tmin) should be < meanOf(tmax)
    // validator: bad tiers is rejected loudly
    val bad = conf("""{"op": "curriculum", "tiers": 0}""")
    intercept[IllegalArgumentException](CorpusRunner.run(spark, bad))
  }

  it should "re-deal the in-tier permutation per epoch salt, keeping tiers fixed" in {
    val docs = Tables.documents(spark, dir)
    def epoch(salt: String) = queries.LlmData
      .curriculumOrderOf(docs, "doc_id", "n_chars", 5, salt)
      .checkpointed().collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val e0 = epoch("")       // the default coin
    val e1 = epoch("epoch1")
    val e2 = epoch("epoch2")
    e1.keySet shouldBe e0.keySet
    // tiers are a pure function of the scores — identical across epochs
    e0.foreach { case (id, (tier, _)) =>
      e1(id)._1 shouldBe tier
      e2(id)._1 shouldBe tier
    }
    // each epoch's order is a permutation of 1..n …
    Seq(e0, e1, e2).foreach { e =>
      e.values.map(_._2).toSeq.sorted shouldBe (1L to e.size.toLong)
    }
    // … and a DIFFERENT permutation per salt (in-tier re-deal)
    e1.count { case (id, (_, ord)) => e0(id)._2 != ord } should be > 0
    e2.count { case (id, (_, ord)) => e1(id)._2 != ord } should be > 0
    // same salt ⇒ bit-identical layout (reproducibility)
    epoch("epoch1") shouldBe e1
  }

  it should "reject invalid corpus configs with every violation listed" in {
    val bad = conf("""{"op": "lang_filter"}, {"op": "nope"}""")
    val ex = intercept[IllegalArgumentException](CorpusRunner.run(spark, bad))
    ex.getMessage should (include ("keepLangs") and include ("nope"))
  }

  it should "reduce near-dup clusters to one representative in dedup_minhash" in {
    val cc = config.CorpusConf(steps = Seq(
      config.CorpusStepConf(op = "dedup_minhash")))
    val docs = Tables.documents(spark, dir)
    val kept = CorpusRunner.applyStep(docs, cc.steps.head, cc).cache()
    val pairs = queries.LlmData.minhashPairsHeld(docs, "doc_id", "text")
      .checkpointed().select("da", "db")
    pairs.count() should be > 0L // the fixture does contain near-dups
    kept.count() should be < docs.count()
    // no two kept docs are still near-duplicates of each other
    kept.select(col("doc_id").as("da")).join(pairs, "da")
      .join(kept.select(col("doc_id").as("db")), "db")
      .count() shouldBe 0
    // every dropped doc's cluster representative (its min label) is kept
    val labels = queries.LlmData.componentLabels(spark, pairs)
    val reps = labels.filter(col("lbl") < col("doc_id"))
      .select("lbl").distinct()
    reps.join(kept.select(col("doc_id").as("lbl")), Seq("lbl"), "left_anti")
      .count() shouldBe 0
  }

  it should "gate span-duplicated docs against the whole-corpus profile" in {
    val cc = config.CorpusConf(steps = Seq(
      config.CorpusStepConf(op = "span_dedup", threshold = 0.2)))
    val docs = Tables.documents(spark, dir)
    val kept = CorpusRunner.applyStep(docs, cc.steps.head, cc)
    val profile = queries.LlmData.dupSegmentsHeld(docs, "doc_id", "text", 8).checkpointed()
    val over = profile.filter(col("dup_frac") > 0.2)
    over.count() should be > 0L // the near-dup fixture trips the gate
    kept.count() shouldBe docs.count() - over.count()
    // exactly the over-threshold docs are gone
    kept.join(over.select("doc_id"), Seq("doc_id"), "left_semi")
      .count() shouldBe 0
  }

  it should "keep only docs clearing the DSIR importance threshold" in {
    val cc = config.CorpusConf(steps = Seq(
      config.CorpusStepConf(op = "dsir_sample", keepLangs = Seq("en"),
        threshold = 0.0)))
    val docs = Tables.documents(spark, dir)
    val kept = CorpusRunner.applyStep(docs, cc.steps.head, cc).cache()
    val n = kept.count()
    n should be > 0L
    n should be < docs.count() // the gate must actually split the corpus
    // the kept slice skews toward the target language
    val keptEnFrac = kept.filter(col("lang") === "en").count().toDouble / n
    val allEnFrac = docs.filter(col("lang") === "en").count().toDouble /
      docs.count()
    keptEnFrac should be > allEnFrac
  }

  it should "keep the lowest-perplexity fraction through ppl_gate" in {
    val cc = config.CorpusConf(steps = Seq(
      config.CorpusStepConf(op = "ppl_gate", threshold = 0.4)))
    val docs = Tables.documents(spark, dir)
    val kept = CorpusRunner.applyStep(docs, cc.steps.head, cc).cache()
    val n = docs.count()
    // equi-depth percentiles: 40% within one bucket's rounding
    kept.count().toDouble shouldBe (0.4 * n) +- (n / 100.0 + 1)
    // the kept docs are exactly the lowest-perplexity ranks
    val ppl = queries.LlmData.unigramPplHeld(docs, "doc_id", "text")
      .rows().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val keptMax = kept.collect().map(r => ppl(r.getLong(0))).max
    val droppedMin = docs.join(kept.select("doc_id"), Seq("doc_id"), "left_anti")
      .collect().map(r => ppl(r.getLong(0))).min
    keptMax should be <= droppedMin
  }

  it should "keep the top fraction of EACH source through rank_gate" in {
    import spark.implicits._
    val cc = config.CorpusConf(steps = Seq(
      config.CorpusStepConf(op = "rank_gate", threshold = 0.3,
        groupColumn = "source")))
    // stage a SINGLE-doc source: per-source fairness means it must keep
    // its one doc (the ⌈threshold·n⌉-with-floor-1 keep count), where a
    // pct_rank >= 1-threshold cut would silently empty it
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(Seq((90000L, "lone survivor doc of its source",
        "en", "tiny_src", 31L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val kept = CorpusRunner.applyStep(docs, cc.steps.head, cc).cache()
    kept.filter(col("source") === "tiny_src").count() shouldBe 1L
    // per-SOURCE fairness: every source keeps ⌈30%⌉ of its own docs — a
    // global cutoff would instead empty the low-entropy sources
    val perSrcAll = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val perSrcKept = kept.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perSrcAll.foreach { case (src, n) =>
      perSrcKept.getOrElse(src, 0L) shouldBe
        math.max(1L, math.ceil(0.3 * n).toLong)
    }
    // and within each source the kept docs are exactly the TOP entropy
    // ranks: max dropped entropy <= min kept entropy (ties by doc_id)
    val ent = queries.LlmData.docEntropyOf(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    docs.select("doc_id", "source").collect()
      .groupBy(_.getString(1)).foreach { case (_, rows) =>
        val (keptE, dropE) = rows.map(_.getLong(0))
          .partition(keptIds.contains)
        if (keptE.nonEmpty && dropE.nonEmpty)
          keptE.map(ent).min should be >= dropE.map(ent).max - 1e-9
      }
    // validator rejects an out-of-range fraction
    val errs = config.ConfigValidator.validate(conf(
      """{"op": "rank_gate", "threshold": 1.5}"""))
    errs.exists(_.message.contains("rank_gate")) shouldBe true
  }

  it should "keep one representative per signature group in dedup_simhash" in {
    val cc = config.CorpusConf(steps = Seq(
      config.CorpusStepConf(op = "dedup_simhash", maxHamming = 0)))
    val docs = Tables.documents(spark, dir)
    val kept = CorpusRunner.applyStep(docs, cc.steps.head, cc)
    // at radius 0 the components are exactly the identical-signature
    // groups (equality is transitive), so keep = min doc_id per signature
    val sigs = queries.LlmData.simhashSig(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = sigs.groupBy(_._2).map(_._2.map(_._1).min).toSet
    kept.select("doc_id").collect().map(_.getLong(0)).toSet shouldBe expect
    expect.size should be < sigs.length // the tiny vocab plants collisions
  }

  it should "drop only below-threshold-entropy docs through entropy_gate" in {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .union(Seq((100000L, "spam spam spam spam spam spam spam spam",
        "en", "src0", 40L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val cc = config.CorpusConf(steps = Seq(
      config.CorpusStepConf(op = "entropy_gate", threshold = 1.0)))
    val kept = CorpusRunner.applyStep(docs, cc.steps.head, cc).cache()
    // the planted zero-entropy doc is gone …
    kept.filter(col("doc_id") === 100000L).count() shouldBe 0
    // … and exactly the docs at/above 1.0 bits survive
    val ent = queries.LlmData.docEntropyOf(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    ent.foreach { case (id, bits) =>
      keptIds.contains(id) shouldBe (bits >= 1.0)
    }
  }

  it should "flatten source shares under temp_mix within the budget" in {
    val cc = config.CorpusConf(steps = Seq(
      config.CorpusStepConf(op = "temp_mix", quota = 200, alpha = 0.5)))
    val docs = Tables.documents(spark, dir)
    val kept = CorpusRunner.applyStep(docs, cc.steps.head, cc).cache()
    // Bernoulli total lands in the budget's neighborhood
    kept.count() should (be > 100L and be < 400L)
    // deterministic: same frame, same membership, any partitioning
    val again = CorpusRunner.applyStep(docs.repartition(5), cc.steps.head, cc)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    kept.select("doc_id").collect().map(_.getLong(0)).toSet shouldBe again
  }

  it should "attach 1/n_copies weights through soft_dedup, conserving unit mass per cluster" in {
    import spark.implicits._
    val docs = (1 to 60).map(i => (i.toLong, "alpha bravo charlie delta echo", "dup", "en")) ++
      (101 to 160).map(i => (i.toLong, s"unique document number $i with distinct words", "uniq", "en"))
    val df = docs.toDF("doc_id", "text", "source", "lang")
    val cc = config.CorpusConf(steps = Seq(config.CorpusStepConf(op = "soft_dedup")))
    val out = CorpusRunner.applyStep(df, cc.steps.head, cc).cache()
    out.count() shouldBe 120 // soft: every copy KEPT
    // mass conservation: each exact-dup cluster sums to 1 unit of weight
    val bySrc = out.groupBy("source").agg(round(sum("weight"), 4).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    bySrc("dup") shouldBe 1.0 // 60 copies x 1/60
    bySrc("uniq") shouldBe 60.0 // 60 distinct docs x 1.0
    // the weight column rides through a chunk hop untouched per chunk
    val chunked = CorpusRunner.applyStep(out,
      config.CorpusStepConf(op = "chunk", window = 3, stride = 3), cc)
    chunked.columns should contain ("weight")
    chunked.filter(col("weight") =!= 1.0 && col("weight") =!= 0.016667).count() shouldBe 0 // round(1/60, 6)
  }

  it should "consume effective token mass in token_mix after soft_dedup" in {
    import spark.implicits._
    val docs = (1 to 60).map(i => (i.toLong, "alpha bravo charlie delta echo", "dup", "en")) ++
      (101 to 160).map(i => (i.toLong, s"unique document number $i with distinct words", "uniq", "en"))
    val df = docs.toDF("doc_id", "text", "source", "lang")
    val cc = config.CorpusConf(steps = Nil)
    val mix = config.CorpusStepConf(op = "token_mix", quota = 200, alpha = 0.5)
    def keptDup(frame: org.apache.spark.sql.DataFrame): Long =
      CorpusRunner.applyStep(frame, mix, cc).filter(col("source") === "dup").count()
    // raw counting: "dup" looks like a 60-doc source and gets flattened
    val rawKept = keptDup(df)
    // soft-deduped: "dup" is EFFECTIVELY one doc's token mass, so the
    // alpha<1 rare-group upweight gives it a HIGHER keep probability
    val soft = CorpusRunner.applyStep(df,
      config.CorpusStepConf(op = "soft_dedup"), cc)
    val softKept = keptDup(soft)
    softKept should be >= rawKept
    softKept should be > 0L // upweighted near p=1 under the 200-token quota
  }

  it should "reject soft_dedup configs with a colliding or empty weight column" in {
    val bad = config.GraftConf.fromJson(
      s"""{
        |  "project": {"name": "x", "root": "/tmp/x"},
        |  "data": {"source": "parquet://$dir/documents.parquet"},
        |  "columns": {"response": "lang"},
        |  "corpus": {"weightColumn": "text",
        |    "steps": [{"op": "soft_dedup"}]}
        |}""".stripMargin)
    val errs = config.ConfigValidator.validate(bad)
    errs.exists(_.message.contains("collides")) shouldBe true
  }

  it should "drop eval-overlapping docs through decontam against an external source" in {
    import spark.implicits._
    // eval set = the planted copy of doc 7's text; a clean doc survives
    val evalPath = "/tmp/graft-decontam-eval"
    Tables.documents(spark, dir).filter(col("doc_id") === 7L)
      .select("text").write.mode("overwrite").parquet(evalPath)
    val cc = graft.config.CorpusConf(steps = Seq(
      graft.config.CorpusStepConf(op = "decontam",
        evalSource = s"parquet://$evalPath", threshold = 0.5)))
    val docs = Tables.documents(spark, dir)
    val kept = CorpusRunner.applyStep(docs, cc.steps.head, cc)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    kept should not contain 7L // fully contained in the eval set
    // exactly the docs at/below the overlap threshold survive
    val frac = queries.LlmData.decontamOverlapOf(
        docs, spark.read.parquet(evalPath), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    docs.select("doc_id").collect().map(_.getLong(0)).foreach { d =>
      kept.contains(d) shouldBe (frac(d) <= 0.5)
    }
  }

  it should "drop paraphrase-near docs through semantic_decontam" in {
    // eval set = doc 7's own embedding: doc 7 scores cosine 1.0 to it
    // and must be dropped; every kept doc's max eval cosine is below
    // the threshold (checked against the library function directly)
    val evalPath = "/tmp/graft-semdecontam-eval"
    Tables.embeddings(spark, dir).filter(col("vec_id") === 7L)
      .select("vec_id", "embedding").write.mode("overwrite")
      .parquet(evalPath)
    val cc = graft.config.CorpusConf(steps = Seq(
      graft.config.CorpusStepConf(op = "semantic_decontam",
        evalSource = s"parquet://$evalPath",
        vectorSource = s"parquet://$dir/embeddings.parquet",
        threshold = 0.9)))
    val docs = Tables.documents(spark, dir)
    val kept = CorpusRunner.applyStep(docs, cc.steps.head, cc)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    kept should not contain 7L
    val flagged = queries.LlmData.semanticDecontamHeld(
        Tables.embeddings(spark, dir), spark.read.parquet(evalPath), 0.9)
      .map(_.select("vec_id")).rows().map(_.getLong(0)).toSet
    docs.select("doc_id").collect().map(_.getLong(0)).foreach { d =>
      kept.contains(d) shouldBe !flagged.contains(d)
    }
  }

  it should "fail loudly when the semantic eval set exceeds the broadcast bound" in {
    val e = Tables.embeddings(spark, dir)
    val ex = intercept[IllegalArgumentException] {
      queries.LlmData.semanticDecontamHeld(e, e, 0.3, maxEvalRows = 10)
    }
    ex.getMessage should include("broadcast bound")
    intercept[IllegalArgumentException] {
      queries.LlmData.semanticDecontamHeld(e, e.filter(lit(false)), 0.3)
    }.getMessage should include("empty")
  }

  it should "rewrite duplicated blocks keep-first through span_scrub" in {
    import spark.implicits._
    // doc A owns block X; doc B = X + own tail; doc C = X alone (fully
    // duplicated → dropped). w=4 blocks align on multiples of 4 tokens.
    val x = "q w e r"
    val docs = Seq(
      (1L, s"$x a b c d", "en", "src0", 10L),
      (2L, s"$x z y x w", "en", "src0", 10L),
      (3L, x, "en", "src0", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val cc = config.CorpusConf(steps = Seq(
      config.CorpusStepConf(op = "span_scrub", window = 4)))
    val out = CorpusRunner.applyStep(docs, cc.steps.head, cc)
      .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(1L) shouldBe s"$x a b c d" // first occurrence: untouched
    out(2L) shouldBe "z y x w"     // duplicate block scrubbed, tail kept
    out.contains(3L) shouldBe false // scrubbed to nothing → dropped
    // schema preserved apart from the rewritten text
    CorpusRunner.applyStep(docs, cc.steps.head, cc)
      .columns.sorted shouldBe docs.columns.sorted
  }

  it should "thin sources toward the token budget under token_mix" in {
    val cc = config.CorpusConf(steps = Seq(
      config.CorpusStepConf(op = "token_mix", quota = 5000, alpha = 0.5)))
    val docs = Tables.documents(spark, dir)
    val kept = CorpusRunner.applyStep(docs, cc.steps.head, cc).cache()
    // the kept TOKEN total lands in the budget's neighborhood (Bernoulli)
    val keptTokens = kept
      .selectExpr("sum(size(split(text, ' '))) AS t").collect()(0).getLong(0)
    val totalTokens = docs
      .selectExpr("sum(size(split(text, ' '))) AS t").collect()(0).getLong(0)
    keptTokens should be < totalTokens
    keptTokens.toDouble should (be > 2500.0 and be < 10000.0)
    // schema untouched, membership deterministic under repartition
    kept.columns.sorted shouldBe docs.columns.sorted
    val again = CorpusRunner.applyStep(docs.repartition(5), cc.steps.head, cc)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    kept.select("doc_id").collect().map(_.getLong(0)).toSet shouldBe again
  }

  it should "keep source_mix membership independent of partition layout" in {
    // determinism contract: a doc's fate is a pure function of its id and
    // its group's size — no RNG state, so any partitioning/cluster layout
    // selects the same rows
    val cc = config.CorpusConf(steps = Seq(
      config.CorpusStepConf(op = "source_mix", quota = 10)))
    val docs = Tables.documents(spark, dir)
    val a = CorpusRunner.applyStep(docs, cc.steps.head, cc)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = CorpusRunner.applyStep(docs.repartition(7), cc.steps.head, cc)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    a should not be empty
    b shouldBe a
  }

  it should "release what each step persisted, keeping only the returned corpus" in {
    // every step that caches or checkpoints inside its operators, chained
    // in memory: after the run only the last step's checkpoint (the
    // returned corpus) is persisted, and the accounting and corpus equal
    // the step-by-step loop that keeps every intermediate alive
    import org.apache.spark.sql.execution.LogicalRDD
    val evalPath = "/tmp/graft-corpus-release-eval"
    Tables.embeddings(spark, dir).filter(col("vec_id") % 50 === 7L)
      .select("vec_id", "embedding").write.mode("overwrite").parquet(evalPath)
    val c = conf(
      s"""{"op": "dedup_minhash", "threshold": 0.7},
        |{"op": "span_scrub", "window": 8},
        |{"op": "span_dedup", "window": 8, "threshold": 0.5},
        |{"op": "ppl_gate", "threshold": 0.9},
        |{"op": "semantic_decontam", "evalSource": "parquet://$evalPath",
        | "vectorSource": "parquet://$dir/embeddings.parquet", "threshold": 0.3},
        |{"op": "dsir_sample", "keepLangs": ["en"], "threshold": 0.0},
        |{"op": "rank_gate", "threshold": 0.8},
        |{"op": "source_mix", "quota": 15, "groupColumn": "source"},
        |{"op": "dedup_simhash", "maxHamming": 0}""".stripMargin)
    val sc = spark.sparkContext
    def relations = org.apache.spark.DriverBlocks.broadcastRelations(sc)
    val relations0 = relations
    // the entry count is package-private in Spark; it is a public method
    // in the bytecode
    val cacheManager = spark.sharedState.cacheManager
    def entries = cacheManager.getClass.getMethod("numCachedEntries")
      .invoke(cacheManager).asInstanceOf[Int]
    val before = sc.getPersistentRDDs.keySet
    val entries0 = entries
    val result = CorpusRunner.run(spark, c)
    val corpusRdd = result.corpus.queryExecution.logical match {
      case r: LogicalRDD => r.rdd
    }
    // the counting job filled the checkpoint: its lineage is cut
    corpusRdd.isCheckpointed shouldBe true
    (sc.getPersistentRDDs.keySet -- before) shouldBe Set(corpusRdd.id)
    entries shouldBe entries0
    // every step's hash-join broadcasts (source_mix keys its quota table
    // on a string) are destroyed once the step is materialized
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    // destroy() removes the blocks asynchronously
    eventually(timeout(10.seconds)) { (relations -- relations0) shouldBe empty }

    val cc = c.corpus.get
    val input = io.SourceReader.read(spark, c.data, c.columns)
    val m = Map.newBuilder[String, Double]
    m += "rows_input" -> input.count().toDouble
    val expected = cc.steps.zipWithIndex.foldLeft(input) { case (df, (step, i)) =>
      val out = CorpusRunner.applyStep(df, step, cc).localCheckpoint(false)
      m += s"rows_after_${i + 1}_${step.op}" -> out.count().toDouble
      out
    }
    result.metrics.filter(_._1.startsWith("rows_")) shouldBe m.result()
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).sorted.toSeq
    rows(result.corpus) shouldBe rows(expected)
    result.metrics("rows_after_9_dedup_simhash") should be > 0.0
    result.metrics("rows_after_9_dedup_simhash") should be <
      result.metrics("rows_input")
  }

  it should "label components identically on the distributed and driver paths" in {
    import spark.implicits._
    // a 10-node chain listed out of order, a pair, and a triangle
    val pairs = (Seq((5L, 6L), (1L, 2L), (9L, 10L), (3L, 4L), (7L, 8L),
      (2L, 3L), (6L, 7L), (4L, 5L), (8L, 9L), (20L, 21L),
      (30L, 31L), (31L, 32L), (30L, 32L))).toDF("da", "db")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    val driver = labels(queries.LlmData.componentLabels(spark, pairs))
    driver.map(_._2).distinct shouldBe Seq(1L, 20L, 30L)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val distributed = queries.LlmData.componentLabels(spark, pairs,
      maxDriverEdges = 0)
    labels(distributed) shouldBe driver
    // edges and every round's labels released: at most the returned
    // checkpoint is left
    (sc.getPersistentRDDs.keySet -- before).size should be <= 1
    // a round budget the chain cannot converge in fails loudly
    intercept[IllegalStateException] {
      queries.LlmData.componentLabels(spark, pairs, maxDriverEdges = 0,
        maxRounds = 1)
    }.getMessage should include("after 1 rounds")
  }
}
