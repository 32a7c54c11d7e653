package graft

import graft.config.{ConfigValidator, CorpusConf, CorpusStepConf, GraftConf}
import graft.functions.GraftFunctions.textDedupKey
import graft.io.{Savepoints, SourceReader}
import graft.plans.Held
import graft.text.{RegexReplacer, TextQuality}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The corpus-cleaning orchestrator — the training-data twin of
  * [[PipelineRunner]]: one JSON config drives read → ordered cleaning
  * steps → cleaned-corpus savepoint + per-step row accounting.
  *
  * Every step is a declarative DataFrame transform of an operator that
  * also exists (and is oracle-checked) in the query packs:
  *
  *  - `dedup_exact`     keep the lowest-id copy per normalized-text hash
  *                      (LlmData.dedupExact semantics)
  *  - `dedup_minhash`   MinHash-LSH near-dup clusters → keep one
  *                      representative per cluster (LlmData.minhashPairsHeld
  *                      + componentLabels)
  *  - `quality_gate`    TextQuality heuristics gate (quality_filter)
  *  - `lang_filter`     keep the configured languages
  *  - `token_bounds`    whitespace-token count within [min, max]
  *  - `pii_scrub`       ordered-class regex redaction IN PLACE on the text
  *                      column (pii_scrub / word_classes_replacement)
  *  - `span_dedup`      drop docs whose duplicated-span fraction across
  *                      the corpus exceeds the threshold (dup_segments)
  *  - `span_scrub`      rewrite docs with globally-duplicated w-token
  *                      blocks removed, keep-first (the C4 line dedup;
  *                      span_scrub query semantics)
  *  - `dsir_sample`     keep docs whose DSIR importance weight against the
  *                      keepLangs target slice clears the threshold
  *                      (dsir_weights)
  *  - `ppl_gate`        keep the lowest-perplexity `threshold` fraction
  *                      under the corpus-fit unigram LM (unigram_ppl /
  *                      quality_tiers semantics — the CCNet head gate)
  *  - `source_mix`      deterministic per-group quota downsampling
  *                      (source_mix_sample semantics)
  *  - `temp_mix`        temperature-flattened mixing: keep probability
  *                      min(1, quota·n^(α−1)/Σ n^α) per group
  *                      (source_temp_mix semantics, XLM-R/mC4 α-sampling)
  *  - `token_mix`       temp_mix with the budget measured in TOKENS —
  *                      what training actually consumes
  *                      (source_token_mix semantics)
  *  - `model_gate`      classifier-based quality gate: fit a linear
  *                      target-vs-rest model on the trusted slice and
  *                      keep corpus docs that look like it
  *                      (text.QualityModel — the CCNet/GPT-3 filter)
  *  - `rank_gate`       per-GROUP fairness gate: keep the top
  *                      `threshold` fraction of EACH groupColumn slice
  *                      by unigram entropy (score_rank_norm semantics —
  *                      a global cutoff would empty weak sources)
  *  - `decontam`        drop docs whose shingle overlap with an external
  *                      eval set (read via evalSource scheme dispatch)
  *                      exceeds the threshold (decontam_overlap)
  *  - `semantic_decontam` drop docs whose EMBEDDING's max cosine to any
  *                      external eval embedding (evalSource +
  *                      vectorSource scheme dispatch) clears the
  *                      threshold — the paraphrase-leakage scrub
  *                      (semantic_decontam semantics; eval side
  *                      validated against the broadcast bound)
  *  - `chunk`           split each doc into stride-advanced token
  *                      windows of `window` tokens (doc_chunk
  *                      semantics; stride 0 → non-overlapping) — run
  *                      before packing so bins hold context-window
  *                      pieces
  *
  * Scale notes (100 TB): gates and the scrub are row-local (codegen, no
  * shuffle); dedup shuffles on the uniform md5 hash; source_mix broadcasts
  * one row per group. Each step's output is materialized once, by its
  * savepoint or by a local checkpoint whose filling job also counts its
  * rows, so the row accounting costs no job of its own in memory (a
  * savepoint's count reads the written parquet). Every operator hands the
  * step the caches and checkpoints it made as a [[Held]] (the rank gates
  * and the curriculum layout their range sorts, the dedup steps their
  * pair caches and component labels); once the step's output exists,
  * those and the previous step's checkpoint are released, and only the
  * returned corpus stays persisted. An in-memory step also destroys the
  * broadcast relations its checkpoint's job built ([[Held.counted]]), so
  * no executor keeps a copy of them until the driver's next GC. A
  * savepointing step leaves its broadcasts to the ContextCleaner: the
  * parquet writer plans and runs the step under a query execution of its
  * own, which the step's frame does not reach.
  */
object CorpusRunner extends Logging {

  final case class CorpusResult(
      corpus: DataFrame,
      metrics: Map[String, Double],
      savepoints: Savepoints)

  /** @param savepointing write the per-step cleaned frames as parquet
    *                      savepoints (plus the final corpus + metrics)
    * @param resume       restart after the LAST step whose savepoint
    *                     exists — the compute-or-load-per-step contract a
    *                     multi-day 100 TB cleaning run needs (same shape
    *                     as [[PipelineRunner.run]]'s resume) */
  def run(spark: SparkSession, conf: GraftConf,
          savepointing: Boolean = false,
          resume: Boolean = false): CorpusResult = {
    val cc = conf.corpus.getOrElse(throw new IllegalArgumentException(
      "corpus mode requires the config's corpus section"))
    ConfigValidator.validateOrThrow(conf)
    val sp = new Savepoints(conf.project)
    if (savepointing) sp.saveConfigSnapshot(conf.toString)
    def stepKey(i: Int) = s"corpus_step${i + 1}_${cc.steps(i).op}"

    val m = Map.newBuilder[String, Double]
    // resume: skip every step up to the last savepointed one
    val resumeAt: Option[Int] =
      if (resume) cc.steps.indices.reverse.find(i => sp.exists(stepKey(i), 0, "clean"))
      else None
    val (startDf, startIdx) = resumeAt match {
      case Some(i) =>
        logInfo(s"resuming: step ${i + 1} ${cc.steps(i).op} loaded from savepoint")
        m += s"resumed_after_step" -> (i + 1).toDouble
        (sp.load(spark, stepKey(i), 0, "clean"), i + 1)
      case None =>
        val input = SourceReader.read(spark, conf.data, conf.columns)
        m += "rows_input" -> input.count().toDouble
        (input, 0)
    }

    val cleaned = cc.steps.zipWithIndex.drop(startIdx)
      .foldLeft(startDf) { case (df, (step, i)) =>
        val t0 = System.nanoTime()
        val stepped = stepOf(df, step, cc)
        // truncate lineage between steps: several steps reference their
        // input TWICE (profile-and-join-back shapes — dedup, span gates,
        // decontam, ppl), so an unbroken chain grows the logical plan
        // EXPONENTIALLY in the number of such steps and OOMs the driver
        // on plan/codegen alone. Savepointing runs read the step back
        // from parquet (which also makes resume exact); in-memory runs
        // cut the lineage with a local checkpoint, filled and counted by
        // one job. Once the output exists on its own, nothing the step
        // persisted, nor the previous step's checkpoint, is read again.
        val (out, n) =
          if (savepointing) {
            sp.save(stepped.frame, stepKey(i), 0, "clean")
            stepped.release()
            val back = sp.load(spark, stepKey(i), 0, "clean")
            (back, back.count())
          } else {
            val counted = stepped.counted()
            if (i > startIdx) Held.release(df)
            counted
          }
        m += s"rows_after_${i + 1}_${step.op}" -> n.toDouble
        m += s"secs_${i + 1}_${step.op}" ->
          math.round((System.nanoTime() - t0) / 1e7) / 100.0
        logInfo(s"corpus step ${i + 1} ${step.op}: $n rows")
        out
      }

    if (savepointing) sp.save(cleaned, "corpus", 0, "clean")
    val metrics = m.result()
    if (savepointing) sp.saveMetrics(metrics, "corpus_metrics")
    CorpusResult(cleaned, metrics, sp)
  }

  /** Per-row effective-mass factor: the soft_dedup weight when the chain
    * has attached one, else 1 — how the mix steps see a soft-deduped
    * corpus without changing behavior for chains that never soft-dedup. */
  private def effWeight(df: DataFrame, cc: CorpusConf)
      : org.apache.spark.sql.Column =
    if (df.columns.contains(cc.weightColumn)) col(cc.weightColumn)
    else lit(1.0)

  /** One cleaning step as a pure DataFrame transform. The caches the
    * step's operators make stay alive for the session; [[run]] releases
    * them once it has materialized the step. */
  def applyStep(df: DataFrame, step: CorpusStepConf, cc: CorpusConf): DataFrame =
    stepOf(df, step, cc).frame

  /** [[applyStep]] plus the exact intermediates the step persisted. */
  private def stepOf(df: DataFrame, step: CorpusStepConf, cc: CorpusConf): Held = {
    val text = cc.textColumn
    val id = cc.idColumn
    step.op match {
      case "dedup_exact" =>
        // keep-list = min id per hash (partial agg on the uniform 128-bit
        // key), then a semi-join on the unique id — never a window sort
        val keep = df
          .groupBy(textDedupKey(col(text)).as("__h"))
          .agg(min(col(id)).as(id))
          .select(id)
        Held(df.join(keep, Seq(id), "left_semi"))
      case "dedup_minhash" =>
        // MinHash-LSH candidates → exact-Jaccard verify → connected
        // components; drop every doc whose component label is a smaller id
        // (keep one representative per near-dup cluster). The pair graph is
        // orders of magnitude smaller than the corpus — see
        // LlmData.minhashPairsHeld / componentLabels for the scale notes.
        val pairs = queries.LlmData
          .minhashPairsHeld(df.select(col(id), col(text)), id, text,
            threshold = step.threshold)
        val labels = queries.LlmData.componentLabels(df.sparkSession,
          pairs.frame.select("da", "db"))
        val dupes = labels.filter(col("lbl") < col("doc_id"))
          .select(col("doc_id").as(id))
        Held(df.join(dupes, Seq(id), "left_anti"), pairs.handles :+ labels)
      case "normalize" =>
        // canonicalize text BEFORE hashing/dedup: lowercase, collapse
        // whitespace runs, trim — row-local codegen'd expressions
        Held(df.withColumn(text,
          trim(regexp_replace(lower(col(text)), "\\s+", " "))))
      case "soft_dedup" =>
        // SlimPajama-style SOFT dedup: KEEP every copy but attach
        // weight = 1/n_copies per exact-duplicate cluster, so duplicated
        // content contributes one copy's worth of mass downstream. The
        // weight column rides through chunk/curriculum untouched (the
        // trainer's sampler consumes it), and the mix steps below switch
        // to effective mass when they see it. Same single shuffle on the
        // uniform md5 key as dedup_exact — nothing beyond that cost.
        Held(df.withColumn("__h", textDedupKey(col(text)))
          .withColumn(cc.weightColumn,
            round(lit(1.0) / count(lit(1)).over(
              org.apache.spark.sql.expressions.Window.partitionBy("__h")), 6))
          .drop("__h"))
      case "quality_gate" =>
        Held(df.filter(TextQuality.keep(text,
          minTokens = step.minTokens, maxTokens = step.maxTokens)))
      case "lang_filter" =>
        Held(df.filter(col(step.langColumn)
          .isin(step.keepLangs.map(l => l: Any): _*)))
      case "token_bounds" =>
        Held(df.filter(size(split(col(text), "\\s+"))
          .between(step.minTokens, step.maxTokens)))
      case "pii_scrub" =>
        val pairs =
          if (step.pairs.nonEmpty) step.pairs.map(p => p(0) -> p(1))
          else Seq("[0-9]{4,}" -> "_class_id", "[0-9]+" -> "_class_num")
        Held(new RegexReplacer().setInputCol(text).setOutputCol("__red")
          .setPairs(pairs)
          .transform(df)
          .withColumn(text, col("__red")).drop("__red"))
      case "exif_scrub" =>
        // pii_scrub's media twin: strip EXIF/ICC/XMP/COM metadata
        // segments from every JPEG blob IN PLACE on the binary column
        // (decoded pixels bit-identical by construction — the coding
        // segments pass through verbatim); non-JPEG blobs and nulls ride
        // through untouched. Row-local, no shuffle.
        require(df.columns.contains(step.mediaColumn),
          s"exif_scrub: no binary column '${step.mediaColumn}' in the frame")
        Held(graft.multimodal.Multimodal.scrubImageMetadata(df, step.mediaColumn))
      case "decontam" =>
        // benchmark decontamination against an EXTERNAL eval set (read
        // through the same scheme dispatch as the main source): drop docs
        // whose eval-shingle overlap fraction exceeds the threshold —
        // the train/eval leakage scrub every published pipeline runs.
        val eval = SourceReader
          .readSource(df.sparkSession, step.evalSource)
          .getOrElse(throw new IllegalArgumentException(
            s"decontam: unreadable evalSource '${step.evalSource}'"))
        val over = queries.LlmData
          .decontamOverlapOf(df.select(col(id), col(text)), eval, id, text)
          .filter(col("frac") > step.threshold)
          .select(col("doc_id").as(id))
        Held(df.join(over, Seq(id), "left_anti"))
      case "semantic_decontam" =>
        // PARAPHRASE decontamination: corpus docs whose embedding's max
        // cosine to any EXTERNAL eval embedding clears the threshold are
        // dropped. Both vector frames arrive through the same scheme
        // dispatch as the main source; the eval side is validated against
        // the broadcast bound inside semanticDecontamHeld (loud failure —
        // an oversized eval suite belongs on the persisted-ANN path).
        val vecs = SourceReader
          .readSource(df.sparkSession, step.vectorSource)
          .getOrElse(throw new IllegalArgumentException(
            s"semantic_decontam: unreadable vectorSource " +
              s"'${step.vectorSource}'"))
        val eval = SourceReader
          .readSource(df.sparkSession, step.evalSource)
          .getOrElse(throw new IllegalArgumentException(
            s"semantic_decontam: unreadable evalSource " +
              s"'${step.evalSource}'"))
        // a decontamination gate must never be silently DISABLED: an id
        // column that doesn't cast to long, or a vectorSource keyed by
        // different ids, would match zero embedding rows and pass every
        // document while the run reports success. One tiny agg validates
        // the cast; the scored count validates coverage.
        val keyed = df.select(col(id).cast("long").as("vec_id"))
        val kr = keyed.agg(count(lit(1)).as("n"),
          count(col("vec_id")).as("nk")).head
        val (nCorpus, nKeyed) = (kr.getLong(0), kr.getLong(1))
        require(nCorpus == nKeyed,
          s"semantic_decontam: id column '$id' does not cast to long for " +
            s"${nCorpus - nKeyed} rows — those docs could never be scored")
        val corpusVecs = vecs.join(keyed, Seq("vec_id"), "left_semi")
        val nScored = corpusVecs.count()
        require(nCorpus == 0 || nScored > 0,
          s"semantic_decontam: vectorSource '${step.vectorSource}' covers " +
            "NONE of the corpus ids — the gate would pass every document")
        if (nScored < nCorpus) logInfo(s"semantic_decontam: " +
          s"${nCorpus - nScored} docs have no embedding row; kept UNSCORED")
        queries.LlmData
          .semanticDecontamHeld(corpusVecs, eval, step.threshold)
          .map(f => df.join(f.select(col("vec_id").as(id)), Seq(id), "left_anti"))
      case "span_scrub" =>
        // C4-style duplicated-span REMOVAL (LlmData.spanScrubHeld): globally
        // duplicated w-token blocks keep only their first occurrence and
        // every doc is rebuilt from its surviving blocks; docs scrubbed to
        // nothing are dropped. Rewrites text IN PLACE — the row count only
        // falls for fully-duplicated docs.
        queries.LlmData
          .spanScrubHeld(df.select(col(id), col(text)), id, text, step.window)
          .map { s =>
            val reb = s.filter(col("n_kept") > 0)
              .select(col("doc_id").as(id), col("rebuilt"))
            df.drop(text).join(reb, Seq(id))
              .withColumnRenamed("rebuilt", text)
          }
      case "span_dedup" =>
        // corpus-wide duplicated-span profile (LlmData.dupSegmentsHeld);
        // drop docs whose duplicated-window fraction exceeds the threshold
        // — the C4/CCNet boilerplate gate. Anti-join on the unique id.
        queries.LlmData
          .dupSegmentsHeld(df.select(col(id), col(text)), id, text, step.window)
          .map(p => df.join(p.filter(col("dup_frac") > step.threshold)
            .select(col("doc_id").as(id)), Seq(id), "left_anti"))
      case "dsir_sample" =>
        // DSIR importance gate (LlmData.dsirWeightsHeld): the target LM is
        // fit on the keepLangs slice; docs scoring below the threshold
        // log-likelihood ratio are dropped. Semi-join on the unique id.
        queries.LlmData
          .dsirWeightsHeld(df.select(col(id), col(text), col(step.langColumn)),
            id, text,
            col(step.langColumn).isin(step.keepLangs.map(l => l: Any): _*))
          .map(w => df.join(w.filter(col("dsir_w") >= step.threshold)
            .select(col("doc_id").as(id)), Seq(id), "left_semi"))
      case "dedup_simhash" =>
        // SimHash Hamming dedup: banded pair join (maxHamming+1 bands →
        // pigeonhole-exact at ANY radius) → connected components → keep
        // the min-id representative per component, like dedup_minhash
        val pairs = queries.LlmData
          .simhashNeardupHeld(df.select(col(id), col(text)), id, text,
            step.maxHamming)
        val labels = queries.LlmData.componentLabels(df.sparkSession,
          pairs.frame.select("da", "db"))
        val dupes = labels.filter(col("lbl") < col("doc_id"))
          .select(col("doc_id").as(id))
        Held(df.join(dupes, Seq(id), "left_anti"), pairs.handles :+ labels)
      case "entropy_gate" =>
        // information-density gate (LlmData.docEntropyOf): drop docs whose
        // unigram entropy falls below `threshold` bits — the degenerate-
        // repetition signal (boilerplate, keyword stuffing) that token
        // counts and length ratios miss. Semi-join on the unique id.
        val keep = queries.LlmData
          .docEntropyOf(df.select(col(id), col(text)), id, text)
          .filter(col("entropy_bits") >= step.threshold)
          .select(col("doc_id").as(id))
        Held(df.join(keep, Seq(id), "left_semi"))
      case "ppl_gate" =>
        // CCNet-style head/middle/tail gate: rank every doc by perplexity
        // under the corpus-fit unigram LM and keep the lowest `threshold`
        // fraction (the "head"). Exact corpus-relative rank via the
        // two-pass range-sort ntile — no single-partition window.
        val ppl = queries.LlmData
          .unigramPplHeld(df.select(col(id), col(text)), id, text)
        val pct = graft.plans.GlobalRank
          .withNtile(ppl.frame, Seq(col("ppl"), col("doc_id")), 100, "pct")
        val keep = pct.frame
          .filter(col("pct") <=
            math.max(1, math.round(step.threshold * 100).toInt))
          .select(col("doc_id").as(id))
        Held(df.join(keep, Seq(id), "left_semi"), ppl.handles ++ pct.handles)
      case "rank_gate" =>
        // per-GROUP fairness gate: keep the top ⌈threshold·n⌉ (min 1) of
        // EACH groupColumn slice by unigram entropy (the text-only
        // quality proxy) — a global ppl/entropy cutoff silently empties
        // weak sources; ranking gates each source against itself, and
        // the ceil-with-floor-1 keep count means a single-doc source
        // KEEPS its doc (a pct_rank >= 1-threshold cut would drop every
        // singleton). One global range-sort rank + O(groups) broadcast
        // offsets — no per-group window.
        val ent = queries.LlmData
          .docEntropyOf(df.select(col(id), col(text)), id, text)
          .select(col("doc_id").as(id), col("entropy_bits"))
        val scored = df.select(col(id), col(step.groupColumn)).join(ent, id)
        graft.plans.GlobalRank.withRowNumber(scored,
          Seq(col(step.groupColumn), col("entropy_bits"), col(id)), "__rn")
          .map { ranked =>
            val stats = ranked.groupBy(step.groupColumn)
              .agg(min("__rn").as("__rn0"), count(lit(1)).as("__n"))
            val keep = ranked.join(broadcast(stats), step.groupColumn)
              // ascending rank ⇒ the top-entropy docs are the LAST k ranks
              .filter(col("__rn") - col("__rn0") >=
                col("__n") - greatest(ceil(col("__n") * step.threshold), lit(1L)))
              .select(col(id))
            df.join(keep, Seq(id), "left_semi")
          }
      case "model_gate" =>
        // CCNet/fastText-style CLASSIFIER gate (text.QualityModel): fit a
        // target-vs-rest linear model on the trusted slice (keepLangs
        // values of groupColumn), score the whole corpus row-locally
        // (sparse dot per doc — scan cost, no shuffle), keep look-alikes
        // with quality_p >= threshold plus the trusted slice itself
        Held(graft.text.QualityModel.gate(df, text, step.groupColumn,
          step.keepLangs, step.threshold, id))
      case "source_mix" =>
        // same md5-uniform membership as LlmData.sourceMixSample: a pure
        // function of the id — reproducible, stable under corpus growth.
        // After soft_dedup, a group's size is its EFFECTIVE doc count
        // (Σ weight): duplicated sources stop inflating their own quota.
        val w = effWeight(df, cc)
        val counts = df.groupBy(step.groupColumn)
          .agg(sum(w).as("__n"))
        val rv = graft.functions.GraftFunctions.md5CoinPct(col(id))
        Held(df.join(broadcast(counts), step.groupColumn)
          .filter(rv < lit(100.0) * lit(step.quota) / col("__n"))
          .drop("__n"))
      case "temp_mix" =>
        // temperature-flattened mixing (LlmData.sourceTemperatureMix
        // semantics): keep probability min(1, quota·n^(α−1)/Σ n^α) per
        // group — expected total = quota, rare groups upweighted; n is
        // the group's effective doc count after soft_dedup
        val counts = df.groupBy(step.groupColumn)
          .agg(sum(effWeight(df, cc)).as("__n"))
        val tot = counts.agg(sum(pow(col("__n"), step.alpha)).as("__tot"))
        val probs = counts.crossJoin(broadcast(tot))
          .withColumn("__p", round(least(lit(1.0),
            lit(step.quota) * pow(col("__n"), step.alpha - 1) / col("__tot")), 6))
          .select(col(step.groupColumn), col("__p"))
        val rv = graft.functions.GraftFunctions.md5Coin(col(id))
        Held(df.join(broadcast(probs), step.groupColumn)
          .filter(rv < col("__p")).drop("__p"))
      case "token_mix" =>
        // token-budget temperature mixing (LlmData.sourceTokenMix
        // semantics): quota is a TOKEN budget; each group's α-flattened
        // token share becomes a per-doc keep probability
        // min(1, quota·T^(α−1)/Σ T^α). After soft_dedup a doc's tokens
        // count at weight·n_tok — duplicated text contributes one copy's
        // token mass to its group's share (SlimPajama end-to-end).
        val withTok = df.withColumn("__ntok",
          size(split(col(text), " ")).cast("double") * effWeight(df, cc))
        val counts = withTok.groupBy(step.groupColumn)
          .agg(sum("__ntok").as("__t"))
        val tot = counts.agg(sum(pow(col("__t"), step.alpha)).as("__tot"))
        val probs = counts.crossJoin(broadcast(tot))
          .withColumn("__p", round(least(lit(1.0),
            lit(step.quota) * pow(col("__t"), step.alpha - 1) / col("__tot")), 6))
          .select(col(step.groupColumn), col("__p"))
        val coin = graft.functions.GraftFunctions.md5Coin(col(id))
        Held(withTok.join(broadcast(probs), step.groupColumn)
          .filter(coin < col("__p")).drop("__p", "__ntok"))
      case "chunk" =>
        // sliding-window context chunking (doc_chunk semantics): each doc
        // becomes its stride-advanced token windows, all other columns
        // carried through — the step you run right before packing, so
        // bins hold context-window-sized pieces instead of whole docs.
        // Row-local explode; ids stay unique (and deterministic) via
        // newId = id·C + chunkIdx with C = max-chunks-per-doc + 1, a
        // one-scalar data-derived broadcast (requires non-negative ids;
        // id·C stays far under 2^63 for any real corpus id).
        val w = step.window
        val st = if (step.stride > 0) step.stride else w
        val chunked = df
          .withColumn("__toks", split(col(text), " "))
          .withColumn("__i", explode(expr(
            s"""sequence(0, CAST(ceil(greatest(size(__toks) - $w, 0)
               |  / CAST($st AS DOUBLE)) AS INT))""".stripMargin)))
          .withColumn(text,
            array_join(expr(s"slice(__toks, __i * $st + 1, $w)"), " "))
        val cMax = chunked.agg((max("__i") + 2).cast("long").as("__c"))
        Held(chunked.crossJoin(broadcast(cMax))
          .withColumn(id, col(id) * col("__c") + col("__i"))
          .drop("__toks", "__i", "__c"))
      case "curriculum" =>
        // curriculum-learning layout: tier by token count (easy = short),
        // shuffle within tiers with the deterministic coin, and lay the
        // frame out in training order (range partitions follow cur_ord,
        // so a sharded write streams easy → hard). Rides the same
        // two-pass rank machinery as rank_gate — no global window.
        val scored = df.withColumn("__score",
          size(split(col(text), " ")).cast("double"))
        queries.LlmData.curriculumOrderOf(
          scored.select(col(id), col("__score")), id, "__score", step.tiers,
          step.salt).map { ord =>
          scored.drop("__score").join(ord.select(col("doc_id").as(id),
            col("tier").as("cur_tier"), col("ord").as("cur_ord")), id)
            .repartitionByRange(col("cur_ord"))
            .sortWithinPartitions("cur_ord")
        }
      case other =>
        throw new IllegalArgumentException(s"unknown corpus op '$other'")
    }
  }
}
