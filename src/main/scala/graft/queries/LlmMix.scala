package graft.queries

import graft.Tables
import graft.plans.Held
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-composition family: quality/repetition gates, decontamination
  * (exact + bloom), DSIR weighting, source mixing (quota, temperature,
  * token-budget), curriculum and shard shuffling, packing, diff and
  * reporting. Mixed into [[LlmData]]; see its scaladoc for the
  * engine-wide scale notes. */
trait LlmMixOps extends LlmCore {

  /** SCD1 MERGE (upsert): fold a changes snapshot into a base snapshot,
    * changes winning per key — the warehouse MERGE INTO expressed as the
    * scale-correct union + left-anti pattern: each side shuffles ONCE on
    * the key (or broadcasts when the changes side is small), versus a
    * full-outer-join MERGE that shuffles both sides and then filters.
    * Same v1/v2 convention as [[corpusDiff]] (base = doc_id < 400,
    * changes = doc_id >= 100). */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    val base = docs.filter(col("doc_id") < 400)
    val changes = docs.filter(col("doc_id") >= 100)
    changes.withColumn("origin", lit("changes"))
      .unionByName(
        base.join(changes, Seq("doc_id"), "left_anti")
          .withColumn("origin", lit("base")))
      .orderBy("doc_id")
  }


  /** Corpus text normalization — the cleanup gate every web-scale corpus
    * runs before hashing/dedup (lowercase, collapse whitespace runs, trim):
    * emits the normalized-content hash + length so downstream exact dedup
    * keys on canonical bytes. Row-local codegen'd string expressions — a
    * map-only scan at any corpus size; the profile agg is one partial-agg
    * shuffle over |langs| rows. */
  def textNormalize(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("norm",
        trim(regexp_replace(lower(col("text")), "\\s+", " ")))
      .select(col("doc_id"), md5(col("norm")).as("norm_hash"),
        length(col("norm")).as("n_chars_norm"),
        (length(col("text")) - length(col("norm"))).as("chars_removed"))
      .orderBy("doc_id")


  /** Sequence packing: assign docs to fixed token-budget bins by their
    * starting offset in the corpus-order token stream — the deterministic
    * "pack documents into pretraining sequences" layout step. The global
    * running sum is plans.GlobalRank.withRunningSums (two-pass
    * range-partitioned prefix sums — partition-parallel, never the
    * single-task `Window.orderBy` cumsum). */
  def docPack(s: SparkSession, dir: String, budget: Int = 256): Held =
    docPackOf(Tables.documents(s, dir), "doc_id", "text", budget).map(_
      .groupBy("bin_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("bin_id"))


  /** Per-doc token-budget bin assignment over ANY (id, text) frame —
    * global running token sums (two-pass range prefix sums) cut into
    * `budget`-sized bins in id order. Returns one row per doc:
    * (doc_id, n_tokens, cum, bin_id), holding the running sums' sort. */
  def docPackOf(docs: DataFrame, idCol: String, textCol: String,
                budget: Int): Held = {
    val toks = docs
      .selectExpr(s"$idCol AS doc_id",
        s"size(split($textCol, ' ')) AS n_tokens")
    graft.plans.GlobalRank
      .withRunningSums(toks, Seq(col("doc_id")), Seq("n_tokens" -> "cum"))._1
      .map(_.withColumn("bin_id",
        ((col("cum") - col("n_tokens")) / budget).cast("long") + 1))
  }


  /** Sliding-window document CHUNKING — the context-window preparation
    * step (long doc → overlapping training windows), the complement of
    * `doc_pack` (short docs → packed bins): each doc's token stream is
    * cut into windows of `window` tokens advancing by `stride`
    * (overlap = window − stride keeps boundary context in two chunks,
    * the RAG/pretraining convention). Start positions are chosen so the
    * final window reaches the last token with no fully-redundant tail
    * chunk: i = 0 .. ⌈max(n−window,0)/stride⌉. Entirely row-local
    * (sequence + explode + slice — one generator, codegen'd, no
    * shuffle except the output sort), so it scales linearly with corpus
    * bytes at any SF. */
  def docChunk(s: SparkSession, dir: String): DataFrame =
    docChunkOf(Tables.documents(s, dir), "doc_id", "text",
      window = 32, stride = 24)


  /** The chunker over ANY (id, text) frame: one row per (doc, chunk)
    * with its start token, length, and content hash. */
  def docChunkOf(docs: DataFrame, idCol: String, textCol: String,
                 window: Int, stride: Int): DataFrame = {
    require(stride >= 1 && window >= stride,
      s"need window >= stride >= 1, got window=$window stride=$stride")
    docs
      .selectExpr(s"$idCol AS doc_id", s"split($textCol, ' ') AS toks")
      .withColumn("i", explode(expr(
        s"""sequence(0, CAST(ceil(greatest(size(toks) - $window, 0)
           |  / CAST($stride AS DOUBLE)) AS INT))""".stripMargin)))
      .selectExpr("doc_id",
        "CAST(i + 1 AS INT) AS chunk_id",
        s"CAST(i * $stride + 1 AS INT) AS start_tok",
        s"CAST(size(slice(toks, i * $stride + 1, $window)) AS INT) AS n_chunk_tokens",
        s"md5(array_join(slice(toks, i * $stride + 1, $window), ' ')) AS chunk_md5")
      .orderBy("doc_id", "chunk_id")
  }


  /** Quality gate over documents through the real text.TextQuality
    * operator: per-source pass/fail counts. */
  def qualityFilter(s: SparkSession, dir: String): DataFrame =
    graft.text.TextQuality.score(Tables.documents(s, dir), "text")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("keep").as("n_keep"),
        round(avg("stop_ratio"), 6).as("avg_stop_ratio"),
        round(avg("mean_tok_len"), 6).as("avg_tok_len"))
      .orderBy("source")


  /** Token counting + quality scoring: whitespace tokens, BPE-ish regex
    * tokens, distinct ratio, mean token length, stopword ratio. Pure
    * row-local expressions — codegen'd, no shuffle except the final sort. */
  def textStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr("doc_id", "split(text, ' ') AS toks", "text")
      .selectExpr(
        "doc_id",
        "size(toks) AS n_tokens",
        "size(array_distinct(toks)) AS n_uniq",
        "size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS n_bpe",
        """round(cast(aggregate(transform(toks, x -> length(x)), 0, (a, x) -> a + x) AS DOUBLE)
          |  / size(toks), 6) AS avg_tok_len""".stripMargin,
        """round(cast(size(filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'is', 'in', 'to'))) AS DOUBLE)
          |  / size(toks), 6) AS stop_ratio""".stripMargin)
      .orderBy("doc_id")


  /** Benchmark decontamination: for every corpus doc, the overlap of its
    * shingles with the held-out eval set's shingle universe (eval docs =
    * `doc_id % 97 == 0` — stand-in for a benchmark/test corpus). Reports
    * each corpus doc sharing at least one shingle with the eval set.
    *
    * Scale design: the eval side is a benchmark — tiny relative to a
    * 100 TB corpus — so its distinct-shingle set is the build side of a
    * broadcast-able semi-join (AQE picks broadcast under the threshold;
    * no hint so a pathological eval set degrades to shuffle, not OOM).
    * The corpus side streams through one hash aggregate keyed by doc_id.
    * The shingle stream is not cached: its three consumers (eval set,
    * sizes, hits) each prune to different columns, so the scan runs again
    * rather than materialize corpus-scale shingles. */
  def decontamOverlap(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(s, dir)
    val evalSh = sh.filter(col("doc_id") % 97 === 0).select("s").distinct()
    val corpus = sh.filter(col("doc_id") % 97 =!= 0)
    val sizes = corpus.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val hits = corpus.join(evalSh, Seq("s"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    hits.join(sizes, Seq("doc_id"))
      .select(col("doc_id"), col("n_sh"), col("n_overlap"),
        round(col("n_overlap") / col("n_sh"), 6).as("frac"))
      .orderBy("doc_id")
  }


  /** Decontamination overlap against an EXTERNAL eval frame — what the
    * `decontam` corpus step gates on: for every corpus doc, the fraction
    * of its shingles that appear anywhere in the eval set (docs with no
    * overlap report 0). The eval shingle set is distinct-projected before
    * the semi-join, so when it is benchmark-sized Spark broadcasts it and
    * the corpus streams partition-parallel; a corpus-sized eval set
    * degrades gracefully to a shuffled semi-join on the uniform shingle
    * key. */
  def decontamOverlapOf(corpus: DataFrame, evalDocs: DataFrame,
                        idCol: String, textCol: String): DataFrame = {
    val csh = shinglesOf(corpus.select(col(idCol), col(textCol)),
      idCol, textCol)
    val esh = shinglesOf(
      evalDocs.select(lit(0L).as("__eid"), col(textCol)), "__eid", textCol)
      .select("s").distinct()
    val sizes = csh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val hits = csh.join(esh, Seq("s"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    sizes.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)) / col("n_sh"), 6).as("frac"))
  }

  private val DecontamBloomBits  = 65536

  private val DecontamBloomPrime = 2147483647L

  private val DecontamBloomHashes: Seq[(Long, Long)] =
    Seq((2654435761L, 1013904223L), (22695477L, 12345L))


  /** Bloom-PREFILTERED decontamination — the GPT-3-style scale path for
    * [[decontamOverlap]]: the eval set's shingles fold into an m-bit Bloom
    * filter (a distinct partial aggregate, ≤ m rows, BROADCAST), corpus
    * shingles probe it row-locally, and only the bloom-positive candidates
    * reach the exact semi-join. A Bloom filter has zero false negatives,
    * so the prefilter is LOSSLESS — n_overlap/frac equal the exact op's
    * answer by construction — while the expensive eval join runs on the
    * candidate subset instead of the corpus. n_cand (candidates per doc,
    * false positives included) is reported so the prefilter's measured
    * selectivity is itself oracle-checked: the md5 shingle key and the
    * CMS-family integer bit hashes replay exactly in any engine.
    *
    * At 100 TB this is the decontam plan you ship: corpus shingles never
    * shuffle for the probe (broadcast bit set), and the exact verify's
    * shuffle carries only candidates — bounded by the eval set's true
    * overlap plus the m-controlled FP rate. */
  def decontamBloom(s: SparkSession, dir: String): DataFrame = {
    val sh = shingles(s, dir)
      .withColumn("k",
        conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long"))
    def bitCols(kc: org.apache.spark.sql.Column) = DecontamBloomHashes.map {
      case (a, b) =>
        (((lit(a) * (kc % DecontamBloomPrime)) % DecontamBloomPrime + lit(b))
          % DecontamBloomPrime) % DecontamBloomBits
    }
    val evalBits = sh.filter(col("doc_id") % 97 === 0)
      .select(explode(array(bitCols(col("k")): _*)).as("bit")).distinct()
    val corpus = sh.filter(col("doc_id") % 97 =!= 0)
    val sizes = corpus.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // a shingle is a candidate iff EVERY one of its bits is set
    val cand = corpus
      .select(col("doc_id"), col("s"),
        explode(array(bitCols(col("k")): _*)).as("bit"))
      .join(broadcast(evalBits.withColumn("__in", lit(1))), Seq("bit"), "left")
      .groupBy("doc_id", "s")
      .agg((count(lit(1)) === sum(coalesce(col("__in"), lit(0)))).as("pos"))
      .filter(col("pos")).select("doc_id", "s")
    val nCand = cand.groupBy("doc_id").agg(count(lit(1)).as("n_cand"))
    val evalSh = sh.filter(col("doc_id") % 97 === 0).select("s").distinct()
    val hits = cand.join(evalSh, Seq("s"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    nCand.join(sizes, Seq("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_sh"), col("n_cand"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(coalesce(col("n_overlap"), lit(0L)) / col("n_sh"), 6).as("frac"))
      .orderBy("doc_id")
  }


  /** Gopher-style repetition quality signals (Rae et al. 2021, "Scaling
    * Language Models", §A1.1 repetition filters): per-doc duplicate-word
    * fraction, top-word fraction, top-bigram fraction, and a keep flag.
    *
    * Scale design: two explode → hash-aggregate chains keyed by
    * (doc_id, gram) then doc_id — partial aggregation map-side, keys
    * uniform in doc_id, no window, no skew. The bigram explode is
    * row-local (array transform), never a self-join. */
  def gopherRepetition(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(s, dir).selectExpr("doc_id", "split(text, ' ') AS toks")
    val wc = t.select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val ws = wc.groupBy("doc_id").agg(
      sum("c").as("n_words"),
      (sum("c") - count(lit(1))).as("n_dup"),
      max("c").as("top_w"))
    val bc = t.filter(size(col("toks")) >= 2)
      .selectExpr("doc_id",
        """explode(transform(sequence(0, size(toks) - 2),
          |  i -> concat_ws(' ', toks[i], toks[i+1]))) AS bg""".stripMargin)
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
    val bs = bc.groupBy("doc_id").agg(sum("c").as("n_bigrams"), max("c").as("top_b"))
    ws.join(bs, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"),
        round(col("n_dup") / col("n_words"), 6).as("dup_word_frac"),
        round(col("top_w") / col("n_words"), 6).as("top_word_frac"),
        round(col("top_b") / col("n_bigrams"), 6).as("top_bigram_frac"))
      .withColumn("keep",
        (col("top_word_frac") <= 0.125 && col("top_bigram_frac") <= 0.05)
          .cast("long"))
      .orderBy("doc_id")
  }


  /** Per-source unigram KL divergence from the corpus-wide distribution —
    * the language-drift diagnostic behind source weighting (DoReMi-style
    * mixing starts from exactly this signal): KL(source ‖ corpus) =
    * Σ_w p_s(w)·ln(p_s(w)/p_c(w)), large for sources whose vocabulary
    * usage departs from the mix. Two token hash-aggregates (per (source,
    * word) and per word) + one keyed join — partial aggregation crushes
    * the shuffle to O(vocab) at any corpus size. Both distributions share
    * the same support by construction (every source word is a corpus
    * word), so no smoothing term is needed; the result rounds at 6 dp. */
  def sourceKl(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
    val sw = toks.groupBy("source", "w").agg(count(lit(1)).as("c"))
    val cw = sw.groupBy("w").agg(sum("c").as("cc"))
    val tot = sw.agg(sum("c").as("n_total"))
    val st = sw.groupBy("source").agg(sum("c").as("n_src"),
      count(lit(1)).as("vocab"))
    sw.join(cw, "w")
      .join(broadcast(st), "source")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_src"), col("vocab"),
        ((col("c") / col("n_src")) *
          log((col("c") / col("n_src")) / (col("cc") / col("n_total"))))
          .as("term"))
      .groupBy("source", "n_src", "vocab")
      .agg(round(sum("term"), 6).as("kl"))
      .orderBy("source")
  }


  /** Corpus novelty curve — how much genuinely NEW content each slice of
    * the ingest order contributes: a doc's novelty is the fraction of its
    * shingles whose FIRST occurrence (min doc_id) is this doc, and the
    * report is the per-decile (exact NTILE over doc_id) average. A
    * healthy growing corpus holds a high floor; a curve collapsing toward
    * 0 says later ingests are recombinations of earlier content — the
    * ordering/memorization diagnostic run before training-order decisions.
    *
    * Scale shape: one groupBy on the uniform shingle key (min doc_id — the
    * same shuffle exact dedup runs), a keyed join back, the exact global
    * NTILE from the two-pass rank machinery, and a final partial
    * aggregate. Integer counts everywhere; only the final fractions
    * divide, rounded at 6 dp. */
  def noveltyCurve(s: SparkSession, dir: String): Held = {
    val Held(sh, shH) = Held.cached(shingles(s, dir))
    val first = sh.groupBy("s").agg(min("doc_id").as("first_doc"))
    val perDoc = sh.join(first, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum((col("doc_id") === col("first_doc")).cast("long")).as("n_new"))
    val tiered = graft.plans.GlobalRank.withNtile(
      perDoc, Seq(col("doc_id")), 10, "decile")
    Held(tiered.frame.groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_sh").as("n_shingles"),
          sum("n_new").as("n_first_seen"),
          round(sum("n_new") / sum("n_sh").cast("double"), 6)
            .as("novelty_frac"))
        .orderBy("decile"), shH ++ tiered.handles)
  }


  /** Inter-rater agreement of two independent quality gates — Cohen's κ
    * between the Gopher repetition filter and the heuristic TextQuality
    * gate, the number a training-data pipeline uses to decide whether two
    * filters are redundant (κ → 1), complementary (κ ≈ 0), or fighting
    * (κ < 0). κ = (p_o − p_e)/(1 − p_e) from the 2×2 agreement counts —
    * all integers off one doc-keyed join of the two per-doc keep flags,
    * so the statistic is engine-exact. */
  def labelAgreement(s: SparkSession, dir: String): DataFrame = {
    val a = gopherRepetition(s, dir).select(col("doc_id"),
      col("keep").cast("int").as("ka"))
    val b = graft.text.TextQuality.score(Tables.documents(s, dir), "text")
      .select(col("doc_id"), col("keep").as("kb"))
    val cells = a.join(b, "doc_id")
      .agg(count(lit(1)).as("n"),
        sum((col("ka") === 1 && col("kb") === 1).cast("long")).as("n11"),
        sum((col("ka") === 1 && col("kb") === 0).cast("long")).as("n10"),
        sum((col("ka") === 0 && col("kb") === 1).cast("long")).as("n01"),
        sum((col("ka") === 0 && col("kb") === 0).cast("long")).as("n00"))
    val po = (col("n11") + col("n00")).cast("double") / col("n")
    val pe = ((col("n11") + col("n10")) * (col("n11") + col("n01")) +
      (col("n01") + col("n00")) * (col("n10") + col("n00"))).cast("double") /
      (col("n") * col("n"))
    cells.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
      round(po, 6).as("p_observed"),
      // + 0.0: normalize a rounded -0.0 to +0.0 (sign-crossing statistic;
      // Spark and DuckDB disagree on the zero's sign otherwise)
      (round((po - pe) / (lit(1.0) - pe), 6) + lit(0.0)).as("kappa"))
  }


  /** Per-group top-k through the skew-safe two-phase operator
    * (plans.GroupTopK): the 3 longest documents per source. The salted
    * first phase bounds any single task's sort even when one source holds
    * a disproportionate share of the corpus. */
  def topkPerSource(s: SparkSession, dir: String): DataFrame =
    graft.plans.GroupTopK.topK(
        Tables.documents(s, dir).select("source", "doc_id", "n_chars"),
        Seq(col("source")),
        Seq(col("n_chars").desc, col("doc_id").asc), k = 3)
      .select("source", "rank", "doc_id", "n_chars")
      .orderBy("source", "rank")


  /** Deterministic source-mix downsampling — the pretraining "mixture
    * weights" op: each source is sampled toward a target quota
    * (rate = quota / |source|) using the same md5-derived uniform the
    * conditional split uses (SourceReader.deriveColumns), so membership is
    * a pure function of doc_id: reproducible on any cluster, no RNG state,
    * and re-runs on a grown corpus keep previously selected docs' fate
    * stable. Per-source counts are a small broadcast; the filter is
    * row-local. */
  def sourceMixSample(s: SparkSession, dir: String, quota: Double = 10.0): DataFrame = {
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
    val rv = graft.functions.GraftFunctions.md5CoinPct(col("doc_id"))
    docs.join(broadcast(counts), "source")
      .filter(rv < lit(100.0) * lit(quota) / col("n_src"))
      .select("source", "doc_id")
      .orderBy("source", "doc_id")
  }


  /** Temperature-flattened source mixing (α-sampling — the multilingual /
    * multi-source mixing rule of XLM-R and mC4): source s is sampled with
    * probability ∝ n_s^α, which at α<1 upweights rare sources relative to
    * proportional sampling. Materialized as a per-doc deterministic
    * Bernoulli keep (same md5-of-id fraction as [[sourceMixSample]] — no
    * RNG state, re-runnable on any cluster) with per-source keep
    * probability min(1, budget·n_s^(α−1) / Σ n_t^α) — expected total =
    * budget — rounded to 6 dp so both engines compare against the
    * identical literal. Per-source counts are
    * an O(|sources|) broadcast; the keep filter is row-local; the summary
    * is one hash agg. */
  def sourceTemperatureMix(s: SparkSession, dir: String, alpha: Double = 0.5,
                           budget: Int = 200): DataFrame = {
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
    val tot = counts.agg(sum(pow(col("n_src"), alpha)).as("tot"))
    val probs = counts.crossJoin(broadcast(tot))
      .withColumn("keep_p", round(least(lit(1.0),
        lit(budget.toDouble) * pow(col("n_src"), alpha - 1) / col("tot")), 6))
      .select("source", "n_src", "keep_p")
    val u = graft.functions.GraftFunctions.md5Coin(col("doc_id"))
    docs.join(broadcast(probs), "source")
      .filter(u < col("keep_p"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        max("n_src").as("n_src"), max("keep_p").as("keep_p"))
      .orderBy("source")
  }


  /** TOKEN-budget temperature mixing — [[sourceTemperatureMix]] with the
    * budget and shares measured in TOKENS, which is what training actually
    * consumes: source s with T_s tokens gets an α-flattened token quota
    * B·T_s^α/Σ T_t^α, i.e. per-doc keep probability
    * min(1, B·T_s^(α−1)/Σ T_t^α) (docs within a source share its token
    * distribution, so thinning docs uniformly thins tokens uniformly).
    * Same scale shape: one per-source agg (O(|sources|) broadcast), a
    * row-local deterministic coin, one summary agg. */
  def sourceTokenMix(s: SparkSession, dir: String, alpha: Double = 0.5,
                     budgetTokens: Long = 5000): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
    val counts = docs.groupBy("source").agg(sum("n_tok").as("tok_src"))
    val tot = counts.agg(sum(pow(col("tok_src"), alpha)).as("tot"))
    val probs = counts.crossJoin(broadcast(tot))
      .withColumn("keep_p", round(least(lit(1.0),
        lit(budgetTokens.toDouble) * pow(col("tok_src"), alpha - 1) / col("tot")), 6))
      .select("source", "tok_src", "keep_p")
    val u = graft.functions.GraftFunctions.md5Coin(col("doc_id"))
    docs.join(broadcast(probs), "source")
      .filter(u < col("keep_p"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("n_tok").as("kept_tokens"),
        max("tok_src").as("tok_src"), max("keep_p").as("keep_p"))
      .orderBy("source")
  }


  /** Per-source corpus report card — the one-screen health table a data
    * curator reads before mixing sources: doc/token volume plus the mean
    * row-local quality signals ([[graft.text.TextQuality]] features) and
    * the heuristic keep rate, per source. Every signal is a codegen'd
    * row-local expression, so the whole report is ONE map-side-combining
    * agg over the corpus scan — the cheapest possible full-corpus pass. */
  def sourceReport(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .withColumn("mean_len",
        expr("aggregate(transform(toks, x -> length(x)), 0, (a, x) -> a + x)")
          .cast("double") / col("n_tok"))
      .withColumn("stop_ratio",
        expr("size(filter(toks, t -> t IN ('the','a','of','and','is','in','to')))")
          .cast("double") / col("n_tok"))
      .withColumn("sym_ratio",
        (length(col("text")) -
          length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", "")))
          .cast("double") / length(col("text")))
      .withColumn("keep", graft.text.TextQuality.keep("text").cast("int"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        round(avg("mean_len"), 6).as("avg_tok_len"),
        round(avg("stop_ratio"), 6).as("avg_stop_ratio"),
        round(avg("sym_ratio"), 6).as("avg_sym_ratio"),
        round(avg("keep"), 6).as("keep_rate"),
        countDistinct("lang").as("n_langs"))
      .orderBy("source")


  /** DSIR-style importance weights (Xie et al., NeurIPS'23 "Data Selection
    * for Language Models via Importance Resampling"): score every document
    * by the log-likelihood ratio of a target unigram LM (here: the `en`
    * slice) vs the rest-of-corpus LM, with add-one smoothing over the
    * joint vocabulary. High-weight docs "look like" the target domain and
    * get resampled into the training mix. One token-keyed agg builds both
    * LMs in a single pass, one scalar-row cross join carries the totals,
    * and the per-doc score is a token-keyed join + sum — every shuffle is
    * keyed on the token (vocab-sized, uniform); nothing is collected. */
  def dsirWeights(s: SparkSession, dir: String): Held =
    dsirWeightsHeld(Tables.documents(s, dir), "doc_id", "text",
      col("lang") === "en")
      .map(_.orderBy("doc_id"))


  /** DSIR weights over ANY (id, text) frame with a caller-chosen target
    * indicator — what [[graft.CorpusRunner]]'s `dsir_sample` step gates
    * on. `isTarget` must be a row-local predicate over the frame. Its
    * cached token rows are the handle to release once the weights are
    * materialized (see [[Held]]). */
  def dsirWeightsHeld(docs: DataFrame, idCol: String, textCol: String,
                      isTarget: org.apache.spark.sql.Column): Held = {
    // cached: feeds both the LM build and the scoring join
    val Held(toks, toksH) = Held.cached(docs
      .withColumn("__t", isTarget)
      .selectExpr(s"$idCol AS doc_id", "__t",
        s"explode(split($textCol, ' ')) AS w"))
    val counts = toks.groupBy("w").agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("ct"),
      sum(when(!col("__t"), 1L).otherwise(0L)).as("cc"))
    val tot = counts.agg(sum("ct").as("nt"), sum("cc").as("nc"),
      count(lit(1)).as("vsz"))
    val wts = counts.crossJoin(broadcast(tot))
      .select(col("w"),
        (log((col("ct") + 1).cast("double") / (col("nt") + col("vsz"))) -
         log((col("cc") + 1).cast("double") / (col("nc") + col("vsz")))).as("lw"))
    Held(toks.join(wts, "w")
      .groupBy("doc_id")
      .agg(round(sum("lw"), 6).as("dsir_w"), count(lit(1)).as("n_toks")),
      toksH)
  }


  /** Corpus snapshot diff — the ingestion-ops accounting between two
    * corpus versions: per-status doc counts (added / removed / unchanged
    * by content hash) from ONE full outer join on the unique id. Both
    * "versions" are deterministic slices of the one documents table so
    * the oracle replays identical data. At 100 TB this is the id-keyed
    * shuffle join both sides already store sorted/bucketed for. */
  def corpusDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    corpusDiffOf(docs.filter(col("doc_id") < 400),
      docs.filter(col("doc_id") >= 100), "doc_id")
  }


  /** The version-accounting diff over ANY two (id, text) frames — what
    * [[graft.plans.SnapshotStore]] readers run between committed corpus
    * versions. One id-keyed full outer join, O(|a| + |b|). */
  def corpusDiffOf(a: DataFrame, b: DataFrame, idCol: String,
                   textCol: String = "text"): DataFrame = {
    val v1 = a.select(col(idCol).as("doc_id"), md5(col(textCol)).as("h1"))
    val v2 = b.select(col(idCol).as("doc_id"), md5(col(textCol)).as("h2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h1").isNull, lit("added"))
          .when(col("h2").isNull, lit("removed"))
          .when(col("h1") =!= col("h2"), lit("changed"))
          .otherwise(lit("unchanged")))
      .groupBy("status")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("status")
  }


  /** Per-source rank normalization of a quality signal — the step that
    * makes one quality THRESHOLD comparable across sources (a web crawl
    * and a books corpus have incomparable raw score scales; their
    * percentile ranks are comparable by construction). pct_rank =
    * (in-source 0-based rank)/(n−1) under a deterministic total order.
    *
    * Scale shape: same machinery as [[graft.queries.EventOpsPack]]'s
    * gap percentiles — one global two-pass range-sort rank over
    * (source, score, id), per-source offsets from an O(sources)
    * broadcast agg; NO per-source window sort, no per-group state. */
  def scoreRankNorm(s: SparkSession, dir: String): Held =
    scoreRankNormOf(
      Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
      "doc_id", "source", "n_chars")
      .map(_.select(col("doc_id"), col("source"), col("n_chars"),
        round(col("pct_rank"), 6).as("pct_rank"))
      .orderBy("doc_id"))


  /** The per-group rank normalization over ANY (id, group, score) frame —
    * also what the `rank_gate` corpus step thresholds on. Deterministic
    * total order (score, id); pct_rank ∈ [0,1], 0 for singleton groups. */
  def scoreRankNormOf(d: DataFrame, idCol: String, groupCol: String,
                      scoreCol: String): Held =
    graft.plans.GlobalRank.withRowNumber(
      d.select(col(idCol), col(groupCol), col(scoreCol)),
      Seq(col(groupCol), col(scoreCol), col(idCol)), "rn").map { ranked =>
      val stats = ranked.groupBy(groupCol)
        .agg(min("rn").as("rn0"), count(lit(1)).as("n"))
      ranked.join(broadcast(stats), groupCol)
        .select(col(idCol), col(groupCol), col(scoreCol),
          when(col("n") > 1,
            (col("rn") - col("rn0")).cast("double") / (col("n") - 1))
            .otherwise(lit(0.0)).as("pct_rank"))
    }


  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES,
    * deterministic): each doc draws the reproducible md5 coin u and gets
    * key = ln(u)/w — the top-k keys ARE a weight-proportional sample
    * without replacement. Here w = token count, i.e. "sample long docs
    * preferentially" — the quality-weighted corpus subsample a curation
    * pipeline draws without materializing the whole corpus.
    *
    * Scale shape: the key is a row-local expression; top-k is
    * TakeOrderedAndProject (per-partition top-k, O(k) driver merge) on
    * the 6-dp-rounded key with an id tie-break, so selection is
    * deterministic cross-engine despite last-ulp ln() differences. */
  def weightedSample(s: SparkSession, dir: String, k: Int = 50): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("w"))
      .withColumn("u", greatest(
        graft.functions.GraftFunctions.md5Coin(col("doc_id")), lit(1e-12)))
      .select(col("doc_id"), col("source"), col("w"),
        // strictly-negative statistic whose top-k sits nearest zero: the
        // max key CAN round to ±0.0, so normalize the zero's sign
        (round(log(col("u")) / col("w"), 6) + lit(0.0)).as("key"))
      .orderBy(desc("key"), asc("doc_id"))
      .limit(k)


  /** Deterministic global training-order shuffle: every document gets a
    * reproducible pseudo-random position (md5 of a salted id — change the
    * salt to re-shuffle per epoch) and a round-robin shard assignment.
    * The naive `orderBy(rand())` is both non-reproducible and, with a
    * window row_number, single-task; this uses the two-pass range-sort
    * global row number (plans.GlobalRank), so the sort is
    * partition-parallel at any scale and the shard layout is a pure
    * function of the corpus — rerunnable on any cluster size. */
  def corpusShuffle(s: SparkSession, dir: String, shards: Int = 16): Held =
    corpusShuffleOf(Tables.documents(s, dir), "doc_id", shards)
      .map(_.orderBy("pos"))


  /** The shuffle/shard assignment over ANY id-keyed frame — run it on the
    * CLEANED corpus (positions dense, shards balanced), not on a superset
    * that later gets filtered. */
  def corpusShuffleOf(docs: DataFrame, idCol: String,
                      shards: Int): Held = {
    val key = md5(concat(lit("shuf|"), col(idCol).cast("string")))
    graft.plans.GlobalRank.withRowNumber(
      docs.selectExpr(s"$idCol AS doc_id"), Seq(key, col("doc_id")), "pos")
      .map(_.withColumn("shard", (col("pos") - 1) % shards)
        .select("doc_id", "pos", "shard"))
  }


  /** Curriculum training order: tier the corpus by a difficulty score
    * (easy → hard), then shuffle WITHIN each tier with the deterministic
    * md5 coin — the curriculum-learning layout (Bengio et al. 2009): the
    * model sees easy examples first, but inside a difficulty band the
    * order is still random (a raw score sort would feed pathologically
    * correlated neighbors). Both passes ride the two-pass range-sort
    * machinery: exact global NTILE for the tiers, exact global row number
    * for the final order — partition-parallel at any scale, reproducible
    * on any cluster size. `salt` re-deals the in-tier permutation per
    * epoch (each epoch's coin is md5("curr|<salt>|id")): tiers are a pure
    * function of the scores, so every epoch sees the same easy → hard
    * bands in a fresh within-band order — the curriculum-learning epoch
    * contract. The default (empty) salt keeps the original coin. */
  def curriculumOrderOf(docs: DataFrame, idCol: String, scoreCol: String,
                        tiers: Int, salt: String = ""): Held = {
    val tiered = graft.plans.GlobalRank.withNtile(
      docs.select(col(idCol).as("doc_id"),
        col(scoreCol).cast("double").as("__s")),
      Seq(col("__s"), col("doc_id")), tiers, "tier")
    val coinPrefix = if (salt.isEmpty) "curr|" else s"curr|$salt|"
    val keyed = tiered.frame.select(col("doc_id"), col("tier").cast("long").as("tier"),
      md5(concat(lit(coinPrefix), col("doc_id").cast("string"))).as("__c"))
    val ordered = graft.plans.GlobalRank.withRowNumber(
      keyed, Seq(col("tier"), col("__c"), col("doc_id")), "ord")
    Held(ordered.frame.select("doc_id", "tier", "ord"),
      tiered.handles ++ ordered.handles)
  }


  /** Driver query: curriculum order over documents with char count as the
    * difficulty proxy (short first), 10 tiers. */
  def curriculumOrder(s: SparkSession, dir: String): Held =
    curriculumOrderOf(Tables.documents(s, dir), "doc_id", "n_chars", 10)
      .map(_.orderBy("ord"))


  /** Packing-efficiency report over the [[docPack]] token-budget bins:
    * how full the bins actually are (mean/min/max fill fraction and the
    * share ≥ 90% full) — the number that tells a user whether the packing
    * budget wastes context-window tokens. The ≥90% test is computed in
    * integers (10·fill ≥ 9·budget) so it is exact in any engine. */
  def packStats(s: SparkSession, dir: String, budget: Int = 256): Held =
    docPackOf(Tables.documents(s, dir), "doc_id", "text", budget).map(_
      .groupBy("bin_id").agg(sum("n_tokens").as("fill"))
      .agg(
        count(lit(1)).as("n_bins"),
        sum("fill").as("n_tokens"),
        round(avg(col("fill") / budget.toDouble), 6).as("avg_fill"),
        round(min(col("fill") / budget.toDouble), 6).as("min_fill"),
        round(max(col("fill") / budget.toDouble), 6).as("max_fill"),
        sum(when(col("fill") * 10 >= lit(9L * budget), 1L).otherwise(0L))
          .as("n_full90")))


  /** DuckDB oracle SQL for this family's contract queries. */
  protected val mixOracles: Map[String, String] = Map(
    "topk_per_source" ->
      """SELECT source, rank, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rank
        |  FROM documents)
        |WHERE rank <= 3 ORDER BY source, rank""".stripMargin,
    "source_mix_sample" ->
      """WITH c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source)
        |SELECT d.source, d.doc_id
        |FROM documents d JOIN c ON d.source = c.source
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        |    * 100.0 / 4294967296.0 < 100.0 * 10.0 / c.n_src
        |ORDER BY d.source, d.doc_id""".stripMargin,
    "source_temp_mix" ->
      """WITH c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
        | t AS (SELECT sum(pow(n_src, 0.5)) AS tot FROM c),
        | p AS (SELECT source, n_src,
        |     round(least(1.0, 200.0 * pow(n_src, -0.5) / tot), 6) AS keep_p
        |   FROM c, t),
        | kept AS (SELECT d.source, d.doc_id, p.n_src, p.keep_p
        |   FROM documents d JOIN p USING (source)
        |   WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        |       / 4294967296.0 < p.keep_p)
        |SELECT source, count(*) AS n_kept, max(n_src) AS n_src,
        | max(keep_p) AS keep_p
        |FROM kept GROUP BY source ORDER BY source""".stripMargin,
    "source_token_mix" ->
      """WITH d AS (SELECT source, doc_id,
        |     len(string_split(text, ' '))::BIGINT AS n_tok FROM documents),
        | c AS (SELECT source, sum(n_tok)::BIGINT AS tok_src FROM d GROUP BY source),
        | t AS (SELECT sum(pow(tok_src, 0.5)) AS tot FROM c),
        | p AS (SELECT source, tok_src,
        |     round(least(1.0, 5000.0 * pow(tok_src, -0.5) / tot), 6) AS keep_p
        |   FROM c, t),
        | kept AS (SELECT d.source, d.n_tok, p.tok_src, p.keep_p
        |   FROM d JOIN p USING (source)
        |   WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        |       / 4294967296.0 < p.keep_p)
        |SELECT source, count(*) AS n_kept, sum(n_tok)::BIGINT AS kept_tokens,
        | max(tok_src) AS tok_src, max(keep_p) AS keep_p
        |FROM kept GROUP BY source ORDER BY source""".stripMargin,
    "source_kl" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS w
        |   FROM documents),
        | sw AS (SELECT source, w, count(*)::BIGINT AS c FROM t GROUP BY 1, 2),
        | cw AS (SELECT w, sum(c)::BIGINT AS cc FROM sw GROUP BY w),
        | tot AS (SELECT sum(c)::BIGINT AS n_total FROM sw),
        | st AS (SELECT source, sum(c)::BIGINT AS n_src,
        |   count(*)::BIGINT AS vocab FROM sw GROUP BY source)
        |SELECT sw.source, st.n_src, st.vocab,
        | round(sum((sw.c::DOUBLE / st.n_src) *
        |   ln((sw.c::DOUBLE / st.n_src) / (cw.cc::DOUBLE / tot.n_total))), 6)
        |   AS kl
        |FROM sw JOIN cw USING (w) JOIN st USING (source), tot
        |GROUP BY sw.source, st.n_src, st.vocab ORDER BY sw.source""".stripMargin,
    "novelty_curve" ->
      s"""WITH $shinglesSql,
        | first AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s),
        | pd AS (SELECT sh.doc_id, count(*)::BIGINT AS n_sh,
        |   sum(CASE WHEN sh.doc_id = first.first_doc THEN 1 ELSE 0 END)::BIGINT AS n_new
        |  FROM sh JOIN first USING (s) GROUP BY sh.doc_id),
        | t AS (SELECT n_sh, n_new,
        |   CAST(ntile(10) OVER (ORDER BY doc_id) AS BIGINT) AS decile FROM pd)
        |SELECT decile, count(*)::BIGINT AS n_docs,
        | sum(n_sh)::BIGINT AS n_shingles, sum(n_new)::BIGINT AS n_first_seen,
        | round(sum(n_new)::DOUBLE / sum(n_sh), 6) AS novelty_frac
        |FROM t GROUP BY decile ORDER BY decile""".stripMargin,
    "label_agreement" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        | wc AS (SELECT doc_id, w, count(*) AS c FROM
        |   (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY doc_id, w),
        | ws AS (SELECT doc_id, sum(c)::BIGINT AS n_words, max(c) AS top_w
        |   FROM wc GROUP BY doc_id),
        | bc AS (SELECT doc_id, bg, count(*) AS c FROM
        |   (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |    FROM t WHERE len(toks) >= 2) GROUP BY doc_id, bg),
        | bs AS (SELECT doc_id, sum(c)::BIGINT AS n_bigrams, max(c) AS top_b
        |   FROM bc GROUP BY doc_id),
        | ga AS (SELECT ws.doc_id, CASE WHEN
        |     round(top_w::DOUBLE / n_words, 6) <= 0.125
        |     AND round(top_b::DOUBLE / n_bigrams, 6) <= 0.05
        |   THEN 1 ELSE 0 END AS ka FROM ws JOIN bs USING (doc_id)),
        | q AS (SELECT doc_id,
        |   len(string_split(text, ' ')) AS n_tokens,
        |   list_sum(list_transform(string_split(text, ' '), x -> length(x)))::DOUBLE
        |     / len(string_split(text, ' ')) AS mean_tok_len,
        |   len(list_filter(string_split(text, ' '),
        |       x -> x IN ('the', 'a', 'of', 'and', 'is', 'in', 'to')))::DOUBLE
        |     / len(string_split(text, ' ')) AS stop_ratio,
        |   (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))::DOUBLE
        |     / length(text) AS symbol_ratio
        |  FROM documents),
        | qb AS (SELECT doc_id, CASE WHEN n_tokens BETWEEN 5 AND 100000
        |     AND mean_tok_len BETWEEN 2.0 AND 12.0
        |     AND stop_ratio >= 0.01 AND symbol_ratio <= 0.2
        |   THEN 1 ELSE 0 END AS kb FROM q),
        | cells AS (SELECT count(*)::BIGINT AS n,
        |   sum(CASE WHEN ka = 1 AND kb = 1 THEN 1 ELSE 0 END)::BIGINT AS n11,
        |   sum(CASE WHEN ka = 1 AND kb = 0 THEN 1 ELSE 0 END)::BIGINT AS n10,
        |   sum(CASE WHEN ka = 0 AND kb = 1 THEN 1 ELSE 0 END)::BIGINT AS n01,
        |   sum(CASE WHEN ka = 0 AND kb = 0 THEN 1 ELSE 0 END)::BIGINT AS n00
        |  FROM ga JOIN qb USING (doc_id))
        |SELECT n, n11, n10, n01, n00,
        | round((n11 + n00)::DOUBLE / n, 6) AS p_observed,
        | round(((n11 + n00)::DOUBLE / n
        |     - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))::DOUBLE / (n * n))
        |   / (1.0 - ((n11 + n10) * (n11 + n01)
        |     + (n01 + n00) * (n10 + n00))::DOUBLE / (n * n)), 6) + 0.0 AS kappa
        |FROM cells""".stripMargin,
    "doc_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        | s AS (SELECT doc_id, toks,
        |   unnest(generate_series(0,
        |     CAST(ceil(greatest(len(toks) - 32, 0) / 24.0) AS INT))) AS i
        |   FROM t)
        |SELECT doc_id, (i + 1)::INTEGER AS chunk_id,
        | (i * 24 + 1)::INTEGER AS start_tok,
        | len(toks[(i * 24 + 1):(i * 24 + 32)])::INTEGER AS n_chunk_tokens,
        | md5(array_to_string(toks[(i * 24 + 1):(i * 24 + 32)], ' ')) AS chunk_md5
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin,
    "quality_filter" ->
      """WITH q AS (SELECT source,
        |   len(string_split(text, ' ')) AS n_tokens,
        |   list_sum(list_transform(string_split(text, ' '), x -> length(x)))::DOUBLE
        |     / len(string_split(text, ' ')) AS mean_tok_len,
        |   len(list_filter(string_split(text, ' '),
        |       x -> x IN ('the', 'a', 'of', 'and', 'is', 'in', 'to')))::DOUBLE
        |     / len(string_split(text, ' ')) AS stop_ratio,
        |   (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))::DOUBLE
        |     / length(text) AS symbol_ratio
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        | sum(CASE WHEN n_tokens BETWEEN 5 AND 100000 AND mean_tok_len BETWEEN 2.0 AND 12.0
        |     AND stop_ratio >= 0.01 AND symbol_ratio <= 0.2 THEN 1 ELSE 0 END)::BIGINT AS n_keep,
        | round(avg(stop_ratio), 6) AS avg_stop_ratio,
        | round(avg(mean_tok_len), 6) AS avg_tok_len
        |FROM q GROUP BY source ORDER BY source""".stripMargin,
    "curriculum_order" ->
      """WITH t AS (SELECT doc_id, n_chars::DOUBLE AS s FROM documents),
        | tt AS (SELECT doc_id,
        |   CAST(ntile(10) OVER (ORDER BY s, doc_id) AS BIGINT) AS tier FROM t),
        | o AS (SELECT doc_id, tier, row_number() OVER
        |   (ORDER BY tier, md5('curr|' || doc_id::VARCHAR), doc_id) AS ord
        |  FROM tt)
        |SELECT doc_id, tier, ord FROM o ORDER BY ord""".stripMargin,
    "text_stats" ->
      """SELECT doc_id,
        | len(string_split(text, ' ')) AS n_tokens,
        | len(list_distinct(string_split(text, ' '))) AS n_uniq,
        | len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe,
        | round(list_sum(list_transform(string_split(text, ' '), x -> length(x)))::DOUBLE
        |   / len(string_split(text, ' ')), 6) AS avg_tok_len,
        | round(len(list_filter(string_split(text, ' '),
        |     x -> x IN ('the', 'a', 'of', 'and', 'is', 'in', 'to')))::DOUBLE
        |   / len(string_split(text, ' ')), 6) AS stop_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_pack" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |   FROM documents),
        | c AS (SELECT doc_id, n_tokens,
        |   sum(n_tokens) OVER (ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
        |SELECT ((cum - n_tokens) // 256 + 1)::BIGINT AS bin_id,
        | count(*) AS n_docs, sum(n_tokens)::BIGINT AS sum_tokens,
        | min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY bin_id""".stripMargin,
    "decontam_overlap" ->
      s"""WITH $shinglesSql,
        | ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
        | corpus AS (SELECT doc_id, s FROM sh WHERE doc_id % 97 <> 0),
        | sizes AS (SELECT doc_id, count(*) AS n_sh FROM corpus GROUP BY doc_id),
        | hits AS (SELECT doc_id, count(*) AS n_overlap
        |   FROM corpus JOIN ev USING (s) GROUP BY doc_id)
        |SELECT doc_id, n_sh, n_overlap,
        | round(n_overlap::DOUBLE / n_sh, 6) AS frac
        |FROM hits JOIN sizes USING (doc_id) ORDER BY doc_id""".stripMargin,
    "decontam_bloom" ->
      s"""WITH $shinglesSql,
        | kk AS (SELECT doc_id, s,
        |   ('0x' || substr(md5(s), 1, 8))::BIGINT AS k FROM sh),
        | hs(a, b) AS (VALUES
        |   (${DecontamBloomHashes(0)._1}, ${DecontamBloomHashes(0)._2}),
        |   (${DecontamBloomHashes(1)._1}, ${DecontamBloomHashes(1)._2})),
        | eb AS (SELECT DISTINCT
        |     (((a * (k % $DecontamBloomPrime)) % $DecontamBloomPrime + b)
        |       % $DecontamBloomPrime) % $DecontamBloomBits AS bit
        |   FROM kk CROSS JOIN hs WHERE doc_id % 97 = 0),
        | corpus AS (SELECT doc_id, s, k FROM kk WHERE doc_id % 97 <> 0),
        | sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM corpus GROUP BY doc_id),
        | pb AS (SELECT doc_id, s,
        |     (((a * (k % $DecontamBloomPrime)) % $DecontamBloomPrime + b)
        |       % $DecontamBloomPrime) % $DecontamBloomBits AS bit
        |   FROM corpus CROSS JOIN hs),
        | cand AS (SELECT doc_id, s FROM pb GROUP BY doc_id, s
        |   HAVING count(*) = sum(
        |     CASE WHEN bit IN (SELECT bit FROM eb) THEN 1 ELSE 0 END)),
        | nc AS (SELECT doc_id, count(*)::BIGINT AS n_cand FROM cand GROUP BY doc_id),
        | ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
        | hits AS (SELECT doc_id, count(*)::BIGINT AS n_overlap
        |   FROM cand JOIN ev USING (s) GROUP BY doc_id)
        |SELECT nc.doc_id, n_sh, n_cand,
        | coalesce(n_overlap, 0)::BIGINT AS n_overlap,
        | round(coalesce(n_overlap, 0)::DOUBLE / n_sh, 6) AS frac
        |FROM nc JOIN sizes USING (doc_id) LEFT JOIN hits USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "gopher_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        | wc AS (SELECT doc_id, w, count(*) AS c FROM
        |   (SELECT doc_id, unnest(toks) AS w FROM t) GROUP BY doc_id, w),
        | ws AS (SELECT doc_id, sum(c)::BIGINT AS n_words,
        |   (sum(c) - count(*))::BIGINT AS n_dup, max(c) AS top_w
        |   FROM wc GROUP BY doc_id),
        | bc AS (SELECT doc_id, bg, count(*) AS c FROM
        |   (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS bg
        |    FROM t WHERE len(toks) >= 2) GROUP BY doc_id, bg),
        | bs AS (SELECT doc_id, sum(c)::BIGINT AS n_bigrams, max(c) AS top_b
        |   FROM bc GROUP BY doc_id)
        |SELECT ws.doc_id, n_words,
        | round(n_dup::DOUBLE / n_words, 6) AS dup_word_frac,
        | round(top_w::DOUBLE / n_words, 6) AS top_word_frac,
        | round(top_b::DOUBLE / n_bigrams, 6) AS top_bigram_frac,
        | (CASE WHEN round(top_w::DOUBLE / n_words, 6) <= 0.125
        |       AND round(top_b::DOUBLE / n_bigrams, 6) <= 0.05
        |  THEN 1 ELSE 0 END)::BIGINT AS keep
        |FROM ws JOIN bs ON ws.doc_id = bs.doc_id ORDER BY ws.doc_id""".stripMargin,
    "merge_upsert" ->
      """WITH base AS (SELECT doc_id, n_chars FROM documents WHERE doc_id < 400),
        | ch AS (SELECT doc_id, n_chars FROM documents WHERE doc_id >= 100)
        |SELECT doc_id, n_chars, 'changes' AS origin FROM ch
        |UNION ALL
        |SELECT b.doc_id, b.n_chars, 'base' AS origin FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM ch WHERE ch.doc_id = b.doc_id)
        |ORDER BY doc_id""".stripMargin,
    "text_normalize" ->
      """WITH n AS (SELECT doc_id, text,
        |   trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, md5(norm) AS norm_hash,
        | length(norm)::INT AS n_chars_norm,
        | (length(text) - length(norm))::INT AS chars_removed
        |FROM n ORDER BY doc_id""".stripMargin,
    "dsir_weights" ->
      """WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |   FROM documents),
        | counts AS (SELECT w,
        |   sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS ct,
        |   sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)::BIGINT AS cc
        |   FROM toks GROUP BY w),
        | tot AS (SELECT sum(ct)::BIGINT AS nt, sum(cc)::BIGINT AS nc,
        |   count(*)::BIGINT AS vsz FROM counts),
        | wts AS (SELECT w, ln((ct + 1.0) / (nt + vsz)) - ln((cc + 1.0) / (nc + vsz)) AS lw
        |   FROM counts, tot)
        |SELECT doc_id, round(sum(lw), 6) AS dsir_w, count(*)::BIGINT AS n_toks
        |FROM toks JOIN wts USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "corpus_diff" ->
      """WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
        | v1 AS (SELECT doc_id, h AS h1 FROM h WHERE doc_id < 400),
        | v2 AS (SELECT doc_id, h AS h2 FROM h WHERE doc_id >= 100),
        | d AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |   CASE WHEN h1 IS NULL THEN 'added'
        |        WHEN h2 IS NULL THEN 'removed'
        |        WHEN h1 <> h2 THEN 'changed'
        |        ELSE 'unchanged' END AS status
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT status, count(*)::BIGINT AS n_docs,
        | min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM d GROUP BY status ORDER BY status""".stripMargin,
    "corpus_shuffle" ->
      """WITH pos AS (SELECT doc_id,
        |   row_number() OVER (ORDER BY md5('shuf|' || CAST(doc_id AS VARCHAR)),
        |                      doc_id) AS pos
        |  FROM documents)
        |SELECT doc_id, pos, (pos - 1) % 16 AS shard FROM pos ORDER BY pos""".stripMargin,
    "score_rank_norm" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
        |   row_number() OVER (PARTITION BY source
        |     ORDER BY n_chars, doc_id) AS rg,
        |   count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source, n_chars,
        | CASE WHEN n > 1 THEN round((rg - 1.0) / (n - 1), 6)
        |      ELSE 0.0 END AS pct_rank
        |FROM r ORDER BY doc_id""".stripMargin,
    "weighted_sample" ->
      """WITH d AS (SELECT doc_id, source,
        |   len(string_split(text, ' '))::BIGINT AS w,
        |   greatest(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
        |     / 4294967296.0, 1e-12) AS u
        |  FROM documents)
        |SELECT doc_id, source, w, round(ln(u) / w, 6) + 0.0 AS key
        |FROM d ORDER BY key DESC, doc_id LIMIT 50""".stripMargin,
    "source_report" ->
      """WITH d AS (SELECT source, lang, text,
        |     string_split(text, ' ') AS toks FROM documents),
        | f AS (SELECT source, lang,
        |   len(toks)::BIGINT AS n_tok,
        |   list_sum(list_transform(toks, x -> length(x)))::DOUBLE
        |     / len(toks) AS mean_len,
        |   len(list_filter(toks,
        |     t -> t IN ('the','a','of','and','is','in','to')))::DOUBLE
        |     / len(toks) AS stop_ratio,
        |   (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))::DOUBLE
        |     / length(text) AS sym_ratio
        |   FROM d)
        |SELECT source, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
        | round(avg(mean_len), 6) AS avg_tok_len,
        | round(avg(stop_ratio), 6) AS avg_stop_ratio,
        | round(avg(sym_ratio), 6) AS avg_sym_ratio,
        | round(avg(CASE WHEN n_tok BETWEEN 5 AND 100000
        |     AND mean_len BETWEEN 2 AND 12
        |     AND stop_ratio >= 0.01 AND sym_ratio <= 0.2
        |   THEN 1 ELSE 0 END), 6) AS keep_rate,
        | count(DISTINCT lang)::BIGINT AS n_langs
        |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "pack_stats" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |   FROM documents),
        | c AS (SELECT doc_id, n_tokens,
        |   sum(n_tokens) OVER (ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t),
        | b AS (SELECT ((cum - n_tokens) // 256 + 1)::BIGINT AS bin_id,
        |   sum(n_tokens)::BIGINT AS fill FROM c GROUP BY 1)
        |SELECT count(*)::BIGINT AS n_bins, sum(fill)::BIGINT AS n_tokens,
        |  round(avg(fill / 256.0), 6) AS avg_fill,
        |  round(min(fill / 256.0), 6) AS min_fill,
        |  round(max(fill / 256.0), 6) AS max_fill,
        |  sum(CASE WHEN fill * 10 >= 2304 THEN 1 ELSE 0 END)::BIGINT AS n_full90
        |FROM b""".stripMargin)
}
