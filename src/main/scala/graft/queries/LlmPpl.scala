package graft.queries

import graft.Tables
import graft.plans.Held
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Language-model scoring family: the unigram->bigram->trigram->4-gram
  * interpolated Kneser-Ney perplexity ladder on 64-bit hashed tokens,
  * quality tiers, BM25, PMI, entropy and vocabulary-law diagnostics.
  * Mixed into [[LlmData]]; see its scaladoc for the scale notes. */
trait LlmPplOps extends LlmCore {

  /** Heaps'-law vocabulary-growth profile: per source, vocabulary size V
    * vs token count N. Natural text follows V ≈ K·N^β with β ≈ 0.4–0.6;
    * a template-heavy or machine-generated slice bends the exponent, so
    * the cross-source OLS of ln V on ln N — (β, ln K, R²) — is the
    * corpus-health number that catches vocabulary collapse (over-eager
    * dedup/scrub) or explosion (encoding junk) the way [[vocabZipf]]
    * catches frequency-shape damage. One token-keyed agg per source
    * (map-side combinable, uniform keys), then an O(|sources|) moment
    * fold — nothing driver-side. */
  def vocabHeaps(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .selectExpr("source", "explode(split(text, ' ')) AS w")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), countDistinct("w").as("n_vocab"))
    val x = log(col("n_tokens").cast("double"))
    val y = log(col("n_vocab").cast("double"))
    val m = per.agg(count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
      sum(x * x).as("sxx"), sum(y * y).as("syy"))
    val cov = m("n") * m("sxy") - m("sx") * m("sy")
    val varX = m("n") * m("sxx") - m("sx") * m("sx")
    val varY = m("n") * m("syy") - m("sy") * m("sy")
    val beta = cov / varX
    m.select(col("n").as("n_sources"),
      (round(beta, 4) + lit(0.0)).as("heaps_beta"),
      (round((m("sy") - beta * m("sx")) / m("n"), 4) + lit(0.0))
        .as("heaps_lnk"),
      (round(cov * cov / (varX * varY), 4) + lit(0.0)).as("heaps_r2"))
  }


  /** CCNet-style perplexity scoring under a unigram LM fit on the corpus
    * itself (add-one smoothed): ppl(doc) = exp(−mean log p(w)). CCNet
    * buckets a crawl into head/middle/tail quality tiers by LM perplexity;
    * the unigram LM keeps the operator closed over the corpus (no external
    * model file) while exercising the identical dataflow — token-keyed LM
    * build, one scalar-total broadcast, token-keyed score join. Swap the
    * `lp` table for an external n-gram LM's scores to get the full CCNet
    * pipeline. */
  def unigramPpl(s: SparkSession, dir: String): Held =
    unigramPplOfToks(tokenArraysOf(s, dir)).map(_.orderBy("doc_id"))


  // The unigram→bigram→trigram→4-gram perplexity ladder (and
  // quality_tiers, which ranks on unigram ppl) all start from the same
  // hashed (doc_id, toks) array frame, which feeds every n-gram explode.
  //
  // Tokens are HASHED to 64-bit inside the row-local split (xxhash64) —
  // the KenLM representation (Heafield 2011: n-gram keys live as 64-bit
  // hashes, strings never enter the LM tables). Every downstream agg,
  // shuffle, and scoring join then keys on fixed-width longs instead of
  // 1-4 UTF8 strings: smaller exchanges, cheaper hashing/comparison,
  // and an UnsafeRow layout with no variable-length payload. A doc's
  // perplexity depends only on n-gram COUNT EQUALITIES, which the hash
  // preserves absent collisions — and a 64-bit hash over a realistic
  // vocab is collision-free in expectation far past 1e8 types (p ≈
  // v²/2⁶⁵; the cross-engine oracle hashes would catch one instantly).
  /** (doc_id, toks) token-HASH arrays of the documents corpus. */
  private def tokenArraysOf(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).selectExpr("doc_id",
      "transform(split(text, ' '), t -> xxhash64(t)) AS toks")


  /** The perplexity score over ANY (id, text) frame — what
    * [[graft.CorpusRunner]]'s `ppl_gate` step ranks on — with its cached
    * token rows as the handle to release once the scores are
    * materialized (see [[Held]]). */
  def unigramPplHeld(docs: DataFrame, idCol: String,
                     textCol: String): Held =
    unigramPplOfToks(docs.selectExpr(s"$idCol AS doc_id",
      s"transform(split($textCol, ' '), t -> xxhash64(t)) AS toks"))

  private def unigramPplOfToks(tokArr: DataFrame): Held = {
    // cached: feeds both the LM build and the scoring join
    val Held(toks, toksH) = Held.cached(tokArr
      .selectExpr("doc_id", "explode(toks) AS w"))
    val cnt = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = cnt.agg(sum("c").as("n"), count(lit(1)).as("v"))
    val lp = cnt.crossJoin(broadcast(tot))
      .select(col("w"),
        log((col("c") + 1).cast("double") / (col("n") + col("v"))).as("lp"))
    Held(toks.join(lp, "w")
      .groupBy("doc_id")
      .agg(round(exp(-sum("lp") / count(lit(1))), 4).as("ppl"),
        count(lit(1)).as("n_toks")), toksH)
  }


  /** Bigram-LM perplexity — one fidelity step toward CCNet's 5-gram
    * KenLM scoring, built with the same corpus-fit machinery as
    * [[unigramPpl]]: p(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V) add-one smoothed
    * over the corpus's own bigrams, ppl(doc) = exp(−mean ln p) over the
    * doc's bigram stream. Bigrams are a ROW-LOCAL transform of the token
    * array (no positional self-join); the LM build is one bigram-keyed
    * agg + one context-keyed agg; scoring is a bigram-keyed join — all
    * uniform keys, map-side combinable. Docs shorter than 2 tokens have
    * no bigrams and get no row (same convention as a KenLM scorer
    * skipping empty input). */
  def bigramPpl(s: SparkSession, dir: String): DataFrame =
    bigramPplOfToks(tokenArraysOf(s, dir)).orderBy("doc_id")


  /** The bigram perplexity over ANY (id, text) frame. */
  def bigramPplOf(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame =
    bigramPplOfToks(docs.selectExpr(s"$idCol AS doc_id",
      s"transform(split($textCol, ' '), t -> xxhash64(t)) AS toks"))

  private def bigramPplOfToks(tokArr: DataFrame): DataFrame = {
    val bg = tokArr
      .filter("size(toks) >= 2")
      .selectExpr("doc_id",
        """explode(transform(sequence(1, size(toks) - 1),
          |  i -> struct(toks[i - 1] AS w1, toks[i] AS w2))) AS b""".stripMargin)
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val v = bg.select("w2").union(bg.select("w1")).distinct()
      .agg(count(lit(1)).as("v"))
    val lp = c2.join(c1, "w1").crossJoin(broadcast(v))
      .select(col("w1"), col("w2"),
        log((col("c2") + 1).cast("double") / (col("c1") + col("v"))).as("lp"))
    bg.join(lp, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(round(exp(-sum("lp") / count(lit(1))), 4).as("ppl"),
        count(lit(1)).as("n_bigrams"))
  }


  /** Interpolated Kneser-Ney trigram perplexity — the next rung of the
    * fidelity ladder toward CCNet's 5-gram KenLM scoring ([[unigramPpl]]
    * → [[bigramPpl]] → this): absolute discount D=0.75 at the trigram
    * level, KN CONTINUATION counts (type counts, not token counts) at
    * the bigram/unigram levels, fully interpolated:
    *
    *   p(w3|w1w2) = max(c(w1w2w3)−D,0)/c(w1w2)
    *              + D·N1+(w1w2·)/c(w1w2) · p(w3|w2)
    *   p(w3|w2)   = max(N1+(·w2w3)−D,0)/N1+(·w2·)
    *              + D·N1+(w2·)/N1+(·w2·) · p_cont(w3)
    *   p_cont(w3) = N1+(·w3)/N1+(··)       (over distinct (w2,w3) types)
    *
    * This is what ranks a FLUENT document below a shuffled-token one —
    * unigram perplexity cannot separate them at all (same token
    * multiset ⇒ identical score; LlmQualitySpec proves both claims).
    *
    * Scale shape: trigrams are a row-local transform of the token array;
    * every LM table is a map-side-combining agg on uniform token keys
    * (trigram/bigram/unigram types); each backoff level is evaluated at
    * its own granularity and joined one level up, so the big type table
    * is joined exactly twice; the corpus-side scoring join shuffles only
    * (doc_id, 128-bit gram key). The only driver/broadcast state is the
    * 1-row N1+(··) scalar. */
  def trigramPpl(s: SparkSession, dir: String): Held =
    trigramPplOfToks(tokenArraysOf(s, dir)).map(_.orderBy("doc_id"))


  /** The KN trigram perplexity over ANY (id, text) frame. Docs shorter
    * than 3 tokens have no trigrams and get no row. */
  def trigramPplOf(docs: DataFrame, idCol: String,
                   textCol: String): Held =
    trigramPplOfToks(docs.selectExpr(s"$idCol AS doc_id",
      s"transform(split($textCol, ' '), t -> xxhash64(t)) AS toks"))

  private def trigramPplOfToks(tokArr: DataFrame): Held = {
    val D = 0.75
    val t3 = tokArr.filter("size(toks) >= 3")
    // corpus-side gram stream: ONLY (doc_id, 128-bit gram key) ever flows
    // into the scoring join's exchange — the heavy component columns never
    // leave the row-local explode (guide §2.3: shuffle keys, not payloads).
    // The key is a pair of independent 64-bit mixes (forward + reversed
    // argument order), collision-free in expectation far past 10^15 gram
    // TYPES — the order-6+ safety margin a single 64-bit key lacks once a
    // 100 TB corpus carries ~10^12 n-gram types (birthday bound ≈ 4·10^9).
    val tg = t3.selectExpr("doc_id",
      """explode(transform(sequence(2, size(toks) - 1),
        |  i -> struct(xxhash64(toks[i-2], toks[i-1], toks[i]) AS g1,
        |              xxhash64(toks[i], toks[i-1], toks[i-2]) AS g2))) AS g"""
        .stripMargin)
      .select(col("doc_id"), col("g.g1").as("g1"), col("g.g2").as("g2"))
    // TYPE tables keep raw component columns (no hashing → zero collision
    // surface in the LM counts); each level derives from the previous
    // level's suffix-type table, so no countDistinct expansion anywhere.
    val c3 = t3
      .selectExpr("doc_id",
        """explode(transform(sequence(2, size(toks) - 1),
          |  i -> struct(toks[i - 2] AS w1, toks[i - 1] AS w2,
          |              toks[i] AS w3))) AS g""".stripMargin)
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"),
        col("g.w3").as("w3"))
      .agg(count(lit(1)).as("c3"))
      .cache() // the trigram TYPE table every KN count derives from
    val c12 = c3.groupBy("w1", "w2")
      .agg(sum("c3").as("c12"), count(lit(1)).as("nt12"))
    val m23 = c3.groupBy("w2", "w3").agg(count(lit(1)).as("n23"))
      .cache() // m23's rows ARE the distinct (w2,w3) types
    // nd2 = |{c3 types per w2}| = Σ n23 over m23's w2 bucket — ONE agg of
    // the SMALLER m23 table replaces the former agg-over-c3 + join shape
    val d2 = m23.groupBy("w2")
      .agg(sum("n23").as("nd2"), count(lit(1)).as("n2d"))
    val c3c = m23.groupBy("w3").agg(count(lit(1)).as("nd3"))
    val ndd = m23.agg(count(lit(1)).as("ndd"))
    // hierarchical backoff: each KN level is evaluated AT ITS OWN
    // GRANULARITY and joined one level up — the big c3 table is joined
    // exactly twice (c12, p2) instead of carrying all four side tables
    val p2 = m23.join(d2, Seq("w2")).join(c3c, Seq("w3"))
      .crossJoin(broadcast(ndd))
      .select(col("w2"), col("w3"),
        (greatest(col("n23") - D, lit(0.0)) / col("nd2") +
          lit(D) * col("n2d") / col("nd2") *
            (col("nd3") / col("ndd"))).as("p2"))
    val sc = c3.join(c12, Seq("w1", "w2")).join(p2, Seq("w2", "w3"))
      .select(xxhash64(col("w1"), col("w2"), col("w3")).as("g1"),
        xxhash64(col("w3"), col("w2"), col("w1")).as("g2"),
        log(greatest(col("c3") - D, lit(0.0)) / col("c12") +
          lit(D) * col("nt12") / col("c12") * col("p2")).as("lp"))
    // per-doc rows: tiny next to the LM caches it holds
    Held(tg.join(sc, Seq("g1", "g2"))
        .groupBy("doc_id")
        .agg(round(exp(-sum("lp") / count(lit(1))), 4).as("ppl"),
          count(lit(1)).as("n_trigrams")), Seq(c3, m23))
  }


  /** Interpolated Kneser-Ney 4-gram perplexity with min-count PRUNING —
    * the last rung of the CCNet fidelity ladder ([[unigramPpl]] →
    * [[bigramPpl]] → [[trigramPpl]] → this). Same KN recursion as
    * [[trigramPplOf]] shifted one order up — 4-gram token counts at the
    * top, continuation (type) counts at every lower level, all derived
    * from the single 4-gram TYPE table:
    *
    *   p4(w4|w1w2w3) = max(c4−D,0)/c123 + D·nt123/c123 · p3(w4|w2w3)
    *   p3(w4|w2w3)   = max(N1+(·w2w3w4)−D,0)/N1+(·w2w3·)
    *                 + D·N1+(w2w3·)/N1+(·w2w3·) · p2(w4|w3)
    *   p2(w4|w3)     = max(N1+(··w3w4)−D,0)/N1+(··w3·)
    *                 + D·N1+(·w3·)/N1+(··w3·) · pcont(w4)
    *
    * What keeps order 4 BOUNDED where order 3 was not a concern: the
    * top-level table grows ~linearly in corpus size (most 4-grams are
    * singletons), so the model keeps only types with c4 ≥ `minCount`;
    * a scored 4-gram outside the kept table BACKS OFF to the full
    * trigram-level KN probability p3 (keyed (w2,w3,w4) — order-3 state,
    * the same scale class [[trigramPplOf]] already carries). Context
    * totals c123/nt123 come from the UNPRUNED type table (a transient
    * map-side agg, never part of the scoring artifact), so pruning
    * changes no kept probability — it only reroutes rare-type mass to
    * the backoff path, the standard drop-the-ngram/keep-the-backoff
    * pruning shape.
    *
    * LlmQualitySpec proves the fidelity claim: a doc whose trigrams are
    * all corpus-frequent but whose 4-gram is novel ties `trigram_ppl`
    * exactly and only this model separates it.
    *
    * Scale shape: 4-grams are a row-local transform of the token array;
    * every LM table is a map-side-combining agg on uniform n-gram keys;
    * the backoff ladder is evaluated hierarchically (p2 at (w3,w4), p3 at
    * (w2,w3,w4), pruned top level inline on the type table), so each
    * level joins two frames at its own size; the corpus-side scoring join
    * shuffles only (doc_id, 128-bit gram key); the only broadcast is the
    * 1-row N1+(···) scalar. */
  def fourgramPpl(s: SparkSession, dir: String): Held =
    fourgramPplOfToks(tokenArraysOf(s, dir), FourgramMinCount)
      .map(_.orderBy("doc_id"))


  /** Min-count prune threshold for [[fourgramPplOf]] — shared with the
    * `fourgram_ppl` oracle string so the two sides cannot drift. */
  val FourgramMinCount = 2


  /** The pruned KN 4-gram perplexity over ANY (id, text) frame. Docs
    * shorter than 4 tokens have no 4-grams and get no row. */
  def fourgramPplOf(docs: DataFrame, idCol: String, textCol: String,
                    minCount: Int = FourgramMinCount): Held =
    fourgramPplOfToks(docs.selectExpr(s"$idCol AS doc_id",
      s"transform(split($textCol, ' '), t -> xxhash64(t)) AS toks"),
      minCount)

  private def fourgramPplOfToks(tokArr: DataFrame, minCount: Int): Held = {
    require(minCount >= 1, s"fourgram: minCount must be >= 1, got $minCount")
    val D = 0.75
    val t4 = tokArr.filter("size(toks) >= 4")
    // corpus-side gram stream: (doc_id, 128-bit gram key) only — see
    // trigramPplOfToks for the key-pair collision argument
    val qg = t4.selectExpr("doc_id",
      """explode(transform(sequence(3, size(toks) - 1),
        |  i -> struct(
        |    xxhash64(toks[i-3], toks[i-2], toks[i-1], toks[i]) AS g1,
        |    xxhash64(toks[i], toks[i-1], toks[i-2], toks[i-3]) AS g2))) AS g"""
        .stripMargin)
      .select(col("doc_id"), col("g.g1").as("g1"), col("g.g2").as("g2"))
    val c4 = t4
      .selectExpr("doc_id",
        """explode(transform(sequence(3, size(toks) - 1),
          |  i -> struct(toks[i - 3] AS w1, toks[i - 2] AS w2,
          |              toks[i - 1] AS w3, toks[i] AS w4))) AS g""".stripMargin)
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"),
        col("g.w3").as("w3"), col("g.w4").as("w4"))
      .agg(count(lit(1)).as("c4"))
      .cache() // the 4-gram TYPE table every KN count derives from
    val c123 = c4.groupBy("w1", "w2", "w3")
      .agg(sum("c4").as("c123"), count(lit(1)).as("nt123"))
    val m234 = c4.groupBy("w2", "w3", "w4").agg(count(lit(1)).as("n234"))
      .cache() // distinct (w2,w3,w4) continuation types — the backoff
               // level's own "token" table, same derivation trick as
               // trigramPplOf's m23: no countDistinct expansion anywhere
    val m34 = m234.groupBy("w3", "w4").agg(count(lit(1)).as("n34"))
      .cache()
    // nd23 = |{c4 types per (w2,w3)}| = Σ n234 over m234's bucket; n3d
    // likewise from m34 — each d-table is ONE agg of the NEXT-SMALLER
    // m-table (the former shape re-aggregated the big table AND joined)
    val d23 = m234.groupBy("w2", "w3")
      .agg(sum("n234").as("nd23"), count(lit(1)).as("n23d"))
    val d3 = m34.groupBy("w3")
      .agg(sum("n34").as("nd3"), count(lit(1)).as("n3d"))
    val cw4 = m34.groupBy("w4").agg(count(lit(1)).as("nw4"))
    val ndd = m34.agg(count(lit(1)).as("ndd"))
    // hierarchical backoff: p2 at the (w3,w4) level, p3 at (w2,w3,w4),
    // top level inline on the type table — each level joins exactly two
    // frames AT ITS OWN SIZE instead of dragging every side table onto
    // the m234-sized frame
    val p2 = m34.join(d3, Seq("w3")).join(cw4, Seq("w4"))
      .crossJoin(broadcast(ndd))
      .select(col("w3"), col("w4"),
        (greatest(col("n34") - D, lit(0.0)) / col("nd3") +
          lit(D) * col("n3d") / col("nd3") *
            (col("nw4") / col("ndd"))).as("p2"))
    val p3 = m234.join(d23, Seq("w2", "w3")).join(p2, Seq("w3", "w4"))
      .select(col("w2"), col("w3"), col("w4"),
        (greatest(col("n234") - D, lit(0.0)) / col("nd23") +
          lit(D) * col("n23d") / col("nd23") * col("p2")).as("p3"))
    // pruned top level INLINE: a kept type (c4 >= minCount) scores the
    // full order-4 recursion, everything else backs off to p3 — the
    // when() replaces the former separate pruned-LM build + left join
    // (two more c4-sized exchanges), with bit-identical arithmetic
    val sc = c4.join(c123, Seq("w1", "w2", "w3"))
      .join(p3, Seq("w2", "w3", "w4"))
      .select(
        xxhash64(col("w1"), col("w2"), col("w3"), col("w4")).as("g1"),
        xxhash64(col("w4"), col("w3"), col("w2"), col("w1")).as("g2"),
        log(when(col("c4") >= minCount,
          greatest(col("c4") - D, lit(0.0)) / col("c123") +
            lit(D) * col("nt123") / col("c123") * col("p3"))
          .otherwise(col("p3"))).as("lp"))
    // per-doc rows: tiny next to the LM caches it holds
    Held(qg.join(sc, Seq("g1", "g2"))
        .groupBy("doc_id")
        .agg(round(exp(-sum("lp") / count(lit(1))), 4).as("ppl"),
          count(lit(1)).as("n_fourgrams")), Seq(c4, m234, m34))
  }

  /** Interpolated Kneser-Ney 5-gram perplexity with min-count pruning —
    * full KenLM-order fidelity for the CCNet scoring path (CCNet's
    * reference filter is a 5-gram KenLM; the ladder previously stopped at
    * [[fourgramPplOf]]). The same recursion as order 4 shifted one order
    * up — 5-gram token counts at the top, continuation (type) counts at
    * every lower level, each level's "token" table derived from the
    * previous level's suffix-type table, so no countDistinct expansion
    * anywhere:
    *
    *   p5(w5|w1..w4) = max(c5−D,0)/c1234 + D·nt1234/c1234 · p4(w5|w2w3w4)
    *   p4(w5|w2w3w4) = max(N1+(·w2w3w4w5)−D,0)/N1+(·w2w3w4·)
    *                 + D·N1+(w2w3w4·)/N1+(·w2w3w4·) · p3(w5|w3w4)
    *   p3(w5|w3w4)   = max(N1+(··w3w4w5)−D,0)/N1+(··w3w4·)
    *                 + D·N1+(·w3w4·)/N1+(··w3w4·) · p2(w5|w4)
    *   p2(w5|w4)     = max(N1+(···w4w5)−D,0)/N1+(···w4·)
    *                 + D·N1+(··w4·)/N1+(···w4·) · pcont(w5)
    *
    * Pruning keeps only 5-gram types with c5 ≥ `minCount` in the scoring
    * artifact (context totals c1234/nt1234 stay UNPRUNED, so no kept
    * probability changes); pruned types back off to the full 4-gram-level
    * continuation probability p4, keyed (w2..w5) — order-4 state, the
    * same scale class [[fourgramPplOf]] already carries.
    *
    * LlmQualitySpec proves the fidelity claim one order up: a doc whose
    * 4-grams are all corpus-frequent but whose 5-gram is novel ties
    * `fourgram_ppl` exactly and only this model separates it.
    *
    * Scale shape: identical to order 4 — row-local n-gram transform,
    * map-side-combining aggs on uniform hashed-token keys, hierarchical
    * backoff evaluation (p2→p3→p4 each at its own granularity, pruned top
    * level inline), a corpus-side scoring join on the 128-bit gram key,
    * and the only broadcast is the 1-row N1+(····) scalar. */
  def fivegramPpl(s: SparkSession, dir: String): Held =
    fivegramPplOfToks(tokenArraysOf(s, dir), FivegramMinCount)
      .map(_.orderBy("doc_id"))

  /** Min-count prune threshold for [[fivegramPplOf]] — shared with the
    * `fivegram_ppl` oracle string so the two sides cannot drift. */
  val FivegramMinCount = 2

  /** The pruned KN 5-gram perplexity over ANY (id, text) frame. Docs
    * shorter than 5 tokens have no 5-grams and get no row. */
  def fivegramPplOf(docs: DataFrame, idCol: String, textCol: String,
                    minCount: Int = FivegramMinCount): Held =
    fivegramPplOfToks(docs.selectExpr(s"$idCol AS doc_id",
      s"transform(split($textCol, ' '), t -> xxhash64(t)) AS toks"),
      minCount)

  private def fivegramPplOfToks(tokArr: DataFrame, minCount: Int): Held = {
    require(minCount >= 1, s"fivegram: minCount must be >= 1, got $minCount")
    val D = 0.75
    val t5 = tokArr.filter("size(toks) >= 5")
    // corpus-side gram stream: (doc_id, 128-bit gram key) only — see
    // trigramPplOfToks for the key-pair collision argument
    val pg = t5.selectExpr("doc_id",
      """explode(transform(sequence(4, size(toks) - 1),
        |  i -> struct(
        |    xxhash64(toks[i-4], toks[i-3], toks[i-2], toks[i-1], toks[i]) AS g1,
        |    xxhash64(toks[i], toks[i-1], toks[i-2], toks[i-3], toks[i-4]) AS g2))) AS g"""
        .stripMargin)
      .select(col("doc_id"), col("g.g1").as("g1"), col("g.g2").as("g2"))
    val c5 = t5
      .selectExpr("doc_id",
        """explode(transform(sequence(4, size(toks) - 1),
          |  i -> struct(toks[i - 4] AS w1, toks[i - 3] AS w2,
          |              toks[i - 2] AS w3, toks[i - 1] AS w4,
          |              toks[i] AS w5))) AS g""".stripMargin)
      .groupBy(col("g.w1").as("w1"), col("g.w2").as("w2"),
        col("g.w3").as("w3"), col("g.w4").as("w4"), col("g.w5").as("w5"))
      .agg(count(lit(1)).as("c5"))
      .cache() // the 5-gram TYPE table every KN count derives from
    val c1234 = c5.groupBy("w1", "w2", "w3", "w4")
      .agg(sum("c5").as("c1234"), count(lit(1)).as("nt1234"))
    val m2345 = c5.groupBy("w2", "w3", "w4", "w5")
      .agg(count(lit(1)).as("n2345"))
      .cache() // distinct (w2..w5) continuation types — the backoff
               // level's own "token" table
    val m345 = m2345.groupBy("w3", "w4", "w5").agg(count(lit(1)).as("n345"))
      .cache()
    val m45 = m345.groupBy("w4", "w5").agg(count(lit(1)).as("n45"))
      .cache()
    // each d-table is ONE agg of the next-smaller m-table (nd234 =
    // |{c5 types per (w2,w3,w4)}| = Σ n2345 over m2345's bucket, etc.) —
    // the former shape re-aggregated the bigger table AND joined
    val d234 = m2345.groupBy("w2", "w3", "w4")
      .agg(sum("n2345").as("nd234"), count(lit(1)).as("n234d"))
    val d34 = m345.groupBy("w3", "w4")
      .agg(sum("n345").as("nd34"), count(lit(1)).as("n34d"))
    val d4 = m45.groupBy("w4")
      .agg(sum("n45").as("nd4"), count(lit(1)).as("n4d"))
    val cw5 = m45.groupBy("w5").agg(count(lit(1)).as("nw5"))
    val ndd = m45.agg(count(lit(1)).as("ndd"))
    // hierarchical backoff: p2 at (w4,w5), p3 at (w3,w4,w5), p4 at
    // (w2..w5), top level inline on the type table — each level joins
    // exactly two frames AT ITS OWN SIZE instead of dragging six side
    // tables onto the m2345-sized frame (six big exchanges → two)
    val p2 = m45.join(d4, Seq("w4")).join(cw5, Seq("w5"))
      .crossJoin(broadcast(ndd))
      .select(col("w4"), col("w5"),
        (greatest(col("n45") - D, lit(0.0)) / col("nd4") +
          lit(D) * col("n4d") / col("nd4") *
            (col("nw5") / col("ndd"))).as("p2"))
    val p3 = m345.join(d34, Seq("w3", "w4")).join(p2, Seq("w4", "w5"))
      .select(col("w3"), col("w4"), col("w5"),
        (greatest(col("n345") - D, lit(0.0)) / col("nd34") +
          lit(D) * col("n34d") / col("nd34") * col("p2")).as("p3"))
    val p4 = m2345.join(d234, Seq("w2", "w3", "w4"))
      .join(p3, Seq("w3", "w4", "w5"))
      .select(col("w2"), col("w3"), col("w4"), col("w5"),
        (greatest(col("n2345") - D, lit(0.0)) / col("nd234") +
          lit(D) * col("n234d") / col("nd234") * col("p3")).as("p4"))
    // pruned top level INLINE: kept types (c5 >= minCount) score the full
    // order-5 recursion off UNPRUNED context totals, everything else backs
    // off to p4 — the when() replaces the former separate pruned-LM build
    // + left join (two more c5-sized exchanges), bit-identical arithmetic
    val sc = c5.join(c1234, Seq("w1", "w2", "w3", "w4"))
      .join(p4, Seq("w2", "w3", "w4", "w5"))
      .select(
        xxhash64(col("w1"), col("w2"), col("w3"), col("w4"), col("w5")).as("g1"),
        xxhash64(col("w5"), col("w4"), col("w3"), col("w2"), col("w1")).as("g2"),
        log(when(col("c5") >= minCount,
          greatest(col("c5") - D, lit(0.0)) / col("c1234") +
            lit(D) * col("nt1234") / col("c1234") * col("p4"))
          .otherwise(col("p4"))).as("lp"))
    // per-doc rows: tiny next to the LM caches it holds
    Held(pg.join(sc, Seq("g1", "g2"))
        .groupBy("doc_id")
        .agg(round(exp(-sum("lp") / count(lit(1))), 4).as("ppl"),
          count(lit(1)).as("n_fivegrams")), Seq(c5, m2345, m345, m45))
  }


  /** Okapi BM25 top-k retrieval (k1=1.2, b=0.75, Lucene's non-negative
    * idf = ln(1 + (N−df+0.5)/(df+0.5))) for a bounded query term set —
    * the retrieval primitive training-data curation leans on (find the
    * docs most "about" a probe query: eval-set decontamination by
    * retrievability, targeted domain harvesting, RAG index sanity).
    *
    * Scale shape: the token stream is a row-local explode filtered to
    * the O(|terms|) query vocabulary BEFORE any shuffle, so tf is an agg
    * over hits only, df is O(terms) rows, and the corpus-wide stats
    * (N, avgdl) are one map-side-combining agg broadcast as a 1-row
    * frame. Per-term scores land in FIXED-ORDER summed columns (not a
    * group-order-dependent float sum), keeping the score bit-reproducible
    * cross-engine; top-k is TakeOrderedAndProject on the rounded score —
    * per-partition top-k merged on the driver, no global sort. */
  def bm25TopK(s: SparkSession, dir: String): DataFrame =
    bm25TopKOf(Tables.documents(s, dir), "doc_id", "text",
      Seq("spark", "join", "window"), 10)


  /** BM25 over ANY (id, text) frame and ANY bounded term set. */
  def bm25TopKOf(docs: DataFrame, idCol: String, textCol: String,
                 terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && terms.size <= 64,
      s"bm25: term set must be 1..64 terms, got ${terms.size}")
    require(terms.distinct.size == terms.size, "bm25: terms must be distinct")
    val d = docs.selectExpr(s"$idCol AS doc_id",
      s"size(split($textCol, ' ')) AS dl")
    val st = d.agg(count(lit(1)).as("n"), avg("dl").as("avgdl"))
    val tf = docs
      .selectExpr(s"$idCol AS doc_id", s"explode(split($textCol, ' ')) AS w")
      .filter(col("w").isin(terms.map(t => t: Any): _*))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val sc = tf.join(broadcast(dfq), "w").join(d, "doc_id")
      .crossJoin(broadcast(st))
      .select(col("doc_id"), col("w"),
        (log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .as("s"))
    val score = terms.map(t =>
      coalesce(max(when(col("w") === t, col("s"))), lit(0.0)))
      .reduceLeft(_ + _)
    sc.groupBy("doc_id")
      .agg(round(score, 6).as("score"), count(lit(1)).as("n_hit"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }


  /** PMI collocation mining — the phrase-discovery pass a corpus curator
    * runs to find multi-word expressions worth protecting from
    * tokenization/shuffling: pointwise mutual information of adjacent
    * token pairs, ln((c₂/N₂) / ((c₁(a)/N₁)·(c₁(b)/N₁))), floored at
    * `minCount` co-occurrences so rare-pair noise can't dominate.
    * Bigram/unigram counts are map-side-combining aggs on uniform token
    * keys; the two totals ride in as a broadcast 1-row frame; top-k is
    * TakeOrderedAndProject on the rounded score. */
  def pmiBigrams(s: SparkSession, dir: String): DataFrame =
    pmiBigramsOf(Tables.documents(s, dir), "doc_id", "text",
      minCount = 5, k = 20)


  /** PMI over ANY (id, text) frame. */
  def pmiBigramsOf(docs: DataFrame, idCol: String, textCol: String,
                   minCount: Long, k: Int): DataFrame = {
    val toks = docs
      .selectExpr(s"$idCol AS doc_id", s"split($textCol, ' ') AS toks")
    val uni = toks.selectExpr("explode(toks) AS w")
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val bg = toks.filter("size(toks) >= 2")
      .selectExpr(
        """explode(transform(sequence(1, size(toks) - 1),
          |  i -> struct(toks[i - 1] AS w1, toks[i] AS w2))) AS b""".stripMargin)
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)
    val totals = uni.agg(sum("c1").as("n1")).crossJoin(
      broadcast(bg.agg(count(lit(1)).as("n2"))))
    c2.join(uni.select(col("w").as("w1"), col("c1").as("c1a")), "w1")
      .join(uni.select(col("w").as("w2"), col("c1").as("c1b")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c2"),
        (round(log((col("c2") / col("n2")) /
          ((col("c1a") / col("n1")) * (col("c1b") / col("n1")))), 6)
          + lit(0.0)).as("pmi"))
      .orderBy(desc("pmi"), asc("w1"), asc("w2"))
      .limit(k)
  }


  /** CCNet's head/middle/tail split: equi-depth perplexity tiers over the
    * corpus (tier 1 = lowest-perplexity "head" kept for training, tier 3 =
    * "tail" dropped or down-weighted). Exact tiering via the two-pass
    * range-sort ntile (plans.GlobalRank) — no single-partition window at
    * any scale. */
  def qualityTiers(s: SparkSession, dir: String): Held = {
    val ppl = unigramPplOfToks(tokenArraysOf(s, dir))
    val tiered = graft.plans.GlobalRank.withNtile(ppl.frame.select("doc_id", "ppl"),
      Seq(col("ppl"), col("doc_id")), 3, "tier")
    Held(tiered.frame.groupBy("tier")
      .agg(count(lit(1)).as("n_docs"),
        round(min("ppl"), 4).as("min_ppl"),
        round(max("ppl"), 4).as("max_ppl"))
      .orderBy("tier"), ppl.handles ++ tiered.handles)
  }


  /** Per-document unigram (Shannon) entropy in bits — the information-
    * density quality signal: near-zero entropy flags degenerate repetition
    * (boilerplate, keyword stuffing) that length/stopword ratios miss.
    * H = log₂ n − (Σ c·log₂ c)/n over per-token counts c; computed from
    * ln via one token-keyed agg + one doc-keyed agg — two keyed shuffles,
    * map-side combinable, at any corpus size. */
  def docEntropy(s: SparkSession, dir: String): DataFrame =
    docEntropyOf(Tables.documents(s, dir), "doc_id", "text")


  /** The entropy profile over ANY (id, text) frame. */
  def docEntropyOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .selectExpr(s"$idCol AS doc_id", s"explode(split($textCol, ' ')) AS w")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_toks"), count(lit(1)).as("n_distinct"),
        round((log(sum("c")) - sum(col("c") * log("c")) / sum("c")) / log(lit(2.0)), 6)
          .as("entropy_bits"))
      .orderBy("doc_id")


  /** Corpus Zipf profile: OLS fit of ln(frequency) against ln(rank) over
    * the whole vocabulary — natural text tracks slope ≈ −1 (Zipf's law);
    * machine-generated or template-heavy corpora deviate, making the
    * (slope, R²) pair a cheap whole-corpus health number.
    *
    * Scale design: one token-keyed count agg (map-side combinable), an
    * exact global frequency rank via the two-pass range sort
    * ([[graft.plans.GlobalRank]] — no single-partition window even with a
    * 100 B-token vocabulary), then a single algebraic agg of the five OLS
    * moments. Nothing driver-side beyond O(partitions) offsets. */
  def vocabZipf(s: SparkSession, dir: String): Held = {
    val freq = Tables.documents(s, dir)
      .selectExpr("explode(split(text, ' ')) AS w")
      .groupBy("w").agg(count(lit(1)).as("f"))
    graft.plans.GlobalRank
      .withRowNumber(freq, Seq(col("f").desc, col("w")), "r").map { ranked =>
        val x = log(col("r").cast("double"))
        val y = log(col("f").cast("double"))
        val m = ranked.agg(
          count(lit(1)).as("n"), sum("f").as("n_tokens"),
          sum(x).as("sx"), sum(y).as("sy"), sum(x * y).as("sxy"),
          sum(x * x).as("sxx"), sum(y * y).as("syy"))
        val cov = m("n") * m("sxy") - m("sx") * m("sy")
        val varX = m("n") * m("sxx") - m("sx") * m("sx")
        val varY = m("n") * m("syy") - m("sy") * m("sy")
        m.select(col("n").as("n_vocab"), col("n_tokens"),
          (round(cov / varX, 4) + lit(0.0)).as("zipf_slope"),
          round(cov * cov / (varX * varY), 4).as("zipf_r2"))
      }
  }


  /** DuckDB oracle SQL for this family's contract queries. */
  protected val pplOracles: Map[String, String] = Map(
    "unigram_ppl" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |   FROM documents),
        | cnt AS (SELECT w, count(*)::BIGINT AS c FROM toks GROUP BY w),
        | tot AS (SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS v FROM cnt),
        | lp AS (SELECT w, ln((c + 1.0) / (n + v)) AS lp FROM cnt, tot)
        |SELECT doc_id, round(exp(-sum(lp) / count(*)), 4) AS ppl,
        | count(*)::BIGINT AS n_toks
        |FROM toks JOIN lp USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "quality_tiers" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |   FROM documents),
        | cnt AS (SELECT w, count(*)::BIGINT AS c FROM toks GROUP BY w),
        | tot AS (SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS v FROM cnt),
        | lp AS (SELECT w, ln((c + 1.0) / (n + v)) AS lp FROM cnt, tot),
        | ppl AS (SELECT doc_id, round(exp(-sum(lp) / count(*)), 4) AS ppl
        |   FROM toks JOIN lp USING (w) GROUP BY doc_id),
        | tiers AS (SELECT doc_id, ppl,
        |   ntile(3) OVER (ORDER BY ppl, doc_id) AS tier FROM ppl)
        |SELECT tier, count(*)::BIGINT AS n_docs,
        | round(min(ppl), 4) AS min_ppl, round(max(ppl), 4) AS max_ppl
        |FROM tiers GROUP BY tier ORDER BY tier""".stripMargin,
    "doc_entropy" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        | c AS (SELECT doc_id, w, count(*)::BIGINT AS c FROM t GROUP BY doc_id, w)
        |SELECT doc_id, sum(c)::BIGINT AS n_toks, count(*)::BIGINT AS n_distinct,
        |  round((ln(sum(c)) - sum(c * ln(c)) / sum(c)) / ln(2.0), 6) AS entropy_bits
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "vocab_zipf" ->
      """WITH f AS (SELECT w, count(*)::BIGINT AS f
        |   FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |   GROUP BY w),
        | r AS (SELECT f, row_number() OVER (ORDER BY f DESC, w) AS r FROM f),
        | s AS (SELECT count(*)::BIGINT AS n, sum(f)::BIGINT AS n_tokens,
        |   sum(ln(r)) AS sx, sum(ln(f)) AS sy, sum(ln(r) * ln(f)) AS sxy,
        |   sum(ln(r) * ln(r)) AS sxx, sum(ln(f) * ln(f)) AS syy FROM r)
        |SELECT n AS n_vocab, n_tokens,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) + 0.0
        |    AS zipf_slope,
        |  round((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |        / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS zipf_r2
        |FROM s""".stripMargin,
    "bigram_ppl" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |   FROM documents WHERE len(string_split(text, ' ')) >= 2),
        | bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |   FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
        | c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bg GROUP BY w1, w2),
        | c1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM bg GROUP BY w1),
        | v AS (SELECT count(*)::BIGINT AS v FROM
        |   (SELECT w1 AS w FROM bg UNION SELECT w2 FROM bg)),
        | lp AS (SELECT c2.w1, c2.w2,
        |     ln((c2.c2 + 1)::DOUBLE / (c1.c1 + v.v)) AS lp
        |   FROM c2 JOIN c1 USING (w1), v)
        |SELECT doc_id, round(exp(-sum(lp) / count(*)), 4) AS ppl,
        | count(*)::BIGINT AS n_bigrams
        |FROM bg JOIN lp USING (w1, w2) GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "bm25_topk" ->
      """WITH d AS (SELECT doc_id,
        |     len(string_split(text, ' '))::BIGINT AS dl FROM documents),
        | st AS (SELECT count(*)::BIGINT AS n, avg(dl) AS avgdl FROM d),
        | tf AS (SELECT doc_id, w, count(*)::BIGINT AS tf FROM (
        |     SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |     FROM documents)
        |   WHERE w IN ('spark', 'join', 'window') GROUP BY doc_id, w),
        | dfq AS (SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY w),
        | sc AS (SELECT tf.doc_id, tf.w,
        |     ln(1.0 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
        |       * (tf.tf * 2.2)
        |       / (tf.tf + 1.2 * (0.25 + 0.75 * d.dl / st.avgdl)) AS s
        |   FROM tf JOIN dfq USING (w) JOIN d USING (doc_id), st),
        | agg AS (SELECT doc_id,
        |     coalesce(max(CASE WHEN w = 'spark' THEN s END), 0.0)
        |     + coalesce(max(CASE WHEN w = 'join' THEN s END), 0.0)
        |     + coalesce(max(CASE WHEN w = 'window' THEN s END), 0.0) AS score,
        |     count(*)::BIGINT AS n_hit
        |   FROM sc GROUP BY doc_id)
        |SELECT doc_id, round(score, 6) AS score, n_hit FROM agg
        |ORDER BY round(score, 6) DESC, doc_id LIMIT 10""".stripMargin,
    "pmi_bigrams" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |   FROM documents),
        | uni AS (SELECT w, count(*)::BIGINT AS c1 FROM (
        |     SELECT unnest(toks) AS w FROM t) GROUP BY w),
        | bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2
        |   FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)
        |   WHERE len(toks) >= 2),
        | c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bg
        |   GROUP BY w1, w2 HAVING count(*) >= 5),
        | tot AS (SELECT (SELECT sum(c1)::BIGINT FROM uni) AS n1,
        |   (SELECT count(*)::BIGINT FROM bg) AS n2)
        |SELECT c2.w1, c2.w2, c2.c2,
        | round(ln((c2.c2 / tot.n2) / ((a.c1 / tot.n1) * (b.c1 / tot.n1))), 6)
        |   + 0.0 AS pmi
        |FROM c2 JOIN uni a ON a.w = c2.w1 JOIN uni b ON b.w = c2.w2, tot
        |ORDER BY pmi DESC, c2.w1, c2.w2 LIMIT 20""".stripMargin,
    "trigram_ppl" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |   FROM documents WHERE len(string_split(text, ' ')) >= 3),
        | tg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
        |     toks[i + 2] AS w3
        |   FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(i)),
        | c3 AS (SELECT w1, w2, w3, count(*)::BIGINT AS c3
        |   FROM tg GROUP BY w1, w2, w3),
        | c12 AS (SELECT w1, w2, sum(c3)::BIGINT AS c12,
        |     count(*)::BIGINT AS nt12 FROM c3 GROUP BY w1, w2),
        | m23 AS (SELECT w2, w3, count(*)::BIGINT AS n23
        |   FROM c3 GROUP BY w2, w3),
        | d2 AS (SELECT w2, count(*)::BIGINT AS nd2,
        |     count(DISTINCT w3)::BIGINT AS n2d FROM c3 GROUP BY w2),
        | c3c AS (SELECT w3, count(*)::BIGINT AS nd3
        |   FROM (SELECT DISTINCT w2, w3 FROM c3) GROUP BY w3),
        | ndd AS (SELECT count(*)::BIGINT AS ndd
        |   FROM (SELECT DISTINCT w2, w3 FROM c3)),
        | lm AS (SELECT c3.w1, c3.w2, c3.w3,
        |     ln(greatest(c3.c3 - 0.75, 0.0) / c12.c12
        |        + 0.75 * c12.nt12 / c12.c12 *
        |          (greatest(m23.n23 - 0.75, 0.0) / d2.nd2
        |           + 0.75 * d2.n2d / d2.nd2 *
        |             (c3c.nd3 / ndd.ndd))) AS lp
        |   FROM c3
        |     JOIN c12 ON c12.w1 = c3.w1 AND c12.w2 = c3.w2
        |     JOIN m23 ON m23.w2 = c3.w2 AND m23.w3 = c3.w3
        |     JOIN d2 ON d2.w2 = c3.w2
        |     JOIN c3c ON c3c.w3 = c3.w3, ndd)
        |SELECT doc_id, round(exp(-sum(lp) / count(*)), 4) AS ppl,
        | count(*)::BIGINT AS n_trigrams
        |FROM tg JOIN lm USING (w1, w2, w3) GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "fourgram_ppl" ->
      // pruned interpolated KN at order 4: kept types (c4 >= minCount)
      // score the full recursion, everything else backs off to the
      // trigram-level continuation LM — p3 computed ONCE in its CTE and
      // reused by both branches, exactly like the Spark plan
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |   FROM documents WHERE len(string_split(text, ' ')) >= 4),
        | qg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
        |     toks[i + 2] AS w3, toks[i + 3] AS w4
        |   FROM t, unnest(generate_series(1, len(toks) - 3)) AS u(i)),
        | c4 AS (SELECT w1, w2, w3, w4, count(*)::BIGINT AS c4
        |   FROM qg GROUP BY w1, w2, w3, w4),
        | c123 AS (SELECT w1, w2, w3, sum(c4)::BIGINT AS c123,
        |     count(*)::BIGINT AS nt123 FROM c4 GROUP BY w1, w2, w3),
        | m234 AS (SELECT w2, w3, w4, count(*)::BIGINT AS n234
        |   FROM c4 GROUP BY w2, w3, w4),
        | d23 AS (SELECT w2, w3, count(*)::BIGINT AS nd23,
        |     count(DISTINCT w4)::BIGINT AS n23d FROM c4 GROUP BY w2, w3),
        | m34 AS (SELECT w3, w4, count(*)::BIGINT AS n34
        |   FROM m234 GROUP BY w3, w4),
        | d3 AS (SELECT w3, count(*)::BIGINT AS nd3,
        |     count(DISTINCT w4)::BIGINT AS n3d FROM m234 GROUP BY w3),
        | cw4 AS (SELECT w4, count(*)::BIGINT AS nw4
        |   FROM (SELECT DISTINCT w3, w4 FROM m234) GROUP BY w4),
        | ndd AS (SELECT count(*)::BIGINT AS ndd
        |   FROM (SELECT DISTINCT w3, w4 FROM m234)),
        | lm3 AS (SELECT m234.w2, m234.w3, m234.w4,
        |     greatest(m234.n234 - 0.75, 0.0) / d23.nd23
        |       + 0.75 * d23.n23d / d23.nd23 *
        |         (greatest(m34.n34 - 0.75, 0.0) / d3.nd3
        |          + 0.75 * d3.n3d / d3.nd3 *
        |            (cw4.nw4 / ndd.ndd)) AS p3
        |   FROM m234
        |     JOIN d23 ON d23.w2 = m234.w2 AND d23.w3 = m234.w3
        |     JOIN m34 ON m34.w3 = m234.w3 AND m34.w4 = m234.w4
        |     JOIN d3 ON d3.w3 = m234.w3
        |     JOIN cw4 ON cw4.w4 = m234.w4, ndd),
        | lm4 AS (SELECT c4.w1, c4.w2, c4.w3, c4.w4,
        |     greatest(c4.c4 - 0.75, 0.0) / c123.c123
        |       + 0.75 * c123.nt123 / c123.c123 * lm3.p3 AS p4
        |   FROM c4
        |     JOIN c123 ON c123.w1 = c4.w1 AND c123.w2 = c4.w2
        |       AND c123.w3 = c4.w3
        |     JOIN lm3 ON lm3.w2 = c4.w2 AND lm3.w3 = c4.w3
        |       AND lm3.w4 = c4.w4
        |   WHERE c4.c4 >= $FourgramMinCount)
        |SELECT doc_id, round(exp(-sum(ln(coalesce(lm4.p4, lm3.p3)))
        |   / count(*)), 4) AS ppl,
        | count(*)::BIGINT AS n_fourgrams
        |FROM qg JOIN lm3 USING (w2, w3, w4)
        |  LEFT JOIN lm4 USING (w1, w2, w3, w4)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "fivegram_ppl" ->
      // the full KN discounting unrolled one order further: kept types
      // (c5 >= minCount) score the order-5 recursion, everything else
      // backs off to the 4-gram-level continuation LM — p4 computed ONCE
      // in its CTE and reused by both branches, exactly like the Spark
      // plan; every continuation table derives from the previous level's
      // suffix-type table
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |   FROM documents WHERE len(string_split(text, ' ')) >= 5),
        | pg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2,
        |     toks[i + 2] AS w3, toks[i + 3] AS w4, toks[i + 4] AS w5
        |   FROM t, unnest(generate_series(1, len(toks) - 4)) AS u(i)),
        | c5 AS (SELECT w1, w2, w3, w4, w5, count(*)::BIGINT AS c5
        |   FROM pg GROUP BY w1, w2, w3, w4, w5),
        | c1234 AS (SELECT w1, w2, w3, w4, sum(c5)::BIGINT AS c1234,
        |     count(*)::BIGINT AS nt1234 FROM c5 GROUP BY w1, w2, w3, w4),
        | m2345 AS (SELECT w2, w3, w4, w5, count(*)::BIGINT AS n2345
        |   FROM c5 GROUP BY w2, w3, w4, w5),
        | d234 AS (SELECT w2, w3, w4, count(*)::BIGINT AS nd234,
        |     count(DISTINCT w5)::BIGINT AS n234d
        |   FROM c5 GROUP BY w2, w3, w4),
        | m345 AS (SELECT w3, w4, w5, count(*)::BIGINT AS n345
        |   FROM m2345 GROUP BY w3, w4, w5),
        | d34 AS (SELECT w3, w4, count(*)::BIGINT AS nd34,
        |     count(DISTINCT w5)::BIGINT AS n34d
        |   FROM m2345 GROUP BY w3, w4),
        | m45 AS (SELECT w4, w5, count(*)::BIGINT AS n45
        |   FROM m345 GROUP BY w4, w5),
        | d4 AS (SELECT w4, count(*)::BIGINT AS nd4,
        |     count(DISTINCT w5)::BIGINT AS n4d FROM m345 GROUP BY w4),
        | cw5 AS (SELECT w5, count(*)::BIGINT AS nw5
        |   FROM (SELECT DISTINCT w4, w5 FROM m345) GROUP BY w5),
        | ndd AS (SELECT count(*)::BIGINT AS ndd
        |   FROM (SELECT DISTINCT w4, w5 FROM m345)),
        | lm4 AS (SELECT m2345.w2, m2345.w3, m2345.w4, m2345.w5,
        |     greatest(m2345.n2345 - 0.75, 0.0) / d234.nd234
        |       + 0.75 * d234.n234d / d234.nd234 *
        |         (greatest(m345.n345 - 0.75, 0.0) / d34.nd34
        |          + 0.75 * d34.n34d / d34.nd34 *
        |            (greatest(m45.n45 - 0.75, 0.0) / d4.nd4
        |             + 0.75 * d4.n4d / d4.nd4 *
        |               (cw5.nw5 / ndd.ndd))) AS p4
        |   FROM m2345
        |     JOIN d234 ON d234.w2 = m2345.w2 AND d234.w3 = m2345.w3
        |       AND d234.w4 = m2345.w4
        |     JOIN m345 ON m345.w3 = m2345.w3 AND m345.w4 = m2345.w4
        |       AND m345.w5 = m2345.w5
        |     JOIN d34 ON d34.w3 = m2345.w3 AND d34.w4 = m2345.w4
        |     JOIN m45 ON m45.w4 = m2345.w4 AND m45.w5 = m2345.w5
        |     JOIN d4 ON d4.w4 = m2345.w4
        |     JOIN cw5 ON cw5.w5 = m2345.w5, ndd),
        | lm5 AS (SELECT c5.w1, c5.w2, c5.w3, c5.w4, c5.w5,
        |     greatest(c5.c5 - 0.75, 0.0) / c1234.c1234
        |       + 0.75 * c1234.nt1234 / c1234.c1234 * lm4.p4 AS p5
        |   FROM c5
        |     JOIN c1234 ON c1234.w1 = c5.w1 AND c1234.w2 = c5.w2
        |       AND c1234.w3 = c5.w3 AND c1234.w4 = c5.w4
        |     JOIN lm4 ON lm4.w2 = c5.w2 AND lm4.w3 = c5.w3
        |       AND lm4.w4 = c5.w4 AND lm4.w5 = c5.w5
        |   WHERE c5.c5 >= $FivegramMinCount)
        |SELECT doc_id, round(exp(-sum(ln(coalesce(lm5.p5, lm4.p4)))
        |   / count(*)), 4) AS ppl,
        | count(*)::BIGINT AS n_fivegrams
        |FROM pg JOIN lm4 USING (w2, w3, w4, w5)
        |  LEFT JOIN lm5 USING (w1, w2, w3, w4, w5)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "vocab_heaps" ->
      """WITH per AS (SELECT source, count(*)::BIGINT AS n_tokens,
        |     count(DISTINCT w)::BIGINT AS n_vocab
        |   FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |         FROM documents) GROUP BY source),
        | m AS (SELECT count(*)::BIGINT AS n,
        |   sum(ln(n_tokens)) AS sx, sum(ln(n_vocab)) AS sy,
        |   sum(ln(n_tokens) * ln(n_vocab)) AS sxy,
        |   sum(ln(n_tokens) * ln(n_tokens)) AS sxx,
        |   sum(ln(n_vocab) * ln(n_vocab)) AS syy FROM per)
        |SELECT n AS n_sources,
        | round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) + 0.0
        |   AS heaps_beta,
        | round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 4)
        |   + 0.0 AS heaps_lnk,
        | round((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |       / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) + 0.0
        |   AS heaps_r2
        |FROM m""".stripMargin)
}
