package graft.queries

import graft.Tables
import graft.plans.Held
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{textDedupKey, vecDot, vecNorm, vecSig}

/** Deduplication family: exact/normalized/canonical dedup, MinHash-LSH
  * banding + verify, SimHash, containment/fuzzy pairs, connected
  * components, span-level scrubbing, incremental variants. Mixed into
  * [[LlmData]]; see its scaladoc for the engine-wide scale notes. */
trait LlmDedupOps extends LlmCore {

  /** Exact dedup: hash-groupBy on normalized text, keep lowest doc_id.
    * One shuffle on the 128-bit hash — uniform keys, no skew at any scale. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(textDedupKey(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies", "text_hash")
      .orderBy("keep_id")


  /** Soft-dedup training weights (the SlimPajama/RefinedWeb alternative
    * to hard removal): every doc keeps a weight of 1/n_copies of its
    * exact-dedup cluster, so duplicated content contributes ONE copy's
    * worth of gradient mass regardless of how many times it recurs. The
    * report is the per-source raw vs effective character mass — the
    * number that says how much of a source's apparent volume is
    * duplication. Scale shape: one groupBy on the uniform md5 hash (the
    * dedup shuffle that runs anyway) + one keyed join back + one partial
    * aggregate; nothing beyond the exact-dedup cost. */
  def softDedupWeights(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        textDedupKey(col("text")).as("h"))
    val grp = d.groupBy("h").agg(count(lit(1)).as("n_copies"))
    d.join(grp, "h")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("raw_chars"),
        round(sum(col("n_chars") / col("n_copies")), 4).as("eff_chars"))
      .withColumn("eff_ratio", round(col("eff_chars") / col("raw_chars"), 6))
      .orderBy("source")
  }


  /** Exact n-gram (trigram-shingle) Jaccard near-dup pairs via inverted-
    * index join — the exactness baseline for MinHash. */
  def neardupPairs(s: SparkSession, dir: String): DataFrame =
    neardupPairsImpl(s, dir, maxDf = None, prefixFilter = true)


  /** The inverted-index join with the 100 TB hot-shingle mitigation made
    * real: shingles whose document frequency exceeds `maxDf` are dropped
    * from the index before the self-join, bounding the per-shingle join
    * fan-out at df² ≤ maxDf² (a boilerplate-shingle appearing in 1M docs
    * would otherwise emit 10¹² pairs). Jaccard is computed over the capped
    * shingle universe — the oracle applies the identical cap, so the capped
    * semantics are exact, not approximate. */
  def neardupCapped(s: SparkSession, dir: String): DataFrame =
    // the cap already bounds per-shingle fan-out at maxDf² — prefix
    // filtering on top is redundant stages, so it stays off here
    neardupPairsImpl(s, dir, maxDf = Some(50), prefixFilter = false)


  /** Exact Jaccard-join with PREFIX FILTERING (AllPairs/PPJoin family,
    * Bayardo et al. WWW'07 / Xiao et al. ICDE'08): under any global
    * shingle order, two docs with Jaccard ≥ t MUST share a shingle inside
    * each one's first `n − ⌈t·n⌉ + 1` shingles — so the inverted index is
    * built from prefixes only (rarest-first order makes them the least
    * frequent shingles), and the full intersection is computed
    * PAIR-DRIVEN on the candidates, exactly like the MinHash verify. The
    * result is provably identical to the naive inverted-index self-join;
    * the per-shingle join fan-out drops from df² over the whole corpus to
    * df² over prefixes of the rarest shingles. With `prefixFilter` off the
    * index join runs over all shingles directly — right when a DF cap
    * already bounds the fan-out. */
  private def neardupPairsImpl(s: SparkSession, dir: String,
                               maxDf: Option[Int],
                               prefixFilter: Boolean): DataFrame = {
    val t = 0.8
    val shAll = shingles(s, dir)
    val sh = (maxDf match {
      case Some(k) =>
        // shingles are distinct per doc, so count(*) per shingle IS the df.
        // The semi-join is FORCED to sort-merge: the self-join below needs
        // sh partitioned by s anyway, so a merge semi-join leaves the cache
        // already s-partitioned and the self-join runs exchange-free off it
        // (a broadcast semi-join would keep the scan's layout and the
        // self-join would re-shuffle the stream twice).
        val rare = shAll.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= k).select("s")
        shAll.join(rare.hint("merge"), Seq("s"), "left_semi")
      case None => shAll
    })
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter =
      if (!prefixFilter)
        // one self-join computes the intersections directly — fan-out is
        // already bounded (maxDf²), a candidate pre-pass would double it
        sh.select(col("doc_id").as("da"), col("s"))
          .join(sh.select(col("doc_id").as("db"), col("s")), "s")
          .filter(col("da") < col("db"))
          .groupBy("da", "db").agg(count(lit(1)).as("ni"))
      else {
        // global rarest-first order (df asc, shingle asc): prefixes then
        // hold the most selective shingles, shrinking the join's fan-out
        val df = sh.groupBy("s").agg(count(lit(1)).as("df"))
        val prefix = sh.join(df, "s")
          .withColumn("rnk", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("df"), col("s"))))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
          .filter(col("rnk") <= col("n") - ceil(lit(t) * col("n")) + 1)
          .select("doc_id", "s")
        val cand = prefix.select(col("doc_id").as("da"), col("s"))
          .join(prefix.select(col("doc_id").as("db"), col("s")), "s")
          .filter(col("da") < col("db"))
          .select("da", "db").distinct()
        // pair-driven intersection: cost Σ_cand |shingles(da)|, never df²
        cand
          .join(sh.select(col("doc_id").as("da"), col("s")), "da")
          .join(sh.select(col("doc_id").as("db"), col("s")), Seq("db", "s"))
          .groupBy("da", "db").agg(count(lit(1)).as("ni"))
      }
    inter
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .withColumn("jac", round(col("ni") / (col("na") + col("nb") - col("ni")), 6))
      .filter(col("jac") >= t)
      .select("da", "db", "jac")
      .orderBy("da", "db")
  }


  /** ASYMMETRIC near-dup: shingle CONTAINMENT c(A→B) = |S(A)∩S(B)| / |S(A)|
    * — catches a short doc quoted/embedded inside a long one, which
    * symmetric Jaccard misses (the union term drowns the short side).
    * Directed, so both (A,B) and (B,A) are scored in ONE self-join pass
    * (`da =!= db` instead of `<`). Same 100 TB shape as [[neardupCapped]]:
    * the inverted-index self-join runs over the DF-capped shingle universe
    * (fan-out ≤ maxDf² per shingle), and the cap is part of the operator's
    * exact semantics — the oracle applies the identical cap. */
  def containmentPairs(s: SparkSession, dir: String,
                       maxDf: Int = 50, minC: Double = 0.5): Held = {
    val shAll = shingles(s, dir)
    val rare = shAll.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("s")
    // merge-hinted for the same reason as neardupPairsImpl: the cache comes
    // out s-partitioned and the intersection self-join rides it shuffle-free
    val Held(sh, shH) = Held.cached(shAll.join(rare.hint("merge"), Seq("s"), "left_semi"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // intersection counted ONCE per unordered pair (da < db halves the
    // heavy aggregate); both directions are then emitted from the tiny
    // |pairs| frame by exploding the two (src, dst, src-size) orientations
    val inter = sh.select(col("doc_id").as("da"), col("s"))
      .join(sh.select(col("doc_id").as("db"), col("s")), "s")
      .filter(col("da") < col("db"))
      .groupBy("da", "db").agg(count(lit(1)).as("ni"))
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
    Held(inter
      .select(explode(array(
        struct(col("da").as("da"), col("db").as("db"), col("ni"),
          col("na").as("n_src")),
        struct(col("db").as("da"), col("da").as("db"), col("ni"),
          col("nb").as("n_src")))).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"), col("p.ni").as("ni"),
        round(col("p.ni") / col("p.n_src"), 6).as("cont"))
      .filter(col("cont") >= minC)
      .orderBy("da", "db"), shH)
  }


  /** MinHash signatures (12 universal hashes over one md5 per shingle),
    * banded 4×3 LSH: candidate pairs meet in a band-signature bucket
    * (shuffle on the band hash — never all-pairs), then exact-Jaccard
    * verified ≥ 0.7.
    *
    * Plan shape (matters at scale): each shingle is md5'd ONCE; the 12
    * hash family members are integer mixes (aₖ·h + bₖ) mod p — codegen'd
    * arithmetic, not 12 digests — aggregated as 12 `min` columns of ONE
    * hash aggregate (no 12× row explode, no (doc, seed) shuffle). Band
    * signatures are row-local concat+md5 of those columns. The
    * exact-Jaccard verify is PAIR-DRIVEN: candidate pairs broadcast onto
    * the (semi-joined) shingle stream, so the cost is Σ_pairs |shingles|
    * — bounded by the LSH output, never quadratic in a hot shingle's
    * document frequency the way an inverted-index self-join is. */
  def dedupMinhash(s: SparkSession, dir: String): Held =
    minhashPairs(s, dir).map(_.orderBy("da", "db"))


  /** Verified near-dup pairs (unordered) — shared by [[dedupMinhash]] and
    * [[dedupClusters]]. */
  private def minhashPairs(s: SparkSession, dir: String): Held =
    minhashPairsHeld(Tables.documents(s, dir), "doc_id", "text")


  /** The full MinHash-LSH + exact-verify pipeline over ANY (id, text)
    * frame — what [[graft.CorpusRunner]]'s `dedup_minhash` step runs.
    * Output columns are `da`/`db` (the id pair, `da < db`) + `jac`. Its
    * three cached intermediates — the shingle stream, the candidate pairs
    * and the re-clustered candidate shingles — are the handles to release
    * once the pairs are materialized. */
  def minhashPairsHeld(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.7): Held = {
    val Held(sh, shH) = Held.cached(shinglesOf(docs, idCol, textCol))
    val pairs = minhashPairsFrom(sh, minhashSigsFrom(sh), threshold)
    Held(pairs.frame, shH ++ pairs.handles)
  }


  /** 12-permutation MinHash signature per doc over a shingle stream —
    * one digest per shingle → 60-bit int → 12 universal-hash mins.
    * Shared by the pair pipeline and the estimator calibration so a
    * caller holding both never hashes the shingle stream twice. */
  private[queries] def minhashSigsFrom(sh: DataFrame): DataFrame = {
    val seeds = 0 until 12
    val p = 2147483647L // 2^31 − 1
    val withH = sh.withColumn("h1",
      expr("cast(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)") % p)
    def mix(k: Int) = (lit(2L * k + 1) * col("h1") + lit((k * 2654435761L) % p)) % p
    withH.groupBy("doc_id").agg(
      min(mix(seeds.head)).as(s"mh${seeds.head}"),
      seeds.tail.map(k => min(mix(k)).as(s"mh$k")): _*)
  }


  /** LSH banding + pair-driven exact verify over precomputed shingles and
    * signatures (see [[minhashPairsHeld]] for the fused entry point). */
  /** 4-band LSH index rows (doc_id, band, sig) from the 12-slot signature
    * frame: band b hashes seeds {b, b+4, b+8}; the signature string matches
    * the oracle's string_agg(seed||':'||mh, '|' ORDER BY seed). */
  private[queries] def minhashBandsFrom(mh: DataFrame): DataFrame = {
    val seeds = 0 until 12
    def sig(b: Int) = md5(concat_ws("|",
      seeds.filter(_ % 4 == b).map(k => concat(lit(s"$k:"), col(s"mh$k"))): _*))
    mh.select(col("doc_id"), explode(array(
        (0 until 4).map(b => struct(lit(b).as("band"), sig(b).as("sig"))): _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }


  /** ROW-LOCAL MinHash banding: the identical signatures/band hashes as
    * [[minhashSigsFrom]]+[[minhashBandsFrom]] computed as pure expressions
    * over a per-doc shingle ARRAY — `array_min(transform(...))` replaces
    * the explode→groupBy-min aggregation, so there is NO shuffle and NO
    * aggregation state. That makes it legal in a Structured-Streaming
    * stateless projection (the streaming near-dup probe,
    * [[graft.streaming.StreamOps.nearDupProbe]]) and proves the banding is
    * embarrassingly parallel; the batch pipeline keeps the aggregated form
    * because its verify step wants the exploded shingle stream anyway.
    * Output: 4 rows per doc — (doc_id, shingles, band, sig); equality with
    * the aggregated path is pinned by spec. `carryCols` (e.g. an event-time
    * column the streaming probe watermarks on) pass through untouched. */
  def rowLocalBands(docs: DataFrame, idCol: String, textCol: String,
                    carryCols: Seq[String] = Nil): DataFrame = {
    val seeds = 0 until 12
    val p = 2147483647L
    val withSh = docs
      .withColumn("__toks", split(col(textCol), " "))
      .withColumn("__sh", expr(
        """array_distinct(CASE WHEN size(__toks) >= 3
          |  THEN transform(sequence(0, size(__toks) - 3),
          |    i -> concat_ws(' ', __toks[i], __toks[i+1], __toks[i+2]))
          |  ELSE array(concat_ws(' ', __toks)) END)""".stripMargin))
    val withMh = seeds.foldLeft(withSh)((d, k) =>
      d.withColumn(s"mh$k", expr(
        s"""array_min(transform(__sh, s ->
           |  (${2 * k + 1}L * (cast(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)
           |     % ${p}L) + ${(k * 2654435761L) % p}L) % ${p}L))""".stripMargin)))
    def sig(b: Int) = md5(concat_ws("|",
      seeds.filter(_ % 4 == b).map(k => concat(lit(s"$k:"), col(s"mh$k"))): _*))
    val carried = carryCols.map(col)
    withMh.select(col(idCol).as("doc_id") +: col("__sh").as("shingles") +:
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"), sig(b).as("sig"))): _*)).as("bs") +:
        carried: _*)
      .select(col("doc_id") +: col("shingles") +:
        col("bs.band").as("band") +: col("bs.sig").as("sig") +: carried: _*)
  }

  private[queries] def minhashPairsFrom(sh: DataFrame, mh: DataFrame,
                                        threshold: Double): Held = {
    val bands = minhashBandsFrom(mh)
    // cached: used twice, by the candidate-doc semi-join and the verify
    val Held(cand, candH) = Held.cached(
      bands.select(col("band"), col("sig"), col("doc_id").as("da"))
        .join(bands.select(col("band"), col("sig"), col("doc_id").as("db")), Seq("band", "sig"))
        .filter(col("da") < col("db"))
        .select("da", "db").distinct())
    // restrict the shingle stream to candidate docs, then intersect per PAIR:
    // cand ⋈ shingles(da) gives each pair its left shingle set; matching on
    // (db, s) counts the intersection — work scales with pairs, not df².
    // no broadcast hint: the candidate-doc set scales with the dup rate —
    // at 100 TB it can exceed any broadcast budget; below the 64MB
    // threshold AQE still picks a broadcast semi-join on its own
    val candDocs = cand.select(explode(array(col("da"), col("db"))).as("doc_id")).distinct()
    // candidate shingles are re-clustered by doc_id ONCE (a small frame —
    // LSH bounds the candidate set at any scale): the size aggregate and
    // BOTH pair-driven verify joins (keyed da, then (db, s) ⊇ db) then ride
    // this single exchange instead of re-shuffling the stream three times
    val Held(shC, shCH) = Held.cached(
      sh.join(candDocs, Seq("doc_id"), "left_semi").repartition(col("doc_id")))
    val sizes = shC.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // no broadcast hint on cand: small under the 64MB auto-threshold at
    // test scale; at 100 TB the pair set can be large — AQE decides.
    val inter = cand
      .join(shC.select(col("doc_id").as("da"), col("s")), "da")
      .join(shC.select(col("doc_id").as("db"), col("s")), Seq("db", "s"))
      .groupBy("da", "db").agg(count(lit(1)).as("ni"))
    Held(inter
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
      .withColumn("jac", round(col("ni") / (col("na") + col("nb") - col("ni")), 6))
      .filter(col("jac") >= threshold)
      .select("da", "db", "jac"), candH ++ shCH)
  }


  /** Near-dup CLUSTERS: connected components over the verified MinHash
    * pair graph, labeling every member with the minimum doc_id reachable
    * from it — the "keep one representative per duplicate cluster" step of
    * a dedup pipeline.
    *
    * Scale design: the pair graph after LSH + verify is orders of magnitude
    * smaller than the corpus, so — exactly like a broadcast-join
    * threshold — components are solved driver-side by union-find while the
    * edge list fits (`maxDriverEdges`), and by the distributed min-label
    * propagation loop with POINTER JUMPING (lbl ← lbl(lbl) each round →
    * O(log n) rounds instead of O(diameter)) when it does not. Both paths
    * produce identical labels (min doc_id per component); the spec forces
    * the distributed path and asserts equality. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    dedupClusters(s, dir, 1L << 20)

  def dedupClusters(s: SparkSession, dir: String, maxDriverEdges: Long): DataFrame =
    pairLabels(s, dir, maxDriverEdges)
      .groupBy(col("lbl").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"), max("doc_id").as("max_doc"))
      .orderBy("cluster_id")


  /** Canonical-document selection — "keep the BEST doc per duplicate
    * cluster", the refinement every production dedup ships instead of
    * keep-min-id: within each near-dup cluster the longest document wins
    * (ties → smallest id), the others are dropped. Clusters come from the
    * same LSH + verify + component machinery as [[dedupClusters]]; the
    * winner is one row_number window PARTITIONED ON cluster_id (high
    * cardinality — partition-parallel at any corpus size, never a global
    * sort). Output per cluster: the kept doc, its length, and how many
    * copies it displaced. */
  def dedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val labels = pairLabels(s, dir, 1L << 20)
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lbl").orderBy(col("n_chars").desc, col("doc_id").asc)
    labels.join(docs, "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy(col("lbl").as("cluster_id"))
      .agg(max(when(col("rn") === 1, col("doc_id"))).as("keep_doc"),
        max(when(col("rn") === 1, col("n_chars"))).as("keep_chars"),
        (count(lit(1)) - 1).as("n_dropped"))
      .orderBy("cluster_id")
  }


  /** Normalization-aware exact dedup — the Dolma/CCNet "fuzzy-exact"
    * step: lowercase, strip non-alphanumerics, collapse whitespace, THEN
    * hash-group. Catches the re-encoded/re-punctuated copies raw exact
    * dedup misses while keeping its one-uniform-shuffle cost (the group
    * key is the md5 of the normal form, never the text itself). The
    * corpus is staged with a deterministic perturbed copy of every doc
    * (upper-cased, double-spaced, trailing punctuation — replayed
    * verbatim by the oracle) so the collapse is observable: every group
    * must land exactly two copies. */
  def dedupNormalized(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    // id offset derived from the data so staged copies can never collide
    // with real ids at ANY scale factor
    val off = docs.agg((max("doc_id") + 1).as("__off"))
    val perturbed = docs.crossJoin(broadcast(off)).select(
      (col("doc_id") + col("__off")).as("doc_id"),
      concat(regexp_replace(upper(col("text")), lit(" "), lit("  ")),
        lit(" !!")).as("text"))
    dedupNormalizedOf(docs.union(perturbed), "doc_id", "text")
  }


  /** The normalize-then-group dedup over ANY (id, text) frame. The
    * character class is UNICODE-aware (`\p{L}\p{N}`, identical semantics
    * in Java regex and DuckDB's RE2): an ASCII-only `[^a-z0-9 ]` would
    * erase every non-Latin script before hashing, falsely merging all
    * CJK/Cyrillic/Arabic documents into one "duplicate" group — exactly
    * the multilingual corpora this step exists for (see
    * LlmQualitySpec's CJK fixtures). */
  def dedupNormalizedOf(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    docs
      .withColumn("norm_md5", md5(trim(regexp_replace(
        regexp_replace(lower(col(textCol)), "[^\\p{L}\\p{N} ]", ""),
        " +", " "))))
      .groupBy("norm_md5")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select("keep_id", "n_copies", "norm_md5")
      .orderBy("keep_id")


  /** Edit-distance near-dup pairs via MULTI-PASS BLOCKING — the record-
    * linkage pattern for typo-level duplicates that token-set methods
    * (shingles/MinHash) blur and normalization dedup misses: candidates
    * come from equi-joins on cheap block keys (shared 24-char PREFIX or
    * shared 24-char SUFFIX — two passes, because one key alone misses
    * edits at its own end), then the expensive Levenshtein gate runs on
    * candidates only, with a length-difference prune first (|lenA−lenB|
    * is a lower bound on edit distance) and Spark's thresholded banded
    * DP (`levenshtein(a,b,t)` → -1 past t) so the per-pair cost is
    * O(maxDist·len), not O(len²). Shuffles are equi-joins on block keys;
    * nothing is all-pairs at any corpus size. The corpus is staged with
    * deterministic tail-edited (doc_id % 37) and head-edited (% 41)
    * copies — replayed verbatim by the oracle — so each blocking pass
    * has pairs only IT can catch. */
  def fuzzyPairs(s: SparkSession, dir: String, maxDist: Int = 24): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val off = docs.agg((max("doc_id") + 1).as("__off"))
    val withOff = docs.crossJoin(broadcast(off))
    val tailEdited = withOff.filter(col("doc_id") % 37 === 0).select(
      (col("doc_id") + col("__off")).as("doc_id"),
      concat(col("text"), lit(" near duplicate tail")).as("text"))
    val headEdited = withOff.filter(col("doc_id") % 41 === 0).select(
      (col("doc_id") + col("__off") * 2).as("doc_id"),
      concat(lit("copy: "), col("text")).as("text"))
    fuzzyPairsOf(docs.unionAll(tailEdited).unionAll(headEdited),
      "doc_id", "text", maxDist)
  }


  /** The blocked Levenshtein pair join over ANY (id, text) frame.
    * Returns (id_a, id_b, dist) for every pair within `maxDist` edits
    * that shares a 24-char prefix or suffix block. */
  def fuzzyPairsOf(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int): DataFrame = {
    val base = docs.selectExpr(s"$idCol AS id", s"$textCol AS t",
      s"length($textCol) AS len")
    def blockPairs(key: String): DataFrame = {
      val k = base.withColumn("bk", expr(key))
      val a = k.select(col("bk"), col("id").as("id_a"),
        col("t").as("ta"), col("len").as("la"))
      val b = k.select(col("bk"), col("id").as("id_b"),
        col("t").as("tb"), col("len").as("lb"))
      a.join(b, "bk").filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "ta", "tb", "la", "lb")
    }
    blockPairs("left(t, 24)").unionAll(blockPairs("right(t, 24)"))
      .dropDuplicates("id_a", "id_b")
      .filter(abs(col("la") - col("lb")) <= maxDist)
      .withColumn("dist",
        expr(s"levenshtein(ta, tb, ${maxDist + 1})"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
      .orderBy("id_a", "id_b")
  }


  /** Leakage-safe train/eval split — the contamination guard a training
    * pipeline needs BEFORE holding out an eval set: the random coin is
    * thrown per near-dup CLUSTER (connected component of the verified
    * pair graph; singletons are their own cluster), so two near-duplicate
    * documents can never land on opposite sides of the split. A naive
    * per-doc split leaks ~every duplicated eval doc into training — the
    * cross_pairs column (verified near-dup pairs straddling the split)
    * is 0 by construction here and is emitted as the checked evidence.
    * Cost beyond the pair graph: one left join + row-local coin + two
    * bounded aggs. */
  def clusterSafeSplit(s: SparkSession, dir: String,
                       trainFrac: Double = 0.8): Held = {
    // the pairs feed the labels' collect and the cross-pair count
    val held = minhashPairs(s, dir)
    val Held(pairs, pairsH) = Held.cached(held.frame.select("da", "db"))
    val labels = componentLabels(s, pairs)
    val docs = Tables.documents(s, dir).select("doc_id")
    val lbl = docs.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("lbl"))
    val coin = graft.functions.GraftFunctions.md5Coin(col("lbl"))
    val Held(sided, sidedH) = Held.cached(lbl
      .withColumn("side", when(coin < trainFrac, "train").otherwise("eval")))
    val sides = sided.groupBy("side").agg(count(lit(1)).as("n_docs"),
      countDistinct("lbl").as("n_clusters"))
    val cross = pairs
      .join(sided.select(col("doc_id").as("da"), col("side").as("sa")), "da")
      .join(sided.select(col("doc_id").as("db"), col("side").as("sb")), "db")
      .agg(coalesce(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)),
        lit(0L)).as("cross_pairs"))
    Held(sides.crossJoin(broadcast(cross)).orderBy("side"),
      held.handles ++ pairsH ++ sidedH)
  }


  /** [[componentLabels]] of the verified MinHash pairs, whose caches are
    * released once the labels exist: driver rows or a checkpoint. */
  private def pairLabels(s: SparkSession, dir: String,
                         maxDriverEdges: Long): DataFrame = {
    val pairs = minhashPairs(s, dir)
    try componentLabels(s, pairs.frame, maxDriverEdges) finally pairs.release()
  }


  /** Connected-component labels `(doc_id, lbl)` over an undirected pair
    * graph (`da`/`db` columns), lbl = min id reachable. Driver union-find
    * while the edge list fits `maxDriverEdges`; distributed min-label
    * propagation with pointer jumping beyond it — identical output either
    * way (see [[dedupClusters]]). Ids absent from any pair get no row.
    *
    * One bounded collect (at most `maxDriverEdges + 1` edges) both picks
    * the path and hands the driver path its edges, so the pair plan runs
    * once, not once to count and once more to collect. The distributed
    * path fails loudly if labels still change after `maxRounds` rounds
    * (pointer jumping needs O(log n), so the default covers any realistic
    * component) instead of returning partial labels, and returns its
    * labels as a local checkpoint with its edge and label caches
    * released. */
  def componentLabels(s: SparkSession, pairs: DataFrame,
                      maxDriverEdges: Long = 1L << 20,
                      maxRounds: Int = 25): DataFrame = {
    val bound = math.min(maxDriverEdges, Int.MaxValue - 1L).toInt
    val head = Held(pairs.select("da", "db").limit(bound + 1)).rows()
    if (head.length <= maxDriverEdges) {
      // driver union-find with min-root tracking. `find` is ITERATIVE
      // (walk to root, then path-compress): a recursive version recurses
      // once per parent link, and an adversarial long-chain component near
      // maxDriverEdges would overflow the driver stack.
      val es = head.map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElseUpdate(root, root) != root) root = parent(root)
        var cur = x
        while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
        root
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
      }
      val rows = parent.keys.toSeq.map(d => (d, find(d)))
      import s.implicits._
      rows.toDF("doc_id", "lbl")
    } else {
      val edges = pairs.select(col("da").as("a"), col("db").as("b"))
        .union(pairs.select(col("db").as("a"), col("da").as("b")))
        .cache()
      var lbls = edges.select(col("a").as("doc_id")).distinct()
        .withColumn("lbl", col("doc_id"))
        .cache()
      var changed = 1L
      var rounds = 0
      while (changed > 0) {
        if (rounds == maxRounds) {
          edges.unpersist(); lbls.unpersist()
          throw new IllegalStateException(s"componentLabels: labels still " +
            s"changed ($changed docs) after $maxRounds rounds of " +
            "min-label propagation with pointer jumping")
        }
        val neighborMin = edges
          .join(lbls.select(col("doc_id").as("a"), col("lbl").as("la")), "a")
          .groupBy(col("b").as("doc_id")).agg(min("la").as("nl"))
        val propagated = lbls.join(neighborMin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("lbl"), coalesce(col("nl"), col("lbl"))).as("lbl"))
        // pointer jumping: shortcut each label to its label's label
        val next = propagated
          .join(propagated.select(col("doc_id").as("lbl"), col("lbl").as("ll")),
            Seq("lbl"), "left")
          .select(col("doc_id"), least(col("lbl"), coalesce(col("ll"), col("lbl"))).as("lbl"))
          .cache()
        changed = next.join(lbls.withColumnRenamed("lbl", "old"), "doc_id")
          .filter(col("lbl") =!= col("old")).count()
        lbls.unpersist()
        lbls = next
        rounds += 1
      }
      Held(lbls, Seq(edges, lbls)).checkpointed()
    }
  }


  /** 60-bit SimHash per doc from distinct-token md5s (15-bit band keys give a 32768-way shuffle key space per band — an 8-bit split would hot-key the band join at corpus scale) (majority vote per
    * bit). Single aggregation keyed by doc — embarrassingly parallel. */
  def simhashSig(s: SparkSession, dir: String): DataFrame =
    simhashSigOf(Tables.documents(s, dir), "doc_id", "text")


  /** 60-bit SimHash signature over ANY (id, text) frame. */
  def simhashSigOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .selectExpr(s"$idCol AS doc_id",
        s"explode(array_distinct(split($textCol, ' '))) AS t")
      .selectExpr("doc_id",
        "cast(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) AS h")
      .selectExpr("doc_id", "h", "explode(sequence(0, 59)) AS b")
      .selectExpr("doc_id", "b",
        "CASE WHEN (h div shiftleft(CAST(1 AS BIGINT), b)) % 2 = 1 THEN 1 ELSE -1 END AS v")
      .groupBy("doc_id", "b").agg(sum("v").as("vs"))
      .selectExpr("doc_id",
        "CASE WHEN vs > 0 THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END AS bit")
      .groupBy("doc_id").agg(sum("bit").as("simhash"))
      .orderBy("doc_id")


  /** SimHash near-dup pairs — the Charikar/Google-crawl dedup: docs whose
    * 60-bit SimHash signatures differ in at most `maxHamming` bits. The
    * band count is DERIVED from the radius (bands = maxHamming + 1) so the
    * pigeonhole recall guarantee holds for every configurable radius, not
    * just the default: Hamming ≤ r over r+1 bands forces at least one band
    * to match exactly, so banding has 100% recall at radius r (asserted
    * against a brute-force sweep by spec) while candidate generation costs
    * one shuffle on the (band, band-sig) key. At the default r=3 this is
    * the classic 4×15-bit split (32768-way key space per band — wide
    * enough not to hot-key the shuffle); higher radii narrow the bands and
    * coarsen the key space, the inherent LSH recall/cost trade. Verify is
    * a row-local `bit_count(xor)`. */
  def simhashNeardup(s: SparkSession, dir: String,
                     maxHamming: Int = 3): Held =
    simhashNeardupHeld(Tables.documents(s, dir), "doc_id", "text", maxHamming)


  /** The banded Hamming pair join over ANY (id, text) frame — what the
    * `dedup_simhash` corpus step gates on. Bands = maxHamming + 1 (clamped
    * to [1, 60]); band i covers bits [i*60/nb, (i+1)*60/nb) of the 60-bit
    * signature, so uneven widths are spread evenly when 60 % nb != 0. Its
    * cached band rows are the handle to release once the pairs are
    * materialized (see [[Held]]). */
  def simhashNeardupHeld(docs: DataFrame, idCol: String, textCol: String,
                         maxHamming: Int): Held = {
    val nb = math.min(60, math.max(1, maxHamming + 1))
    // cached: both sides of the candidate join
    val Held(banded, bandedH) = Held.cached(simhashSigOf(docs, idCol, textCol)
      .selectExpr("doc_id", "simhash", s"explode(sequence(0, ${nb - 1})) AS band")
      .selectExpr("doc_id", "simhash", "band",
        s"(simhash div shiftleft(CAST(1 AS BIGINT), CAST(band * 60 / $nb AS INT))) " +
          s"% shiftleft(CAST(1 AS BIGINT), " +
          s"CAST((band + 1) * 60 / $nb AS INT) - CAST(band * 60 / $nb AS INT)) AS bsig"))
    val cand = banded.selectExpr("band", "bsig", "doc_id AS da", "simhash AS ha")
      .join(banded.selectExpr("band", "bsig", "doc_id AS db", "simhash AS hb"),
        Seq("band", "bsig"))
      .filter(col("da") < col("db"))
      .select("da", "db", "ha", "hb").distinct()
    Held(cand
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= maxHamming)
      .select("da", "db", "hamming")
      .orderBy("da", "db"), bandedH)
  }


  /** Contract-facing summary of [[simhashNeardup]]: pair count and
    * distinct docs involved per Hamming distance. The synthetic corpus's
    * 31-word vocabulary makes SimHash signatures still collide
    * (hundreds of thousands of ≤3 pairs at sf0.1 — a property of the
    * data, not the operator), so the checked artifact is the compact
    * distance histogram; the pair-level output is exercised by the
    * brute-force recall spec instead. */
  def simhashNeardupProfile(s: SparkSession, dir: String): Held =
    simhashNeardup(s, dir).map { pairs =>
      val np = pairs.groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
      val nd = pairs
        .select(col("hamming"), explode(array(col("da"), col("db"))).as("d"))
        .groupBy("hamming").agg(countDistinct("d").as("n_docs"))
      np.join(nd, "hamming").orderBy("hamming")
    }

  // ----------------------------------------------------- similarity search
  //
  // The vector kernels (normalize / dot / LSH signature) are native
  // Catalyst expressions with codegen — graft.functions.VectorExpressions —
  // registered as vec_norm/vec_dot/vec_sig via SparkSessionExtensions.
  // Inside whole-stage codegen they read ArrayData directly; the Scala UDFs
  // they replaced paid per-row Seq boxing on every candidate pair.


  /** Incremental dedup — the daily-ingest pattern: dedup a NEW batch of
    * documents against the already-ingested corpus without rescanning it
    * into a full groupBy. Batch-internal dedup (min doc_id per hash) plus
    * a left-anti join against the base corpus's hash set. At 100 TB the
    * anti-join shuffles on the uniform 128-bit hash (no skew); the base
    * side is the corpus's stored hash column, not its text. Here the
    * "base" is doc_id < 250 and the "batch" doc_id >= 250 — a split of the
    * one documents table so the oracle sees identical data. */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val hashed = Tables.documents(s, dir)
      .withColumn("text_hash", textDedupKey(col("text")))
    val base = hashed.filter(col("doc_id") < 250).select("text_hash").distinct()
    hashed.filter(col("doc_id") >= 250)
      .join(base, Seq("text_hash"), "left_anti")
      .groupBy("text_hash")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies", "text_hash")
      .orderBy("keep_id")
  }


  /** Corpus-level duplicated-span profile (C4/CCNet-style line dedup,
    * adapted to span windows since the corpus has no line breaks): every
    * positional `w`-word window is hashed across the WHOLE corpus; a
    * window is "duplicated" when any other document contains the same
    * window. Output per doc: window count, duplicated-window count, and
    * the duplicated fraction — the signal used to drop boilerplate spans
    * or whole near-copied docs. Two shuffles at any scale: distinct
    * (doc, window) pairs → window-keyed doc-frequency agg → join back on
    * the window key (uniform md5-sized keys, no skew). */
  def dupSegments(s: SparkSession, dir: String, w: Int = 8): Held =
    dupSegmentsHeld(Tables.documents(s, dir), "doc_id", "text", w)
      .map(_.orderBy("doc_id"))


  /** The duplicated-span profile over ANY (id, text) frame — what
    * [[graft.CorpusRunner]]'s `span_dedup` step gates on — with its cached
    * window rows as the handle to release once the profile is
    * materialized (see [[Held]]). */
  def dupSegmentsHeld(docs: DataFrame, idCol: String, textCol: String,
                      w: Int): Held = {
    // cached: feeds both the df-count and the join back
    val Held(segs, segsH) = Held.cached(docs
      .selectExpr(s"$idCol AS doc_id", s"split($textCol, ' ') AS toks")
      .selectExpr("doc_id",
        s"""explode(CASE WHEN size(toks) >= $w
           |  THEN transform(sequence(0, size(toks) - $w),
           |                 i -> concat_ws(' ', slice(toks, i + 1, $w)))
           |  ELSE array(concat_ws(' ', toks)) END) AS seg""".stripMargin))
    val segDf = segs.distinct().groupBy("seg").agg(count(lit(1)).as("ndocs"))
    Held(segs.join(segDf, "seg")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_segs"), 6)), segsH)
  }


  /** Duplicated-span REMOVAL — the C4 line-dedup made positional (the
    * corpus has no line breaks): docs are cut into consecutive `w`-token
    * blocks, every block text that occurs more than once in the WHOLE
    * corpus keeps only its first occurrence (smallest (doc_id, idx)), and
    * each document is rebuilt from its surviving blocks in order. Unlike
    * `span_dedup` (which drops whole docs over a fraction), this rewrites
    * documents — the actual C4 behavior.
    *
    * Scale design: one groupBy on the uniform block-text hash finds the
    * global first occurrence, one join back marks survivors, and the
    * rebuild is a doc-keyed collect bounded by the document's own length
    * — the same two-shuffle shape as exact dedup, never a pair join. */
  def spanScrub(s: SparkSession, dir: String): Held =
    spanScrubHeld(Tables.documents(s, dir), "doc_id", "text", 8)
      .map(_.select("doc_id", "n_blocks", "n_kept", "n_tokens_after", "text_md5")
        .orderBy("doc_id"))


  /** The block-grain scrub over ANY (id, text) frame — returns per doc
    * the block accounting, the rebuilt text, and its md5 (what the
    * `span_scrub` corpus step rewrites with).
    *
    * First occurrence is selected with `min(struct(doc_id, block_idx))`
    * — lexicographic struct ordering, valid for ANY id range and block
    * count (an earlier doc_id·10⁶+idx BIGINT packing silently collided
    * past 10⁶ blocks or ~9.2·10¹² ids; struct min has no bounds to
    * guard). Its cached block rows are the handle to release once the
    * rebuilt docs are materialized (see [[Held]]). */
  def spanScrubHeld(docs: DataFrame, idCol: String, textCol: String,
                    w: Int): Held = {
    // cached: totals + first-occurrence agg + survivor join
    val Held(blocks, blocksH) = Held.cached(docs
      .selectExpr(s"$idCol AS doc_id", s"split($textCol, ' ') AS toks")
      .selectExpr("doc_id",
        s"explode(sequence(0, cast(ceil(size(toks) / ${w}.0) AS INT) - 1)) AS k",
        "toks")
      .selectExpr("doc_id", "k",
        s"concat_ws(' ', slice(toks, k * $w + 1, $w)) AS block"))
    val first = blocks.groupBy("block")
      .agg(min(struct(col("doc_id"), col("k"))).as("first_key"))
    val kept = blocks.join(first, "block")
      .filter(struct(col("doc_id"), col("k")) === col("first_key"))
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      sum(size(split(col("block"), " "))).cast("long").as("n_tokens_after"),
      concat_ws(" ", transform(
        array_sort(collect_list(struct(col("k"), col("block")))),
        x => x.getField("block"))).as("rebuilt"))
    val totals = blocks.groupBy("doc_id").agg(count(lit(1)).as("n_blocks"))
    Held(totals.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_tokens_after"), lit(0L)).as("n_tokens_after"),
        coalesce(col("rebuilt"), lit("")).as("rebuilt"),
        md5(coalesce(col("rebuilt"), lit(""))).as("text_md5")), blocksH)
  }


  /** MinHash estimator calibration: for every VERIFIED near-dup pair, the
    * Jaccard ESTIMATE from the 12-permutation signature (matching-slot
    * fraction — the unbiased MinHash estimator) next to the exact Jaccard
    * the verify join computed. The per-pair |error| is the "measure, don't
    * guess" number behind trusting `dedup_minhash` at scales where the
    * exact verify is the expensive step: estimator cost is O(perms) per
    * pair on the already-aggregated signatures (one doc-keyed join), no
    * shingle re-scan. */
  def minhashEstErr(s: SparkSession, dir: String): Held = {
    val seeds = 0 until 12
    val sh = Held.cached(shingles(s, dir))
    // read by banding + both join sides
    val mh = Held.cached(minhashSigsFrom(sh.frame))
    // the `D` suffix keeps the division DOUBLE (a bare 12.0 parses as
    // DECIMAL(3,1) in Spark SQL — DuckDB's /12.0 is already double)
    val est = expr(seeds.map(k => s"CASE WHEN a_mh$k = b_mh$k THEN 1 ELSE 0 END")
      .mkString("(", " + ", s") / ${seeds.size}.0D"))
    val mhf = mh.frame
    val a = mhf.toDF(mhf.columns.map(c => if (c == "doc_id") "da" else s"a_$c").toIndexedSeq: _*)
    val b = mhf.toDF(mhf.columns.map(c => if (c == "doc_id") "db" else s"b_$c").toIndexedSeq: _*)
    val pairs = minhashPairsFrom(sh.frame, mhf, 0.7)
    Held(pairs.frame
      .join(a, "da").join(b, "db")
      .withColumn("jac_est", round(est, 6))
      .withColumn("abs_err", round(abs(col("jac") - est), 6))
      .select("da", "db", "jac", "jac_est", "abs_err")
      .orderBy("da", "db"), sh.handles ++ mh.handles ++ pairs.handles)
  }


  /** Cross-source contamination: where the VERIFIED near-dup pairs live in
    * the source matrix — the train/eval leakage check run before mixing
    * sources into one training corpus (a cluster spanning two sources
    * means "deduplicate across sources, not just within"). Cost is two
    * id-keyed joins on the ALREADY-BOUNDED pair graph (orders of magnitude
    * smaller than the corpus — the same observation that lets
    * [[dedupClusters]] solve components), then an O(sources²)-row agg. */
  def sourceOverlap(s: SparkSession, dir: String): Held = {
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    minhashPairs(s, dir).map(_
      .join(src.select(col("doc_id").as("da"), col("source").as("sa")), "da")
      .join(src.select(col("doc_id").as("db"), col("source").as("sb")), "db")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_a", "src_b"))
  }


  /** Semantic-dedup threshold calibration: pair counts of the
    * sign-projection candidate set at a ladder of cosine thresholds — the
    * curve a user reads to pick the [[semDedup]]/[[neardupCosine]] cutoff
    * instead of guessing it. One pass over the already-bucketed candidates
    * (same plan shape as `neardup_cosine`) feeding a single conditional
    * agg — the sweep adds no joins and no extra shuffles. */
  def neardupSweep(s: SparkSession, dir: String): DataFrame = {
    val ts = Seq(0.35, 0.5, 0.6, 0.7, 0.8, 0.9)
    val sigs = Tables.embeddings(s, dir)
      .select(col("vec_id"), vecNorm(col("embedding")).as("vn"),
        vecSig(col("embedding"), 4, 64).as("sig"))
    val scored = sigs.selectExpr("sig", "vec_id AS da", "vn AS va")
      .join(sigs.selectExpr("sig", "vec_id AS db", "vn AS vb"), "sig")
      .filter(col("da") < col("db"))
      .select(round(vecDot(col("va"), col("vb")), 4).as("cos_sim"))
    val aggs = ts.map(t => sum(when(col("cos_sim") >= t, 1L).otherwise(0L))
      .as(s"n_${(t * 100).toInt}"))
    val counts = scored.agg(aggs.head, aggs.tail: _*)
    counts.selectExpr(s"stack(${ts.size}, " +
        ts.map(t => s"${t}D, n_${(t * 100).toInt}").mkString(", ") +
        ") AS (threshold, n_pairs)")
      .orderBy("threshold")
  }


  /** Incremental NEAR-dup dedup: a new ingest batch (doc_id ≥ `split`,
    * mirroring [[corpusDiff]]'s version convention) probed against the
    * EXISTING corpus's LSH band index — the continuous-ingest twin of
    * [[dedupMinhash]], which [[dedupIncremental]] already provides for
    * exact hashes. Only new×old band collisions become candidates (the
    * new batch is not deduped against itself here), and only candidates
    * pay the exact-Jaccard verify, so per-batch cost scales with the batch
    * and its collision set — never with corpus². At 100 TB the old-side
    * band index is a materialized table keyed on (band, sig); the probe is
    * the same equi-join. Output: every new doc that near-duplicates an
    * existing doc, with the matched old doc and verified Jaccard. */
  def dedupMinhashIncr(s: SparkSession, dir: String,
                       split: Long = 400, threshold: Double = 0.7): DataFrame = {
    val sh = shingles(s, dir)
    val bands = minhashBandsFrom(minhashSigsFrom(sh))
    val cand = bands.filter(col("doc_id") >= split)
      .select(col("band"), col("sig"), col("doc_id").as("new_id"))
      .join(bands.filter(col("doc_id") < split)
        .select(col("band"), col("sig"), col("doc_id").as("old_id")),
        Seq("band", "sig"))
      .select("new_id", "old_id").distinct()
    val candDocs = cand
      .select(explode(array(col("new_id"), col("old_id"))).as("doc_id")).distinct()
    // re-clustered by doc_id once for the same reason as minhashPairsFrom:
    // the size agg and both verify joins ride this one small exchange
    val shC = sh.join(candDocs, Seq("doc_id"), "left_semi")
      .repartition(col("doc_id"))
    val sizes = shC.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(shC.select(col("doc_id").as("new_id"), col("s")), "new_id")
      .join(shC.select(col("doc_id").as("old_id"), col("s")), Seq("old_id", "s"))
      .groupBy("new_id", "old_id").agg(count(lit(1)).as("ni"))
    inter
      .join(sizes.select(col("doc_id").as("new_id"), col("n").as("na")), "new_id")
      .join(sizes.select(col("doc_id").as("old_id"), col("n").as("nb")), "old_id")
      .withColumn("jac", round(col("ni") / (col("na") + col("nb") - col("ni")), 6))
      .filter(col("jac") >= threshold)
      .select("new_id", "old_id", "jac")
      .orderBy("new_id", "old_id")
  }

  /** DuckDB oracle SQL for this family's contract queries. */
  protected val dedupOracles: Map[String, String] = Map(
    "dedup_incremental" ->
      """WITH h AS (SELECT doc_id, md5(lower(trim(text))) AS text_hash FROM documents),
        | base AS (SELECT DISTINCT text_hash FROM h WHERE doc_id < 250)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_copies, text_hash
        |FROM h WHERE doc_id >= 250
        | AND text_hash NOT IN (SELECT text_hash FROM base)
        |GROUP BY text_hash ORDER BY keep_id""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
        | md5(lower(trim(text))) AS text_hash
        |FROM documents GROUP BY 3 ORDER BY keep_id""".stripMargin,
    "soft_dedup_weights" ->
      """WITH d AS (SELECT doc_id, source, n_chars,
        |   md5(lower(trim(text))) AS h FROM documents),
        | g AS (SELECT h, count(*)::BIGINT AS n_copies FROM d GROUP BY h)
        |SELECT source, count(*)::BIGINT AS n_docs,
        | sum(n_chars)::BIGINT AS raw_chars,
        | round(sum(n_chars::DOUBLE / n_copies), 4) AS eff_chars,
        | round(round(sum(n_chars::DOUBLE / n_copies), 4)
        |   / sum(n_chars), 6) AS eff_ratio
        |FROM d JOIN g USING (h) GROUP BY source ORDER BY source""".stripMargin,
    "dedup_normalized" ->
      """WITH all_docs AS (
        |   SELECT doc_id, text FROM documents
        |   UNION ALL
        |   SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
        |     replace(upper(text), ' ', '  ') || ' !!' AS text FROM documents),
        | n AS (SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
        |     lower(text), '[^\p{L}\p{N} ]', '', 'g'), ' +', ' ', 'g'))) AS norm_md5
        |   FROM all_docs)
        |SELECT min(doc_id) AS keep_id, count(*)::BIGINT AS n_copies, norm_md5
        |FROM n GROUP BY norm_md5 HAVING count(*) > 1
        |ORDER BY keep_id""".stripMargin,
    "fuzzy_pairs" ->
      """WITH all_docs AS (
        |   SELECT doc_id AS id, text AS t FROM documents
        |   UNION ALL
        |   SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents),
        |     text || ' near duplicate tail' FROM documents WHERE doc_id % 37 = 0
        |   UNION ALL
        |   SELECT doc_id + 2 * (SELECT max(doc_id) + 1 FROM documents),
        |     'copy: ' || text FROM documents WHERE doc_id % 41 = 0),
        | base AS (SELECT id, t, length(t) AS len FROM all_docs),
        | cand AS (
        |   SELECT a.id AS id_a, b.id AS id_b, a.t AS ta, b.t AS tb,
        |     a.len AS la, b.len AS lb
        |   FROM base a JOIN base b ON left(a.t, 24) = left(b.t, 24)
        |   WHERE a.id < b.id
        |   UNION
        |   SELECT a.id, b.id, a.t, b.t, a.len, b.len
        |   FROM base a JOIN base b ON right(a.t, 24) = right(b.t, 24)
        |   WHERE a.id < b.id)
        |SELECT id_a, id_b, levenshtein(ta, tb)::INTEGER AS dist
        |FROM cand
        |WHERE abs(la - lb) <= 24 AND levenshtein(ta, tb) <= 24
        |ORDER BY id_a, id_b""".stripMargin,
    "dedup_canonical" ->
      s"""WITH RECURSIVE $shinglesSql,
        | hh AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS h1
        |   FROM sh),
        | mh AS (SELECT doc_id, seed,
        |   min(((2 * seed + 1) * h1 + (seed * 2654435761) % 2147483647) % 2147483647) AS mh
        |   FROM hh, unnest(generate_series(0, 11)) AS u(seed) GROUP BY doc_id, seed),
        | bands AS (SELECT doc_id, seed % 4 AS band,
        |   md5(string_agg(seed || ':' || mh, '|' ORDER BY seed)) AS sig
        |   FROM mh GROUP BY doc_id, seed % 4),
        | cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |   FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        |   WHERE a.doc_id < b.doc_id),
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
        |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        | p AS (SELECT c.da, c.db
        |   FROM cand c JOIN inter i ON c.da = i.da AND c.db = i.db
        |    JOIN sizes sa ON c.da = sa.doc_id JOIN sizes sb ON c.db = sb.doc_id
        |   WHERE round(ni::DOUBLE / (sa.n + sb.n - ni), 6) >= 0.7),
        | e AS (SELECT da AS a, db AS b FROM p UNION ALL SELECT db, da FROM p),
        | r(d, m) AS (
        |   SELECT DISTINCT a, a FROM e
        |   UNION
        |   SELECT r.d, e.b FROM r JOIN e ON r.m = e.a),
        | lbl AS (SELECT d, min(m) AS cluster_id FROM r GROUP BY d),
        | j AS (SELECT l.cluster_id, dd.doc_id, dd.n_chars,
        |     row_number() OVER (PARTITION BY l.cluster_id
        |       ORDER BY dd.n_chars DESC, dd.doc_id) AS rn
        |   FROM lbl l JOIN documents dd ON l.d = dd.doc_id)
        |SELECT cluster_id,
        | max(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc,
        | max(CASE WHEN rn = 1 THEN n_chars END) AS keep_chars,
        | (count(*) - 1)::BIGINT AS n_dropped
        |FROM j GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "cluster_safe_split" ->
      s"""WITH RECURSIVE $shinglesSql,
        | hh AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS h1
        |   FROM sh),
        | mh AS (SELECT doc_id, seed,
        |   min(((2 * seed + 1) * h1 + (seed * 2654435761) % 2147483647) % 2147483647) AS mh
        |   FROM hh, unnest(generate_series(0, 11)) AS u(seed) GROUP BY doc_id, seed),
        | bands AS (SELECT doc_id, seed % 4 AS band,
        |   md5(string_agg(seed || ':' || mh, '|' ORDER BY seed)) AS sig
        |   FROM mh GROUP BY doc_id, seed % 4),
        | cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |   FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        |   WHERE a.doc_id < b.doc_id),
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
        |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        | p AS (SELECT c.da, c.db
        |   FROM cand c JOIN inter i ON c.da = i.da AND c.db = i.db
        |    JOIN sizes sa ON c.da = sa.doc_id JOIN sizes sb ON c.db = sb.doc_id
        |   WHERE round(ni::DOUBLE / (sa.n + sb.n - ni), 6) >= 0.7),
        | e AS (SELECT da AS a, db AS b FROM p UNION ALL SELECT db, da FROM p),
        | r(d, m) AS (
        |   SELECT DISTINCT a, a FROM e
        |   UNION
        |   SELECT r.d, e.b FROM r JOIN e ON r.m = e.a),
        | lab AS (SELECT d, min(m) AS lbl FROM r GROUP BY d),
        | full_lbl AS (SELECT dd.doc_id, coalesce(lab.lbl, dd.doc_id) AS lbl
        |   FROM documents dd LEFT JOIN lab ON dd.doc_id = lab.d),
        | sided AS (SELECT doc_id, lbl,
        |   CASE WHEN ('0x' || substr(md5(lbl::VARCHAR), 1, 8))::BIGINT
        |       / 4294967296.0 < 0.8 THEN 'train' ELSE 'eval' END AS side
        |   FROM full_lbl),
        | sides AS (SELECT side, count(*)::BIGINT AS n_docs,
        |   count(DISTINCT lbl)::BIGINT AS n_clusters FROM sided GROUP BY side),
        | cr AS (SELECT coalesce(sum(CASE WHEN sa.side <> sb.side THEN 1
        |     ELSE 0 END), 0)::BIGINT AS cross_pairs
        |   FROM p JOIN sided sa ON p.da = sa.doc_id
        |     JOIN sided sb ON p.db = sb.doc_id)
        |SELECT side, n_docs, n_clusters, cross_pairs
        |FROM sides, cr ORDER BY side""".stripMargin,
    "neardup_pairs" ->
      s"""WITH $shinglesSql,
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
        |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT da, db, round(ni::DOUBLE / (sa.n + sb.n - ni), 6) AS jac
        |FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
        |WHERE round(ni::DOUBLE / (sa.n + sb.n - ni), 6) >= 0.8
        |ORDER BY da, db""".stripMargin,
    "neardup_capped" ->
      s"""WITH $shinglesSql,
        | rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50),
        | shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        | sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
        |   FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT da, db, round(ni::DOUBLE / (sa.n + sb.n - ni), 6) AS jac
        |FROM inter JOIN sizes sa ON da = sa.doc_id JOIN sizes sb ON db = sb.doc_id
        |WHERE round(ni::DOUBLE / (sa.n + sb.n - ni), 6) >= 0.8
        |ORDER BY da, db""".stripMargin,
    "containment_pairs" ->
      s"""WITH $shinglesSql,
        | rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 50),
        | shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
        | sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
        |   FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id <> b.doc_id GROUP BY 1, 2)
        |SELECT da, db, ni, round(ni::DOUBLE / sa.n, 6) AS cont
        |FROM inter JOIN sizes sa ON da = sa.doc_id
        |WHERE round(ni::DOUBLE / sa.n, 6) >= 0.5
        |ORDER BY da, db""".stripMargin,
    "dedup_minhash" ->
      s"""WITH $shinglesSql,
        | hh AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS h1
        |   FROM sh),
        | mh AS (SELECT doc_id, seed,
        |   min(((2 * seed + 1) * h1 + (seed * 2654435761) % 2147483647) % 2147483647) AS mh
        |   FROM hh, unnest(generate_series(0, 11)) AS u(seed) GROUP BY doc_id, seed),
        | bands AS (SELECT doc_id, seed % 4 AS band,
        |   md5(string_agg(seed || ':' || mh, '|' ORDER BY seed)) AS sig
        |   FROM mh GROUP BY doc_id, seed % 4),
        | cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |   FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        |   WHERE a.doc_id < b.doc_id),
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
        |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT c.da, c.db, round(ni::DOUBLE / (sa.n + sb.n - ni), 6) AS jac
        |FROM cand c JOIN inter i ON c.da = i.da AND c.db = i.db
        | JOIN sizes sa ON c.da = sa.doc_id JOIN sizes sb ON c.db = sb.doc_id
        |WHERE round(ni::DOUBLE / (sa.n + sb.n - ni), 6) >= 0.7
        |ORDER BY c.da, c.db""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE $shinglesSql,
        | hh AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS h1
        |   FROM sh),
        | mh AS (SELECT doc_id, seed,
        |   min(((2 * seed + 1) * h1 + (seed * 2654435761) % 2147483647) % 2147483647) AS mh
        |   FROM hh, unnest(generate_series(0, 11)) AS u(seed) GROUP BY doc_id, seed),
        | bands AS (SELECT doc_id, seed % 4 AS band,
        |   md5(string_agg(seed || ':' || mh, '|' ORDER BY seed)) AS sig
        |   FROM mh GROUP BY doc_id, seed % 4),
        | cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |   FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        |   WHERE a.doc_id < b.doc_id),
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
        |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        | p AS (SELECT c.da, c.db
        |   FROM cand c JOIN inter i ON c.da = i.da AND c.db = i.db
        |    JOIN sizes sa ON c.da = sa.doc_id JOIN sizes sb ON c.db = sb.doc_id
        |   WHERE round(ni::DOUBLE / (sa.n + sb.n - ni), 6) >= 0.7),
        | e AS (SELECT da AS a, db AS b FROM p UNION ALL SELECT db, da FROM p),
        | r(d, m) AS (
        |   SELECT DISTINCT a, a FROM e
        |   UNION
        |   SELECT r.d, e.b FROM r JOIN e ON r.m = e.a),
        | lbl AS (SELECT d, min(m) AS cluster_id FROM r GROUP BY d)
        |SELECT cluster_id, count(*) AS n_docs, max(d) AS max_doc
        |FROM lbl GROUP BY 1 ORDER BY cluster_id""".stripMargin,
    "simhash_sig" ->
      """WITH tok AS (SELECT DISTINCT doc_id, t FROM (
        |   SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
        | th AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
        | bits AS (SELECT doc_id, b,
        |   sum(CASE WHEN (h // (1::BIGINT << b)) % 2 = 1 THEN 1 ELSE -1 END) AS vs
        |   FROM th, unnest(generate_series(0, 59)) AS u(b) GROUP BY doc_id, b)
        |SELECT doc_id,
        | sum(CASE WHEN vs > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "simhash_neardup" ->
      """WITH tok AS (SELECT DISTINCT doc_id, t FROM (
        |   SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
        | th AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok),
        | bits AS (SELECT doc_id, b,
        |   sum(CASE WHEN (h // (1::BIGINT << b)) % 2 = 1 THEN 1 ELSE -1 END) AS vs
        |   FROM th, unnest(generate_series(0, 59)) AS u(b) GROUP BY doc_id, b),
        | sh2 AS (SELECT doc_id,
        |   sum(CASE WHEN vs > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS simhash
        |   FROM bits GROUP BY doc_id),
        | banded AS (SELECT doc_id, simhash, b AS band,
        |   (simhash // (1::BIGINT << (b * 15))) % 32768 AS bsig
        |   FROM sh2, unnest(generate_series(0, 3)) AS u(b)),
        | cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
        |   a.simhash AS ha, b.simhash AS hb
        |   FROM banded a JOIN banded b ON a.band = b.band AND a.bsig = b.bsig
        |   WHERE a.doc_id < b.doc_id),
        | p AS (SELECT da, db, bit_count(xor(ha, hb))::INT AS hamming
        |   FROM cand WHERE bit_count(xor(ha, hb)) <= 3),
        | np AS (SELECT hamming, count(*)::BIGINT AS n_pairs FROM p GROUP BY hamming),
        | nd AS (SELECT hamming, count(DISTINCT d)::BIGINT AS n_docs FROM (
        |   SELECT hamming, da AS d FROM p UNION ALL SELECT hamming, db FROM p)
        |   GROUP BY hamming)
        |SELECT hamming, n_pairs, n_docs FROM np JOIN nd USING (hamming)
        |ORDER BY hamming""".stripMargin,
    "dup_segments" ->
      """WITH segs AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
        |    THEN list_transform(generate_series(1, len(toks) - 7),
        |                        i -> array_to_string(list_slice(toks, i, i + 7), ' '))
        |    ELSE [array_to_string(toks, ' ')] END) AS seg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        | sdf AS (SELECT seg, count(*) AS ndocs
        |   FROM (SELECT DISTINCT doc_id, seg FROM segs) GROUP BY seg)
        |SELECT s.doc_id, count(*)::BIGINT AS n_segs,
        | sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup,
        | round(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
        |   AS dup_frac
        |FROM segs s JOIN sdf USING (seg) GROUP BY s.doc_id ORDER BY doc_id""".stripMargin,
    "span_scrub" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        | b AS (SELECT doc_id, k,
        |     array_to_string(toks[k*8+1 : k*8+8], ' ') AS block
        |   FROM t, unnest(generate_series(0,
        |     ceil(len(toks) / 8.0)::INT - 1)) AS u(k)),
        | f AS (SELECT block, min(ROW(doc_id, k)) AS first_key
        |   FROM b GROUP BY block),
        | kept AS (SELECT b.doc_id, b.k, b.block
        |   FROM b JOIN f ON b.block = f.block
        |   WHERE ROW(b.doc_id, b.k) = f.first_key),
        | reb AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
        |     sum(len(string_split(block, ' ')))::BIGINT AS n_tokens_after,
        |     string_agg(block, ' ' ORDER BY k) AS rebuilt
        |   FROM kept GROUP BY doc_id),
        | tot AS (SELECT doc_id, count(*)::BIGINT AS n_blocks
        |   FROM b GROUP BY doc_id)
        |SELECT tot.doc_id AS doc_id, n_blocks, coalesce(n_kept, 0) AS n_kept,
        | coalesce(n_tokens_after, 0) AS n_tokens_after,
        | md5(coalesce(rebuilt, '')) AS text_md5
        |FROM tot LEFT JOIN reb ON tot.doc_id = reb.doc_id
        |ORDER BY tot.doc_id""".stripMargin,
    "minhash_est_err" ->
      s"""WITH $shinglesSql,
        | hh AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS h1
        |   FROM sh),
        | mh AS (SELECT doc_id, seed,
        |   min(((2 * seed + 1) * h1 + (seed * 2654435761) % 2147483647) % 2147483647) AS mh
        |   FROM hh, unnest(generate_series(0, 11)) AS u(seed) GROUP BY doc_id, seed),
        | bands AS (SELECT doc_id, seed % 4 AS band,
        |   md5(string_agg(seed || ':' || mh, '|' ORDER BY seed)) AS sig
        |   FROM mh GROUP BY doc_id, seed % 4),
        | cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |   FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        |   WHERE a.doc_id < b.doc_id),
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
        |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        | p AS (SELECT c.da, c.db, round(ni::DOUBLE / (sa.n + sb.n - ni), 6) AS jac
        |   FROM cand c JOIN inter i ON c.da = i.da AND c.db = i.db
        |    JOIN sizes sa ON c.da = sa.doc_id JOIN sizes sb ON c.db = sb.doc_id
        |   WHERE round(ni::DOUBLE / (sa.n + sb.n - ni), 6) >= 0.7),
        | est AS (SELECT p.da, p.db, p.jac,
        |    sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) / 12.0 AS e
        |   FROM p JOIN mh ma ON ma.doc_id = p.da
        |     JOIN mh mb ON mb.doc_id = p.db AND mb.seed = ma.seed
        |   GROUP BY p.da, p.db, p.jac)
        |SELECT da, db, jac, round(e, 6) AS jac_est, round(abs(jac - e), 6) AS abs_err
        |FROM est ORDER BY da, db""".stripMargin,
    "source_overlap" ->
      s"""WITH $shinglesSql,
        | hh AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS h1
        |   FROM sh),
        | mh AS (SELECT doc_id, seed,
        |   min(((2 * seed + 1) * h1 + (seed * 2654435761) % 2147483647) % 2147483647) AS mh
        |   FROM hh, unnest(generate_series(0, 11)) AS u(seed) GROUP BY doc_id, seed),
        | bands AS (SELECT doc_id, seed % 4 AS band,
        |   md5(string_agg(seed || ':' || mh, '|' ORDER BY seed)) AS sig
        |   FROM mh GROUP BY doc_id, seed % 4),
        | cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |   FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        |   WHERE a.doc_id < b.doc_id),
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
        |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        | p AS (SELECT c.da, c.db
        |   FROM cand c JOIN inter i ON c.da = i.da AND c.db = i.db
        |    JOIN sizes sa ON c.da = sa.doc_id JOIN sizes sb ON c.db = sb.doc_id
        |   WHERE round(ni::DOUBLE / (sa.n + sb.n - ni), 6) >= 0.7)
        |SELECT least(a.source, b.source) AS src_a,
        |  greatest(a.source, b.source) AS src_b, count(*)::BIGINT AS n_pairs
        |FROM p JOIN documents a ON p.da = a.doc_id
        |  JOIN documents b ON p.db = b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "dedup_minhash_incr" ->
      s"""WITH $shinglesSql,
        | hh AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS h1
        |   FROM sh),
        | mh AS (SELECT doc_id, seed,
        |   min(((2 * seed + 1) * h1 + (seed * 2654435761) % 2147483647) % 2147483647) AS mh
        |   FROM hh, unnest(generate_series(0, 11)) AS u(seed) GROUP BY doc_id, seed),
        | bands AS (SELECT doc_id, seed % 4 AS band,
        |   md5(string_agg(seed || ':' || mh, '|' ORDER BY seed)) AS sig
        |   FROM mh GROUP BY doc_id, seed % 4),
        | cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
        |   FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        |   WHERE a.doc_id >= 400 AND b.doc_id < 400),
        | sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | inter AS (SELECT c.new_id, c.old_id, count(*) AS ni
        |   FROM cand c JOIN sh a ON a.doc_id = c.new_id
        |    JOIN sh b ON b.doc_id = c.old_id AND b.s = a.s
        |   GROUP BY 1, 2)
        |SELECT new_id, old_id, round(ni::DOUBLE / (sa.n + sb.n - ni), 6) AS jac
        |FROM inter JOIN sizes sa ON new_id = sa.doc_id
        |  JOIN sizes sb ON old_id = sb.doc_id
        |WHERE round(ni::DOUBLE / (sa.n + sb.n - ni), 6) >= 0.7
        |ORDER BY new_id, old_id""".stripMargin,
    "neardup_sweep" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        | w AS (SELECT j, list_transform(generate_series(1, 64), i ->
        |     CASE WHEN ('0x' || substr(md5(CAST(i - 1 AS VARCHAR)), j + 1, 1))::INT % 2 = 0
        |          THEN 1.0 ELSE -1.0 END) AS wv
        |   FROM generate_series(0, 3) AS t(j)),
        | sigv AS (SELECT vec_id,
        |     sum(CASE WHEN list_dot_product(v, wv) >= 0 THEN (1 << j) ELSE 0 END)::BIGINT AS sig
        |   FROM e, w GROUP BY vec_id),
        | sigs AS (SELECT e.vec_id,
        |     list_transform(e.v, x -> x / sqrt(list_dot_product(e.v, e.v))) AS vn,
        |     sigv.sig
        |   FROM e JOIN sigv USING (vec_id)),
        | pairs AS (SELECT round(list_dot_product(a.vn, b.vn), 4) AS cos_sim
        |   FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id)
        |SELECT threshold, sum(CASE WHEN cos_sim >= threshold THEN 1 ELSE 0 END)::BIGINT AS n_pairs
        |FROM pairs, (SELECT unnest([0.35, 0.5, 0.6, 0.7, 0.8, 0.9]::DOUBLE[]) AS threshold) t
        |GROUP BY threshold ORDER BY threshold""".stripMargin)
}
