package graft.queries

import graft.Tables
import graft.plans.Held
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{vecDot, vecL2, vecNorm, vecSig}

/** Similarity-search / embedding family: brute-force, LSH, IVF (raw,
  * trained, persisted), PQ and SQ8 quantization, k-means, MMR, semantic
  * dedup + decontamination, embedding diagnostics. Mixed into
  * [[LlmData]]; see its scaladoc for the engine-wide scale notes.
  *
  * THE ANN BOUNDARY, by decision rather than omission: this engine
  * serves the LAKE side of vector search — partition-parallel scans
  * over bucketed inverted lists (IVF), with PQ/SQ8 compression for the
  * memory-bound tier and the SnapshotStore artifact for build-once/
  * probe-many serving. Graph-ANN indexes (HNSW and kin) are the
  * industry's low-latency ONLINE-serving default, but their navigable
  * graph is inherently driver-state-shaped: greedy best-first walks
  * over a mutable neighbor graph do not decompose into Spark's
  * scan/shuffle model without per-query driver round-trips. A
  * deployment that needs sub-millisecond point lookups should export
  * the published IVF/PQ artifact into a dedicated online server; this
  * engine deliberately does not pretend to be one. */
trait LlmAnnOps extends LlmCore {

  /** Brute-force cosine top-5 for query vectors (vec_id < 8) — the
    * correctness baseline for ANN. The query side is tiny → broadcast
    * nested-loop; candidates stream partition-parallel. Scale path:
    * LSH-bucketed candidate generation ([[annLsh]]). */
  def annTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), vecNorm(col("embedding")).as("vn"))
    val q = e.filter(col("vec_id") < 8).select(col("vec_id").as("q_id"), col("vn").as("qv"))
    val c = e.select(col("vec_id").as("c_id"), col("vn").as("cv"))
    // broadcast the bounded query set, stream the corpus (see annSq8 note)
    val scored = broadcast(q).crossJoin(c).filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(vecDot(col("qv"), col("cv")), 4).as("cos_sim"))
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos_sim"), asc("c_id"))))
      .filter(col("rnk") <= 5)
      .select("q_id", "rnk", "c_id", "cos_sim")
      .orderBy("q_id", "rnk")
  }



  /** Retrieval-quality evaluation of the LSH scale path against the exact
    * brute-force gold standard: recall@3, MRR, and binary-relevance
    * nDCG@3, averaged over the query set — the numbers that tell you
    * whether an ANN shortcut is GOOD ENOUGH to serve, not just fast. Both
    * rankings come from the already-verified operators ([[annLsh]] /
    * [[annTopK]]), so this is one membership join on the tiny per-query
    * result frames plus closed-form aggregates; MRR rides max(1/rnk) over
    * the relevant hits — no window. */
  def annNdcg(s: SparkSession, dir: String): DataFrame = {
    val gold = annTopK(s, dir).filter(col("rnk") <= 3)
      .select(col("q_id"), col("c_id"))
    val sys = annLsh(s, dir).select(col("q_id"), col("rnk"), col("c_id"))
    val idcg = (1 to 3).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0))).sum
    // the aggregation is driven from the GOLD side: a query whose LSH
    // bands produce zero candidates still contributes 0 to every metric
    // instead of silently vanishing from n_queries (which would inflate
    // the averages — the eval must charge the index for total misses)
    gold.join(sys, Seq("q_id", "c_id"), "left")
      .groupBy("q_id").agg(
        (sum(when(col("rnk").isNotNull, 1).otherwise(0)) / lit(3.0))
          .as("recall"),
        coalesce(max(when(col("rnk").isNotNull, lit(1.0) / col("rnk"))),
          lit(0.0)).as("rr"),
        coalesce(sum(when(col("rnk").isNotNull,
          lit(1.0) / log2(col("rnk") + lit(1.0)))), lit(0.0)).as("dcg"))
      .agg(count(lit(1)).as("n_queries"),
        round(avg("recall"), 6).as("recall_at_3"),
        round(avg("rr"), 6).as("mrr"),
        round(avg(col("dcg") / lit(idcg)), 6).as("ndcg_at_3"))
  }



  /** Maximal Marginal Relevance (MMR) diversified top-k — the re-ranking
    * step between retrieval and consumption (RAG context assembly,
    * dedup-aware search): greedily pick k results maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-picked, so near-
    * duplicate hits don't crowd the result list the plain cosine top-k
    * ([[annTopK]]) returns. */
  def annMmr(s: SparkSession, dir: String): Held =
    annMmrOf(Tables.embeddings(s, dir), col("vec_id") < 8)



  /** MMR over ANY (vec_id, embedding) frame with an arbitrary bounded
    * query predicate. Scale shape: candidate generation is the standard
    * broadcast-queries/stream-corpus pass (swap in the persisted ANN
    * probe for candidates at index scale — same contract), after which
    * ALL work runs on the O(nq·nCand) candidate table: its pairwise sims
    * are nq·nCand² rows, and each of the k greedy rounds is one
    * join + keyed-window argmax over that bounded frame, parallel across
    * queries. The sequential part is k ROUNDS (k plan iterations, frames
    * checkpointed flat), never a per-row driver loop; corpus size only
    * ever enters through the one scored scan. */
  def annMmrOf(emb: DataFrame, queryPred: org.apache.spark.sql.Column,
               k: Int = 5, lam: Double = 0.7, nCand: Int = 12,
               maxQueries: Long = 4096): Held = {
    val e = emb.select(col("vec_id"), vecNorm(col("embedding")).as("vn"))
    val q0 = e.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("vn").as("qv"))
    val nq = q0.limit(math.min(maxQueries + 1, Int.MaxValue.toLong).toInt).count()
    require(nq > 0, "ann_mmr: query predicate selected no rows")
    require(nq <= maxQueries,
      s"ann_mmr: query set has more than $maxQueries rows (the broadcast " +
        "bound) — generate candidates via the persisted ANN index instead")
    val q = q0.localCheckpoint(true)
    val c = e.select(col("vec_id").as("c_id"), col("vn").as("cv"))
    // O(nq·nCand) rows — everything below is bounded
    val cand = Held(broadcast(q).crossJoin(c).filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(vecDot(col("qv"), col("cv")), 4).as("rel"), col("cv"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("rel"), asc("c_id"))))
      .filter(col("rnk") <= nCand)
      .drop("rnk")).checkpointed()
    val ps = Held(cand.select(col("q_id"), col("c_id").as("a"), col("cv").as("av"))
      .join(cand.select(col("q_id"), col("c_id").as("b"), col("cv").as("bv")), "q_id")
      .filter(col("a") =!= col("b"))
      .select(col("q_id"), col("a"), col("b"),
        round(vecDot(col("av"), col("bv")), 4).as("sim"))).checkpointed()
    val candLite = cand.select("q_id", "c_id", "rel")
    var selected: DataFrame = null
    for (r <- 1 to k) {
      val scored =
        if (r == 1) candLite.withColumn("score", lit(lam) * col("rel"))
        else {
          val pen = ps
            .join(selected.select(col("q_id"), col("c_id").as("b")), Seq("q_id", "b"))
            .groupBy(col("q_id"), col("a").as("c_id")).agg(max("sim").as("pen"))
          candLite
            .join(selected.select("q_id", "c_id"), Seq("q_id", "c_id"), "left_anti")
            .join(pen, Seq("q_id", "c_id"), "left")
            .withColumn("score", lit(lam) * col("rel") -
              lit(1.0 - lam) * coalesce(col("pen"), lit(0.0)))
        }
      val pick = scored
        .withColumn("rn", row_number().over(
          Window.partitionBy("q_id").orderBy(desc("score"), asc("c_id"))))
        .filter(col("rn") === 1)
        .select(col("q_id"), lit(r).as("rnk"), col("c_id"), col("rel"),
          // 5 decimals: λ·rel − (1−λ)·pen has an EXACT 5-digit decimal
          // value (4-rounded inputs × a 1-digit λ), so rounding at 5
          // lands on the grid point in both engines; rounding at 4 sits
          // exactly on the half-way tie, where Spark (HALF_UP) and
          // DuckDB (float round) disagree
          round(col("score"), 5).as("score"))
      val last = selected
      // keep round r+1's plan flat
      selected = Held(if (r == 1) pick else selected.unionAll(pick)).checkpointed()
      if (last != null) Held.release(last)
    }
    // the last round's checkpoint holds every pick: release the rest
    Seq(q, cand, ps).foreach(Held.release)
    Held(selected.orderBy("q_id", "rnk"), Seq(selected))
  }



  /** Hard-negative mining for embedding-model training (contrastive /
    * triplet pipelines): for each query vector, the most similar
    * SAME-label candidate (the positive) and the most similar
    * DIFFERENT-label candidate (the hard negative) by exact cosine —
    * the pair selection step a contrastive fine-tune runs over its
    * training corpus. Same plan as [[annTopK]]: broadcast the bounded
    * query set, stream the corpus partition-parallel; at 100 TB the
    * candidate generation swaps to the ANN index ([[annLsh]]/[[annIvf]])
    * without changing the ranking or the output contract. */
  def hardNegatives(s: SparkSession, dir: String): Held =
    hardNegativesOf(Tables.embeddings(s, dir), col("vec_id") < 8)



  /** Hard-negative mining over ANY (vec_id, label, embedding) frame with
    * an ARBITRARY query-set predicate. The query set is broadcast, so its
    * size is validated against `maxQueries` (a loud failure, not a silent
    * executor OOM) — a larger query set belongs on the ANN index path
    * ([[annIvfProbeFrom]]), which swaps in without changing the ranking
    * or the output contract. */
  def hardNegativesOf(emb: DataFrame,
                      queryPred: org.apache.spark.sql.Column,
                      maxQueries: Long = 4096): Held = {
    val e = emb
      .select(col("vec_id"), col("label"), vecNorm(col("embedding")).as("vn"))
    val q0 = e.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("label").as("ql"), col("vn").as("qv"))
    // bounded validation scan: limit(max+1) answers both "empty?" and
    // "over the broadcast bound?" without a full count of the corpus
    val nq = q0.limit(math.min(maxQueries + 1, Int.MaxValue.toLong).toInt).count()
    require(nq > 0, "hard_negatives: query predicate selected no rows")
    require(nq <= maxQueries,
      s"hard_negatives: query set has more than $maxQueries rows (the " +
        "broadcast bound) — use the persisted ANN index path for large " +
        "query sets")
    // the VALIDATED query set is <= maxQueries narrow rows: materialize it
    // once (a held local checkpoint) so the probe side doesn't re-run the
    // predicate scan
    val q = q0.localCheckpoint(true)
    val c = e.select(col("vec_id").as("c_id"), col("label").as("cl"), col("vn").as("cv"))
    val scored = broadcast(q).crossJoin(c).filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("ql"), col("c_id"), col("cl"),
        round(vecDot(col("qv"), col("cv")), 4).as("cos_sim"))
    def top1(cond: org.apache.spark.sql.Column, pfx: String) = scored
      .filter(cond)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos_sim"), asc("c_id"))))
      .filter(col("rnk") === 1)
      .select(col("q_id"), col("c_id").as(s"${pfx}_id"),
        col("cos_sim").as(s"${pfx}_cos"))
    Held(top1(col("ql") === col("cl"), "pos")
      .join(top1(col("ql") =!= col("cl"), "neg"), "q_id")
      .orderBy("q_id"), Seq(q))
  }



  /** LSH-bucketed ANN — the SCALE path for similarity search: EIGHT
    * independent 4-hyperplane sign-projection tables (weights ±1 from md5
    * hex-digit parity of the dimension index, band b reading digit family
    * b·4 — reproducible in any engine) hash every vector into 16 buckets
    * per band; candidates meet when they share a bucket in ANY band
    * (OR-ed tables — the standard LSH recall knob: per-band match
    * probability is (1−θ/π)⁴, so recall@3 on this weakly-clustered
    * synthetic corpus goes ~0.13 (1 band) → ~0.21 (3) → ~0.46 (6) →
    * 0.67 at 8, measured by AnnRecallSpec), then exact cosine ranks top-3.
    * At 100 TB: signatures are row-local expressions, the index is 3× the
    * corpus in narrow (band, sig, id) rows, the join shuffles on the
    * (band, sig) key, and bands/planes trade recall for bucket size
    * without changing the plan shape. */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val nBands = 8
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), vecNorm(col("embedding")).as("vn"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"),
            vecSig(col("embedding"), 4, 64, b * 4).as("sig"))): _*)).as("bs"))
      .select(col("vec_id"), col("vn"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
    val q = e.filter(col("vec_id") < 8)
      .selectExpr("vec_id AS q_id", "vn AS qv", "band", "sig")
    val c = e.selectExpr("vec_id AS c_id", "vn AS cv", "band", "sig")
    q.join(c, Seq("band", "sig")).filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(vecDot(col("qv"), col("cv")), 4).as("cos_sim"))
      // a pair sharing several bands appears once per band — dedup on the
      // NARROW (ids, score) rows, never shuffling the vectors
      .groupBy("q_id", "c_id").agg(min("cos_sim").as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos_sim"), asc("c_id"))))
      .filter(col("rnk") <= 3)
      .select("q_id", "rnk", "c_id", "cos_sim")
      .orderBy("q_id", "rnk")
  }



  /** IVF-bucketed ANN — the coarse-quantizer scale path (IVF-flat): a small
    * centroid set partitions the corpus into inverted lists; every vector
    * joins its nearest centroid's list (one broadcast join — the centroid
    * set is small by construction), and queries probe their `nprobe`
    * closest lists, so candidate generation touches ~nprobe/k of the corpus
    * instead of all of it. Exact cosine ranks the survivors.
    *
    * Centroids are a deterministic k-sample ([[coarseSeeds]]) so the
    * oracle can replay the assignment; k defaults to the corpus-adaptive
    * [[adaptiveCoarseK]] (⌈√N⌉ capped) and nprobe to [[adaptiveNprobe]]
    * (⌈√k⌉), so probe selectivity IMPROVES as the corpus grows instead of
    * pinning at a test-scale constant. At 100 TB centroids would come from
    * k-means on a sample — the plan shape (broadcast assign → equi-join on
    * cell id → per-query top-k) is unchanged. Assignment ranks on
    * round(dot, 6) with a centroid-id tie-break — deterministic across
    * engines. */
  def annIvf(s: SparkSession, dir: String,
             k: Int = -1, nprobe: Int = -1): Held = {
    // normalized corpus, read by the count, the seed sample, assignment
    // and both join sides
    val Held(e, eH) = Held.cached(Tables.embeddings(s, dir)
      .select(col("vec_id"), vecNorm(col("embedding")).as("vn")))
    val kk = if (k > 0) k else adaptiveCoarseK(e.count())
    val np = if (nprobe > 0) nprobe else adaptiveNprobe(kk)
    val cents = coarseSeeds(e, kk)
      .select(col("vec_id").as("cent_id"), col("vn").as("cv"))
    // Assignment ranks on NARROW rows (vec_id, cent_id, d): the k-way
    // centroid fan-out must never replicate the embedding array k× through
    // the ranking shuffle/cache — vectors are joined back by id afterwards
    // (linear, co-partitioned on vec_id).
    val scored = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        round(vecDot(col("vn"), col("cv")), 6).as("d"))
    // rn over vec_id: high-cardinality partition key — parallel window
    val byCell = row_number().over(
      Window.partitionBy("vec_id").orderBy(desc("d"), asc("cent_id")))
    val assigned = scored.withColumn("rn", byCell)
      .filter(col("rn") <= np).select("vec_id", "cent_id", "rn")
    val lists = assigned.filter(col("rn") === 1).join(e, "vec_id")
      .select(col("vec_id").as("c_id"), col("vn").as("cvn"), col("cent_id"))
    val probes = assigned.filter(col("vec_id") < 8).join(e, "vec_id")
      .select(col("vec_id").as("q_id"), col("vn").as("qv"), col("cent_id"))
    Held(probes.join(lists, "cent_id").filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        round(vecDot(col("qv"), col("cvn")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos_sim"), asc("c_id"))))
      .filter(col("rnk") <= 3)
      .select("q_id", "rnk", "c_id", "cos_sim")
      .orderBy("q_id", "rnk"), eH)
  }



  /** Embedding-cosine near-dup pairs: LSH-bucketed candidates (same
    * 16-bucket sign-projection scheme as [[annLsh]]), kept when cosine ≥
    * 0.35 (the top of the similarity range in the synthetic corpus) — the embedding-space twin of MinHash dedup. Never all-pairs.
    *
    * Per-pair work is ONE dot product of pre-normalized vectors: norms are
    * computed once per vector at signature time (O(n) not O(pairs)), and
    * the pair dot runs as a primitive-array UDF loop — higher-order array
    * expressions (`aggregate`/`zip_with`) are interpreted per element, an
    * order of magnitude slower in the pair hot path. */
  def neardupCosine(s: SparkSession, dir: String): DataFrame = {
    val sigs = Tables.embeddings(s, dir)
      .select(col("vec_id"), vecNorm(col("embedding")).as("vn"),
        vecSig(col("embedding"), 4, 64).as("sig"))
    sigs.selectExpr("sig", "vec_id AS da", "vn AS va")
      .join(sigs.selectExpr("sig", "vec_id AS db", "vn AS vb"), "sig")
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
        round(vecDot(col("va"), col("vb")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= 0.35)
      .orderBy("da", "db")
  }



  /** Deterministic k-means over the embedding corpus (Lloyd, 3 assignment
    * rounds, centroids seeded from the fixed-k [[coarseSeeds]] sample) →
    * per-cluster profile — the corpus-clustering step of training-data
    * curation (cluster-balanced sampling / domain discovery).
    *
    * Scale design: assignment is ROW-LOCAL — the k centroids ride into the
    * plan as literals (the broadcast-join limit case: no shuffle, no join,
    * one argmin expression per row), exactly how MLlib's k-means scores
    * after collecting centroids to the driver. Each centroid update is one
    * hash aggregate on narrow (cluster, dim, partial-sum) rows with
    * map-side combine. Per-round centroids are rounded to 6 dp so the
    * floating-point summation order of the update aggregate can never leak
    * into the next round's distances — that makes the whole iteration
    * bit-reproducible cross-engine (distances use the left-to-right
    * vec_dot kernel = DuckDB's list_dot_product order). */
  def embedKmeans(s: SparkSession, dir: String): Held =
    kmeansAssign(s, dir).map(_
      .groupBy(col("cid").as("cluster_id"))
      .agg(count(lit(1)).as("n"),
        round(avg(sqrt(greatest(col("d2"), lit(0.0)))), 4).as("avg_dist"))
      .orderBy("cluster_id"))



  /** Cluster-balanced sampling — the curation step k-means exists for:
    * per cluster, the `perCluster` members nearest the centroid
    * (deterministic order: rounded distance, then vec_id). A keyed window
    * per cluster — partition-parallel, no global sort. */
  def kmeansBalance(s: SparkSession, dir: String,
                    perCluster: Int = 3): Held =
    kmeansAssign(s, dir).map(_
      .withColumn("rnk", row_number().over(
        Window.partitionBy("cid").orderBy(round(col("d2"), 6), col("vec_id"))))
      .filter(col("rnk") <= perCluster)
      .select(col("cid").as("cluster_id"), col("rnk"), col("vec_id"),
        round(sqrt(greatest(col("d2"), lit(0.0))), 4).as("dist"))
      .orderBy("cluster_id", "rnk"))



  /** The literal centroid array expression: k (cid, cv, |cv|²) structs
    * riding into the plan as constants — the broadcast-join limit case
    * (no shuffle, no join; row-local argmin). O(k·dim) literals. */
  protected def centArrOf(cents: Seq[(Long, Array[Double])]) =
    array(cents.map { case (id, cv) =>
      struct(lit(id).as("cid"),
        array(cv.map(lit(_)): _*).as("cv"),
        lit(cv.foldLeft(0.0)((a, x) => a + x * x)).as("c2"))
    }: _*)



  /** Squared L2 distance of row vector `v` (with cached `x2`) to a
    * centroid struct — shared by assignment and probe ranking. */
  protected def centD2(c: org.apache.spark.sql.Column) =
    col("x2") + c("c2") - lit(2.0) * vecDot(col("v"), c("cv"))



  /** Row-local best-centroid assignment of `e` (vec_id, v, x2). */
  protected def assignBest(e: DataFrame,
                         cents: Seq[(Long, Array[Double])]): DataFrame =
    e.withColumn("best", array_min(transform(centArrOf(cents), c =>
        struct(round(centD2(c), 6).as("rd2"), c("cid").as("cid"), centD2(c).as("d2")))))
      .select(col("vec_id"), col("v"),
        col("best.cid").as("cid"), col("best.d2").as("d2"))



  /** Deterministic 2-round Lloyd fit: returns the held, cached
    * (vec_id, v, x2) frame and the refined centroids. Seeds come from [[coarseSeeds]]
    * (O(k) driver state at any SF); each update is one hash aggregate on
    * narrow (cluster, dim, partial-sum) rows; per-round components are
    * rounded to 6 dp so aggregate summation order can never leak into the
    * next round — bit-reproducible cross-engine. */
  protected def kmeansFit(s: SparkSession, dir: String,
                        k: Int = KmeansK): (Held, Seq[(Long, Array[Double])]) = {
    // read once per round; narrow (id, vec, norm) rows
    val e = Held.cached(Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("x2", vecDot(col("v"), col("v"))))
    (e, lloydFit(e.frame, k))
  }



  /** Deterministic 2-round Lloyd over ANY (vec_id, v, x2) frame — shared
    * by the full-vector k-means and the per-subspace PQ training. */
  protected def lloydFit(e: DataFrame, k: Int): Seq[(Long, Array[Double])] = {
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).doubleValue
    var cents: Seq[(Long, Array[Double])] = coarseSeeds(e, k)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray.map(round6)))
      .sortBy(_._1).toSeq
    for (_ <- 1 to 2) {
      val updated = assignBest(e, cents)
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(avg("x").as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(r => round6(r.getDouble(2))).toArray)
        }
      // empty clusters keep their previous centroid (standard Lloyd choice)
      cents = cents.map { case (id, cv) => (id, updated.getOrElse(id, cv)) }
    }
    cents
  }



  /** Final-round (vec_id, cid, d2) assignment shared by the k-means
    * profile and the balanced sampler. */
  protected def kmeansAssign(s: SparkSession, dir: String): Held = {
    val (e, cents) = kmeansFit(s, dir)
    e.map(assignBest(_, cents))
  }



  /** IVF with a TRAINED coarse quantizer — the production billion-scale
    * shape end to end: the fixed-k seeds refined by the deterministic
    * 2-round Lloyd ([[kmeansFit]]), inverted lists = the final L2
    * assignment, probes = each query's `nprobe` nearest refined centroids
    * (row-local ranked literal array — no shuffle), exact cosine re-rank
    * of list members. Differs from [[annIvf]] (raw-seed cells, cosine
    * assignment) exactly the way a trained IVF differs from a random one;
    * both keep O(k) broadcast state and O(N·k) assignment at any SF, with
    * the same corpus-adaptive k/nprobe defaults. */
  def annIvfTrained(s: SparkSession, dir: String,
                    k: Int = -1, nprobe: Int = -1): Held = {
    val n = Tables.embeddings(s, dir).count()
    val kk = if (k > 0) k else adaptiveCoarseK(n)
    val np = if (nprobe > 0) nprobe else adaptiveNprobe(kk)
    val (Held(e, eH), cents) = kmeansFit(s, dir, kk)
    val lists = assignBest(e, cents)
      .select(col("vec_id").as("c_id"), col("cid").as("cent_id"))
    // nprobe nearest refined centroids per query: sort the k-struct literal
    // array by (round(d2, 6), cid) and slice — row-local, engine-replayable
    val probes = e.filter(col("vec_id") < 8)
      .withColumn("pr", slice(array_sort(transform(centArrOf(cents), c =>
        struct(round(centD2(c), 6).as("rd2"), c("cid").as("cid")))), 1, np))
      .select(col("vec_id").as("q_id"), explode(col("pr")).as("p"))
      .select(col("q_id"), col("p.cid").as("cent_id"))
    val vn = Tables.embeddings(s, dir)
      .select(col("vec_id"), vecNorm(col("embedding")).as("vn"))
    Held(probes.join(lists, "cent_id").filter(col("q_id") =!= col("c_id"))
      .join(vn.select(col("vec_id").as("q_id"), col("vn").as("qv")), "q_id")
      .join(vn.select(col("vec_id").as("c_id"), col("vn").as("cv")), "c_id")
      .select(col("q_id"), col("c_id"),
        round(vecDot(col("qv"), col("cv")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos_sim"), asc("c_id"))))
      .filter(col("rnk") <= 3)
      .select("q_id", "rnk", "c_id", "cos_sim")
      .orderBy("q_id", "rnk"), eH)
  }



  /** In-JVM registry of published IVF index roots, keyed by
    * (corpus dir, corpus file signature, publish root). Production
    * similarity search builds its index ONCE and probes many times; the
    * registry gives Verify/Bench that exact shape — the first call
    * (bench's unmeasured warmup) pays build+publish, every later call is
    * probe-only against the committed artifact. The signature keys the
    * cache on corpus CONTENT metadata (file names, lengths, mtimes), so
    * a rewritten corpus at the same path invalidates the entry instead
    * of silently serving a stale index. */
  private val ivfIndexRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()


  /** Corpus signature for the IVF index cache — see
    * [[LlmCore.embeddingsSignature]]. */


  /** Build the trained-IVF index for `dir` and PUBLISH it as a pair of
    * [[graft.plans.SnapshotStore]] tables under one root — `centroids`
    * (O(k·dim) refined Lloyd centroids) and `lists` (O(N) inverted-list
    * rows: member id, cell id, unit vector) — returning the root. The
    * artifact is everything a probe needs: serving requires NO access to
    * the training pipeline, and a rebuild publishes the next version
    * atomically while running probes keep reading the committed one.
    *
    * `publishRoot` (or `spark.graft.index.root`) names the SHARED
    * filesystem location a cluster deployment publishes under — each
    * corpus signature gets its own subdirectory, and an index already
    * committed there (by this or any other driver) is reused without a
    * rebuild. With neither set, the index lands in a driver-local temp
    * directory: correct in local mode (the only place executors share
    * the driver's disk), which is what Verify/Bench run. */
  def ivfIndexPublish(s: SparkSession, dir: String,
                      publishRoot: Option[String] = None): String = {
    val confRoot = s.conf.getOption("spark.graft.index.root")
    val base = publishRoot.orElse(confRoot)
    val sig = embeddingsSignature(s, dir)
    ivfIndexRoots.computeIfAbsent(s"$dir#$sig#${base.getOrElse("")}", _ => {
      val root = base.map(b => s"$b/ivf-$sig").getOrElse(
        java.nio.file.Files.createTempDirectory("graft-ivf-index").toString)
      val committed = // cross-driver reuse: a committed index IS the build
        Seq("centroids", "lists", "codebook", "codes").forall(t =>
          graft.plans.SnapshotStore.latestVersion(s"$root/$t").isDefined)
      if (!committed) {
        val n = Tables.embeddings(s, dir).count()
        val (fit, cents) = kmeansFit(s, dir, adaptiveCoarseK(n))
        val e = fit.frame
        import s.implicits._
        val centDf = cents.map { case (cid, cv) => (cid, cv.toSeq) }
          .toDF("cid", "cv")
        val vn = Tables.embeddings(s, dir)
          .select(col("vec_id"), vecNorm(col("embedding")).as("cvn"))
        val assigned = assignBest(e, cents)
          .select(col("vec_id"), col("cid").as("cent_id"))
        val lists = assigned
          .join(vn, "vec_id")
          .select(col("vec_id").as("c_id"), col("cent_id"), col("cvn"))
        graft.plans.SnapshotStore.publish(centDf, s"$root/centroids", 1L)
        graft.plans.SnapshotStore.publish(lists, s"$root/lists", 1L)
        // PQ side of the artifact: per-subspace codebooks (the first-kcb
        // unit subvectors — O(m·kcb·sub) rows) and each member's m codes
        // riding next to its cell id. The ADC probe path reads ONLY these
        // (id, cell, 4 small ints) rows; full vectors stay in `lists` for
        // the bounded shortlist re-rank.
        val cbSub = pqRawCodebook(s, dir)
        val cbDf = cbSub.zipWithIndex.flatMap { case (cws, j) =>
          cws.map { case (cid, cw) => (j, cid, cw.toSeq) }
        }.toDF("j", "cid", "cw")
        val codes = pqEncode(vn.select(col("vec_id"), col("cvn").as("vn")),
          cbSub)
          .join(assigned, "vec_id")
          .select(col("vec_id").as("c_id") +: col("cent_id") +:
            (0 until PqM).map(j => col(s"c$j")): _*)
        graft.plans.SnapshotStore.publish(cbDf, s"$root/codebook", 1L)
        graft.plans.SnapshotStore.publish(codes, s"$root/codes", 1L)
        fit.release()
      }
      root
    })
  }

  /** Probe-only ANN over the PUBLISHED index — the serving path of
    * [[annIvfTrained]], with no index build anywhere in the plan: the
    * committed centroids come back as an O(k·dim) literal (row-local
    * probe selection, no shuffle), the committed inverted lists are one
    * parquet scan joined on the cell id, and exact cosine re-ranks the
    * list members. Must return byte-identical rows to the inline
    * [[annIvfTrained]] (same oracle SQL checks both). */
  /** INCREMENTAL index maintenance: append new vectors to a published IVF
    * (+PQ) index without retraining — the steady-state path of a serving
    * index (FAISS `add` semantics: quantizers stay fixed, new vectors are
    * assigned to existing cells). Each append:
    *  - assigns the new vectors row-locally against the O(k) centroid
    *    literals (no shuffle),
    *  - ANTI-JOINS against the current lists on vec id, so re-appending
    *    the same batch is IDEMPOTENT (at-least-once ingest safe),
    *  - publishes merged `lists` and `codes` as the NEXT SnapshotStore
    *    version — running probes keep reading the old committed version
    *    until the atomic manifest flip, and `vacuum` reclaims it later.
    * Centroids/codebook tables are untouched (the whole point: no
    * retrain); recall on drifted distributions is the operator's signal
    * to REBUILD, which is `ivfIndexPublish` at the next version.
    * Returns the new lists version. */
  def ivfIndexAppend(s: SparkSession, root: String,
                     newVecs: DataFrame): Long = {
    val cents: Seq[(Long, Array[Double])] =
      graft.plans.SnapshotStore.readLatest(s, s"$root/centroids")
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
    val e = newVecs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("x2", vecDot(col("v"), col("v")))
    val assigned = assignBest(e, cents)
      .select(col("vec_id"), col("cid").as("cent_id"))
    val vn = newVecs.select(col("vec_id"),
      vecNorm(col("embedding")).as("cvn"))
    val lists = graft.plans.SnapshotStore.readLatest(s, s"$root/lists")
    val freshLists = assigned.join(vn, "vec_id")
      .select(col("vec_id").as("c_id"), col("cent_id"), col("cvn"))
      .join(lists.select("c_id"), Seq("c_id"), "left_anti")
    val nextV = graft.plans.SnapshotStore.latestVersion(s"$root/lists")
      .getOrElse(sys.error(s"ivfIndexAppend: no committed index at $root")) + 1
    graft.plans.SnapshotStore.publish(
      lists.unionByName(freshLists), s"$root/lists", nextV)
    // PQ codes: encode against the PUBLISHED codebook (read back O(m·kcb))
    val cbSub: Seq[Seq[(Long, Array[Double])]] =
      graft.plans.SnapshotStore.readLatest(s, s"$root/codebook")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(t => (t._2, t._3)).toSeq)
    val codes = graft.plans.SnapshotStore.readLatest(s, s"$root/codes")
    val freshCodes = pqEncode(vn.select(col("vec_id"), col("cvn").as("vn")), cbSub)
      .join(assigned, "vec_id")
      .select(col("vec_id").as("c_id") +: col("cent_id") +:
        (0 until PqM).map(j => col(s"c$j")): _*)
      .join(codes.select("c_id"), Seq("c_id"), "left_anti")
    // per-table versioning: a crash between the two publishes leaves the
    // tables at different versions, and each next append heals its own
    val nextCodesV = graft.plans.SnapshotStore.latestVersion(s"$root/codes")
      .getOrElse(sys.error(s"ivfIndexAppend: no committed codes at $root")) + 1
    graft.plans.SnapshotStore.publish(
      codes.unionByName(freshCodes), s"$root/codes", nextCodesV)
    nextV
  }

  def annIvfProbePersisted(s: SparkSession, dir: String): DataFrame =
    annIvfProbeFrom(s, dir, ivfIndexPublish(s, dir))



  /** Probe the latest committed index version at `root`. */
  def annIvfProbeFrom(s: SparkSession, dir: String,
                      root: String): DataFrame = {
    val cents: Seq[(Long, Array[Double])] =
      graft.plans.SnapshotStore.readLatest(s, s"$root/centroids")
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
    val np = adaptiveNprobe(cents.size)
    val probes = Tables.embeddings(s, dir)
      .filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("x2", vecDot(col("v"), col("v")))
      .withColumn("pr", slice(array_sort(transform(centArrOf(cents), c =>
        struct(round(centD2(c), 6).as("rd2"), c("cid").as("cid")))), 1, np))
      .select(col("vec_id").as("q_id"), col("v"), explode(col("pr")).as("p"))
      .select(col("q_id"), col("p.cid").as("cent_id"))
    val lists = graft.plans.SnapshotStore.readLatest(s, s"$root/lists")
    val qv = Tables.embeddings(s, dir).filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), vecNorm(col("embedding")).as("qv"))
    probes.join(lists, "cent_id").filter(col("q_id") =!= col("c_id"))
      .join(broadcast(qv), "q_id")
      .select(col("q_id"), col("c_id"),
        round(vecDot(col("qv"), col("cvn")), 4).as("cos_sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("cos_sim"), asc("c_id"))))
      .filter(col("rnk") <= 3)
      .select("q_id", "rnk", "c_id", "cos_sim")
      .orderBy("q_id", "rnk")
  }



  /** Per-label embedding profile: count + mean L2 norm (vec_l2 native
    * expression — same left-to-right accumulation as the SQL `aggregate`). */
  def embedStats(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), vecL2(col("embedding")).as("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), round(avg("nrm"), 4).as("avg_norm"))
      .orderBy("label")



  /** Embedding dimension-correlation diagnostics — the redundancy check a
    * vector pipeline runs before spending PQ codebooks or RP dimensions
    * on correlated axes: Pearson corr for every dimension pair, top-10 by
    * |corr|. ONE PASS: each vector folds its outer-product contributions
    * into an array-valued co-moment partial aggregate
    * ([[graft.functions.EmbedCorrMoments]] — n, Σxᵢ, Σxᵢ², upper-triangle
    * Σxᵢxⱼ; O(d²) mergeable state, a KB at d=64), so the corpus is never
    * multiplied into d(d−1)/2 cell rows per vector and the only shuffle
    * is the O(d²)-double partial-merge. The finished cells apply the
    * identical co-moment formula; corr is rounded BEFORE ranking so
    * sum-order ulps can't flip the reported set. */
  def embedCorr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, dir)
      .select("embedding").as[Seq[Float]]
      .select(new graft.functions.EmbedCorrMoments().toColumn)
      .selectExpr("inline(cells)") // typed select flattens CorrPairs
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        (col("corr") + lit(0.0)).as("corr"))
      .orderBy(abs(col("corr")).desc, col("i"), col("j"))
      .limit(10)
  }

  private val RpDim = 16



  /** Johnson-Lindenstrauss random projection (Achlioptas 2003: ±1 sign
    * matrix) from the native 64-dim embedding down to [[RpDim]] dims, with
    * the norm-concentration audit E[‖y‖²/‖x‖²] = 1 that makes JL usable as
    * the cheap front-end of LSH/ANN at scale. The "matrix" is never
    * materialized anywhere: sign(j,d) is a pure integer hash evaluated
    * inside a row-local codegen'd higher-order expression, so the projection
    * is a ZERO-shuffle map over the corpus — the exact shape you want in
    * front of a 100 TB embedding scan. Inner sums run strictly left-to-right
    * (SQL `aggregate`), so every per-vector ratio is bit-identical to the
    * oracle's `list_reduce` replay. */
  def embedRp(s: SparkSession, dir: String): DataFrame = {
    val dExpr = "zip_with(embedding, sequence(0, size(embedding) - 1), " +
      "(x, d) -> struct(cast(x AS DOUBLE) AS x, d AS d))"
    val sign = "(1 - 2 * (((cast(j AS BIGINT) * 1315423911 + " +
      "cast(e.d AS BIGINT) * 2654435761 + 97) % 2147483647) % 2))"
    Tables.embeddings(s, dir)
      .selectExpr("vec_id",
        s"""transform(sequence(0, ${RpDim - 1}), j ->
           |  aggregate($dExpr, cast(0.0 AS DOUBLE),
           |    (acc, e) -> acc + $sign * e.x)) AS y""".stripMargin,
        "aggregate(embedding, cast(0.0 AS DOUBLE), " +
          "(a, x) -> a + cast(x AS DOUBLE) * cast(x AS DOUBLE)) AS nx")
      .selectExpr(
        s"aggregate(y, cast(0.0 AS DOUBLE), (a, p) -> a + p * p) / $RpDim.0 / nx AS ratio")
      .agg(count(lit(1)).as("n"),
        round(avg("ratio"), 6).as("mean_ratio"),
        round(min("ratio"), 6).as("min_ratio"),
        round(max("ratio"), 6).as("max_ratio"))
  }

  // ----------------------------------------------------------- text analysis



  /** Per-label embedding outliers — mislabeled / corrupt-vector detection
    * for embedding-curation pipelines: every vector's L2 distance to its
    * OWN label's centroid, top-3 farthest per label. Centroids are one
    * position-keyed agg (O(labels·dim) — a broadcast at any corpus size),
    * the distance is row-local, and the ranking window partitions on the
    * label. The flagged vectors are what a curation pass re-labels or
    * drops before contrastive training. */
  def embedOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .selectExpr("vec_id", "label",
        "transform(embedding, x -> cast(x AS double)) AS v")
    val cent = e.select(col("label"), posexplode(col("v")))
      .groupBy("label", "pos").agg(avg("col").as("ci"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, ci))), s -> s.ci)")
        .as("cv"))
    val d = e.join(broadcast(cent), "label")
      .withColumn("dist", round(sqrt(expr(
        "aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)")), 4))
    d.withColumn("rnk", row_number().over(
        Window.partitionBy("label").orderBy(desc("dist"), asc("vec_id"))))
      .filter(col("rnk") <= 3)
      .select("label", "rnk", "vec_id", "dist")
      .orderBy("label", "rnk")
  }



  /** SemDeDup (Abbas et al. 2023): semantic dedup that only compares
    * embeddings WITHIN a k-means cluster — the clustering bounds the
    * pairwise work to Σ|cluster|², the published trick that makes
    * embedding-dedup feasible at corpus scale (vs the corpus-wide
    * all-pairs join). Reuses the deterministic Lloyd assignment
    * ([[embedKmeans]]); a vector is pruned when a lower-id vector in the
    * same cluster has cosine ≥ τ. The pair join shuffles on the cluster
    * id, and clusters above `maxCluster` members are split by a
    * deterministic secondary key (vec_id mod ⌈n/maxCluster⌉ — replayable
    * in the oracle), so the per-group pair fan-out is bounded by
    * ~maxCluster² regardless of how lopsided the clustering comes out —
    * the [[neardupCapped]] treatment applied to embedding space.
    *
    * Split-key trade, made deliberately: an id-modulo split yields a HARD
    * size bound (asserted by the spec) but can sever a near-dup pair
    * across sub-groups (bounded recall loss that shrinks as maxCluster
    * grows); an LSH-signature split (`vecSig mod g`) would co-locate
    * similar vectors and preserve pairs, but identical-vector pile-ups
    * share one signature, so the size bound — the thing the cap exists
    * for — would be lost. At 100 TB prefer the guarantee. */
  def semDedup(s: SparkSession, dir: String, tau: Double = 0.3,
               maxCluster: Int = 40): Held =
    semDedupKeyed(s, dir, maxCluster).map { e =>
      e.select(col("cid"), col("sub"), col("vec_id").as("da"), col("vn").as("va"))
        .join(e.select(col("cid"), col("sub"), col("vec_id").as("db"),
          col("vn").as("vb")), Seq("cid", "sub"))
        .filter(col("da") < col("db"))
        .withColumn("cos_sim", round(vecDot(col("va"), col("vb")), 4))
        .filter(col("cos_sim") >= tau)
        .groupBy(col("db").as("pruned_id"))
        .agg(min("da").as("keeper_id"), max("cos_sim").as("max_cos"))
        .orderBy("pruned_id")
    }



  /** [[semDedup]]'s pair-join key: (cluster, sub-split) per vector, where
    * `sub` partitions clusters above `maxCluster` members into
    * ⌈n/maxCluster⌉ modulo groups. The cluster-size frame is O(k) rows →
    * broadcast join; everything else is the id-keyed joins the assignment
    * already does. */
  private def semDedupKeyed(s: SparkSession, dir: String,
                            maxCluster: Int): Held =
    kmeansAssign(s, dir).map { assigned =>
      val cid = assigned.select("vec_id", "cid")
      val sizes = cid.groupBy("cid").agg(count(lit(1)).as("__n"))
      val nGroups = ceil(col("__n") / lit(maxCluster.toDouble)).cast("long")
      Tables.embeddings(s, dir)
        .select(col("vec_id"), vecNorm(col("embedding")).as("vn"))
        .join(cid, "vec_id")
        .join(broadcast(sizes), "cid")
        .withColumn("sub", when(col("__n") <= maxCluster, lit(0L))
          .otherwise(pmod(col("vec_id"), nGroups)))
        .drop("__n")
    }



  /** Audit view of [[semDedup]]'s pair-join groups: (cid, sub, members).
    * The spec asserts every group stays near `maxCluster`, bounding the
    * within-group quadratic term at any corpus size. */
  def semDedupGroups(s: SparkSession, dir: String,
                     maxCluster: Int = 40): Held =
    semDedupKeyed(s, dir, maxCluster).map(_
      .groupBy("cid", "sub").agg(count(lit(1)).as("n_members")))



  /** SEMANTIC decontamination — the embedding-space member of the
    * decontamination family ([[decontamOverlap]] catches shingle/lexical
    * overlap; this catches PARAPHRASED eval leakage that shares no
    * n-grams): every corpus vector is scored by its max cosine to any
    * eval vector, and the rows clearing the threshold are the flagged
    * contamination with their nearest eval doc as evidence. This contract
    * query stages the eval set by the same `% 97` convention as the
    * shingle decontam (what the oracle replays); the production shape —
    * an EXTERNAL eval set read through scheme dispatch — is the
    * `semantic_decontam` corpus step, which routes the same
    * [[semanticDecontamHeld]]. */
  def semanticDecontam(s: SparkSession, dir: String,
                       threshold: Double = 0.3): Held = {
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    semanticDecontamHeld(
      e.filter(col("vec_id") % 97 =!= 0),
      e.filter(col("vec_id") % 97 === 0), threshold)
  }



  /** Exact semantic decontam over ANY corpus/eval (vec_id, embedding)
    * frames. The eval set broadcasts, so its size is validated against
    * `maxEvalRows` the way [[hardNegativesOf]] validates its query set —
    * a LOUD failure, not a silent executor OOM; an eval set over the
    * bound belongs on the persisted-ANN candidate path
    * ([[semanticDecontamAnn]]), which swaps in without changing the
    * output contract.
    *
    * Scale shape: the validated eval set (≤ maxEvalRows narrow rows) is
    * materialized once and broadcast; the corpus streams
    * partition-parallel with one codegen vec_dot per (corpus, eval)
    * pair, folded by min(struct(-cos, e_id)) — max cosine with a
    * deterministic min-id tie-break, no value buffer, one
    * partial-aggregating shuffle. Its eval-set checkpoint is the handle
    * to release once the flagged rows are materialized (see [[Held]]). */
  def semanticDecontamHeld(corpus: DataFrame, evalVecs: DataFrame,
                           threshold: Double,
                           maxEvalRows: Long = 4096): Held = {
    val ev0 = evalVecs.select(col("vec_id").as("e_id"),
      vecNorm(col("embedding")).as("evn"))
    // ONE bounded materialization answers "empty?", "over the broadcast
    // bound?", AND stages the broadcast rows: limit(max+1) caps the scan,
    // and when the count clears the bound the limit dropped nothing, so
    // the checkpointed frame IS the eval set — the source is never read
    // a second time for the broadcast.
    val ev = ev0.limit(math.min(maxEvalRows + 1, Int.MaxValue.toLong).toInt)
      .localCheckpoint(true)
    val ne = ev.count()
    require(ne > 0, "semantic_decontam: eval set is empty")
    require(ne <= maxEvalRows,
      s"semantic_decontam: eval set has more than $maxEvalRows rows (the " +
        "broadcast bound) — use the persisted-ANN candidate path " +
        "(semanticDecontamAnn) for large eval sets")
    val best = corpus
      .select(col("vec_id"), vecNorm(col("embedding")).as("vn"))
      .crossJoin(broadcast(ev))
      .select(col("vec_id"),
        struct((-round(vecDot(col("vn"), col("evn")), 4)).as("nc"),
          col("e_id")).as("s"))
      .groupBy("vec_id").agg(min("s").as("f"))
    Held(best.select(col("vec_id"), col("f.e_id").as("near_eval"),
        (-col("f.nc")).as("max_cos"))
      .filter(col("max_cos") >= threshold)
      .orderBy("vec_id"), Seq(ev))
  }



  /** The persisted-ANN candidate path of semantic decontam — the shape
    * an UNBOUNDED eval suite (or a 100 TB corpus re-scan) ships: instead
    * of corpus × eval, each eval vector probes its `nprobe` nearest
    * coarse cells of the PUBLISHED IVF index ([[ivfIndexPublish]] — the
    * committed centroids ride in as an O(k·dim) literal, the inverted
    * lists are one parquet scan joined on the cell id), and only list
    * members of probed cells are cosine-scored. Candidate volume is
    * bounded by |eval|·(corpus/k)·nprobe instead of |eval|·corpus; a
    * corpus vector in no probed cell is reported clean (the standard
    * ANN recall trade, tunable via nprobe). Same output contract as
    * [[semanticDecontam]]. */
  def semanticDecontamAnn(s: SparkSession, dir: String,
                          threshold: Double = 0.3): DataFrame = {
    val root = ivfIndexPublish(s, dir)
    val cents: Seq[(Long, Array[Double])] =
      graft.plans.SnapshotStore.readLatest(s, s"$root/centroids")
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toSeq
    val np = adaptiveNprobe(cents.size)
    val probes = Tables.embeddings(s, dir)
      .filter(col("vec_id") % 97 === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("x2", vecDot(col("v"), col("v")))
      .withColumn("pr", slice(array_sort(transform(centArrOf(cents), c =>
        struct(round(centD2(c), 6).as("rd2"), c("cid").as("cid")))), 1, np))
      .select(col("vec_id").as("e_id"), explode(col("pr")).as("p"))
      .select(col("e_id"), col("p.cid").as("cent_id"))
    val lists = graft.plans.SnapshotStore.readLatest(s, s"$root/lists")
      .filter(col("c_id") % 97 =!= 0) // eval members are not corpus rows
    val qv = Tables.embeddings(s, dir).filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("e_id"), vecNorm(col("embedding")).as("evn"))
    val best = probes.join(lists, "cent_id")
      .join(broadcast(qv), "e_id")
      .select(col("c_id").as("vec_id"),
        struct((-round(vecDot(col("evn"), col("cvn")), 4)).as("nc"),
          col("e_id")).as("s"))
      .groupBy("vec_id").agg(min("s").as("f"))
    best.select(col("vec_id"), col("f.e_id").as("near_eval"),
        (-col("f.nc")).as("max_cos"))
      .filter(col("max_cos") >= threshold)
      .orderBy("vec_id")
  }



  /** DuckDB replay of the 3-round deterministic k-means ([[embedKmeans]]):
    * CTE chain c0 -> a1 -> c1 -> a2 -> c2 -> a3, ending at the final
    * assignment `a3(vec_id, v, cid, d2)`. */
  /** The shared Lloyd-fit CTE chain. `limitSql` is the seed-count (a
    * literal for the clustering queries, `(SELECT k FROM kk)` for the
    * adaptive trained-IVF); `pre` prepends extra CTEs (the adaptive `kk`)
    * ahead of `e`. */
  protected def kmeansCtesWith(limitSql: String, pre: String = ""): String = {
    def assignCte(a: String, c: String) =
      s"""$a AS (SELECT vec_id, v, cid, d2
         |  FROM (SELECT e.vec_id, e.v, c.cid,
         |          e.x2 + list_dot_product(c.cv, c.cv)
         |            - 2 * list_dot_product(e.v, c.cv) AS d2
         |        FROM e, $c c)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |    ORDER BY round(d2, 6), cid) = 1)""".stripMargin
    def updateCte(u: String, a: String, cPrev: String, c: String) =
      s"""$u AS (SELECT cid, i, round(avg(v[i]), 6) AS m
         |  FROM $a, unnest(generate_series(1, len(v))) AS t(i)
         |  GROUP BY cid, i),
         | ${c}raw AS (SELECT cid, list(m ORDER BY i) AS cv FROM $u GROUP BY cid),
         | $c AS (SELECT $cPrev.cid, coalesce(${c}raw.cv, $cPrev.cv) AS cv
         |   FROM $cPrev LEFT JOIN ${c}raw USING (cid))""".stripMargin
    s"""WITH ${pre}e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |   list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS x2
       |  FROM embeddings),
       | c0 AS (SELECT vec_id AS cid, list_transform(v, x -> round(x, 6)) AS cv
       |   FROM (SELECT * FROM e ORDER BY $seedOrderSql LIMIT $limitSql)),
       | ${assignCte("a1", "c0")},
       | ${updateCte("u1", "a1", "c0", "c1")},
       | ${assignCte("a2", "c1")},
       | ${updateCte("u2", "a2", "c1", "c2")},
       | ${assignCte("a3", "c2")}""".stripMargin
  }



  /** Fixed-k chain for the clustering queries (k is the [[KmeansK]]
    * hyperparameter, not corpus-derived). */
  private val kmeansCtes: String = kmeansCtesWith(KmeansK.toString)



  /** Shared by `ann_ivf_trained` (inline build+probe) and
    * `ann_probe_persisted` (probe over the published SnapshotStore
    * index): the serving path must be byte-identical to the inline one,
    * so one oracle checks both. */
  private val annIvfTrainedOracle: String =
    s"""${kmeansCtesWith("(SELECT k FROM kk)", pre = s"$adaptiveKCte,\n ")},
      | sq AS (SELECT e.vec_id, c.cid,
      |     e.x2 + list_dot_product(c.cv, c.cv)
      |       - 2 * list_dot_product(e.v, c.cv) AS d2
      |   FROM e, c2 c WHERE e.vec_id < 8),
      | probes AS (SELECT vec_id AS q_id, cid AS cent_id FROM (
      |     SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
      |       ORDER BY round(d2, 6), cid) AS rn FROM sq)
      |   WHERE rn <= (SELECT np FROM kk)),
      | lists AS (SELECT vec_id AS c_id, cid AS cent_id FROM a3),
      | nrm AS (SELECT vec_id,
      |     list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn FROM e),
      | pairs AS (SELECT p.q_id, l.c_id,
      |     round(list_dot_product(a.vn, b.vn), 4) AS cos_sim
      |   FROM probes p JOIN lists l USING (cent_id)
      |     JOIN nrm a ON a.vec_id = p.q_id JOIN nrm b ON b.vec_id = l.c_id
      |   WHERE p.q_id <> l.c_id)
      |SELECT q_id, rnk, c_id, cos_sim FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |    ORDER BY cos_sim DESC, c_id) AS rnk FROM pairs)
      |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin



  /** DuckDB replay of [[annMmrOf]]'s greedy loop, UNROLLED: round r's
    * CTE computes each unpicked candidate's penalty (max pairwise sim to
    * the union of rounds 1..r−1) and takes the per-query argmax — the
    * same join + window argmax the Spark side runs. λ and (1−λ) are
    * interpolated from the one constant (and 1−λ computed as a DOUBLE
    * subtraction in BOTH engines, so the IEEE bits match exactly). */
  private def mmrOracleSql(k: Int, lam: Double, nCand: Int): String = {
    val w = s"$lam::DOUBLE"
    val mu = s"(1.0::DOUBLE - $lam::DOUBLE)"
    val rounds = (2 to k).map { r =>
      val prev = (1 until r).map(i => s"SELECT q_id, c_id FROM s$i")
        .mkString(" UNION ALL ")
      s""",
         | sel$r AS ($prev),
         | pen$r AS (SELECT ps.q_id, ps.a AS c_id, max(ps.sim) AS pen
         |   FROM ps JOIN sel$r sv ON ps.q_id = sv.q_id AND ps.b = sv.c_id
         |   GROUP BY 1, 2),
         | s$r AS (SELECT q_id, $r AS rnk, c_id, rel, round(score, 5) AS score FROM (
         |   SELECT c.q_id, c.c_id, c.rel,
         |     $w * c.rel - $mu * coalesce(p.pen, 0.0) AS score,
         |     row_number() OVER (PARTITION BY c.q_id
         |       ORDER BY $w * c.rel - $mu * coalesce(p.pen, 0.0) DESC,
         |         c.c_id) AS rn
         |   FROM cand c
         |   LEFT JOIN pen$r p ON p.q_id = c.q_id AND p.c_id = c.c_id
         |   LEFT JOIN sel$r sv ON sv.q_id = c.q_id AND sv.c_id = c.c_id
         |   WHERE sv.c_id IS NULL) WHERE rn = 1)""".stripMargin
    }.mkString
    val union = (1 to k).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id,
       |   list_transform(embedding::DOUBLE[],
       |     x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS vn
       |  FROM embeddings),
       | sc AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |   round(list_dot_product(q.vn, c.vn), 4) AS rel, c.vn AS cv
       |   FROM e q, e c WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
       | cand AS (SELECT q_id, c_id, rel, cv FROM (
       |   SELECT *, row_number() OVER (PARTITION BY q_id
       |     ORDER BY rel DESC, c_id) AS rk FROM sc) WHERE rk <= $nCand),
       | ps AS (SELECT a.q_id, a.c_id AS a, b.c_id AS b,
       |   round(list_dot_product(a.cv, b.cv), 4) AS sim
       |   FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.c_id <> b.c_id),
       | s1 AS (SELECT q_id, 1 AS rnk, c_id, rel,
       |   round($w * rel, 5) AS score FROM (
       |   SELECT *, row_number() OVER (PARTITION BY q_id
       |     ORDER BY rel DESC, c_id) AS rn FROM cand) WHERE rn = 1)$rounds
       |SELECT q_id, rnk, c_id, rel, score FROM ($union)
       |ORDER BY q_id, rnk""".stripMargin
  }



  /** Shared ANN oracle blocks — `ann_ndcg` composes them as CTEs so the
    * eval's gold standard and system ranking are THE SAME SQL the
    * individual queries are checked against (no drift possible). */
  private val annTopKSql: String =
    """WITH e AS (SELECT vec_id,
      |   list_transform(embedding::DOUBLE[],
      |     x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS vn
      |  FROM embeddings),
      | sc AS (SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |   round(list_dot_product(q.vn, c.vn), 4) AS cos_sim
      |   FROM e q, e c WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id)
      |SELECT q_id, rnk, c_id, cos_sim FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk
      |  FROM sc)
      |WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin

  private val annLshSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      | w AS (SELECT j, list_transform(generate_series(1, 64), i ->
      |     CASE WHEN ('0x' || substr(md5(CAST(i - 1 AS VARCHAR)), j + 1, 1))::INT % 2 = 0
      |          THEN 1.0 ELSE -1.0 END) AS wv
      |   FROM generate_series(0, 31) AS t(j)),
      | sigv AS (SELECT vec_id, j // 4 AS band,
      |     sum(CASE WHEN list_dot_product(v, wv) >= 0 THEN (1 << (j % 4)) ELSE 0 END)::BIGINT AS sig
      |   FROM e, w GROUP BY vec_id, j // 4),
      | nrm AS (SELECT vec_id,
      |     list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn FROM e),
      | cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS c_id
      |   FROM sigv q JOIN sigv c ON q.band = c.band AND q.sig = c.sig
      |     AND q.vec_id <> c.vec_id
      |   WHERE q.vec_id < 8),
      | sc AS (SELECT cand.q_id, cand.c_id,
      |     round(list_dot_product(a.vn, b.vn), 4) AS cos_sim
      |   FROM cand JOIN nrm a ON cand.q_id = a.vec_id
      |             JOIN nrm b ON cand.c_id = b.vec_id)
      |SELECT q_id, rnk, c_id, cos_sim FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk
      |  FROM sc)
      |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin



  protected val PqM = 4       // subspaces

  protected val PqSub = 16    // dims per subspace (64-dim embeddings)

  protected val PqKcb = 8     // codewords per subspace




  /** The raw first-kcb PQ codebook over UNIT vectors: per subspace j, the
    * j-th slices of the first kcb normalized embeddings. Deterministic and
    * SF-stable — the same quantizer [[annIvfPq]] uses. */
  protected def pqRawCodebook(s: SparkSession,
                            dir: String): Seq[Seq[(Long, Array[Double])]] = {
    val cbVecs = Tables.embeddings(s, dir)
      .select(col("vec_id"), vecNorm(col("embedding")).as("vn"))
      .filter(col("vec_id") < PqKcb)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    (0 until PqM).map(j => cbVecs.map { case (cid, v) =>
      (cid, v.slice(j * PqSub, (j + 1) * PqSub)) })
  }




  /** Row-local PQ encoding of a (vec_id, vn) frame: adds columns c0..c{m-1}
    * = nearest-codeword id per subspace, ties on (round(d2,6), cid). */
  protected def pqEncode(vecs: DataFrame,
                       cbSub: Seq[Seq[(Long, Array[Double])]]): DataFrame =
    (0 until PqM).foldLeft(vecs) { (df, j) =>
      val cbArr = array(cbSub(j).map { case (cid, cv) =>
        struct(lit(cid).as("cid"),
          array(cv.map(lit(_)).toIndexedSeq: _*).as("cv"),
          lit(cv.foldLeft(0.0)((a, x) => a + x * x)).as("c2"))
      }: _*)
      val sv = slice(col("vn"), j * PqSub + 1, PqSub)
      def d2(c: org.apache.spark.sql.Column) =
        vecDot(sv, sv) + c("c2") - lit(2.0) * vecDot(sv, c("cv"))
      df.withColumn(s"c$j", array_min(transform(cbArr, c =>
        struct(round(d2(c), 6).as("rd2"), c("cid").as("cid"))))
        .getField("cid"))
    }




  /** DuckDB oracle SQL for this family's contract queries. */
  protected val annOracles: Map[String, String] = Map(
    "ann_mmr" -> mmrOracleSql(k = 5, lam = 0.7, nCand = 12),
    "ann_topk" -> annTopKSql,
    "ann_ndcg" ->
      s"""WITH sys AS ($annLshSql),
         | gold AS (SELECT q_id, c_id FROM ($annTopKSql) WHERE rnk <= 3),
         | per AS (SELECT g.q_id,
         |   sum(CASE WHEN s.rnk IS NOT NULL THEN 1 ELSE 0 END) / 3.0 AS recall,
         |   coalesce(max(CASE WHEN s.rnk IS NOT NULL
         |     THEN 1.0 / s.rnk END), 0.0) AS rr,
         |   coalesce(sum(CASE WHEN s.rnk IS NOT NULL
         |     THEN 1.0 / log2(s.rnk + 1.0) END), 0.0) AS dcg
         |  FROM gold g LEFT JOIN sys s ON s.q_id = g.q_id AND s.c_id = g.c_id
         |  GROUP BY g.q_id)
         |SELECT count(*)::BIGINT AS n_queries,
         | round(avg(recall), 6) AS recall_at_3,
         | round(avg(rr), 6) AS mrr,
         | round(avg(dcg / (1.0 / log2(2.0) + 1.0 / log2(3.0) + 1.0 / log2(4.0))), 6)
         |   AS ndcg_at_3
         |FROM per""".stripMargin,
    "hard_negatives" ->
      """WITH e AS (SELECT vec_id, label,
        |   list_transform(embedding::DOUBLE[],
        |     x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS vn
        |  FROM embeddings),
        | sc AS (SELECT q.vec_id AS q_id, q.label AS ql, c.vec_id AS c_id,
        |   c.label AS cl, round(list_dot_product(q.vn, c.vn), 4) AS cos_sim
        |   FROM e q, e c WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
        | pos AS (SELECT q_id, c_id AS pos_id, cos_sim AS pos_cos FROM (
        |   SELECT *, row_number() OVER (PARTITION BY q_id
        |     ORDER BY cos_sim DESC, c_id) AS rnk FROM sc WHERE ql = cl)
        |   WHERE rnk = 1),
        | neg AS (SELECT q_id, c_id AS neg_id, cos_sim AS neg_cos FROM (
        |   SELECT *, row_number() OVER (PARTITION BY q_id
        |     ORDER BY cos_sim DESC, c_id) AS rnk FROM sc WHERE ql <> cl)
        |   WHERE rnk = 1)
        |SELECT q_id, pos_id, pos_cos, neg_id, neg_cos
        |FROM pos JOIN neg USING (q_id) ORDER BY q_id""".stripMargin,
    "ann_lsh" -> annLshSql,
    "ann_ivf" ->
      s"""WITH $adaptiveKCte,
        | e AS (SELECT vec_id,
        |   list_transform(embedding::DOUBLE[],
        |     x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS vn
        |  FROM embeddings),
        | c AS (SELECT vec_id AS cent_id, vn AS cv
        |   FROM (SELECT * FROM e ORDER BY $seedOrderSql LIMIT (SELECT k FROM kk))),
        | sc AS (SELECT e.vec_id, c.cent_id,
        |     round(list_dot_product(e.vn, c.cv), 6) AS d FROM e, c),
        | a AS (SELECT vec_id, cent_id,
        |     row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cent_id) AS rn
        |   FROM sc),
        | lists AS (SELECT vec_id AS c_id, cent_id FROM a WHERE rn = 1),
        | probes AS (SELECT vec_id AS q_id, cent_id FROM a
        |   WHERE vec_id < 8 AND rn <= (SELECT np FROM kk)),
        | pairs AS (SELECT p.q_id, l.c_id,
        |     round(list_dot_product(q.vn, cand.vn), 4) AS cos_sim
        |   FROM probes p JOIN lists l USING (cent_id)
        |     JOIN e q ON q.vec_id = p.q_id JOIN e cand ON cand.vec_id = l.c_id
        |   WHERE p.q_id <> l.c_id)
        |SELECT q_id, rnk, c_id, cos_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id) AS rnk
        |  FROM pairs)
        |WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,
    "neardup_cosine" ->
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
        | pairs AS (SELECT a.vec_id AS da, b.vec_id AS db,
        |     round(list_dot_product(a.vn, b.vn), 4) AS cos_sim
        |   FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id)
        |SELECT da, db, cos_sim FROM pairs WHERE cos_sim >= 0.35 ORDER BY da, db""".stripMargin,
    "embed_corr" ->
      """WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
        | p AS (SELECT i, j, v[i + 1] AS xi, v[j + 1] AS xj FROM e,
        |   unnest(generate_series(0, 62)) AS a(i),
        |   unnest(generate_series(0, 63)) AS b(j)
        |   WHERE j > i),
        | g AS (SELECT i, j, count(*)::BIGINT AS n, sum(xi) AS sx,
        |   sum(xj) AS sy, sum(xi * xj) AS sxy, sum(xi * xi) AS sxx,
        |   sum(xj * xj) AS syy FROM p GROUP BY i, j)
        |SELECT i::BIGINT AS i, j::BIGINT AS j,
        | round((n * sxy - sx * sy) /
        |   sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0.0 AS corr
        |FROM g ORDER BY abs(round((n * sxy - sx * sy) /
        |   sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)) DESC, i, j
        |LIMIT 10""".stripMargin,
    "embed_rp" ->
      s"""WITH x AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         | p AS (SELECT vec_id,
         |   list_transform(range(0, $RpDim), j ->
         |     list_reduce(list_transform(e, (v, i) ->
         |       (1 - 2 * (((j * 1315423911 + (i - 1) * 2654435761 + 97)
         |          % 2147483647) % 2)) * v), (a, b) -> a + b)) AS y,
         |   list_reduce(list_transform(e, (v, i) -> v * v), (a, b) -> a + b) AS nx
         |  FROM x),
         | r AS (SELECT vec_id,
         |   list_reduce(list_transform(y, v -> v * v), (a, b) -> a + b)
         |     / $RpDim.0 / nx AS ratio FROM p)
         |SELECT count(*)::BIGINT AS n, round(avg(ratio), 6) AS mean_ratio,
         | round(min(ratio), 6) AS min_ratio, round(max(ratio), 6) AS max_ratio
         |FROM r""".stripMargin,
    "embed_stats" ->
      """SELECT label, count(*) AS n,
        | round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4) AS avg_norm
        |FROM embeddings GROUP BY label ORDER BY label""".stripMargin,
    "embed_kmeans" ->
      s"""$kmeansCtes
         |SELECT cid AS cluster_id, count(*)::BIGINT AS n,
         | round(avg(sqrt(greatest(d2, 0))), 4) AS avg_dist
         |FROM a3 GROUP BY cid ORDER BY cluster_id""".stripMargin,
    "kmeans_balance" ->
      s"""$kmeansCtes,
         | r AS (SELECT cid, vec_id, d2,
         |   row_number() OVER (PARTITION BY cid
         |     ORDER BY round(d2, 6), vec_id) AS rnk FROM a3)
         |SELECT cid AS cluster_id, rnk::INTEGER AS rnk, vec_id,
         | round(sqrt(greatest(d2, 0)), 4) AS dist
         |FROM r WHERE rnk <= 3 ORDER BY cluster_id, rnk""".stripMargin,
    "ann_ivf_trained" -> annIvfTrainedOracle,
    // the persisted probe must return byte-identical rows to the inline
    // trained IVF — ONE oracle checks both, which is the whole point,
    // the persisted probe must return byte-identical rows to the inline
    // trained IVF — ONE oracle checks both, which is the whole point,
    // the persisted probe must return byte-identical rows to the inline
    // trained IVF — ONE oracle checks both, which is the whole point,
    // the persisted probe must return byte-identical rows to the inline
    // trained IVF — ONE oracle checks both, which is the whole point
    "ann_probe_persisted" -> annIvfTrainedOracle,
    "semdedup" ->
      s"""$kmeansCtes,
        | sz AS (SELECT cid, count(*) AS n FROM a3 GROUP BY cid),
        | sd AS (SELECT a3.vec_id, a3.cid,
        |     CASE WHEN n <= 40 THEN 0
        |          ELSE a3.vec_id % CAST(ceil(n / 40.0) AS BIGINT) END AS sub,
        |     list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
        |   FROM a3 JOIN sz USING (cid)),
        | pr AS (SELECT a.vec_id AS da, b.vec_id AS db,
        |     round(list_dot_product(a.vn, b.vn), 4) AS cos_sim
        |   FROM sd a JOIN sd b ON a.cid = b.cid AND a.sub = b.sub
        |     AND a.vec_id < b.vec_id)
        |SELECT db AS pruned_id, min(da) AS keeper_id, max(cos_sim) AS max_cos
        |FROM pr WHERE cos_sim >= 0.3 GROUP BY db ORDER BY pruned_id""".stripMargin,
    "semantic_decontam" ->
      """WITH e AS (SELECT vec_id,
        |     list_transform(embedding::DOUBLE[], x -> x) AS v
        |   FROM embeddings),
        | n AS (SELECT vec_id,
        |     list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
        |   FROM e),
        | ev AS (SELECT vec_id AS e_id, vn AS evn FROM n
        |   WHERE vec_id % 97 = 0),
        | c AS (SELECT vec_id, vn FROM n WHERE vec_id % 97 <> 0),
        | p AS (SELECT c.vec_id, ev.e_id,
        |     round(list_dot_product(c.vn, ev.evn), 4) AS cos
        |   FROM c, ev),
        | m AS (SELECT vec_id,
        |     min(struct_pack(nc := -cos, e_id := e_id)) AS f FROM p
        |   GROUP BY vec_id)
        |SELECT vec_id, f.e_id AS near_eval, -f.nc AS max_cos
        |FROM m WHERE -f.nc >= 0.3 ORDER BY vec_id""".stripMargin,
    "semantic_decontam_ann" ->
      s"""${kmeansCtesWith("(SELECT k FROM kk)", pre = s"$adaptiveKCte,\n ")},
        | sq AS (SELECT e.vec_id, c.cid,
        |     e.x2 + list_dot_product(c.cv, c.cv)
        |       - 2 * list_dot_product(e.v, c.cv) AS d2
        |   FROM e, c2 c WHERE e.vec_id % 97 = 0),
        | probes AS (SELECT vec_id AS e_id, cid AS cent_id FROM (
        |     SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |       ORDER BY round(d2, 6), cid) AS rn FROM sq)
        |   WHERE rn <= (SELECT np FROM kk)),
        | lists AS (SELECT vec_id AS c_id, cid AS cent_id FROM a3
        |   WHERE vec_id % 97 <> 0),
        | nrm AS (SELECT vec_id,
        |     list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
        |   FROM e),
        | cand AS (SELECT l.c_id AS vec_id,
        |     min(struct_pack(nc := -round(list_dot_product(a.vn, b.vn), 4),
        |                     e_id := p.e_id)) AS f
        |   FROM probes p JOIN lists l USING (cent_id)
        |     JOIN nrm a ON a.vec_id = p.e_id JOIN nrm b ON b.vec_id = l.c_id
        |   GROUP BY l.c_id)
        |SELECT vec_id, f.e_id AS near_eval, -f.nc AS max_cos
        |FROM cand WHERE -f.nc >= 0.3 ORDER BY vec_id""".stripMargin,
    "embed_outliers" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |   FROM embeddings),
        | c AS (SELECT label, i, avg(v[i]) AS ci
        |   FROM e, unnest(generate_series(1, 64)) AS u(i) GROUP BY label, i),
        | cent AS (SELECT label, list(ci ORDER BY i) AS cv FROM c GROUP BY label),
        | d AS (SELECT e.vec_id, e.label,
        |   round(sqrt(list_sum(list_transform(generate_series(1, 64),
        |     i -> (v[i] - cv[i]) * (v[i] - cv[i])))), 4) AS dist
        |   FROM e JOIN cent USING (label)),
        | r AS (SELECT *, row_number() OVER (PARTITION BY label
        |     ORDER BY dist DESC, vec_id) AS rnk FROM d)
        |SELECT label, rnk, vec_id, dist FROM r WHERE rnk <= 3
        |ORDER BY label, rnk""".stripMargin)
}

