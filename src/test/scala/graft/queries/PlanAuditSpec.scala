package graft.queries

import graft.SparkSpec
import graft.plans.Held

/** Physical-plan audits: the properties that make these plans survive a
  * 100× scale-up are asserted, not assumed — filter/column pushdown to the
  * parquet scan, broadcast joins on dim sides, map-side partial
  * aggregation, keyed (never global) windows, whole-stage codegen.
  * A regression that silently turns one of these into a scan-everything /
  * shuffle-everything plan fails here long before a benchmark notices. */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** The plan a held query's checkpoint runs; what it persisted while it
    * was built is released. */
  private def plan(h: Held): String = try plan(h.frame) finally h.release()

  behavior of "query plans"

  it should "push filters and prune columns at the scan (filter_project)" in {
    val p = plan(Relational.filterProject(spark, dir))
    p should include ("PushedFilters")
    p should include ("o_orderstatus")
    // pruned read schema: only the 3 needed columns reach the scan
    p.linesIterator.filter(_.contains("ReadSchema")).mkString should
      (include ("o_orderkey") and include ("o_totalprice") and
        not include "o_orderdate")
  }

  it should "broadcast the dim side of the q3 join" in {
    val p = plan(Relational.topRevenueOrders(spark, dir))
    p should include ("BroadcastHashJoin")
  }

  it should "aggregate partially (map-side combine) in q1" in {
    val p = plan(Relational.pricingSummary(spark, dir))
    // two HashAggregates around the shuffle = map-side partial + final merge
    // (codegen ids only appear after AQE finalizes the plan at execution,
    // so whole-stage codegen isn't assertable from the static explain)
    "HashAggregate".r.findAllIn(p).size should be >= 2
  }

  it should "partition every window on a key in dwell/sessionize" in {
    plan(Relational.windowDwell(spark, dir)) should not include "SinglePartition"
    plan(Relational.sessionize(spark, dir)) should not include "SinglePartition"
  }

  it should "keep the LSH ANN join keyed on the signature, never a cross join" in {
    val p = plan(LlmData.annLsh(spark, dir))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  it should "semi-join the candidate docs in minhash verify" in {
    val p = plan(LlmData.dedupMinhash(spark, dir))
    p should include ("LeftSemi")
  }

  it should "compute exact ntile without a single-partition window" in {
    // the lazy form: the query's own result is a checkpoint scan
    val q = Relational.ntileBins(spark, dir)
    val p = try plan(q.frame) finally q.release()
    p should include ("rangepartitioning")
    p should not include "SinglePartition"
    p should not include "Window" // rank comes from range sort + offsets
  }

  it should "keep the preprocess chain row-local (no shuffle before the sort)" in {
    val p = plan(TextOpsPack.preprocessChain(spark, dir))
    // one exchange only: the final deterministic ORDER BY (range partition)
    "Exchange".r.findAllIn(p).size should be <= 2
    p should not include "CartesianProduct"
  }

  it should "push the doc filter into skip-gram/ngram scans" in {
    val p = plan(TextOpsPack.skipgramStats(spark, dir))
    p.linesIterator.filter(_.contains("ReadSchema")).mkString should
      (include ("text") and not include "lang")
  }

  it should "run the vector kernels as native expressions, not UDFs" in {
    // ScalaUDF in the pair loop would mean per-row boxing at 100 TB scale
    Seq(Held(LlmData.annLsh(spark, dir)), LlmData.annIvf(spark, dir),
      Held(LlmData.neardupCosine(spark, dir)), Held(LlmData.embedStats(spark, dir)),
      LlmData.annSq8(spark, dir))
      .foreach { q =>
        val p = try q.frame.queryExecution.optimizedPlan.toString finally q.release()
        p should not include "UDF"
        p.toLowerCase should include ("vec_") // vec_norm / vec_dot / vec_sig
      }
  }

  it should "broadcast the bounded query side of the brute-force ANN joins" in {
    // both sides of the q×corpus cross join read the SAME scan, so size
    // stats tie and Spark may broadcast the corpus side — fine at test SF,
    // impossible at 100 TB. The explicit hint pins the q (vec_id < 8)
    // side; this asserts the BroadcastExchange actually carries it.
    Seq(Held(LlmData.annTopK(spark, dir)), LlmData.annSq8(spark, dir)).foreach { q =>
      val p = plan(q)
      val bcastBlock = p.split("\\n\\(\\d+\\) ")
        .filter(b => b.startsWith("BroadcastExchange"))
      bcastBlock should not be empty
      // the broadcast input schema is the query side (q_id/qv), never the
      // corpus side (c_id/cv)
      bcastBlock.foreach { b =>
        b should include ("q_id")
        b should not include "c_id"
      }
    }
  }

  it should "keep IVF assignment broadcast and probe join keyed on the cell" in {
    val p = plan(LlmData.annIvf(spark, dir))
    p should include ("BroadcastNestedLoopJoin") // O(k) centroid set × corpus
    // the broadcast side is a top-k limit — bounded at ANY corpus size, not
    // a corpus fraction (the former vec_id % 97 seeding grew O(N))
    p should include ("TakeOrderedAndProject")
    p should not include "SinglePartition"       // assignment window is per-vector
  }

  it should "bound the IVF codebook broadcast in actual rows, per the √N rule" in {
    // not a plan-shape vibe: count the seed rows the broadcast carries and
    // check they equal the adaptive k for this corpus — and that the rule's
    // cap keeps the row bound finite at any N
    val e = graft.Tables.embeddings(spark, dir).select("vec_id")
    val n = e.count()
    val k = LlmData.adaptiveCoarseK(n)
    LlmData.coarseSeeds(e, k).count() shouldBe k.toLong
    k should be <= LlmData.MaxCoarseK
    LlmData.adaptiveCoarseK(Long.MaxValue) should be <= LlmData.MaxCoarseK
  }

  it should "keep the trained-IVF probe ranking row-local and joins keyed" in {
    // probes rank against the literal centroid array (no shuffle, no join);
    // everything wide is an id- or cell-keyed equi-join
    val p = plan(LlmData.annIvfTrained(spark, dir))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    p should not include "SinglePartition"
  }

  it should "prune the blob column in metadata-only multimodal plans" in {
    val p = MultimodalPack.mediaMeta(spark, dir)
      .queryExecution.optimizedPlan.toString
    p should not include "content"
  }

  it should "have no unpartitioned window in ANY driver-contract query" in {
    // An empty partitionSpec serializes the whole input through one task —
    // the single worst scale hazard a plan can silently acquire. Sweep every
    // SparkEntry query so a new/edited query can't reintroduce one. Each
    // query is read in its lazy form, through the plans its caches hold;
    // only a checkpoint (LogicalRDD) still hides the plan that made it.
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def nodes(p: LogicalPlan): Seq[LogicalPlan] = p.flatMap {
      case r: InMemoryRelation => r +: nodes(r.cacheBuilder.logicalPlan)
      case n => Seq(n)
    }
    val plans = graft.SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val q = graft.SparkEntry.lazyQuery(name, spark, dir)
      try name -> nodes(q.frame.queryExecution.optimizedPlan) finally q.release()
    }
    plans.collect { case (name, ns) if ns.exists {
      case w: LWindow => w.partitionSpec.isEmpty
      case _ => false
    } => name } shouldBe empty
    // the checkpoints left are per-round lineage cuts of iterative
    // queries, the bounded eval/query sets staged for a broadcast, and one
    // RDD-built sample; a new one hides plan from this sweep
    plans.collect { case (name, ns) if ns.exists(_.isInstanceOf[LogicalRDD]) =>
      name } shouldBe Seq("ann_mmr", "hard_negatives", "label_prop", "pagerank",
      "semantic_decontam", "stratified_counts", "unigram_lm_apply",
      "unigram_lm_train")
  }

  it should "compact latest-by-key through aggregation, never a per-key sort window" in {
    val p = plan(EventOpsPack.latestByKey(spark, dir))
    p should not include "Window"
    // partial + final aggregate pair around the shuffle: the exchange
    // carries one row per key, not one per event
    "Aggregate".r.findAllIn(p).size should be >= 2
  }

  it should "extract JSON row-locally with the final agg as the only wide stage" in {
    val p = plan(EventOpsPack.jsonExtractAgg(spark, dir))
    p should not include "CartesianProduct"
    // agg shuffle + output range sort only (formatted explain lists every
    // node twice: once in the tree, once in the details section)
    "Exchange".r.findAllIn(p).size should be <= 4
  }

  it should "block the fuzzy Levenshtein join on equi-keys, never all-pairs" in {
    val p = plan(LlmData.fuzzyPairs(spark, dir))
    p should not include "CartesianProduct"
    // the only nested-loop joins are the broadcast ONE-ROW offset staging
    // crossJoins (same pattern as dedup_normalized); the prefix/suffix
    // blocks themselves must be hash-keyed joins
    p should include ("levenshtein")
  }

  it should "chunk documents row-locally (one generator, no pre-sort shuffle)" in {
    val p = plan(LlmData.docChunk(spark, dir))
    p should not include "CartesianProduct"
    p should include ("Generate") // the sequence/explode generator
    // only the output range sort exchanges (formatted explain lists each
    // node twice: tree + details)
    "Exchange".r.findAllIn(p).size should be <= 2
  }

  it should "key the semdedup pair join on the cluster id" in {
    val p = plan(LlmData.semDedup(spark, dir))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  it should "profile duplicated spans through hash-keyed joins only" in {
    val p = plan(LlmData.dupSegments(spark, dir))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  it should "score DSIR weights with token-keyed shuffles and a 1-row total broadcast" in {
    val p = plan(LlmData.dsirWeights(spark, dir))
    p should not include "CartesianProduct"
    // the totals row rides a broadcast; the vocab join must stay keyed
    "HashAggregate".r.findAllIn(p).size should be >= 2
  }

  it should "inject a runtime bloom filter into the fact side of a selective join" in {
    // At 100 TB the win isn't the join algorithm, it's never shuffling the
    // fact rows that can't match: Spark's InjectRuntimeFilter builds a
    // bloom filter from the selective dim side and applies it as a
    // `might_contain` semi-filter on the fact scan. The thresholds are
    // sized for real clusters, so pin them down to observe the rewrite at
    // test scale — the assertion is that our join shapes remain eligible.
    val conf = spark.conf
    val pinned = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = pinned.keys.map(k => k -> conf.getOption(k)).toMap
    try {
      pinned.foreach { case (k, v) => conf.set(k, v) }
      val o = graft.Tables.orders(spark, dir)
        .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "F")
      val li = graft.Tables.lineitem(spark, dir)
      val p = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .queryExecution.optimizedPlan.toString
      p should include ("might_contain")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  it should "let AQE split a skewed join partition at runtime" in {
    // Salting (salted_join_agg) is the manual skew mitigation; the modern
    // default is AQE's OptimizeSkewedJoin splitting oversized partitions.
    // The thresholds are sized for real clusters, so pin them down to
    // observe the rewrite at test scale — the assertion is that our
    // sort-merge join shape stays eligible for it.
    import spark.implicits._
    val conf = spark.conf
    val pinned = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = pinned.keys.map(k => k -> conf.getOption(k)).toMap
    try {
      pinned.foreach { case (k, v) => conf.set(k, v) }
      // one hot key carrying ~98% of the fact rows
      val fact = (1 to 50000).map(i => (if (i <= 49000) 0L else (i % 50 + 1).toLong,
        s"payload_$i")).toDF("k", "v")
      val dim = (0 to 51).map(i => (i.toLong, s"dim_$i")).toDF("k", "d")
      val joined = fact.join(dim, "k")
      // execute THIS QueryExecution (count() would plan its own aggregate,
      // and foreach/rdd builds a fresh one) so AQE finalizes the join
      joined.collect()
      val finalPlan = joined.queryExecution.executedPlan.toString
      finalPlan should include ("isFinalPlan=true")
      finalPlan should include ("skew=true")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  it should "compute the as-of join with keyed windows only" in {
    val p = plan(Relational.asofJoin(spark, dir))
    p should not include "CartesianProduct"
    p should not include "SinglePartition"
  }

  it should "run CUSUM as user-keyed windows over one broadcast moment row" in {
    val p = plan(AnalyticsPack.cusumAlerts(spark, dir))
    p should not include "CartesianProduct"
    p should include ("hashpartitioning(user_id")
  }

  it should "fold the CMS grid with map-side partial aggregation" in {
    val p = plan(AnalyticsPack.cmsEstErr(spark, dir))
    // sketch build: partial + final HashAggregate around one exchange;
    // the estimate probe joins the broadcast 4×1024 grid
    "HashAggregate".r.findAllIn(p).size should be >= 2
    p should include ("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  it should "project JL embeddings row-locally (agg is the only wide stage)" in {
    val p = plan(LlmData.embedRp(spark, dir))
    p should not include "CartesianProduct"
    p should not include "Window"
    // one exchange: the final one-row moment aggregate
    "Exchange".r.findAllIn(p).size should be <= 2
  }

  it should "fold embed_corr into one co-moment aggregate with no explode" in {
    val p = plan(LlmData.embedCorr(spark, dir))
    // single array-valued partial aggregate (EmbedCorrMoments): partial +
    // final around one O(d²)-double exchange; the ONLY Generate is the
    // 1-row inline() unnesting the finished cells — the corpus itself is
    // never multiplied into per-pair rows before aggregation
    p.toLowerCase should include ("embedcorrmoments")
    "Aggregate".r.findAllIn(p).size should be >= 2 // partial + final
    // formatted mode prints each node twice (tree + details): one
    // Generate node = 2 matches; an explode-before-agg would add more
    "Generate".r.findAllIn(p).size should be <= 2
    p should not include "CartesianProduct"
  }

  it should "take the concurrency peak via TakeOrdered, never a global sort" in {
    val p = plan(AnalyticsPack.peakConcurrency(spark, dir))
    p should include ("TakeOrderedAndProject")
    p should not include "CartesianProduct"
  }

  it should "prune the isotonic scan to the score/label columns" in {
    val p = plan(MetricsPack.isotonicCalibration(spark, dir))
    p.linesIterator.filter(_.contains("ReadSchema")).mkString should
      (include ("o_totalprice") and include ("o_orderstatus")
        and not include "o_orderdate")
    p should not include "CartesianProduct"
  }

  it should "push the KMV bottom-k as a WindowGroupLimit before the exchange" in {
    val p = plan(AnalyticsPack.kmvEstErr(spark, dir))
    // each task keeps only k rows per group pre-shuffle — the property
    // that bounds the window stage at O(groups·k·partitions) rows
    p should include ("WindowGroupLimit")
    p should not include "CartesianProduct"
  }

  it should "broadcast the Bloom bit set so the probe side never shuffles for it" in {
    val p = plan(AnalyticsPack.bloomFilter(spark, dir))
    p should include ("BroadcastHashJoin")
    p should not include "CartesianProduct"
    // the bit-set build aggregates partially (distinct = partial + final)
    "HashAggregate".r.findAllIn(p).size should be >= 2
  }

  it should "probe the decontam Bloom set by broadcast with the exact verify a semi-join" in {
    val p = plan(LlmData.decontamBloom(spark, dir))
    p should include ("BroadcastHashJoin")
    p should include ("LeftSemi")
    p should not include "CartesianProduct"
  }

  it should "compute the z-order value row-locally and bucket without a global window" in {
    val p = plan(Relational.zorderLayout(spark, dir))
    p should not include "SinglePartition"
    p should not include "CartesianProduct"
    p should not include "Window" // exact ntile rides the two-pass ranks
  }

  it should "collapse the interpolated weighted-percentile knots before the flank aggregates" in {
    val p = plan(Relational.weightedPercentilesInterp(spark, dir))
    // equal values collapse in a partial+final aggregate; no cartesian,
    // no single-partition window anywhere in the knot machinery
    "HashAggregate".r.findAllIn(p).size should be >= 2
    p should not include "CartesianProduct"
    p should not include "SinglePartition"
  }
}
