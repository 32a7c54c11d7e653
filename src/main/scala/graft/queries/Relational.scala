package graft.queries

import graft.Tables
import graft.plans.Held
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational surface (SURVEY §2.2/§2.3): scans with pushdown,
  * filters/projections, hash aggregates, equi/semi/anti joins (broadcast
  * where one side is a dim table), set ops, rollup, window functions,
  * top-k, sessionization.
  *
  * Scale notes (100 TB): every query here is a declarative plan — filters
  * and projections reach the parquet scan (PushedFilters/ReadSchema),
  * dim-side joins use `broadcast(...)` so the fact table never shuffles for
  * them, aggregations are partial (map-side combine) by construction, and
  * window functions partition on high-cardinality keys (user_id), never a
  * single global partition — `ntile_bins` computes its exact global
  * ranking with the two-pass range-sort scheme in plans.GlobalRank (its
  * approximate scale path is approxQuantile → Bucketizer; see the binning
  * operators in the feature-generation package).
  */
object Relational extends QueryPack {

  /** TPC-H Q1 flavor: pruned scan + partial agg. Ref: FlashML delegates all
    * ad-hoc SQL to Spark (dal/DataReader.scala:105-120). */
  def pricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3 flavor: 3-way join + top-k. customer scales with SF — no
    * broadcast hint even filtered (1/5 of customers is still fact-scale at
    * 100 TB); under the 64MB threshold AQE broadcasts it on its own. */
  def topRevenueOrders(s: SparkSession, dir: String): DataFrame = {
    val cut = to_timestamp(lit("2000-01-01 00:00:00"))
    Tables.lineitem(s, dir).filter(col("l_shipdate") > cut)
      .join(Tables.orders(s, dir).filter(col("o_orderdate") < cut), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING"),
        col("o_custkey") === col("c_custkey"))
      // o_date as a STRING 'yyyy-MM-dd' on both sides: date values render
      // differently across Spark/DuckDB/pandas and would fail the hash.
      .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .select("l_orderkey", "revenue", "o_date")
      .orderBy(desc("revenue"), asc("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 flavor: 6-way star join; FIXED-size dims (nation 25, region
    * 5) broadcast, single shuffle for the final agg. */
  def regionRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      // supplier and customer GROW with SF (supplier is small only at test
      // scale) — no broadcast hints; the 64MB autoBroadcastJoinThreshold /
      // AQE decide per actual size.
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(s, dir),
        col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")

  /** customFilter + projection (ref: dal/DataReader.scala:128-141) —
    * both reach the parquet scan. */
  def filterProject(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 100000.0)
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("o_price"))
      .orderBy("o_orderkey")

  /** Exact distinct aggregation (ref pattern: distinct visitor counts,
    * WebCustomMetricsEvaluator.scala:126). */
  def distinctCounts(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderstatus")

  /** Left-semi join = EXISTS (scale path for the reference's collected
    * isin() lists, Publish.scala:325-333). */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val bigSpenders = Tables.orders(s, dir).filter(col("o_totalprice") > 400000.0)
      .select(col("o_custkey"))
    Tables.customer(s, dir)
      .join(bigSpenders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  /** EXCEPT set-op (ref: test split = df.except(trainDF),
    * TrainTestSampler.scala:140). */
  def exceptOp(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_custkey"))
      .except(Tables.orders(s, dir).select(col("o_custkey").as("c_custkey")))
      .orderBy("c_custkey")

  /** ROLLUP hierarchy aggregate (beyond-reference analytics surface). */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy("rf", "ls")

  /** Explicit GROUPING SETS — the user-chosen subset of the cube
    * lattice, still ONE shuffle: Catalyst's Expand replicates each input
    * row once per set map-side, so three sets cost 3x the exchange rows
    * of a plain groupBy but zero extra fact-table scans. At 100 TB pick
    * the sets you need instead of CUBE's full 2^k expansion. */
  def groupingSetsAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy("rf", "ls")

  /** CUBE hierarchy aggregate — all grouping-set combinations in ONE
    * shuffle (Catalyst expands the grouping sets map-side; no per-set
    * re-scan of the fact table). */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("sum_qty"), col("n"))
      .orderBy("rf", "ls")

  /** Pivot (wide counts per key): one groupBy shuffle; the explicit value
    * list keeps the plan static (no collect-distinct pre-pass) — required
    * at scale, where the implicit-values variant is a full extra job. */
  def pivotAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  /** Wide→long reshape (UNPIVOT/melt — the inverse of [[pivotAgg]]):
    * lineitem's four numeric measures stacked into (measure, v) rows and
    * profiled per measure. Unpivot is a row-local generator (each input
    * row emits |measures| rows, no shuffle), so the only exchange is the
    * 4-group final agg — scale cost is the scan. */
  def unpivotMetrics(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"))
      .unpivot(Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "v")
      .groupBy("measure")
      .agg(count(lit(1)).as("n"), round(sum("v"), 2).as("total"),
        round(avg("v"), 6).as("avg_v"))
      .orderBy("measure")

  /** Rolling (frame-bounded) aggregate: 3-event moving average of `value`
    * per user — a keyed window with an explicit ROWS frame, partitioned on
    * the high-cardinality key. */
  def rollingAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, 0)
    Tables.events(s, dir)
      .withColumn("r_avg", round(avg("value").over(w), 6))
      .select("event_id", "user_id", "r_avg")
      .orderBy("event_id")
  }

  /** Exact global quantiles (p25/p50/p75) by rank definition — value at row
    * ⌈p·n⌉ under the total order — via the two-pass GlobalRank scheme, so
    * the exactness does NOT cost a single-partition sort. The approximate
    * scale path stays `approxQuantile` (features.Binning equiarea); this is
    * the exact path for when quantiles feed a contract (bin edges, SLAs). */
  def exactQuantiles(s: SparkSession, dir: String): Held =
    graft.plans.GlobalRank.withRowNumber(
      Tables.orders(s, dir).select(col("o_totalprice"), col("o_orderkey")),
      Seq(col("o_totalprice"), col("o_orderkey")), "rn").map { ranked =>
      // n: a one-row count over the persisted sort, broadcast in-plan
      val n = broadcast(ranked.agg(count(lit(1)).as("__n")))
      val ps = Seq(0.25, 0.5, 0.75)
      def target(p: Double) = ceil(lit(p) * col("__n"))
      val pExpr = ps.foldLeft(lit(null).cast("double")) {
        case (acc, p) => when(col("rn") === target(p), lit(p)).otherwise(acc)
      }
      ranked.crossJoin(n)
        .filter(ps.map(p => col("rn") === target(p)).reduce(_ || _))
        .select(pExpr.as("p"), round(col("o_totalprice"), 2).as("v"))
        .orderBy("p")
    }

  /** lead() window — the reference's one window use: time-on-page from
    * cumulative session time (dal/DataReader.scala:143-156). Here: dwell
    * micros between consecutive events per user. */
  def windowDwell(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .select(col("event_id"), col("user_id"),
        (unix_micros(col("next_ts")) - unix_micros(col("ts"))).as("dwell_us"))
      .orderBy("event_id")
  }

  /** Gap-based sessionization (batch form). Partitioned by user — no
    * global sort. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val gapUs = 12L * 3600 * 1000000 // 12h
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_seq",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"), min("event_id").as("first_event"))
      .orderBy("user_id", "session_seq")
  }

  /** Page-level split through the REAL io.SourceReader.splitPages operator
    * (ref: PipelineSteps.scala:316-322): page == k for every page but the
    * last, page >= k accumulation on the last — the reference's per-page
    * model layout. Pages derived per user by event order (the same
    * convention the hotlead simulation uses). Each split is one pushed
    * filter over the paged frame; counts are single-shuffle aggregates. */
  def pageSplit(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val paged = Tables.events(s, dir)
      .withColumn("page", row_number().over(w).cast("long"))
    val splits = graft.io.SourceReader.splitPages(paged, "page", 3)
    splits.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("n_rows"),
          countDistinct("user_id").as("n_users"))
        .select(lit(i + 1L).as("split_page"), col("n_rows"), col("n_users"))
    }.reduce(_ unionAll _).orderBy("split_page")
  }

  /** As-of join (plans.AsOfJoin): each purchase event picks up the most
    * recent prior-or-same-time click of the same user — "latest quote for
    * each trade". The right side is deduped to one row per (user, ts)
    * first so the match is deterministic in any engine; the oracle is
    * DuckDB's native ASOF LEFT JOIN. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .groupBy("user_id", "ts")
      .agg(max("event_id").as("click_event"),
        max_by(col("value"), col("event_id")).as("click_value"))
    graft.plans.AsOfJoin.asOf(purchases, clicks, Seq("user_id"), "ts", "ts")
      .select(col("event_id"), col("user_id"),
        col("asof_click_event").as("click_event"),
        round(col("asof_click_value"), 4).as("click_value"))
      .orderBy("event_id")
  }

  /** Range (point-in-interval) join through plans.RangeJoin: events land in
    * a 50-window campaign grid derived declaratively from the data (agg →
    * broadcast — no driver round-trip). The bucketized equi-join replaces
    * the BroadcastNestedLoopJoin Spark would plan for the raw range
    * predicate; the oracle is the plain theta join in DuckDB. */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("p"))
    // integer grid arithmetic (div) — bit-exact in any engine
    val stats = ev.agg(min("p").as("t0"), max("p").as("t1"))
      .selectExpr("t0", "(t1 - t0) div 50 AS step")
    val grid = s.range(50).select(col("id").as("interval_id"))
      .crossJoin(broadcast(stats))
      .selectExpr("interval_id",
        "t0 + interval_id * step AS lo",
        "t0 + interval_id * step + (step div 2) AS hi",
        "step AS w") // bucket width must resolve on BOTH join inputs
    val points = ev.crossJoin(broadcast(stats.select(col("step").as("w"))))
    graft.plans.RangeJoin.pointInInterval(
        points, grid, "p", "lo", "hi", width = col("w"))
      .groupBy("interval_id")
      .agg(count(lit(1)).as("n_events"), countDistinct("user_id").as("n_users"))
      .orderBy("interval_id")
  }

  /** Exact ntile equi-depth buckets — oracle-parity variant of equiarea
    * binning, computed via the scalable two-pass range-sort rank
    * (plans.GlobalRank) instead of a single-partition global window. The
    * approximate 100 TB path stays approxQuantile → Bucketizer
    * (feature-generation binning); this is the exact path, and it also
    * scales (every stage partition-parallel). */
  def ntileBins(s: SparkSession, dir: String): Held =
    graft.plans.GlobalRank.withNtile(
      Tables.orders(s, dir).select(col("o_totalprice"), col("o_orderkey")),
      Seq(col("o_totalprice"), col("o_orderkey")), 10, "bucket")
      .map(_.groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(min("o_totalprice"), 2).as("lo"),
          round(max("o_totalprice"), 2).as("hi"))
        .orderBy("bucket"))

  /** Random-variable derivation through the real reader code
    * (io.SourceReader.deriveColumns — ref: dal/DataReader.scala:34-78):
    * md5 of the primary key → first 8 hex chars → uniform double [0,100).
    * Row-local, codegen'd — the deterministic basis for conditional splits
    * at any scale. */
  def rvDerivation(s: SparkSession, dir: String): DataFrame = {
    val cols = graft.config.ColumnsConf(
      primaryKey = Seq("c_custkey"), randomVariable = Some("rv"))
    graft.io.SourceReader.deriveColumns(Tables.customer(s, dir), cols)
      .select(col("c_custkey"), round(col("rv"), 6).as("rv"))
      .orderBy("c_custkey")
  }

  /** Conditional train/test split through the real sampler
    * (sampling.TrainTestSampler, ref: TrainTestSampler.scala:154-159): each
    * condition over the derived random variable is one pushdown-friendly
    * filter — the deterministic-at-scale split (no RNG state). Emits split
    * sizes, exactly reproducible from the md5 derivation. */
  def conditionalSplit(s: SparkSession, dir: String): DataFrame = {
    val cols = graft.config.ColumnsConf(
      primaryKey = Seq("c_custkey"), randomVariable = Some("rv"),
      response = "c_mktsegment")
    val df = graft.io.SourceReader.deriveColumns(Tables.customer(s, dir), cols)
    val conf = graft.config.SamplingConf(
      samplingType = "conditional", conditions = Seq("rv <= 80", "rv > 80"))
    val splits = graft.sampling.TrainTestSampler.sample(df, conf, "c_mktsegment")
    splits.zipWithIndex.map { case (d, i) =>
      d.agg(count(lit(1)).as("n")).select(lit(i.toLong).as("split"), col("n"))
    }.reduce(_ unionAll _).orderBy("split")
  }

  /** Exact stratified split invariants: `sampleByKeyExact` guarantees the
    * train stratum size is exactly ⌈fraction·n_class⌉ regardless of RNG
    * state, so the per-class counts ARE cross-engine oracle-able even
    * though the sampled row identities are not. */
  def stratifiedCounts(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.customer(s, dir)
    val conf = graft.config.SamplingConf(samplingType = "stratified",
      split = Seq(80, 20), seed = 20)
    val Seq(train, _) = graft.sampling.TrainTestSampler.sample(
      df, conf, "c_mktsegment", Seq("c_custkey"))
    train.groupBy("c_mktsegment").agg(count(lit(1)).as("n_train"))
      .orderBy("c_mktsegment")
  }

  /** Equidistant binning through the REAL feature stage
    * (features.Binning → Bucketizer; ref: FeatureGenerationEngine.scala:279-308):
    * one min/max reduce builds the splits, the Bucketizer is a codegen'd
    * row-local stage — the 100 TB binning path (vs the ntile oracle-parity
    * variant). */
  def binningEquidistant(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.orders(s, dir)
    val stage = graft.features.Binning.buildStage(df,
      graft.config.BinningConf("o_totalprice", "equidistant", 8))
      .asInstanceOf[org.apache.spark.ml.feature.Bucketizer]
    stage.transform(df)
      .groupBy(col(graft.features.Binning.outputName("o_totalprice"))
        .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min("o_totalprice"), 2).as("lo"),
        round(max("o_totalprice"), 2).as("hi"))
      .orderBy("bucket")
  }

  /** RFM customer-value tiers — recency/frequency/monetary quartiles, the
    * standard marketing segmentation. Each quartile is an EXACT global
    * ntile over |customers| rows via the two-pass range-sort in
    * plans.GlobalRank (no single-partition window); the base aggregate is
    * one keyed shuffle over orders with map-side partials. At 100 TB the
    * three rankings each shuffle only the |customers|-sized RFM frame. */
  def rfmTiers(s: SparkSession, dir: String): Held = {
    import graft.plans.GlobalRank
    // monetary in integer cents: double sums land within ~1e-4 cents of
    // the true integer, so the rounded value is engine-independent (a raw
    // double sum would hash-mismatch the oracle at 2-decimal boundaries).
    val rfm = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(max("o_orderdate").as("recency"),
        count(lit(1)).as("freq"),
        round(sum("o_totalprice") * 100).cast("long").as("cents"))
    // three chained ntile sorts, each held for the ≤64-row final agg
    Seq(("recency", "r_tier"), ("freq", "f_tier"), ("cents", "m_tier"))
      .foldLeft(Held(rfm)) { case (h, (c, out)) =>
        val t = GlobalRank.withNtile(h.frame, Seq(col(c), col("o_custkey")), 4, out)
        Held(t.frame, h.handles ++ t.handles)
      }
      .map(_.groupBy("r_tier", "f_tier", "m_tier")
        .agg(count(lit(1)).as("n_cust"),
          round(avg("cents")).cast("long").as("avg_cents"))
        .orderBy("r_tier", "f_tier", "m_tier"))
  }

  /** Exact per-group percentiles (p50/p95) with PERCENTILE_CONT /
    * DuckDB-quantile_cont semantics — computed via the two-pass
    * range-sort rank machinery ([[graft.plans.GlobalRank
    * .groupPercentilesExact]]), NOT the exact `percentile()` aggregate:
    * o_orderpriority has ~5 values, and the exact aggregate's per-group
    * buffer would hold billions of prices at 100 TB. percentile_approx
    * remains the documented sketch path when rank-exactness isn't
    * required. */
  def groupPercentiles(s: SparkSession, dir: String): Held =
    graft.plans.GlobalRank.groupPercentilesExact(
      Tables.orders(s, dir), "o_orderpriority", "o_totalprice",
      Seq(0.5, 0.95))
      .map(_.select(col("o_orderpriority"), col("n"),
        round(col("p0"), 4).as("p50"), round(col("p1"), 4).as("p95"))
      .orderBy("o_orderpriority"))

  /** Quantity-weighted price percentiles per return flag — the weighted
    * lower quantile (smallest value whose in-group weight CDF reaches
    * p·W) through [[graft.plans.GlobalRank.groupWeightedPercentiles]]:
    * one global range sort + running weight sums + O(groups) offsets, no
    * per-group buffer or window sort. l_quantity is integral, so every
    * cumulative sum is exact in doubles and selection is engine-identical
    * (the machinery's documented exactness contract). */
  def weightedPercentiles(s: SparkSession, dir: String): Held =
    graft.plans.GlobalRank.groupWeightedPercentiles(
      Tables.lineitem(s, dir), "l_returnflag", "l_extendedprice",
      "l_quantity", Seq(0.25, 0.5, 0.75))
      .map(_.select(col("l_returnflag"), col("n"),
        round(col("w_total"), 2).as("w_total"),
        round(col("wp0"), 2).as("p25"),
        round(col("wp1"), 2).as("p50"),
        round(col("wp2"), 2).as("p75"))
        .orderBy("l_returnflag"))

  /** INTERPOLATED weighted percentiles with FRACTIONAL weights — the
    * cross-engine check of
    * [[graft.plans.GlobalRank.groupWeightedPercentilesInterp]]. The weight
    * is l_quantity + 0.5: genuinely non-integral (the case the lower
    * quantile's threshold rule cannot make engine-stable) yet DYADIC, so
    * every partial sum is exact in doubles in ANY addition order — the
    * two-pass running sums and DuckDB's sequential window produce
    * bit-identical CDFs, and the interpolation arithmetic is the same
    * IEEE expression tree on both sides. Equal prices collapse first, so
    * knot placement is a pure function of the data. */
  def weightedPercentilesInterp(s: SparkSession, dir: String): Held =
    graft.plans.GlobalRank.groupWeightedPercentilesInterp(
      Tables.lineitem(s, dir)
        .withColumn("__w", col("l_quantity") + lit(0.5)),
      "l_returnflag", "l_extendedprice", "__w", Seq(0.25, 0.5, 0.75))
      .map(_.select(col("l_returnflag"), col("n_values"),
        round(col("w_total"), 1).as("w_total"),
        round(col("wp0"), 6).as("p25"),
        round(col("wp1"), 6).as("p50"),
        round(col("wp2"), 6).as("p75"))
        .orderBy("l_returnflag"))

  /** Z-order (Morton-curve) layout audit — the multi-column data-skipping
    * layout (Delta/Iceberg `OPTIMIZE ZORDER BY`): interleave the low 16
    * bits of two dimensions (customer key; total price at $10
    * granularity), split the z-order into 16 exact global buckets, and
    * report each bucket's row count and per-dimension min/max bounds —
    * exactly the parquet footer stats a scan prunes on. Because the
    * Morton curve preserves locality in BOTH dimensions, every bucket
    * covers a tight hyper-rectangle: a predicate on EITHER column skips
    * most buckets, where a single-column sort gives tight bounds on one
    * dimension and useless ones on the other.
    *
    * Scale shape: the z-value is a row-local integer fold (one codegen'd
    * higher-order expression, no shuffle); the bucketing is the exact
    * two-pass global NTILE (never a single-task window); the write path
    * at 100 TB is `repartitionByRange(z)` + per-file stats — this audit
    * IS those stats, integer-exact in any engine. */
  def zorderLayout(s: SparkSession, dir: String): Held = {
    val base = Tables.orders(s, dir).select(
      (col("o_custkey") % 65536).as("x"),
      least(lit(65535L), floor(col("o_totalprice") / 10).cast("long")).as("y"),
      col("o_orderkey"))
    val z = base.withColumn("z", expr(
      """aggregate(sequence(0, 15), 0L, (acc, i) ->
        |  acc + (shiftright(x, i) % 2) * shiftleft(1L, 2 * i)
        |      + (shiftright(y, i) % 2) * shiftleft(1L, 2 * i + 1))"""
        .stripMargin))
    graft.plans.GlobalRank
      .withNtile(z, Seq(col("z"), col("o_orderkey")), 16, "bucket")
      .map(_.groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("x").as("x_min"), max("x").as("x_max"),
          min("y").as("y_min"), max("y").as("y_max"))
        .orderBy("bucket"))
  }

  /** Data-quality expectation report (Great-Expectations-style): each rule
    * is one boolean column summed over a scan — null checks, range checks,
    * domain membership, and referential integrity (the FK rule is a keyed
    * left join with an is-null flag, the scale form of "orphan rows").
    * Every rule reports (rows, violations, pass), so the table doubles as
    * a pipeline gate: `pass` AND-folds into an admission decision. One
    * deliberately tight rule (quantity ≤ 40) exercises the failure path —
    * a DQ report that can only ever print zeros proves nothing. */
  def dqChecks(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    def report(rule: String, table: String, df: DataFrame,
               viol: org.apache.spark.sql.Column): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          coalesce(sum(viol.cast("long")), lit(0L)).as("n_violations"))
        .select(lit(rule).as("rule"), lit(table).as("table_name"),
          col("n_rows"), col("n_violations"),
          (col("n_violations") === 0).as("pass"))
    val fk = li.select(col("l_orderkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left")
    Seq(
      report("quantity_in_1_50", "lineitem", li,
        col("l_quantity") < 1 || col("l_quantity") > 50),
      report("quantity_le_40", "lineitem", li, col("l_quantity") > 40),
      report("totalprice_positive", "orders", Tables.orders(s, dir),
        col("o_totalprice") <= 0 || col("o_totalprice").isNull),
      report("orderkey_fk_orders", "lineitem", fk, col("o_orderkey").isNull),
      report("mktsegment_in_domain", "customer", Tables.customer(s, dir),
        !col("c_mktsegment").isin("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY")),
      report("event_value_not_null", "events", Tables.events(s, dir),
        col("value").isNull)
    ).reduce(_ unionAll _).orderBy("rule")
  }

  /** Anti-join: customers with no orders. LEFT ANTI is the scale-correct
    * "NOT IN" — a keyed hash join that streams the probe side (vs a
    * NOT-IN subquery, which null-handling turns into a nested loop).
    * Both sides shuffle once on the key; AQE may broadcast the smaller. */
  def antiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir)
          .filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")

  /** Ranking-function family (rank / dense_rank / percent_rank) in one
    * keyed window pass — partitioned on l_orderkey (high cardinality,
    * partition-parallel at any scale; a low-cardinality partition key
    * would funnel 100 TB through a handful of tasks — that shape belongs
    * to plans.GroupTopK / GlobalRank instead). The orderkey filter pushes
    * down to the scan BEFORE the window. */
  def rankFunctions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey")
      .orderBy(desc("l_quantity"), asc("l_linenumber"))
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") < 500)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        round(percent_rank().over(w), 6).as("prnk"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Column profiling — the describe() every ingest pipeline runs first,
    * as one partial-agg pass per group: count / nulls / mean / sample-std
    * / min / max. All six are algebraic aggregates (map-side combine; the
    * exchange carries one partial state per group), so profiling 100 TB
    * costs one scan + one |groups|-row shuffle. */
  def numericProfile(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(avg("l_extendedprice"), 4).as("mean_price"),
        round(stddev("l_extendedprice"), 4).as("std_price"),
        round(min("l_extendedprice"), 2).as("min_price"),
        round(max("l_extendedprice"), 2).as("max_price"),
        round(avg("l_discount"), 6).as("mean_disc"))
      .orderBy("l_returnflag")

  /** Most-frequent value per key (mode) through the two-aggregate
    * partial-combine shape: count per (key, value) — the only shuffle that
    * sees data-scale rows, and it fans out by value — then
    * `max(struct(cnt, value))` per key. No window sort, skew-safe (a hot
    * user's counting spreads across value-keyed reducers). */
  def groupMode(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("cnt"))
      .groupBy("user_id")
      // min(struct(-cnt, value)): maximal count, ties on SMALLEST value —
      // the (cnt DESC, value ASC) rule as one algebraic aggregate
      .agg(min(struct((-col("cnt")).as("negcnt"),
        col("event_type").as("v"))).as("m"))
      .select(col("user_id"), (-col("m.negcnt")).as("n_top"),
        col("m.v").as("top_type"))
      .orderBy("user_id")

  /** Pairwise Pearson correlation / covariance per group in ONE pass:
    * corr and covar_samp are algebraic (co-moment partials merge
    * associatively), so the full correlation structure of k columns costs
    * one scan + one |groups|-row shuffle regardless of table size — never
    * collect-and-compute driver-side. */
  def numericCorr(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qty_price"),
        round(corr("l_quantity", "l_discount"), 6).as("corr_qty_disc"),
        round(corr("l_extendedprice", "l_discount"), 6).as("corr_price_disc"),
        round(covar_samp("l_quantity", "l_extendedprice"), 4).as("cov_qty_price"))
      .orderBy("l_returnflag")

  /** Robust per-group outlier gate: |v − median| > 3·1.4826·MAD (the
    * normal-consistent MAD z-score). Both exact medians come from the
    * rank machinery ([[graft.plans.GlobalRank.groupPercentilesExact]])
    * — event_type is a ~5-value key, so the exact `percentile()`
    * aggregate's per-group buffer would be corpus-sized at 100 TB. Two
    * rank passes + broadcast joins back; never a per-group value buffer,
    * never a global sort. */
  def robustOutliers(s: SparkSession, dir: String): Held = {
    // one narrow materialization feeds all THREE passes (median rank,
    // MAD rank, outlier count): each rank pass otherwise re-reads the
    // source twice (range-boundary sampling + the shuffle itself), so
    // without this the source is scanned ~5x per call
    val base = Held.cached(
      Tables.events(s, dir).select(col("event_type"), col("value")))
    val med = graft.plans.GlobalRank
      .groupPercentilesExact(base.frame, "event_type", "value", Seq(0.5))
      .map(_.select(col("event_type"), col("p0").as("med")))
    val dev = base.frame.join(broadcast(med.frame), Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = graft.plans.GlobalRank
      .groupPercentilesExact(dev, "event_type", "adev", Seq(0.5))
      .map(_.select(col("event_type"), col("p0").as("mad")))
    // O(groups) rows, holding the base cache and both rank sorts
    Held(dev.join(broadcast(mad.frame), Seq("event_type"))
        .groupBy("event_type")
        .agg(round(first("med"), 4).as("med"),
          round(first("mad"), 4).as("mad"),
          count(lit(1)).as("n"),
          sum(when(col("adev") > lit(3 * 1.4826) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy("event_type"),
      base.handles ++ med.handles ++ mad.handles)
  }

  protected val direct: Map[String, (SparkSession, String) => DataFrame] = Map(
    "numeric_corr" -> numericCorr,
    "dq_checks" -> dqChecks,
    "rank_functions" -> rankFunctions,
    "numeric_profile" -> numericProfile,
    "group_mode" -> groupMode,
    "anti_join" -> antiJoin,
    "rv_derivation" -> rvDerivation,
    "conditional_split" -> conditionalSplit,
    "binning_equidistant" -> binningEquidistant,
    "stratified_counts" -> stratifiedCounts,
    "q1_pricing_summary" -> pricingSummary,
    "q3_top_revenue" -> topRevenueOrders,
    "q5_region_revenue" -> regionRevenue,
    "filter_project" -> filterProject,
    "distinct_counts" -> distinctCounts,
    "semi_join" -> semiJoin,
    "except_op" -> exceptOp,
    "rollup_agg" -> rollupAgg,
    "grouping_sets" -> groupingSetsAgg,
    "window_dwell" -> windowDwell,
    "sessionize" -> sessionize,
    "page_split" -> pageSplit,
    "asof_join" -> asofJoin,
    "range_join" -> rangeJoin,
    "cube_agg" -> cubeAgg,
    "pivot_agg" -> pivotAgg,
    "unpivot_metrics" -> unpivotMetrics,
    "rolling_avg" -> rollingAvg)

  override val held: Map[String, (SparkSession, String) => Held] = Map(
    "weighted_percentiles" -> weightedPercentiles,
    "weighted_percentiles_interp" -> weightedPercentilesInterp,
    "zorder_layout" -> zorderLayout,
    "robust_outliers" -> robustOutliers,
    "rfm_tiers" -> rfmTiers,
    "group_percentiles" -> groupPercentiles,
    "ntile_bins" -> ntileBins,
    "exact_quantiles" -> exactQuantiles)

  val oracle: Map[String, String] = Map(
    "numeric_corr" ->
      """SELECT l_returnflag,
        | round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        | round(corr(l_quantity, l_discount), 6) AS corr_qty_disc,
        | round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc,
        | round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "robust_outliers" ->
      """WITH m AS (SELECT event_type, median(value) AS med FROM events
        |   GROUP BY event_type),
        | d AS (SELECT e.event_type, e.value, m.med,
        |   abs(e.value - m.med) AS adev FROM events e JOIN m USING (event_type)),
        | s AS (SELECT event_type, any_value(med) AS med,
        |   median(adev) AS mad FROM d GROUP BY event_type)
        |SELECT d.event_type, round(any_value(s.med), 4) AS med,
        | round(any_value(s.mad), 4) AS mad, count(*)::BIGINT AS n,
        | sum(CASE WHEN d.adev > 3 * 1.4826 * s.mad THEN 1 ELSE 0 END)::BIGINT
        |   AS n_outliers
        |FROM d JOIN s USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    "numeric_profile" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n,
        | round(avg(l_extendedprice), 4) AS mean_price,
        | round(stddev_samp(l_extendedprice), 4) AS std_price,
        | round(min(l_extendedprice), 2) AS min_price,
        | round(max(l_extendedprice), 2) AS max_price,
        | round(avg(l_discount), 6) AS mean_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "group_mode" ->
      """WITH c AS (SELECT user_id, event_type, count(*)::BIGINT AS cnt
        |   FROM events GROUP BY user_id, event_type)
        |SELECT user_id, cnt AS n_top, event_type AS top_type FROM c
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY cnt DESC, event_type) = 1
        |ORDER BY user_id""".stripMargin,
    "rank_functions" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        | rank() OVER w AS rnk,
        | dense_rank() OVER w AS drnk,
        | round(percent_rank() OVER w, 6) AS prnk
        |FROM lineitem WHERE l_orderkey < 500
        |WINDOW w AS (PARTITION BY l_orderkey
        |             ORDER BY l_quantity DESC, l_linenumber)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "anti_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "rfm_tiers" ->
      """WITH rfm AS (SELECT o_custkey, max(o_orderdate) AS recency,
        |   count(*)::BIGINT AS freq,
        |   round(sum(o_totalprice) * 100)::BIGINT AS cents
        |  FROM orders GROUP BY o_custkey),
        | t AS (SELECT o_custkey, cents,
        |   CAST(ntile(4) OVER (ORDER BY recency, o_custkey) AS BIGINT) AS r_tier,
        |   CAST(ntile(4) OVER (ORDER BY freq, o_custkey) AS BIGINT) AS f_tier,
        |   CAST(ntile(4) OVER (ORDER BY cents, o_custkey) AS BIGINT) AS m_tier
        |  FROM rfm)
        |SELECT r_tier, f_tier, m_tier, count(*)::BIGINT AS n_cust,
        | round(avg(cents))::BIGINT AS avg_cents
        |FROM t GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "group_percentiles" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n,
        | round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        | round(quantile_cont(o_totalprice, 0.95), 4) AS p95
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "dq_checks" ->
      """WITH u AS (
        | SELECT 'quantity_in_1_50' AS rule, 'lineitem' AS table_name,
        |   count(*)::BIGINT AS n_rows,
        |   sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)::BIGINT AS n_violations
        |  FROM lineitem
        | UNION ALL
        | SELECT 'quantity_le_40', 'lineitem', count(*)::BIGINT,
        |   sum(CASE WHEN l_quantity > 40 THEN 1 ELSE 0 END)::BIGINT FROM lineitem
        | UNION ALL
        | SELECT 'totalprice_positive', 'orders', count(*)::BIGINT,
        |   sum(CASE WHEN o_totalprice <= 0 OR o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT
        |  FROM orders
        | UNION ALL
        | SELECT 'orderkey_fk_orders', 'lineitem', count(*)::BIGINT,
        |   sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        | UNION ALL
        | SELECT 'mktsegment_in_domain', 'customer', count(*)::BIGINT,
        |   sum(CASE WHEN c_mktsegment NOT IN ('AUTOMOBILE', 'BUILDING',
        |     'FURNITURE', 'HOUSEHOLD', 'MACHINERY') THEN 1 ELSE 0 END)::BIGINT
        |  FROM customer
        | UNION ALL
        | SELECT 'event_value_not_null', 'events', count(*)::BIGINT,
        |   sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT FROM events)
        |SELECT rule, table_name, n_rows, n_violations,
        |  n_violations = 0 AS pass
        |FROM u ORDER BY rule""".stripMargin,
    "weighted_percentiles" ->
      """WITH t AS (SELECT l_returnflag AS flag, l_extendedprice AS v,
        |   l_quantity AS w FROM lineitem WHERE l_quantity > 0),
        | s AS (SELECT flag, v, w,
        |   sum(w) OVER (PARTITION BY flag ORDER BY v
        |     ROWS UNBOUNDED PRECEDING) AS cumw,
        |   sum(w) OVER (PARTITION BY flag) AS tot FROM t)
        |SELECT flag AS l_returnflag, count(*)::BIGINT AS n,
        | round(max(tot), 2) AS w_total,
        | round(min(CASE WHEN cumw >= 0.25 * tot THEN v END), 2) AS p25,
        | round(min(CASE WHEN cumw >= 0.5 * tot THEN v END), 2) AS p50,
        | round(min(CASE WHEN cumw >= 0.75 * tot THEN v END), 2) AS p75
        |FROM s GROUP BY flag ORDER BY flag""".stripMargin,
    "zorder_layout" ->
      """WITH b AS (SELECT o_custkey % 65536 AS x,
        |   least(65535, floor(o_totalprice / 10)::BIGINT) AS y, o_orderkey
        |  FROM orders),
        | z AS (SELECT x, y, o_orderkey,
        |   list_sum(list_transform(range(0, 16), i ->
        |     ((x >> i) & 1) * (1::BIGINT << (2 * i))
        |     + ((y >> i) & 1) * (1::BIGINT << (2 * i + 1)))) AS z
        |  FROM b),
        | t AS (SELECT x, y,
        |   CAST(ntile(16) OVER (ORDER BY z, o_orderkey) AS BIGINT) AS bucket
        |  FROM z)
        |SELECT bucket, count(*)::BIGINT AS n, min(x) AS x_min, max(x) AS x_max,
        | min(y) AS y_min, max(y) AS y_max
        |FROM t GROUP BY bucket ORDER BY bucket""".stripMargin,
    "weighted_percentiles_interp" ->
      // the knot CDF mirrors the Scala op exactly: collapse equal prices,
      // midpoint plotting positions s = (cumw − w/2)/tot (dyadic weights ⇒
      // exact sums in any order), flanking-knot interpolation
      """WITH pts AS (SELECT l_returnflag AS flag, l_extendedprice AS v,
        |   sum(l_quantity + 0.5) AS w FROM lineitem GROUP BY 1, 2),
        | tot AS (SELECT flag, sum(w) AS tw, count(*)::BIGINT AS nv
        |   FROM pts GROUP BY flag),
        | c AS (SELECT flag, v, w, sum(w) OVER (PARTITION BY flag ORDER BY v
        |     ROWS UNBOUNDED PRECEDING) AS cumw FROM pts),
        | s AS (SELECT c.flag, v, (cumw - w / 2) / tw AS s
        |   FROM c JOIN tot USING (flag)),
        | a AS (SELECT flag,
        |   max(s) FILTER (WHERE s <= 0.25) AS sl0, arg_max(v, s) FILTER (WHERE s <= 0.25) AS vl0,
        |   min(s) FILTER (WHERE s >= 0.25) AS sh0, arg_min(v, s) FILTER (WHERE s >= 0.25) AS vh0,
        |   max(s) FILTER (WHERE s <= 0.5)  AS sl1, arg_max(v, s) FILTER (WHERE s <= 0.5)  AS vl1,
        |   min(s) FILTER (WHERE s >= 0.5)  AS sh1, arg_min(v, s) FILTER (WHERE s >= 0.5)  AS vh1,
        |   max(s) FILTER (WHERE s <= 0.75) AS sl2, arg_max(v, s) FILTER (WHERE s <= 0.75) AS vl2,
        |   min(s) FILTER (WHERE s >= 0.75) AS sh2, arg_min(v, s) FILTER (WHERE s >= 0.75) AS vh2
        |  FROM s GROUP BY flag)
        |SELECT a.flag AS l_returnflag, tot.nv AS n_values,
        | round(tot.tw, 1) AS w_total,
        | round(CASE WHEN sl0 IS NULL THEN vh0 WHEN sh0 IS NULL THEN vl0
        |   WHEN sh0 = sl0 THEN vl0
        |   ELSE vl0 + (0.25 - sl0) / (sh0 - sl0) * (vh0 - vl0) END, 6) AS p25,
        | round(CASE WHEN sl1 IS NULL THEN vh1 WHEN sh1 IS NULL THEN vl1
        |   WHEN sh1 = sl1 THEN vl1
        |   ELSE vl1 + (0.5 - sl1) / (sh1 - sl1) * (vh1 - vl1) END, 6) AS p50,
        | round(CASE WHEN sl2 IS NULL THEN vh2 WHEN sh2 IS NULL THEN vl2
        |   WHEN sh2 = sl2 THEN vl2
        |   ELSE vl2 + (0.75 - sl2) / (sh2 - sl2) * (vh2 - vl2) END, 6) AS p75
        |FROM a JOIN tot USING (flag) ORDER BY l_returnflag""".stripMargin,
    "rv_derivation" ->
      """SELECT c_custkey,
        | round(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
        |   * 100.0 / 4294967296.0, 6) AS rv
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "binning_equidistant" ->
      """WITH stats AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx FROM orders)
        |SELECT least(greatest(floor((o_totalprice - mn) / ((mx - mn) / 8)), 0), 7)::BIGINT AS bucket,
        | count(*) AS n, round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
        |FROM orders, stats GROUP BY 1 ORDER BY bucket""".stripMargin,
    "conditional_split" ->
      """WITH rv AS (SELECT ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
        |   * 100.0 / 4294967296.0 AS rv FROM customer)
        |SELECT * FROM (
        |  SELECT 0::BIGINT AS split, count(*) AS n FROM rv WHERE rv <= 80
        |  UNION ALL
        |  SELECT 1::BIGINT, count(*) FROM rv WHERE rv > 80)
        |ORDER BY split""".stripMargin,
    "stratified_counts" ->
      """SELECT c_mktsegment, ceil(count(*) * 0.8)::BIGINT AS n_train
        |FROM customer GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_quantity), 6) AS avg_qty, count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_top_revenue" ->
      """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | strftime(o_orderdate, '%Y-%m-%d') AS o_date
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
        | AND l_shipdate > TIMESTAMP '2000-01-01 00:00:00'
        |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_region_revenue" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "filter_project" ->
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_price FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice > 100000 ORDER BY o_orderkey""".stripMargin,
    "distinct_counts" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "except_op" ->
      """SELECT * FROM (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey AS c_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,
    "rollup_agg" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        | sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY rf, ls""".stripMargin,
    "grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        | sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY rf, ls""".stripMargin,
    // Windows ORDER BY the micros-truncated timestamp (CAST ns→TIMESTAMP)
    // so DuckDB uses the exact sort key Spark sees after nanos truncation.
    "window_dwell" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS tsu FROM events)
        |SELECT event_id, user_id,
        | epoch_us(lead(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id))
        |   - epoch_us(tsu) AS dwell_us
        |FROM e ORDER BY event_id""".stripMargin,
    "sessionize" ->
      """WITH t AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |   lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
        |  FROM events),
        | m AS (SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us > 43200000000 THEN 1 ELSE 0 END AS new_s FROM t),
        | x AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM m)
        |SELECT user_id, session_seq, count(*) AS n_events, min(event_id) AS first_event
        |FROM x GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,
    "page_split" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS tsu FROM events),
        | paged AS (SELECT user_id,
        |   row_number() OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS page FROM e),
        | tagged AS (SELECT CASE WHEN page >= 3 THEN 3 ELSE page END AS split_page,
        |   user_id FROM paged)
        |SELECT split_page, count(*)::BIGINT AS n_rows,
        | count(DISTINCT user_id)::BIGINT AS n_users
        |FROM tagged GROUP BY split_page ORDER BY split_page""".stripMargin,
    "asof_join" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS tsu,
        |   event_type, value FROM events),
        | p AS (SELECT event_id, user_id, tsu FROM e WHERE event_type = 'purchase'),
        | c AS (SELECT user_id, tsu, max(event_id) AS click_event,
        |     arg_max(value, event_id) AS click_value
        |   FROM e WHERE event_type = 'click' GROUP BY user_id, tsu)
        |SELECT p.event_id, p.user_id, c.click_event,
        | round(c.click_value, 4) AS click_value
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.tsu >= c.tsu
        |ORDER BY p.event_id""".stripMargin,
    "range_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p FROM events),
        | b AS (SELECT min(p) AS t0, (max(p) - min(p)) // 50 AS step FROM e),
        | g AS (SELECT k AS interval_id, t0 + k * step AS lo,
        |     t0 + k * step + step // 2 AS hi
        |   FROM b, unnest(generate_series(0, 49)) AS u(k)),
        | j AS (SELECT g.interval_id, e.event_id, e.user_id
        |   FROM e JOIN g ON e.p >= g.lo AND e.p < g.hi)
        |SELECT interval_id, count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users
        |FROM j GROUP BY interval_id ORDER BY interval_id""".stripMargin,
    "ntile_bins" ->
      """SELECT bucket, count(*) AS n, round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
        |FROM (SELECT o_totalprice, CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS bucket FROM orders)
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "cube_agg" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        | sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) ORDER BY rf, ls""".stripMargin,
    "pivot_agg" ->
      """SELECT user_id,
        | count(*) FILTER (event_type = 'click') AS click,
        | count(*) FILTER (event_type = 'error') AS error,
        | count(*) FILTER (event_type = 'purchase') AS purchase,
        | count(*) FILTER (event_type = 'signup') AS signup,
        | count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "unpivot_metrics" ->
      """WITH u AS (
        |  SELECT measure, v FROM (
        |    SELECT l_orderkey, l_quantity, l_extendedprice, l_discount,
        |      l_tax FROM lineitem)
        |  UNPIVOT (v FOR measure IN
        |    (l_quantity, l_extendedprice, l_discount, l_tax)))
        |SELECT measure, count(*)::BIGINT AS n, round(sum(v), 2) AS total,
        | round(avg(v), 6) AS avg_v
        |FROM u GROUP BY measure ORDER BY measure""".stripMargin,
    "rolling_avg" ->
      """WITH e AS (SELECT event_id, user_id, value, CAST(ts AS TIMESTAMP) AS tsu FROM events)
        |SELECT event_id, user_id,
        | round(avg(value) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS r_avg
        |FROM e ORDER BY event_id""".stripMargin,
    "exact_quantiles" ->
      """WITH r AS (SELECT o_totalprice,
        |   row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
        |   count(*) OVER () AS n
        |  FROM orders)
        |SELECT p, round(o_totalprice, 2) AS v
        |FROM r JOIN (VALUES (0.25), (0.5), (0.75)) AS q(p) ON rn = ceil(p * n)
        |ORDER BY p""".stripMargin)
}
