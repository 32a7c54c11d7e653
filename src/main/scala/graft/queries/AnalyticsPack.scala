package graft.queries

import graft.Tables
import graft.plans.Held
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Advanced distributed-analytics operators: iterative graph ranking
  * (PageRank), market-basket lift mining, sequential-pattern counting,
  * deterministic per-group reservoir sampling, and bounded-window EWMA
  * smoothing. These extend the engine past the reference's web-journey
  * analytics into the graph/sequence/sampling ops a production corpus or
  * event platform runs at fleet scale.
  *
  * Scale notes (100 TB):
  *  - `pagerank` is the canonical iterative-join workload. Edges and the
  *    node list are built ONCE and cached; each of the K iterations is ONE
  *    fused job — a keyed left join (ranks ⋈ edges on src) whose shuffle
  *    carries both the per-dst contribution sums and the dangling-mass
  *    sentinel bucket. The only driver reads in the loop are O(1)-row
  *    scalars off already-materialized frames. Per-iteration ranks are
  *    rounded to 8 dp so aggregate summation ORDER can never leak into
  *    the next iteration — the same bit-reproducibility idiom as the
  *    Lloyd fit in [[LlmData]].
  *  - `item_cooccur` self-joins lineitem on the order key: fan-out is
  *    bounded by max items/order (≤ a few dozen), never corpus-quadratic.
  *    Lift arithmetic is exact-integer products with ONE final division,
  *    so the doubles are bit-identical in any IEEE engine.
  *  - `seq_mining` and `ewma_smooth` partition their windows on user_id
  *    (high-cardinality — partition-parallel at any scale).
  *  - `group_sample` replaces "ORDER BY rand() LIMIT k per group" with a
  *    deterministic md5 coin + per-key rank: Spark pushes the rank filter
  *    down as WindowGroupLimit (per-partition top-k before the shuffle),
  *    so the exchange carries O(groups·k) rows, not the table.
  */
object AnalyticsPack extends QueryPack {

  private def withUs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))

  // ------------------------------------------------------------ PageRank

  private val PrDamping = 0.85
  private val PrIters   = 5

  /** The sentinel bucket the fused contribution pass routes dangling mass
    * into — loop node ids are non-negative longs (2·custkey / 2·partkey+1),
    * so a negative id can never collide. */
  private val PrDangKey = -1L

  /** PageRank over the bipartite customer→part endorsement graph (an edge
    * when a customer's order contains the part). Parts have no out-edges,
    * so the dangling-mass redistribution path is exercised for real:
    * r'(v) = 0.15/N + 0.85·(Σ_{u→v} r(u)/deg(u) + dangling/N).
    *
    * The loop body is ONE job per iteration: ranks LEFT-join edges on
    * src, where a matched row contributes r/deg to its dst and a dangling
    * row (no out-edges ⇔ no match) falls into the [[PrDangKey]] sentinel
    * bucket — the dangling-mass aggregate rides the SAME shuffle as the
    * contributions instead of running as its own job. The fused aggregate
    * is the only frame checkpointed per iteration; the rank update is a
    * cheap projection join of it that the next iteration's pass (or the
    * final sort) evaluates, so each iteration references its predecessor
    * exactly once — a linear lineage, no 2^K blowup. The two loop scalars
    * (node count, dangling mass) are read on the driver from
    * already-materialized O(nodes) frames — O(1) rows, never corpus data.
    * Ranks are rounded to 8 dp at every iteration boundary — float-sum
    * ordering differences (~1e-15) are quantized away long before they
    * could compound, making the fixed-point bit-reproducible across
    * engines. */
  def pagerank(s: SparkSession, dir: String): Held = {
    val li = Tables.lineitem(s, dir)
    // partition AND sort the edge list on src ONCE: InMemoryRelation
    // propagates both outputPartitioning and outputOrdering, so each
    // iteration's sort-merge join against the (much smaller) rank frame
    // reuses this layout instead of re-exchanging + re-sorting |edges|
    // rows K times — the dominant cost of iterative graph workloads.
    // Loop node ids are LONGS (2·custkey for customers, 2·partkey+1 for
    // parts — collision-free by parity): every per-iteration join, agg
    // and shuffle keys on a fixed-width 8-byte long instead of a "c:…"
    // string, and the output strings are reconstructed once at the end.
    val Held(edges, edgesH) = Held.cached(Tables.orders(s, dir)
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("src"),
        (col("l_partkey").cast("long") * 2 + 1).as("dst"))
      .distinct().repartition(col("src")).sortWithinPartitions("src"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("double").as("deg"))
    // the node's out-degree is STATIC — folding it into the node frame
    // (and carrying it on every rank frame) removes the deg join AND the
    // dangling anti-join from the loop body entirely: contribution weights
    // and the dangling mass become row-local projections of the previous
    // iteration's frame. nodeMeta is partitioned + sorted on node once so
    // each iteration's update join reuses the layout.
    val Held(nodeMeta, nodeMetaH) = Held.cached(nodes.join(deg, Seq("node"), "left")
      .repartition(col("node")).sortWithinPartitions("node"))
    // AQE materializes every query stage as its own job; across K
    // iterations of small fixed-shape stages that is ~10 driver
    // round-trips per iteration of pure scheduling latency. The loop's
    // stage sizes are known (O(nodes) frames, one pre-partitioned edge
    // join), so run the ITERATION BODY with AQE off and restore after —
    // the returned plan (and every other query) keeps AQE.
    val aqeWas = s.conf.get("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // node count: collected ONCE for the whole loop (it is one row over
      // the cached node frame)
      val nCol = lit(nodeMeta.agg(count(lit(1)).cast("double")).head.getDouble(0))
      var ranks = nodeMeta
        .select(col("node"), round(lit(1.0) / nCol, 8).as("r"), col("deg"))
      var last: Option[DataFrame] = None // the checkpoint `ranks` reads
      for (_ <- 1 to PrIters) {
        // the fused pass: one shuffle carries both the per-dst
        // contributions and the dangling-mass sentinel row
        val agg = Held(ranks.join(edges, col("node") === col("src"), "left")
          .select(coalesce(col("dst"), lit(PrDangKey)).as("__n"),
            when(col("dst").isNotNull, col("r") / col("deg"))
              .otherwise(col("r")).as("__w"))
          .groupBy("__n").agg(sum("__w").as("__sum")))
          .checkpointed()
        last.foreach(Held.release)
        last = Some(agg)
        val contrib = agg.filter(col("__n") =!= PrDangKey)
          .select(col("__n").as("node"), col("__sum").as("contrib"))
        // dangling mass: O(1) rows off the checkpointed aggregate
        val dmCol = lit(agg.filter(col("__n") === PrDangKey)
          .agg(coalesce(sum("__sum"), lit(0.0))).head.getDouble(0))
        ranks = nodeMeta
          .join(contrib, Seq("node"), "left")
          .select(col("node"), round(
            lit(0.15) / nCol + lit(0.85) *
              (coalesce(col("contrib"), lit(0.0)) + dmCol / nCol),
            8).as("r"), col("deg"))
      }
      Held(ranks.select(
        concat(when(col("node") % 2 === 0, lit("c:")).otherwise(lit("p:")),
          shiftright(col("node"), 1)).as("node"),
        col("r").as("rank")).orderBy("node"), edgesH ++ nodeMetaH ++ last)
    } finally s.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  /** DuckDB twin: the identical iteration unrolled as chained CTEs with
    * the identical 8-dp per-iteration rounding. */
  private def pagerankSql: String = {
    val base =
      """edges AS (SELECT DISTINCT 'c:' || o_custkey AS src, 'p:' || l_partkey AS dst
        |   FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        | nodes AS (SELECT DISTINCT node FROM
        |   (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
        | nc AS (SELECT count(*)::DOUBLE AS n_nodes FROM nodes),
        | deg AS (SELECT src, count(*)::DOUBLE AS deg FROM edges GROUP BY src),
        | pr0 AS (SELECT node, round(1.0::DOUBLE / n_nodes, 8) AS r FROM nodes, nc)"""
        .stripMargin
    val steps = (1 to PrIters).map { i =>
      val p = s"pr${i - 1}"
      s""" c$i AS (SELECT e.dst AS node, sum(p.r / d.deg) AS contrib
         |   FROM $p p JOIN deg d ON p.node = d.src JOIN edges e ON p.node = e.src
         |   GROUP BY e.dst),
         | dg$i AS (SELECT coalesce(sum(p.r), 0.0::DOUBLE) AS dm FROM $p p
         |   WHERE p.node NOT IN (SELECT src FROM deg)),
         | pr$i AS (SELECT n.node, round(0.15::DOUBLE / nc.n_nodes + 0.85::DOUBLE *
         |     (coalesce(c.contrib, 0.0::DOUBLE) + dg.dm / nc.n_nodes), 8) AS r
         |   FROM nodes n CROSS JOIN nc CROSS JOIN dg$i dg
         |   LEFT JOIN c$i c ON n.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
       |$steps
       |SELECT node, r AS rank FROM pr$PrIters ORDER BY node""".stripMargin
  }

  // ----------------------------------------------- market-basket mining

  // ≥2 shared orders: the data's basket overlap thins as parts scale with
  // SF (max pair support is 5 at sf0.001 but 3 at sf0.1), so a higher
  // floor would empty the result at bench scale; the top-k cut below is
  // the real selectivity control
  private val CooccurMinSupport = 2
  private val CooccurTopK       = 50

  // Three graph queries (item_cooccur, triangle_count, label_prop) mine
  // the SAME co-purchase structure: the distinct (order, part) incidence
  // list and the ≥2-shared-orders pair frame. Both end in a shuffle that
  // every reader in one plan shares through exchange reuse; both are
  // O(rows·basket)-bounded, tiny next to the corpus at any SF.

  /** (incidence, pairs): inc = distinct (ok, pk); pairs = (a, b, n_ab)
    * with a < b and n_ab ≥ [[CooccurMinSupport]]. */
  private def coPurchaseOf(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val inc = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val pairs = inc.select(col("ok"), col("pk").as("a"))
      .join(inc.select(col("ok"), col("pk").as("b")), "ok")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= CooccurMinSupport)
    (inc, pairs)
  }

  /** Market-basket lift: part pairs that co-occur in the same order far
    * more often than chance — lift(a,b) = P(a,b)/(P(a)·P(b)) over orders.
    * The pair generation is a self-join of the (order, part) incidence
    * list on the order key: fan-out per order is bounded by items/order,
    * so the intermediate is O(rows · basket), never quadratic in parts or
    * orders. Lift = (n_ab·N)/(n_a·n_b) — exact 64-bit integer products,
    * one final double division: bit-identical across engines, so the
    * top-k cut is deterministic. */
  def itemCooccur(s: SparkSession, dir: String): DataFrame = {
    val (inc, pairFrame) = coPurchaseOf(s, dir)
    val nOrders = Tables.orders(s, dir)
      .agg(count(lit(1)).as("n_orders"))
    val itemN = inc.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
    val pairs = pairFrame
      .select(col("a").as("pa"), col("b").as("pb"), col("n_ab"))
    pairs
      .join(itemN.select(col("pk").as("pa"), col("n_item").as("n_a")), "pa")
      .join(itemN.select(col("pk").as("pb"), col("n_item").as("n_b")), "pb")
      .crossJoin(broadcast(nOrders))
      .withColumn("lift",
        (col("n_ab") * col("n_orders")).cast("double") /
          (col("n_a") * col("n_b")).cast("double"))
      .select(col("pa"), col("pb"), col("n_ab"), round(col("lift"), 6).as("lift"))
      .orderBy(desc("lift"), asc("pa"), asc("pb"))
      .limit(CooccurTopK)
  }

  // ------------------------------------------------- triangle counting

  /** Triangle census of the co-purchase graph (parts sharing ≥ 2 orders),
    * with the DEGREE-ORDERED enumeration (Ortmann & Brandes / the classic
    * compact-forward algorithm): every edge is oriented from its
    * lower-(degree, id) endpoint, wedges are enumerated only from each
    * vertex's out-neighbors, and each triangle is found exactly once at
    * its lowest-degree corner. That bounds the wedge join at
    * O(Σ_v outdeg(v)²) ≤ O(E^1.5) — the shape that survives power-law
    * graphs where a naive wedge count explodes at the hubs. All joins are
    * keyed; counts are exact integers. */
  def triangleCount(s: SparkSession, dir: String): DataFrame = {
    val e = coPurchaseOf(s, dir)._2.select("a", "b")
    val deg = e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val o = e
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("a")).otherwise(col("b")).as("u"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("b")).otherwise(col("a")).as("v"))
    val w = o.select(col("u"), col("v").as("x"))
      .join(o.select(col("u"), col("v").as("y")), "u")
      .filter(col("x") < col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
    val nTri = w.join(e, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nE = e.agg(count(lit(1)).as("n_edges"))
    val nW = w.agg(count(lit(1)).as("n_wedges"))
    nE.crossJoin(broadcast(nW)).crossJoin(broadcast(nTri))
  }

  // ------------------------------------------- label propagation (LPA)

  private val LpaIters = 4

  /** Community detection by synchronous label propagation (Raghavan et al.
    * 2007) over the co-purchase part graph: every node starts as its own
    * label; each round it adopts the most frequent label among its
    * neighbors (ties → smallest label — the determinization that makes
    * LPA reproducible, which the usual random-order variant is not).
    *
    * Scale shape matches [[pagerank]]: the doubled edge list is
    * partitioned + sorted on src ONCE and cached; each round is one keyed
    * join against it + one (node, label) count + one argmax-by-min-struct
    * agg — no windows, no driver state, integer counts only (nothing to
    * round). A per-round checkpoint kills the 2^K lazy-tree blowup;
    * AQE pauses inside the loop like the PageRank body. */
  def labelProp(s: SparkSession, dir: String): Held = {
    val e = coPurchaseOf(s, dir)._2
    val Held(ed, edH) = Held.cached(e.select(col("a").as("s"), col("b").as("d"))
      .unionAll(e.select(col("b").as("s"), col("a").as("d")))
      .repartition(col("s")).sortWithinPartitions("s"))
    var lab = ed.select(col("s").as("node")).distinct()
      .withColumn("lbl", col("node"))
    val aqeWas = s.conf.get("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try for (t <- 1 to LpaIters) {
      val last = lab
      // ONE exchange per round: repartition by d once — HashPartitioning(d)
      // satisfies the clustering of BOTH the (d, lbl) count and the argmax
      // agg (rows equal on (d,lbl) are equal on d), so the two aggregates
      // ride the same exchange instead of shuffling twice
      lab = Held(lab.join(ed, col("node") === col("s"))
        .select("d", "lbl") // project before the exchange (guide §2.3)
        .repartition(col("d"))
        .groupBy(col("d"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("d").as("node"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l")))
          .getField("l").as("lbl")))
        .checkpointed()
      if (t > 1) Held.release(last)
    } finally s.conf.set("spark.sql.adaptive.enabled", aqeWas)
    Held(lab.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("size"), min("node").as("min_member"))
      .orderBy(desc("size"), asc("community")).limit(20), edH :+ lab)
  }

  private def labelPropSql: String = {
    val base =
      s"""inc AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         | e AS (SELECT a.pk AS a, b.pk AS b FROM inc a
         |   JOIN inc b ON a.ok = b.ok AND a.pk < b.pk
         |   GROUP BY 1, 2 HAVING count(*) >= $CooccurMinSupport),
         | ed AS (SELECT a AS s, b AS d FROM e UNION ALL SELECT b, a FROM e),
         | lab0 AS (SELECT DISTINCT s AS node, s AS lbl FROM ed)""".stripMargin
    val steps = (1 to LpaIters).map { i =>
      s""" cnt$i AS (SELECT ed.d AS node, l.lbl, count(*) AS c
         |   FROM ed JOIN lab${i - 1} l ON ed.s = l.node GROUP BY 1, 2),
         | lab$i AS (SELECT node, lbl FROM (
         |   SELECT node, lbl, row_number() OVER
         |     (PARTITION BY node ORDER BY c DESC, lbl) AS rn FROM cnt$i)
         |   WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $base,
       |$steps
       |SELECT lbl AS community, count(*)::BIGINT AS size,
       | min(node) AS min_member
       |FROM lab$LpaIters GROUP BY 1
       |ORDER BY size DESC, community LIMIT 20""".stripMargin
  }

  // ------------------------------------------------- sequential patterns

  /** Frequent 3-event sequences (consecutive event-type trigrams within a
    * user's timeline) — sequence mining's workhorse query. One keyed
    * window (two leads) + one partial aggregate; integer counts only. */
  def seqMining(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    withUs(s, dir)
      .withColumn("b", lead(col("event_type"), 1).over(w))
      .withColumn("c", lead(col("event_type"), 2).over(w))
      .filter(col("c").isNotNull)
      .groupBy(col("event_type").as("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("a"), asc("b"), asc("c"))
      .limit(20)
  }

  // ---------------------------------------------- per-group reservoir

  private val SamplePerGroup = 3

  /** Deterministic k-per-group reservoir: rank rows inside each group by
    * an md5 coin on the row key and keep the first k. Identical sample in
    * any engine (and on any re-run over the same data) — the property
    * `TABLESAMPLE`/`rand()` cannot give. The rank filter is pushed down
    * as WindowGroupLimit: each task keeps only k rows per group before
    * the exchange. */
  def groupSample(s: SparkSession, dir: String): DataFrame =
    groupSampleOf(Tables.events(s, dir))

  /** Same over any frame with (event_type, event_id, value) — the form
    * the streaming-equality spec replays (twin: StreamOps.reservoirSample). */
  def groupSampleOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(md5(col("event_id").cast("string")), col("event_id"))
    events
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= SamplePerGroup)
      .select(col("event_type"), col("rnk"), col("event_id"),
        round(col("value"), 4).as("value"))
      .orderBy("event_type", "rnk")
  }

  // -------------------------------------------------- EWMA smoothing

  private val EwmaWindow = 9 // rows of history (10 total incl. current)

  /** Per-user exponentially-weighted moving average of `value` over the
    * last 10 events, α = 1/2: ewma_t = Σ_{d=0..9} 2^{-d}·x_{t-d} / Σ 2^{-d}.
    * Powers of two are EXACT doubles, so the only cross-engine freedom is
    * 10-term summation order (~1e-16) — quantized away by the 6-dp round.
    * Expressed as an equi-keyed self-join on (user, row-offset ≤ 9): one
    * sort-merge join partitioned on user_id with fan-out ≤ 10, the shape
    * that survives any scale (a varying-weight frame is not expressible
    * as a built-in window aggregate without buffering).
    *
    * The band join is BLOCKED, not bare: a bare equi-join on user_id with
    * the row-offset range as a post-filter generates n² pairs for an
    * n-event user before filtering — a heavy key dies at scale. Blocking
    * on bucket = rn div (W+1) (each current row probes its own and the
    * previous bucket) turns it into an equi-join on (user_id, bucket)
    * with fan-out ≤ 2·(W+1) per row REGARDLESS of the user's size. */
  def ewmaSmooth(s: SparkSession, dir: String): DataFrame =
    ewmaSmoothOf(withUs(s, dir))

  /** Same over any frame with (user_id, event_id, value, us) — the form
    * the streaming-equality spec replays (twin: StreamOps.ewmaSmooth). */
  def ewmaSmoothOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val bkt = EwmaWindow + 1
    val seq = events
      .withColumn("rn", row_number().over(w))
      .select(col("user_id"), col("rn"), col("event_id"), col("value"))
    val cur = seq.select(col("user_id"), col("rn"), col("event_id"))
      .withColumn("bucket", explode(array(
        (col("rn") / bkt).cast("int") - 1, (col("rn") / bkt).cast("int"))))
    val past = seq.select(col("user_id"), col("rn").as("prn"),
        col("value").as("pv"))
      .withColumn("bucket", (col("prn") / bkt).cast("int"))
    cur.join(past, Seq("user_id", "bucket"))
      .filter(col("prn") >= col("rn") - EwmaWindow && col("prn") <= col("rn"))
      .withColumn("wt", pow(lit(0.5), col("rn") - col("prn")))
      .groupBy("user_id", "rn", "event_id")
      .agg(round(sum(col("wt") * col("pv")) / sum(col("wt")), 6).as("ewma"))
      .orderBy("user_id", "rn")
  }

  // ------------------------------------------------- CUSUM changepoints

  private val CusumSlackSd  = 0.5 // k, in global-σ units
  private val CusumThreshSd = 5.0 // h, in global-σ units

  /** One-sided CUSUM changepoint detection per user: the classic recurrence
    * C_t = max(0, C_{t-1} + x_t − μ − k) fires an alert when C_t > h
    * (k = 0.5σ slack, h = 5σ threshold on the global event-value moments).
    *
    * The recurrence looks inherently sequential, but rebasing turns it into
    * two stock windows: with S_t = Σ_{j≤t}(x_j − μ − k) and S_0 = 0,
    * C_t = S_t − min(0, min_{j≤t} S_j) — a prefix sum and a running min,
    * both partitioned on user_id. Same identity the streaming twin keeps as
    * O(1) state ([[graft.streaming.StreamOps.cusumAlerts]]: just (S, minS)
    * per user). μ and σ are rounded to 6 dp BEFORE use so the only floats
    * entering the per-user scan are engine-identical; the per-user
    * cumulative sums then add the same values in the same window order in
    * any engine, making the alert set exactly reproducible. */
  def cusumAlerts(s: SparkSession, dir: String): DataFrame =
    cusumAlertsOf(withUs(s, dir))

  /** Same over any frame with (user_id, event_id, value, us) — the form
    * the streaming-equality spec replays. */
  def cusumAlertsOf(events: DataFrame): DataFrame = {
    // μ + k·σ is rounded as ONE 6-dp constant: rounding μ and σ separately
    // would land every prefix sum on the half-micro grid (k = 0.5 of a
    // 6-dp value ends in 5e-7), where the output round() becomes an
    // engine-dependent tie-break
    val st = events.agg(
      round(avg("value") + lit(CusumSlackSd) * stddev_samp(col("value")), 6)
        .as("mk"),
      round(stddev_samp(col("value")), 6).as("sd"))
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    events.crossJoin(broadcast(st))
      .withColumn("rn", row_number().over(w))
      .withColumn("s",
        sum(col("value") - col("mk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("ms", min(col("s")).over(
        Window.partitionBy("user_id").orderBy("rn")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cusum", col("s") - least(lit(0.0), col("ms")))
      .filter(col("cusum") > lit(CusumThreshSd) * col("sd"))
      .select(col("user_id"), col("rn"), col("event_id"),
        round(col("cusum"), 6).as("cusum"))
      .orderBy("user_id", "rn")
  }

  // ------------------------------------------------- count-min sketch

  private val CmsWidth = 1024
  private val CmsPrime = 2147483647L
  /** Four independent universal-hash rows ((a·k + b) mod p mod w) — plain
    * 64-bit integer arithmetic so any engine computes the identical
    * sketch. */
  private val CmsHashes: Seq[(Long, Long)] = Seq(
    (1103515245L, 12345L), (214013L, 2531011L),
    (22695477L, 1L), (1664525L, 1013904223L))

  /** Count-min sketch (Cormode & Muthukrishnan 2005) over part keys, with
    * its estimates audited against exact counts for the top-20 keys. The
    * sketch IS a partial aggregate: each task folds its rows into d·w
    * counters and the shuffle carries only the 4×1024 counter grid —
    * the mergeable-summary shape that turns a 100 TB frequency scan into
    * a KB-sized exchange. Estimates are min over the d rows; CMS
    * guarantees est ≥ exact (never undercounts), which the spec asserts
    * together with the ε·N overcount bound. */
  def cmsEstErr(s: SparkSession, dir: String): DataFrame = {
    val keys = Tables.lineitem(s, dir).select(col("l_partkey").as("k"))
    // reduce the key mod p BEFORE the multiply: a·(k mod p) peaks at
    // ~2.4e18 (inside int64) for the largest multiplier, where the raw
    // a·k product overflows — silently wrapping into negative buckets in
    // Spark while DuckDB raises — once keys pass ~8.4e9 (well inside
    // 100 TB id space). ((a·(k mod p)) mod p + b) mod p ≡ (a·k + b) mod p,
    // so small-key results are unchanged.
    def hashStructs = array(CmsHashes.zipWithIndex.map { case ((a, b), i) =>
      struct(lit(i).as("row"),
        ((((lit(a) * (col("k") % CmsPrime)) % CmsPrime + lit(b)) % CmsPrime)
          % CmsWidth).as("bucket"))
    }: _*)
    val sketch = keys.select(explode(hashStructs).as("h"))
      .select(col("h.row").as("row"), col("h.bucket").as("bucket"))
      .groupBy("row", "bucket").agg(count(lit(1)).as("cnt"))
    val top = keys.groupBy("k").agg(count(lit(1)).as("exact"))
      .orderBy(desc("exact"), asc("k")).limit(20)
    top.select(col("k"), col("exact"), explode(hashStructs).as("h"))
      .select(col("k"), col("exact"), col("h.row").as("row"),
        col("h.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy("k", "exact").agg(min("cnt").as("est"))
      .withColumn("overcount", col("est") - col("exact"))
      .orderBy(desc("exact"), asc("k"))
  }

  // ------------------------------------------------------- HyperLogLog

  private val HllM      = 256                 // registers (p = 8)
  /** α_m·m² for m = 256 — the bias constant from Flajolet et al. 2007. */
  private val HllAm2    = 0.7213 / (1 + 1.079 / HllM) * HllM * HllM

  /** HyperLogLog distinct-count sketch (Flajolet et al. 2007) with its
    * estimates audited against exact distincts per event type — the
    * mergeable-summary complement of [[cmsEstErr]]: CMS summarizes
    * FREQUENCIES in d·w counters, HLL summarizes CARDINALITY in m
    * one-byte registers. Like CMS, the sketch IS a partial aggregate
    * (per-(group, register) max of ρ), so a 100 TB distinct-count scan
    * shuffles m rows per group, and sketches of corpus shards merge by
    * register-wise max. The hash is the same integer universal family as
    * CMS (48-bit range); ρ rides `bin()` string length — identical in any
    * engine, no float until the final estimate. Includes the standard
    * small-range linear-counting correction (E ≤ 2.5m with empty
    * registers), which the ~5 event types at test SF actually exercise.
    * Register sums Σ2^−M are dyadic — exact in doubles in any sum order.
    *
    * Unlike CMS (where a pairwise-independent linear hash suffices for the
    * expectation bound), HLL estimates from the GEOMETRY of leading-zero
    * runs, so the hash must avalanche — a linear (a·k+b) mod p map of
    * sequential ids gave 50% bias here, measured. The mixer below is a
    * 31-bit murmur-style finalizer (two multiply + xor-shift rounds) in
    * plain int64 arithmetic every engine reproduces exactly. */
  def hllEstErr(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_type").as("t"), col("user_id").as("k"))
    val hashed = e
      .withColumn("h", expr("((k % 2147483648) * 2654435761) % 2147483648"))
      .withColumn("h", expr("h ^ (h div 65536)"))
      .withColumn("h", expr("(h * 40503) % 2147483648"))
      .withColumn("h", expr("h ^ (h div 8192)"))
      .withColumn("bucket", col("h") % HllM)
      .withColumn("w", expr(s"h div $HllM"))
      .withColumn("rho",
        when(col("w") === 0, 24).otherwise(lit(24) - length(bin(col("w")))))
    val mx = hashed.groupBy("t", "bucket").agg(max("rho").as("m"))
    val regs = e.select("t").distinct()
      .select(col("t"), explode(sequence(lit(0), lit(HllM - 1))).as("bucket"))
      .join(mx, Seq("t", "bucket"), "left")
      .withColumn("m", coalesce(col("m"), lit(0)))
    val agg = regs.groupBy("t").agg(
      sum(pow(lit(2.0), -col("m"))).as("z"),
      sum(when(col("m") === 0, 1).otherwise(0)).as("v"))
    val est = agg
      .withColumn("e_raw", lit(HllAm2) / col("z"))
      .withColumn("est", round(
        when(col("e_raw") <= lit(2.5 * HllM) && col("v") > 0,
          lit(HllM.toDouble) * log(lit(HllM.toDouble) / col("v")))
          .otherwise(col("e_raw")), 4))
    e.groupBy("t").agg(countDistinct("k").as("exact"))
      .join(est.select("t", "est"), "t")
      .withColumn("err_pct",
        round((col("est") - col("exact")) / col("exact") * 100, 4)
          + lit(0.0))
      .select(col("t").as("event_type"), col("exact"), col("est"),
        col("err_pct"))
      .orderBy("event_type")
  }

  // ------------------------------------------------ KMV distinct sketch

  private val KmvK = 64

  /** KMV / bottom-k distinct-count sketch (Bar-Yossef et al. 2002) with
    * its estimates audited against exact distincts — the DETERMINISTIC
    * member of the cardinality-sketch family: where [[hllEstErr]] needs an
    * avalanching hash and carries bias bands, KMV keeps the k smallest
    * hash values and estimates (k−1)/h₍k₎, and because the hash here is
    * the repo's standard md5 coin, every engine computes the identical
    * sketch AND the identical estimate (no tolerance, hash-exact oracle).
    *
    * Scale shape: one distinct per (group, member) — the same shuffle the
    * exact count needs — then the per-group bottom-k rides the
    * WindowGroupLimit pushdown ([[groupSample]]'s pattern: each task keeps
    * only k rows per group before the exchange, so the window stage moves
    * O(groups·k·partitions) rows, not the corpus). Sketches of corpus
    * shards merge by keeping the k smallest of the union — the mergeable-
    * summary property CMS/HLL share. Groups with fewer than k members
    * report their exact count (the standard small-range rule). */
  def kmvEstErr(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_type").as("t"), col("user_id").as("k"))
      .distinct() // one member row per (group, user): both the sketch
                  // and the exact audit read its exchange
    val topk = e
      .withColumn("h", graft.functions.GraftFunctions.md5Coin(col("k")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("t").orderBy(col("h"), col("k"))))
      .filter(col("rnk") <= KmvK)
    val est = topk.groupBy("t")
      .agg(count(lit(1)).as("nh"), max("h").as("hk"))
      .withColumn("est", round(
        when(col("nh") < KmvK, col("nh").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) / col("hk")), 4))
    e.groupBy("t").agg(count(lit(1)).as("exact"))
      .join(est.select("t", "est"), "t")
      .withColumn("err_pct",
        round((col("est") - col("exact")) / col("exact") * 100, 4)
          + lit(0.0))
      .select(col("t").as("event_type"), col("exact"), col("est"),
        col("err_pct"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------- Bloom membership

  private val BloomBits = 8192
  private val BloomHashes: Seq[(Long, Long)] =
    Seq((2654435761L, 1013904223L), (22695477L, 12345L))

  /** Bloom-filter membership audit (Bloom 1970) — the third mergeable
    * summary next to CMS (frequency) and HLL/KMV (cardinality): SET
    * MEMBERSHIP in m bits. The filter is built over a dimension subset
    * (every 10th part), probed with the fact side's distinct part keys,
    * and audited against ground truth: a Bloom filter must have ZERO
    * false negatives (every member probe positive — the spec asserts it)
    * and a measurable false-positive rate the output reports.
    *
    * This is the RUNTIME-FILTER shape at 100 TB: the built bit set is at
    * most m rows (broadcast — the probe side never shuffles), the build
    * is a distinct partial aggregate over the dim, and shard filters
    * merge by bit-OR (set union of the bit rows). Hashes are the CMS
    * integer family with the same key-reduction overflow guard, so the
    * grid is engine-exact and the audit replays hash-identically. */
  def bloomFilter(s: SparkSession, dir: String): DataFrame = {
    def bitsOf(c: org.apache.spark.sql.Column) = BloomHashes.map {
      case (a, b) =>
        ((((lit(a) * (c % CmsPrime)) % CmsPrime + lit(b)) % CmsPrime)
          % BloomBits).as("bit")
    }
    val dim = Tables.part(s, dir).filter(col("p_partkey") % 10 === 0)
      .select(col("p_partkey").as("k"))
    val bits = dim.select(explode(array(bitsOf(col("k")): _*)).as("bit"))
      .distinct()
    val probes = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("pk")).distinct()
    val probeBits = probes
      .select(col("pk"), explode(array(bitsOf(col("pk")): _*)).as("bit"))
    val perProbe = probeBits
      .join(broadcast(bits.withColumn("__in", lit(1))), Seq("bit"), "left")
      .groupBy("pk")
      .agg((count(lit(1)) === sum(coalesce(col("__in"), lit(0))))
        .as("bloom_pos"))
      .withColumn("member", col("pk") % 10 === 0)
    perProbe
      .agg(count(lit(1)).as("n_probes"),
        sum(col("member").cast("long")).as("n_members"),
        sum(col("bloom_pos").cast("long")).as("n_positives"),
        sum((col("bloom_pos") && !col("member")).cast("long"))
          .as("n_false_pos"))
      .crossJoin(broadcast(bits.agg(count(lit(1)).as("bits_set"))))
      .withColumn("fp_pct", round(
        col("n_false_pos").cast("double")
          / (col("n_probes") - col("n_members")) * 100, 4))
  }

  // ---------------------------------------------- interval sweep (peak)

  private val ConcSessionGapUs = 600L * 1000000 // 10-min session gap

  /** Peak concurrency — the classic interval-stabbing sweep: sessionize
    * each user (10-min gap), turn every session into a +1 at its start and
    * a −1 at its end, and take the running sum over the GLOBAL time order.
    * The answer is the maximum concurrent sessions and the first instant
    * it occurs — capacity planning's favorite number.
    *
    * The global sweep is the scale-hostile part (a bare
    * `Window.orderBy(us)` serializes the corpus into one task), so it
    * rides [[graft.plans.GlobalRank.withRunningSums]]: range-partition on
    * the sweep order, per-partition running sums, O(partitions) offsets —
    * every stage partition-parallel. Ties are ordered starts-first
    * (d DESC) so back-to-back sessions count as overlapping at the
    * boundary instant, deterministically in any engine. */
  def peakConcurrency(s: SparkSession, dir: String): Held = {
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val sess = withUs(s, dir)
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_s", when(col("prev_us").isNull ||
        col("us") - col("prev_us") > ConcSessionGapUs, 1).otherwise(0))
      .withColumn("seq", sum("new_s").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "seq")
      .agg(min("us").as("start_us"), max("us").as("end_us"))
    val deltas = sess.select(col("start_us").as("us"), lit(1).as("d"))
      .unionAll(sess.select(col("end_us").as("us"), lit(-1).as("d")))
    graft.plans.GlobalRank
      .withRunningSums(deltas, Seq(col("us"), col("d").desc), Seq("d" -> "conc"))._1
      .map(_.orderBy(desc("conc"), asc("us"), desc("d")).limit(1)
        .select(col("conc").cast("bigint").as("peak"), col("us").as("at_us")))
  }

  // ---------------------------------------------------------- registry

  protected def direct: Map[String, (SparkSession, String) => DataFrame] = Map(
    "triangle_count" -> triangleCount,
    "item_cooccur" -> itemCooccur,
    "seq_mining" -> seqMining,
    "group_sample" -> groupSample,
    "ewma_smooth" -> ewmaSmooth,
    "cusum_alerts" -> cusumAlerts,
    "cms_est_err" -> cmsEstErr,
    "hll_est_err" -> hllEstErr,
    "kmv_est_err" -> kmvEstErr,
    "bloom_filter" -> bloomFilter)

  override val held: Map[String, (SparkSession, String) => Held] = Map(
    "pagerank" -> pagerank,
    "peak_concurrency" -> peakConcurrency,
    "label_prop" -> labelProp)

  private val eventsUs =
    """e AS (SELECT user_id, event_id, event_type, value,
      |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)""".stripMargin

  def oracle: Map[String, String] = Map(
    "pagerank" -> pagerankSql,
    "label_prop" -> labelPropSql,
    "triangle_count" ->
      s"""WITH inc AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         | e AS (SELECT a.pk AS a, b.pk AS b FROM inc a
         |   JOIN inc b ON a.ok = b.ok AND a.pk < b.pk
         |   GROUP BY 1, 2 HAVING count(*) >= $CooccurMinSupport),
         | deg AS (SELECT n AS node, count(*) AS d FROM
         |   (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n),
         | o AS (SELECT
         |   CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS u,
         |   CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS v
         |  FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node),
         | w AS (SELECT least(o1.v, o2.v) AS a, greatest(o1.v, o2.v) AS b
         |  FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v)
         |SELECT (SELECT count(*)::BIGINT FROM e) AS n_edges,
         |  (SELECT count(*)::BIGINT FROM w) AS n_wedges,
         |  (SELECT count(*)::BIGINT FROM w JOIN e USING (a, b)) AS n_triangles"""
        .stripMargin,
    "item_cooccur" ->
      s"""WITH inc AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         | n AS (SELECT count(*)::BIGINT AS n_orders FROM orders),
         | itemn AS (SELECT pk, count(*)::BIGINT AS n_item FROM inc GROUP BY pk),
         | pairs AS (SELECT a.pk AS pa, b.pk AS pb, count(*)::BIGINT AS n_ab
         |   FROM inc a JOIN inc b ON a.ok = b.ok AND a.pk < b.pk
         |   GROUP BY 1, 2 HAVING count(*) >= $CooccurMinSupport)
         |SELECT pa, pb, n_ab,
         |  round((n_ab * n_orders)::DOUBLE / (ia.n_item * ib.n_item)::DOUBLE, 6) AS lift
         |FROM pairs, n
         |  JOIN itemn ia ON pa = ia.pk JOIN itemn ib ON pb = ib.pk
         |ORDER BY lift DESC, pa, pb LIMIT $CooccurTopK""".stripMargin,
    "seq_mining" ->
      s"""WITH $eventsUs,
         | tri AS (SELECT event_type AS a,
         |   lead(event_type, 1) OVER w AS b, lead(event_type, 2) OVER w AS c
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
         |SELECT a, b, c, count(*)::BIGINT AS n FROM tri WHERE c IS NOT NULL
         |GROUP BY a, b, c ORDER BY n DESC, a, b, c LIMIT 20""".stripMargin,
    "group_sample" ->
      s"""WITH r AS (SELECT event_type, event_id, value,
         |   row_number() OVER (PARTITION BY event_type
         |     ORDER BY md5(event_id::VARCHAR), event_id) AS rnk
         |  FROM events)
         |SELECT event_type, rnk, event_id, round(value, 4) AS value
         |FROM r WHERE rnk <= $SamplePerGroup ORDER BY event_type, rnk""".stripMargin,
    "cusum_alerts" ->
      s"""WITH $eventsUs,
         | st AS (SELECT round(avg(value) + $CusumSlackSd * stddev_samp(value), 6) AS mk,
         |   round(stddev_samp(value), 6) AS sd FROM e),
         | s AS (SELECT user_id, event_id,
         |   row_number() OVER w AS rn,
         |   sum(value - mk) OVER
         |     (PARTITION BY user_id ORDER BY us, event_id
         |      ROWS UNBOUNDED PRECEDING) AS s
         |  FROM e, st WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         | m AS (SELECT user_id, rn, event_id, s,
         |   min(s) OVER (PARTITION BY user_id ORDER BY rn
         |     ROWS UNBOUNDED PRECEDING) AS ms FROM s)
         |SELECT user_id, rn, event_id,
         |  round(s - least(0, ms), 6) AS cusum
         |FROM m, st WHERE s - least(0, ms) > $CusumThreshSd * sd
         |ORDER BY user_id, rn""".stripMargin,
    "hll_est_err" ->
      s"""WITH e AS (SELECT event_type AS t, user_id AS k FROM events),
         | m1 AS (SELECT t, ((k % 2147483648) * 2654435761) % 2147483648 AS h FROM e),
         | m2 AS (SELECT t, xor(h, h // 65536) AS h FROM m1),
         | m3 AS (SELECT t, (h * 40503) % 2147483648 AS h FROM m2),
         | hh AS (SELECT t, xor(h, h // 8192) AS h FROM m3),
         | rr AS (SELECT t, h % $HllM AS bucket,
         |   CASE WHEN h // $HllM = 0 THEN 24
         |     ELSE 24 - length(bin(h // $HllM)) END AS rho FROM hh),
         | mx AS (SELECT t, bucket, max(rho) AS m FROM rr GROUP BY 1, 2),
         | reg AS (SELECT t, r.b AS bucket FROM (SELECT DISTINCT t FROM e),
         |   range(0, $HllM) r(b)),
         | rg AS (SELECT reg.t, reg.bucket, coalesce(mx.m, 0) AS m
         |   FROM reg LEFT JOIN mx ON reg.t = mx.t AND reg.bucket = mx.bucket),
         | ag AS (SELECT t, sum(pow(2.0, -m)) AS z,
         |   sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS v FROM rg GROUP BY t),
         | est AS (SELECT t, round(CASE
         |     WHEN $HllAm2 / z <= ${2.5 * HllM} AND v > 0
         |       THEN ${HllM.toDouble} * ln(${HllM.toDouble} / v)
         |     ELSE $HllAm2 / z END, 4) AS est FROM ag),
         | ex AS (SELECT t, count(DISTINCT k)::BIGINT AS exact FROM e GROUP BY t)
         |SELECT ex.t AS event_type, exact, est,
         |  round((est - exact) / exact * 100, 4) + 0.0 AS err_pct
         |FROM ex JOIN est USING (t) ORDER BY event_type""".stripMargin,
    "peak_concurrency" ->
      s"""WITH $eventsUs,
         | s1 AS (SELECT user_id, event_id, us,
         |   lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
         |  FROM e),
         | s2 AS (SELECT user_id, us, event_id,
         |   CASE WHEN prev_us IS NULL OR us - prev_us > $ConcSessionGapUs
         |     THEN 1 ELSE 0 END AS new_s FROM s1),
         | s3 AS (SELECT user_id, us,
         |   sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
         |     ROWS UNBOUNDED PRECEDING) AS seq FROM s2),
         | sess AS (SELECT user_id, seq, min(us) AS start_us, max(us) AS end_us
         |  FROM s3 GROUP BY 1, 2),
         | d AS (SELECT start_us AS us, 1 AS d FROM sess
         |   UNION ALL SELECT end_us, -1 FROM sess),
         | c AS (SELECT us, d, sum(d) OVER (ORDER BY us, d DESC
         |   ROWS UNBOUNDED PRECEDING) AS conc FROM d)
         |SELECT conc::BIGINT AS peak, us AS at_us FROM c
         |ORDER BY conc DESC, us ASC, d DESC LIMIT 1""".stripMargin,
    "cms_est_err" ->
      s"""WITH hs(rw, a, b) AS (VALUES
         |   (0, 1103515245, 12345), (1, 214013, 2531011),
         |   (2, 22695477, 1), (3, 1664525, 1013904223)),
         | keys AS (SELECT l_partkey AS k FROM lineitem),
         | sketch AS (SELECT rw,
         |     (((a * (k % $CmsPrime)) % $CmsPrime + b) % $CmsPrime) % $CmsWidth AS bucket,
         |     count(*)::BIGINT AS cnt
         |   FROM keys CROSS JOIN hs GROUP BY 1, 2),
         | top AS (SELECT k, count(*)::BIGINT AS exact FROM keys GROUP BY k
         |   ORDER BY exact DESC, k LIMIT 20)
         |SELECT t.k, t.exact, min(s.cnt)::BIGINT AS est,
         |  (min(s.cnt) - t.exact)::BIGINT AS overcount
         |FROM top t CROSS JOIN hs
         | JOIN sketch s ON s.rw = hs.rw
         |   AND s.bucket =
         |     (((hs.a * (t.k % $CmsPrime)) % $CmsPrime + hs.b) % $CmsPrime) % $CmsWidth
         |GROUP BY t.k, t.exact ORDER BY t.exact DESC, t.k""".stripMargin,
    "kmv_est_err" ->
      s"""WITH e AS (SELECT DISTINCT event_type AS t, user_id AS k FROM events),
         | h AS (SELECT t, k,
         |   ('0x' || substr(md5(k::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS h
         |  FROM e),
         | r AS (SELECT t, h,
         |   row_number() OVER (PARTITION BY t ORDER BY h, k) AS rnk FROM h),
         | s AS (SELECT t, count(*) AS nh, max(h) AS hk FROM r
         |   WHERE rnk <= $KmvK GROUP BY t),
         | est AS (SELECT t, round(CASE WHEN nh < $KmvK THEN nh
         |     ELSE ${(KmvK - 1).toDouble} / hk END, 4) AS est FROM s),
         | ex AS (SELECT t, count(*)::BIGINT AS exact FROM e GROUP BY t)
         |SELECT ex.t AS event_type, exact, est,
         | round((est - exact) / exact * 100, 4) + 0.0 AS err_pct
         |FROM ex JOIN est USING (t) ORDER BY event_type""".stripMargin,
    "bloom_filter" ->
      s"""WITH hs(a, b) AS (VALUES
         |   (${BloomHashes(0)._1}, ${BloomHashes(0)._2}),
         |   (${BloomHashes(1)._1}, ${BloomHashes(1)._2})),
         | dim AS (SELECT p_partkey AS k FROM part WHERE p_partkey % 10 = 0),
         | bits AS (SELECT DISTINCT
         |     (((a * (k % $CmsPrime)) % $CmsPrime + b) % $CmsPrime) % $BloomBits AS bit
         |   FROM dim CROSS JOIN hs),
         | probes AS (SELECT DISTINCT l_partkey AS pk FROM lineitem),
         | pb AS (SELECT pk,
         |     (((a * (pk % $CmsPrime)) % $CmsPrime + b) % $CmsPrime) % $BloomBits AS bit
         |   FROM probes CROSS JOIN hs),
         | ph AS (SELECT pk, count(*) = sum(
         |     CASE WHEN bit IN (SELECT bit FROM bits) THEN 1 ELSE 0 END) AS pos
         |   FROM pb GROUP BY pk),
         | agg AS (SELECT count(*)::BIGINT AS n_probes,
         |   sum(CASE WHEN pk % 10 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_members,
         |   sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS n_positives,
         |   sum(CASE WHEN pos AND pk % 10 <> 0 THEN 1 ELSE 0 END)::BIGINT AS n_false_pos
         |  FROM ph)
         |SELECT n_probes, n_members, n_positives, n_false_pos,
         | (SELECT count(*)::BIGINT FROM bits) AS bits_set,
         | round(n_false_pos::DOUBLE / (n_probes - n_members) * 100, 4) AS fp_pct
         |FROM agg""".stripMargin,
    "ewma_smooth" ->
      s"""WITH $eventsUs,
         | seq AS (SELECT user_id, event_id, value,
         |   row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn
         |  FROM e)
         |SELECT c.user_id, c.rn, c.event_id,
         |  round(sum(power(0.5::DOUBLE, c.rn - p.rn) * p.value) /
         |        sum(power(0.5::DOUBLE, c.rn - p.rn)), 6) AS ewma
         |FROM seq c JOIN seq p ON c.user_id = p.user_id
         |  AND p.rn >= c.rn - $EwmaWindow AND p.rn <= c.rn
         |GROUP BY c.user_id, c.rn, c.event_id
         |ORDER BY c.user_id, c.rn""".stripMargin)
}
