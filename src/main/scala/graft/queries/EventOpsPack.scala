package graft.queries

import graft.Tables
import graft.plans.Held
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-log analytics operators a production pipeline runs constantly:
  * semi-structured (JSON) extraction, latest-wins key compaction, funnel
  * conversion, and key-skew profiling.
  *
  * Scale notes (100 TB): every query is a single-shuffle aggregate over the
  * fact table — no windows over unkeyed partitions, no driver round-trips.
  * `latest_by_key` in particular replaces the row_number()-window idiom
  * (full sort per key) with a partial-aggregating `max(struct(...))`: the
  * map side reduces each partition to one row per key before the shuffle,
  * so the exchange carries |keys| rows, not |events|. JSON extraction is
  * the codegen'd `get_json_object` path — row-local, no UDF.
  */
object EventOpsPack extends QueryPack {

  private def withUs(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))

  /** Semi-structured extraction: pull `props.$.k` (JSON) and aggregate per
    * event type. get_json_object is codegen'd and row-local; at 100 TB the
    * JSON parse cost is the scan cost — no shuffle beyond the final agg. */
  def jsonExtractAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        round(avg("k"), 6).as("avg_k"))
      .orderBy("event_type")

  /** Latest-wins compaction: one row per key holding the most recent
    * event's attributes — the batch form of a streaming upsert/CDC
    * materialization. `max(struct(us, event_id, ...))` orders
    * lexicographically on (us, event_id) (event_id breaks timestamp ties
    * deterministically), aggregates partially map-side, and never sorts:
    * the scale path for "latest record per key" over any table size. */
  def latestByKey(s: SparkSession, dir: String): DataFrame =
    withUs(s, dir)
      .groupBy("user_id")
      .agg(max(struct(col("us"), col("event_id"), col("event_type"),
        col("value"))).as("last"))
      .select(col("user_id"), col("last.event_id").as("last_event"),
        col("last.event_type").as("last_type"),
        round(col("last.value"), 4).as("last_value"))
      .orderBy("user_id")

  /** View→purchase funnel: per-user conditional aggregates (first view,
    * last purchase) then one global reduce — two shuffles total, the second
    * over |users| rows. Conversion = a purchase strictly after the first
    * view, computed identically in any engine from the same micros. */
  def funnelConversion(s: SparkSession, dir: String): DataFrame =
    withUs(s, dir)
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("us"))).as("first_view"),
        max(when(col("event_type") === "purchase", col("us"))).as("last_purchase"))
      .agg(count(lit(1)).as("n_users"),
        count(col("first_view")).as("n_viewers"),
        count(col("last_purchase")).as("n_purchasers"),
        count(when(col("first_view") < col("last_purchase"), lit(1)))
          .as("n_converted"))

  /** Key-skew profile: the top event-generating keys and their share of all
    * rows — what you run BEFORE sizing a salted join (plans.SaltedJoin).
    * counts is |keys|-sized, its total is one scalar broadcast back; no
    * window over the full table. */
  def skewProfile(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir).groupBy("user_id")
      .agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("user_id"), col("n"),
        round(col("n") / col("total"), 6).as("share"))
      .orderBy(desc("n"), asc("user_id"))
      .limit(10)
  }

  /** Weekly cohort retention — the standard growth-analytics matrix: users
    * cohorted by first-seen week, counted per week offset they return.
    * Two keyed shuffles at any scale: user-keyed min-week agg, then the
    * (cohort, offset)-keyed distinct-user count (two-phase partial agg —
    * the exchange carries one row per (cohort, offset, user), never the
    * raw events). Week arithmetic is integer days since epoch over the
    * micros-truncated UTC date, identical in any engine. */
  /** Ordered conversion funnel (view → click → purchase) with STRICT
    * event-order semantics — a user counts at a stage only if that event
    * happened AFTER their qualifying previous-stage event, not merely
    * anywhere in their history (the correctness trap naive presence
    * joins fall into). Three sequential user-keyed min-aggs, each
    * map-side combinable and keyed on the high-cardinality user id — no
    * window, no per-user event sort, no self-join explosion; the scalar
    * stage counts broadcast into one summary row. */
  def funnelSteps(s: SparkSession, dir: String): DataFrame =
    funnelStepsOf(Tables.events(s, dir),
      Seq("view", "click", "purchase"))

  /** The funnel over ANY event frame and ANY ordered stage list (≥2
    * distinct stages) — one sequential user-keyed min-agg per stage,
    * each map-side combinable on the high-cardinality user key; the
    * per-stage scalar counts broadcast into one summary row with
    * `n_<stage>` and `<a>_to_<b>` conversion columns. Cost is
    * |stages| keyed aggregates — stages is a config-sized list, never
    * data-sized. */
  def funnelStepsOf(events: DataFrame, stages: Seq[String],
                    userCol: String = "user_id", tsCol: String = "ts",
                    typeCol: String = "event_type"): DataFrame = {
    require(stages.size >= 2,
      s"funnel needs >= 2 ordered stages, got ${stages.size}")
    require(stages.distinct.size == stages.size,
      s"funnel stages must be distinct, got ${stages.mkString(",")}")
    // stage names become output column names (n_<stage>, <a>_to_<b>) —
    // a dot or backtick would silently break col() resolution
    require(stages.forall(_.matches("[A-Za-z0-9_]+")),
      s"funnel stage names must be [A-Za-z0-9_]+, got ${stages.mkString(",")}")
    val e = events.select(col(userCol).as("user_id"), col(tsCol).as("ts"),
      col(typeCol).as("event_type"))
    // qualifying first-time per stage: an event counts only AFTER the
    // user's qualifying previous-stage time (strict event order)
    val perStage = stages.tail.scanLeft(
      e.filter(col("event_type") === stages.head)
        .groupBy("user_id").agg(min("ts").as("t"))) { (prev, st) =>
      e.filter(col("event_type") === st)
        .join(prev.select(col("user_id"), col("t").as("tp")), "user_id")
        .filter(col("ts") > col("tp"))
        .groupBy("user_id").agg(min("ts").as("t"))
    }
    val counts = perStage.zip(stages).map { case (df, st) =>
      df.agg(count(lit(1)).as(s"n_$st")) }
    val joined = counts.reduceLeft((a, b) => a.crossJoin(broadcast(b)))
    val convCols = stages.sliding(2).map { case Seq(a, b) =>
      round(col(s"n_$b") / col(s"n_$a"), 6).as(s"${a}_to_$b")
    }.toSeq
    joined.select(stages.map(st => col(s"n_$st")) ++ convCols: _*)
  }

  /** Conversion window for [[funnelWindowed]] (microseconds): a chain
    * counts only if its LAST stage lands within this much of its FIRST —
    * shared with the oracle string so the two sides cannot drift. */
  val FunnelWindowUs: Long = 86400L * 1000000L // 1 day

  /** TIME-BOUNDED ordered funnel — [[funnelSteps]] with a conversion
    * window: a user reaches stage k only if SOME chain of stage events
    * e1 < e2 < … < ek (strictly increasing ts) fits inside
    * `ts(ek) − ts(e1) <= windowUs`. This is where the sequential
    * min-agg of the unbounded funnel is NO LONGER CORRECT: taking the
    * earliest qualifying event at each stage can anchor the window too
    * early (A@0, B@5, B@9, C@16, W=10 — greedy picks B@5 and misses the
    * B@9→C@16 chain; the spec pins exactly this case), so the windowed
    * form needs the max over ALL chains, not the greedy one. */
  def funnelWindowed(s: SparkSession, dir: String): DataFrame =
    funnelWindowedOf(Tables.events(s, dir),
      Seq("view", "click", "purchase"), FunnelWindowUs)

  /** The windowed funnel over ANY event frame and ANY ordered stage list.
    *
    * Exact one-pass DP instead of a stage self-join: per user, scan stage
    * events in ts order keeping, for each funnel depth k, the LATEST
    * chain-start time of any valid length-k chain seen so far — a later
    * start is always at least as extendable (the window is the only
    * start-dependent constraint), so one BIGINT per depth is a lossless
    * summary and the state is O(|stages|), never O(events). Strictness
    * (ts(e_{k-1}) < ts(e_k)) is enforced by double-buffering: `com` holds
    * the state as of strictly-earlier timestamps, `acc` folds in the
    * current one, so same-ts events can never chain off each other.
    *
    * Scale shape: one user-keyed shuffle (the same key the unbounded
    * funnel shuffles on |stages| times), then the DP runs as a codegen'd
    * `aggregate` HOF over each user's sorted stage events — no pair
    * join, no per-stage re-shuffle, no UDF. The per-user
    * `sort_array(collect_list(...))` buffer holds only that user's
    * STAGE events (the type filter is pushed below the shuffle); a
    * pathological hot user is capped by the same salting/cap treatment
    * any per-user sequence analysis needs, and the funnel summary is a
    * |stages|-column single row. */
  def funnelWindowedOf(events: DataFrame, stages: Seq[String],
                       windowUs: Long, userCol: String = "user_id",
                       tsCol: String = "ts",
                       typeCol: String = "event_type"): DataFrame = {
    require(stages.size >= 2,
      s"funnel needs >= 2 ordered stages, got ${stages.size}")
    require(stages.distinct.size == stages.size,
      s"funnel stages must be distinct, got ${stages.mkString(",")}")
    require(stages.forall(_.matches("[A-Za-z0-9_]+")),
      s"funnel stage names must be [A-Za-z0-9_]+, got ${stages.mkString(",")}")
    require(windowUs > 0, s"funnel window must be positive, got $windowUs")
    val k = stages.size
    val stageIdx = stages.zipWithIndex.foldLeft(lit(0)) {
      case (acc, (st, i)) => when(col(typeCol) === st, lit(i + 1)).otherwise(acc)
    }
    val e = events
      .select(col(userCol).as("user_id"), unix_micros(col(tsCol)).as("t"),
        stageIdx.as("k"))
      .filter(col("k") > 0) // stage filter BELOW the shuffle
    // the fold state: cur = the timestamp being folded, com = best starts
    // over events with ts < cur (what extensions may read), acc = best
    // starts including ts = cur (what extensions write). NULL = no chain.
    val com = "IF(e.t > s.cur, s.acc, s.com)"
    val dp =
      s"""aggregate(
         |  evs,
         |  named_struct('cur', CAST(NULL AS BIGINT),
         |    'com', array_repeat(CAST(NULL AS BIGINT), $k),
         |    'acc', array_repeat(CAST(NULL AS BIGINT), $k)),
         |  (s, e) -> named_struct(
         |    'cur', e.t,
         |    'com', $com,
         |    'acc', transform(s.acc, (v, j) -> IF(j = e.k - 1,
         |      greatest(v, IF(e.k = 1, e.t,
         |        IF(element_at($com, e.k - 1) IS NOT NULL
         |           AND e.t - element_at($com, e.k - 1) <= ${windowUs}L,
         |           element_at($com, e.k - 1), CAST(NULL AS BIGINT)))),
         |      v))),
         |  s -> aggregate(s.acc, 0, (n, v) -> IF(v IS NOT NULL, n + 1, n)))"""
        .stripMargin
    val levels = e.groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("t"), col("k")))).as("evs"))
      .select(expr(dp).as("level")) // non-null acc is a prefix → count=depth
    val counts = levels.agg(
      count(when(col("level") >= 1, 1)).as(s"n_${stages.head}"),
      stages.tail.zipWithIndex.map { case (st, i) =>
        count(when(col("level") >= i + 2, 1)).as(s"n_$st") }: _*)
    val convCols = stages.sliding(2).map { case Seq(a, b) =>
      round(col(s"n_$b") / col(s"n_$a"), 6).as(s"${a}_to_$b")
    }.toSeq
    counts.select(stages.map(st => col(s"n_$st")) ++ convCols: _*)
  }

  /** First-touch revenue attribution: every purchase's value credited to
    * the event type that FIRST brought its user in — the standard
    * marketing-attribution read. The first touch is one keyed window
    * (partitioned on the high-cardinality user id, deterministic
    * (ts, event_id) tie-break); attribution is a user-keyed join + one
    * small agg. */
  def firstTouchAttribution(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val first = e.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("first_touch"))
    e.filter(col("event_type") === "purchase")
      .join(first, "user_id")
      .groupBy("first_touch")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum("value"), 2).as("revenue"))
      .orderBy("first_touch")
  }

  /** U-shaped (position-based) MULTI-touch attribution — the
    * industry-standard middle ground between [[firstTouchAttribution]]
    * and last-touch: each user's first conversion distributes its value
    * over every preceding touch as 40% first + 40% last + 20% split
    * across the middle (1 touch → 100%, 2 touches → 50/50). All state is
    * two keyed windows on the high-cardinality user id (position + touch
    * count per user) and one broadcast-size final agg per channel —
    * partition-parallel at any event volume, no per-user buffers beyond
    * the window frames. */
  def multiTouchAttribution(s: SparkSession, dir: String): DataFrame =
    multiTouchOf(withUs(s, dir))

  /** Same over any frame with (user_id, event_id, event_type, value, us). */
  def multiTouchOf(e: DataFrame): DataFrame = {
    val wAsc = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val firstConv = e.filter(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(wAsc))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("us").as("p_us"),
        col("event_id").as("p_eid"), col("value").as("p_value"))
    val touches = e.join(firstConv, "user_id")
      .filter(col("us") < col("p_us") ||
        (col("us") === col("p_us") && col("event_id") < col("p_eid")))
    val wN = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    touches
      .withColumn("pos", row_number().over(wAsc))
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("credit",
        when(col("n") === 1, lit(1.0))
          .when(col("n") === 2, lit(0.5))
          .when(col("pos") === 1 || col("pos") === col("n"), lit(0.4))
          .otherwise(lit(0.2) / (col("n") - 2)))
      .groupBy(col("event_type").as("channel"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum("credit"), 4).as("credit_units"),
        round(sum(col("credit") * col("p_value")), 2).as("attributed_revenue"))
      .orderBy("channel")
  }

  /** TIME-DECAY attribution — the fourth classic model (first-touch,
    * last-touch, U-shaped, decay): each touch before the user's first
    * conversion is weighted 2^(−Δt/halflife) by its age at conversion
    * and the weights are normalized per user, so recent touches earn
    * more credit without zeroing early ones. Same two keyed windows as
    * [[multiTouchAttribution]] plus one row-local pow — partition-
    * parallel at any event volume. */
  def decayTouchAttribution(s: SparkSession, dir: String): DataFrame =
    decayTouchOf(withUs(s, dir))

  /** Same over any frame with (user_id, event_id, event_type, value, us). */
  def decayTouchOf(e: DataFrame, halflifeDays: Double = 7.0): DataFrame = {
    val wAsc = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val firstConv = e.filter(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(wAsc))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("us").as("p_us"),
        col("event_id").as("p_eid"), col("value").as("p_value"))
    val wN = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    e.join(firstConv, "user_id")
      .filter(col("us") < col("p_us") ||
        (col("us") === col("p_us") && col("event_id") < col("p_eid")))
      .withColumn("wt", pow(lit(2.0),
        -((col("p_us") - col("us")) / lit(86400000000L) / lit(halflifeDays))))
      .withColumn("credit", col("wt") / sum("wt").over(wN))
      .groupBy(col("event_type").as("channel"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum("credit"), 4).as("credit_units"),
        round(sum(col("credit") * col("p_value")), 2).as("attributed_revenue"))
      .orderBy("channel")
  }

  /** Inter-event gap profile: time between a user's consecutive events
    * (exact integer microseconds — no float epoch truncation), rolled up
    * per event type with exact interpolated p50/p95; the ops-health read
    * for "are sessions speeding up or stalling".
    *
    * Scale design: the gap itself is one keyed lag window (partitioned on
    * the high-cardinality user id), but `event_type` has ~5 values, so a
    * naive `percentile(gap_us, p)` would buffer BILLIONS of gap values in
    * each of 5 aggregation buffers at 100 TB — the low-cardinality-key +
    * unbounded-state pattern. Instead the exact percentiles come from the
    * two-pass range-sort rank (plans.GlobalRank over (event_type, gap)):
    * per-group 0-based rank = global row number − the group's min row
    * number (a 5-row broadcast), the two rows flanking index p·(n−1) are
    * filtered out, and quantile_cont's interpolation is a 5-row final
    * select. Every stage is partition-parallel; no per-group buffer
    * anywhere. */
  def intereventGaps(s: SparkSession, dir: String): Held = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val gaps = Tables.events(s, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select(col("event_type"),
        (unix_micros(col("ts")) - col("prev_us")).as("gap_us"))
    graft.plans.GlobalRank
      .groupPercentilesExact(gaps, "event_type", "gap_us", Seq(0.5, 0.95),
        withAvg = true) // avg rides the same stats pass — no second scan
      .map(_.select(col("event_type"), col("n").as("n_gaps"),
        round(col("avg") / 1e6, 4).as("avg_gap_s"),
        round(col("p0") / 1e6, 4).as("p50_gap_s"),
        round(col("p1") / 1e6, 4).as("p95_gap_s"))
      .orderBy("event_type"))
  }

  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    val wk = Tables.events(s, dir)
      .select(col("user_id"),
        floor(datediff(to_date(col("ts")), lit("1970-01-01")) / 7).as("wk"))
    val cohort = wk.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    wk.join(cohort, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("offset_wk"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_wk", "offset_wk")
  }

  /** First-order Markov transition matrix over per-user event sequences —
    * the journey-model feature the reference's web-journey domain runs on
    * (page→page transition probabilities). The lead() window partitions on
    * user_id (high-cardinality — partition-parallel at any scale); the
    * transition counts then collapse to |states|² rows, so the probability
    * normalization joins a tiny frame. One keyed window + two partial
    * aggregates; nothing global. */
  def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val pairs = withUs(s, dir)
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("cur"), col("nxt"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("cur").agg(sum("n").as("tot"))
    pairs.join(totals, "cur")
      .select(col("cur"), col("nxt"), col("n"),
        round(col("n") / col("tot"), 6).as("p"))
      .orderBy("cur", "nxt")
  }

  /** Session-length profile: sessionize on a 12h inactivity gap (same rule
    * as Relational.sessionize), then histogram sessions by event count with
    * mean duration. Windows partition on user_id; the histogram aggregate
    * runs over |sessions| rows. The streaming twin is
    * streaming/StreamOps.sessionize (flatMapGroupsWithState). */
  def sessionStats(s: SparkSession, dir: String): DataFrame = {
    val gapUs = 12L * 3600 * 1000000
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
    withUs(s, dir)
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1)
          .otherwise(0))
      .withColumn("session_seq", sum(col("new_s"))
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
        .cast("long"))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        (max("us") - min("us")).as("dur_us"))
      .groupBy("n_events")
      .agg(count(lit(1)).as("n_sessions"),
        round(avg("dur_us"), 2).as("avg_dur_us"))
      .orderBy("n_events")
  }

  /** INTERSECT set op: users who both clicked and purchased. Spark plans
    * INTERSECT DISTINCT as a left-semi join over pre-aggregated distinct
    * keys — two partial-agg shuffles of |users| rows each, never the raw
    * events. (Completes the set-op family: union — many sites, except —
    * except_op, intersect — here.) */
  def intersectOp(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.filter(col("event_type") === "click").select("user_id")
      .intersect(
        e.filter(col("event_type") === "purchase").select("user_id"))
      .orderBy("user_id")
  }

  /** SCD2 state-interval construction — the warehouse op that turns an
    * event stream into validity ranges: collapse consecutive identical
    * states per user (run-length compression via lag), then close each
    * surviving state with the next change's timestamp (lead). Both windows
    * partition on user_id — fully partition-parallel; open intervals carry
    * -1 (engine-neutral, avoids NULL-rendering drift). This is also the
    * batch twin of a streaming state-change log compaction. */
  def scd2Intervals(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val changes = withUs(s, dir)
      .withColumn("prev_state", lag(col("event_type"), 1).over(w))
      .filter(col("prev_state").isNull || col("prev_state") =!= col("event_type"))
    changes
      .withColumn("to_us", coalesce(lead(col("us"), 1).over(w), lit(-1L)))
      .select(col("user_id"), col("event_type").as("state"),
        col("us").as("from_us"), col("to_us"))
      .orderBy("user_id", "from_us", "state")
  }

  /** Calendar-spine gap-fill: daily counts per event type over the FULL
    * date range, zero-filled — the op behind every time-series chart and
    * rolling model feature (missing days must exist as 0s). The spine is
    * |types|×|days| (tiny at any event volume — it scales with the
    * calendar, not the data), so the cross join is a driver-sized frame
    * and the left join back to real counts is the only keyed shuffle. */
  def dateSpine(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"))
    val counts = e.groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    val days = e.agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("day"))
    val types = e.select("event_type").distinct()
    types.crossJoin(days)
      .join(counts, Seq("event_type", "day"), "left")
      .na.fill(0L, Seq("n"))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"))
      .orderBy("event_type", "day")
  }

  /** Cumulative distinct users per day WITHOUT a distinct-over-window
    * (which no engine can bound): distinct-to-date(d) = count of users
    * whose FIRST day ≤ d. Two keyed partial-agg shuffles reduce events to
    * one row per day; the prefix sum over |days| rows then runs through
    * the two-pass partition-parallel scheme in plans.GlobalRank (no
    * single-partition window, per the global plan sweep). */
  def cumulativeDistinct(s: SparkSession, dir: String): Held = {
    val newPerDay = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy("user_id").agg(min("day").as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new"))
    graft.plans.GlobalRank
      .withRunningSums(newPerDay, Seq(col("day")), Seq(("n_new", "cum")))._1
      .map(_.select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_new"), col("cum").cast("long").as("cum_users"))
        .orderBy("day"))
  }

  /** Skew-salted fact⋈dim join on the contract surface: events (big,
    * skewed user keys — see skew_profile) joined to a per-user dim through
    * plans.SaltedJoin with factor 8 — a hot user's rows spread over 8
    * reducers instead of one — then aggregated by the dim attribute. The
    * oracle replays the PLAIN join: salting must be row-identical to the
    * unsalted join (the SaltedJoinSpec invariant, here cross-checked by
    * DuckDB at the query level). */
  def saltedJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val events = withUs(s, dir)
    val dim = events.groupBy("user_id")
      .agg(min(struct(col("us"), col("event_id"), col("event_type"))).as("f"))
      .select(col("user_id"), col("f.event_type").as("first_type"))
    graft.plans.SaltedJoin.join(events, dim, Seq("user_id"), factor = 8)
      .groupBy("first_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("first_type")
  }

  /** Exact heavy hitters: users contributing at least 1.5x the mean
    * per-user share of an event type's rows. Two partial aggregations —
    * (type, user) counts, then broadcast-joined per-type totals — and an
    * integer-exact threshold (cnt * n_users * 2 >= total * 3) so the
    * cutoff can't drift across engines on float rounding.
    *
    * 100 TB note: this exact form shuffles |type x user| rows once. When
    * even that is too much (open-ended key domains), the streaming-sketch
    * path is Misra-Gries/SpaceSaving per partition merged at the driver —
    * approximate, but bounded memory; keep this exact op as its oracle
    * at validation scale. */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("event_type")
      .agg(sum("cnt").as("total"), count(lit(1)).as("n_users"))
    counts.join(broadcast(totals), Seq("event_type"))
      .filter(col("cnt") * col("n_users") * 2 >= col("total") * 3)
      .select(col("event_type"), col("user_id"), col("cnt"),
        round(col("cnt") / col("total"), 6).as("share"))
      .orderBy("event_type", "user_id")
  }

  /** Rolling z-score anomaly gate: each event scored against the mean/std
    * of its user's last 20 events (inclusive frame), flagged at |z| > 3 —
    * the standard online outlier rule for metric streams. One keyed
    * window, two codegen'd frame aggregates, a row-local score: fully
    * partition-parallel at any scale (no global pass, no state beyond the
    * 20-row frame). The batch form of a streaming monitor; threshold
    * applies to the UNROUNDED score identically in both engines. */
  def rollingZscore(s: SparkSession, dir: String): DataFrame =
    rollingZscoreOf(withUs(s, dir))

  /** Same over any frame with (user_id, event_id, value, us) — the form
    * the streaming-equality spec replays (twin: StreamOps.rollingZscore). */
  def rollingZscoreOf(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(-19, 0)
    events
      .withColumn("mu", avg("value").over(w))
      .withColumn("sd", stddev_samp(col("value")).over(w))
      .withColumn("z", (col("value") - col("mu")) / col("sd"))
      .filter(col("sd") > 0 && abs(col("z")) > 3)
      .select(col("user_id"), col("event_id"),
        round(col("value"), 4).as("value"), round(col("z"), 4).as("z"))
      .orderBy("user_id", "event_id")
  }

  /** Daily gap-fill with last-observation-carried-forward — the metric
    * time-series regularizer: each user's day spine (first→last active
    * day) left-joined with the per-day closing value, nulls filled by the
    * keyed `last(…, ignoreNulls)` running window. The spine explode is
    * row-local; both joins and the window are user-keyed — nothing global
    * at any scale. Dates ride as strings (engine-neutral rendering). */
  def gapFillLocf(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "day").orderBy(desc("us"), desc("event_id"))
    val daily = withUs(s, dir)
      .withColumn("day", to_date(col("ts")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value").as("obs"))
    val spine = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val locf = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        round(last(col("obs"), ignoreNulls = true).over(locf), 4)
          .as("value_filled"),
        col("obs").isNotNull.as("observed"))
      .orderBy("user_id", "day")
  }

  /** Recency-decayed customer value: Σ 2^(−age_days/30)·value over each
    * user's purchases, anchored at the corpus's latest event (an exact
    * integer micro, broadcast as one row — no wall clock, so the score is
    * reproducible). The decay is row-local; one keyed aggregate. */
  def decayedValue(s: SparkSession, dir: String): DataFrame = {
    val e = withUs(s, dir)
    val anchor = e.agg(max("us").as("us_max"))
    e.filter(col("event_type") === "purchase")
      .crossJoin(broadcast(anchor))
      .withColumn("wt", pow(lit(2.0),
        -((col("us_max") - col("us")) / lit(86400000000L) / lit(30.0))))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("wt") * col("value")), 4).as("decayed_value"),
        round(sum("value"), 4).as("raw_value"))
      .orderBy("user_id")
  }

  /** Weekly seasonality profile — per (day-of-week, hour-of-day) event
    * counts and mean value, the capacity/traffic heatmap every event
    * platform keeps. Day/hour are derived from epoch micros with PURE
    * INTEGER arithmetic (dow 0 = Sunday via the epoch-day + 4 offset;
    * hour = µs-of-day / 3600e6) instead of calendar functions, so the
    * bucketing is engine-exact with no timezone/locale semantics to
    * align. One partial aggregate over the scan — the cheapest possible
    * shape at any scale. */
  def seasonalityProfile(s: SparkSession, dir: String): DataFrame =
    withUs(s, dir)
      .withColumn("dow", expr("(us div 86400000000 + 4) % 7"))
      .withColumn("hour", expr("(us % 86400000000) div 3600000000"))
      .groupBy("dow", "hour")
      .agg(count(lit(1)).as("n_events"),
        round(avg("value"), 6).as("avg_value"))
      .orderBy("dow", "hour")

  protected val direct: Map[String, (SparkSession, String) => DataFrame] = Map(
    "seasonality_profile" -> seasonalityProfile,
    "rolling_zscore" -> rollingZscore,
    "gap_fill_locf" -> gapFillLocf,
    "decayed_value" -> decayedValue,
    "heavy_hitters" -> heavyHitters,
    "salted_join_agg" -> saltedJoinAgg,
    "date_spine" -> dateSpine,
    "markov_transitions" -> markovTransitions,
    "session_stats" -> sessionStats,
    "intersect_op" -> intersectOp,
    "scd2_intervals" -> scd2Intervals,
    "json_extract_agg" -> jsonExtractAgg,
    "latest_by_key" -> latestByKey,
    "funnel_conversion" -> funnelConversion,
    "skew_profile" -> skewProfile,
    "cohort_retention" -> cohortRetention,
    "funnel_steps" -> funnelSteps,
    "funnel_windowed" -> funnelWindowed,
    "first_touch" -> firstTouchAttribution,
    "multi_touch" -> multiTouchAttribution,
    "decay_touch" -> decayTouchAttribution)

  override val held: Map[String, (SparkSession, String) => Held] = Map(
    "cumulative_distinct" -> cumulativeDistinct,
    "interevent_gaps" -> intereventGaps)

  val oracle: Map[String, String] = Map(
    "seasonality_profile" ->
      """WITH e AS (SELECT value,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
        |SELECT (us // 86400000000 + 4) % 7 AS dow,
        | (us % 86400000000) // 3600000000 AS hour,
        | count(*)::BIGINT AS n_events, round(avg(value), 6) AS avg_value
        |FROM e GROUP BY 1, 2 ORDER BY dow, hour""".stripMargin,
    "heavy_hitters" ->
      """WITH c AS (SELECT event_type, user_id, count(*)::BIGINT AS cnt
        |   FROM events GROUP BY 1, 2),
        | t AS (SELECT event_type, sum(cnt)::BIGINT AS total,
        |   count(*)::BIGINT AS n_users FROM c GROUP BY 1)
        |SELECT event_type, user_id, cnt,
        | round(cnt::DOUBLE / total, 6) AS share
        |FROM c JOIN t USING (event_type)
        |WHERE cnt * n_users * 2 >= total * 3
        |ORDER BY event_type, user_id""".stripMargin,
    "salted_join_agg" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        | dim AS (SELECT user_id, event_type AS first_type FROM e
        |  QUALIFY row_number() OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) = 1)
        |SELECT first_type, count(*)::BIGINT AS n_events,
        | count(DISTINCT e.user_id)::BIGINT AS n_users,
        | round(sum(value), 2) AS sum_value
        |FROM e JOIN dim USING (user_id)
        |GROUP BY first_type ORDER BY first_type""".stripMargin,
    "date_spine" ->
      """WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP)::DATE AS day
        |   FROM events),
        | b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
        | days AS (SELECT unnest(generate_series(lo, hi,
        |     INTERVAL 1 DAY))::DATE AS day FROM b),
        | types AS (SELECT DISTINCT event_type FROM e),
        | c AS (SELECT event_type, day, count(*)::BIGINT AS n
        |   FROM e GROUP BY 1, 2)
        |SELECT t.event_type, strftime(d.day, '%Y-%m-%d') AS day,
        | coalesce(c.n, 0)::BIGINT AS n
        |FROM types t CROSS JOIN days d
        | LEFT JOIN c ON c.event_type = t.event_type AND c.day = d.day
        |ORDER BY 1, 2""".stripMargin,
    "cumulative_distinct" ->
      """WITH fd AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)::DATE) AS day
        |   FROM events GROUP BY user_id),
        | nd AS (SELECT day, count(*)::BIGINT AS n_new FROM fd GROUP BY day)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n_new,
        | sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)::BIGINT
        |   AS cum_users
        |FROM nd ORDER BY day""".stripMargin,
    "intersect_op" ->
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,
    "scd2_intervals" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        | ch AS (SELECT user_id, event_id, event_type, us,
        |   lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |     AS prev_state
        |  FROM e QUALIFY prev_state IS NULL OR prev_state <> event_type)
        |SELECT user_id, event_type AS state, us AS from_us,
        | coalesce(lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id),
        |          -1) AS to_us
        |FROM ch ORDER BY user_id, from_us, state""".stripMargin,
    "markov_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        | seq AS (SELECT event_type AS cur,
        |   lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt
        |  FROM e),
        | pairs AS (SELECT cur, nxt, count(*)::BIGINT AS n FROM seq
        |  WHERE nxt IS NOT NULL GROUP BY cur, nxt),
        | tot AS (SELECT cur, sum(n)::BIGINT AS tot FROM pairs GROUP BY cur)
        |SELECT cur, nxt, n, round(n::DOUBLE / tot, 6) AS p
        |FROM pairs JOIN tot USING (cur) ORDER BY cur, nxt""".stripMargin,
    "session_stats" ->
      """WITH e AS (SELECT user_id, event_id,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        | m AS (SELECT user_id, event_id, us,
        |   CASE WHEN lag(us) OVER w IS NULL
        |        OR us - lag(us) OVER w > 43200000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        | sess AS (SELECT user_id, us,
        |   sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                    ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM m),
        | per AS (SELECT user_id, session_seq, count(*)::BIGINT AS n_events,
        |   max(us) - min(us) AS dur_us
        |  FROM sess GROUP BY user_id, session_seq)
        |SELECT n_events, count(*)::BIGINT AS n_sessions,
        | round(avg(dur_us), 2) AS avg_dur_us
        |FROM per GROUP BY n_events ORDER BY n_events""".stripMargin,
    "json_extract_agg" ->
      """SELECT event_type, count(*) AS n,
        | sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
        | round(avg(json_extract(props, '$.k')::BIGINT), 6) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "latest_by_key" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
        |SELECT user_id, event_id AS last_event, event_type AS last_type,
        | round(value, 4) AS last_value
        |FROM e
        |QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,
    "funnel_conversion" ->
      """WITH e AS (SELECT user_id, event_type,
        |   epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        | per AS (SELECT user_id,
        |   min(us) FILTER (event_type = 'view') AS first_view,
        |   max(us) FILTER (event_type = 'purchase') AS last_purchase
        |  FROM e GROUP BY user_id)
        |SELECT count(*) AS n_users, count(first_view) AS n_viewers,
        | count(last_purchase) AS n_purchasers,
        | count(*) FILTER (first_view < last_purchase) AS n_converted
        |FROM per""".stripMargin,
    "skew_profile" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        | t AS (SELECT sum(n) AS total FROM c)
        |SELECT user_id, n, round(n / total, 6) AS share
        |FROM c, t ORDER BY n DESC, user_id LIMIT 10""".stripMargin,
    "cohort_retention" ->
      """WITH wk AS (SELECT user_id,
        |   (date_diff('day', DATE '1970-01-01',
        |              CAST(ts AS TIMESTAMP)::DATE) // 7) AS wk
        |  FROM events),
        | cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM wk GROUP BY user_id)
        |SELECT cohort_wk, w.wk - cohort_wk AS offset_wk,
        | count(DISTINCT w.user_id)::BIGINT AS n_users
        |FROM wk w JOIN cohort USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "funnel_steps" ->
      """WITH v AS (SELECT user_id, min(ts) AS tv FROM events
        |   WHERE event_type = 'view' GROUP BY user_id),
        | c AS (SELECT e.user_id, min(e.ts) AS tc FROM events e
        |   JOIN v ON e.user_id = v.user_id
        |   WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY e.user_id),
        | p AS (SELECT e.user_id, min(e.ts) AS tp FROM events e
        |   JOIN c ON e.user_id = c.user_id
        |   WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM v)::BIGINT AS n_view,
        | (SELECT count(*) FROM c)::BIGINT AS n_click,
        | (SELECT count(*) FROM p)::BIGINT AS n_purchase,
        | round((SELECT count(*) FROM c)::DOUBLE
        |       / (SELECT count(*) FROM v), 6) AS view_to_click,
        | round((SELECT count(*) FROM p)::DOUBLE
        |       / (SELECT count(*) FROM c), 6) AS click_to_purchase""".stripMargin,
    "funnel_windowed" ->
      // INDEPENDENT formulation on purpose: the oracle is the O(pairs)
      // brute-force existential join (fine at oracle scale), the Spark
      // side is the O(events) one-pass DP — hash agreement proves the
      // DP finds exactly the chains the declarative definition admits
      s"""WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
        | c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        | p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        | l2 AS (SELECT DISTINCT v.user_id FROM v
        |   JOIN c ON c.user_id = v.user_id AND c.ts > v.ts
        |     AND epoch_us(c.ts) - epoch_us(v.ts) <= $FunnelWindowUs),
        | l3 AS (SELECT DISTINCT v.user_id FROM v
        |   JOIN c ON c.user_id = v.user_id AND c.ts > v.ts
        |   JOIN p ON p.user_id = v.user_id AND p.ts > c.ts
        |     AND epoch_us(p.ts) - epoch_us(v.ts) <= $FunnelWindowUs)
        |SELECT (SELECT count(DISTINCT user_id) FROM v)::BIGINT AS n_view,
        | (SELECT count(*) FROM l2)::BIGINT AS n_click,
        | (SELECT count(*) FROM l3)::BIGINT AS n_purchase,
        | round((SELECT count(*) FROM l2)::DOUBLE
        |       / (SELECT count(DISTINCT user_id) FROM v), 6) AS view_to_click,
        | round((SELECT count(*) FROM l3)::DOUBLE
        |       / (SELECT count(*) FROM l2), 6) AS click_to_purchase""".stripMargin,
    "first_touch" ->
      """WITH f AS (SELECT user_id, event_type AS first_touch FROM (
        |   SELECT user_id, event_type,
        |     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |   FROM events) WHERE rn = 1)
        |SELECT first_touch, count(*)::BIGINT AS n_purchases,
        | round(sum(value), 2) AS revenue
        |FROM events e JOIN f USING (user_id)
        |WHERE e.event_type = 'purchase'
        |GROUP BY first_touch ORDER BY first_touch""".stripMargin,
    "multi_touch" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |   epoch_us(ts) AS us FROM events),
        | fc AS (SELECT user_id, us AS p_us, event_id AS p_eid,
        |   value AS p_value FROM (
        |   SELECT *, row_number() OVER (PARTITION BY user_id
        |     ORDER BY us, event_id) AS rn FROM e
        |   WHERE event_type = 'purchase') WHERE rn = 1),
        | t AS (SELECT e.user_id, e.event_type, fc.p_value,
        |   row_number() OVER (PARTITION BY e.user_id
        |     ORDER BY e.us, e.event_id) AS pos,
        |   count(*) OVER (PARTITION BY e.user_id) AS n
        |   FROM e JOIN fc USING (user_id)
        |   WHERE e.us < fc.p_us OR (e.us = fc.p_us AND e.event_id < fc.p_eid)),
        | c AS (SELECT event_type AS channel, p_value,
        |   CASE WHEN n = 1 THEN 1.0::DOUBLE
        |        WHEN n = 2 THEN 0.5::DOUBLE
        |        WHEN pos = 1 OR pos = n THEN 0.4::DOUBLE
        |        ELSE 0.2::DOUBLE / (n - 2) END AS credit
        |   FROM t)
        |SELECT channel, count(*)::BIGINT AS n_touches,
        | round(sum(credit), 4) AS credit_units,
        | round(sum(credit * p_value), 2) AS attributed_revenue
        |FROM c GROUP BY channel ORDER BY channel""".stripMargin,
    "decay_touch" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value,
        |   epoch_us(ts) AS us FROM events),
        | fc AS (SELECT user_id, us AS p_us, event_id AS p_eid,
        |   value AS p_value FROM (
        |   SELECT *, row_number() OVER (PARTITION BY user_id
        |     ORDER BY us, event_id) AS rn FROM e
        |   WHERE event_type = 'purchase') WHERE rn = 1),
        | t AS (SELECT e.user_id, e.event_type, fc.p_value,
        |   pow(2.0::DOUBLE, -((fc.p_us - e.us) / 86400000000 / 7.0)) AS wt
        |   FROM e JOIN fc USING (user_id)
        |   WHERE e.us < fc.p_us OR (e.us = fc.p_us AND e.event_id < fc.p_eid)),
        | n AS (SELECT *, wt / sum(wt) OVER (PARTITION BY user_id) AS credit
        |   FROM t)
        |SELECT event_type AS channel, count(*)::BIGINT AS n_touches,
        | round(sum(credit), 4) AS credit_units,
        | round(sum(credit * p_value), 2) AS attributed_revenue
        |FROM n GROUP BY channel ORDER BY channel""".stripMargin,
    "interevent_gaps" ->
      """WITH g AS (SELECT event_type,
        |   epoch_us(ts) - lag(epoch_us(ts))
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT event_type, count(*)::BIGINT AS n_gaps,
        | round(avg(gap_us) / 1e6, 4) AS avg_gap_s,
        | round(quantile_cont(gap_us, 0.5) / 1e6, 4) AS p50_gap_s,
        | round(quantile_cont(gap_us, 0.95) / 1e6, 4) AS p95_gap_s
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "rolling_zscore" ->
      """WITH e AS (SELECT user_id, event_id, value,
        |   epoch_us(ts) AS us FROM events),
        | r AS (SELECT user_id, event_id, value,
        |   avg(value) OVER w AS mu, stddev_samp(value) OVER w AS sd
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, round(value, 4) AS value,
        | round((value - mu) / sd, 4) AS z
        |FROM r WHERE sd > 0 AND abs((value - mu) / sd) > 3
        |ORDER BY user_id, event_id""".stripMargin,
    "gap_fill_locf" ->
      """WITH d AS (SELECT user_id, day, value AS obs FROM (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, value,
        |    row_number() OVER (PARTITION BY user_id,
        |        CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1),
        | span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
        |  FROM d GROUP BY user_id),
        | spine AS (SELECT user_id,
        |   unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |  FROM span),
        | f AS (SELECT s.user_id, s.day, d.obs,
        |   last_value(d.obs IGNORE NULLS) OVER (PARTITION BY s.user_id
        |     ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |     AS filled
        |  FROM spine s LEFT JOIN d USING (user_id, day))
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |  round(filled, 4) AS value_filled, (obs IS NOT NULL) AS observed
        |FROM f ORDER BY user_id, day""".stripMargin,
    "decayed_value" ->
      """WITH e AS (SELECT user_id, event_type, value,
        |   epoch_us(ts) AS us FROM events),
        | a AS (SELECT max(us) AS us_max FROM e)
        |SELECT user_id, count(*)::BIGINT AS n_purchases,
        | round(sum(pow(2.0::DOUBLE,
        |   -((us_max - us) / 86400000000 / 30.0)) * value), 4) AS decayed_value,
        | round(sum(value), 4) AS raw_value
        |FROM e, a WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin)
}
