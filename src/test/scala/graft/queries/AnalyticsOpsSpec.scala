package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic invariants of the customer/event analytics operators that the
  * DuckDB oracle can't express as neatly: probability normalization,
  * histogram mass conservation, quartile balance. */
class AnalyticsOpsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  behavior of "approximate scale paths"

  it should "keep approxQuantile cut points within tolerance of exact percentiles" in {
    // Several operators document approxQuantile → Bucketizer as their
    // 100 TB alternative to the exact range-sort (rfm_tiers, ntile_bins,
    // equiarea binning). Turn that claim into a tested bound: at relative
    // error 0.001 the cut points must sit within 1% of the exact ones.
    val df = graft.Tables.orders(spark, dir).select(col("o_totalprice").as("v"))
    val cuts = df.stat.approxQuantile("v", Array(0.25, 0.5, 0.75), 0.001)
    val exact = df.select(expr("percentile(v, array(0.25, 0.5, 0.75))"))
      .head().getSeq[Double](0)
    cuts.zip(exact).foreach { case (a, e) =>
      math.abs(a - e) / math.abs(e) should be < 0.01
    }
  }

  behavior of "markovTransitions"

  it should "emit a row-stochastic matrix (outgoing probabilities sum to 1)" in {
    val bad = EventOpsPack.markovTransitions(spark, dir)
      .groupBy("cur").agg(sum("p").as("total"))
      .filter(abs(col("total") - 1.0) > 1e-4)
      .count()
    bad shouldBe 0
  }

  behavior of "sessionStats"

  it should "conserve session mass against sessionize" in {
    val nSessions = EventOpsPack.sessionStats(spark, dir)
      .agg(sum("n_sessions")).head.getLong(0)
    val direct = Relational.sessionize(spark, dir).count()
    nSessions shouldBe direct
  }

  behavior of "rfmTiers"

  it should "assign near-equal customer mass to each quartile of every axis" in {
    val df = EventOpsPackSpecHelper.rfmPerTier(spark, dir)
    val total = df.agg(sum("n_cust")).head.getLong(0)
    for (axis <- Seq("r_tier", "f_tier", "m_tier")) {
      val sizes = df.groupBy(axis).agg(sum("n_cust").as("n"))
        .collect().map(_.getLong(1))
      sizes.length shouldBe 4
      // SQL NTILE: bucket sizes differ by at most one row
      (sizes.max - sizes.min) should be <= 1L
      sizes.sum shouldBe total
    }
  }

  behavior of "funnelStepsOf"

  it should "run an arbitrary ordered stage list with strict event order" in {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(m: Int) = new java.sql.Timestamp(ts0.getTime + m * 60000L)
    // u1 completes all 4 stages in order; u2 signs up AFTER activating
    // (strict order must not count its signup→activate leg); u3 stops
    // after browse; u4 has activate with NO prior signup (never counted)
    val events = Seq(
      (1L, t(0), "browse"), (1L, t(1), "signup"), (1L, t(2), "activate"),
      (1L, t(3), "pay"),
      (2L, t(0), "browse"), (2L, t(2), "activate"), (2L, t(3), "signup"),
      (3L, t(0), "browse"),
      (4L, t(0), "activate"), (4L, t(1), "pay")
    ).toDF("user_id", "ts", "event_type")
    val row = EventOpsPack
      .funnelStepsOf(events, Seq("browse", "signup", "activate", "pay"))
      .collect().head
    val cols = Seq("n_browse", "n_signup", "n_activate", "n_pay",
      "browse_to_signup", "signup_to_activate", "activate_to_pay")
    row.schema.fieldNames.toSeq shouldBe cols
    row.getLong(0) shouldBe 3  // u1, u2, u3 browsed
    row.getLong(1) shouldBe 2  // u1, u2 signed up after browsing
    row.getLong(2) shouldBe 1  // only u1 activated AFTER signup
    row.getLong(3) shouldBe 1  // only u1 paid after activating
    row.getDouble(5) shouldBe 0.5 // signup_to_activate = 1/2
    // invalid stage lists fail loudly
    intercept[IllegalArgumentException](
      EventOpsPack.funnelStepsOf(events, Seq("browse")))
    intercept[IllegalArgumentException](
      EventOpsPack.funnelStepsOf(events, Seq("browse", "browse")))
    intercept[IllegalArgumentException]( // dots would break col() names
      EventOpsPack.funnelStepsOf(events, Seq("browse", "add.to.cart")))
  }

  behavior of "funnelWindowedOf"

  it should "find window-feasible chains the greedy earliest-stage anchor misses" in {
    import spark.implicits._
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // u1: A@0, B@5, B@9, C@16, window 10s. Greedy (earliest qualifying
    // per stage) anchors B@5 → C must land in (5,10] → misses C@16; the
    // chain A@0→B@9 fails too (C@16−A@0=16>10)... but A@0 is the only A,
    // so full conversion requires the DP to carry B@9 — which still
    // starts at A@0, span 16 > 10. So u1 converts to level 2 only.
    // u2: A@0, B@5, B@9, C@16 with a SECOND A@8: chain A@8→B@9→C@16
    // spans 8s <= 10 — only a non-greedy scan finds it (greedy min-A
    // anchors at 0). u2 must reach level 3.
    val events = Seq(
      (1L, t(0), "a"), (1L, t(5), "b"), (1L, t(9), "b"), (1L, t(16), "c"),
      (2L, t(0), "a"), (2L, t(5), "b"), (2L, t(8), "a"), (2L, t(9), "b"),
      (2L, t(16), "c")
    ).toDF("user_id", "ts", "event_type")
    val row = EventOpsPack
      .funnelWindowedOf(events, Seq("a", "b", "c"), windowUs = 10L * 1000000L)
      .collect().head
    row.getLong(0) shouldBe 2 // both saw 'a'
    row.getLong(1) shouldBe 2 // both chain a→b within 10s
    row.getLong(2) shouldBe 1 // only u2's late re-anchor completes a→b→c
  }

  it should "never chain same-timestamp events (strict event order)" in {
    import spark.implicits._
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val events = Seq(
      (1L, t(5), "a"), (1L, t(5), "b"),  // simultaneous: no a→b chain
      (2L, t(5), "a"), (2L, t(6), "b")   // ordered: chains
    ).toDF("user_id", "ts", "event_type")
    val row = EventOpsPack
      .funnelWindowedOf(events, Seq("a", "b"), windowUs = 100L * 1000000L)
      .collect().head
    row.getLong(0) shouldBe 2
    row.getLong(1) shouldBe 1 // u2 only
  }

  it should "match a brute-force chain search on randomized event streams" in {
    import spark.implicits._
    // seeded random streams; the spec-side truth is the O(n^3) existential
    // scan the DuckDB oracle also uses — the DP must agree exactly
    val rnd = new scala.util.Random(4242)
    val types = Vector("a", "b", "c", "noise1", "noise2")
    val winUs = 50L * 1000000L
    val data = for {
      u <- 1L to 40L
      _ <- 1 to (5 + rnd.nextInt(25))
    } yield (u, new java.sql.Timestamp(rnd.nextInt(200) * 1000L),
      types(rnd.nextInt(types.size)))
    def brute(evs: Seq[(Long, String)]): Int = { // (sec, type), any order
      val s = evs.sortBy(_._1)
      val abc = Seq("a", "b", "c")
      def reach(k: Int): Boolean = {
        def chains(depth: Int): Seq[(Long, Long)] = // (start, last)
          if (depth == 0) Seq((Long.MinValue, Long.MinValue))
          else for {
            (st, la) <- chains(depth - 1)
            (ts, ty) <- s
            if ty == abc(depth - 1) && (depth == 1 ||
              (ts > la && (ts - st) * 1000000L <= winUs))
          } yield (if (depth == 1) ts else st, ts)
        chains(k).nonEmpty
      }
      if (!reach(1)) 0 else if (!reach(2)) 1 else if (!reach(3)) 2 else 3
    }
    val truth = data.groupBy(_._1).view
      .mapValues(evs => brute(evs.map(e => (e._2.getTime / 1000L, e._3))))
      .values.toSeq
    val expected = (1 to 3).map(k => truth.count(_ >= k).toLong)
    val row = EventOpsPack
      .funnelWindowedOf(data.toDF("user_id", "ts", "event_type"),
        Seq("a", "b", "c"), winUs)
      .collect().head
    (0 until 3).map(row.getLong) shouldBe expected
  }

  behavior of "multiTouchOf"

  it should "distribute each conversion 40/40/20 with the 1- and 2-touch degenerate splits" in {
    import spark.implicits._
    // u1: 3 touches before a 100 purchase → view .4, click .2, email .4
    // u2: 1 touch before a 50 purchase → view 1.0
    // u3: 2 touches before an 80 purchase → view .5, click .5
    // u4: purchase with NO prior touch → contributes nothing
    // u5: touches but never converts → contributes nothing
    val evs = Seq(
      (1L, 1L, "view", 0.0), (1L, 2L, "click", 0.0), (1L, 3L, "email", 0.0),
      (1L, 4L, "purchase", 100.0),
      (2L, 5L, "view", 0.0), (2L, 6L, "purchase", 50.0),
      (3L, 7L, "view", 0.0), (3L, 8L, "click", 0.0), (3L, 9L, "purchase", 80.0),
      (4L, 10L, "purchase", 30.0),
      (5L, 11L, "view", 0.0), (5L, 12L, "click", 0.0)
    ).map { case (u, eid, ty, v) => (u, eid, ty, v, eid * 1000L) }
      .toDF("user_id", "event_id", "event_type", "value", "us")
    val rows = EventOpsPack.multiTouchOf(evs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    rows("view") shouldBe ((3L, 1.9, 130.0))   // .4*100 + 1*50 + .5*80
    rows("click") shouldBe ((2L, 0.7, 60.0))   // .2*100 + .5*80
    rows("email") shouldBe ((1L, 0.4, 40.0))   // .4*100
    rows.keySet should not contain "purchase"
    // conservation: total credit = number of attributable conversions
    rows.values.map(_._2).sum shouldBe 3.0 +- 1e-9
    rows.values.map(_._3).sum shouldBe 230.0 +- 1e-9
  }

  behavior of "decayTouchOf"

  it should "halve a touch's weight per halflife and normalize per user" in {
    import spark.implicits._
    val day = 86400000000L
    // u1 converts at t=0 (us = 20d for headroom): touch A 7d before
    // (weight 2^-1), touch B 14d before (weight 2^-2) → credits 2/3, 1/3
    val p = 20 * day
    val evs = Seq(
      (1L, 1L, "email", 0.0, p - 14 * day),
      (1L, 2L, "view", 0.0, p - 7 * day),
      (1L, 3L, "purchase", 90.0, p)
    ).toDF("user_id", "event_id", "event_type", "value", "us")
    val rows = EventOpsPack.decayTouchOf(evs).collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    rows("view")._1 shouldBe (2.0 / 3) +- 1e-4   // recent touch earns double
    rows("email")._1 shouldBe (1.0 / 3) +- 1e-4
    rows("view")._2 shouldBe 60.0 +- 0.01
    rows("email")._2 shouldBe 30.0 +- 0.01
    // conservation: credits sum to 1 conversion, revenue to its value
    rows.values.map(_._1).sum shouldBe 1.0 +- 1e-9
    rows.values.map(_._2).sum shouldBe 90.0 +- 0.02
  }

  behavior of "hardNegativesOf"

  it should "mine positives/negatives for an arbitrary query predicate and bound the broadcast" in {
    val dirEmb = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dirEmb/embeddings.parquet").exists())
    val emb = graft.Tables.embeddings(spark, dirEmb)
    val rows = LlmData
      .hardNegativesOf(emb, col("vec_id") % 100 === 17)
      .rows()
    rows should not be empty
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    rows.foreach { r =>
      val (qId, posId, negId) = (r.getLong(0), r.getLong(1), r.getLong(3))
      labels(posId) shouldBe labels(qId)       // positive: same label
      labels(negId) should not be labels(qId)  // hard negative: different
    }
    // empty query sets and over-bound broadcasts fail loudly
    intercept[IllegalArgumentException](
      LlmData.hardNegativesOf(emb, col("vec_id") < 0))
    intercept[IllegalArgumentException](
      LlmData.hardNegativesOf(emb, col("vec_id") >= 0, maxQueries = 10))
  }
}

private object EventOpsPackSpecHelper {
  def rfmPerTier(s: org.apache.spark.sql.SparkSession, dir: String) =
    Relational.rfmTiers(s, dir).checkpointed()
}
