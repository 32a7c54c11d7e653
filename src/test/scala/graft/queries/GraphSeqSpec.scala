package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic invariants of the graph / sequence / sampling operators in
  * [[AnalyticsPack]] and the containment join in [[LlmData]] — the
  * properties the row-hash oracle checks can't articulate: probability
  * mass conservation, fan-out bounds, determinism, brute-force agreement
  * on a single key. */
class GraphSeqSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  behavior of "pagerank"

  it should "conserve probability mass (ranks sum to 1) and cover every node" in {
    val pr = AnalyticsPack.pagerank(spark, dir).checkpointed()
    val mass = pr.agg(sum("rank")).head.getDouble(0)
    // per-iteration 8-dp rounding perturbs mass by at most |nodes|·5e-9
    mass shouldBe 1.0 +- 1e-4
    val li = graft.Tables.lineitem(spark, dir)
    val ords = graft.Tables.orders(spark, dir)
    val joined = ords.join(li, col("o_orderkey") === col("l_orderkey"))
    val nCust = joined.select("o_custkey").distinct().count()
    val nPart = joined.select("l_partkey").distinct().count()
    pr.count() shouldBe (nCust + nPart)
    pr.filter(col("rank") <= 0.0).count() shouldBe 0
  }

  it should "rank a part above another with strictly more distinct endorsing customers" in {
    val pr = AnalyticsPack.pagerank(spark, dir).checkpointed()
    val parts = pr.filter(col("node").startsWith("p:"))
      .withColumn("pk", regexp_replace(col("node"), "^p:", "").cast("long"))
    val indeg = graft.Tables.orders(spark, dir)
      .join(graft.Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("l_partkey").as("pk"), col("o_custkey")).distinct()
      .groupBy("pk").agg(count(lit(1)).as("indeg"))
    val joined = parts.join(indeg, "pk").select("pk", "rank", "indeg").cache()
    val top = joined.orderBy(desc("indeg")).head()
    val bottom = joined.orderBy(asc("indeg")).head()
    assert(top.getAs[Long]("indeg") > bottom.getAs[Long]("indeg"),
      "test data should have in-degree spread")
    top.getAs[Double]("rank") should be > bottom.getAs[Double]("rank")
  }

  behavior of "labelProp"

  it should "equal a plain-Scala synchronous LPA replay" in {
    // rebuild the same >= 2-shared-orders co-purchase edge list
    val inc = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = inc.groupBy(_._1).values.map(_.map(_._2).sorted)
    val pairCounts = scala.collection.mutable.Map.empty[(Long, Long), Int]
    byOrder.foreach { parts =>
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        pairCounts((parts(i), parts(j))) =
          pairCounts.getOrElse((parts(i), parts(j)), 0) + 1
    }
    val edges = pairCounts.filter(_._2 >= 2).keys.toSeq
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
    edges.foreach { case (a, b) =>
      adj(a) = b :: adj.getOrElse(a, Nil)
      adj(b) = a :: adj.getOrElse(b, Nil)
    }
    var lbl: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    (1 to 4).foreach { _ =>
      lbl = adj.map { case (n, ns) =>
        val counts = ns.groupBy(lbl).map { case (l, xs) => (l, xs.size) }
        val best = counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
        n -> best
      }.toMap
    }
    val want = lbl.groupBy(_._2)
      .map { case (c, m) => (c, m.size.toLong, m.keys.min) }
      .toSeq.sortBy { case (c, sz, _) => (-sz, c) }.take(20)
    val got = AnalyticsPack.labelProp(spark, dir)
      .rows().map(r => (r.getAs[Long]("community"), r.getAs[Long]("size"),
        r.getAs[Long]("min_member"))).toSeq
    got shouldBe want
  }

  behavior of "triangleCount"

  it should "agree with a naive unoriented three-way edge join" in {
    val row = AnalyticsPack.triangleCount(spark, dir).head()
    // naive recount: each triangle {a<b<c} found once via (a,b),(b,c),(a,c)
    val inc = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val e = inc.select(col("ok"), col("pk").as("a"))
      .join(inc.select(col("ok"), col("pk").as("b")), "ok")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("a", "b").cache()
    val naive = e.select(col("a"), col("b"))
      .join(e.select(col("a").as("b"), col("b").as("c")), "b")
      .join(e.select(col("a"), col("b").as("c")), Seq("a", "c"), "left_semi")
      .count()
    row.getAs[Long]("n_triangles") shouldBe naive
    row.getAs[Long]("n_triangles") should be <= row.getAs[Long]("n_wedges")
    row.getAs[Long]("n_edges") shouldBe e.count()
  }

  behavior of "gapFillLocf and decayedValue"

  it should "fill every user's full day span with no gaps or nulls" in {
    val f = EventOpsPack.gapFillLocf(spark, dir).cache()
    f.filter(col("value_filled").isNull).count() shouldBe 0
    // per user: row count equals span length, first day observed
    val spans = f.groupBy("user_id").agg(
      count(lit(1)).as("n"),
      min("day").as("d0"), max("day").as("d1"),
      sum(when(col("observed"), 1).otherwise(0)).as("n_obs"))
    spans.filter(
      datediff(to_date(col("d1")), to_date(col("d0"))) + 1 =!= col("n"))
      .count() shouldBe 0
    val firstRows = f.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        .orderBy("day"))).filter(col("rn") === 1)
    firstRows.filter(!col("observed")).count() shouldBe 0
  }

  it should "bound the decayed value by the raw value" in {
    val d = EventOpsPack.decayedValue(spark, dir)
    d.filter(col("decayed_value") > col("raw_value") + 1e-6).count() shouldBe 0
    d.filter(col("decayed_value") <= 0).count() shouldBe 0
  }

  behavior of "itemCooccur"

  it should "match a brute-force lift computation for its top pair" in {
    val top = AnalyticsPack.itemCooccur(spark, dir).head()
    val (pa, pb) = (top.getAs[Long]("pa"), top.getAs[Long]("pb"))
    val inc = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val nOrders = graft.Tables.orders(spark, dir).count()
    val na = inc.filter(col("pk") === pa).count()
    val nb = inc.filter(col("pk") === pb).count()
    val nab = inc.filter(col("pk") === pa).select("ok")
      .join(inc.filter(col("pk") === pb).select("ok"), "ok").count()
    top.getAs[Long]("n_ab") shouldBe nab
    val lift = (nab * nOrders).toDouble / (na * nb).toDouble
    top.getAs[Double]("lift") shouldBe (math.round(lift * 1e6) / 1e6)
  }

  behavior of "seqMining"

  it should "conserve trigram mass: sum over all trigrams = Σ_users max(0, n-2)" in {
    val events = graft.Tables.events(spark, dir)
    val expected = events.groupBy("user_id").agg(count(lit(1)).as("n"))
      .agg(sum(greatest(col("n") - 2, lit(0)))).head.getLong(0)
    // seqMining limits to top-20; recompute unlimited via the same window
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val total = events.withColumn("us", unix_micros(col("ts")))
      .withColumn("b", lead(col("event_type"), 1).over(w))
      .withColumn("c", lead(col("event_type"), 2).over(w))
      .filter(col("c").isNotNull).count()
    total shouldBe expected
  }

  behavior of "groupSample"

  it should "emit exactly min(k, group size) rows per group, identically on re-run" in {
    val a = AnalyticsPack.groupSample(spark, dir).collect()
    val b = AnalyticsPack.groupSample(spark, dir).collect()
    a.toSeq shouldBe b.toSeq // deterministic coin — no rand() in the plan
    val sizes = graft.Tables.events(spark, dir)
      .groupBy("event_type").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = a.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    sizes.foreach { case (g, n) =>
      got.getOrElse(g, 0) shouldBe math.min(3L, n).toInt
    }
  }

  behavior of "ewmaSmooth"

  it should "equal the value itself on each user's first event and match brute force" in {
    val out = AnalyticsPack.ewmaSmooth(spark, dir).cache()
    val firsts = out.filter(col("rn") === 1)
    val events = graft.Tables.events(spark, dir)
      .select(col("event_id"), round(col("value"), 6).as("v"))
    // join on event_id: first-event ewma must equal the raw value
    firsts.join(events, "event_id")
      .filter(abs(col("ewma") - col("v")) > 1e-6).count() shouldBe 0

    // brute-force one user end-to-end on the driver
    val uid = graft.Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 12).orderBy(desc("n"), asc("user_id"))
      .head().getAs[Long]("user_id")
    val vals = graft.Tables.events(spark, dir)
      .filter(col("user_id") === uid)
      .withColumn("us", unix_micros(col("ts")))
      .orderBy("us", "event_id").select("value").collect().map(_.getDouble(0))
    val got = out.filter(col("user_id") === uid).orderBy("rn")
      .select("ewma").collect().map(_.getDouble(0))
    got.length shouldBe vals.length
    vals.indices.foreach { t =>
      val lo = math.max(0, t - 9)
      val terms = (lo to t).map(i => math.pow(0.5, t - i) -> vals(i))
      val expct = terms.map(p => p._1 * p._2).sum / terms.map(_._1).sum
      got(t) shouldBe expct +- 1e-5
    }
  }

  behavior of "containmentPairs"

  it should "bound cont ≤ 1 and match a brute-force recount on its top pair" in {
    val pairs = LlmData.containmentPairs(spark, dir).checkpointed()
    assert(pairs.count() > 0, "corpus should contain contained near-dups")
    pairs.filter(col("cont") > 1.000001).count() shouldBe 0
    // brute-force the highest-containment pair over the SAME capped
    // shingle universe
    val top = pairs.orderBy(desc("cont"), asc("da"), asc("db")).head()
    val (da, db) = (top.getAs[Long]("da"), top.getAs[Long]("db"))
    val shAll = LlmData.shinglesOf(
      graft.Tables.documents(spark, dir), "doc_id", "text")
    val rare = shAll.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select("s")
    val capped = shAll.join(rare, Seq("s"), "left_semi").cache()
    val sa = capped.filter(col("doc_id") === da).select("s").cache()
    val sb = capped.filter(col("doc_id") === db).select("s")
    val na = sa.count()
    val ni = sa.join(sb, "s").count()
    top.getAs[Long]("ni") shouldBe ni
    top.getAs[Double]("cont") shouldBe
      (math.round(ni.toDouble / na * 1e6) / 1e6) +- 1e-9
  }

  it should "dominate symmetric Jaccard: every capped near-dup pair is contained" in {
    // jac(A,B) ≥ t ⟹ cont(A→B) ≥ t (intersection over a superset of |A∩B|)
    val jac = LlmData.neardupCapped(spark, dir).select("da", "db")
    val cont = LlmData.containmentPairs(spark, dir, maxDf = 50, minC = 0.5).checkpointed()
      .select("da", "db")
    jac.join(cont, Seq("da", "db"), "left_anti").count() shouldBe 0
  }
}
