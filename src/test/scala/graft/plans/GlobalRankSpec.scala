package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The scalable ordering primitives vs their single-partition window
  * definitions — equality on data that actually spans many partitions, so
  * the per-partition offset bookkeeping (not just the happy path) is what's
  * being checked. */
class GlobalRankSpec extends SparkSpec {
  import spark.implicits._

  // keys deliberately collide and interleave across partitions
  private def df = (1 to 5000)
    .map(i => (i.toLong, (i * 2654435761L % 97).toInt, (i % 13).toDouble))
    .toDF("id", "k", "v")
    .repartition(32)

  behavior of "GlobalRank"

  it should "compute exact global row numbers equal to an ordered window" in {
    val got = GlobalRank.withRowNumber(df, Seq(col("k"), col("id")), "rn")
      .frame.select("id", "rn")
    val want = df.withColumn("rn",
      row_number().over(Window.orderBy("k", "id")).cast("long"))
      .select("id", "rn")
    got.except(want).count() shouldBe 0
    want.except(got).count() shouldBe 0
  }

  it should "compute running sums equal to a cumulative window" in {
    val got = GlobalRank.withRunningSums(df, Seq(col("k"), col("id")),
        Seq("v" -> "cum_v", "id" -> "cum_id"))._1
      .frame.select(col("id"), col("cum_v"), col("cum_id"))
    val w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, 0)
    val want = df
      .withColumn("cum_v", sum("v").over(w))
      .withColumn("cum_id", sum("id").over(w).cast("double"))
      .select(col("id"), col("cum_v"), col("cum_id"))
    got.except(want).count() shouldBe 0
    want.except(got).count() shouldBe 0
  }

  it should "hand back the persisted sort and the grand totals of its running sums" in {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (got, totals) = GlobalRank.withRunningSums(
      df, Seq(col("k"), col("id")), Seq("v" -> "cum_v", "id" -> "cum_id"))
    val last = got.frame.orderBy(desc("k"), desc("id")).head()
    totals shouldBe Map(
      "v" -> df.agg(sum("v")).head().getDouble(0),
      "id" -> df.agg(sum("id")).head().getLong(0).toDouble)
    last.getAs[Double]("cum_v") shouldBe totals("v")
    last.getAs[Double]("cum_id") shouldBe totals("id")
    got.release()
    (sc.getPersistentRDDs.keySet -- before) shouldBe empty
  }

  it should "compute SQL-standard ntile buckets" in {
    val got = GlobalRank.withNtile(df, Seq(col("k"), col("id")), 7, "b")
      .frame.select("id", "b")
    val want = df.withColumn("b",
      ntile(7).over(Window.orderBy("k", "id")).cast("long"))
      .select("id", "b")
    got.except(want).count() shouldBe 0
  }

  it should "match the exact percentile() aggregate per group, ties and singletons included" in {
    import spark.implicits._
    // heavy ties (v % 4), a singleton group, and a 2-row group — the
    // interpolation edge cases; the helper must equal the exact
    // buffer-based aggregate it replaces, bit for bit
    // NULL values must be ignored exactly as percentile() ignores them
    val vals = ((1 to 97).map(i => ("a", (i % 4).toDouble * 3 + i * 0.01)) ++
      (1 to 10).map(i => ("b", i.toDouble)) ++
      Seq(("single", 42.0), ("two", 1.0), ("two", 2.0)))
      .map { case (g, v) => (g, Some(v)) }
      .++(Seq(("a", Option.empty[Double]), ("b", Option.empty[Double])))
      .toDF("g", "v")
    val ps = Seq(0.0, 0.25, 0.5, 0.95, 1.0)
    val got = GlobalRank.groupPercentilesExact(vals, "g", "v", ps)
      .checkpointed().collect().map(r => r.getString(0) ->
        ps.indices.map(i => r.getDouble(2 + i))).toMap
    val want = vals.groupBy("g")
      .agg(expr(s"percentile(v, array(${ps.mkString(",")}))").as("p"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    got.keySet shouldBe want.keySet
    got.foreach { case (g, xs) =>
      xs.zip(want(g)).foreach { case (a, b) => a shouldBe b }
    }
    intercept[IllegalArgumentException](
      GlobalRank.groupPercentilesExact(vals, "g", "v", Seq(1.5)))
  }

  it should "select weighted percentiles equal to a brute-force weight CDF" in {
    import spark.implicits._
    // integral weights (the exactness contract), a heavy-weight row that
    // swallows the median, a singleton group, zero-weight rows dropped
    val rows = Seq(
      ("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 3.0, 10.0), ("a", 4.0, 1.0),
      ("b", 5.0, 3.0), ("b", 6.0, 1.0),
      ("z", 9.0, 2.0), ("a", 0.5, 0.0))
    val df = rows.toDF("g", "v", "w")
    val ps = Seq(0.25, 0.5, 0.75)
    val got = GlobalRank.groupWeightedPercentiles(df, "g", "v", "w", ps)
      .rows().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), ps.indices.map(i => r.getDouble(3 + i))))
      .toMap
    def brute(g: String): Seq[Double] = {
      val xs = rows.filter(r => r._1 == g && r._3 > 0).sortBy(_._2)
      val tot = xs.map(_._3).sum
      ps.map { p =>
        var acc = 0.0
        xs.find { x => acc += x._3; acc >= p * tot }.get._2
      }
    }
    got.keySet shouldBe Set("a", "b", "z")
    got("a")._1 shouldBe 4L // zero-weight row dropped
    Seq("a", "b", "z").foreach { g => got(g)._2 shouldBe brute(g) }
    // the w=10 row at v=3 must hold p25 through p75 in group a
    got("a")._2 shouldBe Seq(3.0, 3.0, 3.0)
  }

  it should "interpolate weighted percentiles equal to a brute-force CDF, fractional weights included" in {
    import spark.implicits._
    // fractional weights (the case the lower quantile can't make
    // engine-stable), duplicate values with unequal weights (collapse
    // rule), a heavy row, a singleton group, zero-weight rows dropped
    val rows = Seq(
      ("a", 1.0, 0.3), ("a", 2.0, 1.7), ("a", 2.0, 0.4), ("a", 3.0, 2.25),
      ("a", 4.0, 0.35),
      ("b", 5.0, 1.5), ("b", 6.0, 0.5), ("b", 7.0, 1.0),
      ("z", 9.0, 0.75), ("a", 0.5, 0.0))
    val df = rows.toDF("g", "v", "w")
    val ps = Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0)
    val out = GlobalRank.groupWeightedPercentilesInterp(df, "g", "v", "w", ps)
      .rows().map(r => r.getString(0) ->
        (r.getAs[Long]("n_values"), ps.indices.map(i => r.getDouble(3 + i))))
      .toMap
    def brute(g: String): Seq[Double] = {
      val pts = rows.filter(r => r._1 == g && r._3 > 0)
        .groupBy(_._2).map { case (v, rs) => (v, rs.map(_._3).sum) }
        .toSeq.sortBy(_._1)
      val tot = pts.map(_._2).sum
      val knots = pts.scanLeft(0.0)(_ + _._2).tail.zip(pts)
        .map { case (c, (v, w)) => ((c - w / 2) / tot, v) }
      ps.map { p =>
        if (p <= knots.head._1) knots.head._2
        else if (p >= knots.last._1) knots.last._2
        else {
          val hiIdx = knots.indexWhere(_._1 >= p)
          val (sHi, vHi) = knots(hiIdx)
          val (sLo, vLo) = knots(hiIdx - 1)
          if (sHi == sLo) vLo else vLo + (p - sLo) / (sHi - sLo) * (vHi - vLo)
        }
      }
    }
    out.keySet shouldBe Set("a", "b", "z")
    out("a")._1 shouldBe 4L // 5 positive-weight rows, 4 distinct values
    out("z")._1 shouldBe 1L
    Seq("a", "b", "z").foreach { g =>
      out(g)._2.zip(brute(g)).foreach { case (gotV, wantV) =>
        gotV shouldBe wantV +- 1e-12
      }
    }
    // a singleton group answers its one value at every p
    out("z")._2.distinct shouldBe Seq(9.0)
    intercept[IllegalArgumentException](
      GlobalRank.groupWeightedPercentilesInterp(df, "g", "v", "w", Seq(-0.1)))
  }
}
