package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DoubleType, FloatType}
import graft.{SparkEntry, SparkSpec}
import graft.plans.Held

/** One pass over every contract query at sf0.001, with two checks.
  *
  * No contract query may emit IEEE negative zero in a float column.
  *
  * The driver's correctness gate hashes BIT PATTERNS, and the two engines
  * disagree on the zero's sign exactly at sign crossings: Spark's
  * `round(x, n)` maps a tiny negative to +0.0 where DuckDB maps it to
  * -0.0 (round 12's only red row, `msprt_peek`, was this). Every
  * sign-crossing rounded statistic is therefore normalized with `+ 0.0`
  * on BOTH engines.
  *
  * Scope, stated precisely: Spark's round() goes through BigDecimal and
  * can never emit -0.0 itself, so for round()-based columns the
  * DuckDB-side `+ 0.0` is the operative fix and the Spark-side twin is
  * symmetry/documentation. This spec therefore guards the OTHER
  * Spark-side sources — unrounded aggregates, products, divisions, and
  * codegen expressions, any of which can surface -0.0 directly — by
  * executing every contract query and scanning every double/float cell
  * for the -0.0 bit pattern. The cross-engine class (a DuckDB oracle
  * emitting -0.0 where Spark emits +0.0) is gated by the round cadence's
  * full `tools/compare.py` sweep, which replays every oracle and
  * bit-compares float columns — the local equal of the driver's hash.
  *
  * Nothing a query persists may outlive the call except its result: once
  * the returned frame (a held query's checkpoint) is released, the query
  * leaves no new persisted RDD and no new cache-manager entry, and a held
  * query ([[SparkEntry.held]]) leaves no broadcast relation in the
  * driver's block store either.
  */
class NegativeZeroSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Per query: the float columns holding -0.0, and what it left behind. */
  private case class Pass(negZero: Seq[String], leaked: Option[String])

  private lazy val pass: Seq[(String, Pass)] = {
    val sc = spark.sparkContext
    // the entry count is package-private in Spark; it is a public method
    // in the bytecode
    val cacheManager = spark.sharedState.cacheManager
    def entries = cacheManager.getClass.getMethod("numCachedEntries")
      .invoke(cacheManager).asInstanceOf[Int]
    def relations = org.apache.spark.DriverBlocks.broadcastRelations(sc)
    // destroy() drops the blocks asynchronously
    def settled(left: => Set[Long]): Set[Long] = {
      val until = System.nanoTime() + 10000000000L
      while (left.nonEmpty && System.nanoTime() < until) Thread.sleep(50)
      left
    }
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val rdds0 = sc.getPersistentRDDs.keySet
      val entries0 = entries
      val relations0 = relations
      val df = fn(spark, dir)
      val negZero = scan(name, df)
      Held.release(df)
      val rdds = sc.getPersistentRDDs.keySet -- rdds0
      val newEntries = entries - entries0
      val broadcasts =
        if (SparkEntry.held.contains(name)) settled(relations -- relations0).size else 0
      val leaked = rdds.nonEmpty || newEntries != 0 || broadcasts != 0
      if (leaked) { // so that the next query, reusing none of it, is judged alone
        spark.catalog.clearCache()
        rdds.flatMap(sc.getPersistentRDDs.get).foreach(_.unpersist())
      }
      name -> Pass(negZero, Option.when(leaked)(s"$name: RDDs ${rdds.size}, " +
        s"cache entries $newEntries, broadcast relations $broadcasts"))
    }
  }

  /** Run `df`, and name its float columns that hold -0.0; a query with no
    * float column is counted. */
  private def scan(name: String, df: DataFrame): Seq[String] = {
    val floatCols = df.schema.fields.collect {
      case f if f.dataType == DoubleType || f.dataType == FloatType =>
        f.name
    }
    if (floatCols.isEmpty) { df.count(); Nil }
    else {
      val rows = df.select(floatCols.map(org.apache.spark.sql.functions.col): _*)
        .collect()
      floatCols.zipWithIndex.collect {
        case (c, i) if rows.exists { r =>
          !r.isNullAt(i) && (r.get(i) match {
            case d: java.lang.Double =>
              java.lang.Double.doubleToRawLongBits(d) ==
                java.lang.Double.doubleToRawLongBits(-0.0)
            case f: java.lang.Float =>
              java.lang.Float.floatToRawIntBits(f) ==
                java.lang.Float.floatToRawIntBits(-0.0f)
            case _ => false
          })
        } => s"$name.$c"
      }
    }
  }

  behavior of "contract query outputs"

  it should "never contain IEEE -0.0 in any double or float column" in {
    withClue("columns emitting -0.0 (normalize with `+ 0.0` on BOTH " +
      "engines): ") { pass.flatMap(_._2.negZero) shouldBe empty }
  }

  it should "leave nothing persisted but their result once it is released" in {
    SparkEntry.held.size should be >= 18
    pass.flatMap(_._2.leaked) shouldBe empty
  }
}
