package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Scalable exact global ordering ops.
  *
  * `Window.orderBy(...)` with no partition key collapses the whole dataset
  * into ONE task (Spark warns "No Partition Defined for Window operation") —
  * a non-starter at 100 TB. This utility computes exact global row numbers
  * with the classic two-pass range-sort scheme instead:
  *
  *   1. `repartitionByRange` on the sort keys (the same parallel range
  *      partitioner a distributed ORDER BY uses) + in-partition sort, then
  *      `monotonically_increasing_id()` — which is (partitionId << 33 |
  *      rowInPartition) — captured in the SAME narrow stage, so no second
  *      shuffle can reorder or eliminate the range exchange;
  *   2. one tiny job counts rows per partition → cumulative offsets
  *      (numPartitions longs on the driver);
  *   3. global row number = offset(partition) + rowInPartition + 1, a
  *      row-local expression.
  *
  * Every stage is partition-parallel; driver state is O(partitions). The
  * sorted frame is persisted (memory-and-disk) so both passes see one
  * materialization — also what you'd do on a cluster to avoid re-sorting.
  *
  * CACHE LIFECYCLE. The persisted sort is an INTERNAL intermediate, and
  * `Dataset.unpersist` on a derived frame does NOT release it (the extra
  * Project nodes defeat the sameResult cache lookup). The row-number,
  * ntile, running-sum and exact-percentile ops therefore return a
  * [[Held]]: the lazy result plus the exact persisted sort, and so do the
  * weighted-percentile ops built on them. The caller materializes the
  * result (`checkpointed()`, `collected()`, a savepoint) and releases the
  * sort.
  */
object GlobalRank {

  import scala.jdk.CollectionConverters._

  private val RowMask = (1L << 33) - 1

  /** Partition id recovered from `monotonically_increasing_id()`. */
  private def pidCol: Column = shiftright(col("__mid"), 33).cast("int")

  /** Pass 1, shared by every op here: range-partition on the sort keys,
    * sort within partitions, capture `__mid` in the SAME narrow stage,
    * persist. Everything else derives from this one materialization. */
  private def rangeSorted(df: DataFrame, sortCols: Seq[Column]): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Cumulative rank offsets from per-partition row counts: offsets(p) =
    * rows in partitions < p; offsets(parts) = total row count. */
  private def offsetsFrom(counts: Map[Int, Long], parts: Int): IndexedSeq[Long] =
    (0 until parts).scanLeft(0L)((acc, p) => acc + counts.getOrElse(p, 0L))
      .toIndexedSeq

  /** The tiny pass-2 job: per-partition counts → cumulative offsets. */
  private def countedOffsets(sorted: DataFrame): IndexedSeq[Long] = {
    val parts = sorted.sparkSession.sessionState.conf.numShufflePartitions
    val counts = sorted.groupBy(pidCol.as("__pid")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    offsetsFrom(counts, parts)
  }

  /** offsets as one O(1)-depth map literal + element_at lookup (a
    * when-chain would grow the expression tree with the partition count —
    * a codegen/analysis liability at thousands of partitions). */
  private def offsetExprOf(offsets: IndexedSeq[Long]): Column = {
    val parts = offsets.length - 1
    element_at(
      typedlit(offsets.take(parts).zipWithIndex.map { case (o, p) => p -> o }.toMap),
      pidCol)
  }

  /** Adds `outCol` = exact 1-based global row number under `sortCols`,
    * holding the persisted sort the frame reads. */
  def withRowNumber(df: DataFrame, sortCols: Seq[Column], outCol: String): Held = {
    val sorted = rangeSorted(df, sortCols)
    val offsets = countedOffsets(sorted)
    Held(sorted
      .withColumn(outCol, offsetExprOf(offsets) + col("__mid").bitwiseAND(RowMask) + 1)
      .drop("__mid"), Seq(sorted))
  }

  /** Adds, for each `(inCol, outCol)` in `sums`, the inclusive running sum
    * of `inCol` under the global `sortCols` order — the scalable twin of
    * `sum(inCol).over(Window.orderBy(sortCols).rowsBetween(unboundedPreceding,
    * currentRow))`, which would collapse to one task.
    *
    * Same two-pass scheme as [[withRowNumber]]: range-partition + local
    * sort, then one tiny job computes per-partition totals whose prefix
    * sums become per-partition offsets (O(partitions) driver state); the
    * within-partition running sum is an ordinary keyed window over the
    * partition id — every stage partition-parallel. Also returns the
    * grand total of every summed input column, keyed by its name — already
    * on the driver from the per-partition totals job, so consumers need no
    * extra aggregate for them. */
  def withRunningSums(df: DataFrame, sortCols: Seq[Column],
                      sums: Seq[(String, String)]): (Held, Map[String, Double]) = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val persisted = rangeSorted(df, sortCols)
    val sorted = persisted.withColumn("__pid", pidCol)
    // one tiny job: per-partition totals of every summed column
    val totalAggs = sums.map { case (in, _) => sum(col(in)).as(in) }
    val totals = sorted.groupBy(col("__pid")).agg(totalAggs.head, totalAggs.tail: _*)
      .collect().map(r => r.getInt(0) -> r).toMap
    // offsets(p) = Σ totals over partitions < p; offsets(parts) = the
    // grand total
    val offsets = sums.map { case (in, _) =>
      in -> (0 until parts).scanLeft(0.0) { (acc, p) =>
        acc + (totals.get(p).map(_.getAs[Any](in)) match {
          case Some(n: Number) => n.doubleValue()
          case _ => 0.0
        })
      }
    }.toMap
    // same map-literal form as offsetExprOf, over per-column double totals
    def offsetExpr(in: String): Column =
      element_at(
        typedlit(offsets(in).take(parts).zipWithIndex.map { case (o, p) => p -> o }.toMap),
        col("__pid"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy("__mid")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val withSums = sums.foldLeft(sorted) { case (acc, (in, out)) =>
      acc.withColumn(out, offsetExpr(in) + sum(col(in)).over(w))
    }
    (Held(withSums.drop("__mid", "__pid"), Seq(persisted)),
      offsets.map { case (in, o) => in -> o.last })
  }

  /** Adds `outCol` = SQL-standard NTILE(k) bucket (1-based) under
    * `sortCols`, computed from the exact global row number — the scalable
    * twin of `ntile(k).over(Window.orderBy(...))`. The total row count
    * rides the SAME tiny per-partition-counts job the row number already
    * runs — no separate `count()` pass over the sorted frame. */
  def withNtile(df: DataFrame, sortCols: Seq[Column], k: Int, outCol: String): Held = {
    val sorted = rangeSorted(df, sortCols)
    val offsets = countedOffsets(sorted)
    val n = offsets.last
    // SQL NTILE: first (n % k) buckets hold ceil(n/k) rows, the rest floor.
    val size = n / k
    val rem = n % k
    val cut = rem * (size + 1) // rows in the oversized buckets
    val r0 = offsetExprOf(offsets) + col("__mid").bitwiseAND(RowMask) // 0-based
    val bucket =
      if (size == 0) r0 + 1 // fewer rows than buckets: row i → bucket i+1
      else when(r0 < cut, floor(r0 / (size + 1)) + 1)
        .otherwise(lit(rem) + floor((r0 - cut) / size) + 1)
    Held(sorted.withColumn(outCol, bucket.cast("long")).drop("__mid"), Seq(sorted))
  }

  /** Exact WEIGHTED per-group percentiles — the weighted lower quantile:
    * the smallest value whose in-group cumulative weight reaches p·W.
    * (The unweighted op interpolates ranks; with weights the standard
    * estimator is threshold selection on the weight CDF.)
    *
    * Same scale shape as [[groupPercentilesExact]]: ONE global range sort
    * on (group, value) with [[withRunningSums]] carrying the global weight
    * prefix, then per-group offsets from a tiny O(groups) self-join turn
    * the global prefix into the in-group CDF — no per-group buffer, no
    * per-group window sort, so a handful of group keys can hold billions
    * of rows. Threshold selection is one conditional min per requested p.
    *
    * Exactness contract: with INTEGRAL weights (counts, token counts,
    * quantities) every cumulative sum is exact in doubles in any addition
    * order, so selection is engine-identical. With fractional weights the
    * CDF carries ulp noise near thresholds; selection then matches across
    * engines only up to weight ties at the boundary value. */
  def groupWeightedPercentiles(df: DataFrame, groupCol: String,
                               valueCol: String, weightCol: String,
                               ps: Seq[Double]): Held = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"percentiles must be in (0,1], got ${ps.mkString(",")}")
    val in = df.select(col(groupCol), col(valueCol), col(weightCol))
      .filter(col(valueCol).isNotNull && col(weightCol) > 0)
    val Held(run, runH) = withRunningSums(in, Seq(col(groupCol), col(valueCol)),
      Seq(weightCol -> "__cumw"))._1
    val tot = in.groupBy(groupCol)
      .agg(sum(col(weightCol)).as("__tot"), count(lit(1)).as("__n"))
    // per-group offset = total weight of groups sorted before it (the
    // global sort is (group, value), so groups are contiguous runs)
    val off = tot.select(col(groupCol), col("__tot"), col("__n"))
      .join(tot.select(col(groupCol).as("__g2"), col("__tot").as("__t2")),
        col("__g2") < col(groupCol), "left")
      .groupBy(col(groupCol), col("__tot"), col("__n"))
      .agg(coalesce(sum("__t2"), lit(0.0)).as("__off"))
    val cdf = run.join(broadcast(off), groupCol)
      .withColumn("__gw", col("__cumw") - col("__off"))
    val aggs = Seq(max("__n").as("n"), max("__tot").as("w_total")) ++
      ps.zipWithIndex.map { case (p, i) =>
        min(when(col("__gw") >= lit(p) * col("__tot"), col(valueCol)))
          .as(s"wp$i")
      }
    Held(cdf.groupBy(groupCol).agg(aggs.head, aggs.tail: _*), runH)
  }

  /** INTERPOLATED weighted per-group percentiles — the fractional-weight-
    * safe companion of [[groupWeightedPercentiles]]. The lower quantile is
    * exact for integral weights but discontinuous in the weight CDF: with
    * fractional weights, ulp noise in a cumulative sum near a threshold
    * can flip the SELECTED VALUE between engines. This variant removes
    * the discontinuity instead of chasing the ulps:
    *
    *  1. equal values are collapsed first (`groupBy(group, value)` weight
    *     sum) — the sort order over distinct values is total, so the CDF
    *     is a pure function of the data, never of tie placement;
    *  2. each distinct value v_i sits at the MIDPOINT of its weight mass,
    *     s_i = (c_i − w_i/2)/W (the Hyndman–Fan-style weighted plotting
    *     position; reduces to HF7's (i−1)/(n−1) grid at unit weights as
    *     the interior knots shift by a constant ½/n);
    *  3. a requested p interpolates linearly between the flanking knots
    *     (clamped to the extreme values beyond the first/last midpoint):
    *     v = v_lo + (p − s_lo)/(s_hi − s_lo)·(v_hi − v_lo).
    *
    * Because the estimate is CONTINUOUS in the CDF, fractional-weight ulp
    * noise perturbs the result by ulps instead of flipping it to a
    * different value — the cross-engine guarantee integral weights get
    * from exact sums, extended to arbitrary positive weights.
    *
    * Scale shape is identical to the lower-quantile op: one keyed
    * collapse, ONE global range sort with the running-weight prefix,
    * O(groups) offsets, and per-p conditional min/max aggregates — no
    * per-group buffer anywhere. The flanking knots of p are found
    * without a neighbor join: knots are strictly increasing in s within
    * a group (w > 0), so max(s ≤ p) and min(s ≥ p) ARE adjacent. */
  def groupWeightedPercentilesInterp(df: DataFrame, groupCol: String,
                                     valueCol: String, weightCol: String,
                                     ps: Seq[Double]): Held = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      s"percentiles must be in [0,1], got ${ps.mkString(",")}")
    val in = df.select(col(groupCol), col(valueCol), col(weightCol))
      .filter(col(valueCol).isNotNull && col(weightCol) > 0)
      .groupBy(col(groupCol), col(valueCol))
      .agg(sum(col(weightCol)).as("__w"))
    val Held(run, runH) = withRunningSums(in, Seq(col(groupCol), col(valueCol)),
      Seq("__w" -> "__cumw"))._1
    val tot = in.groupBy(groupCol)
      .agg(sum(col("__w")).as("__tot"), count(lit(1)).as("__nv"))
    val off = tot.select(col(groupCol), col("__tot"), col("__nv"))
      .join(tot.select(col(groupCol).as("__g2"), col("__tot").as("__t2")),
        col("__g2") < col(groupCol), "left")
      .groupBy(col(groupCol), col("__tot"), col("__nv"))
      .agg(coalesce(sum("__t2"), lit(0.0)).as("__off"))
    val cdf = run.join(broadcast(off), groupCol)
      .withColumn("__s",
        (col("__cumw") - col("__off") - col("__w") / 2) / col("__tot"))
    val aggs = Seq(max("__nv").as("n_values"), max("__tot").as("w_total")) ++
      ps.zipWithIndex.flatMap { case (p, i) =>
        Seq(
          max(when(col("__s") <= p, struct(col("__s").as("s"),
            col(valueCol).cast("double").as("v")))).as(s"__lo$i"),
          min(when(col("__s") >= p, struct(col("__s").as("s"),
            col(valueCol).cast("double").as("v")))).as(s"__hi$i"))
      }
    val agged = cdf.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
    val outCols = Seq(col(groupCol), col("n_values"), col("w_total")) ++
      ps.indices.map { i =>
        val (lo, hi) = (col(s"__lo$i"), col(s"__hi$i"))
        when(lo.isNull, hi.getField("v"))
          .when(hi.isNull, lo.getField("v"))
          .when(hi.getField("s") === lo.getField("s"), lo.getField("v"))
          .otherwise(lo.getField("v") +
            (lit(ps(i)) - lo.getField("s")) /
              (hi.getField("s") - lo.getField("s")) *
              (hi.getField("v") - lo.getField("v")))
          .as(s"wp$i")
      }
    Held(agged.select(outCols: _*), runH)
  }

  /** Exact interpolated per-group percentiles (PERCENTILE_CONT /
    * `percentile()` semantics) WITHOUT the per-group value buffer the
    * exact aggregate carries: `percentile(v, p)` over a low-cardinality
    * group key buffers EVERY group value in one aggregation buffer — at
    * 100 TB, billions of values per group → executor OOM. Here the exact
    * values come from the two-pass range-sort rank instead, in exactly
    * TWO jobs over one materialization of the sorted frame:
    *
    *   1. one tiny per-(partition, group) aggregate — row count, first
    *      row id, and (when `withAvg`) the value sum — materializes the
    *      persisted sort AND gives the driver everything else it needs:
    *      per-partition rank offsets, each group's minimum global rank,
    *      size and mean (O(partitions × groups) driver rows, small by
    *      this helper's low-cardinality-group premise);
    *   2. the two rows flanking index p·(n−1) are filtered out of the
    *      sorted frame (rank and per-group offset are row-local
    *      expressions against an O(groups) broadcast-joined stats frame)
    *      and the standard interpolation v_lo + (h−⌊h⌋)·(v_hi−v_lo)
    *      lands as an |groups|-row final select.
    *
    * NULL values are ignored, exactly as `percentile()` ignores them —
    * ranking them would inflate n and shift (or null out) the flanks.
    *
    * Returns one row per group: (groupCol, n, [avg,] p0, p1, … — one
    * double column per requested percentile, in `ps` order; `avg` only
    * when `withAvg`, computed from the SAME tiny-aggregate pass so
    * callers don't re-scan the input for it). Values are NOT rounded —
    * callers round for their oracle contract. The result is O(groups)
    * rows by this helper's very premise, held with the range-sorted
    * intermediate it reads: `checkpointed()` materializes it and releases
    * the sort. */
  def groupPercentilesExact(df: DataFrame, groupCol: String,
                            valueCol: String, ps: Seq[Double],
                            withAvg: Boolean = false): Held = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      s"percentiles must be in [0,1], got ${ps.mkString(",")}")
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val sorted = rangeSorted(
      df.select(col(groupCol), col(valueCol)).filter(col(valueCol).isNotNull),
      Seq(col(groupCol), col(valueCol)))
    // job 1: the tiny per-(partition, group) aggregate — this op's
    // REPLACEMENT for countedOffsets (the counts fall out of the same
    // pass that collects each group's min rank and sum)
    val chunkAggs = Seq(count(lit(1)).as("__c"), min("__mid").as("__m0")) ++
      (if (withAvg) Seq(sum(col(valueCol)).as("__s")) else Nil)
    val chunks = sorted.groupBy(pidCol.as("__pid"), col(groupCol))
      .agg(chunkAggs.head, chunkAggs.tail: _*).collect()
    // driver: per-partition rank offsets …
    val partCounts = chunks.groupBy(_.getAs[Int]("__pid"))
      .map { case (p, rs) => p -> rs.map(_.getAs[Long]("__c")).sum }
    val offsets = offsetsFrom(partCounts, parts)
    // … and per-group (min rank, n, avg). Chunk sums are added in
    // partition order — deterministic; integer inputs stay exact.
    val statRows = chunks.groupBy(_.getAs[Any](groupCol)).toSeq
      .map { case (g, rs) =>
        val rn0 = rs.map(r => offsets(r.getAs[Int]("__pid")) +
          (r.getAs[Long]("__m0") & RowMask) + 1).min
        val n = rs.map(_.getAs[Long]("__c")).sum
        val mean =
          if (!withAvg) 0.0
          else rs.sortBy(_.getAs[Int]("__pid"))
            .map(_.getAs[Any]("__s") match {
              case null => 0.0
              case x: java.math.BigDecimal => x.doubleValue()
              case x: Number => x.doubleValue()
            }).sum / n
        Row(g, rn0, n, mean)
      }
    val statsSchema = StructType(Seq(
      sorted.schema(groupCol).copy(name = groupCol),
      StructField("__rn0", LongType, nullable = false),
      StructField("__n", LongType, nullable = false),
      StructField("__avg", DoubleType, nullable = false)))
    val stats = spark.createDataFrame(
      new java.util.ArrayList[Row](statRows.asJava), statsSchema)
    // job 2, when the caller materializes it: flank filter + interpolation agg
    val j = sorted
      .withColumn("__rank", offsetExprOf(offsets) + col("__mid").bitwiseAND(RowMask) + 1)
      .join(broadcast(stats), groupCol)
      .withColumn("__r0", (col("__rank") - col("__rn0")).cast("double"))
    def idx(p: Double) = lit(p) * (col("__n") - 1).cast("double")
    def flank(p: Double, hi: Boolean) =
      col("__r0") === (if (hi) ceil(idx(p)) else floor(idx(p)))
    val keep = ps.map(p => flank(p, hi = false) || flank(p, hi = true))
      .reduceLeft(_ || _)
    val aggs = (max("__n").as("n") +:
      (if (withAvg) Seq(max("__avg").as("avg")) else Nil)) ++
      ps.zipWithIndex.flatMap { case (p, i) =>
        Seq(min(when(flank(p, hi = false), col(valueCol))).cast("double").as(s"__l$i"),
          min(when(flank(p, hi = true), col(valueCol))).cast("double").as(s"__h$i"))
      }
    val agged = j.filter(keep).groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
    val outs = ps.zipWithIndex.map { case (p, i) =>
      val h = lit(p) * (col("n") - 1).cast("double")
      (col(s"__l$i") + (h - floor(h)) * (col(s"__h$i") - col(s"__l$i")))
        .as(s"p$i")
    }
    val keepCols = Seq(col(groupCol), col("n")) ++
      (if (withAvg) Seq(col("avg")) else Nil) ++ outs
    Held(agged.select(keepCols: _*), Seq(sorted))
  }
}
