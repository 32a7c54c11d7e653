package graft

import graft.plans.Held
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A failed query reports duration -1 AND lands in an
  * "errors" object — failures must be visible, never silently fast.
  *
  * Every attempt goes through [[Bench.attempt]], the step the other timing
  * tools share: the query's returned frame is released after it is timed,
  * and anything else the call left persisted (an RDD or a cache-manager
  * entry) is recorded in "errors" too. Nothing is swept between attempts,
  * so a leaked cache would show up as a later attempt's free reuse.
  *
  * Noise resistance: each query is warmed once (unmeasured — codegen, JIT,
  * parquet footers) and then timed `SPARK_GRAFT_RUNS` times (default 3;
  * the exact-rank family gets at least 5 — see [[Bench.NoisyRankQueries]]);
  * the reported number is the MEDIAN, so one GC pause or contended-machine
  * blip cannot dominate a round's signal. The committed BENCH_LOCAL.json
  * additionally carries per-query {median,min,max} spread plus MEASURED
  * shuffle-write and spill bytes from the task metrics of the last timed
  * run — the evidence behind every "this plan shuffles O(keys), not
  * O(rows²)" claim, and the tripwire that catches a silently-acquired
  * extra exchange or a spill regression between rounds.
  *
  * The `*_persisted` rows ([[Bench.ServingOnly]]) time only the serving
  * path: the artifact they probe or apply is built once, during the
  * warm-up, and each timed run reads it back. Their stats carry
  * `"serving_only":true`, so a round's diff never reads them as the cost
  * of building that artifact.
  */
object Bench {

  /** The exact-rank (range-sort) query family measures noisier than the
    * rest — each run launches a range-partitioner sample job plus the
    * two-pass rank, so scheduler jitter compounds (observed ~11%
    * builder-vs-driver drift at 3 runs where single-exchange queries
    * agree within ~1.5%). These take extra timed runs so the committed
    * medians and the driver's are pinned to the same distribution. */
  private val NoisyRankQueries = Set(
    "robust_outliers", "rfm_tiers", "group_percentiles", "ntile_bins",
    "exact_quantiles", "quality_tiers", "score_rank_norm", "vocab_zipf",
    "interevent_gaps", "psi_exact", "auroc_rank",
    "weighted_percentiles", "weighted_percentiles_interp", "mann_whitney",
    "quantile_treatment", "winsorized_mean", "zorder_layout")

  /** Queries whose timed runs only serve a persisted artifact. */
  private val ServingOnly = Set(
    "ann_probe_persisted", "bpe_apply_persisted", "unigram_lm_apply_persisted")

  /** One attempt at a query: build it and count it (the timed part), then,
    * uncharged, release the returned frame (a held query's checkpoint),
    * check that nothing else the call persisted is left, and collect
    * garbage so this attempt's heap pressure does not surface as a GC
    * pause inside the next one. Returns the build and total seconds of a
    * run that succeeded, and why the attempt failed or what it left. */
  def attempt(spark: SparkSession, sfDir: String,
              run: (SparkSession, String) => DataFrame): (Option[(Double, Double)], Option[String]) = {
    val sc = spark.sparkContext
    val cacheManager = spark.sharedState.cacheManager
    val rdds0 = sc.getPersistentRDDs.keySet
    val uncached0 = cacheManager.isEmpty
    val t0 = System.nanoTime()
    val out = try {
      val df = run(spark, sfDir)
      val built = (System.nanoTime() - t0) / 1e9
      df.count()
      Right((df, built, (System.nanoTime() - t0) / 1e9))
    } catch { case e: Throwable => Left(e.toString.take(200)) }
    out.foreach { case (df, _, _) => Held.release(df) }
    val rdds = (sc.getPersistentRDDs.keySet -- rdds0).size
    val entries = uncached0 && !cacheManager.isEmpty
    System.gc()
    val left =
      if (rdds == 0 && !entries) None
      else Some(s"left persisted: $rdds RDDs" + (if (entries) " and cache entries" else ""))
    (out.toOption.map { case (_, built, secs) => (built, secs) },
      out.left.toOption.orElse(left))
  }

  /** [[attempt]] for a tool that stops at the first attempt that fails or
    * leaves something persisted; `what` names the attempt in the error. */
  def attemptOrThrow(spark: SparkSession, sfDir: String,
                     run: (SparkSession, String) => DataFrame, what: String): (Double, Double) =
    attempt(spark, sfDir, run) match {
      case (Some(timed), None) => timed
      case (_, problem) => throw new IllegalStateException(s"$what: ${problem.mkString}")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = math.max(1, sys.env.get("SPARK_GRAFT_RUNS").map(_.toInt).getOrElse(3))
    val spark = GraftSession.local(GraftSession.envCores, "graft-bench")
    // Warm up the machinery every query pays for once (catalog, parquet
    // footer reads, codegen/janino, shuffle + window + join infrastructure)
    // on a 5-row dim table so the first query's warmup isn't charged for it.
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val r = Tables.region(spark, sfDir)
      r.groupBy("r_regionkey").agg(count(lit(1))).count()
      r.join(r.withColumnRenamed("r_regionkey", "k"), col("r_regionkey") === col("k"))
        .count()
      r.withColumn("rn",
        row_number().over(Window.partitionBy("r_regionkey").orderBy("r_regionkey"))).count()
      // range-partitioner + two-pass rank machinery (plans.GlobalRank)
      graft.plans.GlobalRank.withNtile(r, Seq(col("r_regionkey")), 2, "b").rows()
    }
    var errors = Map.empty[String, String]
    // local-iteration filter (unset for driver runs → full sweep)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)

    // Task-metric evidence: shuffle-write + spill bytes accumulated by a
    // listener; per-query numbers are the DELTA across one timed run.
    // Listener events drain async, so each snapshot waits (uncharged)
    // until the counters STABILIZE — a fixed sleep would let one query's
    // stragglers bleed into the next query's delta under GC pauses or
    // machine contention, mis-attributing the committed tripwire bytes.
    val shuffleBytes = new java.util.concurrent.atomic.LongAdder
    val spillBytes = new java.util.concurrent.atomic.LongAdder
    val taskEnds = new java.util.concurrent.atomic.LongAdder
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        Option(te.taskMetrics).foreach { tm =>
          shuffleBytes.add(tm.shuffleWriteMetrics.bytesWritten)
          spillBytes.add(tm.memoryBytesSpilled + tm.diskBytesSpilled)
        }
        taskEnds.increment()
      }
    })
    // Poll until two consecutive 20ms reads agree (bounded at 2s): the
    // bus is empty when no task-end has landed across a full interval.
    def drainListenerBus(): Unit = {
      var prev = (taskEnds.sum(), shuffleBytes.sum(), spillBytes.sum())
      var stable = 0
      val deadline = System.nanoTime() + 2000000000L
      while (stable < 2 && System.nanoTime() < deadline) {
        Thread.sleep(20)
        val cur = (taskEnds.sum(), shuffleBytes.sum(), spillBytes.sum())
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
    }

    // One attempt plus its task-metric deltas; a failure or a leak lands
    // in `errors`.
    def measured(name: String, fn: (SparkSession, String) => DataFrame): Option[(Double, Long, Long)] = {
      drainListenerBus() // settle the PREVIOUS attempt's task events
      val (sh0, sp0) = (shuffleBytes.sum(), spillBytes.sum())
      val (timed, problem) = attempt(spark, sfDir, fn)
      problem.foreach(p => errors += name -> p)
      drainListenerBus() // settle THIS attempt's task events before snapshot
      timed.map { case (_, secs) => (secs, shuffleBytes.sum() - sh0, spillBytes.sum() - sp0) }
    }

    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_ .contains(name)) }
      .map { case (name, fn) =>
        measured(name, fn) match { // warmup; a failure here skips the runs
          case None => name -> (Seq(-1.0), 0L, 0L)
          case Some(_) =>
            val nRuns = if (NoisyRankQueries(name)) math.max(runs, 5) else runs
            val triples = (1 to nRuns).flatMap(_ => measured(name, fn))
            if (triples.isEmpty) name -> (Seq(-1.0), 0L, 0L)
            else name -> (triples.map(_._1).sorted,
              triples.last._2, triples.last._3)
        }
      }
    def median(ts: Seq[Double]): Double = ts(ts.size / 2) // ts sorted, odd runs
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val qs = results.map { case (k, (ts, _, _)) => jstr(k) + ":" + median(ts) }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val total = results.collect { case (_, (ts, _, _)) if ts.head >= 0 => median(ts) }.sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"runs":$runs,"sf":"$sfDir"}"""
    println(line)
    // Also persist the full line (plus per-query spread + measured shuffle/
    // spill bytes) to the repo: the driver's captured tail truncates at
    // 2000 chars, which hides a third of the per-query timings — the
    // committed file keeps rounds diffable.
    val stats = results.map { case (k, (ts, sh, sp)) =>
      jstr(k) + s""":{"median":${median(ts)},"min":${ts.head},"max":${ts.last},"shuffle_mb":${math.round(sh / 1e4) / 100.0},"spill_mb":${math.round(sp / 1e4) / 100.0}""" +
        (if (ServingOnly(k)) ""","serving_only":true}""" else "}")
    }.mkString("{", ",", "}")
    val fileLine = line.dropRight(1) + s""","stats":$stats}"""
    try {
      val out = java.nio.file.Paths.get(
        sys.props.get("graft.bench.out")
          .orElse(sys.env.get("SPARK_GRAFT_BENCH_OUT"))
          .getOrElse("/root/repo/bench/BENCH_LOCAL.json"))
      Option(out.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.writeString(out, fileLine + "\n")
    } catch { // best-effort: never fail the bench on a write error —
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write BENCH_LOCAL.json: $e")
    }
    spark.stop()
  }
}
