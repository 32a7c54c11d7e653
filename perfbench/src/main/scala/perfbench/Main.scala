package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import scala.collection.mutable.ArrayBuffer

/** One benchmark process: set up a session and the workload's inputs,
  * warm up until run times stop falling, time closed-loop runs for the
  * requested seconds, optionally replay one run under the tracer, and
  * write everything measured to `--out` as JSON. `run.py` builds and
  * launches this and prints the summary line.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --cores N --pins FILE --out FILE
  */
object Main {
  final case class RunRecord(kind: String, wall: Double, cpu: Double,
                             liveHeapMb: Double, stealSecs: Double,
                             persistedLeft: Int, failures: Seq[String])

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.all.getOrElse(args("workload"),
      sys.error(s"unknown workload ${args("workload")}"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = new java.io.File(args("work")).getAbsoluteFile
    val cores = args("cores").toInt
    val pins = Pins.load(args("pins"), wl.name, seed)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9

    // ---- set-up: session, then the inputs staged three times
    val spark = GraftSession.local(cores, "perfbench")
    val sessionSecs = (System.currentTimeMillis() - Probes.jvmStartMs) / 1e3
    val stageSecs = (0 until 3).map { i =>
      val s = System.nanoTime()
      wl.stage(spark, s"$work/inputs-$i", seed)
      (System.nanoTime() - s) / 1e9
    }
    val inputs = s"$work/inputs-2"
    val setupSecs = sessionSecs + Stats.median(stageSecs)
    System.err.println(f"[perfbench] session $sessionSecs%.2f s, staging " +
      stageSecs.map(x => f"$x%.2f").mkString(" "))

    // ---- runs
    val records = ArrayBuffer.empty[RunRecord]
    var first = Option.empty[Outputs.T]
    def oneRun(kind: String): RunRecord = {
      val dir = new java.io.File(work, s"runs/${records.size}")
      val conf = wl.conf(inputs, s"$dir/project", seed)
      System.gc()
      val steal0 = Probes.stealSecs
      val cpu0 = Probes.cpuNs
      val w0 = System.nanoTime()
      val attempt = scala.util.Try(wl.run(spark, conf))
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (Probes.cpuNs - cpu0) / 1e9
      val steal = Probes.stealSecs - steal0
      val live = Probes.liveHeapMb
      val c0 = System.nanoTime()
      val failures = checked(attempt.flatMap(f => scala.util.Try(f(false))))
      val checkSecs = (System.nanoTime() - c0) / 1e9
      val rec = RunRecord(kind, wall, cpu, live, steal, reset(spark), failures)
      deleteTree(dir)
      records += rec
      System.err.println(f"[perfbench] $kind%s run ${records.size}%d: wall $wall%.2f s, " +
        f"check $checkSecs%.2f s, cpu $cpu%.2f s, live heap $live%.0f MB, steal $steal%.2f s, left ${rec.persistedLeft}%d" +
        rec.failures.map("\n  FAILED " + _).mkString)
      rec
    }
    def checked(o: scala.util.Try[Outputs.T]): Seq[String] = o match {
      case scala.util.Failure(e) => Seq(s"threw ${e.getClass.getName}: ${e.getMessage}")
      case scala.util.Success(out) =>
        val f = wl.check(out) ++ Pins.check(pins, out) ++
          first.toSeq.flatMap(Pins.diff("run differs from this process's first run", _, out))
        if (first.isEmpty && f.isEmpty) first = Some(out)
        f
    }

    // warm-up: one untimed run pays the JIT and codegen cost of every code
    // path the workload takes (see README: why one)
    val warm = Seq(oneRun("warmup").wall)
    // timed runs, closed loop: the next run starts when the last returns
    val tTimed = System.nanoTime()
    while (records.count(_.kind == "timed") < 1 ||
           (System.nanoTime() - tTimed) / 1e9 < seconds) oneRun("timed")
    val timed = records.filter(_.kind == "timed").toSeq

    val traced = if (trace) Some(tracedRun(spark, wl, inputs, seed, work, timed, first)) else None
    val failed = records.count(_.failures.nonEmpty) + traced.count(_._2.nonEmpty)
    val attempted = records.size + traced.size

    val endToEnd = Map(
      "run_s" -> (Stats.median(timed.map(_.wall)), "s"),
      "cpu_s" -> (Stats.median(timed.map(_.cpu)), "s"),
      "live_heap_mb" -> (Stats.median(timed.map(_.liveHeapMb)), "MB"),
      "setup_s" -> (setupSecs, "s"))
    val metrics = traced.map(_._1).getOrElse(endToEnd)

    def num(d: Double): JValue = JDouble(d)
    val out = JObject(
      "workload" -> JString(wl.name), "seed" -> JInt(seed), "cores" -> JInt(cores),
      "jvm" -> JString(Probes.jvmVersion), "max_heap_mb" -> num(Probes.maxHeapMb),
      "correct" -> JBool(failed == 0), "attempted" -> JInt(attempted),
      "failed" -> JInt(failed),
      "metrics" -> JObject(metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
        k -> JObject("value" -> num(v), "unit" -> JString(u)) }.toList),
      "setup" -> JObject("session_s" -> num(sessionSecs),
        "stage_s" -> JArray(stageSecs.map(num).toList)),
      "warmup_walls_s" -> JArray(warm.map(num).toList),
      "runs" -> JArray(records.map(r => JObject(
        "kind" -> JString(r.kind), "wall_s" -> num(r.wall), "cpu_s" -> num(r.cpu),
        "live_heap_mb" -> num(r.liveHeapMb),
        "steal_s" -> num(r.stealSecs), "persisted_left" -> JInt(r.persistedLeft),
        "failures" -> JArray(r.failures.map(JString(_)).toList))).toList),
      "outputs" -> JObject(first.getOrElse(Map.empty).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> num(v) }.toList),
      "trace" -> traced.map(_._3).getOrElse(JNothing),
      "trace_failures" -> JArray(traced.toSeq.flatMap(_._2).map(JString(_)).toList),
      "total_s" -> num(elapsed))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args("out")),
      JsonMethods.pretty(JsonMethods.render(out)))
    spark.stop()
  }

  /** Isolation between runs: how many RDDs the run left persisted, then
    * every cached block dropped so the next run starts from the same state. */
  private def reset(spark: SparkSession): Int = {
    val left = spark.sparkContext.getPersistentRDDs.size
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    left
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** The replay under the tracer, after the same warm-up. Returns the
    * per-layer metrics, the faithfulness failures, and the spans. */
  private def tracedRun(spark: SparkSession, wl: Workload, inputs: String, seed: Long,
                        work: java.io.File, timed: Seq[RunRecord],
                        reference: Option[Outputs.T])
      : (Map[String, (Double, String)], Seq[String], JValue) = {
    val dir = new java.io.File(work, "runs/traced")
    val conf = wl.conf(inputs, s"$dir/project", seed)
    val counters = new EngineCounters
    spark.sparkContext.addSparkListener(counters)
    val tr = new Tracer(spark.sparkContext, counters)
    System.gc()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val w0 = counters.now
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val attempt = scala.util.Try(wl.replay(spark, conf, tr))
    val wall = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val work1 = counters.now - w0
    val busyMs = counters.jobBusyMs(ms0, ms1)
    spark.sparkContext.removeSparkListener(counters)
    val outputs = attempt.flatMap(f => scala.util.Try(f(true)))
    val persistedLeft = reset(spark)
    deleteTree(dir)

    val spans = tr.spans
    val self = tr.selfSecs
    val unattributed = wall - self.values.sum
    val failures = (outputs match {
      case scala.util.Failure(e) => Seq(s"replay threw ${e.getClass.getName}: ${e.getMessage}")
      case scala.util.Success(o) =>
        wl.check(o) ++ reference.toSeq.flatMap(Pins.diff("replay differs from the untraced run", _, o))
    }) ++ Seq(
      if (self.values.exists(_ < -1e-6)) Some("a span's children outlast it") else None,
      if (unattributed < -1e-6 || unattributed > 0.1 * wall)
        Some(f"spans leave $unattributed%.3f s of the $wall%.3f s traced wall unattributed")
      else None).flatten

    val layers = Layers.of(spans)
    val mb = 1048576.0
    val engine = Map(
      "spark.jobs" -> (work1.jobs.toDouble, "count"),
      "spark.stages" -> (work1.stages.toDouble, "count"),
      "spark.tasks" -> (work1.tasks.toDouble, "count"),
      "spark.task_cpu_s" -> (work1.taskCpuNs / 1e9, "s"),
      "spark.shuffle_write_mb" -> (work1.shuffleWriteB / mb, "MB"),
      "spark.shuffle_read_mb" -> (work1.shuffleReadB / mb, "MB"),
      "spark.spill_mb" -> (work1.spillB / mb, "MB"),
      "spark.input_mb" -> (work1.inputB / mb, "MB"),
      "spark.persisted_left" -> (persistedLeft.toDouble, "count"),
      "driver.no_job_s" -> (((ms1 - ms0) - busyMs) / 1e3, "s"),
      "trace.wall_s" -> (wall, "s"),
      "trace.unattributed_s" -> (unattributed, "s"),
      "trace.overhead_s" -> (wall - Stats.median(timed.map(_.wall)), "s"))
    val spanJson = JArray(spans.map(s => JObject(
      "id" -> JInt(s.id), "parent" -> JInt(s.parent), "name" -> JString(s.name),
"start_s" -> JDouble((s.startNs - t0) / 1e9),
      "secs" -> JDouble(s.secs), "self_s" -> JDouble(self(s.id)),
      "jobs" -> JInt(s.work.jobs), "stages" -> JInt(s.work.stages),
      "tasks" -> JInt(s.work.tasks))).toList)
    (layers ++ engine, failures, spanJson)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
