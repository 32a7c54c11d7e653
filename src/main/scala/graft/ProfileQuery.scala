package graft

/** Measurement tool (guide §1): run one named query repeatedly and report
  * where the wall-clock goes — DataFrame construction, job/stage counts,
  * per-stage task time, shuffle bytes — so optimization targets the real
  * cost, not a guess. Output is human-readable, never part of the bench
  * contract.
  *
  * Run: ProfileQuery <query> [sfDir] [runs]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.local(GraftSession.envCores, "graft-profile")
    val fn = SparkEntry.queries(name)

    case class StageRow(id: Int, nTasks: Int, wallMs: Long, taskMs: Long,
                        shuffleWrite: Long, name: String)
    val stages = new scala.collection.mutable.ArrayBuffer[StageRow]
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += StageRow(si.stageId, si.numTasks, wall,
            si.taskMetrics.executorRunTime,
            si.taskMetrics.shuffleWriteMetrics.bytesWritten,
            si.name.takeWhile(_ != '\n').take(60))
        }
      }
    })

    // one attempt through Bench's step; a failure or a leak stops the run
    def attempt(): (Double, Double) = Bench.attemptOrThrow(spark, sfDir, fn, name)
    attempt() // warmup (codegen, JIT, parquet footers)
    Thread.sleep(300)

    for (r <- 1 to runs) {
      stages.synchronized(stages.clear()); jobs.set(0)
      val (built, total) = attempt()
      Thread.sleep(400) // let listener drain
      val ss = stages.synchronized(stages.toVector).sortBy(-_.wallMs)
      val stageWall = ss.map(_.wallMs).sum
      println(f"== run $r: total $total%.3fs  build $built%.3fs  " +
        f"exec ${total - built}%.3fs  jobs ${jobs.get}  stages ${ss.size}  " +
        f"sum(stage wall) ${stageWall / 1e3}%.3fs")
      if (r == runs)
        ss.take(20).foreach(s => println(
          f"   stage ${s.id}%4d tasks ${s.nTasks}%3d wall ${s.wallMs}%6dms taskSum ${s.taskMs}%6dms " +
          f"shW ${s.shuffleWrite / 1024}%8dKB  ${s.name}"))
    }
    spark.stop()
  }
}
