package graft.plans

import graft.SparkSpec
import org.apache.spark.DriverBlocks
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The release contract behind [[Held]]: a release frees exactly the
  * caches and checkpoints the holder made, on their own handles, and a
  * materializing end destroys the broadcasts its own execution built. */
class HeldSpec extends SparkSpec {

  private def frame = spark.range(1000).toDF("x").withColumn("y", col("x") % 7)

  /** Two broadcast hash joins on the same build side: the second reuses
    * the first one's exchange, so one broadcast serves two stages. */
  private def selfJoined = {
    val side = spark.range(20).select(col("id").as("k"), (col("id") * 3).as("v"))
    frame.join(broadcast(side).as("a"), col("y") === col("a.k"))
      .join(broadcast(side).as("b"), col("x") % 20 === col("b.k"))
      .select(col("x"), col("a.v").as("va"), col("b.v").as("vb"))
  }

  private object Plans
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  behavior of "Held"

  it should "release a cache it created and a checkpoint, leaving the result readable" in {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val Held(cached, cachedH) = Held.cached(frame.filter(col("y") === 3))
    val cp = frame.groupBy("y").count().localCheckpoint(true)
    val held = Held(cached.join(cp, "y"), cachedH :+ cp)
    val out = held.frame.localCheckpoint(true)
    val expected = out.collect().toSet
    held.release()
    (sc.getPersistentRDDs.keySet -- before) shouldBe
      Set(out.queryExecution.logical.asInstanceOf[
        org.apache.spark.sql.execution.LogicalRDD].rdd.id)
    cached.storageLevel shouldBe StorageLevel.NONE
    out.collect().toSet shouldBe expected
    expected should have size 143
  }

  it should "materialize, then release, through checkpointed and collected" in {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.LogicalRDD
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def held = Held.cached(frame.filter(col("y") === 2)).map(_.groupBy("y").count())
    val cp = held.checkpointed()
    val cpRdd = cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    (sc.getPersistentRDDs.keySet -- before) shouldBe Set(cpRdd.id)
    val local = held.collected()
    local.queryExecution.logical shouldBe a[LocalRelation]
    (sc.getPersistentRDDs.keySet -- before) shouldBe Set(cpRdd.id)
    local.collect().toSeq shouldBe cp.collect().toSeq
    local.collect().map(_.getLong(1)).toSeq shouldBe Seq(143L)
    Held.release(cp)
    (sc.getPersistentRDDs.keySet -- before) shouldBe empty
  }

  it should "leave a cache entry another caller created to that caller" in {
    val theirs = frame.filter(col("y") === 5).cache()
    theirs.count()
    val held = Held.cached(frame.filter(col("y") === 5))
    held.handles shouldBe empty
    held.release()
    theirs.storageLevel should not be StorageLevel.NONE
    theirs.unpersist()
  }

  it should "destroy each broadcast its materialization built, once, through checkpointed and collected" in {
    import org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    val expected = selfJoined.collect().toSet
    expected should have size 1000
    Seq[Held => Set[org.apache.spark.sql.Row]](
      _.checkpointed().collect().toSet,
      _.collected().collect().toSet
    ).foreach { materialize =>
      val held = Held(selfJoined)
      materialize(held) shouldBe expected
      val plan = held.frame.queryExecution.executedPlan
      Plans.collectWithSubqueries(plan) { case r: ReusedExchangeExec => r } should not be empty
      val built = Plans.collectWithSubqueries(plan) {
        case s: BroadcastQueryStageExec => s.broadcast.relationFuture.get()
      }
      built.size should be >= 2
      built.map(_.id).distinct should have size 1
      built.foreach(b => DriverBlocks.isValid(b) shouldBe false)
      // destroy() drops the blocks asynchronously
      eventually(timeout(10.seconds)) {
        DriverBlocks.broadcastRelations(sc) should not contain built.head.id
      }
    }
  }

  it should "start no job when releasing a frame that never ran" in {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val held = Held.cached(frame.filter(col("y") === 4)).map(_.join(selfJoined, "x"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    DriverBlocks.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      held.release()
      DriverBlocks.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get shouldBe 0
    held.handles.head.storageLevel shouldBe StorageLevel.NONE
  }
}
