package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The release contract behind [[Held]]: a release frees exactly the
  * caches and checkpoints the holder made, on their own handles. */
class HeldSpec extends SparkSpec {

  private def frame = spark.range(1000).toDF("x").withColumn("y", col("x") % 7)

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
}
