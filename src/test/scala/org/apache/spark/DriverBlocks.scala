package org.apache.spark

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.BroadcastBlockId

/** Reads for specs of the driver state Spark keeps package-private. */
object DriverBlocks {

  private val hashed =
    Class.forName("org.apache.spark.sql.execution.joins.HashedRelation")

  /** Ids of the broadcast relations (a join's hash table, or the rows of a
    * nested-loop build side) whose whole value is in the driver's block
    * store, where a task that read the broadcast back put it. */
  def broadcastRelations(sc: SparkContext): Set[Long] = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds(_.isInstanceOf[BroadcastBlockId]).collect {
      case id @ BroadcastBlockId(b, "") if scala.util.Try(bm.memoryStore.getValues(id))
          .toOption.flatten.flatMap(_.nextOption()).exists(v =>
            hashed.isInstance(v) || v.isInstanceOf[Array[InternalRow]]) => b
    }.toSet
  }

  /** Whether `b` can still be read: false once it is destroyed. */
  def isValid(b: broadcast.Broadcast[_]): Boolean = b.isValid

  /** Wait until every listener has seen every event posted so far. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
