package graft.plans

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.classic.ClassicConversions._
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.storage.StorageLevel

/** A lazily defined frame plus the exact persisted intermediates it reads
  * — the one way an operator hands out a cache or eager local checkpoint
  * it made. The caller decides how `frame` is materialized:
  *
  *  - [[checkpointed]] / [[counted]] / [[collected]] / [[rows]]:
  *    materialize now through `frame`'s own query execution, then
  *    release, and destroy the broadcast relations built by that
  *    execution and by the caches the release frees;
  *  - a savepoint, a collect or a checkpoint of its own, then [[release]];
  *    broadcasts built under another query execution (a `DataFrameWriter`
  *    plans the write afresh) are not reachable from `frame`, and stay
  *    with the ContextCleaner until the driver's next GC;
  *  - `frame` alone, for plan tools: they see the full operator plan that
  *    [[checkpointed]] would run, then [[release]].
  *
  * Reading `frame` after the release recomputes released caches from
  * source, but fails on a released checkpoint, and an action on `frame`
  * itself after one of the materializing ends fails on its destroyed
  * broadcasts: release only once the result exists elsewhere. */
final case class Held(frame: DataFrame, handles: Seq[DataFrame] = Nil) {

  /** Derive a new frame from this one, keeping the same intermediates. */
  def map(f: DataFrame => DataFrame): Held = Held(f(frame), handles)

  /** Free every intermediate, the most derived first (an unloaded cache
    * that depends on a released one would otherwise be re-planned). Runs
    * nothing: a frame that never ran built no broadcast to destroy. */
  def release(): Unit = handles.reverseIterator.foreach(Held.release)

  /** Run `materialize` on `frame`, then [[release]] (also when it fails),
    * and destroy the broadcasts that the run built and those built by the
    * caches it frees: once the result exists elsewhere, nothing reads
    * either again. */
  private def retiring[T](materialize: => T): T = {
    val caches = handles.flatMap(Held.cachedPlan)
    val out = try materialize finally release()
    Held.dropBroadcasts(frame.queryExecution.executedPlan, caches)
    out
  }

  /** Materialize `frame` as an eager local checkpoint, then [[release]]:
    * the right end for a result much smaller than the intermediates it
    * frees, or one that replaces them. A final global sort stays lazy
    * above the checkpoint of its input, so a consumer that only counts
    * never sorts. */
  def checkpointed(): DataFrame = frame.queryExecution.analyzed match {
    case sort @ Sort(_, true, input, _) =>
      val cp = Held(Held.frameOf(frame, input), handles).checkpointed()
      Held.frameOf(frame, sort.copy(child = cp.queryExecution.analyzed))
    case _ => retiring(frame.localCheckpoint(true))
  }

  /** [[checkpointed]] plus the result's row count, both from one job: a
    * lazy local checkpoint that its counting job fills. */
  def counted(): (DataFrame, Long) = retiring {
    val cp = frame.localCheckpoint(false)
    (cp, SQLExecution.withNewExecutionId(cp.queryExecution, Some("count"))(
      cp.queryExecution.toRdd.count()))
  }

  /** [[checkpointed]] for a result of a few rows: collected into a local
    * relation, so no persisted block outlives the call. */
  def collected(): DataFrame =
    frame.sparkSession.createDataFrame(java.util.Arrays.asList(rows(): _*), frame.schema)

  /** [[collected]] for a caller that reads the rows on the driver. */
  def rows(): Array[Row] = retiring(frame.collect())
}

object Held {

  /** `df.cache()` as a [[Held]]: the cached frame, holding itself only
    * if this call created the cache entry. Spark keeps one entry per
    * canonical plan, so a plan another caller had already cached is
    * shared, and left for that caller to release. */
  def cached(df: DataFrame): Held = {
    val owned = df.storageLevel == StorageLevel.NONE
    val c = df.cache()
    Held(c, if (owned) Seq(c) else Nil)
  }

  /** `plan` as a frame of `like`'s session. */
  private def frameOf(like: DataFrame, plan: LogicalPlan): DataFrame =
    new org.apache.spark.sql.classic.Dataset[Row](like.sparkSession, plan,
      Encoders.row(plan.schema))

  /** Free one persisted intermediate on its exact handle: a `.cache()`d
    * frame leaves the cache manager; a local checkpoint, also one that
    * [[checkpointed]] sorts lazily, drops its blocks (`Dataset.unpersist`
    * is a silent no-op on a checkpoint, whose blocks belong to the RDD
    * under its `LogicalRDD`). Any other frame is left as it is. */
  def release(handle: DataFrame): Unit = handle.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(); ()
    case Sort(_, true, r: LogicalRDD, _) => r.rdd.unpersist(); ()
    case _ => handle.unpersist(); ()
  }

  /** The physical plan that fills `handle`'s cache entry, if it has one. */
  private def cachedPlan(handle: DataFrame): Option[SparkPlan] = {
    val qe = handle.queryExecution
    qe.sparkSession.sharedState.cacheManager.lookupCachedData(qe.sparkSession, qe.analyzed)
      .map(_.cachedRepresentation.cacheBuilder.cachedPlan)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** Destroy the broadcast relations built by the plan that `ran` and by
    * the `cached` plans that filled the caches just freed: what the
    * ContextCleaner would do once a driver GC finds them unreachable, only
    * now. Until then the driver's block store, and every executor that
    * read one, keeps a copy; a read-back `UnsafeHashedRelation` holds a
    * whole Tungsten page however few rows it has. The walk covers query
    * stages and subqueries, and `ran` also when it ran with adaptive
    * execution off (the AQE-off loop rounds), but not the cached plans it
    * scans (those may serve other readers). It reads only broadcasts
    * already built, so it never starts a broadcast job. A reused exchange
    * yields the same broadcast twice; each is destroyed once. Pass only a
    * plan that has run: planning an unexecuted frame to walk it would
    * cost a planning pass for nothing. */
  private def dropBroadcasts(ran: SparkPlan, cached: Seq[SparkPlan]): Unit =
    (ran +: cached).flatMap { p =>
      // a plan run with adaptive execution off built every broadcast in it
      // before its first task
      val prepared = (p eq ran) && !p.isInstanceOf[AdaptiveSparkPlanExec]
      Plans.collectWithSubqueries(p) {
        case s: BroadcastQueryStageExec if s.isMaterialized =>
          s.broadcast.relationFuture.get()
        case b: BroadcastExchangeExec if prepared => b.relationFuture.get()
      }
    }.distinctBy(_.id).foreach(_.destroy())
}
