package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The eager checkpoint-and-release idiom behind the exact-rank family
  * and the KN language models: a SMALL output is materialized with
  * `localCheckpoint(true)` so the big internal caches feeding it (the
  * range-sorted frame, the n-gram type tables) can be unpersisted
  * deterministically instead of leaking for the session.
  *
  * The idiom is OPTIONAL by process flag (`-Dgraft.plans.lazy=true`):
  * plan-evidence tooling (PlanDump) needs the FULL operator plan to
  * survive into the committed artifact — an eager checkpoint would
  * collapse it to a checkpoint scan — and a single-query batch job that
  * exits right after its one action can skip the extra materialization
  * job entirely. Under the flag both the checkpoint AND the release are
  * skipped (the caches must outlive the returned plan); the caches then
  * live until the short process exits.
  */
object Eager {

  /** True unless the process opted into lazy plans. */
  def enabled: Boolean = !java.lang.Boolean.getBoolean("graft.plans.lazy")

  /** Materialize `df` eagerly and run `release` (cache unpersists) —
    * or, under `graft.plans.lazy`, return the lazy plan untouched and
    * keep its caches alive. */
  def checkpoint(df: DataFrame)(release: => Unit): DataFrame =
    if (enabled) { val out = df.localCheckpoint(true); release; out }
    else df

  /** [[checkpoint]] for a result of a few rows: collected into a local
    * relation, so no cache entry outlives the call. */
  def collected(df: DataFrame)(release: => Unit): DataFrame =
    if (enabled) {
      val rows = try df.collectAsList() finally release
      df.sparkSession.createDataFrame(rows, df.schema)
    } else df

  /** Free one persisted intermediate on its exact handle: a `.cache()`d
    * frame leaves the cache manager; a local checkpoint drops its blocks
    * (`Dataset.unpersist` is a silent no-op on a checkpoint, whose blocks
    * belong to the RDD under its `LogicalRDD`). Any other frame is left
    * as it is. */
  def release(handle: DataFrame): Unit = handle.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(); ()
    case _ => handle.unpersist(); ()
  }
}

/** A lazily defined frame plus the exact persisted intermediates it reads
  * — the `(frame, handle)` pair of
  * [[GlobalRank.withNtilePersisted]] generalized to every cache and eager
  * local checkpoint an operator makes. The operator's plain form returns
  * `frame` alone (its intermediates then live for the session, which a
  * one-shot query can afford); a caller that materializes `frame` itself
  * — a local checkpoint, a savepoint, a collect — calls [[release]]
  * right after, so nothing the operator persisted outlives that point.
  *
  * Reading `frame` after the release recomputes released caches from
  * source, but fails on a released checkpoint: release only once the
  * result exists elsewhere. */
final case class Held(frame: DataFrame, handles: Seq[DataFrame] = Nil) {

  /** Derive a new frame from this one, keeping the same intermediates. */
  def map(f: DataFrame => DataFrame): Held = Held(f(frame), handles)

  /** Free every intermediate, the most derived first (an unloaded cache
    * that depends on a released one would otherwise be re-planned). */
  def release(): Unit = handles.reverseIterator.foreach(Eager.release)
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
}
