package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** A lazily defined frame plus the exact persisted intermediates it reads
  * — the one way an operator hands out a cache or eager local checkpoint
  * it made. The caller decides how `frame` is materialized:
  *
  *  - [[checkpointed]] / [[collected]]: materialize now, then release;
  *  - a savepoint, a collect or a checkpoint of its own, then [[release]];
  *  - `frame` alone: the intermediates then live for the session, which a
  *    one-shot query can afford; plan tools read `frame` this way, so they
  *    see the full operator plan that [[checkpointed]] would run.
  *
  * Reading `frame` after the release recomputes released caches from
  * source, but fails on a released checkpoint: release only once the
  * result exists elsewhere. */
final case class Held(frame: DataFrame, handles: Seq[DataFrame] = Nil) {

  /** Derive a new frame from this one, keeping the same intermediates. */
  def map(f: DataFrame => DataFrame): Held = Held(f(frame), handles)

  /** Free every intermediate, the most derived first (an unloaded cache
    * that depends on a released one would otherwise be re-planned). */
  def release(): Unit = handles.reverseIterator.foreach(Held.release)

  /** Materialize `frame` as an eager local checkpoint, then [[release]]:
    * the right end for a result much smaller than the intermediates it
    * frees, or one that replaces them. */
  def checkpointed(): DataFrame = {
    val out = frame.localCheckpoint(true)
    release()
    out
  }

  /** [[checkpointed]] for a result of a few rows: collected into a local
    * relation, so no persisted block outlives the call. */
  def collected(): DataFrame = {
    val rows = try frame.collectAsList() finally release()
    frame.sparkSession.createDataFrame(rows, frame.schema)
  }
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
