package graft.plans

import org.apache.spark.sql.DataFrame

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
}
