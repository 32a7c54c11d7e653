package graft.queries

import graft.plans.Held
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A bundle of named queries + their DuckDB oracle SQL (driver contract:
  * column names must match between the Spark result and the oracle, and
  * every query orders its output deterministically on a unique key so the
  * row stream is reproducible across engines).
  *
  * Queries without an oracle entry (seeded randomness, ML training, hashing
  * schemes DuckDB can't replicate) get the driver's weaker rows-only check
  * and are covered by ScalaTest specs instead.
  */
trait QueryPack {

  /** Queries that return their plan as is. */
  protected def direct: Map[String, (SparkSession, String) => DataFrame]

  /** Queries that persist an intermediate while their plan is built, in
    * their lazy [[Held]] form: `frame` is the plan that runs, and
    * [[queries]] materializes it with `checkpointed()`, so nothing the
    * query persisted outlives the call. */
  def held: Map[String, (SparkSession, String) => Held] = Map.empty

  /** Every query of the pack, by name. */
  final def queries: Map[String, (SparkSession, String) => DataFrame] =
    direct ++ held.map { case (name, f) =>
      name -> ((s: SparkSession, dir: String) => f(s, dir).checkpointed())
    }

  def oracle: Map[String, String]
}
