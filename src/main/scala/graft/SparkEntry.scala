package graft
import graft.plans.Held
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{AnalyticsPack, EventOpsPack, ExperimentPack, LlmData, MetricsPack, MultimodalPack, Relational, TextOpsPack, QueryPack}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * All query packs are folded here; `queries` and `oracleSql` keys line up
  * 1:1 (oracle omitted only for ops DuckDB can't express — those get the
  * driver's rows-only check and a ScalaTest spec instead).
  */
object SparkEntry {
  private def packs: Seq[QueryPack] =
    Seq(Relational, LlmData, MetricsPack, TextOpsPack, MultimodalPack,
      EventOpsPack, AnalyticsPack, ExperimentPack)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** The lazy form of each query that persists an intermediate while it
    * is built ([[QueryPack.held]]); `queries` returns its checkpoint. */
  def held: Map[String, (SparkSession, String) => Held] =
    packs.flatMap(_.held).toMap

  /** Query `name` as the plan it runs, before anything materializes its
    * result: a held query's lazy form, any other query as it is. Plan
    * tools read `.frame`, then release. */
  def lazyQuery(name: String, spark: SparkSession, dir: String): Held =
    held.get(name).fold(Held(queries(name)(spark, dir)))(_(spark, dir))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracle).toMap
}
