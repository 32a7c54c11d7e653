package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Design notes for scale (local[N] here, 1000-executor cluster in prod):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  *    replaces hand-tuned partition counts at 100 TB.
  *  - shuffle.partitions matches local cores; on a cluster this is overridden
  *    by AQE's coalescing from `spark.sql.adaptive.coalescePartitions`.
  *  - UTC session timezone: oracle (DuckDB) parity for timestamp semantics.
  */
object GraftSession {
  /** Cores for driver-invoked mains: SPARK_GRAFT_CPUS, else all available. */
  def envCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int = Runtime.getRuntime.availableProcessors.min(8),
            appName: String = "graft"): SparkSession =
    configure(SparkSession.builder().master(s"local[$cores]").appName(appName)
      // the only executor lives in the driver's JVM: expiring it after a
      // long stall (default 120 s without a heartbeat) cannot help and
      // stops the context for every later job
      .config("spark.storage.blockManagerHeartbeatTimeoutMs", LocalHeartbeatTimeout),
      shufflePartitions = cores)

  /** Executor heartbeat timeout of [[local]] sessions. */
  val LocalHeartbeatTimeout = "7d"

  /** Cluster entry: no master set — spark-submit / the cluster manager
    * decides. Shuffle partitions stay at Spark's default (AQE coalesces);
    * everything else matches [[local]]. */
  def cluster(appName: String = "graft"): SparkSession =
    configure(SparkSession.builder().appName(appName), shufflePartitions = 0)

  private def configure(b: SparkSession.Builder,
                        shufflePartitions: Int): SparkSession = {
    val withParts =
      if (shufflePartitions > 0)
        b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      else b
    val spark = withParts
      // graft native expressions (vec_dot/vec_norm/vec_l2/vec_sig) — public
      // extension hook; makes them callable from DataFrame code AND SQL text.
      .withExtensions(graft.functions.GraftFunctions.register)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects by
      // default; read as long nanos and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // naive (no-tz) parquet timestamps read as TIMESTAMP in the UTC
      // session rather than TIMESTAMP_NTZ — same instant DuckDB sees, and
      // keeps unix_micros()/window() et al. applicable.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      // Kryo for the RDD paths (stratified sampling, typed dataset spills);
      // reference parity: FlashML.scala:62-66 (kryo + 256m buffer max)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryo.registrator", "graft.GraftKryoRegistrator")
      .config("spark.kryoserializer.buffer.max", "256m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
