package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * The reference deploys Apache Pinot 1.2.0 behind a broker endpoint
  * (`/root/reference/lib/apache-pinot-solution-stack.ts:722,726`); our engine's
  * "broker" is a configured SparkSession. Catalyst plays the broker's
  * plan/scatter/gather role (partial agg -> shuffle -> final agg, see
  * SURVEY.md §3.2); these configs make that efficient at both local test
  * scale and cluster scale:
  *
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  *    replaces Pinot's broker-side segment pruning heuristics at 100 TB.
  *  - shuffle.partitions = the local core count; on a real cluster this
  *    would be ~2-3x total executor cores (AQE coalesces down, so erring
  *    high is safe).
  *  - UTC session timezone: determinism for the DuckDB oracle and for any
  *    cross-timezone cluster.
  *  - Thrift single-session mode (static, read only by the Thrift server):
  *    JDBC connections share this session's functions, views and confs
  *    instead of each getting a fresh one (see `server.SqlEndpoint`).
  *
  * This is the only place a SparkSession is built: Bench, Verify, the dev
  * tools and the test base trait all call it, so the oracle gates the same
  * plans the bench times.
  */
object Graft {

  /** Local core count: `SPARK_GRAFT_CPUS` if set, else every available
    * processor. The one place that env var is read. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(cores: Int = Graft.cores, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.hive.thriftServer.singleSession", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
