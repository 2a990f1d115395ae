package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

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
  *  - Generated-code cache of 8,000 classes (static, JVM-wide): Spark's
  *    default of 100 is smaller than one 12-query perfbench suite pass
  *    (~233 classes), so every pass evicted the last and Janino recompiled
  *    all of it. One 209-query Bench pass compiles 2,715 distinct classes
  *    at sf0.01; 8,000 is about 3x that. Bench at sf0.01, 4 cores, 7 GB
  *    heap, with `Graft.child` and the `sources.Tables` relation memo,
  *    against Spark's default: pass-2 compiles 3,742 -> 44, total 104 s ->
  *    56 s; after pass 1 and a full GC, heap 467 -> 725 MB and Metaspace
  *    195 -> 216 MB.
  *  - Runtime optimizer rule `plans.SmallSortRule`: a global sort or an
  *    unpartitioned window over small materialized AQE stages runs in one
  *    partition, with no range-sampling job and no range shuffle.
  *  - Query-stage preparation rule `plans.OnePartitionRule`: a shuffle whose
  *    input already runs in one partition (a one-file scan, or an input an
  *    earlier replacement left in one partition) becomes `CoalesceExec(1)`,
  *    so a small query over single-file tables runs as one Spark job. Its
  *    threshold, `OnePartitionRule.maxBytes`, is the size AQE's coalescing
  *    folds into one partition anyway, shared with `SmallSortRule`; it has
  *    no conf key because AQE's own coalesce settings already tune it, and
  *    a second knob could only disagree with them.
  *  - Optimizer rule `plans.HllRegistersRule`: `approx_count_distinct`
  *    (and the Pinot `DISTINCTCOUNTHLL` family that maps to it) runs as
  *    `expressions.HllRegisters`, which keeps one column's HLL++ registers
  *    in one typed buffer. Spark's own layout has one LONG buffer field per
  *    10 registers (410 at rsd 0.02), and every task generated and
  *    canonicalized projections over all of them before it read a row.
  *    Bench at sf0.1, 4 cores: q_sketch_hll 0.47 -> 0.16 s. Answers are
  *    bit-identical, so the rule has no conf key.
  *  - The graft SQL functions `cosine_sim`, `dot_product`, `simhash64`,
  *    `fingerprint64` and `byte_avg` (the engine's equivalent of Pinot's
  *    scalar-function plugin registry, SURVEY.md §2.10 X0a), and the
  *    optimizer rule `plans.RangeJoinBinningRule`, which returns at once
  *    unless `spark.graft.rangeJoin.binWidth` is set.
  *  Functions and rules live in these extensions, so every session and
  *  every `newSession()` child resolves the same names and plans the same
  *  way.
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

  /** The graft SQL functions: name, expression class, builder. */
  private val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = {
    import graft.expressions._
    Seq(
      ("cosine_sim", classOf[CosineSimilarity], args => CosineSimilarity(args(0), args(1))),
      ("dot_product", classOf[DotProduct], args => DotProduct(args(0), args(1))),
      ("simhash64", classOf[SimHash64], args => SimHash64(args.head)),
      ("fingerprint64", classOf[Fingerprint64], args => Fingerprint64(args.head)),
      ("byte_avg", classOf[ByteAvg], args => ByteAvg(args.head)))
  }

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
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.ui.enabled", "false")
      .withExtensions { e =>
        functions.foreach { case (name, cls, builder) =>
          e.injectFunction((FunctionIdentifier(name),
            new ExpressionInfo(cls.getCanonicalName, null, name, null, "", "", "", "", "", "",
              "built-in"),
            builder))
        }
        e.injectOptimizerRule(_ => graft.plans.HllRegistersRule)
        e.injectOptimizerRule(_ => graft.plans.RangeJoinBinningRule)
        e.injectRuntimeOptimizerRule(_ => graft.plans.SmallSortRule)
        e.injectQueryStagePrepRule(_ => graft.plans.OnePartitionRule)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // one "No Partition Defined" WARN per global window per execution:
    // hundreds per Bench pass, all expected (the ranked sets are small)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  private val children = new ConcurrentHashMap[(SparkSession, String), SparkSession]()

  /** The child session of `parent` for `role`: built by the first call with
    * `parent.newSession()` and `init` (function registrations, views, index
    * or rollup registrations), then returned as is. A role names everything
    * `init` installs, so callers put the dir or artifact path `init` reads
    * into it. A child made per call would redo `init` and, because each
    * session has its own class loader, recompile its generated code.
    * Concurrent first calls for one role wait for a single `init`; an `init`
    * that throws records nothing. Children of a stopped context are dropped.
    * The one place a session is derived from another. */
  def child(parent: SparkSession, role: String)(init: SparkSession => Unit): SparkSession = {
    children.keySet.removeIf(_._1.sparkContext.isStopped)
    children.computeIfAbsent((parent, role), _ => {
      val s = parent.newSession()
      init(s)
      s
    })
  }
}
