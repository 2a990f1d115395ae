package graft

import graft.expressions._
import org.apache.spark.sql.catalyst.expressions.Expression

/** The graft extension functions on the SQL surface (so
  * `spark.sql("SELECT cosine_sim(a,b) ...")` works — the engine's
  * equivalent of Pinot's scalar-function plugin registry, SURVEY.md §2.10
  * X0a), plus the conf-guarded interval-join binning rule
  * (`plans.RangeJoinBinningRule`). Session-wide rules that every graft
  * session plans with are injected in `Graft.session` instead.
  */
object GraftExtensions {
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (args => CosineSimilarity(args(0), args(1))),
    "dot_product" -> (args => DotProduct(args(0), args(1))),
    "simhash64" -> (args => SimHash64(args.head)),
    "fingerprint64" -> (args => Fingerprint64(args.head)),
    "byte_avg" -> (args => ByteAvg(args.head)))

  /** Register on an existing session (used by tests and the local engine).
    * The optimizer rule goes through `experimental.extraOptimizations`
    * (the post-creation injection point); it is conf-guarded so presence
    * alone changes nothing. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    functions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
    if (!spark.experimental.extraOptimizations.contains(graft.plans.RangeJoinBinningRule)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RangeJoinBinningRule
    }
  }
}
