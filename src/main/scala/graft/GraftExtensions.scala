package graft

/** Does nothing: `Graft.session` installs the graft SQL functions and
  * `plans.RangeJoinBinningRule` when it builds a session, so every session
  * and child already has them. Kept because the benchmark engine
  * (`perfbench/engine/Engine.scala`) still calls `register`. */
object GraftExtensions {
  def register(spark: org.apache.spark.sql.SparkSession): Unit = ()
}
