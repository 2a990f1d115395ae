package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Generalized n-step event funnel — the Spark-native answer to Pinot's
  * FUNNEL_COUNT aggregation family (reference surface: Pinot 1.2.0 per
  * `/root/reference/resources/bastion/bastionUserData.sh:7`; open SQL
  * surface per `/root/reference/README.md:110`): an arbitrary ordered list
  * of step predicates plus an optional funnel-window constraint, returning
  * per-step completion counts.
  *
  * Semantics (greedy-min chain, deterministic and oracle-replicable):
  *   - t1(user) = min ts among step-1 events; it is also the funnel ANCHOR.
  *   - tk(user) = min ts among step-k events with ts >= t(k-1), and — when
  *     `maxDuration` is set — ts <= t1 + maxDuration (the whole chain must
  *     complete within the window opened by the user's FIRST entry).
  *   - step-k count = #users with tk defined.
  *
  * Scale posture: each stage is one filtered aggregate over the events scan
  * joined to the previous stage's per-user min — every intermediate frame
  * is |users| rows (never |events|), joins are hash/broadcast by AQE, and
  * the events relation is scanned once per step with the step predicate
  * pushed down. No self-join of events with events, no window over the raw
  * event stream — the 100 TB-safe shape from q_events_funnel, generalized.
  */
object Funnel {

  /** Per-user stage frames for an n-step funnel.
    *
    * @param events      event relation
    * @param userCol     grouping identity column name
    * @param tsCol       event-time column as integer micros (caller buckets
    *                    nanos — see sources.Tables events contract)
    * @param steps       ordered step predicates over `events` columns
    * @param maxDuration optional funnel window in the same unit as tsCol:
    *                    every step must land within t1 + maxDuration
    * @return one frame per step: (userCol, t = step match time, t0 = anchor);
    *         frames are persisted (each is consumed by the next stage AND by
    *         the caller's count) — caller may unpersist after consumption.
    */
  def stageFrames(
      events: DataFrame,
      userCol: String,
      tsCol: Column,
      steps: Seq[Column],
      maxDuration: Option[Long] = None): Seq[DataFrame] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val ev = events.withColumn("__tus", tsCol)
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    steps.zipWithIndex.foreach { case (step, i) =>
      val frame =
        if (i == 0)
          ev.filter(step)
            .groupBy(col(userCol))
            .agg(min(col("__tus")).as("t"), min(col("__tus")).as("t0"))
        else {
          val prev = frames(i - 1)
          val windowOk = maxDuration
            .map(d => col("__tus") <= col("t0") + d)
            .getOrElse(lit(true))
          ev.filter(step)
            .join(prev, Seq(userCol))
            .filter(col("__tus") >= col("t") && windowOk)
            .groupBy(col(userCol))
            .agg(min(col("__tus")).as("t"), min(col("t0")).as("t0"))
        }
      frames += Shared.persist(frame)
    }
    frames.toSeq
  }

  /** Per-step completion counts: one row per step, (step, n_users). */
  def funnelCounts(
      events: DataFrame,
      userCol: String,
      tsCol: Column,
      steps: Seq[Column],
      maxDuration: Option[Long] = None): DataFrame =
    stageFrames(events, userCol, tsCol, steps, maxDuration).zipWithIndex
      .map { case (f, i) =>
        f.agg(count(lit(1)).as("n_users")).select(lit(i + 1).as("step"), col("n_users"))
      }
      .reduce(_.unionAll(_))

  /** Pinot FUNNEL_MAX_STEP analog: distribution of users by the FURTHEST
    * step they reached — exclusive counts via stage k minus stage k+1 over
    * the (already tiny, n_steps-row) cumulative counts; the unpartitioned
    * lead window is over those n_steps rows, never the data. */
  def maxStepDistribution(
      events: DataFrame,
      userCol: String,
      tsCol: Column,
      steps: Seq[Column],
      maxDuration: Option[Long] = None): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("step"))
    funnelCounts(events, userCol, tsCol, steps, maxDuration)
      .withColumn("n_excl",
        col("n_users") - coalesce(lead(col("n_users"), 1).over(w), lit(0L)))
      .select(col("step").as("max_step"), col("n_excl").as("n_users"))
  }

  /** Pinot FUNNEL_COMPLETE_COUNT analog: users who completed EVERY step
    * (within the window, when set) — the last stage frame's cardinality. */
  def completeCount(
      events: DataFrame,
      userCol: String,
      tsCol: Column,
      steps: Seq[Column],
      maxDuration: Option[Long] = None): DataFrame =
    stageFrames(events, userCol, tsCol, steps, maxDuration).last
      .agg(count(lit(1)).as("n_complete"))
}
