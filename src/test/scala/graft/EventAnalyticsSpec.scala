package graft

import org.apache.spark.sql.functions._

/** Planted-data semantics for the funnel and gapfill operators (the oracle
  * proves fixture parity; these prove the behaviors the fixture can't
  * isolate: out-of-order steps don't convert, gaps carry the LAST value). */
class EventAnalyticsSpec extends GraftSuite {
  import spark.implicits._

  /** Write a tiny events-shaped parquet dir readable by Tables.t — which
    * expects `ts` as a NANOS long (it reads with nanosAsLong and converts
    * via `ts DIV 1000`), so plant ts as epoch-nanos INT64. */
  private def eventsDir(rows: Seq[(Long, String, Long, String, Double, String)]): String = {
    val dir = tempDir("graft-ev")
    rows.toDF("event_id", "tss", "user_id", "event_type", "value", "props")
      .withColumn("ts", unix_micros(to_timestamp($"tss", "yyyy-MM-dd HH:mm:ss")) * lit(1000L))
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("funnel: a click BEFORE the first view does not convert") {
    val dir = eventsDir(Seq(
      // user 1: proper order view -> click -> purchase
      (1L, "2024-05-01 10:00:00", 1L, "view", 1.0, "{}"),
      (2L, "2024-05-01 10:05:00", 1L, "click", 1.0, "{}"),
      (3L, "2024-05-01 10:10:00", 1L, "purchase", 1.0, "{}"),
      // user 2: click precedes the only view -> stalls at stage 1
      (4L, "2024-05-01 09:00:00", 2L, "click", 1.0, "{}"),
      (5L, "2024-05-01 10:00:00", 2L, "view", 1.0, "{}"),
      (6L, "2024-05-01 09:30:00", 2L, "purchase", 1.0, "{}"),
      // user 3: view only
      (7L, "2024-05-01 08:00:00", 3L, "view", 1.0, "{}")))
    val r = SparkEntry.queries("q_events_funnel")(spark, dir).head()
    assert(r.getAs[Long]("n_view") === 3L)
    assert(r.getAs[Long]("n_view_click") === 1L)
    assert(r.getAs[Long]("n_full_funnel") === 1L)
  }

  test("funnel: same-timestamp step counts (inclusive >=)") {
    val dir = eventsDir(Seq(
      (1L, "2024-05-01 10:00:00", 1L, "view", 1.0, "{}"),
      (2L, "2024-05-01 10:00:00", 1L, "click", 1.0, "{}")))
    val r = SparkEntry.queries("q_events_funnel")(spark, dir).head()
    assert(r.getAs[Long]("n_view") === 1L)
    assert(r.getAs[Long]("n_view_click") === 1L)
    assert(r.getAs[Long]("n_full_funnel") === 0L)
  }

  test("windowed funnel: a step past the 72h anchor window does not convert") {
    // q_events_funnel_window: view→click→purchase→signup, window anchored
    // at each user's FIRST view; every later step must land inside it
    val dir = eventsDir(Seq(
      // user 1: all four steps within hours of the anchor -> full funnel
      (1L, "2024-05-01 10:00:00", 1L, "view", 1.0, "{}"),
      (2L, "2024-05-01 11:00:00", 1L, "click", 1.0, "{}"),
      (3L, "2024-05-01 12:00:00", 1L, "purchase", 1.0, "{}"),
      (4L, "2024-05-01 13:00:00", 1L, "signup", 1.0, "{}"),
      // user 2: click at +71h (inside), purchase at +73h (OUTSIDE the
      // window anchored at the first view) -> stalls at step 2
      (5L, "2024-05-01 10:00:00", 2L, "view", 1.0, "{}"),
      (6L, "2024-05-04 09:00:00", 2L, "click", 1.0, "{}"),
      (7L, "2024-05-04 11:00:00", 2L, "purchase", 1.0, "{}"),
      // user 3: click at +96h -> stalls at step 1 despite correct order
      (8L, "2024-05-01 10:00:00", 3L, "view", 1.0, "{}"),
      (9L, "2024-05-05 10:00:00", 3L, "click", 1.0, "{}")))
    val rows = SparkEntry.queries("q_events_funnel_window")(spark, dir)
      .as[(Int, Long)].collect().toMap
    assert(rows === Map(1 -> 3L, 2 -> 2L, 3 -> 1L, 4 -> 1L))
  }

  test("funnel max-step distribution and complete count over the planted window fixture") {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val dir = eventsDir(Seq(
      (1L, "2024-05-01 10:00:00", 1L, "view", 1.0, "{}"),
      (2L, "2024-05-01 11:00:00", 1L, "click", 1.0, "{}"),
      (3L, "2024-05-01 12:00:00", 1L, "purchase", 1.0, "{}"),
      (4L, "2024-05-01 13:00:00", 1L, "signup", 1.0, "{}"),
      (5L, "2024-05-01 10:00:00", 2L, "view", 1.0, "{}"),
      (6L, "2024-05-04 09:00:00", 2L, "click", 1.0, "{}"),
      (7L, "2024-05-04 11:00:00", 2L, "purchase", 1.0, "{}"),  // +73h: outside
      (8L, "2024-05-01 10:00:00", 3L, "view", 1.0, "{}"),
      (9L, "2024-05-05 10:00:00", 3L, "click", 1.0, "{}")))    // +96h: outside
    // user 1 reaches step 4, user 2 stalls at 2, user 3 at 1
    val dist = SparkEntry.queries("q_events_funnel_maxstep")(spark, dir)
      .as[(Int, Long)].collect().toMap
    assert(dist === Map(1 -> 1L, 2 -> 1L, 3 -> 0L, 4 -> 1L))
    val ev = sources.Tables.t(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val complete = ops.Funnel.completeCount(
      ev, "user_id", unix_micros(col("ts")),
      Seq("view", "click", "purchase", "signup").map(t => col("event_type") === t),
      maxDuration = Some(72L * 3600L * 1000000L)).head().getLong(0)
    assert(complete === 1L)
  }

  test("gapfill default mode: gaps fill the constant, ALSO before first observation") {
    val dir = eventsDir(Seq(
      (1L, "2024-05-01 00:30:00", 1L, "A", 5.0, "{}"),
      (2L, "2024-05-01 03:30:00", 1L, "A", 7.0, "{}"),
      // type B starts at hour 2: hours 0,1 get the CONSTANT (carry mode
      // would give 0.0 — the planted difference between the two modes)
      (3L, "2024-05-01 02:30:00", 2L, "B", 9.0, "{}")))
    val rows = SparkEntry.queries("q_events_gapfill_default")(spark, dir)
      .as[(String, Long, Double, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val b0 = rows.keys.map(_._2).min
    def at(t: String, off: Long) = rows((t, b0 + off))
    assert(at("A", 0) === ((5.0, false)))
    assert(at("A", 1) === ((-1.0, true)))  // constant, not carried 5.0
    assert(at("A", 2) === ((-1.0, true)))
    assert(at("A", 3) === ((7.0, false)))
    assert(at("B", 0) === ((-1.0, true)))  // before first observation
    assert(at("B", 1) === ((-1.0, true)))
    assert(at("B", 2) === ((9.0, false)))
  }

  test("gapfill: missing hours carry the LAST observed value, 0 before first") {
    val dir = eventsDir(Seq(
      // type A: hours 0 and 3 observed -> hours 1,2 carry 5.0; nothing before
      (1L, "2024-05-01 00:30:00", 1L, "A", 5.0, "{}"),
      (2L, "2024-05-01 03:30:00", 1L, "A", 7.0, "{}"),
      // type B: only hour 2 observed -> hours 0,1 fill 0.0 (nothing to carry)
      (3L, "2024-05-01 02:30:00", 2L, "B", 9.0, "{}")))
    val rows = SparkEntry.queries("q_events_gapfill")(spark, dir)
      .as[(String, Long, Double, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val h0 = rows.keys.map(_._2).min
    def at(t: String, off: Long) = rows((t, h0 + off))
    assert(at("A", 0) === ((5.0, false)))
    assert(at("A", 1) === ((5.0, true)))   // carried
    assert(at("A", 2) === ((5.0, true)))   // carried
    assert(at("A", 3) === ((7.0, false)))
    assert(at("B", 0) === ((0.0, true)))   // before first observation
    assert(at("B", 1) === ((0.0, true)))
    assert(at("B", 2) === ((9.0, false)))
  }

  test("cohort retention: offsets count from FIRST signup week; pre-signup activity excluded") {
    val dir = eventsDir(Seq(
      // user 1 signs up week of May 6 (Mon), active weeks 0 and 2, plus a
      // PRE-signup view that must not create a negative offset
      (1L, "2024-05-01 10:00:00", 1L, "view", 1.0, "{}"),
      (2L, "2024-05-07 10:00:00", 1L, "signup", 1.0, "{}"),
      (3L, "2024-05-08 10:00:00", 1L, "view", 1.0, "{}"),
      (4L, "2024-05-21 10:00:00", 1L, "purchase", 1.0, "{}"),
      // user 2: same cohort week, active week 0 only; a SECOND signup later
      // must not move the cohort (min ts wins)
      (5L, "2024-05-06 09:00:00", 2L, "signup", 1.0, "{}"),
      (6L, "2024-05-20 09:00:00", 2L, "signup", 1.0, "{}"),
      // user 3: never signs up -> not in any cohort
      (7L, "2024-05-07 12:00:00", 3L, "view", 1.0, "{}")))
    val rows = SparkEntry.queries("q_events_cohort")(spark, dir)
      .select(col("week_offset"), col("users")).as[(Int, Long)].collect().toMap
    // week 0: u1 (signup) + u2 (signup) = 2; week 2: u1 purchase + u2's
    // late second signup = 2; no other offsets, nothing negative
    assert(rows === Map(0 -> 2L, 2 -> 2L), rows.toString)
  }
}
