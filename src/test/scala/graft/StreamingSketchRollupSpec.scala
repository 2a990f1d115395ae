package graft

import graft.expressions.ThetaSketch._
import graft.streaming.SketchRollup
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** Realtime sketch-cell maintenance (streaming/SketchRollup): append-only
  * per-batch theta cells, merge-on-read exactness, idempotence under
  * redelivery/late data, and the compact fold. */
class StreamingSketchRollupSpec extends GraftSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("per-batch cells merge to exact distincts; replays and late data cannot inflate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cellDir = tempDir("graft-skroll") + "/cells"
    val ckpt = tempDir("graft-skroll-ck")

    val mem = MemoryStream[(Timestamp, String, Long)]
    val events = mem.toDF().toDF("ts", "event_type", "user_id")

    def runBatches(): Unit = {
      val q = SketchRollup.cellSink(events, cellDir, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }

    // batch 1: day1 click users 1,2,3 (user 1 delivered twice — at-least-once)
    mem.addData(
      (ts("2024-05-01 10:00:00"), "click", 1L),
      (ts("2024-05-01 10:00:01"), "click", 1L),
      (ts("2024-05-01 11:00:00"), "click", 2L),
      (ts("2024-05-01 12:00:00"), "click", 3L),
      (ts("2024-05-01 12:30:00"), "view", 1L))
    runBatches()

    // batch 2: more day1 clicks (overlapping user 3 + new user 4) arriving
    // LATE, after day2 rows — appends fragments for the old day
    mem.addData(
      (ts("2024-05-02 09:00:00"), "click", 9L),
      (ts("2024-05-01 23:00:00"), "click", 3L),
      (ts("2024-05-01 23:30:00"), "click", 4L))
    runBatches()

    // raw log holds one fragment set per (batch, touched cell)
    val raw = spark.read.parquet(cellDir)
    assert(raw.count() > 3, "append-only: late fragments coexist with originals")

    def merged = SketchRollup.cells(spark, cellDir)
      .select(col("day"), col("event_type"), thetaEstimate(col("sk")).as("users"))
      .as[(Timestamp, String, Long)].collect()
      .map { case (d, t, u) => (d.toString.take(10), t) -> u }.toMap
    val m = merged
    assert(m(("2024-05-01", "click")) === 4L, "users 1-4, replay of 1 and 3 not double-counted")
    assert(m(("2024-05-01", "view")) === 1L)
    assert(m(("2024-05-02", "click")) === 1L)

    // compact folds fragments to one row per cell; merged view unchanged
    SketchRollup.compact(spark, cellDir)
    val compacted = spark.read.parquet(cellDir)
    assert(compacted.count() === 3, "one row per cell after compact")
    assert(merged === m, "compact must not change any estimate")

    // restart after compact: new appends still union correctly
    mem.addData((ts("2024-05-01 23:45:00"), "click", 5L))
    runBatches()
    assert(merged(("2024-05-01", "click")) === 5L)
  }
}
