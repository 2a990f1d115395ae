package graft

import graft.streaming.HybridTable
import org.apache.spark.sql.functions._

/** Hybrid table broker routing (Pinot OFFLINE+REALTIME under one name):
  * the time boundary = start of the newest offline day, offline serves
  * strictly below it, realtime at-or-above — rows present in BOTH stores
  * (moved but not yet purged) are served exactly once, and the newest
  * offline day (possibly partial) is served from realtime. */
class HybridTableSpec extends GraftSuite {
  import spark.implicits._

  private def ev(id: Int, day: Int, hour: Int, v: Double) =
    (id, java.sql.Timestamp.valueOf(f"2024-05-0$day $hour%02d:00:00"), v)

  test("boundary split serves overlapping stores exactly once, routed by side") {
    // realtime has days 1-4 (retention not yet purged); offline has days 1-3
    // (the r2o task moved them). Boundary = start of day 3 (newest offline
    // day) → offline serves days 1-2, realtime serves days 3-4.
    val realtimeRows = Seq(
      ev(1, 1, 5, 10), ev(2, 2, 6, 20), ev(3, 3, 7, 30), ev(4, 3, 9, 31), ev(5, 4, 8, 40))
    // the offline COPY of day-3 row id=3 carries a divergent value: if the
    // view ever serves day 3 from offline, the assertion catches it.
    val offlineRows = Seq(ev(1, 1, 5, 10), ev(2, 2, 6, 20), ev(3, 3, 7, 999), ev(4, 3, 9, 999))
    val rt = realtimeRows.toDF("id", "ts", "v")
    val off = offlineRows.toDF("id", "ts", "v")

    val got = HybridTable.view(off, rt, "ts")
      .select($"id", $"v").as[(Int, Double)].collect().sorted
    assert(got === Seq((1, 10.0), (2, 20.0), (3, 30.0), (4, 31.0), (5, 40.0)),
      "every row exactly once; day 3 served from the realtime side")
  }

  test("empty offline store → null boundary → everything from realtime") {
    val rt = Seq(ev(1, 1, 5, 10), ev(2, 2, 6, 20)).toDF("id", "ts", "v")
    val off = rt.filter(lit(false))
    assert(HybridTable.view(off, rt, "ts").count() === 2)
  }

  test("offline extra partition columns are dropped; alignment is by name") {
    val rt = Seq(ev(1, 1, 5, 10), ev(2, 3, 6, 20)).toDF("id", "ts", "v")
    val off = Seq(ev(1, 1, 5, 10), ev(9, 2, 6, 90)).toDF("id", "ts", "v")
      .withColumn("dt", to_date($"ts")) // day-partition column, realtime lacks it
      .select($"dt", $"v", $"ts", $"id") // scrambled order too
    val view = HybridTable.view(off, rt, "ts")
    assert(view.columns.toSeq === Seq("id", "ts", "v"))
    // boundary = day 2 start → offline serves day 1, realtime day 3
    assert(view.select($"id").as[Int].collect().sorted === Seq(1, 2))
  }

  test("realtimeToOffline moves complete aged days with snapshot/staging, view identical before and after") {
    val rtDir = tempDir("graft-r2o-rt")
    val offDir = tempDir("graft-r2o-off")
    val rows = Seq(
      ev(1, 1, 5, 10), ev(2, 1, 6, 11), ev(3, 2, 7, 20), ev(4, 3, 8, 30), ev(5, 4, 9, 40))
    rows.toDF("id", "ts", "v").withColumn("dt", to_date($"ts"))
      .write.mode("overwrite").partitionBy("dt").parquet(rtDir)

    def hybridIds(): Seq[Int] = {
      val off =
        if (new java.io.File(offDir).listFiles().exists(_.getName.startsWith("dt=")))
          spark.read.parquet(offDir)
        else spark.read.parquet(rtDir).filter(lit(false))
      HybridTable.view(off.drop("dt"), spark.read.parquet(rtDir).drop("dt"), "ts")
        .select($"id").as[Int].collect().sorted.toSeq
    }
    assert(hybridIds() === Seq(1, 2, 3, 4, 5))

    // lagDays=1: newest day (4) plus one safety day (3) stay realtime-only
    val moved = HybridTable.realtimeToOffline(spark, rtDir, offDir, lagDays = 1, purgeRealtime = false)
    assert(moved === Seq("2024-05-01", "2024-05-02"))
    // moved copies still in realtime (purge later) — served exactly once anyway
    assert(spark.read.parquet(rtDir).count() === 5)
    assert(spark.read.parquet(offDir).select($"id").as[Int].collect().sorted === Seq(1, 2, 3))
    assert(hybridIds() === Seq(1, 2, 3, 4, 5))

    // second run with purge: idempotent (days 1-2 already offline — NOT
    // re-copied) and boundary-safe: the boundary is the start of day 2
    // (newest offline day), which view() serves from REALTIME, so purge
    // removes only day 1 and day 2's realtime copy survives.
    val movedAgain = HybridTable.realtimeToOffline(spark, rtDir, offDir, lagDays = 1, purgeRealtime = true)
    assert(movedAgain === Seq("2024-05-01", "2024-05-02"))
    assert(spark.read.parquet(offDir).select($"id").as[Int].collect().sorted === Seq(1, 2, 3),
      "re-run must not duplicate already-moved rows in offline")
    assert(spark.read.parquet(rtDir).select($"id").as[Int].collect().sorted === Seq(3, 4, 5),
      "purge keeps the lag window AND the boundary day (served from realtime)")
    assert(hybridIds() === Seq(1, 2, 3, 4, 5))

    // third run after day 5 arrives: the move window advances — day 3 moves,
    // boundary becomes day 3, so day 2's realtime copy is now purgeable.
    Seq(ev(6, 5, 10, 50)).toDF("id", "ts", "v").withColumn("dt", to_date($"ts"))
      .write.mode("append").partitionBy("dt").parquet(rtDir)
    val movedThird = HybridTable.realtimeToOffline(spark, rtDir, offDir, lagDays = 1, purgeRealtime = true)
    // day 1's realtime partition is gone (purged in run 2), so the eligible
    // window is days 2 (already offline, skipped) and 3 (freshly moved)
    assert(movedThird === Seq("2024-05-02", "2024-05-03"))
    assert(spark.read.parquet(rtDir).select($"id").as[Int].collect().sorted === Seq(4, 5, 6),
      "boundary advanced to day 3: day 2 purged, day 3 (new boundary day) kept")
    assert(hybridIds() === Seq(1, 2, 3, 4, 5, 6))
  }
}
