package graft

import graft.streaming.EventIngest
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Spark-superset streaming semantics beyond the reference's query-time
  * windows (SURVEY.md §2.9 T4 notes sliding/session windows as superset;
  * §2.10 X0b custom state via flatMapGroupsWithState). */
class StreamingSupersetSpec extends GraftSuite {
  import spark.implicits._

  private def writeEvents(dir: String, lines: Seq[String]): Unit =
    Files.write(java.nio.file.Paths.get(dir, s"b_${System.nanoTime()}.json"),
      lines.mkString("\n").getBytes("UTF-8"))

  private def ev(user: Int, price: Int, ts: String): String =
    s"""{"userID":"$user","productName":"p","color":"c","department":"d",""" +
      s""""product":"x","campaign":"NONE","price":$price,"creationTimestamp":"$ts"}"""

  test("sliding windows: one event lands in every overlapping pane") {
    val src = tempDir("graft-slide")
    writeEvents(src, Seq(ev(1, 100, "2024-05-01 10:30:00")))
    val agg = EventIngest.readJsonLines(spark, src)
      .withWatermark("ts", "1 minute")
      .groupBy(window($"ts", "2 hours", "1 hour"))
      .agg(sum($"price").as("revenue"))
    val q = agg.writeStream.format("memory").queryName("slide_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val starts = spark.table("slide_out")
      .select($"window.start".cast("string")).as[String].collect().sorted
    // 10:30 event → panes starting 09:00 and 10:00
    assert(starts === Array("2024-05-01 09:00:00", "2024-05-01 10:00:00"))
  }

  test("session windows: events within the gap merge, beyond it split") {
    val src = tempDir("graft-sess")
    writeEvents(src, Seq(
      ev(1, 10, "2024-05-01 10:00:00"),
      ev(1, 20, "2024-05-01 10:10:00"),   // within 15-min gap → same session
      ev(1, 30, "2024-05-01 11:00:00")))  // beyond gap → new session
    val agg = EventIngest.readJsonLines(spark, src)
      .withWatermark("ts", "1 minute")
      .groupBy(session_window($"ts", "15 minutes"), $"userID")
      .agg(sum($"price").as("revenue"), count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val sessions = spark.table("sess_out")
      .select($"session_window.start".cast("string"), $"revenue", $"n")
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(sessions.length === 2)
    assert(sessions(0) === ("2024-05-01 10:00:00", 30L, 2L))
    assert(sessions(1) === ("2024-05-01 11:00:00", 30L, 1L))
  }

  test("flatMapGroupsWithState: running per-user spend with custom state") {
    val src = tempDir("graft-state")
    writeEvents(src, Seq(
      ev(1, 10, "2024-05-01 10:00:00"),
      ev(1, 25, "2024-05-01 10:05:00"),
      ev(2, 40, "2024-05-01 10:06:00")))
    val typed = EventIngest.readJsonLines(spark, src)
      .select($"userID".as[String], $"price".as[Int])
    val updated = typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: String, rows: Iterator[(String, Int)], state: GroupState[Long]) => {
          val prev = state.getOption.getOrElse(0L)
          val total = prev + rows.map(_._2.toLong).sum
          state.update(total)
          Iterator((user, total))
        })
      .toDF("userID", "total_spend")
    val q = updated.writeStream.format("memory").queryName("state_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table("state_out")
      .as[(String, Long)].collect().toMap
    assert(out === Map("1" -> 35L, "2" -> 40L))
  }
}
