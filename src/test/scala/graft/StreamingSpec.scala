package graft

import graft.streaming.EventIngest
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming ingest semantics (SURVEY.md §2.1 S1–S9, §2.9): JSON-lines
  * replay → decode → day-partitioned parquet sink; read-your-ingest view;
  * retention; watermarked windowed aggregation. The driver's oracle is
  * batch-only, so streaming correctness lives here (SURVEY.md §7.4.3). */
class StreamingSpec extends GraftSuite {

  private def writeEvents(dir: String, lines: Seq[String]): Unit = {
    val p = java.nio.file.Paths.get(dir, s"batch_${System.nanoTime()}.json")
    Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
  }

  private def kdgEvent(user: Int, campaign: String, price: Int, ts: String): String =
    s"""{"userID":"$user","productName":"p","color":"red","department":"d",""" +
      s""""product":"x","campaign":"$campaign","price":$price,"creationTimestamp":"$ts"}"""

  test("S1-S7: JSON replay ingests to day-partitioned parquet with exactly-once commit") {
    val src = tempDir("graft-src")
    val sink = tempDir("graft-sink")
    val ckpt = tempDir("graft-ckpt")
    writeEvents(src, Seq(
      kdgEvent(1, "BlackFriday", 100, "2024-05-01 10:00:00"),
      kdgEvent(2, "NONE", 50, "2024-05-01 11:00:00"),
      kdgEvent(3, "10Percent", 75, "2024-05-02 09:30:00")))

    val q = EventIngest.sealedSink(
      EventIngest.readJsonLines(spark, src), sink, ckpt, Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val sealedDf = spark.read.parquet(sink)
    assert(sealedDf.count() === 3)
    // day partitioning = segment granularity 1:DAYS
    val dts = sealedDf.select("dt").distinct().collect().map(_.get(0).toString).sorted
    assert(dts === Array("2024-05-01", "2024-05-02"))
    // typed decode happened (S3/S4)
    assert(sealedDf.schema("ts").dataType.typeName === "timestamp")
    assert(sealedDf.filter(col("campaign") === "BlackFriday").count() === 1)

    // restart with same checkpoint: no reprocessing (exactly-once, T5)
    val q2 = EventIngest.sealedSink(
      EventIngest.readJsonLines(spark, src), sink, ckpt, Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    assert(spark.read.parquet(sink).count() === 3)

    // new data arriving after a restart is picked up incrementally: exactly
    // the new rows append, nothing is reprocessed
    writeEvents(src, Seq(
      kdgEvent(4, "BlackFriday", 20, "2024-05-03 08:00:00"),
      kdgEvent(5, "NONE", 30, "2024-05-03 09:00:00")))
    val q3 = EventIngest.sealedSink(
      EventIngest.readJsonLines(spark, src), sink, ckpt, Trigger.AvailableNow()).start()
    q3.awaitTermination(60000)
    val after = spark.read.parquet(sink)
    assert(after.count() === 5)
    assert(after.filter(col("dt") === lit("2024-05-03").cast("date")).count() === 2)
  }

  test("S5/T2: hot+cold view serves sealed plus in-flight rows") {
    import spark.implicits._
    val src = tempDir("graft-src2")
    val sink = tempDir("graft-sink2")
    val ckpt = tempDir("graft-ckpt2")
    writeEvents(src, Seq(kdgEvent(1, "NONE", 10, "2024-05-01 10:00:00")))
    val q = EventIngest.sealedSink(
      EventIngest.readJsonLines(spark, src), sink, ckpt, Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    // a "consuming segment": rows not yet flushed to the sink
    val hot = EventIngest.decode(
      spark.read.schema(EventIngest.rawSchema).json(
        Seq(kdgEvent(9, "BlackFriday", 99, "2024-05-03 08:00:00")).toDS()))
    val view = EventIngest.hotColdView(spark, sink, hot)
    assert(view.count() === 2)
    assert(view.filter(col("userID") === "9").count() === 1)
  }

  test("S9: retention filter drops rows older than the window") {
    import spark.implicits._
    val now = java.time.Instant.now()
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
    val fresh = fmt.format(now.minusSeconds(3600))
    val stale = fmt.format(now.minusSeconds(8L * 24 * 3600))
    val df = EventIngest.decode(
      spark.read.schema(EventIngest.rawSchema).json(
        Seq(kdgEvent(1, "NONE", 1, fresh), kdgEvent(2, "NONE", 2, stale)).toDS()))
    val kept = EventIngest.withRetention(df, days = 7)
    assert(kept.count() === 1)
    assert(kept.select("userID").as[String].collect() === Array("1"))
  }

  test("T4: watermarked tumbling-window aggregation over the stream") {
    import spark.implicits._
    val src = tempDir("graft-src3")
    writeEvents(src, Seq(
      kdgEvent(1, "BlackFriday", 100, "2024-05-01 10:05:00"),
      kdgEvent(2, "BlackFriday", 60, "2024-05-01 10:55:00"),
      kdgEvent(3, "NONE", 40, "2024-05-01 11:05:00")))
    val agg = EventIngest.windowedRevenue(
      EventIngest.readJsonLines(spark, src), "1 hour", "10 minutes")
    val q = agg.writeStream
      .format("memory").queryName("win_rev")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table("win_rev")
      .select(col("window.start").cast("string").as("ws"), col("campaign"), col("revenue"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(out === Set(
      ("2024-05-01 10:00:00", "BlackFriday", 160L),
      ("2024-05-01 11:00:00", "NONE", 40L)))
  }
}
