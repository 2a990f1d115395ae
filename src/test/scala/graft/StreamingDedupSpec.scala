package graft

import graft.streaming.EventIngest
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming exact dedup within a watermark (SURVEY.md §2.9 T6: the
  * reference configures no upsert/dedup; this is the engine's extension
  * form — X1 applied to the stream). */
class StreamingDedupSpec extends GraftSuite {

  test("dropDuplicates on the stream suppresses redelivered events") {
    val src = tempDir("graft-dedup-src")
    def ev(id: Int, ts: String): String =
      s"""{"userID":"$id","productName":"p","color":"c","department":"d",""" +
        s""""product":"x","campaign":"NONE","price":$id,"creationTimestamp":"$ts"}"""
    // userID+creationTimestamp plays the event id; event 1 is delivered 3×
    // (the at-least-once redelivery case, SURVEY §2.9 T5)
    Files.write(java.nio.file.Paths.get(src, "b1.json"),
      Seq(ev(1, "2024-05-01 10:00:00"), ev(1, "2024-05-01 10:00:00"),
        ev(2, "2024-05-01 10:01:00"), ev(1, "2024-05-01 10:00:00"),
        ev(3, "2024-05-01 10:02:00")).mkString("\n").getBytes("UTF-8"))

    val deduped = EventIngest.readJsonLines(spark, src)
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("userID", "ts")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val out = spark.table("dedup_out")
    assert(out.count() === 3)
    assert(out.select("userID").distinct().count() === 3)
  }
}
