package graft

import graft.streaming.{FakeKinesis, FakeKinesisIngest}
import graft.streaming.FakeKinesis.TrimHorizon
import org.apache.spark.sql.functions._

/** S1→S7 end to end over the protocol fake: stream → low-level consumer →
  * shared Kinesis decode → sealed day-partitioned parquet, with the
  * exactly-once commit protocol (idempotent batch overwrite + atomic state
  * file) surviving a crash in its one vulnerable window (data written,
  * state not committed) AND a reshard mid-ingest. */
class FakeKinesisIngestSpec extends GraftSuite {

  private def kdg(user: Int, price: Int, ts: String): String =
    s"""{"userID":"$user","productName":"p","color":"red","department":"d",""" +
      s""""product":"x","campaign":"c","price":$price,"creationTimestamp":"$ts"}"""

  test("stream to sealed store: reshard mid-ingest, exactly-once, day partitioning") {
    val streamDir = tempDir("fk-ingest-stream")
    val sink = tempDir("fk-ingest-sink")
    val statePath = tempDir("fk-ingest-state") + "/state.json"
    val k = FakeKinesis.create(streamDir, shardCount = 2)
    (1 to 10).foreach(i => k.putRecord(s"u$i",
      kdg(i, i * 10, s"2024-05-01 10:0${i % 10}:00").getBytes("UTF-8")))

    val c = FakeKinesisIngest.consumerFor(k, statePath, TrimHorizon)
    assert(FakeKinesisIngest.runOnce(spark, c, sink, statePath) === 10)

    // reshard between micro-batches, keep ingesting the same keys
    val s0 = k.openShards().minBy(_.startingHashKey)
    k.splitShard(s0.shardId, (s0.startingHashKey + s0.endingHashKey) / 2 + 1)
    (11 to 20).foreach(i => k.putRecord(s"u$i",
      kdg(i, i * 10, s"2024-05-02 09:0${i % 10}:00").getBytes("UTF-8")))
    assert(FakeKinesisIngest.runOnce(spark, c, sink, statePath) === 10)
    assert(FakeKinesisIngest.runOnce(spark, c, sink, statePath) === 0) // idle tick

    val store = FakeKinesisIngest.readSealed(spark, sink)
    assert(store.count() === 20)
    assert(store.select("userID").distinct().count() === 20)
    // day partitioning carried through (S7 deep-storage layout)
    assert(store.select("dt").distinct().count() === 2)
    // batch dirs surface as the segment-id analog
    assert(store.select("batch").distinct().count() === 2)
    // decode parity: typed row content survived the full path
    assert(store.filter(col("userID") === "7").select("price")
      .head().getInt(0) === 70)
  }

  test("ingested store answers the funnel aggregate (S1→S7→X7 composition)") {
    // the reference demo path: stream → sealed store → analytics query;
    // journeys encoded in the decoded `color` field, depths 3/2/1
    val streamDir = tempDir("fk-funnel-stream")
    val sink = tempDir("fk-funnel-sink")
    val statePath = tempDir("fk-funnel-state") + "/state.json"
    val k = FakeKinesis.create(streamDir, shardCount = 2)
    val journeys = Seq(
      (1, Seq("view", "click", "purchase")),
      (2, Seq("view", "click")),
      (3, Seq("view")))
    journeys.foreach { case (u, steps) =>
      steps.zipWithIndex.foreach { case (s, i) =>
        k.putRecord(s"u$u",
          (s"""{"userID":"$u","productName":"p","color":"$s","department":"d",""" +
            s""""product":"x","campaign":"c","price":1,""" +
            s""""creationTimestamp":"2024-05-01 10:0$i:00"}""").getBytes("UTF-8"))
      }
    }
    val c = FakeKinesisIngest.consumerFor(k, statePath, TrimHorizon)
    assert(FakeKinesisIngest.runOnce(spark, c, sink, statePath) === 6)

    val stepCols = Seq("view", "click", "purchase").map(s => col("color") === s)
    val got = FakeKinesisIngest.readSealed(spark, sink)
      .select(col("userID"),
        unix_micros(to_timestamp(col("creationTimestamp"))).as("tus"), col("color"))
      .groupBy(col("userID"))
      .agg(graft.expressions.FunnelAggs.maxStep(col("tus"), 0L, stepCols).as("m"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got === Map("1" -> 3, "2" -> 2, "3" -> 1))
  }

  test("crash between write and commit: restart converges to exactly-once") {
    val streamDir = tempDir("fk-crash-stream")
    val sink = tempDir("fk-crash-sink")
    val statePath = tempDir("fk-crash-state") + "/state.json"
    val k = FakeKinesis.create(streamDir, shardCount = 2)
    (1 to 8).foreach(i => k.putRecord(s"u$i",
      kdg(i, i, s"2024-05-01 10:00:0${i % 10}").getBytes("UTF-8")))
    val c1 = FakeKinesisIngest.consumerFor(k, statePath, TrimHorizon)
    assert(FakeKinesisIngest.runOnce(spark, c1, sink, statePath) === 8)

    // batch 1 data lands, commit never happens — the orphaned-batch window
    (9 to 16).foreach(i => k.putRecord(s"u$i",
      kdg(i, i, s"2024-05-01 11:00:0${i % 10}").getBytes("UTF-8")))
    intercept[IllegalStateException] {
      FakeKinesisIngest.runOnce(spark, c1, sink, statePath, crashAfterWrite = true)
    }
    // the orphaned dir exists on disk but the state still says 1 batch
    assert(FakeKinesisIngest.loadState(statePath).batches === 1)

    // process restart: reload the stream from disk, rebuild the consumer
    // from the COMMITTED checkpoints, ingest again — the orphaned batch=1
    // is REWRITTEN (plus newly arrived records), nothing duplicates
    (17 to 20).foreach(i => k.putRecord(s"u$i",
      kdg(i, i, s"2024-05-01 12:00:0${i % 10}").getBytes("UTF-8")))
    val k2 = FakeKinesis.load(streamDir)
    val c2 = FakeKinesisIngest.consumerFor(k2, statePath, TrimHorizon)
    assert(FakeKinesisIngest.runOnce(spark, c2, sink, statePath) === 12)

    val store = FakeKinesisIngest.readSealed(spark, sink)
    assert(store.count() === 20, "loss or dup across the crash window")
    val perUser = store.groupBy("userID").count().filter(col("count") =!= 1)
    assert(perUser.count() === 0, "every record exactly once")
    assert(FakeKinesisIngest.loadState(statePath).batches === 2)
  }
}
