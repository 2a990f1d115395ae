package graft

import graft.streaming.{EventIngest, FakeKinesis, FakeKinesisConsumer}
import graft.streaming.FakeKinesis._
import org.apache.spark.sql.functions._

/** S1 closure: the protocol-contract fake exercises the Kinesis stream
  * semantics the offline container cannot reach live — MD5 partition-key
  * routing into shard hash ranges, TRIM_HORIZON/LATEST iterators, iterator
  * EXPIRY + checkpoint recovery, and resharding (split/merge) with
  * parent-before-child consumption — against the reference's streamConfigs
  * (`kinesisTableConfigFile.json:15-26`: 2 shards, LATEST, lowlevel
  * consumer). The headline proof: a reshard MID-INGEST loses nothing,
  * duplicates nothing, and preserves per-key order. */
class FakeKinesisSpec extends GraftSuite {

  private def put(k: FakeKinesis, key: String, payload: String): Record =
    k.putRecord(key, payload.getBytes("UTF-8"))

  private def payloads(recs: Seq[Record]): Seq[String] =
    recs.map(r => new String(r.data, "UTF-8"))

  /** Delivery preserves per-key put order (sequence numbers are stream-
    * monotone, so put order == ascending seq within a key). */
  private def assertPerKeyOrder(delivered: Seq[Record]): Unit =
    delivered.groupBy(_.partitionKey).foreach { case (pk, rs) =>
      val seqs = rs.map(_.sequenceNumber)
      assert(seqs === seqs.sorted, s"key $pk delivered out of order: $seqs")
    }

  test("putRecord routes by unsigned-128-bit MD5 into the covering open shard") {
    val k = FakeKinesis.create(tempDir(), shardCount = 2)
    val shardsById = k.listShards().map(s => s.shardId -> s).toMap
    val recs = (0 until 64).map(i => put(k, s"user-$i", s"payload-$i"))
    recs.foreach { r =>
      val s = shardsById(r.shardId)
      val h = FakeKinesis.hashKey(r.partitionKey)
      assert(h >= s.startingHashKey && h <= s.endingHashKey,
        s"record for ${r.partitionKey} on wrong shard")
    }
    // 64 distinct keys land on both halves of the space w.h.p.
    assert(recs.map(_.shardId).distinct.size === 2)
    // deterministic: the same key always routes to the same shard
    assert(put(k, "user-0", "again").shardId === recs.head.shardId)
  }

  test("TRIM_HORIZON replays history; LATEST sees only post-subscribe records") {
    val k = FakeKinesis.create(tempDir(), shardCount = 1)
    (0 until 5).foreach(i => put(k, s"k$i", s"old-$i"))
    val trim = new FakeKinesisConsumer(k, TrimHorizon)
    val latest = new FakeKinesisConsumer(k, Latest) // the reference's setting
    (0 until 3).foreach(i => put(k, s"k$i", s"new-$i"))
    assert(payloads(trim.drain()).toSet ===
      ((0 until 5).map(i => s"old-$i") ++ (0 until 3).map(i => s"new-$i")).toSet)
    assert(payloads(latest.drain()).toSet === (0 until 3).map(i => s"new-$i").toSet)
  }

  test("expired iterator throws; the consumer recovers from its checkpoint with no loss, no dup") {
    var now = 0L
    val k = FakeKinesis.create(tempDir(), shardCount = 1, iteratorExpiryMs = 1000L)
    k.clockMs = () => now
    (0 until 10).foreach(i => put(k, s"k$i", s"p-$i"))
    // raw API contract: a stale token is rejected
    val it = k.getShardIterator(k.openShards().head.shardId, TrimHorizon)
    now = 5000L
    intercept[ExpiredIteratorException](k.getRecords(it))
    // consumer contract: deliver some, stall past the TTL, resume cleanly
    val c = new FakeKinesisConsumer(k, TrimHorizon)
    val first = c.poll(limitPerShard = 4)
    assert(first.size === 4)
    now += 5000L // stall > TTL: the cached nextIterator is now expired
    val rest = c.drain()
    assert(c.expiredRecoveries === 1, "the expiry-recovery path must have fired")
    val all = payloads(first ++ rest)
    assert(all.size === 10 && all.distinct.size === 10,
      s"loss or duplication across expiry recovery: $all")
  }

  test("per-shard GetRecords rate limit: over-limit calls throw, other shards unaffected") {
    var now = 0L
    val k = FakeKinesis.create(tempDir(), shardCount = 2)
    k.clockMs = () => now
    (0 until 40).foreach(i => put(k, s"k$i", s"p-$i"))
    k.maxGetRecordsPerSecondPerShard = 2
    val Seq(s0, s1) = k.openShards().map(_.shardId)
    val it = k.getShardIterator(s0, TrimHorizon)
    k.getRecords(it, 1)
    k.getRecords(k.getShardIterator(s0, TrimHorizon), 1)
    // third call inside the same 1-second window: throttled, nothing advances
    intercept[ProvisionedThroughputExceededException](
      k.getRecords(k.getShardIterator(s0, TrimHorizon), 1))
    // a DIFFERENT shard has its own budget
    k.getRecords(k.getShardIterator(s1, TrimHorizon), 1)
    // the window rolls with the clock: the same shard admits again
    now += 1000L
    k.getRecords(k.getShardIterator(s0, TrimHorizon), 1)
  }

  test("PutRecord rate limit: per-shard write throttle, retry after the window rolls") {
    var now = 0L
    val k = FakeKinesis.create(tempDir(), shardCount = 1)
    k.clockMs = () => now
    k.maxPutRecordsPerSecondPerShard = 3
    (0 until 3).foreach(i => put(k, s"k$i", s"p-$i"))
    intercept[ProvisionedThroughputExceededException](put(k, "k3", "p-3"))
    now += 1000L
    put(k, "k3", "p-3") // retry after backoff succeeds
    // the throttled attempt wrote NOTHING: exactly 4 records exist
    val c = new FakeKinesisConsumer(k, TrimHorizon)
    assert(payloads(c.drain()) === Seq("p-0", "p-1", "p-2", "p-3"))
  }

  test("throttled polls converge with no loss, no dup (backoff handling)") {
    var now = 0L
    val k = FakeKinesis.create(tempDir(), shardCount = 2)
    k.clockMs = () => now
    (0 until 60).foreach(i => put(k, s"k$i", s"p-$i"))
    k.maxGetRecordsPerSecondPerShard = 1
    val c = new FakeKinesisConsumer(k, TrimHorizon)
    val got = scala.collection.mutable.ArrayBuffer.empty[FakeKinesis.Record]
    var rounds = 0
    // small reads under a tight limit: most passes throttle at least one
    // shard; the clock advances 250 ms per pass, so each shard admits one
    // call per 4 passes
    while (got.size < 60 && rounds < 400) {
      got ++= c.poll(limitPerShard = 5)
      now += 250L
      rounds += 1
    }
    assert(c.throttledPolls > 0, "the tight limit must actually throttle")
    val all = payloads(got.toSeq)
    assert(all.size === 60 && all.distinct.size === 60,
      s"loss or duplication under throttling: got ${all.size}, distinct ${all.distinct.size}")
    assertPerKeyOrder(got.toSeq)
  }

  test("drain() under a FIXED clock + tight limit fails loudly instead of spinning") {
    // the rolling rate window can only roll if clockMs advances; a fixed
    // test clock used to make drain() spin forever (round-7 advice) — now
    // consecutive all-throttled passes with no clock movement throw
    val k = FakeKinesis.create(tempDir(), shardCount = 1)
    k.clockMs = () => 1000L // never advances
    (0 until 20).foreach(i => put(k, s"k$i", s"p-$i"))
    k.maxGetRecordsPerSecondPerShard = 1
    val c = new FakeKinesisConsumer(k, TrimHorizon)
    val e = intercept[IllegalArgumentException] { c.drain() }
    assert(e.getMessage.contains("not advancing"))
    // with an ADVANCING clock the same configuration drains completely
    var now = 1000L
    k.clockMs = () => { now += 300L; now }
    val k2consumer = new FakeKinesisConsumer(k, TrimHorizon)
    assert(payloads(k2consumer.drain()).size === 20)
  }

  test("split mid-ingest: no loss, no dup, per-key order preserved across the reshard") {
    val k = FakeKinesis.create(tempDir(), shardCount = 2)
    val keys = (0 until 40).map(i => s"user-$i")
    // phase 1: ingest against the original 2 shards, partially consumed
    keys.zipWithIndex.foreach { case (key, i) => put(k, key, s"a-$i") }
    val c = new FakeKinesisConsumer(k, TrimHorizon)
    val before = c.poll(limitPerShard = 7) // mid-stream: not fully drained
    // reshard: split shard 0 at its range midpoint (scale-out, the
    // reference's Lambda-driven capacity change analog)
    val s0 = k.openShards().minBy(_.startingHashKey)
    val mid = (s0.startingHashKey + s0.endingHashKey) / 2
    val (lo, hi) = k.splitShard(s0.shardId, mid + 1)
    assert(!k.listShards().find(_.shardId == s0.shardId).get.open)
    assert(lo.parentShardId.contains(s0.shardId) && hi.parentShardId.contains(s0.shardId))
    // phase 2: same keys keep flowing — routed to children now
    keys.zipWithIndex.foreach { case (key, i) => put(k, key, s"b-$i") }
    val after = c.drain()
    val delivered = before ++ after
    val expect = (0 until 40).flatMap(i => Seq(s"a-$i", s"b-$i"))
    assert(payloads(delivered).sorted === expect.sorted,
      "reshard must lose nothing and duplicate nothing")
    assertPerKeyOrder(delivered)
    // the b-phase record for a split key really did land on a child shard
    val movedKey = keys.find(key => {
      val h = FakeKinesis.hashKey(key)
      h >= s0.startingHashKey && h <= s0.endingHashKey
    }).get
    val phases = delivered.filter(_.partitionKey == movedKey).map(_.shardId)
    assert(phases.head === s0.shardId && phases.last != s0.shardId)
  }

  test("merge mid-ingest: no loss, no dup, both parents drained before the child") {
    val k = FakeKinesis.create(tempDir(), shardCount = 2)
    val keys = (0 until 30).map(i => s"item-$i")
    keys.zipWithIndex.foreach { case (key, i) => put(k, key, s"x-$i") }
    val c = new FakeKinesisConsumer(k, TrimHorizon)
    val before = c.poll(limitPerShard = 5)
    val Seq(a, b) = k.openShards().sortBy(_.startingHashKey)
    val child = k.mergeShards(a.shardId, b.shardId)
    assert(child.parentShardId.isDefined && child.adjacentParentShardId.isDefined)
    assert(child.startingHashKey === a.startingHashKey &&
      child.endingHashKey === b.endingHashKey)
    keys.zipWithIndex.foreach { case (key, i) => put(k, key, s"y-$i") }
    val delivered = before ++ c.drain()
    val expect = (0 until 30).flatMap(i => Seq(s"x-$i", s"y-$i"))
    assert(payloads(delivered).sorted === expect.sorted)
    assertPerKeyOrder(delivered)
    // every y-phase record was delivered from the merged child
    assert(delivered.filter(r => new String(r.data, "UTF-8").startsWith("y-"))
      .forall(_.shardId == child.shardId))
  }

  test("merge rejects non-adjacent shards; split rejects closed parents") {
    val k = FakeKinesis.create(tempDir(), shardCount = 4)
    val shards = k.openShards().sortBy(_.startingHashKey)
    intercept[InvalidArgumentException](
      k.mergeShards(shards(0).shardId, shards(2).shardId))
    val (lo, _) = k.splitShard(shards(0).shardId,
      (shards(0).startingHashKey + shards(0).endingHashKey) / 2 + 1)
    intercept[InvalidArgumentException](
      k.splitShard(shards(0).shardId, lo.endingHashKey))
  }

  test("restart: reload from disk + restored checkpoints resumes with no loss, no dup") {
    val dir = tempDir()
    val k = FakeKinesis.create(dir, shardCount = 2)
    (0 until 20).foreach(i => put(k, s"u-$i", s"p-$i"))
    val c = new FakeKinesisConsumer(k, TrimHorizon)
    val before = c.poll(limitPerShard = 6) // partial consumption, then "crash"
    val savedCp = c.exportCheckpoints()
    // process restart: a fresh stream handle from disk, a fresh consumer
    // restored from the checkpoint map (the ZK-offset analog)
    val k2 = FakeKinesis.load(dir)
    assert(k2.listShards().map(_.shardId) === k.listShards().map(_.shardId))
    (20 until 25).foreach(i => put(k2, s"u-$i", s"p-$i"))
    val c2 = new FakeKinesisConsumer(k2, TrimHorizon)
    c2.restoreCheckpoints(savedCp)
    val all = payloads(before ++ c2.drain())
    assert(all.sorted === (0 until 25).map(i => s"p-$i").sorted,
      "restart must resume exactly at the checkpoint")
  }

  test("end-to-end: consumed records decode through the shared decodeKinesis path") {
    val jsonLines = Seq(
      """{"userID":"u1","productName":"p1","color":"red","department":"d1","product":"pr","campaign":"c1","price":42,"creationTimestamp":"2026-01-02 03:04:05"}""",
      """{"userID":"u2","productName":"p2","color":"blue","department":"d2","product":"pr2","campaign":"c2","price":7,"creationTimestamp":"2026-01-03 10:00:00"}""")
    val k = FakeKinesis.create(tempDir(), shardCount = 2)
    jsonLines.zipWithIndex.foreach { case (j, i) => put(k, s"u${i + 1}", j) }
    val c = new FakeKinesisConsumer(k, TrimHorizon)
    val frame = c.toFrame(spark, c.drain())
    assert(frame.schema === EventIngest.kinesisRecordSchema)
    import spark.implicits._
    val viaFake = EventIngest.decodeKinesis(frame)
      .orderBy(col("userID")).collect().toSeq
    val viaFile = EventIngest.decode(
        spark.read.schema(EventIngest.rawSchema).json(jsonLines.toDS()))
      .orderBy(col("userID")).collect().toSeq
    assert(viaFake === viaFile)
  }
}
