package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Streaming ingest pipeline (SURVEY.md §2.1 S1–S9, §3.1) — the Spark-native
  * re-expression of the reference's Kinesis → Pinot REALTIME path:
  *
  *   KDG JSON events (`/root/reference/README.md:88-108`)
  *     → Kinesis 2-shard stream (`apache-pinot-solution-stack.ts:730-734`)
  *     → per-shard JSON decode (`kinesisTableConfigFile.json:19-22`)
  *     → consuming segment, queryable immediately (`README.md:19`)
  *     → sealed columnar segment in S3 on 2min/150MB flush
  *       (`kinesisTableConfigFile.json:23-25`, `pinot-controller.conf:40`)
  *     → 7-day retention (`kinesisTableConfigFile.json:7-9`)
  *
  * Mapping: source connector partitions = shards; micro-batch parquet commits
  * = segment flushes (trigger = the 2-minute flush interval); the parquet
  * directory partitioned by `dt` = deep storage with day granularity
  * (`kinesisTable.json:30`); hot+cold union view = consuming+sealed segment
  * query spanning; a `ts >=` predicate = retention. Checkpointing gives
  * exactly-once file-sink delivery — strictly stronger than the reference's
  * at-least-once (SURVEY.md §2.9 T5).
  */
object EventIngest {

  /** The KDG event shape (reference's only ingest schema — FIXTURES.md §1).
    * `creationTimestamp` arrives as STRING `yyyy-MM-dd HH:mm:ss` per
    * `kinesisTable.json:28-30`. */
  val rawSchema: StructType = StructType(Seq(
    StructField("userID", StringType),
    StructField("productName", StringType),
    StructField("color", StringType),
    StructField("department", StringType),
    StructField("product", StringType),
    StructField("campaign", StringType),
    StructField("price", IntegerType),
    StructField("creationTimestamp", StringType)))

  /** S3+S4: decode one JSON-line batch/stream into typed rows with parsed
    * event time and the day partition column. */
  def decode(raw: DataFrame): DataFrame =
    raw
      .withColumn("ts", to_timestamp(col("creationTimestamp"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("dt", date_trunc("day", col("ts")).cast("date"))

  /** S1+S2: file-based JSON-lines replay source (local stand-in for the
    * Kinesis connector — same decode path). Each micro-batch admits files up
    * to [[admissionBytes]] of file data: a steady stream admits the few files
    * that arrived since the last trigger, and a backlog drains in batches of
    * about that many bytes rather than a fixed file count per trigger. */
  def readJsonLines(spark: SparkSession, sourceDir: String): DataFrame =
    decode(
      spark.readStream
        .schema(rawSchema)
        .option("maxBytesPerTrigger", admissionBytes(spark))
        .json(sourceDir))

  /** The file source's per-trigger byte budget: `spark.sql.files.maxPartitionBytes`
    * × `defaultParallelism` (512 MB at local[4] with the 128 MB default), read
    * from the session when the stream is defined. It counts raw file bytes: a
    * trigger admits files while their sum stays within it, and always admits
    * at least one file. The scan charges each file
    * `spark.sql.files.openCostInBytes` when it packs splits, so a batch of
    * small files reads in more splits than budget / maxPartitionBytes. */
  def admissionBytes(spark: SparkSession): Long =
    spark.sessionState.conf.filesMaxPartitionBytes * spark.sparkContext.defaultParallelism

  /** The record shape Spark's Kafka connector emits (`format("kafka")`):
    * opaque key/value plus topic/partition/offset/timestamp metadata. */
  val kafkaRecordSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** S13: decode Kafka-shaped frames — value is the UTF-8 JSON event body —
    * into exactly the rows the file-replay path produces (shared `decode`).
    * Works on static and streaming frames alike (KafkaDecodeSpec proves
    * row-level parity with `readJsonLines`). */
  def decodeKafka(raw: DataFrame): DataFrame =
    decode(
      raw.select(from_json(col("value").cast("string"), rawSchema).as("j"))
        .select(col("j.*")))

  /** S1/S13: the Kafka connector branch (reference ships MSK constructs,
    * `resources/constructs/msk-construct.ts:28-61`, as the Kinesis
    * alternative). Identical decode path; `startingOffsets=latest` mirrors
    * the reference's LATEST consumer offset (S2). The spark-sql-kafka
    * connector jar must be on the runtime classpath — this container has no
    * broker or connector, so the wiring is compiled + parity-tested through
    * `decodeKafka`, and `load()` is deferred to the caller's environment. */
  def readKafkaJson(
      spark: SparkSession,
      bootstrapServers: String,
      topic: String,
      startingOffsets: String = "latest"): DataFrame =
    decodeKafka(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", startingOffsets)
        .load())

  /** The record shape the AWS Kinesis Structured Streaming connector emits
    * (`format("aws-kinesis")`, awslabs spark-sql-kinesis-connector): opaque
    * `data` payload plus stream/shard/sequence/arrival metadata. */
  val kinesisRecordSchema: StructType = StructType(Seq(
    StructField("data", BinaryType),
    StructField("streamName", StringType),
    StructField("partitionKey", StringType),
    StructField("sequenceNumber", StringType),
    StructField("approximateArrivalTimestamp", TimestampType)))

  /** S1: decode Kinesis-shaped frames — `data` is the UTF-8 JSON event body
    * (the reference decodes Kinesis payloads with the KAFKA JSON decoder,
    * `kinesisTableConfigFile.json:21`, i.e. the bytes are identical) — into
    * exactly the rows the file-replay path produces (shared `decode`;
    * KinesisDecodeSpec proves row-level parity). */
  def decodeKinesis(raw: DataFrame): DataFrame =
    decode(
      raw.select(from_json(col("data").cast("string"), rawSchema).as("j"))
        .select(col("j.*")))

  /** S1+S2: option surface for the reference's ACTUAL stream — Kinesis
    * `pinot-stream`, 2 provisioned shards, LATEST iterator, low-level
    * consumer (`apache-pinot-solution-stack.ts:730-734`,
    * `kinesisTableConfigFile.json:15-20`) — mapped onto the awslabs
    * spark-sql-kinesis-connector's option names. Pure function so the
    * mapping itself is testable in this connector-less container. */
  def kinesisOptions(
      streamName: String = "pinot-stream",
      region: String = "us-east-1",
      startingPosition: String = "LATEST"): Map[String, String] = Map(
    "streamName" -> streamName,
    "region" -> region,
    // shardIteratorType LATEST in the reference → startingPosition here
    "startingPosition" -> startingPosition,
    // the connector's enhanced-fan-out off = low-level polling consumer,
    // the reference's stream.kinesis.consumer.type=lowlevel
    "consumerType" -> "GetRecords")

  /** S1: the Kinesis connector branch. Identical decode path to file replay
    * and Kafka. The aws-kinesis connector jar must be on the runtime
    * classpath — this container has neither the jar nor AWS credentials, so
    * the wiring is compiled + parity-tested through `decodeKinesis` and the
    * option mapping, and `load()` is deferred to the caller's environment
    * (same contract as `readKafkaJson`). */
  def readKinesisJson(
      spark: SparkSession,
      region: String,
      streamName: String = "pinot-stream",
      startingPosition: String = "LATEST"): DataFrame =
    decodeKinesis {
      val reader = spark.readStream.format("aws-kinesis")
      kinesisOptions(streamName, region, startingPosition)
        .foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
        .load()
    }

  /** S6+S7: sealed-segment sink — parquet partitioned by day, micro-batch
    * commit per trigger (default mirrors the reference's 2-minute flush;
    * tests pass a faster trigger). */
  def sealedSink(
      events: DataFrame,
      sinkDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("2 minutes")): DataStreamWriter[Row] =
    events.writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("dt")
      .trigger(trigger)
      .outputMode("append")

  /** S5+T2: read-your-ingest view — sealed parquet unioned with the
    * in-flight hot batch (consuming-segment analogue). Queries over this view
    * see rows the moment the micro-batch lands, matching "events ... available
    * for query processing immediately" (`README.md:19`). */
  def hotColdView(spark: SparkSession, sealedDir: String, hot: DataFrame): DataFrame =
    spark.read.schema(decodeOutputSchema).parquet(sealedDir).unionByName(hot)

  private def decodeOutputSchema: StructType =
    StructType(rawSchema.fields ++ Seq(
      StructField("ts", TimestampType),
      StructField("dt", DateType)))

  /** S9: retention predicate (7 DAYS on the event-time column, applied
    * query-side; at scale also enforced by dropping `dt` partitions). */
  def withRetention(events: DataFrame, days: Int = 7): DataFrame = {
    val cutoff = current_timestamp() - expr(s"INTERVAL $days DAYS")
    events.filter(col("ts") >= cutoff)
  }

  /** Pinot dedupConfig `metadataTTL` analog (T6 refinement): stream dedup
    * whose per-key state is EVICTED once the event-time watermark passes the
    * key's first-seen time + TTL — Pinot's TTL-bounded dedup metadata map.
    * Spark-native form: `dropDuplicatesWithinWatermark(keys)` under a
    * `withWatermark(ttl)` — duplicates arriving within the TTL are
    * suppressed EVEN IF their event times differ (redelivery with a skewed
    * timestamp), and a key re-arriving after its state expired is admitted
    * again, exactly like Pinot after metadata TTL expiry.
    *
    * The 100 TB posture is the point: unbounded-retention dedup state grows
    * with stream LIFETIME; TTL state tracks keys-per-TTL-window, making
    * state size a function of throughput × TTL — a constant for a sized
    * cluster. */
  def dedupWithTtl(events: DataFrame, keys: Seq[String], ttl: String,
      tsCol: String = "ts"): DataFrame =
    events.withWatermark(tsCol, ttl).dropDuplicatesWithinWatermark(keys)

  /** T4 superset: watermarked tumbling-window revenue aggregation (the Spark
    * form of the reference's query-time DATETRUNC windows, plus late-data
    * bounds Pinot lacks). */
  /** Pinot `upsertConfig.metadataTTL` analog: upsert metadata for a key is
    * DROPPED once the event-time watermark passes the key's newest event
    * time + TTL — the lever that makes Pinot upsert tables viable on
    * unbounded streams (state tracks keys-per-TTL-window, not key lifetime).
    * After expiry the next record for the key starts fresh, exactly like
    * records older than metadataTTL bypassing Pinot's metadata map.
    *
    * `flatMapGroupsWithState` + EventTimeTimeout: the timeout callback
    * removes the state row and emits nothing (no phantom update-log rows);
    * live keys behave exactly like [[upsertLatest]]. The state-size bound
    * is observable in `StreamingQueryProgress.stateOperators.numRowsTotal`
    * — the spec asserts expired keys leave the store. */
  def upsertLatestWithTtl(events: DataFrame, keyCol: String, ttl: String,
      deleteCol: Option[String] = None): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.catalyst.util.IntervalUtils
    import org.apache.spark.unsafe.types.UTF8String
    val iv = IntervalUtils.stringToInterval(UTF8String.fromString(ttl))
    require(iv.months == 0, s"TTL must be a fixed-length interval, got $ttl")
    val ttlMs = iv.days.toLong * 86400000L + iv.microseconds / 1000L
    val delFlag = deleteCol
      .map(c => coalesce(col(c).cast("boolean"), lit(false)))
      .getOrElse(lit(false))
    // the watermark column must flow INTO the stateful operator — keep ts
    // in the projection and watermark after the select
    val typed = events
      .select(
        col(keyCol).cast("string").as("k"),
        col("ts"),
        unix_micros(col("ts")).as("tus"),
        to_json(struct(events.columns.map(col): _*)).as("payload"),
        delFlag.as("del"))
      .withWatermark("ts", ttl)
      .as[(String, java.sql.Timestamp, Long, String, Boolean)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, String, Boolean), (String, Long, String, Boolean)](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        case (key, rows, state) =>
          if (state.hasTimedOut) {
            state.remove() // metadata TTL: the key's upsert history is gone
            Iterator.empty
          } else {
            val newest = rows.foldLeft(state.getOption.getOrElse((Long.MinValue, "", false))) {
              case (best, (_, _, tus, payload, del)) =>
                if (tus > best._1) (tus, payload, del) else best
            }
            state.update(newest)
            state.setTimeoutTimestamp(newest._1 / 1000L + ttlMs)
            Iterator.single((key, newest._1, newest._2, newest._3))
          }
      }
      .toDF("k", "event_micros", "payload", "deleted")
  }

  /** Pinot UPSERT realtime-table analog (T-family superset; Pinot upsert
    * tables serve the LATEST row per primary key at query time —
    * `upsertConfig.mode=FULL` in Pinot table configs; the reference's table
    * is append-only, so this is the engine's extension form like T6):
    * latest-EVENT-TIME-wins per key via `mapGroupsWithState`. A redelivered
    * or out-of-order event with an older `ts` can never regress the served
    * row — exactly the comparison-column semantics of Pinot's upsert
    * metadata map. State is ONE (micros, payload) pair per key, so state
    * size tracks key cardinality, not stream length — the 100 TB posture.
    *
    * Emits one updated `(k, event_micros, payload, deleted)` row per key per
    * micro-batch (Update output mode); `upsertSnapshot` turns the
    * accumulated update log into the queryable latest-per-key table.
    *
    * `deleteCol` is Pinot's `upsertConfig.deleteRecordColumn`: a truthy
    * value in that column makes the record a TOMBSTONE — the key stops
    * being served (`upsertSnapshot` drops it) while still participating in
    * comparison-column ordering, so a NEWER regular record revives the key
    * and an OLDER late delete can never retro-kill a newer row. */
  def upsertLatest(events: DataFrame, keyCol: String, deleteCol: Option[String] = None): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val delFlag = deleteCol
      .map(c => coalesce(col(c).cast("boolean"), lit(false)))
      .getOrElse(lit(false))
    val typed = events
      .select(
        col(keyCol).cast("string").as("k"),
        unix_micros(col("ts")).as("tus"),
        to_json(struct(events.columns.map(col): _*)).as("payload"),
        delFlag.as("del"))
      .as[(String, Long, String, Boolean)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[(Long, String, Boolean), (String, Long, String, Boolean)](
        GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          val newest = rows.foldLeft(state.getOption.getOrElse((Long.MinValue, "", false))) {
            case (best, (_, tus, payload, del)) =>
              if (tus > best._1) (tus, payload, del) else best
          }
          state.update(newest)
          (key, newest._1, newest._2, newest._3)
      }
      .toDF("k", "event_micros", "payload", "deleted")
  }

  /** Per-column merge strategies for partial upsert — the Pinot
    * `partialUpsertStrategies` surface (`upsertConfig.mode=PARTIAL`):
    * OVERWRITE is the default for unlisted columns. */
  sealed trait MergeStrategy
  /** Incoming value replaces the stored one (Pinot OVERWRITE). */
  case object Overwrite extends MergeStrategy
  /** Stored value wins once set (Pinot IGNORE — first-value semantics). */
  case object Ignore extends MergeStrategy
  /** Numeric running sum of stored + incoming (Pinot INCREMENT). */
  case object Increment extends MergeStrategy
  /** Numeric max of stored and incoming (Pinot MAX). */
  case object MaxOf extends MergeStrategy
  /** Numeric min of stored and incoming (Pinot MIN). */
  case object MinOf extends MergeStrategy
  /** MV column: incoming elements appended to the stored array (Pinot APPEND). */
  case object Append extends MergeStrategy
  /** MV column: set union of stored and incoming arrays, stored-first
    * order (Pinot UNION). */
  case object UnionOf extends MergeStrategy

  private lazy val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Merge two payload JSONs column-by-column under the strategy map. */
  private[graft] def mergeJson(
      oldJson: String, newJson: String,
      strategies: Map[String, MergeStrategy]): String = {
    val tref = new com.fasterxml.jackson.core.`type`.TypeReference[
      java.util.LinkedHashMap[String, Object]] {}
    val oldM = jsonMapper.readValue(oldJson, tref)
    val newM = jsonMapper.readValue(newJson, tref)
    val out = new java.util.LinkedHashMap[String, Object](oldM)
    newM.forEach { (k, v) =>
      strategies.getOrElse(k, Overwrite) match {
        case Overwrite => out.put(k, v)
        case Ignore => if (!out.containsKey(k) || out.get(k) == null) out.put(k, v)
        case Increment => (out.get(k), v) match {
          case (a: Number, b: Number)
              if !a.isInstanceOf[java.lang.Double] && !a.isInstanceOf[java.lang.Float] &&
                 !b.isInstanceOf[java.lang.Double] && !b.isInstanceOf[java.lang.Float] =>
            out.put(k, java.lang.Long.valueOf(a.longValue() + b.longValue()))
          case (a: Number, b: Number) =>
            out.put(k, java.lang.Double.valueOf(a.doubleValue() + b.doubleValue()))
          case _ => out.put(k, v)
        }
        case MaxOf => (out.get(k), v) match {
          case (a: Number, b: Number) =>
            if (b.doubleValue() > a.doubleValue()) out.put(k, v)
          case _ => out.put(k, v)
        }
        case MinOf => (out.get(k), v) match {
          case (a: Number, b: Number) =>
            if (b.doubleValue() < a.doubleValue()) out.put(k, v)
          case _ => out.put(k, v)
        }
        case Append => (out.get(k), v) match {
          case (a: java.util.List[_], b: java.util.List[_]) =>
            val merged = new java.util.ArrayList[Object](a.asInstanceOf[java.util.List[Object]])
            merged.addAll(b.asInstanceOf[java.util.List[Object]])
            out.put(k, merged)
          case _ => out.put(k, v)
        }
        case UnionOf => (out.get(k), v) match {
          case (a: java.util.List[_], b: java.util.List[_]) =>
            val merged = new java.util.LinkedHashSet[Object](a.asInstanceOf[java.util.List[Object]])
            merged.addAll(b.asInstanceOf[java.util.List[Object]])
            out.put(k, new java.util.ArrayList[Object](merged))
          case _ => out.put(k, v)
        }
      }
    }
    jsonMapper.writeValueAsString(out)
  }

  /** Pinot PARTIAL upsert analog (`upsertConfig.mode=PARTIAL`): incoming
    * rows MERGE into the stored row column-by-column under per-column
    * strategies instead of replacing it wholesale. Ordering semantics match
    * Pinot's comparison column: within and across batches events apply in
    * event-time order, and an event OLDER than the stored comparison value
    * is dropped entirely (never merged). Same one-state-row-per-key posture
    * and `deleteRecordColumn` tombstone semantics as [[upsertLatest]]; after
    * a delete, later records merge from a fresh row (no resurrection of
    * pre-delete column values — Pinot's documented partial-upsert+delete
    * interaction). */
  def upsertPartial(
      events: DataFrame,
      keyCol: String,
      strategies: Map[String, MergeStrategy],
      deleteCol: Option[String] = None): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val delFlag = deleteCol
      .map(c => coalesce(col(c).cast("boolean"), lit(false)))
      .getOrElse(lit(false))
    val typed = events
      .select(
        col(keyCol).cast("string").as("k"),
        unix_micros(col("ts")).as("tus"),
        to_json(struct(events.columns.map(col): _*)).as("payload"),
        delFlag.as("del"))
      .as[(String, Long, String, Boolean)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[(Long, String, Boolean), (String, Long, String, Boolean)](
        GroupStateTimeout.NoTimeout) {
        case (key, rows, state) =>
          var (curTus, curJson, curDel) =
            state.getOption.getOrElse((Long.MinValue, null: String, false))
          rows.toSeq.sortBy(_._2).foreach { case (_, tus, payload, del) =>
            if (tus >= curTus) {
              if (del) {
                // tombstone: stored row is gone; later records merge from scratch
                curJson = payload; curDel = true
              } else {
                curJson = if (curJson == null || curDel) payload
                          else mergeJson(curJson, payload, strategies)
                curDel = false
              }
              curTus = tus
            } // older than the stored comparison value → dropped (Pinot semantics)
          }
          state.update((curTus, curJson, curDel))
          (key, curTus, curJson, curDel)
      }
      .toDF("k", "event_micros", "payload", "deleted")
  }

  /** Queryable snapshot over an upsert update log: the latest row per key
    * (ties on event time keep one row deterministically). Keys whose latest
    * record is a delete tombstone are not served — Pinot's
    * `deleteRecordColumn` query-time behavior. */
  def upsertSnapshot(log: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("event_micros").desc)
    val latest = log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    if (log.columns.contains("deleted")) latest.filter(!col("deleted")).drop("deleted")
    else latest
  }

  def windowedRevenue(events: DataFrame, window_ : String = "1 hour", watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("campaign"))
      .agg(sum(col("price")).as("revenue"), count(lit(1)).as("n_events"))
}
