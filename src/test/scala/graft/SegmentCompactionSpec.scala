package graft

import graft.streaming.{EventIngest, SegmentCompaction}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Minion-task analog: small realtime-flushed files → few right-sized files
  * per day partition, byte-identical data, snapshot-scoped swap. Driven
  * through the REAL sealed sink so the `_spark_metadata` ownership handoff
  * is exercised, not simulated. */
class SegmentCompactionSpec extends GraftSuite {

  private def kdgEvent(user: Int, campaign: String, price: Int, ts: String): String =
    s"""{"userID":"$user","productName":"p","color":"red","department":"d",""" +
      s""""product":"x","campaign":"$campaign","price":$price,"creationTimestamp":"$ts"}"""

  private def writeBatch(src: String, rows: Seq[String]): Unit =
    Files.write(
      java.nio.file.Paths.get(src, s"batch_${System.nanoTime()}.json"),
      rows.mkString("\n").getBytes("UTF-8"))

  test("compaction merges micro-batch files per partition, preserves every row, drops the sink log") {
    val src = tempDir("graft-cmp-src")
    val sink = tempDir("graft-cmp-sink")
    val ckpt = tempDir("graft-cmp-ckpt")
    // 4 micro-batches × 2 days → ≥4 files per dt partition (one per batch)
    (1 to 4).foreach { b =>
      writeBatch(src, Seq(
        kdgEvent(b, "NONE", b * 10, s"2024-05-01 0$b:00:00"),
        kdgEvent(100 + b, "BlackFriday", b, s"2024-05-02 0$b:00:00")))
      val q = EventIngest.sealedSink(
        EventIngest.readJsonLines(spark, src), sink, ckpt, Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    val before = SegmentCompaction.stats(spark, sink)
    assert(before.map(_.partition).toSet === Set("dt=2024-05-01", "dt=2024-05-02"))
    assert(before.forall(_.files >= 4), s"expected ≥4 files per partition: $before")
    val expected = spark.read.parquet(sink)
      .select(col("userID"), col("price"), col("dt").cast("string"))
      .collect().map(_.toString).sorted

    val compacted = SegmentCompaction.compact(spark, sink, targetBytes = 1L << 30, minFiles = 2)
    assert(compacted.size === 2)
    assert(compacted.forall(_.files === 1), s"one right-sized file per partition: $compacted")

    // sink log dropped → plain listing-based read serves identical rows
    assert(!new java.io.File(s"$sink/_spark_metadata").exists())
    val after = spark.read.parquet(sink)
      .select(col("userID"), col("price"), col("dt").cast("string"))
      .collect().map(_.toString).sorted
    assert(after === expected, "compaction must preserve every row")
    // partition pruning still answers off the dt dirs
    assert(spark.read.parquet(sink).filter(col("dt") === lit("2024-05-02").cast("date")).count() === 4)
  }

  test("z-order compaction: re-clustered partitions keep every row and prune on both columns") {
    val src = tempDir("graft-zc-src")
    val sink = tempDir("graft-zc-sink")
    val ckpt = tempDir("graft-zc-ckpt")
    // 6 micro-batches, one day, arrival order ~ time — userID and price
    // arrive fully interleaved so the raw layout prunes on neither
    (1 to 6).foreach { b =>
      writeBatch(src, (0 until 20).map(i =>
        kdgEvent(user = (b * 31 + i * 7) % 100, campaign = "NONE",
          price = (b * 13 + i * 11) % 200, ts = s"2024-06-01 0$b:00:00")))
      val q = EventIngest.sealedSink(
        EventIngest.readJsonLines(spark, src), sink, ckpt, Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    val before = SegmentCompaction.stats(spark, sink)
    assert(before.head.files >= 6)
    val expected = spark.read.parquet(sink)
      .select(col("userID"), col("price")).collect().map(_.toString).sorted

    // tiny targetBytes => several z-ordered output files to prune across
    val out = SegmentCompaction.compactZOrder(
      spark, sink, "userID", "price", targetBytes = 4096, minFiles = 2)
    assert(out.size === 1 && out.head.files > 2, s"want multiple z files: $out")
    val after = spark.read.parquet(sink)
      .select(col("userID"), col("price")).collect().map(_.toString).sorted
    assert(after === expected, "z-order compaction must preserve every row")

    // both columns now footer-prune inside the day partition
    val s = spark.newSession()
    val partDir = s"$sink/dt=2024-06-01"
    graft.sources.ZOrderLayout.register(s, partDir, "userID", "price")
    def files(df: org.apache.spark.sql.DataFrame): Long = {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      df.collect()
      def find(p: SparkPlan): Option[FileSourceScanExec] = p match {
        case f: FileSourceScanExec => Some(f)
        case a: AdaptiveSparkPlanExec => find(a.executedPlan)
        case q: QueryStageExec => find(q.plan)
        case other => other.children.view.flatMap(find(_)).headOption
      }
      find(df.queryExecution.executedPlan).get.metrics("numFiles").value
    }
    val total = out.head.files.toLong
    val fU = files(s.read.parquet(partDir).filter(col("userID") === "7").select(count(lit(1))))
    val fP = files(s.read.parquet(partDir).filter(col("price") === 42).select(count(lit(1))))
    assert(fU < total || fP < total,
      s"z-order compaction should buy footer pruning (userID: $fU, price: $fP of $total)")
  }

  test("merge-rollup collapses aged partitions to dims, keeps recent raw, preserves additive totals") {
    import spark.implicits._
    val dir = tempDir("graft-rollup")
    // 3 day partitions, 2 files each, duplicate (user, type) combinations
    Seq("2024-05-01", "2024-05-02", "2024-05-03").foreach { day =>
      (0 to 1).foreach { f =>
        Seq(
          (1L, "view", 10.0 + f, day), (1L, "view", 1.0, day),
          (2L, "click", 5.0, day))
          .toDF("user_id", "event_type", "value", "dt")
          .write.mode("append").partitionBy("dt").parquet(dir)
      }
    }
    val totalBefore = spark.read.parquet(dir).agg(sum("value")).head().getDouble(0)
    val rawRowsPerDay = 6L

    val rolled = SegmentCompaction.rollup(
      spark, dir, olderThan = "2024-05-03",
      groupCols = Seq("user_id", "event_type"),
      aggExprs = Seq(sum("value").as("value"), count(lit(1)).as("n_raw")))
    assert(rolled.map(_.partition).sorted === Seq("dt=2024-05-01", "dt=2024-05-02"),
      "only partitions strictly older than the boundary roll up")
    assert(rolled.forall(_.files === 1))

    // aged partitions: one row per (user, type); raw row count preserved in n_raw
    val aged = spark.read.parquet(s"$dir/dt=2024-05-01")
    assert(aged.count() === 2L)
    assert(aged.agg(sum("n_raw")).head().getLong(0) === rawRowsPerDay)
    assert(aged.filter($"user_id" === 1L).select("value").head().getDouble(0) === 23.0)

    // recent partition untouched at raw granularity
    assert(spark.read.parquet(s"$dir/dt=2024-05-03").count() === rawRowsPerDay)

    // additive aggregate invariant across the whole table
    val totalAfter = spark.read.parquet(s"$dir/dt=2024-05-03").agg(sum("value")).head().getDouble(0) +
      spark.read.parquet(s"$dir/dt=2024-05-01").agg(sum("value")).head().getDouble(0) +
      spark.read.parquet(s"$dir/dt=2024-05-02").agg(sum("value")).head().getDouble(0)
    assert(math.abs(totalAfter - totalBefore) < 1e-9)
  }

  test("upsert-log purge: compaction to latest, aged tombstones drop, served snapshot unchanged") {
    import spark.implicits._
    val dir = tempDir("graft-purge")
    // (k, event_micros, payload, deleted) update log across several files
    val log = Seq(
      ("A", 1L, "A@1", false), ("A", 5L, "A@5", false),      // live, 2 versions
      ("B", 2L, "B@2", false), ("B", 3L, "B-del", true),     // tombstoned OLD (< horizon)
      ("C", 2L, "C@2", false), ("C", 15L, "C-del", true),    // tombstoned RECENT (kept)
      ("D", 4L, "D-del", true), ("D", 6L, "D@6", false))     // revived after delete
      .toDF("k", "event_micros", "payload", "deleted")
    log.filter($"event_micros" <= 3L).repartition(2).write.mode("append").parquet(dir)
    log.filter($"event_micros" > 3L).repartition(2).write.mode("append").parquet(dir)

    val servedBefore = EventIngest.upsertSnapshot(spark.read.parquet(dir))
      .select("k", "payload").collect().map(_.toString).toSet

    val stats = SegmentCompaction.purgeUpsertLog(spark, dir, tombstoneHorizonMicros = 10L)
    val purged = spark.read.parquet(dir)

    // storage: one row per surviving key; B fully gone
    assert(purged.count() === 3L)
    assert(purged.filter($"k" === "B").count() === 0L, "aged tombstoned key must purge entirely")
    assert(purged.filter($"k" === "C" && $"deleted").count() === 1L, "recent tombstone kept")
    assert(purged.filter($"k" === "A").select("payload").head().getString(0) === "A@5")
    assert(stats.files > 0)

    // served rows are IDENTICAL before and after the purge
    val servedAfter = EventIngest.upsertSnapshot(purged)
      .select("k", "payload").collect().map(_.toString).toSet
    assert(servedAfter === servedBefore)
    assert(servedAfter.map(_.take(2)).exists(_.contains("A")))

    // late out-of-order record OLDER than C's kept tombstone still loses
    Seq(("C", 5L, "C@5-late", false)).toDF("k", "event_micros", "payload", "deleted")
      .write.mode("append").parquet(dir)
    val servedLate = EventIngest.upsertSnapshot(spark.read.parquet(dir))
      .filter($"k" === "C").count()
    assert(servedLate === 0L, "kept tombstone must still shadow older late arrivals")
  }

  test("snapshot-scoped swap: files landing after the snapshot survive; below-threshold partitions untouched") {
    import spark.implicits._
    val dir = tempDir("graft-cmp-plain")
    // partition A: 3 tiny files; partition B: 1 file (below minFiles)
    (1 to 3).foreach { i =>
      Seq((i, "a")).toDF("v", "p").write.mode("append").partitionBy("p").parquet(dir)
    }
    Seq((9, "b")).toDF("v", "p").write.mode("append").partitionBy("p").parquet(dir)
    val statsBefore = SegmentCompaction.stats(spark, dir)
    assert(statsBefore.find(_.partition == "p=a").get.files === 3)
    val bFilesBefore = new java.io.File(s"$dir/p=b").listFiles().map(_.getName).toSet

    val compacted = SegmentCompaction.compact(spark, dir, targetBytes = 1L << 30, minFiles = 3)
    // only p=a qualified
    assert(compacted.map(_.partition) === Seq("p=a"))
    assert(SegmentCompaction.stats(spark, dir).find(_.partition == "p=a").get.files === 1)
    assert(new java.io.File(s"$dir/p=b").listFiles().map(_.getName).toSet === bFilesBefore,
      "below-threshold partition must be byte-untouched")
    // a file that lands AFTER compaction's snapshot would survive the swap:
    // the swap deletes exactly the snapshotted inputs — emulate by adding a
    // new file now and re-running with an impossible threshold
    Seq((4, "a")).toDF("v", "p").write.mode("append").partitionBy("p").parquet(dir)
    assert(spark.read.parquet(dir).filter($"p" === "a").as[(Int, String)].collect().map(_._1).sorted
      === Array(1, 2, 3, 4))
  }
}
