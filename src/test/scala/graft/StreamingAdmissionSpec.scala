package graft

import graft.streaming.EventIngest
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Micro-batch admission of the JSON-lines source: each trigger admits files
  * up to a byte budget (`EventIngest.admissionBytes`), so a backlog drains in
  * as few batches as the budget allows, never in a fixed file count per
  * trigger. */
class StreamingAdmissionSpec extends GraftSuite {

  private val eventsPerFile = 25

  /** Fixed-width events: every file of the backlog has the same byte size. */
  private def kdgEvent(user: Int, price: Int, ts: String): String =
    f"""{"userID":"$user%06d","productName":"p","color":"red","department":"d",""" +
      f""""product":"x","campaign":"c","price":$price%3d,"creationTimestamp":"$ts"}"""

  /** Publish `nFiles` files of [[eventsPerFile]] events each; returns the
    * largest file's byte size and the (count, sum(price)) written. */
  private def publish(dir: String, nFiles: Int): (Long, Long, Long) = {
    var maxBytes = 0L
    var priceSum = 0L
    (0 until nFiles).foreach { f =>
      val lines = (0 until eventsPerFile).map { e =>
        val user = f * eventsPerFile + e
        val price = 100 + user % 900
        priceSum += price
        kdgEvent(user, price, f"2024-05-0${1 + f % 3} ${e % 24}%02d:${f % 60}%02d:00")
      }
      val p = Paths.get(dir, f"f$f%03d.json")
      Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
      maxBytes = math.max(maxBytes, Files.size(p))
    }
    (maxBytes, nFiles.toLong * eventsPerFile, priceSum)
  }

  /** Input rows of each micro-batch that admitted any. */
  private def batchRows(q: StreamingQuery): Seq[Long] =
    q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)

  private def assertExactlyOnce(sink: String, n: Long, priceSum: Long): Unit = {
    val out = spark.read.parquet(sink)
    val row = out.agg(count(lit(1)), sum(col("price").cast("long"))).head()
    assert(row.getLong(0) === n, "loss or duplicate in the sink")
    assert(row.getLong(1) === priceSum, "sum(price) differs from what was written")
    assert(out.groupBy("userID").count().filter(col("count") =!= 1).count() === 0,
      "every event must appear exactly once")
  }

  test("a 40-file backlog is admitted in one micro-batch under the default budget") {
    val src = tempDir("adm-src")
    val sink = tempDir("adm-sink")
    val ckpt = tempDir("adm-ckpt")
    val (_, n, priceSum) = publish(src, 40)
    val q = EventIngest.sealedSink(
      EventIngest.readJsonLines(spark, src), sink, ckpt, Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "AvailableNow did not finish")
    assert(batchRows(q) === Seq(n), s"backlog batches: ${batchRows(q)}")
    assertExactlyOnce(sink, n, priceSum)
  }

  test("a budget below the backlog's bytes drains it in budget-sized batches, exactly once") {
    val src = tempDir("adm-small-src")
    val sink = tempDir("adm-small-sink")
    val ckpt = tempDir("adm-small-ckpt")
    val (fileBytes, n, priceSum) = publish(src, 40)
    val par = spark.sparkContext.defaultParallelism
    // about ten files per trigger
    withMaxPartitionBytes(10 * fileBytes / par) {
      val budget = EventIngest.admissionBytes(spark)
      assert(budget < 40 * fileBytes)
      val q = EventIngest.sealedSink(
        EventIngest.readJsonLines(spark, src), sink, ckpt, Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "AvailableNow did not finish")
      val rows = batchRows(q)
      assert(rows.size >= 2, s"backlog batches: $rows")
      assert(rows.sum === n)
      rows.foreach { r =>
        val bytes = r / eventsPerFile * fileBytes
        assert(bytes <= budget, s"a batch admitted $bytes bytes, budget $budget")
      }
    }
    assertExactlyOnce(sink, n, priceSum)
  }
}
