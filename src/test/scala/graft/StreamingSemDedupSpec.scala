package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming incremental SemDeDup: the q_dedup_semdedup_incr shape run as a
  * foreachBatch micro-batch loop — each batch is assigned under the FIXED
  * corpus-trained codebook, checked against the accumulated corpus within
  * its cell, and only survivors are appended. Asserts the dup decisions a
  * sequential reference makes over the same arrival order, including a dup
  * of a vector that itself arrived by stream (the survivor-append path). */
class StreamingSemDedupSpec extends GraftSuite {

  import spark.implicits._

  private def tmp(): String = tempDir() + "/corpus"

  private val cents: Seq[(Int, Array[Float])] = Seq(
    0 -> Array(1f, 0f, 0f, 0f),
    1 -> Array(0f, 1f, 0f, 0f))
  private val Tau = 0.9

  private def dupsOf(batch: DataFrame, corpusDir: String): Set[Long] = {
    val corpusA = graft.ops.KMeans.assign(
      spark.read.parquet(corpusDir), "embedding", cents)
    val newA = graft.ops.KMeans.assign(batch, "embedding", cents)
    newA.as("n").join(corpusA.as("c"), col("n.cell") === col("c.cell"))
      .filter(graft.functions.cosine_sim(
        col("n.embedding"), col("c.embedding")) >= Tau)
      .select(col("n.vec_id")).distinct()
      .collect().map(_.getLong(0)).toSet
  }

  test("micro-batch loop: dups drop, survivors join the corpus for later batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmp()
    Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),   // cell 0
      (2L, Seq(0f, 1f, 0f, 0f)))   // cell 1
      .toDF("vec_id", "embedding").write.parquet(dir)

    val seen = scala.collection.mutable.Set.empty[Long]
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = ms.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val d = dupsOf(b, dir)
        seen ++= d
        // survivors append — the production keep path
        b.filter(!col("vec_id").isin(d.toSeq: _*))
          .write.mode("append").parquet(dir): Unit
      }
      .start()

    // batch 1: 10 duplicates corpus v1; 11 is a genuinely new direction
    ms.addData(Seq(
      (10L, Seq(1f, 0f, 0f, 0f)),
      (11L, Seq(0f, 0f, 1f, 0f))))
    q.processAllAvailable()
    assert(seen.toSet === Set(10L))

    // batch 2: 20 duplicates the STREAMED survivor 11; 21 duplicates v2
    ms.addData(Seq(
      (20L, Seq(0f, 0f, 1f, 0f)),
      (21L, Seq(0f, 1f, 0f, 0f))))
    q.processAllAvailable()
    q.stop()
    assert(seen.toSet === Set(10L, 20L, 21L))

    val corpus = spark.read.parquet(dir).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(corpus === Set(1L, 2L, 11L))
  }
}
