package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted corpus-side artifacts for INCREMENTAL semantic dedup
  * (q_dedup_semdedup_incr) — the production daily-ingest shape, and the
  * embedding-space sibling of [[DedupIndex]]: the standing corpus's
  * coarse-quantizer codebook and cell assignments are computed ONCE at
  * ingest and stored, so each new batch pays only its own assignment pass
  * plus the per-cell new×corpus cosine joins — never a re-train of the
  * corpus codebook (k-lowest-id seeds + Lloyd rounds over the FULL corpus,
  * which at 100 TB would re-scan the corpus `iters + 1` times per daily
  * batch).
  *
  * Layout (the [[AnnIndex]] doctrine): `codebook/` = the k×dim float
  * centroids, `assignments/` = `(vec_id, embedding, cell)` PARTITIONED BY
  * CELL — the join side of the per-cell candidate work reads only matching
  * cell partitions and the denormalized vectors avoid a join back to the
  * corpus at probe time.
  *
  * Staleness: build through [[Fingerprint.buildOnce]] with `k` and `iters`
  * as params — its key also covers the corpus file's path and data
  * version, so a regenerated corpus or a changed codebook size rebuilds
  * the artifacts instead of serving a stale codebook. Build and
  * fresh recompute are bit-identical (`ops/KMeans` is deterministic end to
  * end; SemDedupIndexSpec asserts codebook + assignment parity).
  */
object SemDedupIndex {

  /** Train the corpus codebook (init = the k lowest-vec_id corpus rows,
    * exactly the q_dedup_semdedup_incr contract) and write both artifacts. */
  def build(corpus: DataFrame, dir: String, k: Int, iters: Int): Unit = {
    val spark = corpus.sparkSession
    val init = corpus.orderBy(col("vec_id"))
      .select(col("vec_id").cast("int"), col("embedding"))
      .limit(k)
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
      .toSeq
    val cents = graft.ops.KMeans.train(corpus, "embedding", init, iters)
    spark.createDataFrame(cents.map { case (c, a) => (c, a.toSeq) })
      .toDF("cell", "centroid")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/codebook")
    graft.ops.KMeans.assign(corpus, "embedding", cents)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/assignments")
  }

  /** The stored codebook, cell-sorted — the k×dim driver-side structure
    * every consumer (new-batch assignment, cell spine) shares. Both reads
    * go through the `Tables.read` relation memo: the published dirs are
    * immutable, so a warm call lists no dir and reads no footer. */
  def readCodebook(spark: SparkSession, dir: String): Seq[(Int, Array[Float])] =
    Tables.read(spark, s"$dir/codebook")
      .select(col("cell").cast("int"), col("centroid"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
      .toSeq
      .sortBy(_._1)

  /** The stored corpus assignments `(vec_id, embedding, cell)`. */
  def readAssignments(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, s"$dir/assignments")
      .select(col("vec_id"), col("embedding"), col("cell").cast("int").as("cell"))
}
