package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBridge

/** Distributed Lloyd's k-means over `array<float>` embedding columns — the
  * semantic-clustering step a curation pipeline runs before
  * cluster-balanced sampling, topic-aware mixing, or IVF cell training
  * (the reference's vector-index workloads train coarse quantizers the
  * same way; cf. the IVF sketch in `sources/AnnIndex`).
  *
  * Scale shape: every iteration is one map-side assignment pass (argmin
  * over k broadcast centroid literals — no join, no shuffle) plus one
  * k×dim-key aggregation; driver state is the k×dim float codebook (the
  * `Pq.trainDistributed` collect pattern), so the corpus never moves and
  * nothing grows with n except the two linear passes.
  *
  * Determinism contract (what lets a DuckDB oracle replay EVERY
  * iteration):
  *  - distance = the codegen'd [[graft.expressions.MinkowskiDistance]] L2
  *    kernel — a sequential float64 fold of (x−y)² in array order, then
  *    sqrt — bit-replicable as `sqrt(list_reduce(...))`; argmin ties go to
  *    the lowest cell id via an ascending struct sort on (d, cell);
  *  - update = per-(cell, position) `round(avg(x::double), 6)` narrowed to
  *    float32: the decimal grid absorbs partial-aggregation merge-order
  *    ulps (the q_sim_centroids doctrine), so the new centroids — and
  *    therefore the whole trajectory — are reproducible across partition
  *    counts and engines;
  *  - an empty cell keeps its previous centroid (as in `Pq.train`).
  */
object KMeans {

  /** The RAW kernel distance (sqrt of the sequential (x−y)² fold):
    * monotone in the squared distance, so argmin order is unchanged, and
    * the sqrt-then-square composition stays bit-replicable for inertia
    * (the `Pq.l2sqBlock` doctrine). */
  def dist(emb: Column, cent: Array[Float]): Column =
    GraftBridge.column(graft.expressions.MinkowskiDistance(
      GraftBridge.expression(emb),
      GraftBridge.expression(array(cent.map(v => lit(v)).toIndexedSeq: _*)),
      2))

  /** (dist, cell) of the nearest centroid — min distance, ties to the
    * lowest cell id. Round 12: one [[graft.expressions.NearestCentroid]]
    * kernel call (coarse-quantizer-pruned exact argmin, sub-k-linear per
    * row at production cell counts) instead of evaluating all k centroid
    * distances into a per-row struct array and sorting it; (d, cell) is
    * bit-identical (NearestCentroidParitySpec pits it against the
    * exhaustive sort-over-all-k reference). */
  def nearest(emb: Column, cents: Seq[(Int, Array[Float])]): Column = {
    val sorted = cents.sortBy(_._1)
    GraftBridge.column(graft.expressions.NearestCentroid(
      GraftBridge.expression(emb),
      sorted.map(_._1),
      sorted.flatMap(_._2.toIndexedSeq)))
  }

  /** `iters` Lloyd iterations from `init` (cell id → centroid, distinct
    * ids); returns the trained codebook sorted by cell id. Each iteration
    * collects exactly k×dim rounded means (codebook-sized — the
    * broadcast-a-tiny-dim pattern, not a data collect). */
  def train(
      vecs: DataFrame,
      embCol: String,
      init: Seq[(Int, Array[Float])],
      iters: Int): Seq[(Int, Array[Float])] = {
    require(init.nonEmpty, "kmeans: empty init")
    val dim = init.head._2.length
    var cents = init.sortBy(_._1)
    val e = vecs.select(col(embCol).as("__e"))
    var it = 0
    while (it < iters) {
      val assigned = e.select(col("__e"),
        nearest(col("__e"), cents).getField("cell").as("__cell"))
      val means = assigned.groupBy(col("__cell"))
        .agg(array((0 until dim).map(i =>
          round(avg(element_at(col("__e"), i + 1).cast("double")), 6)): _*).as("__m"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).map(_.toFloat).toArray)
        .toMap
      cents = cents.map { case (cell, old) => cell -> means.getOrElse(cell, old) }
      it += 1
    }
    cents
  }

  /** Final assignment: each input row plus its `cell` and kernel `dist`
    * under the given codebook (map-only). */
  def assign(vecs: DataFrame, embCol: String, cents: Seq[(Int, Array[Float])]): DataFrame = {
    val n = nearest(col(embCol), cents.sortBy(_._1))
    vecs.withColumn("cell", n.getField("cell"))
      .withColumn("dist", n.getField("d"))
  }
}
