package graft.tools

import graft.Graft
import org.apache.spark.sql.functions._

/** SemDeDup k-knob demonstration (round 10): on a replicated-embedding dir,
  * measures candidate-pair volume and wall time as the CELL COUNT scales
  * with the corpus — the paper's own scale lever (50k clusters over LAION).
  * With k fixed, within-cell pair work grows quadratically in corpus size;
  * growing k keeps |cell| ≈ const so pair volume grows ~linearly. The
  * keeper decisions stay bit-deterministic at every k (the codebook only
  * BLOCKS; removal decisions are float-fold comparisons).
  *
  * Usage: sbt "Test/runMain graft.tools.SemDedupTrend <dir> <k1,k2,...>"
  */
object SemDedupTrend {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/fix100")
    val ks = args.lift(1).getOrElse("8,64").split(',').map(_.trim.toInt)
    val spark = Graft.session()
    val e = graft.sources.Tables.t(spark, dir, "embeddings")
    System.err.println(s"[semdedup] corpus ${e.count()} vectors")
    ks.foreach { k =>
      val t0 = System.nanoTime()
      val init = e.orderBy(col("vec_id"))
        .select(col("vec_id").cast("int"), col("embedding"))
        .limit(k).collect()
        .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toSeq
      val cents = graft.ops.KMeans.train(e, "embedding", init, 3)
      val salted = graft.ops.Dedup.saltSplit(
          graft.ops.KMeans.assign(e, "embedding", cents),
          Seq("cell"), "vec_id", 256)
        .persist()
      val pairs = graft.ops.SemDeDup.cellPairs(
          salted, "vec_id", "embedding", "dist", "cell", 0.35)
        .persist()
      val nPairs = pairs.count()
      val nRemoved = graft.ops.SemDeDup.removedOf(pairs).count()
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(
        f"[semdedup] k=$k%-5d pairs=$nPairs%-12d removed=$nRemoved%-9d wall=$dt%.1f s")
      salted.unpersist(); pairs.unpersist()
    }
    spark.stop()
  }
}
