package graft.tools

import graft.Graft
import org.apache.spark.sql.functions._

/** Measurement harness for the AnnIndex partition-pruning claim (round-8
  * verdict item #6): as the CELL COUNT grows at fixed corpus, the probe
  * should stay flat-or-cheaper — a probe-k query opens only k cell
  * directories regardless of how many exist, and larger cell counts make
  * each opened cell SMALLER. Prints, per cell count: index build wall,
  * best-of-3 probe wall for the standard 20-query frame, candidate files
  * opened (post partition-pruning), and candidate rows scanned.
  *
  * Usage: sbt "Test/runMain graft.tools.AnnCellTrend <sfDir> [nCells,nCells,...]"
  */
object AnnCellTrend {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cellCounts =
      if (args.length > 1) args(1).split(',').map(_.toInt).toSeq else Seq(16, 64, 256)
    val spark = Graft.session()
    val emb = graft.sources.Tables.t(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") >= 20 && col("vec_id") < 40)

    cellCounts.foreach { n =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft_celltrend_$n").toString
      val t0 = System.nanoTime()
      graft.sources.AnnIndex.build(emb, dir, "vec_id", "embedding", nCells = n)
      val buildS = (System.nanoTime() - t0) / 1e9
      val probeS = (1 to 3).map { _ =>
        val t = System.nanoTime()
        graft.sources.AnnIndex.topK(spark, dir, queries, "vec_id", "embedding",
          k = 3, probes = 2).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t) / 1e9
      }.min
      // the pruned scan the probe performs: the batch's distinct probed
      // cells become a static partition filter — files/rows touched are
      // the probe's true read volume
      val cents = graft.sources.AnnIndex.readCentroids(spark, dir)
      val probedCells = queries.select(explode(transform(
          graft.sources.AnnIndex.cellsOf(cents, col("embedding"), 2),
          c => c.getField("cell"))).as("cell"))
        .distinct().collect().map(_.getInt(0))
      val scan = spark.read.parquet(graft.sources.AnnIndex.assignDir(spark, dir))
        .filter(col("cell").isin(probedCells.toIndexedSeq: _*))
      val filesOpened = scan.select(input_file_name()).distinct().count()
      val rowsScanned = scan.count()
      println(f"CELLTREND nCells=$n%4d build=$buildS%.2fs probeBest3=$probeS%.2fs " +
        f"probedCells=${probedCells.length}%d scanFiles=$filesOpened%d scanRows=$rowsScanned%d")
    }
    spark.stop()
  }
}
