package graft.tools

import graft.Graft
import org.apache.spark.sql.functions._

/** Scale trend for the graph family (round 9): times ops.PageRank and
  * ops.Triangles on graphs derived from `lineitem` ALONE (ScaleFixtures
  * replicates lineitem with fresh orderkeys but byte-copies orders at 1×,
  * so an orders join would silently drop the replicas — derive both graphs
  * from the scaled table).
  *
  *  - pagerank: bipartite part↔supplier incidence (both directions), the
  *    co-purchase authority shape of q_graph_pagerank; 8 iterations.
  *  - triangles: the q_graph_triangles basket projection (parts co-occurring
  *    in an order), full census count.
  *
  * Usage: sbt "Test/runMain graft.tools.GraphTrend <dir1> <dir2 ...>"; best-of-2 per
  * dir, per-step seconds on stderr. SPARK_GRAFT_TREND_OPS (comma list of
  * pagerank,labelprop,triangles,triangles_batched) selects a subset —
  * re-measuring one op added after a committed full run must not re-pay
  * the ~17-min 100× pagerank+triangles legs. `triangles_batched` runs the
  * round-10 wedge-batched census (SPARK_GRAFT_TRI_BATCHES, default 8) and
  * reports the peak single-stage shuffle next to the unbatched one.
  */
object GraphTrend {

  /** Largest single-stage shuffle WRITE observed since the last reset —
    * the "peak in-flight exchange" a batched plan is supposed to bound
    * (round 10, wedge batching evidence). */
  private final class PeakShuffle extends org.apache.spark.scheduler.SparkListener {
    @volatile var peak = 0L
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val w = sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
      if (w > peak) peak = w
    }
    def reset(): Unit = peak = 0L
  }

  def main(args: Array[String]): Unit = {
    val spark = Graft.session()
    // partitions sized separately from cores: at 10×+ fixtures the wedge
    // exchange outgrows 32 partitions (spill) long before cores saturate —
    // exactly what a real cluster would fix by scaling partitions with data
    sys.env.get("SPARK_GRAFT_PARTS").foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    val peakShuffle = new PeakShuffle
    spark.sparkContext.addSparkListener(peakShuffle)

    // ScaleFixtures offsets l_orderkey by r·baseOrd per replica but reuses
    // part/supp ids — a distinct() would collapse the replicas back to the
    // 1× graph. Remap node ids by the replica index so the GRAPH grows R×
    // (R disjoint copies: nodes, edges and triangles all scale linearly,
    // which is the honest input for a scale trend). The replica stride is
    // the 1× dir's max orderkey — SPARK_GRAFT_BASE_DIR, default args(0),
    // which must therefore BE the 1× dir. The per-dir replicas line makes a
    // mis-strided run (every rep = 0 → 1× graph) visible instead of silent.
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_BASE_DIR", args(0))
    val baseOrd = graft.sources.Tables.t(spark, baseDir, "lineitem")
      .agg(max(col("l_orderkey"))).head().getLong(0) + 1

    args.foreach { dir =>
      val rep = (col("l_orderkey").cast("long") / lit(baseOrd)).cast("long")
      val li = graft.sources.Tables.t(spark, dir, "lineitem")
        .select(col("l_orderkey"),
          (col("l_partkey").cast("long") + rep * lit(1000000L)).as("l_partkey"),
          (col("l_suppkey").cast("long") + rep * lit(1000000L)).as("l_suppkey"))
      val nRep = li.agg(max((col("l_orderkey").cast("long") / lit(baseOrd)).cast("long")))
        .head().getLong(0) + 1
      System.err.println(s"[graph] $dir replicas=$nRep")
      val ops = sys.env.getOrElse("SPARK_GRAFT_TREND_OPS",
        "pagerank,labelprop,triangles").split(",").map(_.trim).toSet
      val best = scala.collection.mutable.Map.empty[String, Double]
      val passes = sys.env.getOrElse("SPARK_GRAFT_TREND_PASSES", "2").toInt
      for (_ <- 1 to passes) {
        spark.catalog.clearCache()

        if (ops("pagerank")) {
          val t0 = System.nanoTime()
          // 1e8 supplier offset clears the remapped part range (rep·1e6+id)
          val bip = li.select(col("l_partkey").cast("long").as("p"),
              (col("l_suppkey").cast("long") + lit(100000000L)).as("s"))
            .distinct()
          val edges = bip.select(col("p").as("src"), col("s").as("dst"))
            .union(bip.select(col("s").as("src"), col("p").as("dst")))
          val nRanked = graft.ops.PageRank.run(edges, iters = 8).count()
          best("pagerank") = math.min((System.nanoTime() - t0) / 1e9,
            best.getOrElse("pagerank", Double.MaxValue))
          System.err.println(s"[graph] $dir nodes_ranked=$nRanked")
        }

        if (ops("labelprop")) {
          val t0 = System.nanoTime()
          val lpaEdges = li.select(col("l_partkey").as("src"),
            (col("l_suppkey") + lit(100000000L)).as("dst"))
          val nComm = graft.ops.LabelProp.census(lpaEdges, iters = 4).count()
          best("labelprop") = math.min((System.nanoTime() - t0) / 1e9,
            best.getOrElse("labelprop", Double.MaxValue))
          System.err.println(s"[graph] $dir communities=$nComm")
        }

        def basket = li.as("x").join(li.as("y"),
            col("x.l_orderkey") === col("y.l_orderkey") &&
              col("x.l_partkey") < col("y.l_partkey"))
          .select(col("x.l_partkey").cast("long").as("src"),
            col("y.l_partkey").cast("long").as("dst"))

        if (ops("triangles")) {
          peakShuffle.reset()
          val t0 = System.nanoTime()
          val nTri = graft.ops.Triangles.count(basket)
          best("triangles") = math.min((System.nanoTime() - t0) / 1e9,
            best.getOrElse("triangles", Double.MaxValue))
          System.err.println(s"[graph] $dir triangles=$nTri " +
            f"peak_stage_shuffle_mb=${peakShuffle.peak / 1e6}%.0f")
        }

        if (ops("triangles_batched")) {
          // wedge batching (round 10): same census, sequential src-hash
          // slices — the peak single-stage shuffle must drop ~batches×
          // while the count stays identical
          val b = sys.env.getOrElse("SPARK_GRAFT_TRI_BATCHES", "8").toInt
          peakShuffle.reset()
          val t0 = System.nanoTime()
          val canon = graft.ops.Triangles.canonical(basket)
          val nTri = graft.ops.Triangles
            .trianglesCanonical(canon, batches = b).count()
          best("triangles_batched") = math.min((System.nanoTime() - t0) / 1e9,
            best.getOrElse("triangles_batched", Double.MaxValue))
          System.err.println(s"[graph] $dir triangles_batched=$nTri batches=$b " +
            f"peak_stage_shuffle_mb=${peakShuffle.peak / 1e6}%.0f")
        }
      }
      best.toSeq.sortBy(_._1).foreach { case (n, s) =>
        System.err.println(f"[scale] $dir $n $s%.2f s")
      }
    }
    spark.stop()
  }
}
