package graft.tools

import graft.ops.Hnsw

/** Measures the HNSW scale claim directly: as a cell's population grows,
  * the bounded-beam search evaluates a SHRINKING fraction of the cell
  * (O(ef·log n) traversals vs the exhaustive scan's O(n)), at stable
  * recall. Synthetic seeded isotropic vectors (the fixture generator's
  * shape), pure JVM — this is a property of the graph kernel, which is
  * exactly what executes per probed cell at any corpus size.
  *
  * Usage: sbt "Test/runMain graft.tools.HnswTrend"  (prints one table row per size)
  */
object HnswTrend {

  private def points(n: Int, dim: Int, seed: Long): IndexedSeq[(Long, Array[Float])] = {
    val r = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(r.nextFloat() * 2f - 1f)))
  }

  def main(args: Array[String]): Unit = {
    val dim = 64
    val ef = 64
    val k = 10
    println(f"${"cellRows"}%9s ${"meanEvals"}%10s ${"evalFrac"}%9s ${"recall@10"}%10s ${"buildMs"}%8s ${"searchUs"}%9s")
    for (n <- Seq(500, 2000, 8000, 32000)) {
      val pts = points(n, dim, seed = 5)
      val t0 = System.nanoTime()
      val g = Hnsw.build(pts, Hnsw.Params(m = 12, efConstruction = 96))
      val buildMs = (System.nanoTime() - t0) / 1e6
      val qids = (0 until 50).map(i => (i.toLong * (n / 50)).min(n - 1))
      var evals = 0L; var hit = 0.0; var tSearch = 0L
      qids.foreach { qid =>
        val q = pts(qid.toInt)._2
        val truth = pts.filter(_._1 != qid)
          .map { case (id, v) => (Hnsw.dist(q, v), id) }
          .sorted.take(k).map(_._2).toSet
        val s0 = System.nanoTime()
        val r = Hnsw.search(g, q, k, ef, excludeId = qid)
        tSearch += System.nanoTime() - s0
        evals += r.evals
        hit += r.hits.count(h => truth.contains(h._1)).toDouble / k
      }
      val meanEvals = evals.toDouble / qids.size
      println(f"$n%9d $meanEvals%10.0f ${meanEvals / n}%9.3f ${hit / qids.size}%10.3f $buildMs%8.0f ${tSearch / 1000.0 / qids.size}%9.0f")
    }
    // recall is the ef lever: at the largest cell, widen the beam
    println("ef sweep at 32000 rows:")
    val pts = points(32000, dim, seed = 5)
    val g = Hnsw.build(pts, Hnsw.Params(m = 12, efConstruction = 96))
    val qids = (0 until 50).map(i => (i.toLong * (32000 / 50)).min(31999L))
    for (efw <- Seq(64, 128, 256)) {
      var evals = 0L; var hit = 0.0
      qids.foreach { qid =>
        val q = pts(qid.toInt)._2
        val truth = pts.filter(_._1 != qid)
          .map { case (id, v) => (Hnsw.dist(q, v), id) }
          .sorted.take(k).map(_._2).toSet
        val r = Hnsw.search(g, q, k, efw, excludeId = qid)
        evals += r.evals
        hit += r.hits.count(h => truth.contains(h._1)).toDouble / k
      }
      println(f"  ef=$efw%3d  evals=${evals / qids.size}%5d (${evals.toDouble / qids.size / 32000}%5.3f)  recall=${hit / qids.size}%5.3f")
    }
    // neighbor-selection comparison on CLUSTERED data (the regime the
    // Malkov heuristic exists for — isotropic data can't separate them)
    println("clustered 8000 rows (ef=64): heuristic vs simple selection")
    for (nClusters <- Seq(10, 50)) {
      val r2 = new scala.util.Random(11)
      val centers = Array.fill(nClusters)(Array.fill(dim)(r2.nextFloat() * 2f - 1f))
      val cps = (0 until 8000).map { i =>
        val c = centers(i % nClusters)
        (i.toLong, c.map(_ + (r2.nextFloat() * 0.2f - 0.1f)))
      }
      def recallOf(heuristic: Boolean): Double = {
        val gc = Hnsw.build(cps,
          Hnsw.Params(m = 12, efConstruction = 96, heuristic = heuristic))
        val qs = (0 until 40).map(i => (i.toLong * 200).min(7999L))
        qs.map { qid =>
          val q = cps(qid.toInt)._2
          val truth = cps.filter(_._1 != qid)
            .map { case (id, v) => (Hnsw.dist(q, v), id) }
            .sorted.take(k).map(_._2).toSet
          Hnsw.search(gc, q, k, 64, excludeId = qid)
            .hits.count(h => truth.contains(h._1)).toDouble / k
        }.sum / qs.size
      }
      println(f"  clusters=$nClusters%3d  heuristic=${recallOf(true)}%5.3f  simple=${recallOf(false)}%5.3f")
    }
  }
}
