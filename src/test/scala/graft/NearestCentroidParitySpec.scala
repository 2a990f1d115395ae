package graft

import graft.expressions.CentroidKernel
import graft.ops.KMeans
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Round 12: the group-pruned [[graft.expressions.NearestCentroid]] kernel
  * must be (d, cell)-bit-identical to the exhaustive sort-over-all-k
  * construction it replaced — including ties (equal distances resolve to
  * the lowest cell id) and duplicate centroids. The exhaustive reference is
  * the PRE-round-12 expression tree itself ([[nearestBySort]]), not
  * a re-implementation, so any semantic drift in the kernel shows up as a
  * row mismatch here. */
class NearestCentroidParitySpec extends GraftSuite {

  import spark.implicits._

  /** The pre-round-12 exhaustive construction (ascending struct sort over
    * all k (d, cell) pairs) — the parity reference. */
  private def nearestBySort(emb: Column, cents: Seq[(Int, Array[Float])]): Column = {
    val scored = cents.map { case (cell, ce) =>
      struct(KMeans.dist(emb, ce).as("d"), lit(cell).as("cell"))
    }
    sort_array(array(scored.toIndexedSeq: _*))(0)
  }

  private def df(pts: Seq[Array[Float]]) =
    pts.zipWithIndex.map { case (p, i) => (i.toLong, p.toSeq) }
      .toDF("id", "emb")
      .select(col("id"), col("emb").cast("array<float>").as("emb"))

  private def checkParity(pts: Seq[Array[Float]], cents: Seq[(Int, Array[Float])]): Unit = {
    val base = df(pts)
    val newN = KMeans.nearest(col("emb"), cents)
    val oldN = nearestBySort(col("emb"), cents.sortBy(_._1))
    val both = base.select(
      col("id"),
      newN.getField("cell").as("nc"), newN.getField("d").as("nd"),
      oldN.getField("cell").as("oc"), oldN.getField("d").as("od"))
    val bad = both.filter(col("nc") =!= col("oc") ||
      col("nd") =!= col("od")).collect()
    assert(bad.isEmpty, s"parity broken on ${bad.length} rows: ${bad.take(3).mkString("; ")}")
  }

  private def randPts(n: Int, dim: Int, seed: Long,
      grid: Option[Float] = None): Seq[Array[Float]] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(Array.fill(dim) {
      val v = r.nextFloat() * 20f - 10f
      grid.map(g => math.round(v / g) * g).getOrElse(v)
    })
  }

  test("random vectors, k = 1 / 2 / 8 / 64 / 257, dims 3 and 64") {
    for ((k, dim) <- Seq((1, 3), (2, 3), (8, 64), (64, 64), (257, 16))) {
      val cents = randPts(k, dim, seed = 1000 + k)
        .zipWithIndex.map { case (c, i) => i * 3 -> c } // non-contiguous ids
      checkParity(randPts(120, dim, seed = k), cents)
    }
  }

  test("clustered data with exact ties and duplicated centroids") {
    // quarter-grid points make equal distances common; two centroid pairs
    // are exact duplicates, so the tie MUST go to the lower cell id
    val cents0 = randPts(12, 8, seed = 7, grid = Some(0.5f))
    val cents = (cents0.zipWithIndex.map { case (c, i) => i -> c } :+
      (12 -> cents0(3).clone()) :+ (13 -> cents0(0).clone())).sortBy(_._1)
    checkParity(randPts(200, 8, seed = 11, grid = Some(0.25f)), cents)
    // points exactly ON centroids (distance 0 everywhere relevant)
    checkParity(cents0 ++ cents0, cents)
  }

  test("kernel matches a plain exhaustive loop, including the guard band") {
    val r = new scala.util.Random(99)
    val k = 40
    val dim = 6
    val cents = Seq.fill(k)(Array.fill(dim)(r.nextFloat() * 4f - 2f))
    val kernel = CentroidKernel.build(
      Array.tabulate(k)(identity), cents.flatten.toArray)
    def exhaustive(p: Array[Float]): (Double, Int) = {
      var bd = Double.PositiveInfinity; var bc = Int.MaxValue
      cents.zipWithIndex.foreach { case (c, i) =>
        var acc = 0.0; var j = 0
        while (j < dim) { val d = math.abs(p(j).toDouble - c(j).toDouble); acc += d * d; j += 1 }
        val d = math.sqrt(acc)
        if (d < bd || (d == bd && i < bc)) { bd = d; bc = i }
      }
      (bd, bc)
    }
    (0 until 500).foreach { _ =>
      val p = Array.fill(dim)(r.nextFloat() * 4f - 2f)
      val row = kernel.nearestRow(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(p))
      val (wd, wc) = exhaustive(p)
      assert(row.getDouble(0) === wd && row.getInt(1) === wc)
    }
  }

  test("train + assign trajectory is unchanged by the kernel argmin") {
    // the sort-construction trainer replayed inline (as KMeansSpec's
    // reference, but through the OLD expression) must equal KMeans.train
    val pts = randPts(90, 4, seed = 5, grid = Some(0.25f))
    val base = df(pts)
    val init = Seq(0 -> pts(0).clone(), 1 -> pts(1).clone(), 2 -> pts(2).clone())
    var cents = init.sortBy(_._1)
    (0 until 3).foreach { _ =>
      val n = nearestBySort(col("emb"), cents)
      val means = base.select(col("emb").as("__e"), n.getField("cell").as("__cell"))
        .groupBy(col("__cell"))
        .agg(array((0 until 4).map(i =>
          round(avg(element_at(col("__e"), i + 1).cast("double")), 6)): _*).as("__m"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).map(_.toFloat).toArray)
        .toMap
      cents = cents.map { case (cell, old) => cell -> means.getOrElse(cell, old) }
    }
    val got = KMeans.train(base, "emb", init, 3)
    got.zip(cents).foreach { case ((cg, vg), (cw, vw)) =>
      assert(cg === cw); assert(vg.toSeq === vw.toSeq)
    }
  }
}
