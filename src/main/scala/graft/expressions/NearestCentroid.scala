package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Exact nearest-centroid argmin — the assignment kernel of `ops/KMeans`
  * (and through it SemDeDup, cluster-balanced sampling and the kmeans
  * declared queries).
  *
  * Replaces the former `sort_array(array(struct(l2(e, c1), 1), ...))[0]`
  * construction, which evaluated ALL k centroid distances per row and then
  * allocated + sorted a k-struct array per row — O(k·dim + k log k) with
  * per-row allocation, linear in k forever (the round-10/11 verdict's
  * flagged scale-killer at the SemDeDup paper's k = 50k cells).
  *
  * This expression computes the identical (d, cell) pair with a coarse
  * quantizer over the CODEBOOK (groups of ~√k centroids around
  * farthest-point representatives, grouped once at plan construction):
  * per row it evaluates the √k representative distances, seeds the best
  * candidate, and then scans groups in ascending lower-bound order,
  * skipping every group whose triangle-inequality bound
  * `d(x, rep) − radius(group)` already exceeds the current best. The bound
  * is EXACT for real arithmetic; float rounding of the kernel folds is
  * covered by a relative guard ~1e-9 (the kernel's worst-case relative
  * error is ~1e-13 at dim 64, measured against exact rationals), so a
  * group is only skipped when no member can possibly win OR tie — ties
  * therefore still resolve to the lowest cell id, bit-identically to the
  * exhaustive form (NearestCentroidParitySpec pits the two against each
  * other; the DuckDB oracles replay the exhaustive argmin).
  *
  * Validated envelope of the guard: NearestCentroidParitySpec checks
  * bit-identity at dims 3 to 64 (k up to 257), with coordinates uniform in
  * [-10, 10] (on a 0.25/0.5 grid for the tie cases) and in [-2, 2] for the
  * guard-band check against a plain exhaustive loop. The rounding error of
  * the distance fold grows with dim and with coordinate magnitude, so a
  * caller beyond dim 64 or |x| ≈ 10 should re-run that spec at its own
  * operating point before relying on bit-identity.
  *
  * Member distances are the same sequential float64 (x−y)² fold as
  * [[VectorOps.minkowski]] (p = 2) in array order — every evaluated
  * distance is bit-identical to the old path, and the winner is always
  * evaluated, so (d, cell) is unchanged row for row.
  *
  * Codegen: whole-stage-friendly — one static call on a plan-referenced
  * kernel object (the `VectorOps` pattern), no interpreted HOF lambdas, no
  * per-row struct array.
  */
case class NearestCentroid(child: Expression, cells: Seq[Int], flat: Seq[Float])
    extends UnaryExpression with ExpectsInputTypes {

  require(cells.nonEmpty && flat.length % cells.length == 0,
    s"nearest_centroid: ${cells.length} cells over ${flat.length} weights")

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType, containsNull = true))
  override def dataType: DataType = StructType(Seq(
    StructField("d", DoubleType, nullable = true),
    StructField("cell", IntegerType, nullable = false)))
  override def prettyName: String = "nearest_centroid"

  @transient private lazy val kernel: CentroidKernel =
    CentroidKernel.build(cells.toArray, flat.toArray)

  override def nullSafeEval(a: Any): Any =
    kernel.nearestRow(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidKernel", kernel,
      classOf[CentroidKernel].getName)
    defineCodeGen(ctx, ev, a => s"$ref.nearestRow($a)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** The runtime argmin structure: centroids grouped around farthest-point
  * representatives, with per-group covering radii. Built deterministically
  * from (cells, flat) — identical codebooks yield identical group
  * structure, so plan-identical queries still share cached frames. */
final class CentroidKernel private (
    cells: Array[Int],
    cents: Array[Array[Float]],
    repOf: Array[Int], // group -> member index of its representative
    members: Array[Array[Int]], // group -> member indices, ascending
    radius: Array[Double]) extends Serializable {

  /** The exact [[VectorOps.minkowski]] p=2 fold against a codebook row:
    * identical operation sequence (null element → 0.0, |x−y|² accumulate
    * in array order, sqrt), so every computed distance is bit-identical
    * to the former per-centroid expression. */
  private def dist(a: ArrayData, c: Array[Float]): Double = {
    val n = math.min(a.numElements(), c.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (a.isNullAt(i)) 0.0 else a.getFloat(i).toDouble
      val d = math.abs(x - c(i).toDouble)
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  def nearestRow(a: ArrayData): InternalRow = {
    val g = repOf.length
    var bestD = Double.PositiveInfinity
    var bestC = Int.MaxValue
    // representative distances seed the candidate (reps are members)
    val dr = new Array[Double](g)
    var i = 0
    while (i < g) {
      val d = dist(a, cents(repOf(i)))
      dr(i) = d
      val c = cells(repOf(i))
      if (d < bestD || (d == bestD && c < bestC)) { bestD = d; bestC = c }
      i += 1
    }
    // scan groups in ascending lower-bound order; stop when even the bound
    // cannot beat the best. Guard covers kernel float rounding (~1e-13
    // relative at dim 64) with 4 orders of margin — a skip is only taken
    // when no member can win or tie, keeping ties at the lowest cell id.
    val order = java.util.Arrays.copyOf(groupIdx, g)
    // insertion sort by lower bound (g ~ sqrt(k), tiny)
    var s = 1
    while (s < g) {
      val v = order(s)
      val lbV = dr(v) - radius(v)
      var t = s - 1
      while (t >= 0 && (dr(order(t)) - radius(order(t))) > lbV) {
        order(t + 1) = order(t); t -= 1
      }
      order(t + 1) = v
      s += 1
    }
    var oi = 0
    while (oi < g) {
      val gi = order(oi)
      val lb = dr(gi) - radius(gi)
      val guard = 1e-9 * (dr(gi) + radius(gi) + bestD) + 1e-12
      if (lb - guard > bestD) {
        oi = g // every later group has a larger bound
      } else {
        val ms = members(gi)
        val rep = repOf(gi)
        var mi = 0
        while (mi < ms.length) {
          val m = ms(mi)
          if (m != rep) { // rep already seeded
            val d = dist(a, cents(m))
            val c = cells(m)
            if (d < bestD || (d == bestD && c < bestC)) { bestD = d; bestC = c }
          }
          mi += 1
        }
        oi += 1
      }
    }
    new GenericInternalRow(Array[Any](bestD, bestC))
  }

  @transient private lazy val groupIdx: Array[Int] =
    Array.tabulate(repOf.length)(identity)
}

object CentroidKernel {

  private def distFF(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = math.abs(a(i).toDouble - b(i).toDouble)
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  /** Deterministic grouping: representatives by farthest-point traversal
    * from the first (lowest-cell) centroid, members to their nearest
    * representative (ties to the lowest group), radius = max member
    * distance. Pure function of the codebook. */
  def build(cells: Array[Int], flat: Array[Float]): CentroidKernel = {
    val k = cells.length
    val dim = flat.length / k
    val cents = Array.tabulate(k)(i =>
      java.util.Arrays.copyOfRange(flat, i * dim, (i + 1) * dim))
    val g = math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)
    val reps = new Array[Int](g)
    val minD = Array.fill(k)(Double.PositiveInfinity)
    reps(0) = 0
    var r = 0
    while (r < g - 1) {
      var i = 0
      var far = -1
      var farD = -1.0
      while (i < k) {
        val d = distFF(cents(i), cents(reps(r)))
        if (d < minD(i)) minD(i) = d
        if (minD(i) > farD) { farD = minD(i); far = i }
        i += 1
      }
      reps(r + 1) = far
      r += 1
    }
    val memberOf = Array.tabulate(k) { i =>
      var best = 0
      var bestD = Double.PositiveInfinity
      var j = 0
      while (j < g) {
        val d = distFF(cents(i), cents(reps(j)))
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      best
    }
    val members = Array.tabulate(g)(j =>
      (0 until k).filter(memberOf(_) == j).toArray)
    // every rep belongs to its own group (distance 0 wins all ties except
    // an exactly-duplicated centroid, where the earlier group absorbs it —
    // correctness needs only SOME group to own each member, and `repOf`
    // pointing at a member of the group)
    val repOf = Array.tabulate(g) { j =>
      if (members(j).contains(reps(j)) || members(j).isEmpty) reps(j)
      else members(j).head
    }
    val radius = Array.tabulate(g) { j =>
      if (members(j).isEmpty) 0.0
      else members(j).map(m => distFF(cents(repOf(j)), cents(m))).max
    }
    new CentroidKernel(cells, cents, repOf, members, radius)
  }
}
