package graft

import graft.ops.KMeans
import graft.sources.SemDedupIndex
import org.apache.spark.sql.functions._

/** Round 12: the persisted SemDeDup corpus artifacts (codebook + cell
  * assignments) must be BIT-identical to a fresh train+assign over the same
  * corpus — the DedupIndex parity doctrine applied to the embedding side.
  * A stale or lossy artifact would silently change q_dedup_semdedup_incr's
  * pair decisions; this spec pins the storage round-trip. */
class SemDedupIndexSpec extends GraftSuite {

  import spark.implicits._

  private def corpusDf(n: Int, dim: Int, seed: Long) = {
    val r = new scala.util.Random(seed)
    Seq.tabulate(n)(i => (i.toLong, Seq.fill(dim)(r.nextFloat() * 4f - 2f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
  }

  test("stored codebook and assignments replay a fresh train+assign bit for bit") {
    val corpus = corpusDf(150, 8, seed = 21)
    val dir = tempDir("semdedup_idx_spec")
    SemDedupIndex.build(corpus, dir, k = 5, iters = 3)

    val init = corpus.orderBy(col("vec_id"))
      .select(col("vec_id").cast("int"), col("embedding"))
      .limit(5).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toSeq
    val freshCents = KMeans.train(corpus, "embedding", init, 3)

    val storedCents = SemDedupIndex.readCodebook(spark, dir)
    assert(storedCents.map(_._1) === freshCents.sortBy(_._1).map(_._1))
    storedCents.zip(freshCents.sortBy(_._1)).foreach { case ((_, s), (_, f)) =>
      assert(s.toSeq === f.toSeq, "centroid float round-trip must be exact")
    }

    val fresh = KMeans.assign(corpus, "embedding", freshCents)
      .select(col("vec_id"), col("cell"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
      .sortBy(_._1)
    val stored = SemDedupIndex.readAssignments(spark, dir)
      .select(col("vec_id"), col("cell"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2)))
      .sortBy(_._1)
    assert(stored.length === fresh.length)
    stored.zip(fresh).foreach { case (s, f) => assert(s === f) }
  }
}
