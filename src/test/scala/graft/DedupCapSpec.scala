package graft

import graft.functions.{lshBands, sorted_intersect_count}
import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LSH bucket-cap evidence (the 100 TB scale-killer fix): plant one
  * pathological band bucket — hundreds of identical documents, which all
  * share every signature band — and assert the salt-split bounds the
  * per-bucket self-join quadratic while still finding duplicates. */
class DedupCapSpec extends GraftSuite {
  import spark.implicits._

  private val nDup = 400
  private val cap = 10

  /** 400 identical docs (one hot bucket per band) + 50 distinct docs. */
  private def planted = {
    val hot = (1L to nDup.toLong).map(i => (i, "the same boilerplate page body repeated verbatim across mirrors"))
    val rnd = new scala.util.Random(7)
    val cold = (1000L until 1050L).map(i => (i, Seq.fill(40)("w" + rnd.nextInt(5000)).mkString(" ")))
    (hot ++ cold).toDF("id", "text")
  }

  test("minhash: salt-split caps the planted bucket's pair blowup") {
    val capped = Dedup.minhashNearDupPairs(planted, "id", "text", threshold = 0.0, maxBucket = cap)
      .select("id_a", "id_b").distinct().count()
    // uncapped, the hot bucket alone would emit C(400,2) = 79,800 pairs;
    // capped: nSplit = ceil(400/10) = 40 sub-buckets of ~10 docs
    // → ≤ 40 × C(10,2) = 1,800 pairs from the hot bucket
    val worstCase = math.ceil(nDup.toDouble / cap).toLong * (cap.toLong * (cap - 1) / 2)
    assert(capped <= worstCase, s"capped pair count $capped exceeds bound $worstCase")
    assert(capped > 0, "identical docs within a sub-bucket must still pair")
  }

  test("minhash: capped run still confirms duplicates at jaccard 1.0") {
    val pairs = Dedup.minhashNearDupPairs(planted, "id", "text", threshold = 0.5, maxBucket = cap)
    val j = pairs.agg(min(col("jaccard")), max(col("jaccard"))).head()
    assert(j.getDouble(0) === 1.0 && j.getDouble(1) === 1.0)
    // every surviving pair is from the planted duplicate set
    assert(pairs.filter(col("id_a") > nDup || col("id_b") > nDup).count() === 0)
  }

  test("simhash: salt-split caps the planted bucket's pair blowup") {
    val capped = Dedup.simhashNearDupPairs(planted, "id", "text", maxHamming = 64, maxBucket = cap)
      .select("id_a", "id_b").distinct().count()
    val worstCase = math.ceil(nDup.toDouble / cap).toLong * (cap.toLong * (cap - 1) / 2)
    assert(capped <= worstCase, s"capped pair count $capped exceeds bound $worstCase")
    assert(capped > 0)
  }

  /** The incremental pipeline as it was built from saltSplit: the cap
    * over both sides' band rows, a new × corpus join on (bk, sub), and the
    * exact-Jaccard confirm. */
  private def saltSplitIncremental(newDocs: DataFrame, corpus: DataFrame, maxBucket: Int) = {
    val nb = Dedup.minhashPrepPlan(newDocs, "id", "text", 3, 64)
    val cb = Dedup.minhashPrepPlan(corpus, "id", "text", 3, 64)
    def bandRows(base: DataFrame, isNew: Boolean) = base
      .select(lit(isNew).as("is_new"), col("doc_id"), explode(lshBands(col("sig"), 16, 4)).as("bk"))
    val salted = Dedup.saltSplit(
      bandRows(nb, isNew = true).unionByName(bandRows(cb, isNew = false)), Seq("bk"), "doc_id", maxBucket)
    val pairs = salted.filter(col("is_new")).as("a")
      .join(salted.filter(!col("is_new")).as("b"),
        col("a.bk") === col("b.bk") && col("a.sub") === col("b.sub"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("corpus_id"))
      .distinct()
    pairs
      .join(nb.select(col("doc_id").as("new_id"), col("sh_sorted").as("sh_a"), col("n_sh").as("na")), "new_id")
      .join(cb.select(col("doc_id").as("corpus_id"), col("sh_sorted").as("sh_b"), col("n_sh").as("nb")), "corpus_id")
      .withColumn("n_inter", sorted_intersect_count(col("sh_a"), col("sh_b")))
      .select(col("new_id"), col("corpus_id"), round(col("n_inter").cast("double") /
        (col("na") + col("nb") - col("n_inter")).cast("double"), 4).as("jaccard"))
  }

  test("incremental: a capped bucket yields the salt-split pairs, under the capped bound") {
    // 400 corpus docs and 40 batch docs, all one text: every band bucket
    // holds 440 rows from both sides, so nsplit = ceil(440 / 10) = 44
    val text = "the same boilerplate page body repeated verbatim across mirrors"
    val corpus = (1L to nDup.toLong).map(_ -> text).toDF("id", "text")
    val nNew = 40
    val newDocs = (5001L to 5000L + nNew).map(_ -> text).toDF("id", "text")
    def triples(df: DataFrame) =
      df.select("new_id", "corpus_id", "jaccard").as[(Long, Long, Double)].collect().toSet
    val got = triples(Dedup.incrementalNearDupPairs(newDocs, corpus, "id", "text",
      threshold = 0.0, maxBucket = cap))
    assert(got === triples(saltSplitIncremental(newDocs, corpus, cap)))
    // uncapped, every batch doc pairs with all 400 corpus docs (16,000
    // pairs); capped, only with the ~400 / 44 corpus docs of its own sub
    assert(got.nonEmpty && got.size <= nNew * cap, s"${got.size} pairs")
    assert(got.forall { case (a, b, j) => a % 44 == b % 44 && j == 1.0 })
  }

  test("cap is a no-op for buckets under the threshold") {
    // genuinely distinct docs → tiny buckets → identical results with and
    // without cap (template-sharing docs would legitimately exceed it)
    val rnd = new scala.util.Random(11)
    val docs = (1L to 60L).map(i =>
      (i, Seq.fill(50)("t" + rnd.nextInt(100000)).mkString(" "))).toDF("id", "text")
    val withCap = Dedup.minhashNearDupPairs(docs, "id", "text", threshold = 0.0, maxBucket = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val noCap = Dedup.minhashNearDupPairs(docs, "id", "text", threshold = 0.0, maxBucket = Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(withCap === noCap)
  }
}
