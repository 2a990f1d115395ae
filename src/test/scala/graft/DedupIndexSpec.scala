package graft

import graft.sources.{DedupIndex, Tables}
import org.apache.spark.sql.functions._

/** Corpus-side incremental-dedup index (sources/DedupIndex): the persisted
  * signature frame must be bit-identical to an in-process recompute — same
  * candidate pairs, same Jaccard values — so reading the index instead of
  * re-deriving corpus signatures is purely a cost change, never a result
  * change. */
class DedupIndexSpec extends GraftSuite {

  test("indexed incremental dedup ≡ recompute: identical pairs and jaccard") {
    val d = Tables.t(spark, sfDir, "documents")
    val newDocs = d.filter(pmod(col("doc_id"), lit(10)) === 0)
    val corpus = d.filter(pmod(col("doc_id"), lit(10)) =!= 0)

    val dir = tempDir("graft-dedupidx") + "/idx"
    DedupIndex.build(corpus, dir, "doc_id", "text")

    // stored contract: the minhash prep schema, one row per corpus doc
    val stored = DedupIndex.read(spark, dir)
    assert(stored.columns.toSeq === Seq("doc_id", "sig", "sh_sorted", "n_sh"))
    assert(stored.count() === corpus.count())

    val viaIndex = graft.ops.Dedup.incrementalNearDupPairsIndexed(
        newDocs, stored, "doc_id", "text", threshold = 0.0)
      .collect().map(_.toString).sorted
    val recomputed = graft.ops.Dedup.incrementalNearDupPairs(
        newDocs, corpus, "doc_id", "text", threshold = 0.0)
      .collect().map(_.toString).sorted
    assert(viaIndex.nonEmpty, "fixture should produce at least one candidate pair")
    assert(viaIndex === recomputed)
  }

  test("build is deterministic: two builds of the same corpus store equal frames") {
    val corpus = Tables.t(spark, sfDir, "documents").limit(500)
    val d1 = tempDir("graft-dedupidx-a") + "/idx"
    val d2 = tempDir("graft-dedupidx-b") + "/idx"
    DedupIndex.build(corpus, d1, "doc_id", "text")
    DedupIndex.build(corpus, d2, "doc_id", "text")
    val a = DedupIndex.read(spark, d1).collect().map(_.toString).sorted
    val b = DedupIndex.read(spark, d2).collect().map(_.toString).sorted
    assert(a === b)
  }
}
