package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted corpus-side MinHash index for INCREMENTAL dedup — the
  * production daily-ingest shape at 100 TB: the standing corpus's
  * signatures are computed ONCE at ingest and stored, so each new batch
  * pays only O(|batch|) hashing plus a batch×corpus band join, never a
  * re-derivation of corpus signatures (which at 100 TB would re-scan and
  * re-hash the full corpus text every day).
  *
  * The stored frame is exactly [[graft.ops.Dedup]]'s minhash prep contract
  * — `(doc_id, sig, sh_sorted, n_sh)`: the k-wide signature answers band
  * candidate generation (bands are per-row array math re-derived at read —
  * storing exploded band rows would multiply the index by `bands`×), and
  * the sorted shingle hashes answer the exact-Jaccard confirm. ~(k + |sh|)
  * longs per doc, a small fraction of the text it indexes.
  *
  * Staleness: build through [[Fingerprint.buildOnce]], the engine's one
  * derived-artifact cache (its key covers the corpus file's path and data
  * version), so a regenerated corpus rebuilds the index rather than
  * serving stale signatures.
  */
object DedupIndex {

  /** Compute and write the corpus prep frame. Deterministic (stable seeded
    * hashes, no RNG), so an index build and a fresh recompute are
    * bit-identical — DedupIndexSpec asserts this parity. */
  def build(corpusDf: DataFrame, dir: String, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 64): Unit =
    graft.ops.Dedup.minhashPrepPlan(graft.ops.Par.fanOut(corpusDf), idCol, textCol, shingleN, k)
      .write.mode("overwrite").parquet(dir)

  /** Read the stored prep frame (no persist: at scale the corpus index is
    * read from storage per batch, not pinned in memory; its two consumers —
    * band explode and confirm join — each stream the compact columnar
    * file). The published dir is immutable, so the read goes through the
    * `Tables.read` relation memo: a warm call lists no dir and reads no
    * footer. */
  def read(spark: SparkSession, dir: String): DataFrame =
    Tables.read(spark, dir)
}
