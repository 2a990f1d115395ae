package graft

import graft.plans.SegmentPruning
import graft.sources.{BloomLayout, Tables}
import org.apache.spark.sql.functions._

/** Pinot bloom-filter index analog: per-file bloom bitsets over a
  * hash-partitioned layout let an equality probe skip files from driver-side
  * metadata alone. Proven from real scan metrics: present values scan few
  * files, absent values scan zero (or only false-positive files, still
  * returning zero rows). */
class BloomLayoutSpec extends GraftSuite {

  test("bloom manifest prunes point lookups to the owning file; parity with full scan") {
    val dir = tempDir("graft-bloom")
    val ev = Tables.t(spark, sfDir, "events").select("event_id", "user_id", "value")
    BloomLayout.write(ev, dir, "user_id", nFiles = 8)
    val manifest = BloomLayout.buildManifest(spark, dir, "user_id")

    // hash layout may leave a partition empty (no file written for it)
    assert(manifest.nonEmpty && manifest.size <= 8)
    assert(manifest.map(_.rows).sum === ev.count())

    // probe a real key: hash layout puts it in exactly one file; the bloom
    // must admit that file and (with high probability at this density)
    // reject most others
    val probe = ev.select("user_id").head().getLong(0)
    val hit = BloomLayout.pruneFiles(manifest, BloomLayout.hashPositions(spark, probe))
    assert(hit.nonEmpty && hit.size < manifest.size,
      s"bloom pruned nothing: ${hit.size}/${manifest.size} files admitted")

    // a registered session's ordinary lookup returns exactly the full-scan answer
    val expected = ev.filter(col("user_id") === probe).collect().map(_.toString).sorted
    val s = spark.newSession()
    SegmentPruning.registerBloom(s, dir, "user_id")
    val pruned = s.read.parquet(dir).filter(col("user_id") === probe)
    val got = pruned.collect().map(_.toString).sorted
    assert(got === expected && got.nonEmpty)

    // physical evidence: the executed scan opened exactly the admitted files
    val scan = fileScan(s.read.parquet(dir).filter(col("user_id") === probe))
    assert(scan.metrics("numFiles").value === hit.size.toLong)
    assert(scan.metadata("PushedFilters").contains("user_id"))
  }

  test("absent value: bloom rejects all (or nearly all) files and the result is empty") {
    val dir = tempDir("graft-bloom-absent")
    val ev = Tables.t(spark, sfDir, "events").select("event_id", "user_id")
    BloomLayout.write(ev, dir, "user_id", nFiles = 8)
    val manifest = BloomLayout.buildManifest(spark, dir, "user_id")

    val absent = -987654321L // far outside the generated id domain
    val hit = BloomLayout.pruneFiles(manifest, BloomLayout.hashPositions(spark, absent))
    // false positives allowed, but at 2^16 bits / file they must be rare
    assert(hit.size <= 2, s"bloom admitted ${hit.size}/8 files for an absent key")
    val s = spark.newSession()
    SegmentPruning.registerBloom(s, dir, "user_id")
    val lookup = s.read.parquet(dir).filter(col("user_id") === absent)
    assert(lookup.count() === 0L)
    assert(scanFiles(lookup) === hit.size.toLong)
  }

  test("string column: low-cardinality values map to their owning files only") {
    val dir = tempDir("graft-bloom-str")
    val docs = Tables.t(spark, sfDir, "documents").select("doc_id", "source", "lang")
    BloomLayout.write(docs, dir, "source", nFiles = 8)
    val manifest = BloomLayout.buildManifest(spark, dir, "source")

    val routed = spark.newSession()
    SegmentPruning.registerBloom(routed, dir, "source")
    def lookup(s: String) = routed.read.parquet(dir).filter(col("source") === s)
    val sources = docs.select("source").distinct().collect().map(_.getString(0))
    sources.foreach { s =>
      val hit = BloomLayout.pruneFiles(manifest, BloomLayout.hashPositions(spark, s))
      // hash layout ⇒ one owning file; bloom may admit the odd extra
      assert(hit.nonEmpty && hit.size <= 3, s"source=$s admitted ${hit.size} files")
      assert(lookup(s).count() === docs.filter(col("source") === s).count())
      assert(scanFiles(lookup(s)) === hit.size.toLong, s"source=$s")
    }
    // every row accounted for exactly once across the per-source reads
    val total = sources.map(s => lookup(s).count()).sum
    assert(total === docs.count())
  }
}
