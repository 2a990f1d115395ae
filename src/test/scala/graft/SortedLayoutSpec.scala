package graft

import graft.plans.SegmentPruning
import graft.sources.{SortedLayout, Tables}
import org.apache.spark.sql.functions._

/** Pinot sorted-column index analog: range-sorted parquet layout gives
  * disjoint per-file [min,max] footers, so a point/range predicate scans a
  * constant number of files regardless of table size — the segment-pruning
  * scale mechanism, proven here from real footer metadata and scan metrics. */
class SortedLayoutSpec extends GraftSuite {

  private def asLong(c: Comparable[Any]): Long = c.asInstanceOf[java.lang.Long].longValue()

  test("sorted layout yields disjoint per-file ranges; footer-driven pruning reads exactly one file") {
    val dir = tempDir("graft-sorted")
    val ev = Tables.t(spark, sfDir, "events").select("event_id", "user_id", "value")
    SortedLayout.write(ev, dir, "user_id", nFiles = 8)

    val ranges = SortedLayout.fileRanges(spark, dir, "user_id")
    assert(ranges.size === 8)
    assert(ranges.map(_.rows).sum === ev.count())
    // disjointness: sort by min, every file's min must exceed the previous max
    val sorted = ranges.sortBy(r => asLong(r.min))
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(asLong(b.min) >= asLong(a.max),
        s"overlapping file ranges: $a vs $b")
      case _ =>
    }

    // pick a key owned by a middle file; the footer manifest must prune to
    // exactly the file(s) whose range holds it (1, or 2 at a boundary)
    val probe = asLong(sorted(4).min)
    val hit = SortedLayout.pruneFiles(ranges, Some(probe), Some(probe))
    assert(hit.nonEmpty && hit.size <= 2, s"expected ≤2 candidate files, got ${hit.size}")

    // a registered session's ordinary lookup returns exactly the full-scan answer
    val expected = ev.filter(col("user_id") === probe).collect().map(_.toString).sorted
    val s = spark.newSession()
    SegmentPruning.register(s, dir, "user_id")
    val pruned = s.read.parquet(dir).filter(col("user_id") === probe)
    val got = pruned.select("event_id", "user_id", "value").collect().map(_.toString).sorted
    assert(got === expected)

    // physical evidence: the executed scan opened only the pruned files, and
    // the residual predicate reached parquet (row-group stats inside files)
    val scan = fileScan(pruned)
    assert(scan.metrics("numFiles").value === hit.size.toLong)
    assert(scan.metadata("PushedFilters").contains("user_id"),
      s"predicate not pushed: ${scan.metadata("PushedFilters")}")
  }

  test("unsorted layout cannot prune: every file's range spans the domain") {
    val dir = tempDir("graft-unsorted")
    val ev = Tables.t(spark, sfDir, "events").select("event_id", "user_id")
    ev.repartition(8).write.mode("overwrite").parquet(dir) // hash spray
    val ranges = SortedLayout.fileRanges(spark, dir, "user_id")
    val domainMin = asLong(ranges.map(_.min).reduce((a, b) => if (a.compareTo(b) <= 0) a else b))
    val domainMax = asLong(ranges.map(_.max).reduce((a, b) => if (a.compareTo(b) >= 0) a else b))
    val probe = (domainMin + domainMax) / 2
    val hit = SortedLayout.pruneFiles(ranges, Some(probe), Some(probe))
    assert(hit.size === ranges.size,
      "hash-sprayed files all overlap the probe — the layout, not the reader, is what buys pruning")
  }

  test("string stats prune in UTF-8 byte order: supplementary-plane probe keeps its file") {
    // java String order (UTF-16 code units) puts emoji (surrogates D8xx)
    // BELOW U+FFFF; Spark's UTF8String byte order puts it ABOVE (F0 > EF).
    // Files are range-ordered by Spark, so comparing footer stats as java
    // Strings pruned the very file holding a supplementary-plane probe.
    val dir = tempDir("graft-sorted-utf8")
    import spark.implicits._
    val values = (1 to 100).map(i => f"ascii_$i%03d") ++ Seq("￿_sentinel", "😀_emoji")
    SortedLayout.write(values.toDF("k"), dir, "k", nFiles = 4)
    val ranges = SortedLayout.fileRanges(spark, dir, "k")
    val probe = "😀_emoji"
    val hit = SortedLayout.pruneFiles(ranges, Some(probe), Some(probe))
    assert(hit.nonEmpty, "UTF-16 stat order pruned the file that holds the emoji term")
    val s = spark.newSession()
    SegmentPruning.register(s, dir, "k")
    val lookup = s.read.parquet(dir).filter(col("k") === probe)
    assert(lookup.count() === 1L)
    assert(scanFiles(lookup) === hit.size.toLong)
    // and the ASCII fast path still prunes to ≤2 files
    val a = "ascii_050"
    assert(SortedLayout.pruneFiles(ranges, Some(a), Some(a)).size <= 2)
  }

  test("range predicate across a file boundary scans only the touched files") {
    val dir = tempDir("graft-sorted-range")
    import spark.implicits._
    SortedLayout.write((1L to 80000L).toDF("k"), dir, "k", nFiles = 8)
    val ranges = SortedLayout.fileRanges(spark, dir, "k")
    val (lo, hi) = (25000L, 35000L)
    val hit = SortedLayout.pruneFiles(ranges, Some(lo), Some(hi))
    assert(hit.size < ranges.size, "a 12.5% range must not touch every file")
    val s = spark.newSession()
    SegmentPruning.register(s, dir, "k")
    val range = s.read.parquet(dir).filter(col("k") >= lo && col("k") <= hi)
    assert(range.count() === 10001L)
    assert(scanFiles(range) === hit.size.toLong)
  }
}
