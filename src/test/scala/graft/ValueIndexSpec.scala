package graft

import graft.sources.{SortedLayout, Tables, ValueIndex}
import org.apache.spark.sql.functions._

/** Pinot inverted/range index analog: value-sorted postings answer equality
  * and range predicates by footer-pruned lookups + exact re-applied
  * predicates — parity with the scan path, pruning proven from manifests. */
class ValueIndexSpec extends GraftSuite {

  private def c(v: Any): Comparable[Any] = v.asInstanceOf[Comparable[Any]]

  test("numeric equality and range: index ≡ scan, lookups touch few postings files") {
    val ev = Tables.t(spark, sfDir, "events").select("event_id", "user_id", "value")
    val dir = tempDir("graft-valueindex")
    ValueIndex.build(ev, dir, "event_id", "user_id", nFiles = 8)

    val probe = ev.select("user_id").head().getLong(0)
    val eqExpected = ev.filter(col("user_id") === probe).select("event_id")
      .collect().map(_.getLong(0)).toSet
    val eqGot = ValueIndex.eqFilter(ev, "event_id", "user_id", dir, c(probe))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(eqGot === eqExpected && eqGot.nonEmpty)

    val (lo, hi) = (probe - 2, probe + 2)
    val rExpected = ev.filter(col("user_id") >= lo && col("user_id") <= hi)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val rGot = ValueIndex.rangeFilter(ev, "event_id", "user_id", dir, c(lo), c(hi))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(rGot === rExpected && rGot.nonEmpty)

    // pruning: the equality probe's postings lookup opens ≤2 of 8 files
    val ranges = SortedLayout.fileRanges(spark, dir, "v")
    assert(ranges.size >= 4)
    assert(SortedLayout.pruneFiles(ranges, Some(probe), Some(probe)).size <= 2)
  }

  test("string column: per-source equality partitions the table exactly") {
    val docs = Tables.t(spark, sfDir, "documents").select("doc_id", "source", "lang")
    val dir = tempDir("graft-valueindex-str")
    ValueIndex.build(docs, dir, "doc_id", "source", nFiles = 4)
    val sources = docs.select("source").distinct().collect().map(_.getString(0))
    val total = sources.map { s =>
      val n = ValueIndex.eqFilter(docs, "doc_id", "source", dir, c(s)).count()
      assert(n === docs.filter(col("source") === s).count(), s"source=$s")
      n
    }.sum
    assert(total === docs.count())
  }
}
