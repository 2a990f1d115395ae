package graft

import graft.plans.SegmentPruning
import graft.sources.{SortedLayout, Tables}
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Transparent broker-style segment pruning: after register(), ordinary
  * queries over the sorted layout scan only the files whose footer range
  * can match — no query rewrite by the user. */
class SegmentPruningRuleSpec extends GraftSuite {

  private lazy val layout: (String, Long) = {
    val dir = tempDir("graft-segprune")
    val ev = Tables.t(spark, sfDir, "events").select("event_id", "user_id", "value")
    SortedLayout.write(ev, dir, "user_id", nFiles = 8)
    val mid = SortedLayout.fileRanges(spark, dir, "user_id")
      .sortBy(_.min.asInstanceOf[java.lang.Long].longValue())(Ordering.Long)
      .apply(4).min.asInstanceOf[java.lang.Long].longValue()
    (dir, mid)
  }

  test("point lookup through a registered session scans <=2 files, unregistered scans all") {
    val (dir, probe) = layout
    val s2 = spark.newSession()
    SegmentPruning.register(s2, dir, "user_id")

    val base = spark.read.parquet(dir).filter(col("user_id") === probe)
    val routed = s2.read.parquet(dir).filter(col("user_id") === probe)
    assert(scanFiles(base) === 8L, "unregistered session must see the full layout")
    assert(scanFiles(routed) <= 2L, "registered session must footer-prune the point lookup")
    assert(routed.collect().map(_.toString).sorted === base.collect().map(_.toString).sorted)
    assert(routed.count() > 0)
  }

  test("a route prunes in its session only: a sibling session scans every file") {
    val (dir, probe) = layout
    val routed = spark.newSession()
    SegmentPruning.register(routed, dir, "user_id")
    val sibling = spark.newSession()
    def lookup(s: org.apache.spark.sql.SparkSession) =
      s.read.parquet(dir).filter(col("user_id") === probe)
    assert(scanFiles(lookup(routed)) <= 2L)
    assert(scanFiles(lookup(sibling)) === 8L, "a sibling session must not inherit the route")
    assert(lookup(sibling).count() === lookup(routed).count())
  }

  test("range predicate and aggregate-on-top both prune; other columns do not") {
    val (dir, probe) = layout
    val s2 = spark.newSession()
    SegmentPruning.register(s2, dir, "user_id")

    val range = s2.read.parquet(dir)
      .filter(col("user_id") >= probe - 1 && col("user_id") <= probe + 1)
    val rangeFiles = scanFiles(range)
    assert(rangeFiles < 8L, s"range lookup must prune, scanned $rangeFiles")
    assert(range.count() ===
      spark.read.parquet(dir)
        .filter(col("user_id") >= probe - 1 && col("user_id") <= probe + 1).count())

    // the Filter sits under an Aggregate here — still rewritten
    val agg = s2.read.parquet(dir).filter(col("user_id") === probe)
      .agg(sum(col("value")).as("s"))
    assert(scanFiles(agg) <= 2L)

    // predicate on a non-sort column: rule must not touch the scan
    val other = s2.read.parquet(dir).filter(col("event_id") === 1L)
    assert(scanFiles(other) === 8L)
  }

  test("bloom-registered hash layout prunes equality predicates, not ranges") {
    import graft.sources.BloomLayout
    val dir = tempDir("graft-segprune-bloom")
    val ev = Tables.t(spark, sfDir, "events").select("event_id", "user_id", "value")
    BloomLayout.write(ev, dir, "user_id", nFiles = 8)
    val s2 = spark.newSession()
    SegmentPruning.registerBloom(s2, dir, "user_id")
    val nFiles = spark.read.parquet(dir).inputFiles.length.toLong

    val probe = ev.select("user_id").head().getLong(0)
    val eq = s2.read.parquet(dir).filter(col("user_id") === probe)
    assert(scanFiles(eq) < nFiles, "bloom must skip files for an equality probe")
    assert(eq.count() === ev.filter(col("user_id") === probe).count())
    assert(eq.count() > 0)

    // an absent key prunes to (almost) nothing and returns zero rows
    val absent = s2.read.parquet(dir).filter(col("user_id") === -987654321L)
    assert(absent.count() === 0L)

    // ranges cannot use a bloom: full scan, exact result
    val range = s2.read.parquet(dir)
      .filter(col("user_id") >= probe - 1 && col("user_id") <= probe + 1)
    assert(scanFiles(range) === nFiles)
    assert(range.count() ===
      ev.filter(col("user_id") >= probe - 1 && col("user_id") <= probe + 1).count())
  }

  test("bloom registration refuses when the driver manifest would exceed its byte budget") {
    import graft.sources.BloomLayout
    val dir = tempDir("graft-segprune-bloomcap")
    val ev = Tables.t(spark, sfDir, "events").select("event_id", "user_id").limit(1000)
    BloomLayout.write(ev, dir, "user_id", nFiles = 8)
    val s2 = spark.newSession()
    // 8 files x 8 KiB = 64 KiB of manifest; a 16 KiB budget must refuse
    val e = intercept[IllegalArgumentException] {
      SegmentPruning.registerBloom(s2, dir, "user_id", maxManifestBytes = 16L << 10)
    }
    assert(e.getMessage.contains("shard"), e.getMessage)
    // refusal is safe: the unregistered table still answers exactly (full scan)
    val probe = ev.select("user_id").head().getLong(0)
    assert(s2.read.parquet(dir).filter(col("user_id") === probe).count() ===
      ev.filter(col("user_id") === probe).count())
    // and the same dir registers fine within budget
    SegmentPruning.registerBloom(s2, dir, "user_id", maxManifestBytes = 1L << 20)
  }

  test("partitioned layout prunes = to the owning file and IN to the union; ranges full-scan") {
    import graft.sources.PartitionedLayout
    val dir = tempDir("graft-segprune-part")
    val ev = Tables.t(spark, sfDir, "events").select("event_id", "user_id", "value")
    PartitionedLayout.write(ev, dir, "user_id", nPartitions = 8)
    val s2 = spark.newSession()
    SegmentPruning.registerPartitioned(s2, dir, "user_id", nPartitions = 8)
    val nFiles = spark.read.parquet(dir).inputFiles.length.toLong

    // = : exactly the one file owning the value's partition id
    val probes = ev.select("user_id").distinct().limit(3).collect().map(_.getLong(0))
    val eq = s2.read.parquet(dir).filter(col("user_id") === probes(0))
    assert(scanFiles(eq) === 1L, "equality must prune to the single owning file")
    assert(eq.count() === ev.filter(col("user_id") === probes(0)).count())
    assert(eq.count() > 0)

    // IN : union of owning files, still exact
    val in = s2.read.parquet(dir).filter(col("user_id").isin(probes.toSeq: _*))
    assert(scanFiles(in) <= 3L, "IN-list must prune to the owning files")
    assert(in.count() === ev.filter(col("user_id").isin(probes.toSeq: _*)).count())

    // range: hash layout cannot serve it — full scan, exact result
    val range = s2.read.parquet(dir)
      .filter(col("user_id") >= probes(0) - 1 && col("user_id") <= probes(0) + 1)
    assert(scanFiles(range) === nFiles)
    assert(range.count() ===
      ev.filter(col("user_id") >= probes(0) - 1 && col("user_id") <= probes(0) + 1).count())

    // a >10-element IN arrives as InSet after OptimizeIn — must still prune:
    // pick ≥11 ids drawn from the FEWEST partitions so the pruned scan
    // touches exactly those partitions' files
    val byPid = ev.select(col("user_id")).distinct()
      .withColumn("p", PartitionedLayout.pidExpr(col("user_id"), 8))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val groups = byPid.groupBy(_._2).toSeq.sortBy(-_._2.length)
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    groups.foreach(g => if (picked.size < 11) picked ++= g._2)
    val ids = picked.map(_._1).toSeq
    val pidsUsed = picked.map(_._2).distinct.size.toLong
    assert(ids.size >= 11, "need an InSet-sized list")
    assert(pidsUsed < nFiles, "fixture must leave at least one partition unprobed")
    val inset = s2.read.parquet(dir).filter(col("user_id").isin(ids: _*))
    assert(scanFiles(inset) === pidsUsed, "InSet probe must prune to the owning files")
    assert(inset.count() === ev.filter(col("user_id").isin(ids: _*)).count())
  }

  test("randomized conjunctions over intersected sorted+bloom manifests stay exact") {
    // the round-7 intersection logic is only sound if EVERY decision keeps
    // a superset — fuzz it: one layout, two manifests, 40 seeded random
    // range/equality conjunctions; every pruned answer must equal the
    // unpruned one (and the whole point: some cases must actually prune)
    import spark.implicits._
    val dir = tempDir("graft-segprune-fuzz")
    val rnd = new scala.util.Random(424242L)
    val rows = (0L until 4000L).map { i =>
      (i, rnd.nextInt(50).toLong, s"s${rnd.nextInt(12)}", rnd.nextDouble())
    }
    val df = rows.toDF("id", "k", "tag", "x")
    SortedLayout.write(df.orderBy("k"), dir, "k", nFiles = 8)
    val s = spark.newSession()
    graft.plans.SegmentPruning.register(s, dir, "k")
    graft.plans.SegmentPruning.registerBloom(s, dir, "tag")
    val plain = spark.newSession()
    var prunedSomewhere = false
    (1 to 40).foreach { i =>
      val lo = rnd.nextInt(50).toLong
      val hi = lo + rnd.nextInt(20)
      val tag = s"s${rnd.nextInt(14)}" // occasionally a tag that exists nowhere
      val shapes = Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
        _ => col("k") >= lo && col("k") <= hi,
        _ => col("k") >= lo && col("tag") === tag,
        _ => col("tag") === tag,
        _ => col("k") === lo && col("tag") === tag)
      val pred = shapes(i % shapes.length)(col("k"))
      val pruned = s.read.parquet(dir).filter(pred)
      val files = scanFiles(pruned)
      if (files < 8) prunedSomewhere = true
      val expect = plain.read.parquet(dir).filter(pred)
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.sum(col("id"))).collect()(0)
      val got = pruned
        .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)),
          org.apache.spark.sql.functions.sum(col("id"))).collect()(0)
      assert(got === expect, s"case $i: lo=$lo hi=$hi tag=$tag")
    }
    assert(prunedSomewhere, "the fuzz must exercise actual pruning, not only full scans")
  }

  test("stale layout deregisters itself: rewritten files stop pruning, results stay exact") {
    val dir = tempDir("graft-segprune-stale")
    val ev = Tables.t(spark, sfDir, "events").select("event_id", "user_id")
    SortedLayout.write(ev, dir, "user_id", nFiles = 4)
    val s2 = spark.newSession()
    SegmentPruning.register(s2, dir, "user_id")

    // regenerate the layout UNSORTED (hash spray): old manifest is now wrong
    ev.repartition(4).write.mode("overwrite").parquet(dir)
    val probe = ev.select("user_id").head().getLong(0)
    val q = s2.read.parquet(dir).filter(col("user_id") === probe)
    // fingerprint mismatch → no pruning → full scan, exact result
    assert(scanFiles(q) === 4L)
    assert(q.count() === ev.filter(col("user_id") === probe).count())
  }
}
