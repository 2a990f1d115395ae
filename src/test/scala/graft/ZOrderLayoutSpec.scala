package graft

import graft.plans.SegmentPruning
import graft.sources.{SortedLayout, Tables, ZOrderLayout}
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Z-order layout: both columns get footer selectivity from ONE write —
  * value-identical answers (pruning is an accelerator), measured file cuts
  * on either dimension, multiplicative cuts on a 2-D box, and the
  * single-sorted counterexample (second column prunes nothing). */
class ZOrderLayoutSpec extends GraftSuite {

  private val nFiles = 16

  private lazy val zdir: String = {
    val dir = tempDir("graft-zorder")
    val ev = Tables.t(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    ZOrderLayout.write(ev, dir, "user_id", "value", nFiles = nFiles)
    dir
  }

  private lazy val sortedDir: String = {
    val dir = tempDir("graft-zorder-sorted")
    val ev = Tables.t(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    SortedLayout.write(ev, dir, "user_id", nFiles = nFiles)
    dir
  }

  test("registered z-order session answers value-identically to the raw table") {
    val s = spark.newSession()
    ZOrderLayout.register(s, zdir, "user_id", "value")
    val got = s.read.parquet(zdir)
      .filter(col("user_id").between(10, 20) && col("value") > 50.0)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.t(spark, sfDir, "events")
      .filter(col("user_id").between(10, 20) && col("value") > 50.0)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("either single dimension prunes files; a 2-D box prunes multiplicatively") {
    val s = spark.newSession()
    ZOrderLayout.register(s, zdir, "user_id", "value")
    val base = s.read.parquet(zdir)
    val all = scanFiles(s.read.parquet(zdir).select(count(lit(1))))
    assert(all === nFiles.toLong)
    // narrow probes: one user id; a narrow value band
    val fA = scanFiles(base.filter(col("user_id") === 10).select(count(lit(1))))
    val fB = scanFiles(base.filter(col("value").between(10.0, 12.0)).select(count(lit(1))))
    assert(fA < nFiles, s"user_id probe scanned $fA of $nFiles")
    assert(fB < nFiles, s"value probe scanned $fB of $nFiles")
    val fAB = scanFiles(base
      .filter(col("user_id") === 10 && col("value").between(10.0, 12.0))
      .select(count(lit(1))))
    assert(fAB <= math.min(fA, fB),
      s"2-D box ($fAB) must not exceed either single-dim cut ($fA, $fB)")
    System.err.println(s"[zorder] files: all=$all user=$fA value=$fB box=$fAB")
  }

  test("single-sorted counterexample: the second column's footer ranges prune nothing") {
    val s = spark.newSession()
    SegmentPruning.register(s, sortedDir, "user_id")
    SegmentPruning.register(s, sortedDir, "value")
    val base = s.read.parquet(sortedDir)
    // sorted on user_id: value ranges per file ~ full domain (a couple of
    // small edge files can still clip by luck — near-zero selectivity, not
    // the z-order's ~sqrt cut)
    val fB = scanFiles(base.filter(col("value").between(10.0, 12.0)).select(count(lit(1))))
    assert(fB >= nFiles - 2L,
      s"a user_id-sorted layout should barely prune on value (got $fB of $nFiles)")
    // while user_id itself prunes tightly (disjoint stripes)
    val fA = scanFiles(base.filter(col("user_id") === 10).select(count(lit(1))))
    assert(fA <= 2)
  }
}
