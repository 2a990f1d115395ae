package graft

import graft.catalog.TableSpec
import graft.sources.{SortedLayout, Tables}
import org.apache.spark.sql.functions._

/** Pinot tableIndexConfig → engine index wiring (TableSpec.applyIndexConfig):
  * a user's own table config turns on transparent broker-style pruning, and
  * every index family in the config is either registered or explicitly
  * mapped to its Spark-native analog — nothing disappears silently.
  */
class TableIndexConfigSpec extends GraftSuite {

  private val cfg =
    """{
      |  "tableName": "events_idx",
      |  "tableType": "OFFLINE",
      |  "tableIndexConfig": {
      |    "sortedColumn": ["user_id"],
      |    "invertedIndexColumns": ["event_type"],
      |    "rangeIndexColumns": ["value"],
      |    "noDictionaryColumns": ["props"]
      |  }
      |}""".stripMargin

  test("sortedColumn from the config registers footer-range pruning") {
    val dir = tempDir("graft-idxcfg")
    val ev = Tables.t(spark, sfDir, "events").select("event_id", "user_id", "value")
    SortedLayout.write(ev, dir, "user_id", nFiles = 8)

    val s2 = spark.newSession()
    val applied = TableSpec.applyIndexConfig(s2, cfg, dir)
    assert(applied.sorted === Some("user_id"))
    assert(applied.blooms.isEmpty && applied.partitioned.isEmpty)
    // families without a registration are explicitly mapped, not dropped
    assert(applied.analog.keySet ===
      Set("invertedIndexColumns", "rangeIndexColumns", "noDictionaryColumns"))

    val probe = ev.agg(min(col("user_id"))).collect()(0).getLong(0)
    val pruned = scanFiles(
      s2.read.parquet(dir).filter(col("user_id") === probe))
    assert(pruned <= 2L, s"registered session should prune, scanned $pruned")
    val full = scanFiles(
      spark.newSession().read.parquet(dir).filter(col("user_id") === probe))
    assert(full === 8L, s"unregistered session scans all, got $full")
  }

  test("sortedColumn + bloomFilterColumns register together; decisions intersect") {
    import spark.implicits._
    val dir = tempDir("graft-idxcfg-both")
    // k sorts the layout (8 range files); v = (k/100)%4 puts each v value
    // in exactly TWO files, so a (range ∧ equality) conjunction prunes
    // strictly tighter than either decision alone
    val df = (0L until 800L).map(i => (i, (i / 100) % 4, i * 2.0)).toDF("k", "v", "x")
    SortedLayout.write(df, dir, "k", nFiles = 8)
    val s2 = spark.newSession()
    val applied = TableSpec.applyIndexConfig(s2,
      """{"tableIndexConfig": {"sortedColumn": ["k"], "bloomFilterColumns": ["v"]}}""",
      dir)
    assert(applied.sorted === Some("k") && applied.blooms === Seq("v"))

    val rangeOnly = scanFiles(s2.read.parquet(dir).filter(col("k") <= 399L))
    assert(rangeOnly === 4L, s"range decision should keep 4 of 8, got $rangeOnly")
    val bloomOnly = scanFiles(s2.read.parquet(dir).filter(col("v") === 1L))
    assert(bloomOnly === 2L, s"bloom decision should keep 2 of 8, got $bloomOnly")
    val both = s2.read.parquet(dir).filter(col("k") <= 399L && col("v") === 1L)
    assert(scanFiles(both) === 1L, "intersection must beat both single decisions")
    // and the pruned answer is the full answer
    assert(both.count() ===
      spark.newSession().read.parquet(dir)
        .filter(col("k") <= 399L && col("v") === 1L).count())
  }

  test("bloomFilterColumns registers point-lookup pruning when nothing sorts") {
    val dir = tempDir("graft-idxcfg-bloom")
    val ev = Tables.t(spark, sfDir, "events").select("event_id", "user_id")
    graft.sources.BloomLayout.write(ev, dir, "user_id", nFiles = 4)
    val s2 = spark.newSession()
    val applied = TableSpec.applyIndexConfig(s2,
      """{"tableIndexConfig": {"bloomFilterColumns": ["user_id"]}}""", dir)
    assert(applied.blooms === Seq("user_id"))
    val probe = ev.agg(min(col("user_id"))).collect()(0).getLong(0)
    val pruned = scanFiles(s2.read.parquet(dir).filter(col("user_id") === probe))
    assert(pruned < 4L, s"bloom should prune some files, scanned $pruned")
  }

  test("over-budget bloom is SKIPPED with a surfaced refusal, not an abort " +
      "(other families still register)") {
    val dir = tempDir("graft-idxcfg-refuse")
    val ev = Tables.t(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type")
    graft.sources.SortedLayout.write(ev, dir, "event_id", nFiles = 4)
    val s2 = spark.newSession()
    // 1-byte budget: the bloom manifest cannot fit, the sorted family must
    // still come up, and the refusal lands in the report map
    val applied = TableSpec.applyIndexConfig(s2,
      """{"tableIndexConfig": {"sortedColumn": ["event_id"],
        |  "bloomFilterColumns": ["user_id"]}}""".stripMargin,
      dir, bloomBudgetBytes = 1L)
    assert(applied.sorted === Some("event_id"))
    assert(applied.blooms.isEmpty, "refused bloom must not be reported as registered")
    val refusal = applied.analog.get("bloomFilterColumns/user_id")
    assert(refusal.exists(_.startsWith("REFUSED")), s"expected refusal entry, got $refusal")
    // the sorted manifest still prunes: point lookup touches < all files
    val probe = ev.agg(min(col("event_id"))).collect()(0).getLong(0)
    val pruned = scanFiles(s2.read.parquet(dir).filter(col("event_id") === probe))
    assert(pruned < 4L, s"sorted pruning should survive the bloom refusal, scanned $pruned")
  }

  test("the reference's own table config applies cleanly (no index families)") {
    // the reference's REALTIME table config, vendored as a test resource
    // (rebuilt from the line-cited facts in SURVEY.md §1, S2-S9, T1-T6)
    val in = Option(getClass.getResourceAsStream("/kinesisTableConfigFile.json"))
      .getOrElse(fail("test resource kinesisTableConfigFile.json is missing"))
    val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val dir = tempDir("graft-idxcfg-ref")
    Tables.t(spark, sfDir, "events").select("event_id", "user_id")
      .write.mode("overwrite").parquet(dir)
    val applied = TableSpec.applyIndexConfig(spark.newSession(), json, dir)
    assert(applied.sorted.isEmpty && applied.blooms.isEmpty)
  }
}
