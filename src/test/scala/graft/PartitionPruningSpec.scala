package graft

import graft.sources.Tables
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Segment-pruning analogue (SURVEY.md §4 row 1): day-partitioned parquet +
  * a time predicate must scan only the matching partitions — the engine's
  * version of "broker ... optimizes segment pruning" (`README.md:22`), and
  * the mechanism that bounds retention queries at 100 TB (SCALE.md). */
class PartitionPruningSpec extends GraftSuite {

  test("time predicate prunes day partitions from the scan") {
    val dir = tempDir("graft-part")
    val ev = Tables.t(spark, sfDir, "events")
      .withColumn("dt", date_trunc("day", col("ts")).cast("date"))
    ev.write.mode("overwrite").partitionBy("dt").parquet(dir)
    val nDays = ev.select("dt").distinct().count()

    val pruned = spark.read.parquet(dir)
      .filter(col("dt") === lit("2024-01-02").cast("date"))
    pruned.collect() // execute THIS QueryExecution so its scan metrics populate
    // physical evidence: the scan's numFiles metric counts only the matching
    // partition's files (inputFiles would report the whole relation)
    val finalPlan = pruned.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = finalPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val scannedFiles = scan.metrics("numFiles").value
    val dayFiles = new java.io.File(dir, "dt=2024-01-02")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val allFiles = spark.read.parquet(dir).inputFiles.length
    assert(scannedFiles === dayFiles.toLong)
    assert(scannedFiles < allFiles)
    assert(scan.metadata("PartitionFilters").contains("dt"),
      s"no partition filter in scan: ${scan.metadata("PartitionFilters")}")
    assert(nDays > 1)

    // partition drop = retention enforcement: deleting one day's directory
    // removes exactly that day's rows
    val before = spark.read.parquet(dir).count()
    val dropDay = ev.filter(col("dt") === lit("2024-01-01").cast("date")).count()
    val dayDir = new java.io.File(dir, "dt=2024-01-01")
    dayDir.listFiles().foreach(_.delete())
    dayDir.delete()
    assert(spark.read.parquet(dir).count() === before - dropDay)
  }
}
