package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.plans.SegmentPruning
import graft.sources.{Fingerprint, SortedLayout, Tables}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, count, lit, row_number, sum}
import org.apache.spark.sql.internal.SQLConf

/** A repeated execution redoes none of the one-time work of the first: no
  * Janino compile, no Spark job while the query is built (relations,
  * child sessions and pruning manifests are reused), and every reuse still
  * follows a changed data version. A small global sort or unpartitioned
  * window runs in one partition (`plans.SmallSortRule`), without the
  * range-sampling and range-shuffle jobs, and a query over small
  * one-partition input plans no shuffle at all (`plans.OnePartitionRule`).
  * Incremental near-dup detection finds its candidates in one shuffle of
  * band rows and persists nothing. */
class WarmExecutionSpec extends GraftSuite {

  private def jobsOf[T](body: => T): (T, Int) = Bench.jobsOf(spark)(body)

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  for (name <- Seq("q_events_by_day", "q_idx_prune_zorder")) {
    test(s"a second execution of $name compiles nothing and builds without a job") {
      val q = SparkEntry.queries(name)
      val first = q(spark, sfDir).collect().toSeq
      val c0 = compiles
      val (df, buildJobs) = jobsOf(q(spark, sfDir))
      val second = df.collect().toSeq
      assert(compiles - c0 === 0L, "generated classes recompiled")
      assert(buildJobs === 0, "Spark jobs while the query was built")
      assert(second === first)
    }
  }

  test("a warm q_dedup_incremental runs at most 8 jobs and builds without a cache entry") {
    // sf0.01: 50 batch docs against 450 corpus docs
    val dir = sfDir.stripSuffix("sf0.001") + "sf0.01"
    val q = SparkEntry.queries("q_dedup_incremental")
    val first = q(spark, dir).collect().toSeq
    spark.catalog.clearCache()
    val df = q(spark, dir)
    assert(spark.sharedState.cacheManager.isEmpty, "building the query persisted a frame")
    val (rows, jobs) = jobsOf(df.collect().toSeq)
    assert(jobs <= 8, s"$jobs jobs:\n${finalPlan(df)}")
    assert(rows === first)
  }

  test("two Tables.t reads of one table still self-join") {
    val a = Tables.t(spark, sfDir, "orders")
    val b = Tables.t(spark, sfDir, "orders")
    val path = s"$sfDir/orders.parquet"
    val x = spark.read.parquet(path)
    val y = spark.read.parquet(path)
    val expected = x.join(y, x("o_orderkey") === y("o_orderkey")).count()
    assert(expected > 0)
    assert(a.join(b, a("o_orderkey") === b("o_orderkey")).count() === expected)
  }

  test("a rewritten fixture is read again by Tables.t and registerViews") {
    val dir = tempDir("fixtures")
    Tables.all.foreach { n =>
      Files.copy(new File(s"$sfDir/$n.parquet").toPath, new File(s"$dir/$n.parquet").toPath)
    }
    val s = spark.newSession()
    val n0 = Tables.t(spark, dir, "orders").count()
    Tables.registerViews(s, dir)
    assert(s.sql("SELECT count(*) FROM orders").head().getLong(0) === n0)

    val staged = tempDir("staged")
    spark.read.parquet(s"$sfDir/orders.parquet").limit(7).coalesce(1)
      .write.mode("overwrite").parquet(staged)
    val part = new File(staged).listFiles.filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, new File(s"$dir/orders.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)

    assert(Tables.t(spark, dir, "orders").count() === 7L)
    Tables.registerViews(s, dir)
    assert(s.sql("SELECT count(*) FROM orders").head().getLong(0) === 7L)
  }

  test("a repeated SegmentPruning.register opens no footer; a rewritten dir is read again") {
    val dir = tempDir("sorted")
    SortedLayout.write(spark.range(0, 400).toDF("k"), dir, "k", 4)
    val s = spark.newSession()
    val first = SegmentPruning.register(s, dir, "k")
    // zero every file but keep its name, length and mtime: the data version
    // is unchanged, so a footer open would now throw
    val version = Fingerprint.of(dir)
    new File(dir).listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
      val mtime = f.lastModified
      Files.write(f.toPath, new Array[Byte](f.length.toInt))
      assert(f.setLastModified(mtime))
    }
    assert(Fingerprint.of(dir) === version)
    assert(SegmentPruning.register(s, dir, "k") eq first)

    SortedLayout.write(spark.range(1000, 1400).toDF("k"), dir, "k", 4)
    val again = SegmentPruning.register(s, dir, "k")
    assert(again ne first)
    assert(again.ranges.map(_.min.asInstanceOf[java.lang.Long].longValue).min === 1000L)
    assert(Tables.read(s, dir).filter(col("k") < 1100).count() === 100L)
  }

  test("a warm q_events_by_day runs as one job with no exchange") {
    val q = SparkEntry.queries("q_events_by_day")
    val first = q(spark, sfDir).collect().toSeq
    val df = q(spark, sfDir)
    val (rows, jobs) = jobsOf(df.collect().toSeq)
    assert(jobs === 1, s"jobs:\n${finalPlan(df)}")
    assert(!finalPlan(df).contains("Exchange"), finalPlan(df))
    assert(rows === first)
  }

  for (name <- Seq("q_sql_lateral", "q_sketch_hll"))
    test(s"a warm $name sorts its join without a range exchange") {
      val q = SparkEntry.queries(name)
      val first = q(spark, sfDir).collect().toSeq
      val df = q(spark, sfDir)
      assert(df.collect().toSeq === first)
      assert(!finalPlan(df).contains("rangepartitioning"), finalPlan(df))
    }

  test("input above AQE's one-partition size keeps its hash and range exchanges") {
    val key = SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE.key
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "1b")
    try {
      val df = SparkEntry.queries("q_events_by_day")(spark, sfDir)
      df.collect()
      assert(finalPlan(df).contains("rangepartitioning"), finalPlan(df))
      assert(finalPlan(df).contains("hashpartitioning"), finalPlan(df))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a one-partition sort over many duplicate keys keeps every row, in key order") {
    // 20,000 ids in 500 groups of 40; 7 sort keys, so each repeats ~71 times
    val df = spark.range(0, 20000)
      .groupBy((col("id") % 500).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
      .withColumn("k", col("g") % 7)
      .orderBy(col("k"))
    val rows = df.collect().toSeq
    assert(!finalPlan(df).contains("rangepartitioning"), finalPlan(df))
    val keys = rows.map(_.getAs[Long]("k"))
    assert(keys.zip(keys.drop(1)).forall { case (a, b) => a <= b }, "keys out of order")
    val got = rows.map(r => (r.getAs[Long]("g"), r.getAs[Long]("n"), r.getAs[Long]("s"))).sorted
    val expected = (0L until 500L).map(g => (g, 40L, 40L * g + 500L * (0L until 40L).sum))
    assert(got === expected)
  }

  test("a Graft.child session sorts small input in one partition too") {
    val child = Graft.child(spark, "warm-execution small sort")(_ => ())
    val df = child.range(0, 1000).groupBy((col("id") % 10).as("g")).count().orderBy(col("g"))
    assert(df.collect().map(_.getLong(0)).toSeq === (0L until 10L))
    assert(!finalPlan(df).contains("rangepartitioning"), finalPlan(df))
  }

  test("a global window over a small aggregate plans no SinglePartition exchange") {
    val agg = spark.range(0, 1000).groupBy((col("id") % 50).as("g")).agg(sum(col("id")).as("s"))
    val ranked = agg.withColumn("r", row_number().over(Window.orderBy(col("s").desc)))
    // the whole ranking, and a top-5 that plans a WindowGroupLimit under it
    for ((df, n) <- Seq(ranked -> 50, ranked.filter(col("r") <= 5) -> 5)) {
      val rows = df.collect()
      assert(!finalPlan(df).contains("SinglePartition"), finalPlan(df))
      assert(rows.map(_.getAs[Int]("r")).sorted.toSeq === (1 to n))
      // s = 20 * g + 50 * (0 + ... + 19) grows with g: rank 1 is g = 49
      assert(rows.forall(r => r.getAs[Long]("g") === 50L - r.getAs[Int]("r")))
    }
  }
}
