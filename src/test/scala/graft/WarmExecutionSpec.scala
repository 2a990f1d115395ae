package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import graft.plans.SegmentPruning
import graft.sources.{Fingerprint, SortedLayout, Tables}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col

/** A repeated execution redoes none of the one-time work of the first: no
  * Janino compile, no Spark job while the query is built (relations,
  * child sessions and pruning manifests are reused), and every reuse still
  * follows a changed data version. */
class WarmExecutionSpec extends GraftSuite {

  private val Sentinel = "warm-execution-sentinel"

  /** Spark jobs `body` launches. The listener bus delivers in order, so
    * once a sentinel job run after `body` is seen, every job of `body` has
    * been counted. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = started.put(
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(Sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      var n = 0
      var d = started.poll(60, TimeUnit.SECONDS)
      while (d != Sentinel) {
        assert(d != null, "listener saw no sentinel job")
        n += 1
        d = started.poll(60, TimeUnit.SECONDS)
      }
      (out, n)
    } finally sc.removeSparkListener(listener)
  }

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
}
