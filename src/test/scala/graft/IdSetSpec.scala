package graft

import graft.expressions.IdSetCodec
import graft.ops.IdSet
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Pinot IdSet pair (ID_SET / IN_ID_SET): varint codec fidelity, the
  * cross-query round trip against a semi-join, and the SQL-registered
  * spellings on a Pinot-mode session. */
class IdSetSpec extends GraftSuite {

  test("codec round-trips sorted ids, negatives, empty, singletons") {
    val cases = Seq(
      Array.empty[Long],
      Array(0L),
      Array(-5L),
      Array(Long.MinValue, -1L, 0L, 1L, Long.MaxValue),
      (0L until 1000L).map(_ * 7 - 300).toArray)
    cases.foreach { ids =>
      val s = IdSetCodec.serialize(ids)
      assert(IdSetCodec.deserialize(s).toSeq === ids.toSeq, s"case ${ids.take(5).toSeq}")
    }
    // compactness: 1000 dense ids ≈ 2 bytes each once varint+base64'd
    val dense = IdSetCodec.serialize((100000L until 101000L).toArray)
    assert(dense.length < 3000, s"expected compact encoding, got ${dense.length} chars")
  }

  test("ID_SET round trip filters like the semi-join, with codegen membership") {
    val ev = Tables.t(spark, sfDir, "events")
    val purchasers = IdSet.of(ev.filter(col("event_type") === "purchase"), "user_id")
    assert(IdSet.decode(purchasers).length ===
      ev.filter(col("event_type") === "purchase").select("user_id").distinct().count())

    val viaIdSet = ev.filter(col("event_type") === "view" &&
        IdSet.inIdSet(col("user_id"), purchasers))
      .count()
    val viaJoin = ev.filter(col("event_type") === "view")
      .join(ev.filter(col("event_type") === "purchase").select("user_id").distinct(),
        "user_id")
      .count()
    assert(viaIdSet === viaJoin)
    assert(viaIdSet > 0)
  }

  test("SQL surface: ID_SET aggregates, IN_ID_SET filters by the literal") {
    val s = spark.newSession()
    PinotFunctions.register(s)
    Tables.registerViews(s, sfDir)
    val set = s.sql(
      "SELECT ID_SET(user_id) AS ids FROM events WHERE event_type = 'purchase'")
      .head().getString(0)
    val n = s.sql(
      s"SELECT count(*) AS n FROM events WHERE event_type = 'view' AND IN_ID_SET(user_id, '$set')")
      .head().getLong(0)
    val expected = s.sql(
      """SELECT count(*) FROM events
        |WHERE event_type = 'view'
        |  AND user_id IN (SELECT user_id FROM events WHERE event_type = 'purchase')""".stripMargin)
      .head().getLong(0)
    assert(n === expected)
  }

  test("IN_SUBQUERY executes the inner query broker-style, one round trip") {
    val s = spark.newSession()
    PinotFunctions.register(s)
    Tables.registerViews(s, sfDir)
    val n = s.sql(
      """SELECT count(*) AS n FROM events
        |WHERE event_type = 'view'
        |  AND IN_SUBQUERY(user_id,
        |    'SELECT IDSET(user_id) FROM events WHERE event_type = ''purchase''')""".stripMargin)
      .head().getLong(0)
    val expected = s.sql(
      """SELECT count(*) FROM events
        |WHERE event_type = 'view'
        |  AND user_id IN (SELECT user_id FROM events WHERE event_type = 'purchase')""".stripMargin)
      .head().getLong(0)
    assert(n === expected)
    // non-literal inner query errors loudly
    val e = intercept[Exception](
      s.sql("SELECT IN_SUBQUERY(user_id, event_type) FROM events").collect())
    assert(e.getMessage.contains("string literal")
      || Option(e.getCause).exists(_.getMessage.contains("string literal")))
  }

  test("IN_SUBQUERY refuses an over-budget IdSet with semi-join guidance") {
    val s = spark.newSession()
    PinotFunctions.register(s)
    Tables.registerViews(s, sfDir)
    val q =
      """SELECT count(*) AS n FROM events
        |WHERE IN_SUBQUERY(user_id, 'SELECT IDSET(user_id) FROM events')""".stripMargin
    // tiny budget: the all-users IdSet cannot fit
    s.conf.set("graft.pinot.inSubqueryMaxBytes", "16")
    val e = intercept[Exception](s.sql(q).collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("semi-join")), msgs(e).mkString("; "))
    // under budget: same query succeeds unchanged
    s.conf.set("graft.pinot.inSubqueryMaxBytes",
      PinotFunctions.DefaultInSubqueryMaxBytes.toString)
    assert(s.sql(q).head().getLong(0) > 0)
  }

  test("IN_SUBQUERY memoizes per (session, sql): EXPLAIN does not re-run the inner query") {
    val s = spark.newSession()
    PinotFunctions.register(s)
    Tables.registerViews(s, sfDir)
    // first run populates the memo
    val q =
      """SELECT count(*) AS n FROM events
        |WHERE event_type = 'view'
        |  AND IN_SUBQUERY(user_id,
        |    'SELECT IDSET(user_id) FROM events WHERE event_type = ''purchase''')""".stripMargin
    val first = s.sql(q).head().getLong(0)
    // count Spark jobs triggered by a re-analysis (EXPLAIN-shaped): with the
    // memo warm, resolving IN_SUBQUERY again must launch ZERO jobs for the
    // inner query.
    val sc = s.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      s.sql(q).queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      Thread.sleep(1500) // listener bus is async; give events time to drain
      assert(jobs.get() === 0, "EXPLAIN after memo warm must not launch inner-query jobs")
    } finally sc.removeSparkListener(listener)
    // memoized result still answers correctly
    assert(s.sql(q).head().getLong(0) === first)
  }

  test("IN_SUBQUERY memo follows its inputs: a rewritten table yields the new ids") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import spark.implicits._
    // the shared fixtures, except nation: a one-file table this test rewrites
    val dir = tempDir("fixtures")
    Tables.all.filterNot(_ == "nation").foreach { n =>
      Files.createSymbolicLink(Paths.get(dir, s"$n.parquet"), Paths.get(sfDir, s"$n.parquet"))
    }
    def writeNation(ids: Seq[Long]): Unit = {
      val out = tempDir("nation")
      ids.toDF("n_nationkey").coalesce(1).write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles.filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(dir, "nation.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    val s = spark.newSession()
    PinotFunctions.register(s)
    val q =
      """SELECT r_regionkey FROM region
        |WHERE IN_SUBQUERY(CAST(r_regionkey AS BIGINT), 'SELECT IDSET(n_nationkey) FROM nation')
        |ORDER BY r_regionkey""".stripMargin
    def ids(): Seq[Int] = s.sql(q).collect().map(_.getInt(0)).toSeq
    writeNation(Seq(0L, 1L))
    Tables.registerViews(s, dir)
    assert(ids() === Seq(0, 1))
    writeNation(Seq(2L, 3L, 4L))
    Tables.registerViews(s, dir)
    assert(ids() === Seq(2, 3, 4), "the memo must not serve the IdSet of the old file")
  }
}
