package graft

import graft.plans.StarTree
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Star-tree index analog (plans/StarTree): materialized rollup + Catalyst
  * routing rule. Proves (1) value-identical results for every decomposable
  * aggregate shape incl. null dims/metrics and empty inputs, (2) the plan
  * actually scans the rollup (the 100 TB scan-reduction evidence), (3) the
  * rule never fires on non-decomposable queries or unregistered sessions. */
class StarTreeSpec extends GraftSuite {

  // rollups of this suite's own temp facts are keyed on paths no later run
  // reuses: delete them with the facts
  private val tempRollups = scala.collection.mutable.Set.empty[String]

  override def afterAll(): Unit =
    try tempRollups.foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    finally super.afterAll()

  private lazy val factPath: String = {
    val dir = tempDir("graft_st_fact")
    val out = s"$dir/fact.parquet"
    import spark.implicits._
    // planted: null dim, null metrics, duplicate dim combos
    Seq(
      ("a", "x", Some(1), 10.0),
      ("a", "x", Some(3), 30.0),
      ("a", "y", None, 20.0),
      ("b", "x", Some(5), 50.0),
      ("b", null, Some(7), 70.0),
      (null, "y", Some(9), 90.0),
      (null, "y", None, 110.0))
      .toDF("d1", "d2", "m1o", "m2")
      .withColumn("m1", col("m1o").cast("int")).drop("m1o")
      .write.mode("overwrite").parquet(out)
    out
  }

  private def routed(): SparkSession = {
    val s = spark.newSession()
    tempRollups +=
      StarTree.register(s, factPath, dims = Seq("d1", "d2"), metrics = Seq("m1", "m2")).rollupPath
    s
  }

  private def aggShape(s: SparkSession) = {
    val f = s.read.parquet(factPath)
    f.filter(col("d2") =!= "zzz" || col("d2").isNull) // dim-only filter (keeps null-d2 rows out, like raw)
      .groupBy(col("d1"))
      .agg(
        count(lit(1)).as("cnt"),
        count(col("m1")).as("cnt_m1"),
        sum(col("m1")).as("sum_m1"),
        sum(col("m2")).as("sum_m2"),
        min(col("m2")).as("min_m2"),
        max(col("m2")).as("max_m2"),
        avg(col("m1")).as("avg_m1"),
        count(col("d2")).as("cnt_d2"),
        min(col("d2")).as("min_d2"))
      .orderBy(col("d1"))
  }

  test("routed aggregate scans the rollup and matches the raw-scan results exactly") {
    val s = routed()
    val df = aggShape(s)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_startree_"), s"expected rollup scan in:\n$plan")
    assert(!plan.contains("fact.parquet"), s"fact must not be scanned:\n$plan")

    val raw = aggShape(spark) // plain session: no rule, raw scan
    assert(df.collect().toSeq === raw.collect().toSeq)
  }

  test("subset grouping and global (no group-by) aggregates route and match") {
    val s = routed()
    val global = s.read.parquet(factPath)
      .agg(count(lit(1)).as("cnt"), sum("m1").as("s1"), avg("m2").as("a2"))
    assert(global.queryExecution.executedPlan.toString.contains("graft_startree_"))
    val globalRaw = spark.read.parquet(factPath)
      .agg(count(lit(1)).as("cnt"), sum("m1").as("s1"), avg("m2").as("a2"))
    assert(global.collect().toSeq === globalRaw.collect().toSeq)

    // filter that eliminates every row: COUNT must still be 0, sums null
    val empty = s.read.parquet(factPath).filter(col("d1") === "nope")
      .agg(count(lit(1)).as("cnt"), sum("m1").as("s1"))
    assert(empty.queryExecution.executedPlan.toString.contains("graft_startree_"))
    val r = empty.collect()(0)
    assert(r.getLong(0) === 0L && r.isNullAt(1))
  }

  test("non-decomposable shapes fall back to the fact scan") {
    val s = routed()
    // DISTINCT aggregate
    val d = s.read.parquet(factPath).groupBy("d1").agg(countDistinct("m1"))
    assert(!d.queryExecution.executedPlan.toString.contains("graft_startree_"))
    // filter touching a metric column
    val f = s.read.parquet(factPath).filter(col("m2") > 20)
      .groupBy("d1").agg(sum("m1"))
    assert(!f.queryExecution.executedPlan.toString.contains("graft_startree_"))
    // grouping by a metric
    val g = s.read.parquet(factPath).groupBy("m1").agg(count(lit(1)))
    assert(!g.queryExecution.executedPlan.toString.contains("graft_startree_"))
    // FILTER clause on the aggregate
    val fc = s.read.parquet(factPath).groupBy("d1")
      .agg(expr("sum(m1) FILTER (WHERE m2 > 20)"))
    assert(!fc.queryExecution.executedPlan.toString.contains("graft_startree_"))
  }

  test("sessions that did not register stay on the raw scan (conf isolation)") {
    routed() // the route lives in that session only
    val other = spark.newSession() // the session's rules present, no routes
    val df = other.read.parquet(factPath).groupBy("d1").agg(sum("m1"))
    assert(!df.queryExecution.executedPlan.toString.contains("graft_startree_"))
  }

  test("two sessions routing different rollups of one fact both stay routed") {
    val a = routed() // dims (d1, d2), metrics (m1, m2)
    val b = spark.newSession()
    tempRollups +=
      StarTree.register(b, factPath, dims = Seq("d2"), metrics = Seq("m2")).rollupPath
    def byD1(x: SparkSession) =
      x.read.parquet(factPath).groupBy("d1").agg(sum("m1").as("s1")).orderBy("d1")
    def byD2(x: SparkSession) =
      x.read.parquet(factPath).groupBy("d2").agg(max("m2").as("x2")).orderBy("d2")
    for ((s, shape) <- Seq[(SparkSession, SparkSession => DataFrame)](a -> byD1, b -> byD2)) {
      val df = shape(s)
      assert(df.queryExecution.executedPlan.toString.contains("graft_startree_"),
        s"a later registration on the same fact un-routed this session:\n${df.queryExecution.executedPlan}")
      assert(df.collect().toSeq === shape(spark).collect().toSeq)
    }
  }

  test("a rewritten fact is never served from a rollup of its old data") {
    val path = tempDir("graft-st-rw") + "/fact"
    def write(n: Long): Unit = spark.range(0, n)
      .select((col("id") % 3).cast("string").as("d1"), col("id").as("m1"))
      .write.mode("overwrite").parquet(path)
    def shape(x: SparkSession) =
      x.read.parquet(path).groupBy("d1").agg(sum("m1").as("s")).orderBy("d1")
    def routes(df: DataFrame) = df.queryExecution.executedPlan.toString.contains("graft_startree_")
    val s = spark.newSession()
    def register(): Unit = tempRollups +=
      StarTree.register(s, path, dims = Seq("d1"), metrics = Seq("m1")).rollupPath

    write(30)
    register()
    assert(routes(shape(s)))
    write(60)
    assert(!routes(shape(s)), "routed to the rollup of the old data")
    assert(shape(s).collect().toSeq === shape(spark).collect().toSeq)
    register()
    assert(routes(shape(s)))
    assert(shape(s).collect().toSeq === shape(spark).collect().toSeq)
  }

  test("lineitem rollup: scan-size reduction and value parity on the declared query shape") {
    val s = spark.newSession()
    val li = s"$sfDir/lineitem.parquet"
    val spec = StarTree.register(s, li,
      dims = Seq("l_returnflag", "l_linestatus"), metrics = Seq("l_quantity", "l_extendedprice"))
    val factRows = s.read.parquet(li).count()
    val rollupRows = s.read.parquet(spec.rollupPath).count()
    assert(rollupRows < factRows / 10,
      s"rollup must be much smaller than the fact: $rollupRows vs $factRows")

    def shape(x: SparkSession) = x.read.parquet(li)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sq"),
        avg("l_quantity").as("aq"), max("l_extendedprice").as("mx"))
      .orderBy("l_returnflag", "l_linestatus")
    val routedDf = shape(s)
    assert(routedDf.queryExecution.executedPlan.toString.contains("graft_startree_"))
    val raw = shape(spark).collect().toSeq
    val viaRollup = routedDf.collect().toSeq
    // l_quantity is integral-valued double → sums exact in any association
    // order; counts/min/max exact → rows compare bit-equal
    assert(viaRollup === raw)
  }

  test("declared q_startree_rollup routes through the rollup") {
    val q = Registry.all.find(_.name == "q_startree_rollup").get
    val df = q.run(spark, sfDir)
    assert(df.queryExecution.executedPlan.toString.contains("graft_startree_"),
      "the declared query must be served by the star-tree rollup")
    assert(df.count() > 0)
  }

  test("sketch measures: hll/theta aggs route to union-merges of stored cells, bit-equal to raw") {
    import graft.expressions.ThetaSketch._
    // a fact whose distinct counts make every merge below checkable
    val path = tempDir("graft-st-sk") + "/fact"
    // 3 groups x 500 distinct u each (gcd(3,500)=1 => every residue appears)
    spark.range(0, 3000).select(
        (col("id") % 3).cast("string").as("d1"), (col("id") % 500).as("u"))
      .write.mode("overwrite").parquet(path)

    val s = spark.newSession()
    tempRollups +=
      StarTree.register(s, path, dims = Seq("d1"), metrics = Nil, sketchCols = Seq("u")).rollupPath

    def shape(x: SparkSession) = x.read.parquet(path)
      .groupBy("d1")
      .agg(
        hll_sketch_estimate(hll_sketch_agg(col("u"), lit(12))).as("hll"),
        thetaEstimate(thetaSketchAgg(col("u"))).as("theta"))
      .orderBy("d1")
    val routedDf = shape(s)
    assert(routedDf.queryExecution.executedPlan.toString.contains("graft_startree_"),
      "sketch aggregate must be served by the rollup")
    // HLL register-max and theta k-smallest merges are lossless at equal
    // lgK: merged-cell estimates must equal the single-pass raw estimates
    assert(routedDf.collect().toSeq === shape(spark).collect().toSeq)
    // and below 2^lgK theta is exact outright
    routedDf.collect().foreach(r => assert(r.getAs[Long]("theta") === 500L))

    // global (no group-by): a REAL multi-cell merge across all 3 cells —
    // distincts overlap completely, so a naive sum of cells (1500) would be
    // wrong; the union must answer 500
    val g = s.read.parquet(path)
      .agg(thetaEstimate(thetaSketchAgg(col("u"))).as("theta"),
        hll_sketch_estimate(hll_sketch_agg(col("u"), lit(12))).as("hll"))
    assert(g.queryExecution.executedPlan.toString.contains("graft_startree_"))
    assert(g.collect()(0).getAs[Long]("theta") === 500L)

    // lgK mismatch vetoes the rewrite (a different-k union would resample)
    val mismatch = s.read.parquet(path)
      .agg(hll_sketch_estimate(hll_sketch_agg(col("u"), lit(13))).as("hll"))
    assert(!mismatch.queryExecution.executedPlan.toString.contains("graft_startree_"))
  }

  test("declared q_startree_sketch routes through the rollup") {
    val q = Registry.all.find(_.name == "q_startree_sketch").get
    val df = q.run(spark, sfDir)
    // the est side routes; the exact side (DISTINCT) stays on the raw scan
    assert(df.queryExecution.executedPlan.toString.contains("graft_startree_"))
    assert(df.collect().forall(r =>
      r.getAs[Boolean]("hll_within_5pct") && r.getAs[Boolean]("theta_within_5pct")))
  }
}
