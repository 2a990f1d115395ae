package graft

import graft.expressions.ThetaSketch._
import graft.expressions.ThetaOps
import org.apache.spark.sql.functions._

/** Real theta-sketch set algebra (Pinot DISTINCT_COUNT_THETA_SKETCH):
  * mergeability across partitions, persistable sketch columns whose STORED
  * state supports later intersection (the thing HLL cannot do), nested
  * ≥3-way set expressions in genuine sampling mode, and the SQL aliases. */
class ThetaSketchSpec extends GraftSuite {
  import spark.implicits._

  test("sketch estimates are exact below 2^lgK and merge across partitions") {
    // 1000 distinct ids scattered over 8 partitions: per-partition partial
    // sketches merge into one whose estimate is exact (θ=1, no sampling)
    val df = spark.range(0, 5000, 1, 8).select((col("id") % 1000).as("v"))
    val est = df.agg(thetaEstimate(thetaSketchAgg(col("v"))).as("e"))
      .as[Long].head()
    assert(est === 1000L)
  }

  test("sampling mode: 50k distinct at lgK=12 stays within 5%") {
    val n = 50000L
    val df = spark.range(0, n, 1, 8).select(col("id").as("v"))
    val est = df.agg(thetaEstimate(thetaSketchAgg(col("v"))).as("e"))
      .as[Long].head()
    assert(math.abs(est - n).toDouble / n <= 0.05, s"estimate $est vs exact $n")
  }

  test("stored sketch columns intersect later — the capability HLL lacks") {
    // per-group sketches persisted to parquet, read back, then INTERSECTED:
    // groups 0 and 1 share exactly ids [2000, 6000)
    val dir = tempDir("graft-theta")
    val rows = spark.range(0, 6000).select(lit(0).as("g"), col("id").as("v"))
      .union(spark.range(2000, 8000).select(lit(1).as("g"), col("id").as("v")))
    rows.groupBy(col("g")).agg(thetaSketchAgg(col("v"), lgK = 14).as("sk"))
      .write.mode("overwrite").parquet(s"$dir/sketches")

    val stored = spark.read.parquet(s"$dir/sketches")
    val both = stored.agg(collect_list(struct(col("g"), col("sk"))).as("l"))
      .select(
        thetaEstimate(element_at(map_from_entries(col("l")), 0)).as("e0"),
        thetaEstimate(element_at(map_from_entries(col("l")), 1)).as("e1"),
        thetaEstimate(thetaIntersect(
          element_at(map_from_entries(col("l")), 0),
          element_at(map_from_entries(col("l")), 1))).as("shared"))
      .as[(Long, Long, Long)].head()
    assert(both._1 === 6000L && both._2 === 6000L,
      "lgK=14 holds 6000 entries exactly")
    assert(both._3 === 4000L, "stored-column intersection is exact below k")

    // theta_union_agg re-merges the stored column (rollup pattern); the
    // union buffer's lgK must match the stored sketches' (a smaller buffer
    // resamples to its own k — correct, but approximate)
    val union = stored.agg(thetaEstimate(thetaUnionAgg(col("sk"), lgK = 14)).as("u"))
      .as[Long].head()
    assert(union === 8000L)
  }

  test("nested 3-way expression matches exact set algebra below k") {
    // A=[0,300) B=[200,500) C=[250,600): (A∩B)∖C = [200,250) → 50,
    // (A∪B)∩C = [250,500) → 250, A∪B∪C = [0,600) → 600
    val df = Seq.tabulate(300)(i => ("A", i.toLong))
      .++(Seq.tabulate(300)(i => ("B", 200L + i)))
      .++(Seq.tabulate(350)(i => ("C", 250L + i)))
      .toDF("s", "v")
    val sk = df.agg(
      thetaSketchAgg(when(col("s") === "A", col("v"))).as("sa"),
      thetaSketchAgg(when(col("s") === "B", col("v"))).as("sb"),
      thetaSketchAgg(when(col("s") === "C", col("v"))).as("sc"))
    val got = sk.select(
      thetaEstimate(thetaANotB(thetaIntersect(col("sa"), col("sb")), col("sc"))).as("x"),
      thetaEstimate(thetaIntersect(thetaUnion(col("sa"), col("sb")), col("sc"))).as("y"),
      thetaEstimate(thetaUnion(thetaUnion(col("sa"), col("sb")), col("sc"))).as("z"))
      .as[(Long, Long, Long)].head()
    assert(got === ((50L, 250L, 600L)))
  }

  test("kernel-level merge is order-independent") {
    val a = {
      val u = org.apache.datasketches.theta.SetOperation.builder().buildUnion()
      (0L until 1000L).foreach(u.update); u.getResult.toByteArray
    }
    val b = {
      val u = org.apache.datasketches.theta.SetOperation.builder().buildUnion()
      (500L until 1500L).foreach(u.update); u.getResult.toByteArray
    }
    assert(ThetaOps.estimate(ThetaOps.union(a, b)) ===
      ThetaOps.estimate(ThetaOps.union(b, a)))
    assert(ThetaOps.estimate(ThetaOps.union(a, b)) === 1500L)
    assert(ThetaOps.estimate(ThetaOps.intersect(a, b)) === 500L)
    assert(ThetaOps.estimate(ThetaOps.aNotB(a, b)) === 500L)
  }

  test("SQL aliases: DISTINCTCOUNTTHETASKETCH + stored-sketch algebra") {
    val s = spark.newSession()
    PinotFunctions.register(s)
    import s.implicits._
    Seq.tabulate(400)(i => ("x", i % 100)).toDF("k", "v")
      .createOrReplaceTempView("theta_t")
    val est = s.sql("SELECT DISTINCTCOUNTTHETASKETCH(v) AS e FROM theta_t")
      .as[Long].head()
    assert(est === 100L)
    val nested = s.sql(
      """SELECT THETASKETCHESTIMATE(THETASKETCHINTERSECT(
        |  DISTINCTCOUNTRAWTHETASKETCH(CASE WHEN v < 60 THEN v END),
        |  DISTINCTCOUNTRAWTHETASKETCH(CASE WHEN v >= 40 THEN v END))) AS e
        |FROM theta_t""".stripMargin).as[Long].head()
    assert(nested === 20L)
  }
}
