package graft

import graft.expressions.CpcSketchApi._
import graft.expressions.FreqSketch._
import graft.expressions.KllSketch._
import graft.expressions.FreqOps
import org.apache.spark.sql.functions._

/** CPC distinct sketches, frequent-strings sketches, and KLL quantile
  * sketches (Pinot DISTINCT_COUNT_CPC_SKETCH / FREQUENT_STRINGS_SKETCH /
  * PERCENTILE_KLL): accuracy contracts, cross-partition merge, and the
  * stored-column rollup path for each. */
class MoreSketchesSpec extends GraftSuite {
  import spark.implicits._

  test("cpc: estimate within 5% at 50k distinct, across partitions") {
    val n = 50000L
    val est = spark.range(0, n, 1, 8)
      .agg(cpcEstimate(cpcSketchAgg(col("id"))).as("e")).as[Long].head()
    assert(math.abs(est - n).toDouble / n <= 0.05, s"estimate $est vs $n")
  }

  test("cpc: stored sketch columns union via cpc_union_agg") {
    val dir = tempDir("graft-cpc")
    // two overlapping stored cells: [0,6000) and [2000,8000)
    spark.range(0, 6000).select(lit(0).as("g"), col("id").as("v"))
      .union(spark.range(2000, 8000).select(lit(1).as("g"), col("id").as("v")))
      .groupBy(col("g")).agg(cpcSketchAgg(col("v")).as("sk"))
      .write.mode("overwrite").parquet(s"$dir/sketches")
    val est = spark.read.parquet(s"$dir/sketches")
      .agg(cpcEstimate(cpcUnionAgg(col("sk"))).as("e")).as[Long].head()
    assert(math.abs(est - 8000L).toDouble / 8000 <= 0.05, s"union estimate $est vs 8000")
  }

  test("cpc: scalar two-sketch union (native expression + Pinot spelling) " +
      "agrees with the aggregate union") {
    val a = spark.range(0, 6000).agg(cpcSketchAgg(col("id")).as("sk"))
      .as[Array[Byte]].head()
    val b = spark.range(2000, 8000).agg(cpcSketchAgg(col("id")).as("sk"))
      .as[Array[Byte]].head()
    // Column-API scalar union — now a codegen'd native expression
    val est = spark.range(1).select(
        cpcEstimate(cpcUnion(lit(a), lit(b))).as("e")).as[Long].head()
    assert(math.abs(est - 8000L).toDouble / 8000 <= 0.05, s"scalar union $est")
    // Pinot registry spelling on a compat session, same answer
    val p = spark.newSession()
    PinotFunctions.register(p)
    p.range(1).createOrReplaceTempView("one")
    val hexA = a.map("%02x".format(_)).mkString
    val hexB = b.map("%02x".format(_)).mkString
    val est2 = p.sql(
      s"""SELECT CPCSKETCHESTIMATE(CPCSKETCHUNION(unhex('$hexA'), unhex('$hexB'))) AS e
         |FROM one""".stripMargin).collect().head.getLong(0)
    assert(est2 === est, "registry spelling must hit the same kernel")
    // null propagation: the expression is null-safe like the family
    assert(spark.range(1).select(cpcUnion(lit(a), lit(null).cast("binary")))
      .collect().head.isNullAt(0))
  }

  test("freq: counts exact under map capacity, canonical topk, merge parity") {
    // 10 items with distinct planted frequencies over 8 partitions
    val df = spark.range(0, 5500, 1, 8)
      .select(concat(lit("item"), (floor(sqrt(col("id") / 55))).cast("int").cast("string")).as("s"))
    val bytes = df.agg(freqSketchAgg(col("s"), 64).as("sk"))
      .select(col("sk")).as[Array[Byte]].head()
    assert(FreqOps.maxError(bytes) === 0L, "under capacity => exact")
    val exact = df.groupBy(col("s")).count()
      .orderBy(col("count").desc, col("s").asc).limit(3)
      .as[(String, Long)].collect()
    val want = exact.map { case (s, c) => s"$s:$c" }.mkString("|")
    assert(FreqOps.topK(bytes, 3).toString === want)
  }

  test("freq: over-capacity keeps heavy hitters within the Misra-Gries bound") {
    // one heavy item (20% of stream) among 2000 light distinct items, map
    // capacity 64: the heavy item must survive with estimate within maxError
    val df = spark.range(0, 10000, 1, 8).select(
      when(col("id") % 5 === 0, lit("HEAVY"))
        .otherwise(concat(lit("light"), col("id").cast("string"))).as("s"))
    val bytes = df.agg(freqSketchAgg(col("s"), 64).as("sk"))
      .select(col("sk")).as[Array[Byte]].head()
    val err = FreqOps.maxError(bytes)
    assert(err > 0L, "over capacity => approximate")
    val top = FreqOps.topK(bytes, 1).toString
    assert(top.startsWith("HEAVY:"), s"heavy hitter lost: $top")
    val est = top.stripPrefix("HEAVY:").toLong
    assert(math.abs(est - 2000L) <= err, s"estimate $est not within $err of 2000")
  }

  test("freq: stored daily cells merge via freq_union_agg") {
    val dir = tempDir("graft-freq")
    // day 0: a x3, b x1; day 1: a x1, b x2 -> merged a:4, b:3
    Seq((0, "a"), (0, "a"), (0, "a"), (0, "b"), (1, "a"), (1, "b"), (1, "b"))
      .toDF("day", "s")
      .groupBy(col("day")).agg(freqSketchAgg(col("s"), 64).as("sk"))
      .write.mode("overwrite").parquet(s"$dir/cells")
    val merged = spark.read.parquet(s"$dir/cells")
      .agg(freqTopK(freqUnionAgg(col("sk"), 64), 2).as("t")).as[String].head()
    assert(merged === "a:4|b:3")
  }

  test("kll: quantiles within proven rank error of exact, and stored merge parity") {
    // uniform 0..99999: value at rank q ~= q*100000; k=400 => ~0.8% rank err
    val df = spark.range(0, 100000, 1, 8).select(col("id").cast("double").as("v"))
    val r = df.agg(
        kllQuantile(kllSketchAgg(col("v"), k = 400), 0.5).as("p50"),
        kllQuantile(kllSketchAgg(col("v"), k = 400), 0.99).as("p99"))
      .as[(Double, Double)].head()
    assert(math.abs(r._1 - 50000) / 100000 <= 0.01, s"p50 rank error: ${r._1}")
    assert(math.abs(r._2 - 99000) / 100000 <= 0.01, s"p99 rank error: ${r._2}")

    // stored per-group sketches merge to the same global quantile estimate
    val dir = tempDir("graft-kll")
    df.withColumn("g", col("v") % 4)
      .groupBy(col("g")).agg(kllSketchAgg(col("v"), k = 400).as("sk"))
      .write.mode("overwrite").parquet(s"$dir/cells")
    val merged = spark.read.parquet(s"$dir/cells")
      .agg(kllQuantile(kllMergeAgg(col("sk"), k = 400), 0.5).as("p50"))
      .as[Double].head()
    assert(math.abs(merged - 50000) / 100000 <= 0.01, s"merged p50: $merged")
  }
}
