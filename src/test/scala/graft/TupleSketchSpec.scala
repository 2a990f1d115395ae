package graft

import graft.expressions.TupleSketch._
import graft.expressions.TupleOps
import org.apache.spark.sql.functions._

/** Integer-sum tuple sketches (Pinot DISTINCT_COUNT_TUPLE_SKETCH family):
  * exactness below 2^lgK with per-key value sums, mergeability across
  * partitions and stored cells, sampling-mode accuracy, and the
  * metric-carrying intersection (the capability theta/HLL lack). */
class TupleSketchSpec extends GraftSuite {
  import spark.implicits._

  test("distinct estimate and per-key sums are exact below 2^lgK, across partitions") {
    // 1000 distinct keys over 8 partitions, each key seen 5 times with
    // value=key: per-key sum = 5*key, total = 5 * sum(0..999)
    val df = spark.range(0, 5000, 1, 8)
      .select((col("id") % 1000).as("k"), (col("id") % 1000).cast("int").as("v"))
    val r = df.agg(
        tupleEstimate(tupleSketchAgg(col("k"), col("v"))).as("d"),
        tupleSumValues(tupleSketchAgg(col("k"), col("v"))).as("s"),
        tupleAvgValue(tupleSketchAgg(col("k"), col("v"))).as("a"))
      .as[(Long, Long, Double)].head()
    assert(r._1 === 1000L)
    assert(r._2 === 5L * (0L until 1000L).sum)
    assert(math.abs(r._3 - r._2.toDouble / 1000) < 1e-9)
  }

  test("sampling mode: 50k distinct at lgK=12 stays within 5% on count AND sum") {
    val n = 50000L
    val df = spark.range(0, n, 1, 8).select(col("id").as("k"), lit(2).as("v"))
    val r = df.agg(
        tupleEstimate(tupleSketchAgg(col("k"), col("v"), lgK = 12)).as("d"),
        tupleSumValues(tupleSketchAgg(col("k"), col("v"), lgK = 12)).as("s"))
      .as[(Long, Long)].head()
    assert(math.abs(r._1 - n).toDouble / n <= 0.05, s"distinct ${r._1} vs $n")
    assert(math.abs(r._2 - 2 * n).toDouble / (2 * n) <= 0.05, s"sum ${r._2} vs ${2 * n}")
  }

  test("stored cells union (values sum across cells) then intersect with summed summaries") {
    val dir = tempDir("graft-tuple")
    // group 0: keys [0,3000) value 1; group 1: keys [1000,4000) value 10;
    // key k appears in BOTH days of each group (values add across cells)
    val rows = spark.range(0, 6000).select(
        lit(0).as("g"), (col("id") % 3000).as("k"), lit(1).as("v"))
      .union(spark.range(0, 6000).select(
        lit(1).as("g"), (col("id") % 3000 + 1000).as("k"), lit(10).as("v")))
    rows.repartition(4).groupBy(col("g"))
      .agg(tupleSketchAgg(col("k"), col("v")).as("sk"))
      .write.mode("overwrite").parquet(s"$dir/sketches")

    val stored = spark.read.parquet(s"$dir/sketches")
    val m = stored.agg(collect_list(struct(col("g"), col("sk"))).as("l"))
      .select(map_from_entries(col("l")).as("m"))
    val r = m.select(
        tupleEstimate(element_at(col("m"), 0)).as("d0"),
        tupleSumValues(element_at(col("m"), 0)).as("s0"),
        tupleEstimate(tupleIntersect(element_at(col("m"), 0), element_at(col("m"), 1))).as("di"),
        tupleSumValues(tupleIntersect(element_at(col("m"), 0), element_at(col("m"), 1))).as("si"),
        tupleEstimate(tupleUnion(element_at(col("m"), 0), element_at(col("m"), 1))).as("du"))
      .as[(Long, Long, Long, Long, Long)].head()
    assert(r._1 === 3000L)
    assert(r._2 === 6000L, "each key seen twice at value 1")
    assert(r._3 === 2000L, "intersection keeps the shared [1000,3000) keys")
    // Sum mode: intersected summaries add the two sides' per-key sums (2 + 20)
    assert(r._4 === 2000L * 22)
    assert(r._5 === 4000L, "union spans [0,4000)")

    // tuple_union_agg over the stored column = the rollup merge path
    val u = stored.agg(
        tupleEstimate(tupleUnionAgg(col("sk"))).as("d"),
        tupleSumValues(tupleUnionAgg(col("sk"))).as("s"))
      .as[(Long, Long)].head()
    assert(u._1 === 4000L)
    assert(u._2 === 6000L + 60000L)
  }

  test("serialization roundtrip preserves estimate and sums") {
    val df = spark.range(0, 100).select(col("id").as("k"), lit(3).as("v"))
    val bytes = df.agg(tupleSketchAgg(col("k"), col("v")).as("sk"))
      .select(col("sk")).as[Array[Byte]].head()
    assert(TupleOps.estimate(bytes) === 100L)
    assert(TupleOps.sumValues(bytes) === 300L)
    assert(math.abs(TupleOps.avgValue(bytes) - 3.0) < 1e-9)
  }
}
