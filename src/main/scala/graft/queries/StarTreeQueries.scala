package graft.queries

import graft.Q
import graft.plans.StarTree
import graft.sources.{Fingerprint, Tables}
import org.apache.spark.sql.functions._

/** Star-tree-index-served aggregations (plans/StarTree): Pinot's signature
  * pre-aggregation structure, re-expressed as a materialized rollup plus a
  * Catalyst routing rule. The declared queries are written against the RAW
  * lineitem scan — the rule transparently re-plans them onto the rollup
  * (StarTreeSpec asserts the plan actually switches), and the DuckDB oracle
  * runs the same SQL over the raw table, so the gate proves the routed
  * result is value-identical to the full scan.
  *
  * Like PinotFunctions, the star-tree session is a dedicated child session:
  * routes are per session (`plans.Routes`), so no other declared query can
  * be silently re-planned (a rollup re-associates double sums — harmless here because
  * the hashed metrics are exact: l_quantity is integral-valued, min/max and
  * counts are order-independent, and avg divides two exact values).
  */
object StarTreeQueries {

  /** The routed child of `spark` for `dir`'s lineitem, built once per fact
    * data version: the role names the fact's version, so a rewritten
    * fixture gets a new child and a rollup of the new data. */
  private def routedSession(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val fact = s"$dir/lineitem.parquet"
    graft.Graft.child(spark, s"startree ${Fingerprint.canon(fact)} ${Fingerprint.of(fact)}")(
      StarTree.register(_, fact,
        dims = Seq("l_returnflag", "l_linestatus"),
        metrics = Seq("l_quantity", "l_extendedprice"),
        sketchCols = Seq("l_partkey")))
  }

  /** Full-dimension grouping with a dimension filter: the star-tree's home
    * turf — every aggregate decomposes onto the rollup state. */
  private val starTreeRollup = Q(
    "q_startree_rollup",
    (spark, dir) => {
      val s = routedSession(spark, dir)
      Tables.t(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "R"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("cnt"),
          count(col("l_quantity")).as("cnt_qty"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(min(col("l_extendedprice")), 2).as("min_price"),
          round(max(col("l_extendedprice")), 2).as("max_price"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
            |       CAST(count(*) AS BIGINT) AS cnt,
            |       CAST(count(l_quantity) AS BIGINT) AS cnt_qty,
            |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
            |       round(CAST(avg(l_quantity) AS DOUBLE), 6) AS avg_qty,
            |       round(CAST(min(l_extendedprice) AS DOUBLE), 2) AS min_price,
            |       round(CAST(max(l_extendedprice) AS DOUBLE), 2) AS max_price
            |FROM lineitem
            |WHERE l_returnflag IN ('A', 'R')
            |GROUP BY l_returnflag, l_linestatus
            |ORDER BY l_returnflag, l_linestatus""".stripMargin))

  /** Subset grouping: the rollup holds (returnflag, linestatus) combinations;
    * grouping by linestatus alone re-aggregates rollup rows — the "one index
    * serves every dimension subset" property that makes a star-tree an index
    * rather than a cached query result. */
  private val starTreeSubset = Q(
    "q_startree_subset",
    (spark, dir) => {
      val s = routedSession(spark, dir)
      Tables.t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          count(lit(1)).as("cnt"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(avg(col("l_quantity")), 6).as("avg_qty"))
        .orderBy(col("l_linestatus"))
    },
    Some("""SELECT l_linestatus,
            |       CAST(count(*) AS BIGINT) AS cnt,
            |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
            |       round(CAST(avg(l_quantity) AS DOUBLE), 6) AS avg_qty
            |FROM lineitem
            |GROUP BY l_linestatus
            |ORDER BY l_linestatus""".stripMargin))

  /** Sketch measures — Pinot star-tree functionColumnPairs
    * (DISTINCTCOUNTHLL__l_partkey / DISTINCTCOUNTTHETASKETCH__l_partkey):
    * the rollup cells store one DataSketches HLL and one theta sketch per
    * (returnflag, linestatus) cell, and the sketch aggregates written
    * against the RAW scan are transparently rewritten to union-merges of
    * the stored state (StarTreeSpec asserts the plan switch AND that the
    * merged estimate is bit-identical to the raw-scan sketch — HLL
    * register-max and theta k-smallest merges are lossless at equal lgK).
    * Subset grouping (linestatus only) makes the union a real multi-cell
    * merge. Hard-oracle shape as q_sketch_hll: exact distincts hashed,
    * estimates through within-5% booleans. */
  private val starTreeSketch = Q(
    "q_startree_sketch",
    (spark, dir) => {
      import graft.expressions.ThetaSketch._
      val s = routedSession(spark, dir)
      val est = Tables.t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          hll_sketch_estimate(hll_sketch_agg(col("l_partkey"), lit(12))).as("hll_est"),
          thetaEstimate(thetaSketchAgg(col("l_partkey"))).as("theta_est"))
      val exact = Tables.t(s, dir, "lineitem")
        .select(col("l_linestatus"), col("l_partkey")).distinct()
        .groupBy(col("l_linestatus")).agg(count(lit(1)).as("exact_parts"))
      def within(estC: String, tol: Double) =
        abs(col(estC).cast("double") - col("exact_parts").cast("double")) /
          col("exact_parts").cast("double") <= tol
      exact.join(est, Seq("l_linestatus"))
        .select(
          col("l_linestatus"), col("exact_parts"),
          within("hll_est", 0.05).as("hll_within_5pct"),
          within("theta_est", 0.05).as("theta_within_5pct"))
        .orderBy(col("l_linestatus"))
    },
    Some("""SELECT l_linestatus,
            |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
            |       TRUE AS hll_within_5pct,
            |       TRUE AS theta_within_5pct
            |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin))

  val all: Seq[Q] = Seq(starTreeRollup, starTreeSubset, starTreeSketch)
}
