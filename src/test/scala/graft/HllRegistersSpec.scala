package graft

import graft.expressions.HllRegisters
import graft.plans.HllRegistersRule
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.internal.SQLConf

/** `plans.HllRegistersRule`: `approx_count_distinct` runs as
  * [[HllRegisters]] and answers exactly what Spark's own
  * `HyperLogLogPlusPlus` answers. Each case runs in one session with the
  * rule and with it excluded, and the rows must be equal. */
class HllRegistersSpec extends GraftSuite {

  /** 3,000 rows in four parquet files (so the aggregate keeps its exchange
    * and partial buffers are serialized and merged), one column per input
    * type, each NULL on every 13th row. `d` holds NaN, -0.0 and 0.0. */
  private lazy val input: Unit = {
    val dir = tempDir("hll") + "/in"
    spark.range(0, 3000, 1, 4).selectExpr(
      "id", "CAST(id % 5 AS INT) AS g",
      "IF(id % 13 = 0, NULL, CAST(id % 997 AS INT)) AS i",
      "IF(id % 13 = 1, NULL, id * 7919 % 100003) AS l",
      "IF(id % 13 = 2, NULL, concat('u', id % 1500)) AS s",
      """IF(id % 13 = 3, NULL, CASE id % 4 WHEN 0 THEN CAST('NaN' AS DOUBLE)
        |  WHEN 1 THEN -0.0D WHEN 2 THEN 0.0D ELSE (id % 333) / 7.0D END) AS d""".stripMargin,
      "IF(id % 13 = 4, NULL, CAST((id % 800) / 4 AS DECIMAL(12, 2))) AS dec",
      "IF(id % 13 = 5, NULL, date_add(DATE'2020-01-01', CAST(id % 400 AS INT))) AS dt",
      "IF(id % 13 = 6, NULL, timestamp_seconds(1577836800 + (id % 2000) * 37)) AS ts",
      "IF(id % 13 = 7, NULL, CAST(concat('b', id % 900) AS BINARY)) AS b")
      .write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("hll_in")
  }

  private def withoutRule[T](body: => T): T = {
    val key = SQLConf.OPTIMIZER_EXCLUDED_RULES.key
    spark.conf.set(key, HllRegistersRule.ruleName)
    try body finally spark.conf.unset(key)
  }

  /** Some operator of `df`'s optimized plan, subqueries included, holds
    * an expression matching `pred`. */
  private def has(df: DataFrame, pred: Expression => Boolean): Boolean =
    df.queryExecution.optimizedPlan.collectWithSubqueries { case p => p }
      .exists(_.expressions.exists(_.exists(pred)))

  /** Rows of `sql` with the rule and without it; they must be equal, and
    * the rule must have replaced every HLL++ aggregate. */
  private def same(sql: String): Seq[String] = {
    input
    val withRule = spark.sql(sql)
    val rows = withRule.collect().map(_.toString).sorted.toSeq
    assert(has(withRule, _.isInstanceOf[HllRegisters]), withRule.queryExecution.optimizedPlan)
    assert(!has(withRule, _.isInstanceOf[HyperLogLogPlusPlus]), withRule.queryExecution.optimizedPlan)
    val expected = withoutRule {
      val df = spark.sql(sql)
      val r = df.collect().map(_.toString).sorted.toSeq
      assert(has(df, _.isInstanceOf[HyperLogLogPlusPlus]))
      r
    }
    assert(rows === expected, sql)
    rows
  }

  private val columns = Seq("i", "l", "s", "d", "dec", "dt", "ts", "b")

  test("every input type, with NULLs, NaN and -0.0: global and grouped") {
    val aggs = columns.map(c => s"approx_count_distinct($c) AS $c").mkString(", ")
    val global = same(s"SELECT $aggs FROM hll_in")
    assert(global.size === 1)
    assert(same(s"SELECT g, $aggs FROM hll_in GROUP BY g").size === 5)
  }

  test("rsd 0.01, 0.02 and 0.05") {
    same("""SELECT g, approx_count_distinct(l, 0.01), approx_count_distinct(s, 0.02),
           |  approx_count_distinct(i, 0.05) FROM hll_in GROUP BY g""".stripMargin)
    same("SELECT approx_count_distinct(s, 0.01), approx_count_distinct(l, 0.02) FROM hll_in")
  }

  test("empty input gives 0, also as a correlated scalar subquery's default") {
    assert(same("SELECT approx_count_distinct(l), approx_count_distinct(s, 0.02) FROM hll_in WHERE id < 0") ===
      Seq("[0,0]"))
    assert(same("SELECT g, approx_count_distinct(l) FROM hll_in WHERE id < 0 GROUP BY g").isEmpty)
    assert(same(
      """SELECT g, (SELECT approx_count_distinct(x.l) FROM hll_in x WHERE x.g = y.g AND x.id < 0) AS n
        |FROM (SELECT DISTINCT g FROM hll_in) y""".stripMargin) ===
      (0 until 5).map(g => s"[$g,0]"))
  }

  test("FILTER, DISTINCT, a window and an uncorrelated subquery") {
    same("""SELECT g, approx_count_distinct(l) FILTER (WHERE id % 2 = 0),
           |  approx_count_distinct(s, 0.02) FILTER (WHERE i IS NOT NULL), count(*)
           |FROM hll_in GROUP BY g""".stripMargin)
    same("SELECT g, approx_count_distinct(DISTINCT l), count(DISTINCT s) FROM hll_in GROUP BY g")
    same("SELECT id, approx_count_distinct(s) OVER (PARTITION BY g) FROM hll_in")
    same("""SELECT g FROM hll_in GROUP BY g
           |HAVING approx_count_distinct(l) > (SELECT approx_count_distinct(l) / 10 FROM hll_in)""".stripMargin)
  }

  test("the aggregate is planned as an object hash aggregate over a serialized buffer") {
    input
    val df = spark.sql("SELECT g, approx_count_distinct(l, 0.02) FROM hll_in GROUP BY g")
    df.collect()
    assert(finalPlan(df).contains("ObjectHashAggregate"), finalPlan(df))
    assert(finalPlan(df).contains("Exchange hashpartitioning"), finalPlan(df))
  }

  /** Every aggregate operator AQE finally ran, inside query stages too. */
  private def aggregates(p: SparkPlan): Seq[BaseAggregateExec] = p match {
    case a: AdaptiveSparkPlanExec => aggregates(a.finalPhysicalPlan)
    case q: QueryStageExec => aggregates(q.plan)
    case a: BaseAggregateExec => a +: a.children.flatMap(aggregates)
    case o => o.children.flatMap(aggregates)
  }

  test("no aggregate of warm q_sketch_hll carries more than 64 buffer fields") {
    val q = SparkEntry.queries("q_sketch_hll")
    val first = q(spark, sfDir).collect().toSeq
    val df = q(spark, sfDir)
    assert(df.collect().toSeq === first)
    val widths = aggregates(df.queryExecution.executedPlan)
      .map(_.aggregateExpressions.map(_.aggregateFunction.aggBufferAttributes.size).sum)
    assert(widths.nonEmpty)
    assert(widths.max <= 64, widths)
  }
}
