package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** `plans.OnePartitionRule`: a shuffle over input that already runs in one
  * partition is planned as a one-partition coalesce, and the inputs of one
  * join keep or lose their exchanges together. */
class OnePartitionRuleSpec extends GraftSuite {

  private def exchanges(df: DataFrame): Int = "Exchange hashpartitioning".r.findAllIn(finalPlan(df)).size

  /** Every operator AQE finally ran, inside query stages too. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.finalPhysicalPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case o => o +: o.children.flatMap(nodes)
  }

  /** For each input of `df`'s sort-merge join: does it read a shuffle? */
  private def joinInputsShuffled(df: DataFrame): Seq[Boolean] = {
    val join = nodes(df.queryExecution.executedPlan).collectFirst { case j: SortMergeJoinExec => j }
    assert(join.isDefined, finalPlan(df))
    join.get.children.map(c => nodes(c).exists(_.isInstanceOf[ShuffleExchangeLike]))
  }

  /** `k` in 0 until n with `v = 10 * k`, written as `files` parquet files. */
  private def table(n: Int, files: Int): String = {
    val dir = tempDir("t") + "/t"
    spark.range(0, n).select(col("id").as("k"), (col("id") * 10).as("v"))
      .repartition(files, col("k")).write.parquet(dir)
    assert(new File(dir).listFiles.count(_.getName.endsWith(".parquet")) === files)
    dir
  }

  test("an aggregate over a one-file table runs in one job with no exchange") {
    val df = spark.read.parquet(table(1000, 1))
      .groupBy((col("k") % 10).as("g")).agg(sum(col("v")).as("s")).orderBy(col("g"))
    val (rows, jobs) = Bench.jobsOf(spark)(df.collect().toSeq)
    assert(jobs === 1, finalPlan(df))
    assert(!finalPlan(df).contains("Exchange"), finalPlan(df))
    // g's keys are g, g + 10, ..., g + 990: s = 10 * (100 g + 10 * (0 + ... + 99))
    assert(rows.map(r => (r.getLong(0), r.getLong(1))) ===
      (0L until 10L).map(g => (g, 10L * (100L * g + 10L * 4950L))))
  }

  test("a two-file table keeps its exchange") {
    val df = spark.read.parquet(table(1000, 2)).groupBy((col("k") % 10).as("g")).count()
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      (0L until 10L).map(g => (g, 100L)))
    assert(exchanges(df) === 1, finalPlan(df))
  }

  test("a sort-merge join of a one-file and a multi-file side keeps both exchanges") {
    val one = spark.read.parquet(table(100, 1)).select(col("k"), col("v").as("a"))
    val many = spark.read.parquet(table(100, 4)).select(col("k"), col("v").as("b"))
    val df = one.hint("merge").join(many, "k").filter(col("k") % 25 === 0)
      .select(col("k"), col("a") + col("b"))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      Seq(0L -> 0L, 25L -> 500L, 50L -> 1000L, 75L -> 1500L))
    assert(joinInputsShuffled(df) === Seq(true, true), finalPlan(df))
  }

  test("a sort-merge join of two one-file sides loses both exchanges") {
    val left = spark.read.parquet(table(100, 1)).select(col("k"), col("v").as("a"))
    val right = spark.read.parquet(table(50, 1)).select(col("k"), col("v").as("b"))
    val df = left.hint("merge").join(right, "k").agg(count(lit(1)), sum(col("a") + col("b")))
    val row = df.head()
    assert((row.getLong(0), row.getLong(1)) === (50L, 20L * (0L until 50L).sum))
    assert(joinInputsShuffled(df) === Seq(false, false), finalPlan(df))
    assert(!finalPlan(df).contains("Exchange"), finalPlan(df))
  }

  test("a scan with a dynamic partition pruning filter keeps its exchange") {
    val fact = tempDir("fact") + "/f"
    spark.range(0, 20000).select(col("id").as("x"), lit(0L).as("p"))
      .coalesce(1).write.partitionBy("p").parquet(fact)
    val dim = tempDir("dim") + "/d"
    spark.range(0, 2).select(col("id").as("p"), col("id").cast("string").as("name"))
      .coalesce(1).write.parquet(dim)
    val key = "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val df = spark.read.parquet(fact).hint("merge")
        .join(spark.read.parquet(dim).filter(col("name") === "0"), "p")
        .agg(count(lit(1)), sum(col("x")))
      val row = df.head()
      assert((row.getLong(0), row.getLong(1)) === (20000L, (0L until 20000L).sum))
      assert(finalPlan(df).contains("dynamicpruningexpression"), finalPlan(df))
      assert(joinInputsShuffled(df) === Seq(true, true), finalPlan(df))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a rewritten plan still reports its scan's files and rows") {
    val df = spark.read.parquet(table(1000, 1)).groupBy((col("k") % 7).as("g")).count()
    val scan = fileScan(df)
    assert(!finalPlan(df).contains("Exchange"), finalPlan(df))
    assert(scan.metrics("numFiles").value === 1L)
    assert(scan.metrics("numOutputRows").value === 1000L)
  }
}
