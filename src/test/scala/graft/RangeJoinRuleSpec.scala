package graft

import org.apache.spark.sql.functions._

/** The optimizer rule (plans.RangeJoinBinningRule) on a NAIVE BETWEEN
  * theta-join: with the conf set, users get the binned equi-join plan
  * without rewriting their query; results identical to the nested-loop
  * plan; off by default. `Graft.session` installs the rule, so every
  * `newSession()` child has it with no registration call. */
class RangeJoinRuleSpec extends GraftSuite {

  // frames must be created ON the session under test — a DataFrame runs
  // through the optimizer of the session it was built on
  private def naiveJoin(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    val rnd = new scala.util.Random(17)
    val points = (1L to 400L).map(i => (i, rnd.nextDouble() * 100)).toDF("pid", "v")
    val rnd2 = new scala.util.Random(18)
    val intervals = (1L to 60L).map { i =>
      val lo = rnd2.nextDouble() * 90
      (i, lo, lo + rnd2.nextDouble() * 12)
    }.toDF("iid", "lo", "hi")
    points.join(intervals, $"v" >= $"lo" && $"v" <= $"hi")
      .select($"pid", $"iid")
  }

  test("with binWidth set, a naive BETWEEN join plans as an equi-join") {
    val s = spark.newSession()
    s.conf.set("spark.graft.rangeJoin.binWidth", "10.0")
    val df = naiveJoin(s)
    val rewritten = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"rule must remove the nested loop:\n$plan")
    assert(plan.contains("__graft_bin"), s"expected the bin key in:\n$plan")

    // identical results to the untouched nested-loop plan
    val plain = naiveJoin(spark).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rewritten === plain)
    assert(rewritten.nonEmpty)
  }

  test("rule fires with the conjuncts in swapped order (p <= hi AND p >= lo)") {
    val s = spark.newSession()
    s.conf.set("spark.graft.rangeJoin.binWidth", "10.0")
    import s.implicits._
    val rnd = new scala.util.Random(17)
    val points = (1L to 400L).map(i => (i, rnd.nextDouble() * 100)).toDF("pid", "v")
    val rnd2 = new scala.util.Random(18)
    val intervals = (1L to 60L).map { i =>
      val lo = rnd2.nextDouble() * 90
      (i, lo, lo + rnd2.nextDouble() * 12)
    }.toDF("iid", "lo", "hi")
    // upper bound FIRST — the rule must recognize either conjunct order
    val df = points.join(intervals, $"v" <= $"hi" && $"v" >= $"lo")
      .select($"pid", $"iid")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"rule must fire on swapped conjuncts:\n$plan")
    assert(plan.contains("__graft_bin"), s"expected the bin key in:\n$plan")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = naiveJoin(spark).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === plain)
  }

  test("auto mode: the rule derives the bin width — no hand tuning, same results") {
    val s = spark.newSession()
    s.conf.set("spark.graft.rangeJoin.binWidth", "auto")
    val df = naiveJoin(s)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"auto mode must still remove the nested loop:\n$plan")
    assert(plan.contains("__graft_bin"), s"expected the bin key in:\n$plan")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = naiveJoin(spark).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === plain && got.nonEmpty)
  }

  test("derived width lands within 2x of the hand-tuned q_join_range width") {
    // q_join_range's interval side: part retail-price +/-5 bands, hand-tuned
    // binWidth = 10.0 (JoinQueries.scala). Every width is exactly 10, so the
    // derivation must land on it (and stays within 2x by a wide margin).
    val bands = graft.sources.Tables.t(spark, sfDir, "part")
      .select(col("p_partkey"),
        (col("p_retailprice") - 5.0).as("lo"), (col("p_retailprice") + 5.0).as("hi"))
    val w = graft.ops.RangeJoin.deriveBinWidth(bands, "lo", "hi")
    assert(w >= 5.0 && w <= 20.0, s"derived width $w outside 2x of hand-tuned 10.0")
    assert(math.abs(w - 10.0) < 0.01, s"uniform-width fixture must derive exactly: $w")
  }

  test("no-width binnedRangeJoin overload matches the hand-tuned result") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val points = (1L to 300L).map(i => (i, rnd.nextDouble() * 100)).toDF("pid", "v")
    val rnd2 = new scala.util.Random(42)
    val intervals = (1L to 50L).map { i =>
      val lo = rnd2.nextDouble() * 90
      (i, lo, lo + rnd2.nextDouble() * 8)
    }.toDF("iid", "lo", "hi")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = pairs(graft.ops.RangeJoin.binnedRangeJoin(points, intervals, "v", "lo", "hi"))
    val tuned = pairs(graft.ops.RangeJoin.binnedRangeJoin(points, intervals, "v", "lo", "hi", 4.0))
    assert(auto === tuned && auto.nonEmpty)
  }

  test("rule is off without the conf: plan unchanged") {
    val s = spark.newSession()
    val plan = naiveJoin(s).queryExecution.executedPlan.toString
    assert(!plan.contains("__graft_bin"))
  }
}
