package graft

import org.apache.spark.sql.functions._

/** Bench's per-query loop: a query that throws is reported as failed and
  * left out of the timings, never recorded as a (fast) time. */
class BenchSpec extends GraftSuite {

  test("a throwing query is reported as failed, not timed") {
    val queries: Map[String, Bench.Query] = Map(
      "q_ok" -> ((s, _) => s.range(10).toDF("id")),
      "q_boom" -> ((s, _) => s.range(1).select(raise_error(lit("boom")))))
    val (timed, failed) = Bench.pass(spark, sfDir, queries)
    assert(timed.map(_._1) === Seq("q_ok"))
    assert(failed === Seq("q_boom"))
    val line = Bench.totalLine(timed.map(_._2).sum, timed.size, failed.size, sfDir)
    assert(line.contains("\"n\":1,\"failed\":1,"), line)
  }
}
