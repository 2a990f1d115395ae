package graft.tools

import graft.{Graft, Registry, SparkEntry}

/** Dev tool: dump `explain("formatted")` for selected queries so plan
  * properties (PushedFilters, ReadSchema pruning, broadcast joins,
  * WholeStageCodegen spans, TakeOrderedAndProject) can be audited — the
  * SURVEY.md §4 checklist. Each query runs once first and the plan shown
  * is of a second construction: a cold AQE explain reports unknown
  * partitioning for a not-yet-materialized cache, so it would show
  * exchanges that the steady state (the bench's, and every post-build
  * consumer's) does not pay.
  * Usage: sbt "Test/runMain graft.tools.Plans [queryName...]"
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Registry.all.map(_.name)
    names.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(s"\n===== $name =====")
        fn(spark, sfDir).explain("formatted")
      }
    }
    spark.stop()
  }
}
