package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._

/** J7 on the DECLARED query: after Tables.registerBucketed, the unchanged
  * q_join_multi picks up bucketed fact scans and its orders⋈lineitem edge
  * plans as a shuffle-free sort-merge join — the 100 TB layout, proven on
  * the query users actually run (not a bespoke test query). */
class BucketedDeclaredQuerySpec extends GraftSuite {

  test("q_join_multi runs with a shuffle-free bucketed fact join after registerBucketed") {
    val s2 = spark.newSession()
    // force the fact edge to the sort-merge path (at sf0.001 AQE would
    // otherwise broadcast orders); the dim broadcasts in the query are
    // explicit hints and survive
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val fp = Tables.fingerprint(sfDir, 8)
    val tbls = Seq("lineitem", "orders").map(Tables.bucketedTableName(_, fp))
    tbls.foreach { t =>
      s2.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        loc.listFiles().foreach(_.delete())
        loc.delete()
      }
    }
    Tables.registerBucketed(s2, sfDir)

    val q = SparkEntry.queries("q_join_multi")(s2, sfDir)
    val bucketedRows = q.collect()

    val planStr = q.queryExecution.executedPlan.toString
    val finalSection = planStr.split("== Initial Plan ==").head
    assert(finalSection.contains("SortMergeJoin"), s"expected SortMergeJoin in:\n$finalSection")
    assert("Bucketed: true".r.findAllIn(finalSection).size === 2,
      s"both fact scans must read bucketed layout:\n$finalSection")
    val exchanges = "Exchange hashpartitioning\\(([a-z_]+)"
      .r.findAllMatchIn(finalSection).map(_.group(1)).toSet
    assert(!exchanges.contains("l_orderkey") && !exchanges.contains("o_orderkey"),
      s"the fact edge must not shuffle; exchanges on: $exchanges")

    // identical results to the plain parquet run (suite session, no routing)
    val plain = SparkEntry.queries("q_join_multi")(spark, sfDir).collect()
    assert(bucketedRows.map(_.toString).toSeq === plain.map(_.toString).toSeq)

    tbls.foreach(t => s2.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("bucketed routing is opt-in: unregistered sessions read plain parquet") {
    val s3 = spark.newSession()
    val plan = Tables.t(s3, sfDir, "lineitem").queryExecution.logical.toString
    assert(!plan.contains("graft_lineitem_bucketed"))
  }

  test("bucketed routing serves its own session only: a sibling reads plain parquet") {
    val routed = spark.newSession()
    val fp = Tables.fingerprint(sfDir, 8)
    val tbls = Seq("lineitem", "orders").map(Tables.bucketedTableName(_, fp))
    tbls.foreach(t => routed.sql(s"DROP TABLE IF EXISTS $t"))
    Tables.registerBucketed(routed, sfDir)
    val sibling = spark.newSession()
    assert(Tables.t(routed, sfDir, "lineitem").queryExecution.logical.toString
      .contains("graft_lineitem_bucketed"))
    val plain = Tables.t(sibling, sfDir, "lineitem")
    assert(!plain.queryExecution.logical.toString.contains("bucketed"), plain.queryExecution.logical)
    tbls.foreach(t => routed.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("bucketed routing is bound to its sfDir: other dirs read plain parquet") {
    val s4 = spark.newSession()
    val fp = Tables.fingerprint(sfDir, 8)
    val tbls = Seq("lineitem", "orders").map(Tables.bucketedTableName(_, fp))
    tbls.foreach(t => s4.sql(s"DROP TABLE IF EXISTS $t"))
    Tables.registerBucketed(s4, sfDir)

    // same dir routes through the bucketed table …
    val routed = Tables.t(s4, sfDir, "lineitem").queryExecution.logical.toString
    assert(routed.contains("graft_lineitem_bucketed"), routed)

    // … but a DIFFERENT sfDir must fall through to that dir's parquet, not
    // silently serve the registered dir's rows
    val otherDir = "/root/testdata/sf0.01"
    val other = Tables.t(s4, otherDir, "lineitem")
    assert(!other.queryExecution.logical.toString.contains("bucketed"))
    val otherRows = other.count()
    val registeredRows = Tables.t(s4, sfDir, "lineitem").count()
    assert(otherRows !== registeredRows,
      "sf0.01 read must not serve sf0.001-registered bucketed data")

    tbls.foreach(t => s4.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
