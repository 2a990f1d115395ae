package graft

import org.apache.spark.sql.functions._

/** Segment schema evolution — Pinot tables add columns over time and OLD
  * segments keep serving (missing values surface as nulls, or as the
  * type defaults under a stock non-null-handling table). The Spark-native
  * equivalent: parquet segment generations with different schemas, read
  * with mergeSchema; composing with PinotNullDefaultsRule, pre-evolution
  * segments answer verbatim Pinot console queries with typed defaults —
  * the same observable behavior as a reference table after a schema
  * update.
  */
class SchemaEvolutionSpec extends GraftSuite {

  private def writeGenerations(dir: String): Unit = {
    import spark.implicits._
    // gen-1 segments: (k, v) only — written before the schema update
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/dt=2024-01-01")
    // gen-2 segments: schema update added `score` (and rows carry it)
    Seq((3L, 30.0, 7), (4L, 40.0, 9)).toDF("k", "v", "score")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/dt=2024-01-02")
  }

  test("mergeSchema union: old segments serve nulls for late-added columns") {
    val dir = tempDir("graft_evo")
    writeGenerations(dir)
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
      .orderBy(col("k"))
    assert(df.columns.toSet === Set("k", "v", "score", "dt"))
    val rows = df.collect()
    assert(rows.length === 4)
    assert(rows(0).isNullAt(rows(0).fieldIndex("score")))
    assert(rows(2).getInt(rows(2).fieldIndex("score")) === 7)
    // aggregates over the union behave ANSI: count skips missing
    val agg = df.agg(count(col("score")), sum(col("v"))).collect()(0)
    assert(agg.getLong(0) === 2L)
    assert(agg.getDouble(1) === 100.0)
  }

  test("pruning manifests are stale-safe across a schema-evolution generation") {
    // applyIndexConfig/SegmentPruning manifests are fingerprinted against
    // the file listing. A schema-evolution generation (new column, new
    // segment files) MUST disable pruning until re-registration — a stale
    // manifest would prune away the new files and silently lose rows.
    import spark.implicits._
    val dir = tempDir("graft_evo_prune")
    val gen1 = (0L until 800L).map(i => (i, i * 2.0)).toDF("k", "v")
    graft.sources.SortedLayout.write(gen1, dir, "k", nFiles = 8)
    val s = spark.newSession()
    graft.plans.SegmentPruning.register(s, dir, "k")
    // registered generation: a point query prunes to one file
    assert(scanFiles(s.read.parquet(dir).filter(col("k") === 5L)) <= 2L)

    // generation 2: the schema update adds `score`; a new segment lands
    Seq((900L, 1.0, 7)).toDF("k", "v", "score").repartition(1)
      .write.mode("append").parquet(dir)

    def evolved = s.read.option("mergeSchema", "true").parquet(dir)
    // the new row is SERVED (stale manifest must not prune it away) …
    val hit = evolved.filter(col("k") === 900L).collect()
    assert(hit.length === 1 && hit(0).getInt(hit(0).fieldIndex("score")) === 7)
    // … because the fingerprint mismatch disabled pruning entirely
    assert(scanFiles(evolved.filter(col("k") === 900L)) === 9L,
      "stale manifest must fall back to the full scan, not prune")

    // re-registration rebuilds the manifest over the evolved listing:
    // pruning resumes AND covers the new generation's file
    graft.plans.SegmentPruning.register(s, dir, "k")
    assert(evolved.filter(col("k") === 900L).collect().map(_.getLong(0)).toSeq === Seq(900L))
    assert(scanFiles(evolved.filter(col("k") === 900L)) === 1L)
    // old-generation point lookups prune again too
    assert(scanFiles(evolved.filter(col("k") === 5L)) <= 2L)
  }

  test("Pinot-mode defaults: pre-evolution segments answer console queries") {
    val dir = tempDir("graft_evo2")
    writeGenerations(dir)
    val s = spark.newSession()
    PinotFunctions.register(s)
    s.conf.set(graft.plans.PinotNullDefaultsRule.confKey, "true")
    s.read.option("mergeSchema", "true").parquet(dir)
      .createOrReplaceTempView("evolved")
    // Pinot default for missing INT is Integer.MIN_VALUE: `score < 8`
    // matches the two gen-1 rows (as MIN_VALUE) plus the score=7 row, and
    // IS NULL is never true — the stock-table observable behavior
    val n = s.sql("SELECT count(*) FROM evolved WHERE score < 8")
      .collect()(0).getLong(0)
    assert(n === 3L)
    val nulls = s.sql("SELECT count(*) FROM evolved WHERE score IS NULL")
      .collect()(0).getLong(0)
    assert(nulls === 0L)
    // count(col) counts every row under ingest-time defaults
    val cnt = s.sql("SELECT count(score) FROM evolved").collect()(0).getLong(0)
    assert(cnt === 4L)
  }
}
