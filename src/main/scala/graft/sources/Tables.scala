package graft.sources

import java.util.concurrent.ConcurrentHashMap

import graft.plans.{Route, Routes}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * Each table is a plain parquet scan — Catalyst pushes filters and prunes
  * columns into the scan (SURVEY.md §4), which is the Spark equivalent of the
  * reference's segment pruning + columnar reads
  * (`/root/reference/README.md:22`, `kinesisTableConfigFile.json:13`).
  * At 100 TB these would be partitioned parquet/iceberg paths on S3; the API
  * surface is identical.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** A fixture table. A session that registered a bucketed copy of it
    * ([[registerBucketed]]) reads the copy while the fixture is still at
    * the data version the copy was built from, so every declared query
    * picks up the shuffle-free co-located join plan unchanged; other
    * sessions, other dirs and rewritten fixtures read the parquet. */
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val src = s"$sfDir/$name.parquet"
    Routes.of(spark).flatMap(_.live[Route.Bucketed](Fingerprint.canon(src)).headOption) match {
      case Some(copy) => spark.table(copy.table)
      case None if name == "events" => events(spark, sfDir)
      case None => read(spark, src)
    }
  }

  private val relations = new ConcurrentHashMap[(SparkSession, String), (String, HadoopFsRelation)]()

  /** A parquet read of an immutable input — a fixture table or a published
    * `Fingerprint.buildOnce` dir — that resolves the relation once per
    * (session, canonical path) and data version (`Fingerprint.of`: one
    * stat, or one listing of a dir), so a warm query runs no
    * schema-inference job. A new data version replaces the session's
    * entry. Every call returns a new `LogicalRelation` with fresh attribute
    * ids, so two reads of one table still self-join. Dirs that change under
    * reads (streaming sinks, compaction output, live hybrid-table dirs)
    * keep plain `spark.read`. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val key = (spark, Fingerprint.canon(path))
    val version = Fingerprint.of(key._2)
    val rel = Option(relations.get(key)).filter(_._1 == version).map(_._2).getOrElse {
      relations.keySet.removeIf(_._1.sparkContext.isStopped)
      val r = spark.read.parquet(path).queryExecution.analyzed.collectFirst {
        case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
      }.get
      relations.put(key, (version, r))
      r
    }
    spark.baseRelationToDataFrame(rel)
  }

  /** Table name carries a fingerprint of (sfDir, buckets, facts and their
    * data versions) so a re-register with different inputs, or after a
    * fixture rewrite, can never collide with (and silently reuse) a stale
    * managed table from a prior run. */
  private[graft] def bucketedTableName(name: String, fp: String): String =
    s"graft_${name}_bucketed_$fp"

  private[graft] def fingerprint(sfDir: String, buckets: Int,
      facts: Map[String, String] = defaultFactBuckets): String =
    Fingerprint.hash64((Seq(Fingerprint.canon(sfDir), buckets.toString) ++
      facts.toSeq.sorted.map { case (name, key) =>
        s"$name:$key:${Fingerprint.of(s"$sfDir/$name.parquet")}"
      }).mkString("|"))

  /** Default bucketing spec for the fact tables: both sides of the big
    * orders⋈lineitem edge bucketed on the join key (SCALE.md: the layout
    * that makes the 100 TB fact join shuffle-free, Pinot's partitioned
    * replica groups re-expressed as Spark bucketing). */
  val defaultFactBuckets: Map[String, String] =
    Map("lineitem" -> "l_orderkey", "orders" -> "o_orderkey")

  /** J7 opt-in: materialize bucketed copies of the fact tables as managed
    * tables (one-time layout cost, amortized over every subsequent join)
    * and route this session's `Tables.t` reads through them. */
  def registerBucketed(
      spark: SparkSession,
      sfDir: String,
      buckets: Int = 8,
      facts: Map[String, String] = defaultFactBuckets): Unit = {
    val fp = fingerprint(sfDir, buckets, facts)
    facts.foreach { case (name, key) =>
      val src = s"$sfDir/$name.parquet"
      val version = Fingerprint.of(src)
      val tbl = bucketedTableName(name, fp)
      if (!spark.catalog.tableExists(tbl)) {
        spark.read.parquet(src)
          .write.mode("overwrite")
          .bucketBy(buckets, key).sortBy(key)
          .saveAsTable(tbl)
      }
      Routes.add(spark, Route.Bucketed(Fingerprint.canon(src), version, tbl))
    }
  }

  /** `events.ts` has shipped as TIMESTAMP(NANOS) in some fixture generations
    * (vanilla Spark rejects it — read nanos as long and integer-divide; a
    * double division would lose precision above 2^53 ns) and as plain
    * TIMESTAMP(MICROS) in others (arrives as TimestampNTZ — cast to the
    * session-zone TimestampType our queries expect; values are identical
    * because every graft session pins spark.sql.session.timeZone=UTC).
    * Declared queries bucket `ts` before comparing with the DuckDB oracle
    * (FIXTURES.md caveat). */
  private def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  }

  /** Register every fixture as a temp view so `spark.sql` queries mirror the
    * reference's SQL-over-HTTP surface (SURVEY.md §2.1 S11). Memoized per
    * (session, dir) and the tables' data versions: a repeated call costs
    * one stat per table, and a rewritten fixture is registered again. */
  private val registered = new ConcurrentHashMap[(SparkSession, String), String]()

  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    val version = all.map(n => Fingerprint.of(s"$sfDir/$n.parquet")).mkString("|")
    if (registered.get((spark, sfDir)) != version) {
      all.foreach(n => t(spark, sfDir, n).createOrReplaceTempView(n))
      registered.put((spark, sfDir), version)
    }
  }
}
