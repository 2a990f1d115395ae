package graft

import graft.catalog.{AggregationConfig, TableSpec}
import org.apache.spark.sql.types._

/** Config-driven DDL (S10): our own spec JSON in the reference's *shape*
  * (same keys as kinesisTable.json / kinesisTableConfigFile.json — content
  * re-authored, not copied) parses into the expected Spark schema + props. */
class TableSpecSpec extends GraftSuite {

  private val schemaJson =
    """{
      |  "schemaName": "webEvents",
      |  "dimensionFieldSpecs": [
      |    {"name": "userID", "dataType": "STRING"},
      |    {"name": "campaign", "dataType": "STRING"},
      |    {"name": "tags", "dataType": "STRING", "singleValueField": false}
      |  ],
      |  "metricFieldSpecs": [
      |    {"name": "price", "dataType": "INT"}
      |  ],
      |  "dateTimeFieldSpecs": [
      |    {"name": "creationTimestamp", "dataType": "STRING",
      |     "format": "SIMPLE_DATE_FORMAT|yyyy-MM-dd HH:mm:ss", "granularity": "1:DAYS"}
      |  ]
      |}""".stripMargin

  private val configJson =
    """{
      |  "tableName": "webEvents",
      |  "tableType": "REALTIME",
      |  "segmentsConfig": {
      |    "timeColumnName": "creationTimestamp",
      |    "retentionTimeUnit": "DAYS",
      |    "retentionTimeValue": "7"
      |  },
      |  "tableIndexConfig": {
      |    "loadMode": "MMAP",
      |    "streamConfigs": {
      |      "realtime.segment.flush.threshold.rows": "0",
      |      "realtime.segment.flush.threshold.time": "2m",
      |      "realtime.segment.flush.threshold.segment.size": "150M"
      |    }
      |  }
      |}""".stripMargin

  test("schema spec parses with roles and MV columns") {
    val (name, fields) = TableSpec.parseSchema(schemaJson)
    assert(name === "webEvents")
    val byName = fields.map(f => f.name -> f).toMap
    assert(byName("userID").dataType === StringType)
    assert(byName("userID").role === "dimension")
    assert(byName("tags").dataType === ArrayType(StringType))
    assert(byName("price").dataType === IntegerType)
    assert(byName("price").role === "metric")
    assert(byName("creationTimestamp").role === "dateTime")
    assert(byName("creationTimestamp").format.get.startsWith("SIMPLE_DATE_FORMAT"))
  }

  test("table config parses time/retention/flush settings") {
    val spec = TableSpec.parse(schemaJson, configJson)
    assert(spec.tableType === "REALTIME")
    assert(spec.timeColumn === Some("creationTimestamp"))
    assert(spec.retentionDays === Some(7))
    assert(spec.flushIntervalMinutes === Some(2))
    assert(spec.flushSizeBytes === Some(150L * 1024 * 1024))
  }

  test("type lattice maps per SURVEY §1.2") {
    assert(TableSpec.mapType("LONG") === LongType)
    assert(TableSpec.mapType("BIG_DECIMAL") === DecimalType(38, 18))
    assert(TableSpec.mapType("BYTES") === BinaryType)
    assert(TableSpec.mapType("JSON") === StringType)
    assertThrows[IllegalArgumentException](TableSpec.mapType("GEOMETRY"))
  }

  test("schema carries role metadata for the engine catalog") {
    val spec = TableSpec.parse(schemaJson, configJson)
    val f = spec.schema("price")
    assert(f.metadata.getString("graft.role") === "metric")
  }

  test("ingestionConfig: filter drops, transforms derive, aggregation rolls up") {
    import spark.implicits._
    val withIngestion = configJson.replace(
      """  "tableIndexConfig": {""",
      """  "ingestionConfig": {
        |    "filterConfig": {"filterFunction": "price < 0"},
        |    "transformConfigs": [
        |      {"columnName": "creationTimestamp",
        |       "transformFunction": "substring(creationTimestamp, 1, 10)"}
        |    ],
        |    "aggregationConfigs": [
        |      {"columnName": "price", "aggregationFunction": "SUM(price)"}
        |    ]
        |  },
        |  "tableIndexConfig": {""".stripMargin)
    assert(withIngestion.contains("ingestionConfig"), "test JSON splice must hit")
    val spec = TableSpec.parse(schemaJson, withIngestion)
    assert(spec.filterFunction === Some("price < 0"))
    assert(spec.transforms.map(_.columnName) === Seq("creationTimestamp"))
    assert(spec.aggregations === Seq(AggregationConfig("price", "SUM(price)")))

    val raw = Seq(
      ("7", "BF", 100, "2024-05-01 10:00:00"),
      ("7", "BF", 20, "2024-05-01 11:30:00"),
      ("7", "BF", -5, "2024-05-01 12:00:00"), // filterFunction TRUE -> dropped
      ("8", "BF", 9, "2024-05-02 09:00:00"),
      ("8", "BF", 9, "2024-05-02 17:00:00"),
      ("7", "BF", 1, "2024-05-03 08:00:00"))
      .toDF("userID", "campaign", "price", "creationTimestamp")
      .withColumn("sourceShard", org.apache.spark.sql.functions.lit("s1")) // non-schema: dropped
    val out = spec.ingest(raw)
    assert(out.columns.toSet === Set("userID", "campaign", "creationTimestamp", "price"))
    val byKey = out.collect()
      .map(r => (r.getAs[String]("userID"), r.getAs[String]("creationTimestamp")) ->
        r.getAs[Long]("price")).toMap
    assert(byKey.size === 3, "rows must collapse to one per (user, campaign, day)")
    assert(byKey(("7", "2024-05-01")) === 120L) // 100 + 20; -5 filtered out
    assert(byKey(("8", "2024-05-02")) === 18L)  // 9 + 9 rolled up
    assert(byKey(("7", "2024-05-03")) === 1L)

    // Pinot filter semantics: only TRUE drops — a NULL-evaluating
    // filterFunction keeps the row
    val withNullPrice = raw.unionByName(
      Seq(("9", "BF", "2024-05-04 09:00:00")).toDF("userID", "campaign", "creationTimestamp")
        .withColumn("price", org.apache.spark.sql.functions.lit(null).cast("int"))
        .withColumn("sourceShard", org.apache.spark.sql.functions.lit("s1")))
    val outNull = spec.ingest(withNullPrice)
    assert(outNull.filter(org.apache.spark.sql.functions.col("userID") === "9").count() === 1L,
      "NULL filterFunction must keep the row, not drop it")
  }

  test("ingestionConfig: sketch aggregation stores a mergeable sketch column (Pinot distinctCountRawHLL)") {
    // Pinot 1.2 aggregationConfigs accepts distinctCountHLL-family
    // functions: the rollup stores a serialized sketch per key that later
    // queries union-merge. Ingest runs on a PinotFunctions session, so the
    // spec JSON uses the Pinot vocabulary unmodified.
    val s = spark.newSession()
    PinotFunctions.register(s)
    import s.implicits._
    val sketchSchema =
      """{
        |  "schemaName": "pageViews",
        |  "dimensionFieldSpecs": [{"name": "page", "dataType": "STRING"}],
        |  "metricFieldSpecs": [{"name": "viewerSketch", "dataType": "BYTES"}],
        |  "dateTimeFieldSpecs": [
        |    {"name": "day", "dataType": "STRING",
        |     "format": "SIMPLE_DATE_FORMAT|yyyy-MM-dd", "granularity": "1:DAYS"}
        |  ]
        |}""".stripMargin
    val sketchConfig =
      """{
        |  "tableName": "pageViews",
        |  "tableType": "REALTIME",
        |  "segmentsConfig": {"timeColumnName": "day"},
        |  "ingestionConfig": {
        |    "aggregationConfigs": [
        |      {"columnName": "viewerSketch",
        |       "aggregationFunction": "DISTINCTCOUNTRAWHLL(viewerID)"}
        |    ]
        |  },
        |  "tableIndexConfig": {"loadMode": "MMAP"}
        |}""".stripMargin
    val spec = TableSpec.parse(sketchSchema, sketchConfig)
    // viewerID is a source-only field: consumed by the aggregation, absent
    // from the rolled-up output (the Pinot shape — raw ids never land)
    val raw = Seq(
      ("home", "u1", "2024-05-01"), ("home", "u2", "2024-05-01"),
      ("home", "u1", "2024-05-01"), ("docs", "u1", "2024-05-01"),
      ("home", "u3", "2024-05-02")).toDF("page", "viewerID", "day")
    val out = spec.ingest(raw)
    assert(out.columns.toSet === Set("page", "day", "viewerSketch"))
    assert(out.schema("viewerSketch").dataType === BinaryType)

    import org.apache.spark.sql.functions._
    val cells = out.persist()
    assert(cells.count() === 3)
    // stored cells answer per-page distincts by union-merging — and the
    // cross-day merge deduplicates u1 seen on both days
    val perPage = cells.groupBy(col("page"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(viewerSketch))").as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perPage === Map("home" -> 3L, "docs" -> 1L))
  }

  test("registerView serves parquet through the spec-declared schema") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft-spec")
    Seq(("7", "BlackFriday", Seq("a", "b"), 120, "2024-05-01 10:00:00"))
      .toDF("userID", "campaign", "tags", "price", "creationTimestamp")
      .write.mode("overwrite").parquet(dir)
    val spec = TableSpec.parse(schemaJson, configJson)
    spec.registerView(spark, dir)
    val row = spark.sql(
      "SELECT userID, campaign, size(tags) AS n_tags, price FROM webEvents").collect().head
    assert(row.getString(0) === "7")
    assert(row.getString(1) === "BlackFriday")
    assert(row.getInt(2) === 2)
    assert(row.getInt(3) === 120)
  }
}
