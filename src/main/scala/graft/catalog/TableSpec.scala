package graft.catalog

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Config-driven DDL (SURVEY.md §2.1 S10, §3.3): the engine ingests the same
  * JSON spec *shapes* the reference uses — a schema file splitting columns
  * into dimension/metric/dateTime roles
  * (`/root/reference/resources/pinot/resources/kinesisTable.json`) and a
  * table config carrying type/time-column/retention/flush settings
  * (`kinesisTableConfigFile.json`) — and turns them into a Spark
  * `StructType` (+ metadata) and table properties. The role split is
  * metadata-only in queries (SURVEY.md §1.1); here it drives default
  * partition/sort choices.
  */
final case class FieldSpec(name: String, dataType: DataType, role: String, format: Option[String])

/** One `ingestionConfig.transformConfigs` entry: destination column derived
  * from source fields by a SQL expression (Pinot's inbuilt transform
  * function surface; run [[TableSpec.ingest]] on a PinotFunctions-registered
  * session to use the Pinot spellings). */
final case class TransformConfig(columnName: String, transformFunction: String)

/** One `ingestionConfig.aggregationConfigs` entry: ingestion-time rollup of
  * a metric column (`SUM(price)` etc.) — Pinot aggregates stream rows into
  * one row per dimension/time combination as they land. */
final case class AggregationConfig(columnName: String, aggregationFunction: String)

final case class TableSpec(
    name: String,
    fields: Seq[FieldSpec],
    tableType: String,            // OFFLINE | REALTIME
    timeColumn: Option[String],
    retentionDays: Option[Int],
    flushIntervalMinutes: Option[Int],
    flushSizeBytes: Option[Long],
    transforms: Seq[TransformConfig] = Nil,
    filterFunction: Option[String] = None,
    aggregations: Seq[AggregationConfig] = Nil) {

  /** Spark schema with role metadata on every field. */
  def schema: StructType = StructType(fields.map { f =>
    val md = new MetadataBuilder().putString("graft.role", f.role)
    f.format.foreach(md.putString("graft.format", _))
    StructField(f.name, f.dataType, nullable = true, md.build())
  })

  def registerView(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.schema(schema).parquet(path)
    df.createOrReplaceTempView(name)
    df
  }

  /** Apply the spec's `ingestionConfig` to incoming rows, in Pinot's order:
    * filterFunction first (rows where it evaluates TRUE are DROPPED —
    * Pinot's filter semantics, the inverse of SQL WHERE), then
    * transformConfigs left to right (later transforms may read earlier
    * derived columns), then aggregationConfigs as an ingestion-time rollup
    * grouping on every non-aggregated column. All map-side/narrow except the
    * rollup's single groupBy — the same cost Pinot pays to collapse stream
    * rows at segment build. */
  def ingest(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    // only TRUE drops: a NULL-evaluating filterFunction keeps the row
    // (Pinot's filter semantics; bare !expr would drop NULL rows too)
    val filtered = filterFunction.fold(df)(f => df.filter(!coalesce(expr(f), lit(false))))
    val transformed = transforms.foldLeft(filtered) { (d, t) =>
      d.withColumn(t.columnName, expr(t.transformFunction))
    }
    if (aggregations.isEmpty) transformed
    else {
      // Pinot's rollup keeps only schema columns: keys are the schema's
      // non-aggregated fields present in the frame (extra source fields are
      // dropped at ingest unless a transform derived a schema column from
      // them), aggregates are the configured metric columns.
      val aggCols = aggregations.map(_.columnName).toSet
      val present = transformed.columns.toSet
      val keys = fields.map(_.name).filter(n => present(n) && !aggCols(n))
      val aggs = aggregations.map(a => expr(a.aggregationFunction).as(a.columnName))
      transformed.groupBy(keys.map(col).toIndexedSeq: _*).agg(aggs.head, aggs.tail: _*)
    }
  }
}

object TableSpec {

  /** Pinot-type-string → Spark type (SURVEY.md §1.2 mapping table). */
  def mapType(t: String): DataType = t.toUpperCase match {
    case "INT" => IntegerType
    case "LONG" => LongType
    case "FLOAT" => FloatType
    case "DOUBLE" => DoubleType
    case "BIG_DECIMAL" => DecimalType(38, 18)
    case "BOOLEAN" => BooleanType
    case "TIMESTAMP" => TimestampType
    case "STRING" | "JSON" => StringType
    case "BYTES" => BinaryType
    case other => throw new IllegalArgumentException(s"unsupported type: $other")
  }

  /** Parse a schema spec of the reference's shape:
    * `{"schemaName": ..., "dimensionFieldSpecs": [{name,dataType}...],
    *   "metricFieldSpecs": [...], "dateTimeFieldSpecs": [{name,dataType,format,granularity}...]}`
    * MV columns (`singleValueField: false`) become ArrayType. */
  def parseSchema(json: String): (String, Seq[FieldSpec]) = {
    implicit val fmts: Formats = DefaultFormats
    val root = JsonMethods.parse(json)
    val name = (root \ "schemaName").extractOpt[String].getOrElse("table")
    def fieldsOf(key: String, role: String): Seq[FieldSpec] =
      (root \ key) match {
        case JArray(arr) => arr.map { f =>
          val fname = (f \ "name").extract[String]
          val base = mapType((f \ "dataType").extract[String])
          val single = (f \ "singleValueField").extractOpt[Boolean].getOrElse(true)
          val dt = if (single) base else ArrayType(base)
          FieldSpec(fname, dt, role, (f \ "format").extractOpt[String])
        }
        case _ => Seq.empty
      }
    (name,
      fieldsOf("dimensionFieldSpecs", "dimension") ++
        fieldsOf("metricFieldSpecs", "metric") ++
        fieldsOf("dateTimeFieldSpecs", "dateTime"))
  }

  /** Parse a table config of the reference's shape (tableType, time column,
    * retention, stream flush thresholds). */
  def parse(schemaJson: String, tableConfigJson: String): TableSpec = {
    implicit val fmts: Formats = DefaultFormats
    val (name, fields) = parseSchema(schemaJson)
    val cfg = JsonMethods.parse(tableConfigJson)
    val seg = cfg \ "segmentsConfig"
    val stream = cfg \ "tableIndexConfig" \ "streamConfigs"
    val flushTime = (stream \ "realtime.segment.flush.threshold.time").extractOpt[String]
      .map(s => if (s.endsWith("m")) s.dropRight(1).toInt else s.toInt)
    val flushSize = (stream \ "realtime.segment.flush.threshold.segment.size").extractOpt[String]
      .map(s => if (s.endsWith("M")) s.dropRight(1).toLong * 1024 * 1024 else s.toLong)
    val ing = cfg \ "ingestionConfig"
    val transforms = (ing \ "transformConfigs") match {
      case JArray(arr) => arr.map(t => TransformConfig(
        (t \ "columnName").extract[String],
        (t \ "transformFunction").extract[String]))
      case _ => Nil
    }
    val aggregations = (ing \ "aggregationConfigs") match {
      case JArray(arr) => arr.map(a => AggregationConfig(
        (a \ "columnName").extract[String],
        (a \ "aggregationFunction").extract[String]))
      case _ => Nil
    }
    TableSpec(
      name = (cfg \ "tableName").extractOpt[String].getOrElse(name),
      fields = fields,
      tableType = (cfg \ "tableType").extractOpt[String].getOrElse("OFFLINE"),
      timeColumn = (seg \ "timeColumnName").extractOpt[String],
      retentionDays = (seg \ "retentionTimeValue").extractOpt[String].map(_.toInt)
        .filter(_ => (seg \ "retentionTimeUnit").extractOpt[String].contains("DAYS")),
      flushIntervalMinutes = flushTime,
      flushSizeBytes = flushSize,
      transforms = transforms,
      filterFunction = (ing \ "filterConfig" \ "filterFunction").extractOpt[String],
      aggregations = aggregations)
  }

  /** What [[applyIndexConfig]] wired up, per index family. `routed` are
    * families registered into the transparent pruning rule; `analog` maps
    * families whose Spark-native equivalent needs no registration (or a
    * separate build step) to the component that serves them. */
  final case class AppliedIndexes(
      sorted: Option[String],
      blooms: Seq[String],
      partitioned: Option[(String, Int)],
      analog: Map[String, String])

  /** Wire a Pinot `tableIndexConfig` (the reference's own config shape —
    * `kinesisTableConfigFile.json:12-27`) onto a data directory: the
    * broker-pruning families register as this session's routes
    * ([[graft.plans.Routes]]) so a user's table config turns on
    * the same transparent segment pruning the reference's broker performs —
    * `sortedColumn` → footer range manifest, `bloomFilterColumns` →
    * per-file bloom manifests (budget-guarded), `segmentPartitionConfig` →
    * exact partition-id manifests. Round 7: a session holds ONE route
    * per (directory, kind, column), so EVERY family in the config
    * registers — a table with sortedColumn AND bloomFilterColumns (the
    * normal Pinot shape) prunes by the INTERSECTION of both decisions.
    * Families that Spark serves natively (or
    * via a separate index build) come back in `analog` instead of silently
    * disappearing: inverted/range indexes are parquet predicate pushdown +
    * footer stats, text/json indexes are `sources.TextIndex/JsonIndex`
    * side builds, star-tree is `plans.StarTree`, `noDictionaryColumns` is
    * a storage detail parquet encoding already decides. Registration is an
    * ACCELERATOR: an unregistered or unsorted layout keeps full scans,
    * never wrong answers. */
  def applyIndexConfig(
      spark: SparkSession,
      tableConfigJson: String,
      dir: String,
      bloomBudgetBytes: Long = graft.plans.SegmentPruning.DefaultMaxBloomManifestBytes)
      : AppliedIndexes = {
    implicit val fmts: Formats = DefaultFormats
    val idx = JsonMethods.parse(tableConfigJson) \ "tableIndexConfig"
    def strings(key: String): Seq[String] = (idx \ key) match {
      case JArray(arr) => arr.map(_.extract[String])
      case _ => Nil
    }
    val sorted = strings("sortedColumn").headOption
    val blooms = strings("bloomFilterColumns")
    val part = (idx \ "segmentPartitionConfig" \ "columnPartitionMap") match {
      case JObject(fs) => fs.headOption.map { case (col, spec) =>
        (col, (spec \ "numPartitions").extract[Int])
      }
      case _ => None
    }
    // register EVERY family present — the registry keys (dir, kind, col)
    // and the rule intersects decisions, mirroring how Pinot's broker
    // consults every column's segment metadata. A bloom for the sorted
    // column itself would be redundant with its footer ranges, so it is
    // skipped.
    sorted.foreach(c => graft.plans.SegmentPruning.register(spark, dir, c))
    part.foreach { case (c, n) =>
      graft.plans.SegmentPruning.registerPartitioned(spark, dir, c, n)
    }
    // a bloom manifest over the driver byte budget is a REFUSAL of that one
    // accelerator, not a reason to abort the whole config (pruning is never
    // a correctness dependency) — skip it, keep the other families, and
    // surface the refusal in the report map
    val bloomRefusals = blooms.filterNot(sorted.contains).flatMap { c =>
      try { graft.plans.SegmentPruning.registerBloom(spark, dir, c, bloomBudgetBytes); None }
      catch { case e: IllegalArgumentException =>
        Some(s"bloomFilterColumns/$c" -> s"REFUSED: ${e.getMessage}")
      }
    }.toMap
    val registeredBlooms = blooms.filterNot(c =>
      bloomRefusals.contains(s"bloomFilterColumns/$c"))
    val analog = Seq(
      "invertedIndexColumns" -> "parquet predicate pushdown (scan-level filtering; no side structure needed)",
      "rangeIndexColumns" -> "parquet footer min/max stats + SortedLayout ranges when sorted",
      "textIndexColumns" -> "sources.TextIndex.build (side index dir) + TEXT_MATCH routing",
      "jsonIndexColumns" -> "sources.JsonIndex.build (side index dir) + JSON_MATCH routing",
      "starTreeIndexConfigs" -> "plans.StarTree rollup build + routing rule",
      "noDictionaryColumns" -> "parquet encoding choice (columnar storage already dictionary-encodes adaptively)")
      .flatMap { case (k, v) =>
        val present = (idx \ k) match {
          case JArray(arr) => arr.nonEmpty
          case JNothing => false
          case _ => true
        }
        if (present) Some(k -> v) else None
      }.toMap
    AppliedIndexes(sorted, registeredBlooms, part, analog ++ bloomRefusals)
  }
}
