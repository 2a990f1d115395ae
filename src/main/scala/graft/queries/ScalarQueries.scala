package graft.queries

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Scalar-function surface (SURVEY.md §2.8 C1–C8) — the Pinot 1.2.0 transform
  * function families, mapped to codegen'd `org.apache.spark.sql.functions`
  * (never Scala UDFs: these all stay inside whole-stage codegen).
  *
  * Declared queries are per-row transforms over a key-ordered LIMIT so the
  * oracle compares actual scalar outputs, not just aggregates of them.
  * Cross-engine notes baked in below: Spark `ceil` returns LONG (DuckDB
  * DOUBLE — cast), DuckDB `epoch()` returns DOUBLE (cast to BIGINT), DuckDB
  * regexp_replace needs the 'g' flag to match Spark's replace-all, DuckDB
  * `date_trunc('month')` returns DATE (cast to TIMESTAMP).
  */
object ScalarQueries {

  /** C1: string family (Pinot UPPER/LOWER/CONCAT/SUBSTR/STRPOS/REPLACE/TRIM/
    * LENGTH/REGEXP_EXTRACT/REGEXP_REPLACE/STARTSWITH/REVERSE/LPAD/RPAD...). */
  private val strFuncs = Q(
    "q_scalar_string",
    (spark, dir) => {
      val p = Tables.t(spark, dir, "part")
      p.select(
          col("p_partkey"),
          upper(col("p_name")).as("u"),
          lower(col("p_brand")).as("l"),
          substring(col("p_name"), 2, 5).as("sub"),
          length(col("p_name")).as("len"),
          concat(col("p_brand"), lit("-"), col("p_type")).as("cat"),
          concat_ws("|", col("p_brand"), col("p_type")).as("catws"),
          regexp_replace(col("p_name"), "[aeiou]", "_").as("repl"),
          regexp_extract(col("p_name"), "[0-9]+", 0).as("digits"),
          instr(col("p_name"), "a").as("pos_a"),
          lpad(col("p_partkey").cast("string"), 8, "0").as("padded"),
          rpad(col("p_brand"), 12, "#").as("rpadded"),
          reverse(col("p_type")).as("rev"),
          trim(concat(lit("  "), col("p_brand"), lit("  "))).as("trimmed"),
          repeat(col("p_brand"), 2).as("rep2"),
          col("p_name").startsWith("a").as("starts_a"),
          col("p_name").endsWith("e").as("ends_e"),
          split_part(col("p_type"), lit(" "), lit(1)).as("first_word"))
        .orderBy(col("p_partkey"))
        .limit(100)
    },
    Some("""SELECT p_partkey,
            upper(p_name) AS u, lower(p_brand) AS l,
            substring(p_name, 2, 5) AS sub, length(p_name) AS len,
            concat(p_brand, '-', p_type) AS cat,
            concat_ws('|', p_brand, p_type) AS catws,
            regexp_replace(p_name, '[aeiou]', '_', 'g') AS repl,
            regexp_extract(p_name, '[0-9]+') AS digits,
            strpos(p_name, 'a') AS pos_a,
            lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
            rpad(p_brand, 12, '#') AS rpadded,
            reverse(p_type) AS rev,
            trim('  ' || p_brand || '  ') AS trimmed,
            repeat(p_brand, 2) AS rep2,
            starts_with(p_name, 'a') AS starts_a,
            suffix(p_name, 'e') AS ends_e,
            split_part(p_type, ' ', 1) AS first_word
            FROM part ORDER BY p_partkey LIMIT 100"""))

  /** C2: math family. Outputs rounded where transcendental (libm last-ulp may
    * differ across engines); integer-exact ops compared raw. */
  private val mathFuncs = Q(
    "q_scalar_math",
    (spark, dir) => {
      val o = Tables.t(spark, dir, "orders")
      val x = col("o_totalprice")
      o.select(
          col("o_orderkey"),
          round(abs(-x), 2).as("abs_v"),
          ceil(x).as("ceil_v"),
          floor(x).as("floor_v"),
          round(x / 1000.0, 3).as("div_r"),
          round(sqrt(x), 6).as("sqrt_v"),
          round(log(x), 6).as("ln_v"),
          round(log10(x), 6).as("log10_v"),
          round(log2(x), 6).as("log2_v"),
          round(pow(x / 100000.0, 3.0), 6).as("pow_v"),
          (col("o_orderkey") % 7).as("mod_v"),
          signum(x - 100000.0).cast("int").as("sign_v"),
          round(sin(x / 100000.0), 6).as("sin_v"),
          round(cos(x / 100000.0), 6).as("cos_v"),
          round(atan2(x, lit(100000.0)), 6).as("atan2_v"),
          round(cbrt(x), 6).as("cbrt_v"),
          round(exp(x / 1000000.0), 6).as("exp_v"))
        .orderBy(col("o_orderkey"))
        .limit(100)
    },
    Some("""SELECT o_orderkey,
            round(abs(-o_totalprice), 2) AS abs_v,
            CAST(ceil(o_totalprice) AS BIGINT) AS ceil_v,
            CAST(floor(o_totalprice) AS BIGINT) AS floor_v,
            round(o_totalprice / 1000.0, 3) AS div_r,
            round(sqrt(o_totalprice), 6) AS sqrt_v,
            round(ln(o_totalprice), 6) AS ln_v,
            round(log10(o_totalprice), 6) AS log10_v,
            round(log2(o_totalprice), 6) AS log2_v,
            round(power(o_totalprice / 100000.0, 3.0), 6) AS pow_v,
            o_orderkey % 7 AS mod_v,
            CAST(sign(o_totalprice - 100000.0) AS INT) AS sign_v,
            round(sin(o_totalprice / 100000.0), 6) AS sin_v,
            round(cos(o_totalprice / 100000.0), 6) AS cos_v,
            round(atan2(o_totalprice, 100000.0), 6) AS atan2_v,
            round(cbrt(o_totalprice), 6) AS cbrt_v,
            round(exp(o_totalprice / 1000000.0), 6) AS exp_v
            FROM orders ORDER BY o_orderkey LIMIT 100"""))

  /** C3: date/time family (Pinot ToEpoch/FromEpoch/DATETRUNC/YEAR...WEEK).
    * `weekday(d)+1` = DuckDB isodow; epoch cast to BIGINT on the oracle side. */
  private val dateFuncs = Q(
    "q_scalar_datetime",
    (spark, dir) => {
      val o = Tables.t(spark, dir, "orders")
      val d = col("o_orderdate")
      o.select(
          col("o_orderkey"),
          year(d).as("y"),
          month(d).as("m"),
          dayofmonth(d).as("dom"),
          quarter(d).as("q"),
          dayofyear(d).as("doy"),
          weekofyear(d).as("woy"),
          (weekday(d) + 1).as("isodow"),
          unix_timestamp(d).as("epoch_s"),
          date_format(d, "yyyy-MM-dd HH:mm:ss").as("fmt"),
          date_trunc("month", d).as("month_start"),
          last_day(d).cast("timestamp").as("month_end"),
          add_months(d.cast("date"), 1).cast("timestamp").as("plus_month"),
          datediff(lit("2025-01-01").cast("date"), d.cast("date")).as("days_to_2025"))
        .orderBy(col("o_orderkey"))
        .limit(100)
    },
    Some("""SELECT o_orderkey,
            CAST(year(o_orderdate) AS INT) AS y,
            CAST(month(o_orderdate) AS INT) AS m,
            CAST(day(o_orderdate) AS INT) AS dom,
            CAST(quarter(o_orderdate) AS INT) AS q,
            CAST(dayofyear(o_orderdate) AS INT) AS doy,
            CAST(weekofyear(o_orderdate) AS INT) AS woy,
            CAST(isodow(o_orderdate) AS INT) AS isodow,
            CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
            strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS fmt,
            CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
            CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
            CAST(date_add(CAST(o_orderdate AS DATE), INTERVAL 1 MONTH) AS TIMESTAMP) AS plus_month,
            datediff('day', CAST(o_orderdate AS DATE), DATE '2025-01-01') AS days_to_2025
            FROM orders ORDER BY o_orderkey LIMIT 100"""))

  /** C7: hash / binary / base64 family (Pinot SHA/SHA256/MD5/toBase64).
    * sha1/crc32 have no DuckDB twin — covered by ScalaTest instead. */
  private val hashFuncs = Q(
    "q_scalar_hash",
    (spark, dir) => {
      val p = Tables.t(spark, dir, "part")
      p.select(
          col("p_partkey"),
          md5(col("p_name").cast("binary")).as("md5_name"),
          sha2(col("p_name").cast("binary"), 256).as("sha256_name"),
          base64(col("p_name").cast("binary")).as("b64_name"),
          octet_length(col("p_name")).as("n_bytes"))
        .orderBy(col("p_partkey"))
        .limit(100)
    },
    Some("""SELECT p_partkey,
            md5(p_name) AS md5_name,
            sha256(p_name) AS sha256_name,
            to_base64(encode(p_name)) AS b64_name,
            octet_length(encode(p_name)) AS n_bytes
            FROM part ORDER BY p_partkey LIMIT 100"""))

  /** C5: array/MV family over the embeddings fixture (Pinot MV columns are
    * ArrayType — SURVEY.md §1.2). Element access is 1-based in both engines;
    * sums accumulate in float64 sequentially in both (verified). */
  private val arrayFuncs = Q(
    "q_scalar_array",
    (spark, dir) => {
      val e = Tables.t(spark, dir, "embeddings")
      e.select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("first_v"),
          round(array_min(col("embedding")).cast("double"), 4).as("min_v"),
          round(array_max(col("embedding")).cast("double"), 4).as("max_v"),
          round(aggregate(col("embedding"), lit(0.0), (acc, v) => acc + v.cast("double")), 4).as("sum_v"),
          size(slice(col("embedding"), 1, 8)).as("head_dim"))
        .orderBy(col("vec_id"))
        .limit(200)
    },
    Some("""SELECT vec_id,
            len(embedding) AS dim,
            round(CAST(embedding[1] AS DOUBLE), 4) AS first_v,
            round(CAST(list_min(embedding) AS DOUBLE), 4) AS min_v,
            round(CAST(list_max(embedding) AS DOUBLE), 4) AS max_v,
            round(list_sum(embedding), 4) AS sum_v,
            len(embedding[1:8]) AS head_dim
            FROM embeddings ORDER BY vec_id LIMIT 200"""))

  /** C5: MV explode semantics (Pinot GROUP BY on an MV column explodes) —
    * explode + groupBy over tokenized text. */
  private val explodeMv = Q(
    "q_scalar_explode",
    (spark, dir) => {
      val d = Tables.t(spark, dir, "documents")
      d.select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"), countDistinct(col("lang")).as("n_langs"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(30)
    },
    Some("""SELECT token, count(*) AS n, count(DISTINCT lang) AS n_langs FROM (
              SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
            ) GROUP BY token ORDER BY n DESC, token ASC LIMIT 30"""))

  /** C8 URL family over a deterministically synthesized URL column (the
    * fixtures carry no URL field): parse_url HOST/PATH/QUERY-param against
    * a regexp-replica oracle. Map-only plus one small host aggregate. */
  private val urlFuncs = Q(
    "q_scalar_url",
    (spark, dir) => {
      val d = Tables.t(spark, dir, "documents")
      val url = concat(lit("https://"), col("source"), lit(".example.com/docs/"),
        col("doc_id").cast("string"), lit("?lang="), col("lang"))
      d.withColumn("url", url)
        .select(
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY', 'lang')").as("lang_param"))
        .groupBy(col("host"))
        .agg(
          count(lit(1)).as("n_urls"),
          countDistinct(col("lang_param")).as("n_langs"),
          min(col("path")).as("first_path"))
        .orderBy(col("host"))
    },
    Some("""WITH u AS (
            |  SELECT 'https://' || source || '.example.com/docs/' ||
            |         CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
            |  FROM documents
            |), parsed AS (
            |  SELECT regexp_extract(url, '^https://([^/?]+)', 1) AS host,
            |         regexp_extract(url, '^https://[^/?]+([^?]*)', 1) AS path,
            |         regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param
            |  FROM u
            |)
            |SELECT host, count(*) AS n_urls,
            |       count(DISTINCT lang_param) AS n_langs,
            |       min(path) AS first_path
            |FROM parsed GROUP BY host ORDER BY host""".stripMargin))

  /** C9 geospatial point family (Pinot ST_Point/ST_Distance surface; the
    * fixtures carry no geo column, so deterministic lat/lon derive from
    * customer columns): per-customer synthetic coordinates, great-circle
    * METERS to a fixed reference point via graft.functions.haversine_meters
    * — the identical formula (same literal constant, same association
    * order) runs in DuckDB, trig ulp differences vanish under round(…, 2).
    * Map-only; one top-k sort. */
  private val geoFuncs = Q(
    "q_scalar_geo",
    (spark, dir) => {
      import graft.functions.haversine_meters
      val c = Tables.t(spark, dir, "customer")
      // pmod keeps the synthesis well-defined for negative acctbal; the
      // oracle replicates Spark's pmod branch (r<0 ? r+m : r) exactly
      val lon = (pmod(col("c_acctbal").cast("double"), lit(360.0)) - 180.0).as("lon")
      val lat = (pmod(col("c_custkey").cast("double") * 7.0, lit(180.0)) - 90.0).as("lat")
      c.select(col("c_custkey"), lon, lat)
        .withColumn("dist_m",
          round(haversine_meters(col("lat"), col("lon"), lit(40.7128), lit(-74.006)), 2))
        .select(col("c_custkey"), round(col("lon"), 4).as("lon"),
          round(col("lat"), 4).as("lat"), col("dist_m"))
        .orderBy(col("c_custkey"))
        .limit(100)
    },
    Some("""WITH r AS (
            |  SELECT c_custkey,
            |         CAST(c_acctbal AS DOUBLE) % 360.0 AS rlon,
            |         CAST(c_custkey AS DOUBLE) * 7.0 % 180.0 AS rlat
            |  FROM customer
            |), pts AS (
            |  -- Spark pmod replica: r = x % m; r < 0 ? r + m : r (NOT the
            |  -- ((x%m)+m)%m folk form, whose extra ops can differ in the ulp)
            |  SELECT c_custkey,
            |         (CASE WHEN rlon < 0 THEN rlon + 360.0 ELSE rlon END) - 180.0 AS lon,
            |         (CASE WHEN rlat < 0 THEN rlat + 180.0 ELSE rlat END) - 90.0 AS lat
            |  FROM r
            |), d AS (
            |  SELECT c_custkey, lon, lat,
            |         round((2 * 6371008.8) * asin(sqrt(
            |           sin((radians(40.7128) - radians(lat)) / 2.0) * sin((radians(40.7128) - radians(lat)) / 2.0)
            |           + cos(radians(lat)) * cos(radians(40.7128))
            |             * sin((radians(-74.006) - radians(lon)) / 2.0) * sin((radians(-74.006) - radians(lon)) / 2.0)
            |         )), 2) AS dist_m
            |  FROM pts
            |)
            |SELECT c_custkey, round(lon, 4) AS lon, round(lat, 4) AS lat, dist_m
            |FROM d ORDER BY c_custkey LIMIT 100""".stripMargin))

  /** C3 epoch granularity-bucketing trio (round 6): Pinot
    * ToEpoch<Unit>Rounded / ToEpoch<Unit>Bucket / FromEpoch<Unit>Bucket —
    * run through the REGISTRY SPELLINGS on a dedicated Pinot-vocabulary
    * session (the same dispatch a Pinot user's SQL hits), grouped into
    * 15-minute buckets over events. The oracle re-derives every form with
    * integer floor arithmetic on epoch seconds; timestamps stay positive so
    * Spark's truncating IntegralDivide equals DuckDB's floor `//`. */
  private val epochBucketFuncs = Q(
    "q_scalar_epoch_bucket",
    (spark, dir) => {
      val s = graft.PinotFunctions.viewsSession(spark, dir)
      s.sql(
        """SELECT toEpochMinutesBucket(ts, 15) AS m15_idx,
          |  toEpochMillis(fromEpochMinutesBucket(toEpochMinutesBucket(ts, 15), 15)) AS m15_start_ms,
          |  min(toEpochSecondsRounded(ts, 300)) AS min_s300,
          |  max(toEpochHoursBucket(ts, 6)) AS max_h6,
          |  max(toEpochDaysRounded(ts, 2)) AS max_d2,
          |  count(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY 1""".stripMargin)
    },
    Some(
      """WITH ev AS (
        |  SELECT epoch_ns(ts) // 1000000000 AS es FROM events
        |)
        |SELECT CAST(es // 60 // 15 AS BIGINT) AS m15_idx,
        |       CAST((es // 60 // 15) * 15 * 60 * 1000 AS BIGINT) AS m15_start_ms,
        |       CAST(min((es // 300) * 300) AS BIGINT) AS min_s300,
        |       CAST(max(es // 3600 // 6) AS BIGINT) AS max_h6,
        |       CAST(max((es // 86400 // 2) * 2) AS BIGINT) AS max_d2,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM ev GROUP BY 1, 2 ORDER BY m15_idx""".stripMargin))

  /** CLP log-column model (round 6 — expressions/ClpExpressions; Pinot
    * CLPDECODE): synthesize a log line per event, clp_encode it into
    * (logtype, dictionary_vars, encoded_vars), clpdecode it back, and
    * report the logtype census — placeholders are translated to visible
    * markers (I/D/F) for the output. The oracle re-derives the expected
    * logtype per event_type directly from the known line structure
    * ('user=<int> did <type> at <dict shard token>') and asserts every row
    * round-trips; the general tokenizer is property-tested in ClpSpec. */
  private val clpFuncs = Q(
    "q_scalar_clp",
    (spark, dir) => {
      import org.apache.spark.sql.graft.GraftBridge
      import graft.expressions.{ClpDecode, ClpEncode}
      val msg = concat(
        lit("user="), col("user_id"), lit(" did "), col("event_type"),
        lit(" at shard-"), pmod(col("user_id"), lit(16)))
      val df = Tables.t(spark, dir, "events")
        .select(col("event_type"), msg.as("msg"))
        .withColumn("e", GraftBridge.column(
          ClpEncode(GraftBridge.expression(col("msg")))))
        .withColumn("back", GraftBridge.column(ClpDecode(
          GraftBridge.expression(col("e.logtype")),
          GraftBridge.expression(col("e.dictionary_vars")),
          GraftBridge.expression(col("e.encoded_vars")))))
      df.groupBy(
          translate(col("e.logtype"), "\u0011\u0012\u0013", "IDF").as("logtype_d"),
          size(col("e.dictionary_vars")).as("n_dict"),
          size(col("e.encoded_vars")).as("n_enc"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("back") === col("msg"), 1L).otherwise(0L)).as("n_roundtrip"))
        .orderBy(col("logtype_d"))
    },
    Some(
      """SELECT 'user=I did ' || event_type || ' at D' AS logtype_d,
        |       CAST(1 AS INT) AS n_dict,
        |       CAST(1 AS INT) AS n_enc,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(*) AS BIGINT) AS n_roundtrip
        |FROM events GROUP BY event_type ORDER BY logtype_d""".stripMargin))

  /** C9 polygon family (round 6 — expressions/GeoExpressions):
    * ST_GeomFromText('POLYGON …') → ST_Contains / ST_Area over a synthetic
    * plane (x = c_acctbal, y = c_nationkey). The oracle UNROLLS the exact
    * even-odd ray-cast edge test and the shoelace fold per edge of the
    * literal quad — identical IEEE double expressions in both engines, so
    * every containment boolean and the area double match bit for bit (no
    * epsilon, no rounding). */
  private val geoPoly: Q = {
    // ring order matters: kernel edges are (i, j=i-1 mod n)
    val verts = Seq(
      (1000.03, 2.57), (8000.11, 2.93), (9000.07, 19.31), (2000.19, 21.87))
    val wkt = verts.map { case (x, y) => s"$x $y" }
      .mkString("POLYGON ((", ", ", "))")
    val n = verts.length
    // DuckDB parses bare decimal literals as DECIMAL and folds them with
    // exact decimal arithmetic — cast every coordinate to DOUBLE so both
    // engines run the identical IEEE ops (the sparkRound lesson, again)
    def d(v: Double) = s"CAST($v AS DOUBLE)"
    // per-edge ray-cast terms, same (i, j) pairing and arithmetic as
    // GeoKernels.contains
    val edgeTerms = (0 until n).map { i =>
      val j = (i + n - 1) % n
      val (xi, yi) = verts(i)
      val (xj, yj) = verts(j)
      s"""CASE WHEN (${d(yi)} > py) <> (${d(yj)} > py)
         | AND px < (${d(xj)} - ${d(xi)}) * (py - ${d(yi)}) / (${d(yj)} - ${d(yi)}) + ${d(xi)}
         |THEN 1 ELSE 0 END""".stripMargin.replace("\n", "")
    }
    // shoelace fold in GeoKernels.area order: acc += xi*yk − xk*yi, k=i+1
    val areaSql = (0 until n).map { i =>
      val k = (i + 1) % n
      val (xi, yi) = verts(i)
      val (xk, yk) = verts(k)
      s"(${d(xi)} * ${d(yk)} - ${d(xk)} * ${d(yi)})"
    }.mkString("abs(", " + ", s") / 2.0")
    Q(
      "q_scalar_geo_poly",
      (spark, dir) => {
        import org.apache.spark.sql.graft.GraftBridge
        import graft.expressions.{StArea, StContains, StPolygonFromText}
        import org.apache.spark.sql.catalyst.expressions.Literal
        val poly = StPolygonFromText(Literal(wkt))
        val pt = struct(
          col("c_acctbal").as("x"),
          col("c_nationkey").cast("double").as("y"))
        Tables.t(spark, dir, "customer")
          .select(col("c_mktsegment"),
            GraftBridge.column(
              StContains(poly, GraftBridge.expression(pt))).as("inside"))
          .groupBy(col("c_mktsegment"))
          .agg(
            sum(when(col("inside"), 1L).otherwise(0L)).as("n_inside"),
            count(lit(1)).as("n_total"))
          .withColumn("ring_area", GraftBridge.column(StArea(poly)))
          .orderBy(col("c_mktsegment"))
      },
      Some(
        s"""WITH pts AS (
           |  SELECT c_mktsegment,
           |         c_acctbal AS px,
           |         CAST(c_nationkey AS DOUBLE) AS py
           |  FROM customer
           |), hits AS (
           |  SELECT c_mktsegment,
           |         (${edgeTerms.mkString(" + ")}) % 2 AS parity
           |  FROM pts
           |)
           |SELECT c_mktsegment,
           |       CAST(sum(CASE WHEN parity = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
           |       CAST(count(*) AS BIGINT) AS n_total,
           |       $areaSql AS ring_area
           |FROM hits GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))
  }

  /** C6 map access as a DECLARED query (was test-only — no map column in
    * the fixtures, so one is built from the JSON props): `from_json` to
    * MapType, `element_at` / `map_keys` / `map_contains_key` drive the
    * aggregation; the oracle reads the same values through DuckDB's JSON
    * extraction, so the map path is value-checked end to end. */
  private val mapFuncs = Q(
    "q_scalar_map",
    (spark, dir) => {
      val ev = Tables.t(spark, dir, "events")
      val m = from_json(col("props"),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
      // n_with_k counts KEY PRESENCE (map_contains_key ↔ DuckDB
      // list_contains(json_keys(..)) — both count a null-VALUED key as
      // present, unlike value extraction which yields NULL for it);
      // sum_k is value-based and null-safe on both sides
      ev.withColumn("m", m)
        .withColumn("k_val", expr("try_cast(element_at(m, 'k') AS int)"))
        .withColumn("has_k", map_contains_key(col("m"), "k"))
        .withColumn("n_keys", size(map_keys(col("m"))))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("has_k").cast("long")).as("n_with_k"),
          sum(col("k_val")).cast("long").as("sum_k"),
          max(col("n_keys")).as("max_keys"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type,
            |       CAST(count(*) AS BIGINT) AS n_events,
            |       CAST(sum(CASE WHEN list_contains(json_keys(props), 'k') THEN 1 ELSE 0 END) AS BIGINT) AS n_with_k,
            |       CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
            |       CAST(max(len(json_keys(props))) AS INT) AS max_keys
            |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** C1 string-generator family (Pinot 1.2 vocabulary: PREFIXES / SUFFIXES /
    * UNIQUENGRAMS both arities / SPLITPART / ISJSON — the text-index feeder
    * functions). Builders are shared between the Column API used here and
    * the SQL registry (`graft.expressions.StringGenerators`). Array results
    * are canonicalized to '|'-joined strings (array cells break the driver's
    * hash compare) — prefixes/suffixes have a defined natural order, so no
    * sort is needed; the n-gram sets are compared by SIZE (first-occurrence
    * vs hash order would differ). ISJSON runs over a synthesized mix of
    * valid and truncated JSON. Map-only + one final sort. */
  private val strGenFuncs = Q(
    "q_scalar_strgen",
    (spark, dir) => {
      import graft.functions._
      val d = Tables.t(spark, dir, "documents")
      val short = substring(col("text"), 1, 12)
      val probe = concat(lit("{\"a\":"), (col("n_chars") % 3).cast("string"),
        when(col("n_chars") % 2 === 0, lit("}")).otherwise(lit("")))
      d.select(
          col("doc_id"),
          array_join(str_prefixes(short, 4), "|").as("pfx"),
          array_join(str_suffixes(short, 3), "|").as("sfx"),
          size(unique_ngrams(short, 2)).cast("long").as("n2"),
          size(unique_ngrams(short, 2, 3)).cast("long").as("n23"),
          split_part_pinot(col("text"), " ", 2).as("sp"),
          is_json(probe).as("isj"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH s AS (
            |  SELECT doc_id, text, substr(text, 1, 12) AS short, n_chars FROM documents
            |)
            |SELECT doc_id,
            |  array_to_string(list_transform(range(1, least(length(short), 4) + 1),
            |                                 i -> substr(short, 1, CAST(i AS INT))), '|') AS pfx,
            |  array_to_string(list_transform(range(1, least(length(short), 3) + 1),
            |                                 i -> substr(short, length(short) - CAST(i AS INT) + 1, CAST(i AS INT))), '|') AS sfx,
            |  CAST(len(list_distinct(list_transform(range(1, greatest(length(short) - 2 + 1, 0) + 1),
            |                                        i -> substr(short, CAST(i AS INT), 2)))) AS BIGINT) AS n2,
            |  CAST(len(list_distinct(flatten(list_transform(
            |       list_filter(range(2, 4), g -> g <= length(short)),
            |       g -> list_transform(range(1, length(short) - CAST(g AS INT) + 1 + 1),
            |                           i -> substr(short, CAST(i AS INT), CAST(g AS INT))))))) AS BIGINT) AS n23,
            |  CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> '')) > 2
            |       THEN list_filter(string_split(text, ' '), x -> x <> '')[3]
            |       ELSE 'null' END AS sp,
            |  json_valid('{"a":' || CAST(n_chars % 3 AS VARCHAR) ||
            |             CASE WHEN n_chars % 2 = 0 THEN '}' ELSE '' END) AS isj
            |FROM s ORDER BY doc_id""".stripMargin))

  /** Pinot InetAddressFunctions (ISSUBNETOF): the fixtures carry no IP
    * column, so a deterministic IPv4 derives from event fields; Spark
    * evaluates real CIDR containment through the string parser
    * (`graft.expressions.IsSubnetOf`), while the oracle re-derives the same
    * memberships with pure integer mask arithmetic on the octets — two
    * independent evaluation paths over /10, /17 and /16 prefixes. Map-only
    * + one 5-row agg. */
  private val netFuncs = Q(
    "q_scalar_net",
    (spark, dir) => {
      import graft.functions.is_subnet_of
      val ev = Tables.t(spark, dir, "events")
      val ip = concat(
        lit("10."), (col("user_id") % 200).cast("string"),
        lit("."), (col("event_id") % 250).cast("string"),
        lit("."), ((col("user_id") * 7 + col("event_id")) % 256).cast("string"))
      ev.withColumn("ip", ip)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(is_subnet_of(lit("10.64.0.0/10"), col("ip")).cast("long")).as("n_in_10_64_10"),
          sum(is_subnet_of(lit("10.77.128.0/17"), col("ip")).cast("long")).as("n_in_10_77_128_17"),
          sum(is_subnet_of(lit("10.5.0.0/16"), col("ip")).cast("long")).as("n_in_10_5_16"))
        .orderBy(col("event_type"))
    },
    Some("""WITH ip AS (
            |  SELECT event_type,
            |         user_id % 200 AS o2, event_id % 250 AS o3,
            |         (user_id * 7 + event_id) % 256 AS o4
            |  FROM events
            |), v AS (
            |  SELECT event_type, 10 * 16777216 + o2 * 65536 + o3 * 256 + o4 AS addr FROM ip
            |)
            |SELECT event_type,
            |       CAST(count(*) AS BIGINT) AS n_events,
            |       CAST(sum(CASE WHEN addr // 4194304 = (10 * 16777216 + 64 * 65536) // 4194304 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_10_64_10,
            |       CAST(sum(CASE WHEN addr // 32768 = (10 * 16777216 + 77 * 65536 + 128 * 256) // 32768 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_10_77_128_17,
            |       CAST(sum(CASE WHEN addr // 65536 = (10 * 16777216 + 5 * 65536) // 65536 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_10_5_16
            |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin))

  /** C7 Pinot HashFunctions beyond the crypto digests: ADLER32 and
    * MURMURHASH2 (the Kafka/Pinot segment-partition hash) as codegen'd
    * kernels, hard-oracled through `graft.tools.DuckDbSql`-generated
    * bit-exact SQL replicas (unsigned-32 arithmetic emulated in BIGINT);
    * MD5 rides along as the native cross-check. CRC32C / MURMURHASH3BIT32
    * are spec-checked against published test vectors instead (no clean
    * DuckDB form). The SQL replicas hash CODEPOINTS (ascii per char) while
    * the kernels hash UTF-8 BYTES — identical only on ASCII input, so both
    * sides restrict to ASCII rows (byte length == char length), making the
    * oracle robust to a non-ASCII fixture regeneration (ADVICE r5).
    * Map-only + one sort. */
  private val hashFamily = Q(
    "q_scalar_hash_family",
    (spark, dir) => {
      import graft.functions.{adler32 => gadler32, murmur2 => gmurmur2}
      val d = Tables.t(spark, dir, "documents")
      d.filter(octet_length(col("text")) === length(col("text")))
        .select(
          col("doc_id"),
          md5(col("text").cast("binary")).as("md5_text"),
          gadler32(col("text")).as("adl"),
          gmurmur2(col("text")).as("m2"))
        .orderBy(col("doc_id"))
    },
    Some(s"""SELECT doc_id, md5(text) AS md5_text,
            |  ${graft.tools.DuckDbSql.adler32("text")} AS adl,
            |  ${graft.tools.DuckDbSql.murmur2("text")} AS m2
            |FROM documents WHERE strlen(text) = length(text)
            |ORDER BY doc_id""".stripMargin))

  /** Pinot StringFunctions vocabulary with Java-exact semantics Spark's
    * natives silently diverge from (round 7): split is a LITERAL
    * whole-separator split with empty tokens dropped (Spark's is regex);
    * strpos is 0-based Java indexOf with −1 absent (per-row digit probe
    * varies the answer); remove deletes every occurrence; hammingDistance
    * is −1 on unequal lengths else differing positions. Runs the REGISTRY
    * spellings on a Pinot-mode session; the oracle re-derives each kernel
    * (filtered literal split / strpos−1 / replace-with-empty / positional
    * diff count). */
  private val pinotStrings = Q(
    "q_scalar_pinot_strings",
    (spark, dir) => {
      val s = graft.PinotFunctions.viewsSession(spark, dir)
      s.sql(
        """SELECT n_name,
          |  array_join(split(n_name, 'I'), '|') AS sp,
          |  strpos(n_name, CAST(n_nationkey % 10 AS STRING)) AS pos,
          |  strpos(n_name, 'ZZZ') AS missing_pos,
          |  remove(n_name, 'N') AS rem,
          |  hammingDistance(n_name, reverse(n_name)) AS hd,
          |  hammingDistance(n_name, concat(n_name, 'x')) AS hd_len
          |FROM nation ORDER BY n_name""".stripMargin)
    },
    Some(
      """SELECT n_name,
        |  array_to_string(list_filter(string_split(n_name, 'I'), x -> x <> ''), '|') AS sp,
        |  CAST(strpos(n_name, CAST(n_nationkey % 10 AS VARCHAR)) - 1 AS INT) AS pos,
        |  CAST(strpos(n_name, 'ZZZ') - 1 AS INT) AS missing_pos,
        |  replace(n_name, 'N', '') AS rem,
        |  CAST(len(list_filter(range(1, len(n_name) + 1),
        |       i -> substr(n_name, CAST(i AS INT), 1) <> substr(reverse(n_name), CAST(i AS INT), 1))) AS INT) AS hd,
        |  CAST(-1 AS INT) AS hd_len
        |FROM nation ORDER BY n_name""".stripMargin))

  /** Pinot DateTimeFunctions field extractors (round 7): year/quarter/
    * week/dayOfWeek/hour/…/millisecond over EPOCH MILLIS with ISO
    * conventions and an optional zone arg — the registry spellings on a
    * Pinot-mode session (Spark's natives read typed timestamps in the
    * session zone; Pinot's read LONG millis in UTC/tz-arg). The IST hour
    * column exercises the zone arg against fixed +05:30 arithmetic in the
    * oracle; timezoneHour/Minute are offset parts at epoch. */
  private val epochFields = Q(
    "q_scalar_epoch_fields",
    (spark, dir) => {
      val s = graft.PinotFunctions.viewsSession(spark, dir)
      s.sql(
        """SELECT event_type,
          |  dayOfWeek(unix_millis(ts)) AS dow,
          |  yearOfWeek(unix_millis(ts)) AS yow,
          |  min(hour(unix_millis(ts))) AS min_h,
          |  max(quarter(unix_millis(ts))) AS max_q,
          |  min(hour(unix_millis(ts), 'Asia/Kolkata')) AS min_h_ist,
          |  max(millisecond(unix_millis(ts))) AS max_ms,
          |  timezoneHour('Asia/Kolkata') AS tzh,
          |  timezoneMinute('Asia/Kolkata') AS tzm,
          |  count(*) AS n
          |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)
    },
    Some(
      """WITH ev AS (
        |  SELECT event_type, CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS ms FROM events
        |), f AS (
        |  SELECT event_type, ms, epoch_ms(ms) AS t, epoch_ms(ms + 19800000) AS t_ist FROM ev
        |)
        |SELECT event_type,
        |  CAST(isodow(t) AS INT) AS dow,
        |  CAST(date_part('isoyear', t) AS INT) AS yow,
        |  CAST(min(hour(t)) AS INT) AS min_h,
        |  CAST(max(quarter(t)) AS INT) AS max_q,
        |  CAST(min(hour(t_ist)) AS INT) AS min_h_ist,
        |  CAST(max(ms % 1000) AS INT) AS max_ms,
        |  CAST(5 AS INT) AS tzh, CAST(30 AS INT) AS tzm,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin))

  /** Pinot ArithmeticFunctions verb spellings (round 9): ADD/SUB/MULT/DIV/
    * MOD are DOUBLE ops (div = float division, mod = IEEE fmod — porting
    * traps vs Spark's integral `div` / typed `%`), roundDecimal,
    * ifNotFinite guards (div-by-zero → default), Java Math.log edge
    * semantics (ln(0) = -Inf, ln(<0) = NaN — Spark natives answer NULL),
    * strrpos last/ordinal-from-end, jsonPath/jsonPathArray untyped forms —
    * all via the REGISTRY spellings on a Pinot-mode session. */
  private val pinotMath = Q(
    "q_scalar_pinot_math",
    (spark, dir) => {
      val s = graft.PinotFunctions.viewsSession(spark, dir)
      s.sql(
        """SELECT p_partkey,
          |  ADD(p_size, 1) AS a,
          |  SUB(p_retailprice, 100) AS sb,
          |  MULT(p_size, 2) AS m,
          |  ROUNDDECIMAL(DIV(p_retailprice, 7), 3) AS dv,
          |  MOD(p_retailprice, 7) AS md,
          |  IFNOTFINITE(DIV(p_size, MOD(p_partkey, 2)), -1.0) AS guarded,
          |  ROUNDDECIMAL(IFNOTFINITE(LN(CAST(p_size - 9 AS DOUBLE)), -999.0), 6) AS lnv,
          |  STRRPOS(p_name, 'd') AS rp,
          |  STRRPOS(p_name, 'd', 2) AS rp2,
          |  JSONPATH('{"k":' || CAST(p_size AS STRING) || '}', '$.k') AS jp,
          |  ARRAY_JOIN(JSONPATHARRAY(
          |    '[' || CAST(p_size AS STRING) || ',' || CAST(p_size + 1 AS STRING) || ']',
          |    '$'), ',') AS ja
          |FROM part ORDER BY p_partkey LIMIT 60""".stripMargin)
    },
    Some(
      s"""WITH pos AS (
        |  SELECT p_partkey, p_name, p_size, p_retailprice,
        |         list_filter(range(1, len(p_name) + 1),
        |                     i -> substr(p_name, CAST(i AS INT), 1) = 'd') AS ds
        |  FROM part)
        |SELECT p_partkey,
        |  CAST(p_size + 1 AS DOUBLE) AS a,
        |  p_retailprice - 100 AS sb,
        |  CAST(p_size * 2 AS DOUBLE) AS m,
        |  ${graft.tools.DuckDbSql.sparkRound("p_retailprice / 7", 3)} AS dv,
        |  fmod(p_retailprice, CAST(7 AS DOUBLE)) AS md,
        |  CASE WHEN p_partkey % 2 = 1 THEN CAST(p_size AS DOUBLE) ELSE -1.0 END AS guarded,
        |  ${graft.tools.DuckDbSql.sparkRound(
             "CASE WHEN p_size > 9 THEN ln(CAST(p_size - 9 AS DOUBLE)) ELSE -999.0 END", 6)} AS lnv,
        |  CAST(CASE WHEN len(ds) = 0 THEN -1 ELSE ds[-1] - 1 END AS INT) AS rp,
        |  CAST(CASE WHEN len(ds) < 2 THEN -1 ELSE ds[-2] - 1 END AS INT) AS rp2,
        |  CAST(p_size AS VARCHAR) AS jp,
        |  CAST(p_size AS VARCHAR) || ',' || CAST(p_size + 1 AS VARCHAR) AS ja
        |FROM pos ORDER BY p_partkey LIMIT 60""".stripMargin))

  /** C3 extension (round 9): Pinot timestampAdd/timestampDiff (+dateAdd/
    * dateDiff aliases) — calendar arithmetic over epoch millis in the UTC
    * chronology with a string-literal unit, end-of-month clamping on add
    * and FULL-units-elapsed diff (truncated toward zero — not DuckDB's
    * boundary counting, hence the to_months adjustment in the oracle). */
  private val tsArith = Q(
    "q_scalar_ts_arith",
    (spark, dir) => {
      val s = graft.PinotFunctions.viewsSession(spark, dir)
      val refMs = java.time.Instant.parse("2002-12-31T00:00:00Z").toEpochMilli
      s.sql(graft.PinotFunctions.rewriteBroker(
        s"""SELECT o_orderkey,
           |  timestampAdd('MONTH', 1, m) AS add_month_ms,
           |  dateAdd('DAY', 10, m) AS add_day_ms,
           |  timestampDiff('DAY', m, CAST($refMs AS LONG)) AS diff_day,
           |  dateDiff('MONTH', m, CAST($refMs AS LONG)) AS diff_month,
           |  timestampDiff('QUARTER', m, CAST($refMs AS LONG)) AS diff_quarter
           |FROM (SELECT o_orderkey,
           |        unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS m
           |      FROM orders)
           |ORDER BY o_orderkey LIMIT 50""".stripMargin))
    },
    Some {
      val refMs = java.time.Instant.parse("2002-12-31T00:00:00Z").toEpochMilli
      // full months from ts to ref = boundary count minus one when the
      // clamped add overshoots (java.time MONTHS.between semantics)
      s"""WITH base AS (
         |  SELECT o_orderkey, o_orderdate AS ts,
         |         CAST('2002-12-31 00:00:00' AS TIMESTAMP) AS ref
         |  FROM orders),
         |fm AS (
         |  SELECT o_orderkey, ts, ref,
         |         date_diff('month', ts, ref) AS m0
         |  FROM base),
         |adj AS (
         |  SELECT o_orderkey, ts, ref,
         |         m0 - CASE WHEN ts + to_months(CAST(m0 AS INT)) > ref
         |              THEN 1 ELSE 0 END AS full_m
         |  FROM fm)
         |SELECT o_orderkey,
         |  CAST(epoch_ms(ts + to_months(1)) AS BIGINT) AS add_month_ms,
         |  CAST(epoch_ms(ts + to_days(10)) AS BIGINT) AS add_day_ms,
         |  CAST(($refMs - epoch_ms(ts)) // 86400000 AS BIGINT) AS diff_day,
         |  CAST(full_m AS BIGINT) AS diff_month,
         |  CAST(full_m // 3 AS BIGINT) AS diff_quarter
         |FROM adj ORDER BY o_orderkey LIMIT 50""".stripMargin
    })

  val all: Seq[Q] = Seq(strFuncs, mathFuncs, dateFuncs, hashFuncs, arrayFuncs,
    explodeMv, urlFuncs, geoFuncs, geoPoly, epochBucketFuncs, clpFuncs,
    mapFuncs, strGenFuncs, netFuncs, hashFamily, pinotStrings, epochFields,
    pinotMath, tsArith)
}
