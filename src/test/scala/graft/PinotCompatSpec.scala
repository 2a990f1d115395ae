package graft

import graft.sources.Tables
import org.apache.spark.sql.Row

/** Pinot-surface SQL runs unmodified: each test issues a query in Pinot
  * 1.2.0 function vocabulary and checks it against the Spark-native
  * equivalent (or a hand-computed value). */
class PinotCompatSpec extends GraftSuite {

  // Pinot mode is session-scoped: a newSession() has its own function
  // registry, so redefined names (percentile 0-100, 0-based substr) never
  // leak into the ANSI/Spark-native surface of the parent session.
  private lazy val pinot: org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    PinotFunctions.register(s)
    Tables.registerViews(s, sfDir)
    s
  }

  private def one(sql: String): Row = pinot.sql(sql).collect().head

  test("GAPFILL table function: broker spelling lowers onto ops/Gapfill " +
      "(FILL_PREVIOUS / FILL_DEFAULT / literal default / SDF format)") {
    val p = pinot
    import p.implicits._
    // planted series with known gaps: hourly buckets 0..3 over [0, 4h)
    Seq(
      ("a", 3600000L, 1.0), ("a", 3600000L * 3, 2.0),
      ("b", 3600000L * 2, 5.0)
    ).toDF("k", "t", "v").createOrReplaceTempView("gf_obs")
    def run(fillSpec: String): Seq[(String, Long, Double)] =
      p.sql(PinotFunctions.rewriteGapfill(
        s"""SELECT k, t, v FROM GAPFILL(
           |  'SELECT k, t, v FROM gf_obs',
           |  't', '1:MILLISECONDS:EPOCH', '0', '14400000', '1:HOURS',
           |  $fillSpec, TIMESERIESON(k))
           |ORDER BY k, t""".stripMargin))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val h = 3600000L
    assert(run("FILL(v, 'FILL_PREVIOUS_VALUE')") === Seq(
      ("a", 0L, 0.0), ("a", h, 1.0), ("a", 2 * h, 1.0), ("a", 3 * h, 2.0),
      ("b", 0L, 0.0), ("b", h, 0.0), ("b", 2 * h, 5.0), ("b", 3 * h, 5.0)))
    assert(run("FILL(v, 'FILL_DEFAULT_VALUE')") === Seq(
      ("a", 0L, 0.0), ("a", h, 1.0), ("a", 2 * h, 0.0), ("a", 3 * h, 2.0),
      ("b", 0L, 0.0), ("b", h, 0.0), ("b", 2 * h, 5.0), ("b", 3 * h, 0.0)))
    assert(run("FILL(v, 'FILL_DEFAULT_VALUE', -1.0)") === Seq(
      ("a", 0L, -1.0), ("a", h, 1.0), ("a", 2 * h, -1.0), ("a", 3 * h, 2.0),
      ("b", 0L, -1.0), ("b", h, -1.0), ("b", 2 * h, 5.0), ("b", 3 * h, -1.0)))
    // observations OUTSIDE [start, end) are cut before filling
    Seq(("a", -h, 9.0), ("a", h, 1.0), ("a", 5 * h, 9.0))
      .toDF("k", "t", "v").createOrReplaceTempView("gf_out")
    assert(p.sql(PinotFunctions.rewriteGapfill(
      """SELECT k, t, v FROM GAPFILL('SELECT k, t, v FROM gf_out',
        |  't', '1:MILLISECONDS:EPOCH', '0', '7200000', '1:HOURS',
        |  FILL(v, 'FILL_PREVIOUS_VALUE'), TIMESERIESON(k)) ORDER BY t""".stripMargin))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq ===
      Seq((0L, 0.0), (h, 1.0)))
    // SIMPLE_DATE_FORMAT time column: the reference's own time format —
    // output comes back IN that format at bucket starts
    Seq(("a", "2024-01-01 00:30:00", 3.0), ("a", "2024-01-01 02:15:00", 4.0))
      .toDF("k", "t", "v").createOrReplaceTempView("gf_sdf")
    val sdf = p.sql(PinotFunctions.rewriteGapfill(
      """SELECT k, t, v FROM GAPFILL('SELECT k, t, v FROM gf_sdf',
        |  't', '1:HOURS:SIMPLE_DATE_FORMAT:yyyy-MM-dd HH:mm:ss',
        |  '2024-01-01 00:00:00', '2024-01-01 03:00:00', '1:HOURS',
        |  FILL(v, 'FILL_PREVIOUS_VALUE'), TIMESERIESON(k)) ORDER BY t""".stripMargin))
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSeq
    assert(sdf === Seq(
      ("2024-01-01 00:00:00", 3.0), ("2024-01-01 01:00:00", 3.0),
      ("2024-01-01 02:00:00", 4.0)))
    // misaligned range is a LOUD error, not a silent shift
    val e = intercept[Exception] {
      p.sql(PinotFunctions.rewriteGapfill(
        """SELECT * FROM GAPFILL('SELECT k, t, v FROM gf_obs', 't',
          |  '1:MILLISECONDS:EPOCH', '1', '14400000', '1:HOURS',
          |  FILL(v, 'FILL_PREVIOUS_VALUE'), TIMESERIESON(k))""".stripMargin)).collect()
    }
    assert(e.getMessage.contains("align"))
    // the rewriter is a no-op on SQL without GAPFILL, including strings
    // that merely CONTAIN the word inside a literal
    val passthrough = "SELECT 'gapfill((' AS s, k FROM gf_obs WHERE k <> 'FILL(x)'"
    assert(PinotFunctions.rewriteGapfill(passthrough) === passthrough)
    // Pinot's AGGREGATE-gapfill form: aggregation ON TOP of the filled
    // frame — the table function is a relation, so GROUP BY composes
    val agg = p.sql(PinotFunctions.rewriteGapfill(
      """SELECT k, sum(v) AS sv FROM GAPFILL('SELECT k, t, v FROM gf_obs',
        |  't', '1:MILLISECONDS:EPOCH', '0', '14400000', '1:HOURS',
        |  FILL(v, 'FILL_PREVIOUS_VALUE'), TIMESERIESON(k))
        |GROUP BY k ORDER BY k""".stripMargin))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(agg === Seq(("a", 4.0), ("b", 10.0))) // carried values summed
  }

  test("DATETRUNC / TOEPOCHSECONDS / FROMEPOCHSECONDS round-trip") {
    val r = one(
      """SELECT DATETRUNC('day', ts) AS d,
        |       TOEPOCHSECONDS(ts) AS es,
        |       FROMEPOCHSECONDS(TOEPOCHSECONDS(ts)) AS rt, ts
        |FROM events ORDER BY event_id LIMIT 1""".stripMargin)
    assert(r.getAs[java.sql.Timestamp]("d").toString.endsWith("00:00:00.0"))
    assert(r.getAs[Long]("es") ===
      r.getAs[java.sql.Timestamp]("ts").getTime / 1000)
    assert(r.getAs[java.sql.Timestamp]("rt").getTime / 1000 ===
      r.getAs[java.sql.Timestamp]("ts").getTime / 1000)
  }

  test("JSONEXTRACTSCALAR typed extraction with default") {
    val r = one(
      """SELECT JSONEXTRACTSCALAR(props, '$.k', 'LONG') AS k,
        |       JSONEXTRACTSCALAR(props, '$.missing', 'LONG', 7) AS dflt
        |FROM events ORDER BY event_id LIMIT 1""".stripMargin)
    assert(!r.isNullAt(0))
    assert(r.getAs[Long]("dflt") === 7L)
  }

  test("STRPOS is 0-based with -1 for missing (Pinot String.indexOf semantics)") {
    val r = one("SELECT STRPOS('hello', 'll') AS hit, STRPOS('hello', 'zz') AS miss")
    assert(r.getAs[Int]("hit") === 2)
    assert(r.getAs[Int]("miss") === -1)
  }

  test("SUBSTR is 0-based end-exclusive") {
    val r = one("SELECT SUBSTR('abcdef', 1, 3) AS mid, SUBSTR('abcdef', 2) AS tail")
    assert(r.getAs[String]("mid") === "bc")
    assert(r.getAs[String]("tail") === "cdef")
  }

  test("DISTINCTCOUNT / DISTINCTCOUNTHLL / MINMAXRANGE / PERCENTILE aggregate surface") {
    val r = one(
      """SELECT DISTINCTCOUNT(user_id) AS dc,
        |       DISTINCTCOUNTHLL(user_id) AS dchll,
        |       MINMAXRANGE(value) AS mmr,
        |       PERCENTILE(value, 50) AS p50
        |FROM events""".stripMargin)
    // expectation via the Column API — immune to the compat registry, which
    // (correctly, in Pinot mode) redefines SQL percentile() to take 0–100
    val expect = {
      import org.apache.spark.sql.functions._
      Tables.t(spark, sfDir, "events").agg(
        countDistinct(col("user_id")).as("dc"),
        (max(col("value")) - min(col("value"))).as("mmr"),
        percentile(col("value"), lit(0.5)).as("p50")).collect().head
    }
    assert(r.getAs[Long]("dc") === expect.getAs[Long]("dc"))
    assert(math.abs(r.getAs[Double]("mmr") - expect.getAs[Double]("mmr")) < 1e-9)
    assert(math.abs(r.getAs[Double]("p50") - expect.getAs[Double]("p50")) < 1e-9)
    val hll = r.getAs[Long]("dchll").toDouble
    assert(math.abs(hll - r.getAs[Long]("dc")) / r.getAs[Long]("dc") < 0.1)
  }

  test("DISTINCTSUM / DISTINCTAVG aggregate over the distinct values (Pinot 1.2)") {
    val r = one(
      "SELECT DISTINCTSUM(user_id) AS ds, DISTINCTAVG(user_id) AS da FROM events")
    val expect = {
      import org.apache.spark.sql.functions._
      Tables.t(spark, sfDir, "events").agg(
        sum_distinct(col("user_id")).as("ds"),
        avg(col("user_id")).as("_")) // avg placeholder; distinct avg below
    }
    val dsExpect = expect.collect().head.getAs[Long]("ds")
    assert(r.getAs[Long]("ds") === dsExpect)
    val distinctUsers = Tables.t(spark, sfDir, "events")
      .select("user_id").distinct()
    val daExpect = dsExpect.toDouble / distinctUsers.count()
    assert(math.abs(r.getAs[Double]("da") - daExpect) < 1e-6)
  }

  test("DISTINCTCOUNTRAWHLL returns a mergeable sketch: per-type sketches union to the global estimate") {
    // the Pinot raw-sketch workflow: store per-group sketch bytes, merge
    // downstream — estimate(union(per-type sketches)) ≈ global distinct
    val r = one(
      """SELECT hll_sketch_estimate(hll_union_agg(sk)) AS est
        |FROM (SELECT event_type, DISTINCTCOUNTRAWHLL(user_id) AS sk
        |      FROM events GROUP BY event_type)""".stripMargin)
    import org.apache.spark.sql.functions._
    val exact = Tables.t(spark, sfDir, "events")
      .agg(countDistinct(col("user_id"))).collect().head.getLong(0)
    assert(math.abs(r.getAs[Long]("est").toDouble - exact) / exact < 0.05,
      s"merged estimate ${r.getAs[Long]("est")} vs exact $exact")
  }

  test("FIRSTWITHTIME / LASTWITHTIME") {
    val r = one(
      """SELECT FIRSTWITHTIME(event_type, ts) AS first_t,
        |       LASTWITHTIME(event_type, ts) AS last_t
        |FROM events""".stripMargin)
    import org.apache.spark.sql.functions._
    val expect = Tables.t(spark, sfDir, "events").agg(
      min_by(col("event_type"), col("ts")).as("f"),
      max_by(col("event_type"), col("ts")).as("l")).collect().head
    assert(r.getString(0) === expect.getString(0))
    assert(r.getString(1) === expect.getString(1))
  }

  test("array/MV functions: ARRAYLENGTH, ARRAYSUM, ARRAYSLICE, VALUEIN, MV aggregates") {
    val r = one(
      """SELECT ARRAYLENGTH(embedding) AS alen,
        |       ROUND(ARRAYSUM(ARRAYSLICE(embedding, 0, 4)), 4) AS head_sum,
        |       ARRAYLENGTH(ARRAYSLICE(embedding, 0, 4)) AS slice_len
        |FROM embeddings ORDER BY vec_id LIMIT 1""".stripMargin)
    assert(r.getAs[Int]("alen") === 64)
    assert(r.getAs[Int]("slice_len") === 4)
    val mv = one("SELECT COUNTMV(embedding) AS n, ROUND(AVGMV(embedding), 6) AS a FROM embeddings")
    val expect = Tables.t(spark, sfDir, "embeddings")
      .selectExpr(
        "cast(size(embedding) as long) AS sz",
        "aggregate(embedding, 0.0D, (acc, x) -> acc + cast(x as double)) AS s")
      .agg(org.apache.spark.sql.functions.expr("cast(sum(sz) as long) AS n"),
           org.apache.spark.sql.functions.expr("round(sum(s) / sum(cast(sz as double)), 6) AS a"))
      .collect().head
    assert(mv.getAs[Long]("n") === expect.getAs[Long]("n"))
    assert(mv.getAs[Double]("a") === expect.getAs[Double]("a"))
    val vi = one("SELECT VALUEIN(array('a','b','c'), 'b', 'z') AS v")
    assert(vi.getSeq[String](0) === Seq("b"))
  }

  test("split limit form fuzz: engine output equals commons splitByWholeSeparator") {
    val rnd = new scala.util.Random(77L)
    (1 to 25).foreach { i =>
      val sep = Seq(",", "--", "ab")(i % 3)
      val parts = Seq.fill(1 + rnd.nextInt(6))(
        Seq.fill(rnd.nextInt(4))(('a' + rnd.nextInt(3)).toChar).mkString)
      val input = parts.mkString(sep)
      val limit = 1 + rnd.nextInt(4)
      val esc = input.replace("'", "''")
      val got = one(s"SELECT split('$esc', '$sep', $limit) AS s").getSeq[String](0)
      val want = org.apache.commons.lang3.StringUtils
        .splitByWholeSeparator(input, sep, limit).toSeq
      assert(got === want, s"case $i input='$input' sep='$sep' limit=$limit")
    }
  }

  test("epoch fields accept TIMESTAMP-typed input (polymorphic dispatch, tz arg)") {
    val r = one(
      """SELECT year(TIMESTAMP '2024-06-15 23:30:00') AS y,
        |       hour(TIMESTAMP '2024-06-15 23:30:00') AS h,
        |       day(TIMESTAMP '2024-06-15 23:30:00', 'Asia/Kolkata') AS d_ist
        |FROM region LIMIT 1""".stripMargin)
    assert(r.getInt(0) === 2024)
    assert(r.getInt(1) === 23)
    // 23:30 UTC + 5:30 = 05:00 next day in IST
    assert(r.getInt(2) === 16)
  }

  test("arithmetic guards, normalize, bytesToHex/hexToBytes") {
    val r = one(
      """SELECT intDiv(7, 2) AS d, intDivOrZero(7, 0) AS dz,
        |       moduloOrZero(7, 0) AS mz, positiveModulo(-7, 3) AS pm,
        |       isInfinite(CAST('Infinity' AS DOUBLE)) AS inf,
        |       isInfinite(1.5) AS ninf,
        |       isFinite(CAST('NaN' AS DOUBLE)) AS fin_nan,
        |       isFinite(2.5) AS fin,
        |       bytesToHex(toUtf8('ab')) AS hx,
        |       fromUtf8(hexToBytes('6869')) AS rt""".stripMargin)
    assert(r.getLong(r.fieldIndex("d")) === 3L)
    assert(r.getLong(r.fieldIndex("dz")) === 0L)
    assert(r.getLong(r.fieldIndex("mz")) === 0L)
    assert(r.getLong(r.fieldIndex("pm")) === 2L)
    assert(r.getBoolean(r.fieldIndex("inf")) && !r.getBoolean(r.fieldIndex("ninf")))
    assert(!r.getBoolean(r.fieldIndex("fin_nan")) && r.getBoolean(r.fieldIndex("fin")))
    assert(r.getString(r.fieldIndex("hx")) === "6162")
    assert(r.getString(r.fieldIndex("rt")) === "hi")
    // normalize: NFC composes the decomposed form; NFD decomposes back
    val decomposed = "e\u0301"
    val composed = "\u00e9"
    val n = one(s"SELECT normalize('$decomposed') AS nfc, normalize('$composed', 'NFD') AS nfd")
    assert(n.getString(0) === composed)
    assert(n.getString(1) === decomposed)
  }

  test("epoch-millis datetime fields (year/dayOfWeek/... on LONG, ISO conventions, tz arg)") {
    val r = one(
      """SELECT year(0) AS y0, year(0, 'America/New_York') AS y0_ny,
        |       quarter(0) AS q0, month(0) AS mo0, week(0) AS wk0,
        |       yearOfWeek(0) AS yow0, dayOfYear(0) AS doy0,
        |       dayOfMonth(0) AS dom0, dayOfWeek(0) AS dow0,
        |       hour(CAST(3600000 AS BIGINT)) AS h1, minute(CAST(3660000 AS BIGINT)) AS mi1,
        |       second(CAST(61000 AS BIGINT)) AS s1, millisecond(CAST(1234 AS BIGINT)) AS ms1,
        |       hour(0, 'Asia/Kolkata') AS h_ist,
        |       timezoneHour('Asia/Kolkata') AS tzh, timezoneMinute('Asia/Kolkata') AS tzm,
        |       timezoneHour('Asia/Kathmandu', 1700000000000) AS tzh_np,
        |       timezoneMinute('Asia/Kathmandu', 1700000000000) AS tzm_np,
        |       timezoneHour('America/New_York') AS tzh_ny""".stripMargin)
    assert(r.getAs[Int]("y0") === 1970)
    assert(r.getAs[Int]("y0_ny") === 1969) // UTC-5 at epoch
    assert(r.getAs[Int]("q0") === 1 && r.getAs[Int]("mo0") === 1)
    assert(r.getAs[Int]("wk0") === 1 && r.getAs[Int]("yow0") === 1970)
    assert(r.getAs[Int]("doy0") === 1 && r.getAs[Int]("dom0") === 1)
    assert(r.getAs[Int]("dow0") === 4) // 1970-01-01 = Thursday, ISO Monday=1
    assert(r.getAs[Int]("h1") === 1 && r.getAs[Int]("mi1") === 1)
    assert(r.getAs[Int]("s1") === 1 && r.getAs[Int]("ms1") === 234)
    assert(r.getAs[Int]("h_ist") === 5) // +05:30
    assert(r.getAs[Int]("tzh") === 5 && r.getAs[Int]("tzm") === 30)
    // Kathmandu moved to +05:45 in 1986 — the default (epoch-0) form
    // reports the HISTORICAL +05:30, so probe with a modern instant
    assert(r.getAs[Int]("tzh_np") === 5 && r.getAs[Int]("tzm_np") === 45)
    assert(r.getAs[Int]("tzh_ny") === -5)
    // polymorphic dispatch: the SPARK spelling over DATE/TIMESTAMP columns
    // still answers on this session (q_join_multi's oracle shape)
    val d = one("SELECT year(DATE '2024-03-05') AS yd, dayofmonth(DATE '2024-03-05') AS dd")
    assert(d.getAs[Int]("yd") === 2024 && d.getAs[Int]("dd") === 5)
  }

  test("epoch fields agree with Spark natives over random instants (UTC cross-check)") {
    // independent implementations: EpochField goes java.time-over-millis,
    // the parent-session natives go Catalyst datetime kernels over
    // timestamp_millis — agreement over random instants pins both
    val rnd = new scala.util.Random(20240814L)
    val ms = Seq.fill(64)(math.abs(rnd.nextLong()) % 4102444800000L) // 1970..2100
    val vals = ms.map(m => s"(CAST($m AS BIGINT))").mkString(", ")
    val got = pinot.sql(
      s"""SELECT m, year(m) AS y, month(m) AS mo, day(m) AS d, hour(m) AS h,
         |  minute(m) AS mi, second(m) AS s, dayofweek(m) AS dow,
         |  week(m) AS wk, millisecond(m) AS msec
         |FROM VALUES $vals AS t(m) ORDER BY m""".stripMargin).collect()
    val want = spark.sql(
      s"""SELECT m, year(timestamp_millis(m)) AS y, month(timestamp_millis(m)) AS mo,
         |  day(timestamp_millis(m)) AS d, hour(timestamp_millis(m)) AS h,
         |  minute(timestamp_millis(m)) AS mi, second(timestamp_millis(m)) AS s,
         |  weekday(timestamp_millis(m)) + 1 AS dow,
         |  weekofyear(timestamp_millis(m)) AS wk,
         |  CAST(m % 1000 AS INT) AS msec
         |FROM VALUES $vals AS t(m) ORDER BY m""".stripMargin).collect()
    got.zip(want).foreach { case (g, w) =>
      (1 until w.length).foreach { c =>
        assert(g.getInt(c) === w.get(c).asInstanceOf[Number].intValue(),
          s"ms=${g.getLong(0)} col $c")
      }
    }
  }

  test("split/strpos/remove/hammingDistance follow Pinot StringFunctions (commons) semantics") {
    val r = one(
      """SELECT array_join(split('a..b..c', '.'), '|') AS sp,
        |       array_join(split('x,,y,z,w', ',', 3), '|') AS sp_lim,
        |       strpos('abcabc', 'bc') AS p1,
        |       strpos('abcabc', 'bc', 2) AS p2,
        |       strpos('abcabc', 'zz') AS p_missing,
        |       remove('banana', 'an') AS rm,
        |       hammingDistance('karolin', 'kathrin') AS hd,
        |       hammingDistance('abc', 'ab') AS hd_len""".stripMargin)
    // literal split, empties dropped (NOT regex: '.' is not a wildcard)
    assert(r.getAs[String]("sp") === "a|b|c")
    // limit form: commons splitByWholeSeparator(str, sep, 3) — the last
    // token carries the remainder including separators
    assert(r.getAs[String]("sp_lim") ===
      org.apache.commons.lang3.StringUtils.splitByWholeSeparator("x,,y,z,w", ",", 3).mkString("|"))
    assert(r.getAs[Int]("p1") === 1)   // Java indexOf: 0-based
    assert(r.getAs[Int]("p2") === 4)   // ordinalIndexOf, 2nd occurrence
    assert(r.getAs[Int]("p_missing") === -1)
    assert(r.getAs[String]("rm") === "ba")
    assert(r.getAs[Int]("hd") === 3)
    assert(r.getAs[Int]("hd_len") === -1)
  }

  test("ARRAYELEMENTAT (1-based like Pinot ArrayFunctions, invalid index null) and CODEPOINT") {
    // Pinot: values[idx - 1] — 1-based, unlike its 0-based arrayIndexOf/
    // arraySlice. Invalid indexes (OOB/zero/negative) soften to null here
    // (Pinot throws AIOOBE; Spark's from-the-end negatives are blocked).
    val r = one(
      """SELECT arrayElementAtString(array('x','y','z'), 1) AS e1,
        |       arrayElementAtInt(array(10, 20, 30), 3) AS e3,
        |       arrayElementAtInt(array(10, 20, 30), 0) AS zero,
        |       arrayElementAtInt(array(10, 20, 30), -1) AS neg,
        |       arrayElementAtInt(array(10, 20, 30), 9) AS oob,
        |       codepoint('A') AS cp""".stripMargin)
    assert(r.getAs[String]("e1") === "x")
    assert(r.getAs[Int]("e3") === 30)
    assert(r.isNullAt(r.fieldIndex("zero")))
    assert(r.isNullAt(r.fieldIndex("neg")), "negative must not mean from-the-end")
    assert(r.isNullAt(r.fieldIndex("oob")))
    assert(r.getAs[Int]("cp") === 65)
  }

  test("hash/binary: SHA256, TOBASE64/FROMBASE64 round-trip") {
    val r = one(
      """SELECT SHA256(TOUTF8('abc')) AS h,
        |       FROMBASE64(TOBASE64(TOUTF8('graft'))) AS rt""".stripMargin)
    assert(r.getString(0) ===
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(new String(r.getAs[Array[Byte]]("rt"), "UTF-8") === "graft")
  }

  test("CONCAT 3-arg uses separator (Pinot form)") {
    val r = one("SELECT CONCAT('a', 'b', '-') AS c2")
    assert(r.getString(0) === "a-b")
  }

  test("TIMECONVERT / DATETIMECONVERT epoch rescaling and bucketing") {
    val r = one(
      """SELECT TIMECONVERT(90061000, 'MILLISECONDS', 'SECONDS') AS s,
        |       TIMECONVERT(25, 'HOURS', 'DAYS') AS d,
        |       DATETIMECONVERT(90061000, '1:MILLISECONDS:EPOCH',
        |                       '1:MINUTES:EPOCH', '15:MINUTES') AS m15
        |""".stripMargin)
    assert(r.getAs[Long]("s") === 90061L)
    assert(r.getAs[Long]("d") === 1L)
    // 90061000 ms = 1501.02 min -> 15-min bucket floor = 1500 min
    assert(r.getAs[Long]("m15") === 1500L)
  }

  test("DATETIMECONVERT SIMPLE_DATE_FORMAT forms (the reference's own time-column format)") {
    // the reference time column is STRING SIMPLE_DATE_FORMAT
    // 'yyyy-MM-dd HH:mm:ss' (kinesisTable.json:26-31) — SDF in, epoch-days
    // out, and the reverse, with bucketing in between
    val r = one(
      """SELECT DATETIMECONVERT('2024-05-01 10:34:56',
        |         '1:SECONDS:SIMPLE_DATE_FORMAT:yyyy-MM-dd HH:mm:ss',
        |         '1:DAYS:EPOCH', '1:DAYS') AS ed,
        |       DATETIMECONVERT('2024-05-01 10:34:56',
        |         '1:SECONDS:SIMPLE_DATE_FORMAT:yyyy-MM-dd HH:mm:ss',
        |         '1:SECONDS:SIMPLE_DATE_FORMAT:yyyy-MM-dd HH:mm',
        |         '15:MINUTES') AS sdf15
        |""".stripMargin)
    // 2024-05-01 = 19844 days since epoch (UTC session)
    assert(r.getAs[Long]("ed") === 19844L)
    assert(r.getAs[String]("sdf15") === "2024-05-01 10:30")
  }

  test("JSONEXTRACTKEY lists the top-level keys") {
    val r = one("""SELECT JSONEXTRACTKEY('{"a": 1, "b": {"c": 2}}', '$.*') AS ks""")
    assert(r.getSeq[String](0) === Seq("a", "b"))
    intercept[Exception](pinot.sql("SELECT JSONEXTRACTKEY('{}', '$.a.b') AS x").collect())
  }

  test("LOOKUP expands to a dimension join (Pinot lookUp, J6)") {
    import org.apache.spark.sql.functions._
    val df = pinot.sql(
      """SELECT l_orderkey, l_partkey,
        |       LOOKUP('part', 'p_brand', 'p_partkey', l_partkey) AS brand
        |FROM lineitem ORDER BY l_orderkey, l_partkey LIMIT 20""".stripMargin)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val expect = Tables.t(spark, sfDir, "lineitem")
      .join(Tables.t(spark, sfDir, "part"),
        col("l_partkey") === col("p_partkey"), "left")
      .select(col("l_orderkey"), col("l_partkey"), col("p_brand"))
      .orderBy(col("l_orderkey"), col("l_partkey")).limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got === expect)
    // the rewrite produced a real join, not a per-row subquery execution
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("Join"), s"expected a join in:\n$plan")
  }

  test("REGEXPEXTRACT group + default; DISTINCTCOUNTTHETASKETCH answers") {
    val r = one(
      """SELECT REGEXPEXTRACT('ab-123-z', '([0-9]+)', 1) AS g,
        |       REGEXPEXTRACT('no digits', '([0-9]+)', 1, 'none') AS dflt
        |""".stripMargin)
    assert(r.getString(0) === "123")
    assert(r.getString(1) === "none")
    val n = one("SELECT DISTINCTCOUNTTHETASKETCH(l_returnflag) AS n FROM lineitem")
    assert(n.getLong(0) === 3L)
  }

  test("TEXT_MATCH full-scan superset: terms, phrases, prefixes, AND/OR (F8)") {
    val r = one(
      """SELECT TEXT_MATCH('The Quick Brown Fox', 'quick') AS term,
        |       TEXT_MATCH('The Quick Brown Fox', 'quick AND fox') AS conj,
        |       TEXT_MATCH('The Quick Brown Fox', 'cat OR fox') AS disj,
        |       TEXT_MATCH('The Quick Brown Fox', '"brown fox"') AS phrase,
        |       TEXT_MATCH('The Quick Brown Fox', 'qui*') AS prefix,
        |       TEXT_MATCH('The Quick Brown Fox', 'quicker') AS nomatch
        |""".stripMargin)
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2)
      && r.getBoolean(3) && r.getBoolean(4))
    assert(!r.getBoolean(5))
    // round 8: mixed AND/OR now parses at standard precedence (AND binds
    // tighter), parens group, NOT negates — and malformed queries STAY loud
    val m = one(
      """SELECT TEXT_MATCH('The Quick Brown Fox', 'cat AND quick OR fox') AS mixed,
        |       TEXT_MATCH('The Quick Brown Fox', '(cat OR fox) AND quick') AS grouped,
        |       TEXT_MATCH('The Quick Brown Fox', 'quick AND NOT cat') AS negated,
        |       TEXT_MATCH('The Quick Brown Fox', 'qu?ck AND f*x') AS wild
        |""".stripMargin)
    assert(m.getBoolean(0) && m.getBoolean(1) && m.getBoolean(2) && m.getBoolean(3))
    intercept[Exception](one("SELECT TEXT_MATCH('x', 'a b') AS bad")) // implicit op
    intercept[Exception](one("SELECT TEXT_MATCH('x', '(a AND b') AS bad2"))
  }

  test("TEXT_MATCH filters rows over the documents table") {
    val n = pinot.sql(
      "SELECT count(*) AS n FROM documents WHERE TEXT_MATCH(text, 'the')")
      .collect().head.getLong(0)
    val expect = Tables.t(spark, sfDir, "documents")
      .filter(org.apache.spark.sql.functions.col("text").rlike("(?i)\\bthe\\b")).count()
    assert(n === expect)
  }

  test("JSON_MATCH path predicates: equality, numeric compare, null checks (F8)") {
    val json = """'{"name": "Daffy Duck", "id": 101, "data": {"x": 2}}'"""
    val r = one(
      s"""SELECT JSON_MATCH($json, '"$$.name" = ''Daffy Duck''') AS eq_str,
         |       JSON_MATCH($json, '"$$.id" = 101') AS eq_num,
         |       JSON_MATCH($json, '"$$.id" > 100') AS gt_num,
         |       JSON_MATCH($json, '"$$.data.x" <= 2') AS nested,
         |       JSON_MATCH($json, '"$$.missing" IS NULL') AS isnull,
         |       JSON_MATCH($json, '"$$.name" IS NOT NULL') AS notnull,
         |       JSON_MATCH($json, '"$$.id" != 101') AS neq
         |""".stripMargin)
    (0 to 5).foreach(i => assert(r.getBoolean(i), s"predicate $i"))
    assert(!r.getBoolean(6))
    intercept[Exception](one("SELECT JSON_MATCH('{}', 'not a filter') AS bad"))
  }

  test("JSON_MATCH numeric compare on a non-numeric value is no-match, not an error") {
    // Pinot's broker treats a malformed value at the path as non-matching;
    // under ANSI a plain cast would throw at runtime — must be TRY semantics
    val json = """'{"id": "not-a-number"}'"""
    val r = one(
      s"""SELECT coalesce(JSON_MATCH($json, '"$$.id" > 100'), false) AS gt,
         |       coalesce(JSON_MATCH($json, '"$$.id" = 5'), false) AS eq
         |""".stripMargin)
    assert(!r.getBoolean(0) && !r.getBoolean(1))
  }

  test("NOW()/AGO() return epoch millis; ENCODEURL/DECODEURL round-trip") {
    val before = System.currentTimeMillis()
    val r = one(
      """SELECT NOW() AS now_ms, AGO('PT1H') AS hour_ago,
        |       ENCODEURL('a b&c=d') AS enc,
        |       DECODEURL(ENCODEURL('a b&c=d')) AS roundtrip""".stripMargin)
    val after = System.currentTimeMillis()
    val nowMs = r.getAs[Long]("now_ms")
    assert(nowMs >= before && nowMs <= after + 1000, s"NOW() $nowMs outside [$before, $after]")
    assert(math.abs(nowMs - r.getAs[Long]("hour_ago") - 3600000L) < 5000L)
    assert(r.getAs[String]("enc") === "a+b%26c%3Dd")
    assert(r.getAs[String]("roundtrip") === "a b&c=d")
    intercept[Exception](one("SELECT AGO('not a period') AS bad"))
  }

  test("ST_* point family (C9): point round-trip, WKT parse, haversine meters") {
    val r = one(
      """SELECT ST_X(ST_POINT(-74.006, 40.7128)) AS x,
        |       ST_Y(ST_POINT(-74.006, 40.7128)) AS y,
        |       ST_ASTEXT(ST_POINT(-74.006, 40.7128)) AS wkt,
        |       ST_X(ST_GEOGFROMTEXT('POINT (2.3522 48.8566)')) AS px,
        |       ST_DISTANCE(ST_POINT(0.0, 0.0), ST_POINT(0.0, 1.0)) AS one_deg_lat,
        |       ST_DISTANCE(ST_POINT(-74.006, 40.7128), ST_POINT(2.3522, 48.8566)) AS nyc_paris
        |""".stripMargin)
    assert(r.getAs[Double]("x") === -74.006)
    assert(r.getAs[Double]("y") === 40.7128)
    assert(r.getAs[String]("wkt") === "POINT (-74.006 40.7128)")
    assert(r.getAs[Double]("px") === 2.3522)
    // 1 degree of latitude = pi/180 * R = 111,195 m with R = 6371008.8
    assert(math.abs(r.getAs[Double]("one_deg_lat") - 111194.93) < 1.0)
    // NYC -> Paris great-circle ~ 5,837 km
    assert(math.abs(r.getAs[Double]("nyc_paris") - 5837000.0) < 10000.0)
    // SQL surface and Column surface are the same formula, bit-for-bit
    val viaColumn = spark.range(1).select(
      graft.functions.haversine_meters(
        org.apache.spark.sql.functions.lit(40.7128), org.apache.spark.sql.functions.lit(-74.006),
        org.apache.spark.sql.functions.lit(48.8566), org.apache.spark.sql.functions.lit(2.3522)))
      .head().getDouble(0)
    assert(r.getAs[Double]("nyc_paris") === viaColumn)
  }

  test("opt-in implicit LIMIT 10 (O2): bare SELECTs take the broker default, explicit limits win") {
    val total = pinot.sql("SELECT count(*) AS c FROM lineitem").collect().head.getLong(0)
    assert(total > 10, s"fixture too small for the test to mean anything ($total rows)")
    // default mode (conf unset): full ANSI result — the documented divergence
    assert(pinot.sql("SELECT l_orderkey FROM lineitem").collect().length === total)
    pinot.conf.set(graft.plans.PinotImplicitLimitRule.confKey, "true")
    try {
      // bare SELECT → broker-default 10 rows; also applies to group-bys
      // (Pinot limits every query shape)
      assert(pinot.sql("SELECT l_orderkey FROM lineitem").collect().length === 10)
      assert(pinot.sql(
        "SELECT l_returnflag, count(*) AS c FROM lineitem GROUP BY l_returnflag, l_linenumber")
        .collect().length === 10)
      // an explicit LIMIT is never overridden
      assert(pinot.sql("SELECT l_orderkey FROM lineitem LIMIT 3").collect().length === 3)
      // subqueries are NOT truncated: the inner unlimited SELECT must feed
      // the outer aggregate in full
      val subq = pinot.sql(
        "SELECT count(*) AS c FROM (SELECT l_orderkey FROM lineitem)")
        .collect().head.getLong(0)
      assert(subq === total, s"inner query truncated: $subq != $total")
    } finally pinot.conf.set(graft.plans.PinotImplicitLimitRule.confKey, "false")
    assert(pinot.sql("SELECT l_orderkey FROM lineitem").collect().length === total)
  }

  test("opt-in Pinot null defaults (F6): scans substitute type defaults; ANSI mode keeps SQL nulls") {
    // null-bearing fixture through a real file scan (the rule rewrites
    // LogicalRelation — Pinot substitutes at segment build, we at the scan)
    val dir = tempDir("graft-nulldef") + "/t"
    spark.sql(
      """SELECT * FROM VALUES
        |  (1, CAST(10 AS INT),   'a',                CAST(1.5 AS DOUBLE)),
        |  (2, CAST(NULL AS INT), CAST(NULL AS STRING), CAST(NULL AS DOUBLE)),
        |  (3, CAST(-7 AS INT),  'c',                CAST(2.5 AS DOUBLE))
        |AS t(id, v, s, d)""".stripMargin)
      .write.parquet(dir)
    pinot.read.parquet(dir).createOrReplaceTempView("nulldef_t")

    // ANSI default: SQL nulls — IS NULL true, count(v) skips, filter drops
    val ansi = pinot.sql(
      "SELECT count(v) AS cv, count(*) AS n FROM nulldef_t WHERE v < 5").collect().head
    assert(ansi.getLong(1) === 1L) // only -7 matches; null row dropped

    pinot.conf.set(graft.plans.PinotNullDefaultsRule.confKey, "true")
    try {
      // SELECT surfaces the Pinot default values, never SQL null
      val rows = pinot.sql("SELECT id, v, s, d FROM nulldef_t ORDER BY id").collect()
      assert(rows(1).getInt(1) === Int.MinValue)
      assert(rows(1).getString(2) === "null")
      assert(rows(1).getDouble(3) === Double.NegativeInfinity)
      // filters see the defaults: v < 5 now matches the null row (MIN_VALUE)
      val n = pinot.sql("SELECT count(*) AS n FROM nulldef_t WHERE v < 5")
        .collect().head.getLong(0)
      assert(n === 2L)
      // count(col) counts every row and IS NULL is never true — Pinot
      // without enableNullHandling has no SQL nulls at all
      val agg = pinot.sql(
        "SELECT count(v) AS cv, count(CASE WHEN s IS NULL THEN 1 END) AS isn FROM nulldef_t")
        .collect().head
      assert(agg.getLong(0) === 3L && agg.getLong(1) === 0L)
      // column pruning survives: a 2-column query must not read all 4
      val df = pinot.sql("SELECT v FROM nulldef_t WHERE id = 2")
      df.collect()
      val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get
      assert(scan.metadata("ReadSchema") === "struct<id:int,v:int>",
        s"pruning lost: ${scan.metadata("ReadSchema")}")
    } finally pinot.conf.set(graft.plans.PinotNullDefaultsRule.confKey, "false")
    // toggle off restores ANSI semantics on the same session
    assert(pinot.sql("SELECT count(*) AS n FROM nulldef_t WHERE v < 5")
      .collect().head.getLong(0) === 1L)
  }

  test("tuple / CPC / KLL / frequent-strings sketch families (Pinot 1.2 vocabulary)") {
    import org.apache.spark.sql.functions._
    // expectations computed on the PARENT session — the pinot session
    // redefines percentile() to the 0-100 form (CLAUDE.md rule)
    val events = Tables.t(spark, sfDir, "events")
    val exactUsers = events.agg(countDistinct(col("user_id"))).collect().head.getLong(0)
    val rows = events.filter(col("user_id").isNotNull).count()

    // Pinot's tuple aggregates consume a BYTES column of serialized
    // sketches (built at ingest time); stage per-type cells the same way
    import graft.expressions.TupleSketch.tupleSketchAgg
    Tables.t(pinot, sfDir, "events").groupBy(col("event_type"))
      .agg(tupleSketchAgg(col("user_id"), lit(1)).as("sk"))
      .createOrReplaceTempView("tuple_cells")
    val t = one(
      """SELECT DISTINCTCOUNTTUPLESKETCH(sk) AS dc,
        |       SUMVALUESINTEGERSUMTUPLESKETCH(sk) AS sv,
        |       AVGVALUEINTEGERSUMTUPLESKETCH(sk) AS av
        |FROM tuple_cells""".stripMargin)
    assert(t.getAs[Long]("dc") === exactUsers, "exact below 2^lgK")
    assert(t.getAs[Long]("sv") === rows, "value-1 sums count every event per user")
    assert(math.abs(t.getAs[Double]("av") - rows.toDouble / exactUsers) < 1e-9)

    val cpc = one("SELECT DISTINCTCOUNTCPCSKETCH(user_id) AS dc FROM events")
    assert(math.abs(cpc.getAs[Long]("dc").toDouble - exactUsers) / exactUsers < 0.05)

    val p50Exact = events.agg(percentile(col("value"), lit(0.5)))
      .collect().head.getDouble(0)
    val kll = one("SELECT PERCENTILEKLL(value, 50) AS p50 FROM events")
    assert(math.abs(kll.getAs[Double]("p50") - p50Exact) / p50Exact < 0.05)

    // FREQUENTSTRINGSSKETCH returns the serialized sketch for client-side
    // merging (Pinot contract); decode and check it carries exact counts
    val fs = one("SELECT FREQUENTSTRINGSSKETCH(event_type) AS sk FROM events")
    val bytes = fs.getAs[Array[Byte]]("sk")
    assert(graft.expressions.FreqOps.maxError(bytes) === 0L)
    val topExact = events.groupBy(col("event_type")).count()
      .orderBy(col("count").desc, col("event_type").asc).limit(1)
      .collect().head
    assert(graft.expressions.FreqOps.topK(bytes, 1).toString ===
      s"${topExact.getString(0)}:${topExact.getLong(1)}")
  }

  test("scalar vector family: COSINEDISTANCE / INNERPRODUCT / L1,L2DISTANCE / VECTORDIMS / VECTORNORM") {
    val r = one(
      """SELECT COSINEDISTANCE(a.embedding, b.embedding) AS cosd,
        |       COSINEDISTANCE(a.embedding, b.embedding, 0.0) AS cosd_dflt,
        |       INNERPRODUCT(a.embedding, b.embedding) AS ip,
        |       L1DISTANCE(a.embedding, b.embedding) AS l1,
        |       L2DISTANCE(a.embedding, b.embedding) AS l2,
        |       VECTORDIMS(a.embedding) AS dims,
        |       VECTORNORM(a.embedding) AS nrm
        |FROM embeddings a JOIN embeddings b
        |  ON a.vec_id = 0 AND b.vec_id = 1""".stripMargin)
    // hand-compute from the raw vectors (parent session, float64 folds)
    val vecs = Tables.t(spark, sfDir, "embeddings")
      .filter("vec_id IN (0, 1)").orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).map(_.toDouble))
    val Array(va, vb) = vecs
    val dot = va.zip(vb).map { case (x, y) => x * y }.sum
    val na = math.sqrt(va.map(x => x * x).sum)
    val nb = math.sqrt(vb.map(x => x * x).sum)
    assert(math.abs(r.getAs[Double]("cosd") - (1.0 - dot / (na * nb))) < 1e-9)
    assert(math.abs(r.getAs[Double]("cosd_dflt") - r.getAs[Double]("cosd")) < 1e-9)
    assert(math.abs(r.getAs[Double]("ip") - dot) < 1e-9)
    assert(math.abs(r.getAs[Double]("l1") -
      va.zip(vb).map { case (x, y) => math.abs(x - y) }.sum) < 1e-9)
    assert(math.abs(r.getAs[Double]("l2") -
      math.sqrt(va.zip(vb).map { case (x, y) => (x - y) * (x - y) }.sum)) < 1e-9)
    assert(r.getAs[Int]("dims") === va.length)
    assert(math.abs(r.getAs[Double]("nrm") - na) < 1e-9)
  }

  test("TIMESTAMPADD/TIMESTAMPDIFF, FromEpoch coarse units, ARRAYINDEXOF*") {
    val r = one(
      """SELECT TIMESTAMPADD(HOUR, 3, TIMESTAMP '2024-05-01 10:00:00') AS plus3h,
        |       TIMESTAMPDIFF(MINUTE, TIMESTAMP '2024-05-01 10:00:00',
        |                     TIMESTAMP '2024-05-01 11:30:00') AS diffm,
        |       FROMEPOCHDAYS(19844) AS d,
        |       FROMEPOCHHOURS(19844 * 24 + 6) AS h,
        |       FROMEPOCHMINUTES(CAST(19844 AS BIGINT) * 1440 + 90) AS m,
        |       ARRAYINDEXOFINT(ARRAY(7, 8, 9), 9) AS hit,
        |       ARRAYINDEXOFSTRING(ARRAY('a', 'b'), 'z') AS miss""".stripMargin)
    assert(r.getAs[java.sql.Timestamp]("plus3h").toString === "2024-05-01 13:00:00.0")
    assert(r.getAs[Long]("diffm") === 90L)
    // 19844 epoch days = 2024-05-01 UTC
    assert(r.getAs[java.sql.Timestamp]("d").toString === "2024-05-01 00:00:00.0")
    assert(r.getAs[java.sql.Timestamp]("h").toString === "2024-05-01 06:00:00.0")
    assert(r.getAs[java.sql.Timestamp]("m").toString === "2024-05-01 01:30:00.0")
    assert(r.getAs[Long]("hit") === 2L, "0-based index")
    assert(r.getAs[Long]("miss") === -1L, "-1 for missing (Pinot contract)")
  }
}
