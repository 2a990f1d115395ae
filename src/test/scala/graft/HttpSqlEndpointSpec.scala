package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.sources.Tables

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

/** End-to-end S11 over the reference's REAL wire protocol: HTTP
  * `POST /query/sql` answered in the Pinot broker response shape
  * (resultTable.dataSchema + rows + exceptions), including the ALB
  * health-check GET on the same path
  * (`/root/reference/lib/apache-pinot-solution-stack.ts:714-728`). */
class HttpSqlEndpointSpec extends GraftSuite {

  private val mapper = new ObjectMapper()
  private lazy val httpServer = {
    Tables.registerViews(spark, sfDir)
    server.HttpSqlEndpoint.start(spark, port = 0, maxRows = 1000)
  }
  private lazy val base = s"http://localhost:${httpServer.getAddress.getPort}"
  private val client = HttpClient.newHttpClient()

  private def post(sql: String, queryOptions: Option[String] = None,
      at: => String = base): com.fasterxml.jackson.databind.JsonNode = {
    val body = mapper.createObjectNode()
    body.put("sql", sql)
    queryOptions.foreach(body.put("queryOptions", _))
    val req = HttpRequest.newBuilder(URI.create(s"$at/query/sql"))
      .POST(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(body), StandardCharsets.UTF_8))
      .header("Content-Type", "application/json")
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() === 200, resp.body())
    mapper.readTree(resp.body())
  }

  test("POST /query/sql answers in the Pinot broker response shape") {
    val r = post("SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")
    assert(r.get("exceptions").size() === 0)
    val schema = r.get("resultTable").get("dataSchema")
    assert(schema.get("columnNames").get(0).asText() === "l_returnflag")
    assert(schema.get("columnNames").get(1).asText() === "n")
    assert(schema.get("columnDataTypes").get(0).asText() === "STRING")
    assert(schema.get("columnDataTypes").get(1).asText() === "LONG")
    val rows = r.get("resultTable").get("rows")
    assert(rows.size() === 3)
    assert((0 until 3).map(i => rows.get(i).get(0).asText()) === Seq("A", "N", "R"))
    val total = (0 until 3).map(i => rows.get(i).get(1).asLong()).sum
    assert(total === Tables.t(spark, sfDir, "lineitem").count())
    assert(r.get("numRowsResultSet").asInt() === 3)
    assert(!r.get("truncated").asBoolean())
  }

  test("declared-query parity over HTTP: endpoint cells match the DataFrame path") {
    val names = Seq("q_agg_having", "q_join_inner", "q_win_rank", "q_union_all")
    names.foreach { name =>
      val expected = SparkEntry.queries(name)(spark, sfDir).collect()
      val rows = post(SparkEntry.oracleSql(name)).get("resultTable").get("rows")
      assert(rows.size() === expected.length, s"$name row count")
      expected.zipWithIndex.foreach { case (er, i) =>
        (0 until er.length).foreach { c =>
          val got = rows.get(i).get(c)
          val want = er.get(c)
          val same = (got, want) match {
            case (g, null) => g.isNull
            case (g, w: java.lang.Number) => math.abs(g.asDouble() - w.doubleValue()) < 1e-6
            case (g, w) => g.asText() === w.toString
          }
          assert(same, s"$name row $i col $c: $got vs $want")
        }
      }
    }
  }

  test("SQL errors come back in-band as Pinot-style exceptions, not HTTP failures") {
    val r = post("SELECT definitely_not_a_column FROM lineitem")
    assert(r.get("exceptions").size() === 1)
    assert(r.get("exceptions").get(0).get("errorCode").asInt() === 150)
    assert(r.get("numRowsResultSet").asInt() === 0)
  }

  test("broker counters: numDocsScanned / numSegmentsQueried from the served execution") {
    val r = post("SELECT count(*) AS n FROM lineitem WHERE l_quantity > 0")
    assert(r.get("exceptions").size() === 0)
    assert(r.get("numDocsScanned").asLong() > 0L, "file scan rows must be counted")
    assert(r.get("numSegmentsQueried").asLong() > 0L, "files opened must be counted")
  }

  test("row cap reports truncation instead of silently clipping") {
    val r = post("SELECT l_orderkey FROM lineitem")
    assert(r.get("truncated").asBoolean())
    assert(r.get("numRowsResultSet").asInt() === 1000)
    assert(r.get("resultTable").get("rows").size() === 1000)
  }

  test("wire edge shapes: BYTES hex, MV arrays, TIMESTAMP format, BIG_DECIMAL, NULL cells") {
    // BYTES → columnDataTypes "BYTES", cell = lowercase hex (Pinot
    // BytesUtils.toHexString convention)
    val rb = post("SELECT unhex('0A1B2CFF') AS b FROM region LIMIT 1")
    assert(rb.get("resultTable").get("dataSchema").get("columnDataTypes").get(0).asText() === "BYTES")
    assert(rb.get("resultTable").get("rows").get(0).get(0).asText() === "0a1b2cff")

    // MV columns → <TYPE>_ARRAY + JSON array cells (broker MV shape)
    val ra = post("SELECT array(1, 2, 3) AS ia, array('x', 'y') AS sa FROM region LIMIT 1")
    val raTypes = ra.get("resultTable").get("dataSchema").get("columnDataTypes")
    assert(raTypes.get(0).asText() === "INT_ARRAY")
    assert(raTypes.get(1).asText() === "STRING_ARRAY")
    val raRow = ra.get("resultTable").get("rows").get(0)
    assert(raRow.get(0).isArray && raRow.get(0).size() === 3 && raRow.get(0).get(2).asInt() === 3)
    assert(raRow.get(1).get(1).asText() === "y")

    // TIMESTAMP → java.sql.Timestamp.toString shape in the UTC session zone
    val rt = post("SELECT TIMESTAMP '2024-03-01 12:34:56' AS ts FROM region LIMIT 1")
    assert(rt.get("resultTable").get("dataSchema").get("columnDataTypes").get(0).asText() === "TIMESTAMP")
    assert(rt.get("resultTable").get("rows").get(0).get(0).asText() === "2024-03-01 12:34:56.0")

    // DECIMAL → BIG_DECIMAL, numeric cell
    val rd = post("SELECT CAST(12.50 AS DECIMAL(10,2)) AS d FROM region LIMIT 1")
    assert(rd.get("resultTable").get("dataSchema").get("columnDataTypes").get(0).asText() === "BIG_DECIMAL")
    assert(math.abs(rd.get("resultTable").get("rows").get(0).get(0).asDouble() - 12.5) < 1e-9)

    // FLOAT stays FLOAT (not widened to DOUBLE on the wire)
    val rf = post("SELECT CAST(1.5 AS FLOAT) AS f FROM region LIMIT 1")
    assert(rf.get("resultTable").get("dataSchema").get("columnDataTypes").get(0).asText() === "FLOAT")

    // ANSI mode: SQL NULL comes back as a JSON null cell (Pinot with
    // enableNullHandling=true), including inside an MV cell
    val rn = post("SELECT CAST(NULL AS INT) AS v, array(1, CAST(NULL AS INT)) AS a FROM region LIMIT 1")
    val rnRow = rn.get("resultTable").get("rows").get(0)
    assert(rnRow.get(0).isNull)
    assert(rnRow.get(1).get(1).isNull)
  }

  test("wire NULL cells under Pinot nullDefaults mode: typed defaults, never JSON null") {
    // dedicated Pinot-mode session: nullDefaults substitutes the Pinot
    // type default at the scan (plans.PinotNullDefaultsRule), so the wire
    // carries Integer.MIN_VALUE / 'null' / -Infinity — Pinot WITHOUT
    // enableNullHandling has no SQL nulls at all
    val s = spark.newSession()
    PinotFunctions.register(s)
    val dir = tempDir("graft-wire-nulldef") + "/t"
    spark.sql(
      """SELECT * FROM VALUES
        |  (1, CAST(10 AS INT), 'a', CAST(1.5 AS DOUBLE)),
        |  (2, CAST(NULL AS INT), CAST(NULL AS STRING), CAST(NULL AS DOUBLE))
        |AS t(id, v, s, d)""".stripMargin).write.parquet(dir)
    s.read.parquet(dir).createOrReplaceTempView("wire_nulldef")
    s.conf.set(graft.plans.PinotNullDefaultsRule.confKey, "true")
    val srv = server.HttpSqlEndpoint.start(s, port = 0, maxRows = 1000)
    try {
      val body = mapper.createObjectNode()
      body.put("sql", "SELECT id, v, s, d FROM wire_nulldef ORDER BY id")
      val req = HttpRequest.newBuilder(
          URI.create(s"http://localhost:${srv.getAddress.getPort}/query/sql"))
        .POST(HttpRequest.BodyPublishers.ofString(
          mapper.writeValueAsString(body), StandardCharsets.UTF_8))
        .header("Content-Type", "application/json").build()
      val r = mapper.readTree(client.send(req, HttpResponse.BodyHandlers.ofString()).body())
      assert(r.get("exceptions").size() === 0, r.toString)
      val row1 = r.get("resultTable").get("rows").get(1)
      assert(!row1.get(1).isNull && row1.get(1).asInt() === Int.MinValue)
      assert(row1.get(2).asText() === "null")
      assert(!row1.get(3).isNull && row1.get(3).asDouble().isNegInfinity)
    } finally srv.stop(0)
  }

  test("ALB health check: GET /query/sql returns 200") {
    val req = HttpRequest.newBuilder(URI.create(s"$base/query/sql")).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() === 200)
  }

  test("concurrent HTTP clients get correct answers (broker concurrency)") {
    val expected = Tables.t(spark, sfDir, "orders").count()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        try {
          (1 to 3).foreach { _ =>
            val r = post("SELECT count(*) AS n FROM orders")
            assert(r.get("resultTable").get("rows").get(0).get(0).asLong() === expected)
          }
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"concurrent failures: ${errors.toArray.mkString("; ")}")
  }

  test("queryOptions timeoutMs: expired queries answer in-band 235 and cancel; generous timeouts pass") {
    // a deliberately heavy self-cross-join: must NOT finish in 1 ms
    val heavy = "SELECT count(*) AS n FROM lineitem a, lineitem b, lineitem c " +
      "WHERE a.l_orderkey + b.l_orderkey + c.l_orderkey > 0"
    val timedOut = post(heavy, Some("timeoutMs=1"))
    val ex0 = timedOut.get("exceptions").get(0)
    assert(ex0 != null, "timeout must surface as an in-band exception")
    assert(ex0.get("errorCode").asInt() === 235)
    assert(ex0.get("message").asText().contains("timed out"))

    // generous timeout answers normally; unknown options are ignored
    val ok = post(
      "SELECT count(*) AS n FROM lineitem",
      Some("timeoutMs=120000;useMultistageEngine=true;unknownOpt=x"))
    assert(ok.get("exceptions").size() === 0)
    assert(ok.get("resultTable").get("rows").get(0).get(0).asLong() > 0L)

    // Pinot's in-query SET syntax is broker-parsed and overrides the body:
    // body says 2 minutes, SET says 1 ms -> must time out
    val setWins = post(s"SET timeoutMs = 1; $heavy", Some("timeoutMs=120000"))
    assert(setWins.get("exceptions").get(0).get("errorCode").asInt() === 235)
    // chained SETs peel; unknown keys ignored; query still answers
    val chained = post(
      "SET useMultistageEngine = true; SET numReplicaGroupsToQuery = '2'; " +
        "SELECT count(*) AS n FROM lineitem")
    assert(chained.get("exceptions").size() === 0)
    assert(chained.get("resultTable").get("rows").get(0).get(0).asLong() > 0L)
  }

  test("controller surface: pause/resumeConsumption toggle a realtime table's ingest") {
    import graft.streaming.EventIngest
    import java.nio.file.Files
    val src = tempDir("graft-ctl-src")
    val sink = tempDir("graft-ctl-sink")
    val ckpt = tempDir("graft-ctl-ckpt")
    def event(u: Int): String =
      s"""{"userID":"$u","productName":"p","color":"red","department":"d",""" +
        s""""product":"x","campaign":"NONE","price":5,"creationTimestamp":"2024-05-01 10:0$u:00"}"""
    def writeBatch(rows: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(src, s"b_${System.nanoTime()}.json"),
        rows.mkString("\n").getBytes("UTF-8"))
    def sinkRows(): Long =
      try spark.read.parquet(sink).count() catch { case _: Exception => 0L }
    def await(cond: () => Boolean, ms: Long = 30000): Unit = {
      val t0 = System.currentTimeMillis()
      while (!cond() && System.currentTimeMillis() - t0 < ms) Thread.sleep(200)
      assert(cond(), "condition not met in time")
    }

    val ctl = server.HttpSqlEndpoint.start(spark, port = 0, maxRows = 100,
      realtimeTables = Map("kinesisTable" -> (() =>
        EventIngest.sealedSink(
          EventIngest.readJsonLines(spark, src), sink, ckpt,
          org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds")).start())))
    val cbase = s"http://localhost:${ctl.getAddress.getPort}"
    def tableOp(op: String): com.fasterxml.jackson.databind.JsonNode = {
      val req = HttpRequest.newBuilder(URI.create(s"$cbase/tables/kinesisTable/$op"))
        .POST(HttpRequest.BodyPublishers.noBody()).build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 200, resp.body())
      mapper.readTree(resp.body())
    }
    try {
      // resume starts consumption; batch 1 lands
      writeBatch(Seq(event(1), event(2)))
      assert(tableOp("resumeConsumption").get("consuming").asBoolean())
      await(() => sinkRows() === 2L)

      // pause stops the query; new arrivals are NOT consumed
      assert(!tableOp("pauseConsumption").get("consuming").asBoolean())
      await(() => !tableOp("consumingSegmentsInfo").get("consuming").asBoolean())
      writeBatch(Seq(event(3)))
      Thread.sleep(1500)
      assert(sinkRows() === 2L, "paused table must not consume")
      // sealed data keeps serving while paused (storage/compute split)
      assert(spark.read.parquet(sink).count() === 2L)

      // resume picks up from the checkpoint: nothing lost, nothing doubled
      assert(tableOp("resumeConsumption").get("consuming").asBoolean())
      await(() => sinkRows() === 3L)

      // unknown table → 404
      val bad = client.send(
        HttpRequest.newBuilder(URI.create(s"$cbase/tables/nope/pauseConsumption"))
          .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() === 404)
    } finally {
      tableOp("pauseConsumption")
      ctl.stop(0)
    }
  }

  test("EXPLAIN PLAN FOR answers the Pinot explain shape with the physical plan") {
    val r = post("EXPLAIN PLAN FOR SELECT l_returnflag, count(*) FROM lineitem GROUP BY l_returnflag")
    assert(r.get("exceptions").size() === 0)
    val schema = r.get("resultTable").get("dataSchema")
    assert((0 until 3).map(i => schema.get("columnNames").get(i).asText()) ===
      Seq("Operator", "Operator_Id", "Parent_Id"))
    val rows = r.get("resultTable").get("rows")
    assert(rows.size() > 0)
    val ops = (0 until rows.size()).map(i => rows.get(i).get(0).asText()).mkString("\n")
    assert(ops.contains("HashAggregate"), s"plan missing aggregate:\n$ops")
    assert(rows.get(0).get(2).asInt() === -1, "root operator's Parent_Id must be -1")

    // a broken inner query still errors in-band, like any other SQL error
    val bad = post("EXPLAIN PLAN FOR SELECT * FROM nonexistent_table_xyz")
    assert(bad.get("exceptions").size() === 1)

    // EXPLAIN must only PLAN: side-effecting statements are rejected, not
    // executed (spark.sql would run a command eagerly)
    val cmd = post("EXPLAIN PLAN FOR CREATE TABLE graft_explain_probe AS SELECT 1 AS x")
    assert(cmd.get("exceptions").size() === 1, "command must be rejected")
    assert(!spark.catalog.tableExists("graft_explain_probe"),
      "EXPLAIN must not have executed the CREATE")

    // branching plans: parent ids follow tree indentation, so a join's two
    // children both point at the join operator, not at each other
    val j = post("EXPLAIN PLAN FOR SELECT o_orderkey FROM orders JOIN lineitem ON l_orderkey = o_orderkey")
    val jr = j.get("resultTable").get("rows")
    val parents = (0 until jr.size()).map(i => jr.get(i).get(2).asInt())
    assert(parents.head === -1)
    assert(parents.zipWithIndex.forall { case (p, i) => p < i },
      "every parent must precede its child")
    // at least one operator's parent is NOT simply the previous line — the
    // branch point (a linearized chain would make this vacuous)
    assert(parents.zipWithIndex.exists { case (p, i) => i > 0 && p < i - 1 },
      s"join plan should branch, got chain parents: $parents")
  }

  test("DISTINCTCOUNTHLL answers Spark's HLL++ estimate from a one-buffer aggregate") {
    val pinot = spark.newSession()
    PinotFunctions.register(pinot)
    Tables.registerViews(pinot, sfDir)
    val srv = server.HttpSqlEndpoint.start(pinot, port = 0, maxRows = 1000)
    try {
      val at = s"http://localhost:${srv.getAddress.getPort}"
      val sql = "SELECT DISTINCTCOUNTHLL(l_partkey) AS p, DISTINCTCOUNTHLL(l_orderkey) AS o FROM lineitem"
      val r = post(sql, at = at)
      assert(r.get("exceptions").size() === 0, r.toString)
      val row = r.get("resultTable").get("rows").get(0)
      // Spark's HyperLogLogPlusPlus over the sf0.001 fixture (exact: 200 and 1,473)
      assert((row.get(0).asLong(), row.get(1).asLong()) === ((195L, 1379L)))
      val plan = post(s"EXPLAIN PLAN FOR $sql", at = at).get("resultTable").get("rows")
      val ops = (0 until plan.size()).map(i => plan.get(i).get(0).asText())
      assert(ops.exists(_.contains("ObjectHashAggregate")), ops.mkString("\n"))
      assert(!ops.exists(o => o.contains("HashAggregate") && !o.contains("ObjectHashAggregate")), ops.mkString("\n"))
    } finally srv.stop(0)
  }

  test("Pinot-mode endpoint answers the round-5 sketch vocabulary over the wire") {
    import org.apache.spark.sql.functions._
    // a console user points the broker URL at us and runs Pinot 1.2 sketch
    // functions unmodified: endpoint on a PinotFunctions session
    val pinot = spark.newSession()
    PinotFunctions.register(pinot)
    Tables.registerViews(pinot, sfDir)
    val srv = server.HttpSqlEndpoint.start(pinot, port = 0, maxRows = 1000)
    try {
      val b = s"http://localhost:${srv.getAddress.getPort}"
      def postTo(sql: String): com.fasterxml.jackson.databind.JsonNode = post(sql, at = b)
      val exactUsers = Tables.t(spark, sfDir, "events")
        .agg(countDistinct(col("user_id"))).collect().head.getLong(0)
      val r = postTo(
        """SELECT DISTINCTCOUNTCPCSKETCH(user_id) AS cpc,
          |       DISTINCTCOUNTTHETASKETCH(user_id) AS theta,
          |       PERCENTILEKLL(value, 50) AS p50
          |FROM events""".stripMargin)
      assert(r.get("exceptions").size() === 0, r.toString)
      val row = r.get("resultTable").get("rows").get(0)
      assert(math.abs(row.get(0).asLong().toDouble - exactUsers) / exactUsers < 0.05)
      assert(row.get(1).asLong() === exactUsers, "theta exact below 2^lgK")
      val p50Exact = Tables.t(spark, sfDir, "events")
        .agg(percentile(col("value"), lit(0.5))).collect().head.getDouble(0)
      assert(math.abs(row.get(2).asDouble() - p50Exact) / p50Exact < 0.05)
    } finally srv.stop(0)
  }

  test("Pinot-mode endpoint answers the round-6 vocabulary over the wire") {
    // funnel aggregates, CLP decode, polygon containment, epoch buckets —
    // all through the broker wire protocol in one session
    val pinot = spark.newSession()
    PinotFunctions.register(pinot)
    Tables.registerViews(pinot, sfDir)
    val srv = server.HttpSqlEndpoint.start(pinot, port = 0, maxRows = 1000)
    try {
      val b = s"http://localhost:${srv.getAddress.getPort}"
      def postTo(sql: String): com.fasterxml.jackson.databind.JsonNode = post(sql, at = b)
      val f = postTo(
        """SELECT max(m) AS deepest FROM (
          |  SELECT funnelMaxStep(toEpochMillis(ts), 259200000, 3,
          |    event_type = 'view', event_type = 'click', event_type = 'purchase') AS m
          |  FROM events GROUP BY user_id)""".stripMargin)
      assert(f.get("exceptions").size() === 0, f.toString)
      assert(f.get("resultTable").get("rows").get(0).get(0).asInt() === 3)

      val c = postTo(
        """SELECT clpdecode(e.logtype, e.dictionary_vars, e.encoded_vars) AS back
          |FROM (SELECT clpencode('user=7 at node-3f') AS e)""".stripMargin)
      assert(c.get("exceptions").size() === 0, c.toString)
      assert(c.get("resultTable").get("rows").get(0).get(0).asText()
        === "user=7 at node-3f")

      val g = postTo(
        """SELECT st_contains(st_geomfromtext('POLYGON ((0 0, 10 0, 10 10, 0 10))'),
          |                   st_point(5, 5)) AS c_in,
          |       toEpochMinutesBucket(ts, 15) AS m15
          |FROM events LIMIT 1""".stripMargin)
      assert(g.get("exceptions").size() === 0, g.toString)
      val grow = g.get("resultTable").get("rows").get(0)
      assert(grow.get(0).asBoolean())
      assert(grow.get(1).asLong() > 0L)
    } finally srv.stop(0)
  }

  test("GAPFILL broker spelling runs VERBATIM over the wire (round-8)") {
    val pinot = spark.newSession()
    PinotFunctions.register(pinot)
    Tables.registerViews(pinot, sfDir)
    val srv = server.HttpSqlEndpoint.start(pinot, port = 0, maxRows = 1000)
    try {
      val b = s"http://localhost:${srv.getAddress.getPort}"
      val body = mapper.createObjectNode()
      // EXACT broker text — bare FILL/TIMESERIESON, no client-side rewrite:
      // the endpoint canonicalizes before parsing, like Pinot's broker
      body.put("sql",
        """SELECT event_type, ts, value FROM GAPFILL(
          |  'SELECT event_type, ts, value FROM events',
          |  'ts', '1:MILLISECONDS:EPOCH',
          |  '1704672000000', '1704758400000', '1:HOURS',
          |  FILL(value, 'FILL_PREVIOUS_VALUE'), TIMESERIESON(event_type))
          |ORDER BY event_type, ts""".stripMargin)
      val req = HttpRequest.newBuilder(URI.create(s"$b/query/sql"))
        .POST(HttpRequest.BodyPublishers.ofString(
          mapper.writeValueAsString(body), StandardCharsets.UTF_8))
        .header("Content-Type", "application/json").build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 200, resp.body())
      val json = mapper.readTree(resp.body())
      assert(json.get("exceptions").size() === 0, json.toString)
      val rows = json.get("resultTable").get("rows")
      // one day of hourly buckets per event type present in range
      assert(rows.size() > 0 && rows.size() % 24 === 0, s"got ${rows.size()} rows")
      // time cells are bucket starts in the EPOCH millis format
      assert(rows.get(0).get(1).asLong() === 1704672000000L)
    } finally srv.stop(0)
  }

  test("FUNNEL_COUNT broker spelling runs VERBATIM over the wire (round-8)") {
    val pinot = spark.newSession()
    PinotFunctions.register(pinot)
    Tables.registerViews(pinot, sfDir)
    val srv = server.HttpSqlEndpoint.start(pinot, port = 0, maxRows = 1000)
    try {
      val b = s"http://localhost:${srv.getAddress.getPort}"
      val body = mapper.createObjectNode()
      body.put("sql",
        """SELECT FUNNEL_COUNT(
          |  STEPS(event_type = 'view', event_type = 'click', event_type = 'purchase'),
          |  CORRELATE_BY(user_id), SETTINGS('set')) AS fc
          |FROM events""".stripMargin)
      val req = HttpRequest.newBuilder(URI.create(s"$b/query/sql"))
        .POST(HttpRequest.BodyPublishers.ofString(
          mapper.writeValueAsString(body), StandardCharsets.UTF_8))
        .header("Content-Type", "application/json").build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 200, resp.body())
      val json = mapper.readTree(resp.body())
      assert(json.get("exceptions").size() === 0, json.toString)
      // one row, one MV cell: the per-step prefix counts as a JSON array
      val fc = json.get("resultTable").get("rows").get(0).get(0)
      assert(fc.isArray && fc.size() === 3, json.toString)
      val counts = (0 until 3).map(fc.get(_).asLong())
      assert(counts(0) >= counts(1) && counts(1) >= counts(2) && counts(2) > 0,
        s"prefix counts must be monotone: $counts")
      // wire cells must equal the DataFrame-path declared-query truth
      val truth = pinot.sql(
        """SELECT FUNNEL_COUNT(
          |  STEPS(event_type = 'view', event_type = 'click', event_type = 'purchase'),
          |  CORRELATE_BY(user_id), SETTINGS('set')) AS fc
          |FROM events""".stripMargin).collect()(0).getSeq[Long](0)
      assert(counts === truth)
    } finally srv.stop(0)
  }

  test("DISTINCT_COUNT_THETA_SKETCH full broker form runs VERBATIM over the wire (round-9)") {
    val pinot = spark.newSession()
    PinotFunctions.register(pinot)
    Tables.registerViews(pinot, sfDir)
    val srv = server.HttpSqlEndpoint.start(pinot, port = 0, maxRows = 1000)
    try {
      val b = s"http://localhost:${srv.getAddress.getPort}"
      // the upstream-docs retention shape: predicates + SET_OP postfix,
      // underscore spelling (Pinot canonicalizes names underscore-insensitively)
      val sql =
        """SELECT DISTINCT_COUNT_THETA_SKETCH(user_id, 'nominalEntries=65536',
          |  'event_type = ''view''', 'event_type = ''click''',
          |  'SET_INTERSECT($1, $2)') AS both_n
          |FROM events""".stripMargin
      val body = mapper.createObjectNode()
      body.put("sql", sql)
      val req = HttpRequest.newBuilder(URI.create(s"$b/query/sql"))
        .POST(HttpRequest.BodyPublishers.ofString(
          mapper.writeValueAsString(body), StandardCharsets.UTF_8))
        .header("Content-Type", "application/json").build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 200, resp.body())
      val json = mapper.readTree(resp.body())
      assert(json.get("exceptions").size() === 0, json.toString)
      val wire = json.get("resultTable").get("rows").get(0).get(0).asLong()
      // below saturation theta is exact: equals the per-user set truth
      val truth = pinot.sql(
        """SELECT CAST(sum(v * c) AS BIGINT) FROM (
          |  SELECT max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
          |         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c
          |  FROM events GROUP BY user_id)""".stripMargin).collect()(0).getLong(0)
      assert(wire === truth)
    } finally srv.stop(0)
  }

  test("timestampAdd/dateDiff string-unit broker spellings run VERBATIM over the wire (round-9)") {
    val pinot = spark.newSession()
    PinotFunctions.register(pinot)
    Tables.registerViews(pinot, sfDir)
    val srv = server.HttpSqlEndpoint.start(pinot, port = 0, maxRows = 1000)
    try {
      val b = s"http://localhost:${srv.getAddress.getPort}"
      // Spark's own parser REJECTS quoted units for these names — this is
      // exactly the ported-console shape rewriteBroker exists for
      val base = java.time.Instant.parse("2024-01-31T10:00:00Z").toEpochMilli
      val sql =
        s"""SELECT timestampAdd('MONTH', 1, CAST($base AS LONG)) AS nxt,
           |       dateDiff('DAY', CAST($base AS LONG),
           |                CAST(${base + 10L * 86400000L} AS LONG)) AS dd
           |FROM region LIMIT 1""".stripMargin
      val body = mapper.createObjectNode()
      body.put("sql", sql)
      val req = HttpRequest.newBuilder(URI.create(s"$b/query/sql"))
        .POST(HttpRequest.BodyPublishers.ofString(
          mapper.writeValueAsString(body), StandardCharsets.UTF_8))
        .header("Content-Type", "application/json").build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 200, resp.body())
      val json = mapper.readTree(resp.body())
      assert(json.get("exceptions").size() === 0, json.toString)
      val row = json.get("resultTable").get("rows").get(0)
      assert(row.get(0).asLong() ===
        java.time.Instant.parse("2024-02-29T10:00:00Z").toEpochMilli)
      assert(row.get(1).asLong() === 10L)
    } finally srv.stop(0)
  }
}
