package graft

import com.fasterxml.jackson.databind.ObjectMapper

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Controller REST parity for the reference's autoscaling lifecycle: this
  * spec replays the scale-in Lambda's EXACT call sequence
  * (`/root/reference/lib/apache-pinot-solution-stack.ts:410-478`
  * `rebalance_all`): remove tags → list tables → rebalance each table →
  * poll `GET /segments/{t}/servers` until the draining server vanishes →
  * `DELETE /instances/{i}`. */
class ControllerRestSpec extends GraftSuite {

  private val mapper = new ObjectMapper()
  private val srv0 = "Server_pinot-server-0.example.internal_8098"
  private val srv1 = "Server_pinot-server-1.example.internal_8098"

  private lazy val httpServer = {
    val dir = tempDir("graft-controller")
    import spark.implicits._
    (1L to 4000L).toDF("k").repartition(8).write.mode("overwrite").parquet(dir)
    server.HttpSqlEndpoint.start(spark, port = 0,
      controllerTables = Map("events" -> dir), instances = Seq(srv0, srv1))
  }
  private lazy val base = s"http://localhost:${httpServer.getAddress.getPort}"
  private val client = HttpClient.newHttpClient()

  private def send(method: String, path: String): (Int, com.fasterxml.jackson.databind.JsonNode) = {
    val req = HttpRequest.newBuilder(URI.create(s"$base$path"))
      .method(method, HttpRequest.BodyPublishers.noBody()).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), mapper.readTree(resp.body()))
  }

  private def serverList(table: String): Seq[String] = {
    val (code, body) = send("GET", s"/segments/$table/servers")
    assert(code === 200)
    // the Lambda reads json[0]["serverToSegmentsMap"].keys()
    val m = body.get(0).get("serverToSegmentsMap")
    val it = m.fieldNames()
    Iterator.continually(if (it.hasNext) Some(it.next()) else None)
      .takeWhile(_.isDefined).flatten.toSeq
  }

  test("scale-in Lambda sequence: untag, rebalance, drain poll, delete") {
    // initial assignment spreads segments over both tagged instances
    assert(serverList("events").toSet === Set(srv0, srv1))

    // deleting an instance that still serves segments must refuse (409)
    val (conflict, _) = send("DELETE", s"/instances/$srv1")
    assert(conflict === 409)

    // 1. remove_tags: PUT /instances/{i}/updateTags?tags=&updateBrokerResource=false
    val (tagCode, tagBody) =
      send("PUT", s"/instances/$srv1/updateTags?tags=&updateBrokerResource=false")
    assert(tagCode === 200 && tagBody.get("tags").size() === 0)
    // untag alone moves nothing (Pinot: segments stay until a rebalance)
    assert(serverList("events").contains(srv1))

    // 2. list_tables: GET /tables -> {"tables": [...]}
    val (tCode, tBody) = send("GET", "/tables")
    assert(tCode === 200)
    val tables = (0 until tBody.get("tables").size()).map(tBody.get("tables").get(_).asText())
    assert(tables === Seq("events"))

    // 3. rebalance_table for each table, with the Lambda's exact URL shape
    //    (trailing slash before the query string)
    tables.foreach { t =>
      val (rc, rb) = send("POST",
        s"/tables/$t/rebalance/?type=realtime&dryRun=false&reassignInstances=true&" +
          "includeConsuming=true&bootstrap=false&downtime=true&minAvailableReplicas=1&" +
          "bestEfforts=true&externalViewCheckIntervalInMs=1000&" +
          "externalViewStabilizationTimeoutInMs=3600000&updateTargetTier=false")
      assert(rc === 200)
      assert(rb.get("status").asText() === "DONE", rb.toString)
      assert(rb.get("numSegments").asInt() === 8)
      assert(rb.get("segmentsMoved").asInt() > 0)
    }

    // 4. check_rebalance_status: the drained server is gone from the map
    //    (the Lambda polls; metadata-only rebalance is already terminal)
    assert(serverList("events") === Seq(srv0))

    // 5. delete_instance now succeeds
    val (dCode, dBody) = send("DELETE", s"/instances/$srv1")
    assert(dCode === 200)
    assert(dBody.get("status").asText().contains("Successfully deleted"))
  }

  test("dryRun computes without committing; no eligible instance fails") {
    httpServer // force init (ordering with the other test is fine either way)
    val before = serverList("events")
    val (rc, rb) = send("POST", "/tables/events/rebalance/?type=realtime&dryRun=true")
    assert(rc === 200 && rb.get("dryRun").asBoolean())
    assert(serverList("events") === before, "dryRun must not mutate the assignment")
    val (_, rb2) = send("POST", "/tables/unknown/rebalance/?dryRun=false")
    assert(rb2.get("exceptions") != null) // unknown table -> 404 error shape
    // drain the last instance: rebalance has nowhere to assign -> FAILED
    send("PUT", s"/instances/$srv0/updateTags?tags=")
    val (_, rb3) = send("POST", "/tables/events/rebalance/?dryRun=false")
    assert(rb3.get("status").asText() === "FAILED")
    assert(serverList("events") === before, "failed rebalance must not mutate")
  }

  test("scale-out Lambda sequence: added server registers, rebalance_all, " +
      "poll serverToSegmentsMap until it serves, segments spread (ts:538-659)") {
    httpServer
    // the fleet before the scale-out event: srv0 in service (re-tagged —
    // the dryRun test drained it), the ASG then launches a new instance
    send("PUT", s"/instances/$srv0/updateTags?tags=DefaultTenant_REALTIME")
    send("POST", "/tables/events/rebalance/?type=realtime&dryRun=false")
    // instance boot: the new Pinot server self-registers with server tags;
    // the Lambda derives its name Server_{privateIp}_8098 (handler())
    val srv2 = "Server_10.0.1.42_8098"
    val (regCode, _) = send("PUT",
      s"/instances/$srv2/updateTags?tags=DefaultTenant_REALTIME&updateBrokerResource=false")
    assert(regCode === 200)
    // registration alone moves nothing — this is WHY the Lambda exists
    assert(!serverList("events").contains(srv2))

    // rebalance_all: list_tables, then rebalance_table per table with the
    // Lambda's exact URL shape (stack.ts:559-576)
    val (tCode, tBody) = send("GET", "/tables")
    assert(tCode === 200)
    val tables = (0 until tBody.get("tables").size()).map(tBody.get("tables").get(_).asText())
    tables.foreach { t =>
      val (rc, rb) = send("POST",
        s"/tables/$t/rebalance/?type=realtime&dryRun=false&reassignInstances=true&" +
          "includeConsuming=true&bootstrap=false&downtime=true&minAvailableReplicas=1&" +
          "bestEfforts=true&externalViewCheckIntervalInMs=1000&" +
          "externalViewStabilizationTimeoutInMs=3600000&updateTargetTier=false")
      assert(rc === 200)
      assert(rb.get("status").asText() === "DONE", rb.toString)
    }

    // check_rebalance_status: poll GET /segments/{t}/servers until the new
    // server appears in serverToSegmentsMap keys (the Lambda's wait loop,
    // stack.ts:580-597 — metadata-only rebalance converges immediately,
    // the loop shape is preserved)
    tables.foreach { t =>
      var servers = serverList(t)
      var polls = 0
      while (!servers.contains(srv2) && polls < 50) {
        Thread.sleep(20); servers = serverList(t); polls += 1
      }
      assert(servers.contains(srv2), s"new server never served $t: $servers")
    }

    // segment spread: both the standing and the added server hold segments,
    // and every manifest segment is assigned exactly once
    val (code, body) = send("GET", "/segments/events/servers")
    assert(code === 200)
    val m = body.get(0).get("serverToSegmentsMap")
    assert(m.get(srv0).size() > 0 && m.get(srv2).size() > 0,
      s"rebalance must spread over old+new: $m")
    assert(m.get(srv0).size() + m.get(srv2).size() === 8)
  }
}
