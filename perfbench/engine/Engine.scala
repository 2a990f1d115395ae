package perfbench

import graft.{Graft, GraftExtensions, PinotFunctions, SparkEntry}
import graft.server.HttpSqlEndpoint
import graft.sources.Tables
import graft.streaming.EventIngest
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.io.{BufferedReader, File, InputStreamReader, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

/** Engine side of the benchmark: one JVM that owns the Spark session and
  * answers line commands from the harness on stdin, one JSON event per line
  * on stdout. It touches the engine only through its public entry points
  * (Graft.session, Tables.registerViews, PinotFunctions.register,
  * GraftExtensions.register, SparkEntry.queries, HttpSqlEndpoint.start,
  * EventIngest).
  *
  * Usage: Engine <serve|suite|ingest> <dataDir> <runDir> <cores> <trace 0|1>
  *   [suite query names] [names of the suite queries that build derived
  *   artifacts] (both comma-separated)
  *
  * Commands: `setup` (build the session and everything the workload serves
  * from), `teardown` (stop all of it and delete derived artifacts, so the
  * next setup pays for them again), `suite` (one timed pass), `dump` (write
  * the trace), `view` (ingest: register the realtime table's view once
  * the sink holds its first commit), `mark` (the measured phase starts: forget what the trace
  * holds so far), `quit`.
  */
object Engine {

  private val out: PrintStream = new PrintStream(
    new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")

  private def emit(json: String): Unit = out.println(json)

  def main(args: Array[String]): Unit = {
    // Spark and the engine print to System.out in places; keep the protocol
    // channel clean by sending everything else to stderr.
    System.setOut(System.err)
    val Array(workload, dataDir, runDir, coresArg, traceArg) = args.take(5)
    def names(i: Int) = args.lift(i).map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val eng = new Engine(workload, dataDir, runDir, coresArg.toInt, traceArg == "1",
      names(5), names(6))
    val in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
    var line = in.readLine()
    while (line != null && line.trim != "quit") {
      try line.trim match {
        case "setup" => emit(eng.setup())
        case "teardown" => eng.teardown(); emit("""{"ev":"down"}""")
        case "suite" => emit(eng.suitePass())
        case "mark" => eng.mark(); emit("""{"ev":"marked"}""")
        case "view" => eng.sinkView(); emit("""{"ev":"view_ready"}""")
        case "dump" => emit(eng.dump())
        case other => emit(s"""{"ev":"error","message":${Json.str("unknown command " + other)}}""")
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          emit(s"""{"ev":"error","message":${Json.str(String.valueOf(e))}}""")
      }
      line = in.readLine()
    }
    eng.teardown()
    // the broker's request pool keeps idle non-daemon threads for a minute
    System.exit(0)
  }

  /** Order-sensitive digest of a result: SHA-256 over the column names in
    * sorted order, then each row's cells in that column order. Cells are
    * encoded by value class, so the harness can encode a DuckDB answer the
    * same way (perfbench/stats.py `digest`). */
  def digest(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    md.update(("cols:" + order.map(columns).mkString(",") + "\n").getBytes(StandardCharsets.UTF_8))
    rows.foreach { r =>
      md.update((order.map(i => cell(r.get(i))).mkString("|") + "\n").getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "dNaN"
    else "d%016x".format(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))

  private def micros(i: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), (i.getNano / 1000).toLong)

  private[perfbench] def cell(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case x @ (_: Byte | _: Short | _: Int | _: Long) => "i" + x.toString
    case x: BigInt => "i" + x.toString
    case f: Float => dbl(f.toDouble)
    case d: Double => dbl(d)
    case d: java.math.BigDecimal => dbl(d.doubleValue)
    case d: scala.math.BigDecimal => dbl(d.toDouble)
    case s: String => "s" + s.length + ":" + s
    case b: Array[Byte] => "x" + b.map("%02x".format(_)).mkString
    case t: java.sql.Timestamp => "t" + micros(t.toInstant)
    case i: java.time.Instant => "t" + micros(i)
    case l: java.time.LocalDateTime => "t" + micros(l.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "t" + d.toLocalDate.toEpochDay * 86400000000L
    case d: java.time.LocalDate => "t" + d.toEpochDay * 86400000000L
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("m{", ",", "}")
    case other => "o" + other.toString
  }
}

/** Minimal JSON rendering for the protocol lines and dump files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

final class Engine(workload: String, dataDir: String, runDir: String, cores: Int,
    trace: Boolean, suiteNames: Seq[String], artifactNames: Seq[String]) {

  private var spark: SparkSession = _
  private var server: com.sun.net.httpserver.HttpServer = _
  private var tracer: Tracer = _
  private val sinkDir = s"$runDir/sink"
  private val sourceDir = s"$runDir/source"
  private var setups = 0
  private var artifactsS = 0.0

  private def tmpDir = new File(System.getProperty("java.io.tmpdir"))

  /** Derived artifacts the engine caches beside its inputs (Fingerprint). */
  private def artifacts(): Set[String] =
    Option(tmpDir.listFiles).toSeq.flatten.map(_.getName).filter(_.startsWith("graft_")).toSet

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def setup(): String = {
    setups += 1
    val t0 = System.nanoTime()
    spark = Graft.session(cores, s"perfbench-$workload")
    // the broker surface: Pinot's function names shadow Spark built-ins
    // (percentile takes a 0-100 scalar), which the declared queries are
    // written against, so the suite runs on the plain session
    if (workload != "suite") {
      PinotFunctions.register(spark)
      GraftExtensions.register(spark)
    }
    if (workload != "ingest") Tables.registerViews(spark, dataDir)
    if (trace) {
      if (tracer == null) tracer = new Tracer(workload)
      tracer.attach(spark)
    }
    val extra = workload match {
      case "serve" =>
        server = HttpSqlEndpoint.start(spark, port = 0, maxRows = 10000)
        Seq("port" -> server.getAddress.getPort.toString)
      case "ingest" =>
        new File(sourceDir).mkdirs()
        val ckpt = s"$runDir/checkpoint-$setups"
        val starter: () => StreamingQuery = () =>
          EventIngest.sealedSink(EventIngest.readJsonLines(spark, sourceDir), sinkDir, ckpt,
            Trigger.ProcessingTime(0)).start()
        server = HttpSqlEndpoint.start(spark, port = 0, maxRows = 10000,
          realtimeTables = Map("kinesisTable" -> starter))
        Seq("port" -> server.getAddress.getPort.toString)
      case "suite" =>
        // build the derived artifacts the timed pass reads: construct each
        // query that builds one (Fingerprint.buildOnce runs at construction),
        // then drop whatever that persisted
        val a0 = System.nanoTime()
        val qs = SparkEntry.queries
        artifactNames.foreach(n => qs(n)(spark, dataDir))
        spark.catalog.clearCache()
        artifactsS = (System.nanoTime() - a0) / 1e9
        val oracle = SparkEntry.oracleSql.filter { case (k, _) => suiteNames.contains(k) }
        Files.writeString(Paths.get(s"$runDir/oracle_sql.json"),
          Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
        Seq("artifacts_s" -> Json.num(artifactsS))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Json.obj(Seq("ev" -> Json.str("ready"),
      "engine_setup_s" -> Json.num((System.nanoTime() - t0) / 1e9)) ++ extra)
  }

  def teardown(): Unit = {
    if (server != null) { server.stop(0); server = null }
    if (spark != null) {
      spark.streams.active.foreach(_.stop())
      if (tracer != null) tracer.detach(spark)
      spark.stop()
      spark = null
    }
    artifacts().foreach(n => deleteTree(new File(tmpDir, n)))
    if (workload == "ingest") {
      deleteTree(new File(sinkDir))
      Option(new File(runDir).listFiles).toSeq.flatten
        .filter(_.getName.startsWith("checkpoint-")).foreach(deleteTree)
    }
  }

  /** One timed pass over the suite: each query is constructed (`fn(spark,
    * dir)`, including any eager jobs) and consumed through its full
    * physical plan with `collect`; its rows are folded into a digest after
    * the clock stops, and any derived artifact it built is named. A throw
    * is recorded as a failure, never as a time. */
  def suitePass(): String = {
    spark.catalog.clearCache()
    mark()
    val qs = SparkEntry.queries
    var seen = artifacts()
    val results = suiteNames.map { name =>
      val t0 = System.nanoTime()
      var t1 = t0
      val span = if (tracer != null) tracer.open("query", name, None) else -1
      try {
        val df = qs(name)(spark, dataDir)
        t1 = System.nanoTime()
        val rows = df.collect()
        val t2 = System.nanoTime()
        if (tracer != null) {
          tracer.span("build", name, t0, t1, Some(span))
          tracer.span("consume", name, t1, t2, Some(span))
          tracer.close(span, t2)
        }
        val now = artifacts()
        val built = (now -- seen).toSeq.sorted
        seen = now
        Json.obj(Seq("name" -> Json.str(name), "ok" -> "true",
          "build_ms" -> Json.num((t1 - t0) / 1e6), "total_ms" -> Json.num((t2 - t0) / 1e6),
          "rows" -> rows.length.toString,
          "digest" -> Json.str(Engine.digest(df.columns.toSeq, rows)),
          "built_artifacts" -> built.map(Json.str).mkString("[", ",", "]")))
      } catch {
        case e: Throwable =>
          if (tracer != null) tracer.close(span, System.nanoTime())
          Json.obj(Seq("name" -> Json.str(name), "ok" -> "false",
            "error" -> Json.str(String.valueOf(e).take(500))))
      }
    }
    Files.writeString(Paths.get(s"$runDir/suite_results.json"), results.mkString("[", ",", "]"))
    """{"ev":"suite_done"}"""
  }

  def sinkView(): Unit = {
    val firstCommit = new File(s"$sinkDir/_spark_metadata/0")
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (!firstCommit.exists && System.nanoTime() < deadline) Thread.sleep(20)
    // a SQL-text view is re-analysed on every query, so each poll reads the
    // sink's commit log afresh; a DataFrame view would pin the file listing
    // it was created with
    spark.sql(s"CREATE OR REPLACE TEMP VIEW kinesisTable AS SELECT * FROM parquet.`$sinkDir`")
  }

  def mark(): Unit = if (tracer != null) tracer.reset()

  def dump(): String = {
    if (tracer != null) {
      tracer.setupArtifactsS = artifactsS
      Files.writeString(Paths.get(s"$runDir/trace_engine.json"), tracer.render())
    }
    """{"ev":"dumped"}"""
  }
}
