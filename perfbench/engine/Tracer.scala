package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Traced-run instrumentation, built only from Spark's public listener
  * hooks: a QueryExecutionListener (planning phases, execution time, scan
  * counters of the executed plan), a SparkListener (jobs, stages, tasks and
  * their metrics, block storage) and a StreamingQueryListener (trigger
  * progress). Counters are totals over the measured phase; spans (name,
  * start, end, parent, request id) are kept in memory and written out once
  * by `render`. Jobs that a streaming query runs are counted apart from the
  * jobs of the queries the workload issues. */
final class Tracer(workload: String) {

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall-clock milliseconds for a System.nanoTime reading. */
  def ms(nanos: Long): Double = epoch0 + (nanos - nano0) / 1e6

  var setupArtifactsS = 0.0
  private val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = c.synchronized { c(k) = c(k) + v }
  private def max(k: String, v: Double): Unit = c.synchronized { c(k) = math.max(c(k), v) }

  private final case class Span(id: Int, name: String, rid: String, start: Double,
      var end: Double, parent: Option[Int])
  private val spans = mutable.ArrayBuffer[Span]()
  private val sqlSpan = mutable.Map[Long, Int]()
  private val jobSpan = mutable.Map[Int, Int]()
  private val stageSpan = mutable.Map[(Int, Int), Int]()
  private val stageJob = mutable.Map[Int, Int]()
  private val streamJobs = mutable.Set[Int]()
  private val stageSubmit = mutable.Map[(Int, Int), Long]()
  private val blocks = mutable.Map[String, Long]()

  private def newSpan(name: String, rid: String, start: Double, end: Double,
      parent: Option[Int]): Int = spans.synchronized {
    spans += Span(spans.length, name, rid, start, end, parent)
    spans.length - 1
  }
  def open(name: String, rid: String, parent: Option[Int]): Int =
    newSpan(name, rid, ms(System.nanoTime()), Double.NaN, parent)
  def close(id: Int, endNanos: Long): Unit = spans.synchronized { spans(id).end = ms(endNanos) }
  def span(name: String, rid: String, startNanos: Long, endNanos: Long, parent: Option[Int]): Int =
    newSpan(name, rid, ms(startNanos), ms(endNanos), parent)

  /** Forget everything recorded so far: the measured phase starts now. */
  def reset(): Unit = {
    c.synchronized(c.clear())
    spans.synchronized {
      spans.clear(); sqlSpan.clear(); jobSpan.clear(); stageSpan.clear()
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case f: FileSourceScanExec => Seq(f)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("queries", 1)
      add("exec_ms", durationNs / 1e6)
      qe.tracker.phases.foreach { case (phase, s) => add(s"phase.$phase", s.durationMs.toDouble) }
      try scans(qe.executedPlan).foreach { s =>
        def m(k: String): Double = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
        add("scan.files", m("numFiles"))
        add("scan.rows", m("numOutputRows"))
        add("scan.bytes", m("filesSize"))
      } catch { case _: Exception => add("scan.unreadable", 1) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      add("query_failures", 1)
  }

  private val sparkListener = new SparkListener {
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case s: SparkListenerSQLExecutionStart =>
        val id = newSpan("sql", s"exec-${s.executionId}", s.time.toDouble, Double.NaN, None)
        spans.synchronized(sqlSpan(s.executionId) = id)
      case e: SparkListenerSQLExecutionEnd =>
        spans.synchronized(sqlSpan.get(e.executionId).foreach(i => spans(i).end = e.time.toDouble))
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val props = Option(j.properties)
      val streaming = props.exists(_.getProperty("sql.streaming.queryId") != null)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      spans.synchronized {
        if (streaming) streamJobs += j.jobId
        j.stageIds.foreach(s => stageJob(s) = j.jobId)
        jobSpan(j.jobId) = newSpan(if (streaming) "stream_job" else "job", s"job-${j.jobId}",
          j.time.toDouble, Double.NaN, exec.flatMap(sqlSpan.get))
      }
      if (!streaming) add("jobs", 1)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      spans.synchronized(jobSpan.get(j.jobId).foreach(i => spans(i).end = j.time.toDouble))
    private def foreground(stageId: Int): Boolean =
      spans.synchronized(!stageJob.get(stageId).exists(streamJobs.contains))
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
      val key = (s.stageInfo.stageId, s.stageInfo.attemptNumber())
      val t = s.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      spans.synchronized {
        stageSubmit(key) = t
        stageSpan(key) = newSpan("stage", s"stage-${key._1}", t.toDouble, Double.NaN,
          stageJob.get(key._1).flatMap(jobSpan.get))
      }
      if (foreground(key._1)) add("stages", 1)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val key = (s.stageInfo.stageId, s.stageInfo.attemptNumber())
      spans.synchronized(stageSpan.get(key).foreach { i =>
        spans(i).end = s.stageInfo.completionTime.getOrElse(System.currentTimeMillis()).toDouble
      })
    }
    override def onTaskStart(t: SparkListenerTaskStart): Unit = {
      val key = (t.stageId, t.stageAttemptId)
      // scheduling delay: stage submission to its first task launch
      spans.synchronized(stageSubmit.remove(key)).foreach { sub =>
        if (foreground(t.stageId)) {
          add("sched.delay_ms", (t.taskInfo.launchTime - sub).toDouble)
          add("sched.delay_n", 1)
        }
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      if (!foreground(t.stageId)) return
      add("tasks", 1)
      if (t.taskInfo.failed || t.taskInfo.killed) add("task_failures", 1)
      val m = t.taskMetrics
      if (m != null) {
        add("exec.run_ms", m.executorRunTime.toDouble)
        add("exec.cpu_ms", m.executorCpuTime / 1e6)
        add("exec.gc_ms", m.jvmGCTime.toDouble)
        max("exec.peak_mem_bytes", m.peakExecutionMemory.toDouble)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("result.bytes", m.resultSize.toDouble)
        add("result.ser_ms", m.resultSerializationTime.toDouble)
      }
    }
    override def onBlockUpdated(b: SparkListenerBlockUpdated): Unit = {
      val info = b.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val total = blocks.synchronized {
          val size = info.memSize + info.diskSize
          if (size > 0) blocks(info.blockId.name) = size else blocks.remove(info.blockId.name)
          blocks.values.sum
        }
        max("cache.storage_peak_bytes", total.toDouble)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        add("stream.batches", 1)
        add("stream.rows", p.numInputRows.toDouble)
        p.durationMs.forEach((k, v) => add(s"stream.$k", v.doubleValue))
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  def render(): String = {
    val counters = c.synchronized(c.toSeq ++ Seq("setup.artifacts_s" -> setupArtifactsS))
    val spanJson = spans.synchronized(spans.toSeq).map { s =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name), "rid" -> Json.str(s.rid),
        "start" -> Json.num(s.start), "end" -> Json.num(s.end),
        "parent" -> s.parent.map(_.toString).getOrElse("null")))
    }
    Json.obj(Seq("workload" -> Json.str(workload),
      "counters" -> Json.obj(counters.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> spanJson.mkString("[", ",", "]")))
  }
}
