package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Executor work of one stage, keyed at submission by the span the
  * submitting thread carried in its `perfbench.span` local property.
  */
final class StageAgg(val stageId: Int, val span: String, val submitMs: Long) {
  val tasks, failedTasks, runMs, cpuNs, gcMs = new AtomicLong
  val shuffleRead, shuffleWrite, spill, bytesRead, bytesWritten = new AtomicLong

  def add(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != Success) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def record: Map[String, Any] = Map("stage" -> stageId, "span" -> span,
    "submit_ms" -> submitMs, "tasks" -> tasks.get,
    "failed_tasks" -> failedTasks.get, "run_ms" -> runMs.get,
    "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
    "shuffle_read" -> shuffleRead.get, "shuffle_write" -> shuffleWrite.get,
    "spill" -> spill.get, "bytes_read" -> bytesRead.get,
    "bytes_written" -> bytesWritten.get)
}

/** Public-listener telemetry: per-stage executor work tagged with the
  * submitting span, job starts, and streaming trigger progress. Events
  * arrive on Spark's asynchronous listener bus; [[quiesce]] waits for
  * the stream of task ends to settle before the record is written.
  */
final class Telemetry extends SparkListener {
  val stages = new ConcurrentHashMap[Int, StageAgg]()
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val triggers = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val events = new AtomicLong

  private def spanOf(p: java.util.Properties): String =
    Option(p).map(_.getProperty(Recorder.SpanKey)).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.add(Map("job" -> e.jobId, "span" -> spanOf(e.properties),
      "time_ms" -> e.time))
    events.incrementAndGet(); ()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    stages.putIfAbsent(info.stageId, new StageAgg(info.stageId,
      spanOf(e.properties),
      info.submissionTime.getOrElse(System.currentTimeMillis())))
    events.incrementAndGet(); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    var agg = stages.get(e.stageId)
    if (agg == null) {
      stages.putIfAbsent(e.stageId, new StageAgg(e.stageId, null, -1L))
      agg = stages.get(e.stageId)
    }
    agg.add(e)
    events.incrementAndGet(); ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      triggers.add(Map(
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "batch_ms" -> p.batchDuration,
        "durations" -> d.toMap,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
        "input_rows" -> p.numInputRows))
      events.incrementAndGet(); ()
    }
  }

  /** Block until no listener event has arrived for `quietMs` (bounded). */
  def quiesce(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = events.get
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
        System.currentTimeMillis() - stableSince < quietMs) {
      Thread.sleep(50)
      val now = events.get
      if (now != last) { last = now; stableSince = System.currentTimeMillis() }
    }
  }
}

/** Everything one run measures, kept in memory and written once at the
  * end: spans, timed calls, per-pass samples, storage samples and every
  * failure with its phase, exception class and message.
  */
final class Recorder(val workload: String, val trace: Boolean) {
  private val epochAnchorMs = System.currentTimeMillis().toDouble
  private val nanoAnchor = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = epochAnchorMs + (System.nanoTime() - nanoAnchor) / 1e6

  val spans = ArrayBuffer.empty[Map[String, Any]]
  val calls = ArrayBuffer.empty[Map[String, Any]]
  val passes = ArrayBuffer.empty[Map[String, Any]]
  val failures = ArrayBuffer.empty[Map[String, Any]]
  val checks = ArrayBuffer.empty[Map[String, Any]]
  val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private var nextId = 0
  private var storagePeak = 0.0
  var spark: SparkSession = _

  def failure(phase: String, name: String, e: Throwable): Unit =
    failures += Map("phase" -> phase, "name" -> name,
      "class" -> e.getClass.getName, "message" -> String.valueOf(e.getMessage))

  /** Run `body` inside a span; `body` receives the span id (the parent
    * of any span it opens). The id is published to Spark through the
    * calling thread's local property, so every job, stage and task the
    * body submits is attributed to it; the previous value is restored on
    * exit so the enclosing span resumes. Returns the span's duration in
    * ms and the body's failure, if any: failures are recorded, never
    * swallowed.
    */
  def span(name: String, layer: String, traceId: String, parent: String,
      phase: String)(body: String => Unit): (Double, Option[Throwable]) = {
    nextId += 1
    val id = s"s$nextId"
    val sc = Option(spark).map(_.sparkContext)
    val prev = sc.map(_.getLocalProperty(Recorder.SpanKey)).orNull
    sc.foreach(_.setLocalProperty(Recorder.SpanKey, id))
    val t0 = nowMs()
    val err = try { body(id); None } catch {
      case e: Throwable =>
        failure(phase, name, e)
        Some(e)
    } finally sc.foreach(_.setLocalProperty(Recorder.SpanKey, prev))
    val t1 = nowMs()
    spans += Map("id" -> id, "name" -> name, "layer" -> layer,
      "trace" -> traceId, "parent" -> parent, "start_ms" -> t0,
      "end_ms" -> t1)
    (t1 - t0, err)
  }

  /** Storage held by the block manager (memory + disk), in MB; every
    * sample also updates the run's peak.
    */
  def sampleStorage(): (Double, Double, Int) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    val mem = infos.map(_.memSize).sum / 1e6
    val disk = infos.map(_.diskSize).sum / 1e6
    storagePeak = math.max(storagePeak, mem + disk)
    (mem, disk, infos.length)
  }

  def record(extra: Map[String, Any], telemetry: Telemetry): String = {
    val base = Map[String, Any](
      "workload" -> workload, "trace" -> trace, "phases" -> phases,
      "calls" -> calls, "passes" -> passes, "failures" -> failures,
      "checks" -> checks, "storage_peak_mb" -> storagePeak, "spans" -> spans)
    val tel: Map[String, Any] = if (telemetry == null) Map.empty else Map(
      "stages" -> telemetry.stages.values.asScala.toSeq.sortBy(_.stageId)
        .map(_.record),
      "jobs" -> telemetry.jobs.asScala.toSeq,
      "triggers" -> telemetry.triggers.asScala.toSeq)
    org.json4s.jackson.Serialization.write(base ++ tel ++ extra)(
      org.json4s.DefaultFormats)
  }
}

object Recorder {
  val SpanKey = "perfbench.span"
}
