package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one session shape every main and test suite runs under:
  * `local[cpus]`, shuffle partitions = cpus, UTC, no UI. Verify, Bench
  * and the profiler share it so the plan a profile shows is the plan the
  * bench times and the oracle checks.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, else every available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = Session.cpus): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Block-manager storage right now: cached/checkpointed RDD count and
    * their memory and disk MB.
    */
  def storage(spark: SparkSession): String = {
    val infos = spark.sparkContext.getRDDStorageInfo
    f"rdds=${infos.length} mem=${infos.map(_.memSize).sum / 1e6}%.1fMB " +
      f"disk=${infos.map(_.diskSize).sum / 1e6}%.1fMB"
  }

  /** Cumulative executor-task counters; subtract two snapshots to charge
    * the work between them.
    */
  final case class Snap(taskMs: Long, gcMs: Long, shuffleReadBytes: Long,
      shuffleWriteBytes: Long) {
    def -(o: Snap): Snap = Snap(taskMs - o.taskMs, gcMs - o.gcMs,
      shuffleReadBytes - o.shuffleReadBytes,
      shuffleWriteBytes - o.shuffleWriteBytes)
  }

  /** One stage's summed task time, GC time, rows read (scan + shuffle)
    * and rows written (sink + shuffle).
    */
  final case class StageStat(id: Int, name: String, taskMs: Long, gcMs: Long,
      rowsIn: Long, rowsOut: Long)

  /** Task-metric accumulator. Actions run one at a time on the driver, so
    * snapshots taken around an action attribute executor task time, GC
    * and shuffle volume to it. Task time is the load-robust signal: wall
    * time on a contended box inflates with scheduling delay, but summed
    * executor run time measures the work the plan did. Per-stage totals
    * (Dremel's per-stage statistics) name the operator that grew.
    */
  final class TaskTotals extends SparkListener {
    private val taskMs = new AtomicLong
    private val gcMs = new AtomicLong
    private val shRead = new AtomicLong
    private val shWrite = new AtomicLong

    private final class StageAcc(val name: String) {
      val taskMs = new AtomicLong
      val gcMs = new AtomicLong
      val rowsIn = new AtomicLong
      val rowsOut = new AtomicLong
    }
    private val stages = new ConcurrentHashMap[Int, StageAcc]

    override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = {
      val info = ss.stageInfo
      // the callsite name is often an executor-thread frame; the first
      // graft line of the long-form details names the operator
      val graftLine = info.details.linesIterator
        .find(_.contains("graft")).getOrElse("").trim
      stages.putIfAbsent(info.stageId, new StageAcc(s"${info.name} | $graftLine"))
      ()
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        val s = stages.computeIfAbsent(te.stageId, _ => new StageAcc("?"))
        s.taskMs.addAndGet(m.executorRunTime)
        s.gcMs.addAndGet(m.jvmGCTime)
        s.rowsIn.addAndGet(m.inputMetrics.recordsRead
          + m.shuffleReadMetrics.recordsRead)
        s.rowsOut.addAndGet(m.outputMetrics.recordsWritten
          + m.shuffleWriteMetrics.recordsWritten)
      }
    }

    def snap(): Snap = Snap(taskMs.get, gcMs.get, shRead.get, shWrite.get)

    /** Stages seen since the last drain, most task time first; forgets
      * them.
      */
    def drainStages(): Seq[StageStat] = {
      import scala.jdk.CollectionConverters._
      val out = stages.asScala.toSeq.map { case (id, s) =>
        StageStat(id, s.name, s.taskMs.get, s.gcMs.get, s.rowsIn.get,
          s.rowsOut.get)
      }
      out.foreach(s => stages.remove(s.id))
      out.sortBy(-_.taskMs)
    }
  }
}
