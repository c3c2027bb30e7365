package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Profiler over the Bench session shape, one mode per lens:
  *
  * {{{
  * runMain graft.ProfQuery <sfDir> [query] <q...>
  * runMain graft.ProfQuery <sfDir> layer
  * runMain graft.ProfQuery <sfDir> stream <q...>
  * runMain graft.ProfQuery <sfDir> plan <outDir> <label> <q...>
  * }}}
  *
  *  - `query` (the default): each named query runs twice (cold =
  *    first-touch index/cache builds, warm = steady state), printing
  *    wall, executor task seconds, GC and shuffle MB per run, then the
  *    run's heaviest stages — the lens for "WHICH operator grew".
  *  - `layer`: the stage→DWH→QA chain (the bench's `layer_build`
  *    critical path) in the materialized layers' fact-first order, phase
  *    by phase with task-second attribution and block-manager storage,
  *    so a layer regression is blamed on a phase instead of a lump.
  *  - `stream`: `query` plus every micro-batch's duration breakdown
  *    (triggerExecution, addBatch, walCommit, ...) and state-operator
  *    totals — the lens for "wall ≫ task, WHICH part of the micro-batch
  *    machinery is waiting".
  *  - `plan`: runs each query, then writes its post-execution formatted
  *    plan (final adaptive plan, runtime coalescing visible) to
  *    `<outDir>/<q>_<label>.txt` and prints its operator counts.
  *
  * `SPARK_GRAFT_TIER=corpus` applies the measured deployment profile
  * ([[graft.Conf]]) on top of the session.
  */
object ProfQuery {
  private val usage = "usage: ProfQuery <sfDir> " +
    "[query|layer|stream|plan <outDir> <label>] <q...>"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, usage)
    val sfDir = args.head
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    sys.env.get("SPARK_GRAFT_TIER").foreach(t => Conf(spark, Conf.tier(t)))
    val totals = new Session.TaskTotals
    spark.sparkContext.addSparkListener(totals)
    args(1) match {
      case "layer" => layer(spark, sfDir, totals)
      case "stream" =>
        spark.streams.addListener(BatchPrinter)
        queries(spark, sfDir, totals, args.drop(2))
      case "plan" =>
        require(args.length >= 5, usage)
        plans(spark, sfDir, args(2), args(3), args.drop(4))
      case "query" => queries(spark, sfDir, totals, args.drop(2))
      case _ => queries(spark, sfDir, totals, args.drop(1))
    }
    spark.stop()
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def queries(spark: SparkSession, sfDir: String,
      totals: Session.TaskTotals, names: Seq[String]): Unit = {
    require(names.nonEmpty, usage)
    names.foreach { name =>
      val fn = query(name)
      Seq("cold", "warm").foreach { label =>
        totals.drainStages()
        val s0 = totals.snap()
        val w0 = System.nanoTime()
        noop(fn(spark, sfDir))
        val wall = (System.nanoTime() - w0) / 1e9
        val d = totals.snap() - s0
        println(f"PROFQ $name%-26s $label%-5s wall=$wall%7.3fs " +
          f"task=${d.taskMs / 1e3}%8.3fs " +
          f"gc=${d.gcMs / 1e3}%7.3fs " +
          f"shuffle=${(d.shuffleReadBytes + d.shuffleWriteBytes) / 1e6}%8.1fMB")
        totals.drainStages().take(12).foreach { s =>
          println(f"  STAGE ${s.id}%5d ${s.taskMs / 1e3}%8.3fs " +
            f"gc=${s.gcMs / 1e3}%6.3fs in=${s.rowsIn}%10d out=${s.rowsOut}%10d  " +
            s.name.take(90))
        }
      }
    }
  }

  /** Phase by phase, in the order `Warehouse.materializedLayer` builds
    * each layer: the stage fact, the stage tables besides it (dim_junk
    * and dim_date built from the written fact), the DWH fact, the DWH
    * tables besides it (the pre-aggregation from the written fact), then
    * QA over the two written layers. The layers land under a root of
    * their own, so the session's memoized layers stay untouched.
    */
  private def layer(spark: SparkSession, dir: String,
      totals: Session.TaskTotals): Unit = {
    def timed[T](what: String)(body: => T): T = {
      val (t0, s0) = (System.nanoTime(), totals.snap())
      val r = body
      println(f"[proflayer] $what%-24s wall=${(System.nanoTime() - t0) / 1e9}%6.2fs " +
        f"task=${(totals.snap() - s0).taskMs / 1e3}%7.2fs " +
        Session.storage(spark))
      r
    }
    val root = sources.Warehouse.layerPath(dir, "proflayer")
    def phases(name: String, tables: => Map[String, DataFrame],
        derived: DataFrame => Map[String, DataFrame]) = {
      val (t, fact) = timed(s"$name fact") {
        val t = tables
        (t, sources.Warehouse.land(spark, s"$root/$name",
          t.filter(_._1 == "fact")))
      }
      fact ++ timed(s"$name tables + derived")(sources.Warehouse.land(
        spark, s"$root/$name", (t - "fact") ++ derived(fact("fact"))))
    }
    val checkpoints = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val stage = phases("stage", etl.Stage.tables(spark, dir,
      checkpoints += _), etl.Stage.derivedTables)
    // as the stage layer does once it is written
    checkpoints.foreach(org.apache.spark.sql.GraftSqlBridge.releaseCheckpoint)
    val dwh = phases("dwh", etl.Dwh.tables(stage), etl.Dwh.derivedTables)
    timed("qa report")(etl.Qa.reportOf(stage, dwh))
    ()
  }

  private def plans(spark: SparkSession, sfDir: String, outDir: String,
      label: String, names: Seq[String]): Unit = {
    require(names.nonEmpty, usage)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val df = query(name)(spark, sfDir)
      // execute THIS QueryExecution's plan (a write or collect would
      // plan a new one) so the adaptive plan below is the final one
      df.queryExecution.executedPlan.execute().foreach(_ => ())
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val path = s"$outDir/${name}_$label.txt"
      val w = new java.io.PrintWriter(path)
      try w.println(txt) finally w.close()
      val c = Explain.counters(df)
      println(f"PLAN $name%-28s shuffles=${c("shuffles")} " +
        f"bcastJoin=${c("broadcasts")} sortMergeJoin=${c("sortMergeJoins")} " +
        f"nestedLoop=${c("nestedLoopJoins")} " +
        f"codegenSpans=${c("codegenSpans")} " +
        f"pushedFilterScans=${c("pushedFilterScans")} -> $path")
    }
  }

  private object BatchPrinter extends StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit =
      println(s"PROFS start ${e.name}")
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      import scala.jdk.CollectionConverters._
      val dur = p.durationMs.asScala.toSeq.sortBy(-_._2)
        .map { case (k, v) => s"$k=${v}ms" }.mkString(" ")
      val st = Option(p.stateOperators).getOrElse(Array.empty)
        .map(s => s"rows=${s.numRowsTotal} updated=${s.numRowsUpdated} " +
          s"commitMs=${s.commitTimeMs} mem=${s.memoryUsedBytes}")
        .mkString(" | ")
      println(s"PROFS batch=${p.batchId} rows=${p.numInputRows} $dur" +
        (if (st.nonEmpty) s"\nPROFS   state: $st" else ""))
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}
