package perfbench

import graft.SparkEntry
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run: build the session, run untimed warm-up passes of
  * the workload's own calls, time complete passes for at least
  * `--seconds`, then check every op's output against the goldens. The
  * run record (JSON) goes to `--out`; `perfbench/run.py` turns it into
  * metrics.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --goldens FILE --out FILE --cores C
  *        Harness --make-goldens DUMP_DIR --goldens FILE --cores C
  */
object Harness {

  /** A timed unit of work: the function call plus, for frames, the
    * full-plan `noop` sink (every column of every row is produced, so
    * projection-only ops are not pruned away).
    */
  final case class Call(name: String, layer: String,
      body: (SparkSession, String) => Unit)

  def sink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Workload definition: the ops each group contributes, named by the
    * group's module, and how many untimed warm-up passes precede the
    * timed ones.
    */
  final case class Workload(name: String, ops: Seq[(String, Seq[String])],
      refresh: Boolean, warmups: Int)

  /** The named ops of one group; a name the group does not hold is an
    * error, so a renamed op cannot silently leave the workload.
    */
  private def pick(layer: String, g: OpGroup, names: String*)
      : (String, Seq[String]) = {
    val missing = names.filterNot(g.ops.map(_.name).toSet)
    require(missing.isEmpty, s"$layer has no op ${missing.mkString(", ")}")
    layer -> names
  }

  val workloads: Map[String, Workload] = Seq(
    Workload("etl_refresh", Seq(pick("etl.Pipeline", graft.etl.Pipeline,
      graft.etl.Pipeline.ops.map(_.name): _*)), refresh = true, warmups = 1),
    // One op per mechanism the read path is meant to expose, chosen from
    // measured per-op times (perfbench/README.md): an aggregate over a
    // fact-table scan, the FastMd5 kernel on every text segment, the
    // RollingHash kernel, a scan of a partitioned layout built on first
    // touch, a near-duplicate media join, and incremental aggregate
    // maintenance over micro-batch triggers. A cold JVM pays 0.2-8 s of
    // JIT and codegen per distinct op, so a run can warm only a few.
    // Their process CPU per pass keeps falling through several passes
    // (median 6.7 s after two warm-up passes, 4.7 s after five, over five
    // runs each), so it warms up five times.
    Workload("query_mix", Seq(
      pick("ops.Relational", Relational, "a1_agg_per_admission"),
      pick("ops.DedupOps", DedupOps, "dedup_segments"),
      pick("sources.Warehouse", graft.sources.Warehouse,
        "fp_rolling_hash", "s_partitioned_layout"),
      pick("multimodal.Multimodal", graft.multimodal.Multimodal,
        "mm_phash_neardup"),
      pick("streaming.Sessionize", graft.streaming.Sessionize,
        "stream_agg_maintain")),
      refresh = false, warmups = 5)
  ).map(w => w.name -> w).toMap

  /** The three ETL layer calls of a warehouse refresh, in dependency
    * order; each materializes (writes and reads back) its layer.
    */
  private val etlLayers = Seq(
    Call("etl.Stage", "etl.stage",
      (s, d) => { graft.etl.Stage.materialized(s, d); () }),
    Call("etl.Dwh", "etl.dwh",
      (s, d) => { graft.etl.Dwh.materialized(s, d); () }),
    Call("etl.Qa", "etl.qa", (s, d) => sink(graft.etl.Qa.report(s, d))))

  def opCalls(w: Workload): Seq[Call] =
    w.ops.flatMap { case (layer, names) =>
      names.map(n =>
        Call(n, layer, (s, d) => sink(SparkEntry.queries(n)(s, d))))
    }

  private val threadCpu = java.lang.management.ManagementFactory.getThreadMXBean

  /** Time one call of a pass and record it. With `spanParent` set (a
    * detailed pass of a traced run) the call gets its own span, so its
    * Spark work is attributed to it; a failure is recorded with its
    * exception and never stops the pass.
    */
  def timedCall(rec: Recorder, c: Call, pass: Int, spanParent: Option[String],
      traceId: String, s: SparkSession, data: String): Unit = {
    val start = rec.nowMs()
    val cpu0 = threadCpu.getCurrentThreadCpuTime
    val err = spanParent match {
      case Some(parent) =>
        rec.span(c.name, c.layer, traceId, parent, "pass")(
          _ => c.body(s, data))._2
      case None =>
        try { c.body(s, data); None } catch {
          case e: Throwable => rec.failure("pass", c.name, e); Some(e)
        }
    }
    val end = rec.nowMs()
    rec.calls += Map("pass" -> pass, "name" -> c.name, "layer" -> c.layer,
      "start_ms" -> start, "end_ms" -> end, "ok" -> err.isEmpty,
      "driver_cpu_ms" -> (threadCpu.getCurrentThreadCpuTime - cpu0) / 1e6)
  }

  /** CPU time of the whole JVM (driver, executor threads, JIT, GC). */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Let the JIT finish what the warm-up queued: wait until the JVM's
    * total compilation time stops growing for 300 ms (at most 5 s), so
    * background compilation does not compete with the first timed pass.
    */
  def settleJit(): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    if (jit != null && jit.isCompilationTimeMonitoringSupported) {
      val deadline = System.nanoTime() + 5000000000L
      var last = -1L
      while (jit.getTotalCompilationTime != last &&
          System.nanoTime() < deadline) {
        last = jit.getTotalCompilationTime
        Thread.sleep(300)
      }
    }
  }

  /** Confs the benchmark sets at session build; a refresh pass's new
    * session must carry the same values.
    */
  private val pinnedConf = Seq("spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone")

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`key`, v) => v }

  private def need(args: Array[String], key: String): String =
    arg(args, key).getOrElse(sys.error(s"missing $key"))

  def main(args: Array[String]): Unit = {
    if (arg(args, "--make-goldens").isDefined) makeGoldens(args)
    else sys.exit(run(args))
  }

  def run(args: Array[String]): Int = {
    val jvmStart = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime.toDouble
    val name = need(args, "--workload")
    val w = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = need(args, "--seed").toLong
    val seconds = need(args, "--seconds").toDouble
    val trace = need(args, "--trace") == "1"
    val data = need(args, "--data")
    val out = need(args, "--out")
    val cores = need(args, "--cores").toInt
    val goldens = Goldens.load(need(args, "--goldens"))
    val rec = new Recorder(name, trace)
    rec.phases("jvm_s") = (rec.nowMs() - jvmStart) / 1e3
    val work = new java.io.File(out).getAbsoluteFile.getParent
    val setupTrace = s"$name/setup"

    val t0 = rec.nowMs()
    val root = session(cores, work)
    rec.spark = root
    val telemetry = new Telemetry
    root.sparkContext.addSparkListener(telemetry)
    root.streams.addListener(telemetry.streams)
    rec.phases("session_s") = (rec.nowMs() - t0) / 1e3

    var cur = root
    def check(name: String, got: String): Unit = {
      val want =
        if (name == "qa_report_rows") Some(goldens.qaRows.mkString("\n"))
        else goldens.ops.get(name)
      rec.checks += Map("name" -> name, "ok" -> want.contains(got),
        "got" -> got, "want" -> want.orNull)
    }
    val calls = opCalls(w)
    // Memo, the layer memo and the shared cache manager are all keyed by
    // or visible to the session: a refresh needs both a cleared cache and
    // a new session, or it is a cache hit.
    def refresh(): Unit = {
      cur.catalog.clearCache()
      val fresh = root.newSession()
      pinnedConf.foreach { k =>
        val (want, got) = (root.conf.get(k), fresh.conf.get(k))
        if (want != got) rec.failure("pass", s"newSession conf $k",
          new IllegalStateException(s"$k=$got, expected $want"))
      }
      cur = fresh
    }

    def finish(code: Int): Int = {
      telemetry.quiesce()
      val pw = new java.io.PrintWriter(out, "UTF-8")
      try pw.print(rec.record(Map("seed" -> seed, "cores" -> cores,
        "jvm_start_ms" -> jvmStart, "setup_failed" -> (code != 0),
        "ops" -> calls.map(c => Map("name" -> c.name, "layer" -> c.layer))),
        telemetry))
      finally pw.close()
      root.stop()
      code
    }

    // Setup: untimed warm-up passes of exactly the timed calls: JIT,
    // codegen, and every first-touch layer, layout and memoized artifact
    // those calls build. A failed setup step fails the run: its cost must
    // not silently move into a timed pass.
    val (warmMs, _) = rec.span("warmup", "setup.warmup", setupTrace, null,
      "warmup") { parent =>
      (1 to w.warmups).forall { _ =>
        if (w.refresh) refresh()
        ((if (w.refresh) etlLayers else Nil) ++ calls).forall(c =>
          rec.span(c.name, c.layer, setupTrace, parent, "warmup")(
            _ => c.body(cur, data))._2.isEmpty)
      }
      ()
    }
    rec.phases("warmup_s") = warmMs / 1e3
    if (rec.failures.nonEmpty) return finish(3)
    rec.sampleStorage()
    val settle = rec.nowMs()
    settleJit()
    rec.phases("settle_s") = (rec.nowMs() - settle) / 1e3

    val firstPass = rec.nowMs()
    rec.phases("setup_s") = (firstPass - jvmStart) / 1e3
    // Traced runs interleave plain and detailed (per-call spans) passes
    // as plain, detailed, detailed, plain, ..., so the same process
    // measures the tracing overhead, and the first pass after warm-up,
    // which still carries some of its cost, is never the only detailed
    // one.
    val minPasses = if (trace) 3 else 1
    var p = 0
    while (p < minPasses || rec.nowMs() - firstPass < seconds * 1e3) {
      val detailed = trace && (p % 4 == 1 || p % 4 == 2)
      val traceId = s"$name/p$p"
      val order = new scala.util.Random(seed * 7919L + p).shuffle(calls)
      val cpu0 = processCpuNs()
      val (passMs, _) = rec.span(s"pass$p", "pass", traceId, null, "pass") {
        passId =>
          if (w.refresh) refresh()
          ((if (w.refresh) etlLayers else Nil) ++ order).foreach { c =>
            timedCall(rec, c, p, if (detailed) Some(passId) else None,
              traceId, cur, data)
            rec.sampleStorage()
          }
      }
      val (mem, disk, rdds) = rec.sampleStorage()
      val cpuMs = (processCpuNs() - cpu0) / 1e6
      rec.passes += Map("pass" -> p, "wall_ms" -> passMs, "cpu_ms" -> cpuMs,
        "detailed" -> detailed, "mem_mb_end" -> mem, "disk_mb_end" -> disk,
        "rdds_end" -> rdds)
      p += 1
    }

    // Output checks, after the timed passes and outside their spans: each
    // op's signature against its golden, and the QA report's rows.
    rec.span("checks", "checks", s"$name/checks", null, "checks") { _ =>
      calls.foreach { c =>
        val got =
          try Signature.of(SparkEntry.queries(c.name)(cur, data))
          catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
        check(c.name, got)
      }
      if (w.refresh)
        check("qa_report_rows",
          Signature.rows(graft.etl.Qa.report(cur, data)).mkString("\n"))
    }
    finish(0)
  }

  /** Write the golden signatures of an existing op-output dump — one
    * parquet directory per op, as `graft.Verify` writes it.
    */
  def makeGoldens(args: Array[String]): Unit = {
    val dump = need(args, "--make-goldens")
    val out = need(args, "--goldens")
    val spark = session(need(args, "--cores").toInt,
      new java.io.File(".").getAbsolutePath)
    val ops = SparkEntry.queries.keys.toSeq.sorted.map { n =>
      n -> Signature.of(spark.read.parquet(s"$dump/$n"))
    }
    val qa = Signature.rows(spark.read.parquet(s"$dump/pipe_qa_report"))
    Goldens.write(out, ops, qa)
    spark.stop()
  }
}

/** Golden output signatures, kept with the benchmark. */
final case class Goldens(ops: Map[String, String], qaRows: Seq[String])

object Goldens {
  import org.json4s._
  import org.json4s.jackson.JsonMethods.parse
  import org.json4s.jackson.Serialization.writePretty

  private implicit val formats: Formats = DefaultFormats

  def load(path: String): Goldens = {
    val j = parse(new java.io.File(path))
    Goldens((j \ "ops").extract[Map[String, String]],
      (j \ "qa_report_rows").extract[Seq[String]])
  }

  def write(path: String, ops: Seq[(String, String)], qa: Seq[String]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      writePretty(scala.collection.immutable.ListMap(
        "ops" -> scala.collection.immutable.ListMap(ops: _*),
        "qa_report_rows" -> qa)) + "\n")
}
