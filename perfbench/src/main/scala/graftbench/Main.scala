package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, normally started by `perfbench/run.py`:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <scratch dir> --out <trace dir>
  *
  * Prints a detailed report line (`{"report": …}`) and, last, the
  * result line: `{"correct", "attempted", "failed", "metrics"}`. */
object Main {
  val Cores = 4
  /** Set-up repetitions; `setup_s` takes the median build. */
  val SetupReps = 3
  val WarmupSettleMs = 1000L
  /** The window may stretch to this many times `--seconds` to make up
    * for passes the hypervisor slowed. */
  val MaxWindow = 3

  def workload(name: String): Workload = name match {
    case "governed_read" => new GovernedRead(nCust = 15000, nOrders = 60000)
    case "lake_dml" => new LakeDml(nCust = 15000, nOrders = 20000)
    case "corpus_pipeline" => new CorpusPipeline(nDocs = 1500, nVecs = 1000)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** The result line's metrics, the same names for every workload. */
  val EndToEnd = Seq("setup_s", "ops_per_s", "op_p50_ms", "heap_live_mb")
  val PerLayer = Seq("parse.ms", "analysis.ms", "optimize.ms", "plan.ms",
    "fgac.decisions_per_op", "exec.jobs_per_op", "exec.stages_per_op", "exec.tasks_per_op",
    "exec.task_ms_per_op", "exec.task_cpu_ms_per_op", "exec.busy_ratio",
    "exec.driver_ms_per_op", "exec.shuffle_write_bytes_per_op",
    "exec.shuffle_read_bytes_per_op", "exec.codegen_fallbacks_per_op", "lake.read_plan_ms",
    "lake.snapshot_load_ms", "lake.files_read_per_scan", "lake.scan_prune_ratio",
    "lake.live_delete_files", "trace.overhead_pct")

  def main(args: Array[String]): Unit = {
    val entry = System.nanoTime()
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val wl = workload(name)
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    val out = new File(opts("out")).getAbsoluteFile
    work.mkdirs(); out.mkdirs()

    val spark = session(work)
    val sessionS = (System.nanoTime() - entry) / 1e9
    val h = new Harness(spark, work, seed, Cores)
    if (traced) {
      h.tracer = Some(new Tracer(spark))
      traceFile = new File(out, s"$name-seed$seed.json")
    }

    val repS = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      wl.setup(h, r, last = r == SetupReps - 1)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmup(h)
    // let the JIT finish compiling what the warm-up made hot
    Thread.sleep(WarmupSettleMs)
    val warmS = (System.nanoTime() - w0) / 1e9
    val warmWrong = h.log.count(_.wrong)
    val warmReasons = h.wrongReasons.toList
    h.log.clear(); h.wrongReasons.clear(); h.samples.clear()
    val setupS = sessionS + Stats.median(repS) + warmS

    // the timed window: whole passes until `seconds` of op time in
    // passes the hypervisor left alone, or MaxWindow times that in all;
    // the traced run alternates untraced and traced passes so the
    // tracing overhead is measured in the same run
    val (cpu0, steal0, wall0) = (processCpuS(), Harness.stealS(), System.nanoTime())
    def cleanS = h.measured.map(_.ms).sum / 1000
    var i = 0
    while ((h.timedSeconds < MaxWindow * seconds &&
        (cleanS < seconds || h.stolenPasses.size == i)) || (traced && i < 2)) {
      h.setTracing(traced && i % 2 == 1)
      h.runPass(i)(wl.pass(h, i))
      i += 1
    }
    h.setTracing(false)
    val windowS = h.timedSeconds
    val host = Json.obj("wall_s" -> (System.nanoTime() - wall0) / 1e9,
      "process_cpu_s" -> (processCpuS() - cpu0), "steal_s" -> (Harness.stealS() - steal0),
      "stolen_passes" -> h.stolenPasses.toSeq.sorted)
    val heapMb = liveHeapMb()
    wl.finish(h)

    val ok = h.log.count(l => !l.failed && !l.wrong)
    val m = h.measured
    val lat = m.filter(!_.failed).map(_.ms)
    val common = Seq(
      Metric("setup_s", setupS, "s", SetupReps),
      Metric("ops_per_s", m.count(l => !l.failed && !l.wrong) / (m.map(_.ms).sum / 1000),
        "1/s", m.size),
      Metric("op_p50_ms", Stats.median(lat), "ms", lat.size),
      Metric("error_rate", 1.0 - ok.toDouble / h.log.size, "ratio", h.log.size),
      Metric("heap_live_mb", heapMb, "MB", 1))
    val own = wl.metrics(h)
    val layers = h.tracer.map(t => perLayer(h, wl, t)).getOrElse(Nil)

    val failures = h.log.filter(_.failed).groupBy(l => (l.kind, l.error))
      .map { case ((k, e), ls) => s"$k x${ls.size}: $e" }.toSeq.sorted
    val report = Json.obj(
      "workload" -> name, "seed" -> seed, "traced" -> traced,
      "passes" -> i, "window_s" -> windowS, "window_host" -> host,
      "setup" -> Json.obj("session_s" -> sessionS, "build_reps_s" -> repS,
        "warmup_s" -> warmS),
      "end_to_end" -> metricsJson(common ++ own.filterNot(_.name.contains('.'))),
      "per_layer" -> metricsJson(layers ++ own.filter(_.name.contains('.'))),
      "ops_by_kind" -> Json.obj(h.log.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ls) =>
        k -> Json.obj("n" -> ls.size, "failed" -> ls.count(_.failed),
          "wrong" -> ls.count(_.wrong),
          "p50_ms" -> Stats.median(ls.map(_.ms).toSeq))
      }: _*),
      "failures" -> failures,
      "wrong" -> (warmReasons ++ h.wrongReasons).distinct.take(20),
      "findings" -> Json.obj(wl.findings.toSeq.sortBy(_._1): _*))
    println(Json.obj("report" -> report).s)

    val wanted = if (traced) PerLayer else EndToEnd
    val all = (common ++ own ++ layers).map(m => m.name -> m).toMap
    val result = Json.obj(
      "correct" -> (warmWrong == 0 && h.log.forall(!_.wrong)),
      "attempted" -> h.log.size,
      "failed" -> h.log.count(l => l.failed || l.wrong),
      "metrics" -> Json.obj(wanted.flatMap(n => all.get(n)).map { m =>
        m.name -> Json.obj("value" -> m.value, "unit" -> m.unit)
      }: _*))
    spark.stop()
    println(result.s)
    System.out.flush()
    System.exit(0)
  }

  /** graft's session settings (`graft.Tables.session`) with the
    * warehouse and Spark's scratch space kept under `work`. */
  def session(work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.catalog.gov", classOf[graft.fgac.GovernedCatalog].getName)
      .config("spark.sql.catalog.dev", classOf[graft.fgac.GovernedCatalog].getName)
      .withExtensions(new graft.fgac.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** CPU seconds this JVM has used. */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Driver heap in use after a full collection: the least of three
    * collect-then-measure rounds, each after a pause in which Spark's
    * context cleaner drops the blocks the previous collection freed. */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min

  private def metricsJson(ms: Seq[Metric]): Json.Raw = Json.obj(ms.map(m =>
    m.name -> Json.obj("value" -> m.value, "unit" -> m.unit, "n" -> m.n)): _*)

  /** Per-layer metrics from the traced passes. */
  def perLayer(h: Harness, wl: Workload, t: Tracer): Seq[Metric] = {
    val rep = t.report(wl.lakeRoots)
    val ops = rep.ops
    val n = math.max(1, ops.size)
    def per(name: String, unit: String, f: Tracer.OpFigures => Double) =
      Metric(name, ops.map(f).sum / n, unit, ops.size)
    val scans = ops.map(_.scans).sum
    val refs = ops.map(_.govRefs).sum
    val liveScanned = ops.map(_.liveFilesOfScanned).sum
    val common = Seq(
      per("parse.ms", "ms", _.parseMs),
      per("analysis.ms", "ms", _.analysisMs),
      per("optimize.ms", "ms", _.optimizeMs),
      per("plan.ms", "ms", _.planMs),
      Metric("fgac.decisions_per_op",
        if (refs == 0) 0.0 else ops.map(_.auditDelta).sum.toDouble / refs, "count",
        ops.count(_.govRefs > 0)),
      per("exec.jobs_per_op", "count", _.jobs),
      per("exec.stages_per_op", "count", _.stages),
      per("exec.tasks_per_op", "count", _.tasks.toDouble),
      per("exec.task_ms_per_op", "ms", _.taskMs),
      per("exec.task_cpu_ms_per_op", "ms", _.taskCpuMs),
      per("exec.gc_ms_per_op", "ms", _.gcMs),
      Metric("exec.busy_ratio", Stats.busyRatio(ops.map(_.taskMs).sum,
        ops.map(_.wallMs).sum, h.cores), "ratio", ops.size),
      per("exec.driver_ms_per_op", "ms", _.driverMs),
      per("exec.shuffle_write_bytes_per_op", "B", _.shuffleWrite.toDouble),
      per("exec.shuffle_read_bytes_per_op", "B", _.shuffleRead.toDouble),
      per("exec.codegen_fallbacks_per_op", "count", _.codegenFallbacks),
      Metric("lake.files_read_per_scan",
        if (scans == 0) 0.0 else ops.map(_.filesRead).sum.toDouble / scans, "count", scans),
      Metric("lake.scan_prune_ratio",
        if (liveScanned == 0) Double.NaN else ops.map(_.filesRead).sum.toDouble / liveScanned,
        "ratio", scans),
      Metric("trace.overhead_pct", overheadPct(h), "%", h.log.size))
    // write statements: the jobs inside the statement against the rest
    val writes = ops.filter(o => Set("insert", "merge", "delete", "update")(o.kind))
    val commit = if (writes.isEmpty) Nil else Seq(
      Metric("lake.commit_job_ms", Stats.mean(writes.map(_.jobUnionMs)), "ms", writes.size),
      Metric("lake.commit_driver_ms", Stats.mean(writes.map(_.driverMs)), "ms", writes.size))
    // per-kind splits: wall time and where it went, for every op kind
    val byKind = ops.groupBy(_.kind).toSeq.sortBy(_._1).flatMap { case (k, os) =>
      val m = os.size
      Seq(Metric(s"$k.ms", Stats.median(os.map(_.wallMs)), "ms", m),
        Metric(s"$k.analysis_ms", os.map(_.analysisMs).sum / m, "ms", m),
        Metric(s"$k.exec.jobs_per_op", os.map(_.jobs).sum.toDouble / m, "count", m),
        Metric(s"$k.exec.task_ms_per_op", os.map(_.taskMs).sum / m, "ms", m),
        Metric(s"$k.exec.driver_ms_per_op", os.map(_.driverMs).sum / m, "ms", m),
        Metric(s"$k.exec.shuffle_write_bytes_per_op", os.map(_.shuffleWrite).sum.toDouble / m, "B", m),
        Metric(s"$k.exec.codegen_fallbacks_per_op", os.map(_.codegenFallbacks).sum.toDouble / m, "count", m))
    }
    val sampled = h.samples.toSeq.map { case (name, (unit, xs)) =>
      Metric(name, if (name.endsWith("_failed")) xs.sum else Stats.mean(xs.toSeq), unit, xs.size)
    }
    val self = Stats.selfTimes(rep.spans).toSeq.sortBy(_._1).map { case (k, v) =>
      Metric(s"self.$k.ms_per_op", v / n, "ms", n)
    }
    writeTrace(h, rep)
    common ++ commit ++ sampled ++ byKind ++ self
  }

  /** Traced against untraced latency, kind by kind: Σ median traced ÷
    * Σ median untraced − 1, over kinds seen both ways. */
  def overheadPct(h: Harness): Double = {
    val ok = h.log.filter(!_.failed)
    val pairs = ok.groupBy(_.kind).values.flatMap { ls =>
      val (t, u) = ls.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some((Stats.median(t.map(_.ms).toSeq), Stats.median(u.map(_.ms).toSeq)))
    }
    if (pairs.isEmpty) Double.NaN
    else (pairs.map(_._1).sum / pairs.map(_._2).sum - 1.0) * 100.0
  }

  private var traceFile: File = _

  private def writeTrace(h: Harness, rep: Tracer.TraceReport): Unit = Option(traceFile).foreach { f =>
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println(Json.obj(
        "spans" -> rep.spans.map(s => Json.obj("id" -> s.id, "name" -> s.name,
          "start_ms" -> s.start, "end_ms" -> s.end, "parent" -> s.parent, "op" -> s.op)),
        "ops" -> rep.ops.map(o => Json.obj("id" -> o.id, "kind" -> o.kind,
          "wall_ms" -> o.wallMs, "parse_ms" -> o.parseMs, "analysis_ms" -> o.analysisMs,
          "optimize_ms" -> o.optimizeMs, "plan_ms" -> o.planMs, "jobs" -> o.jobs,
          "stages" -> o.stages, "tasks" -> o.tasks, "task_ms" -> o.taskMs,
          "driver_ms" -> o.driverMs, "codegen_fallbacks" -> o.codegenFallbacks,
          "audit_delta" -> o.auditDelta, "files_read" -> o.filesRead)),
        "codegen_messages" -> rep.codegenMessages))
    } finally w.close()
    if (w.checkError()) throw new java.io.IOException(s"writing $f failed")
  }
}

/** Just enough JSON for the reports: objects keep their key order. */
object Json {
  /** Already-encoded JSON. */
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
