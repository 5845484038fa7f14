package graftbench

import java.io.File

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run's shared state: sessions, the op log and the
  * optional tracer. Ops run one at a time on the calling thread (a
  * closed loop): the next op starts only when the previous returned. */
final class Harness(val admin: SparkSession, val work: File, val seed: Long,
    val cores: Int) {
  import Harness.OpLog

  val log = mutable.ArrayBuffer.empty[OpLog]
  private val sessions = mutable.LinkedHashMap.empty[String, SparkSession]
  var tracer: Option[Tracer] = None
  /** True while the current pass is traced. */
  var tracing = false
  /** Seconds of op time measured so far; checks do not count. */
  def timedSeconds: Double = log.map(_.ms).sum / 1000.0

  /** The pass now running; -1 during set-up and warm-up. */
  var pass = -1
  /** Passes during which the hypervisor took more than
    * [[Harness.StealLimit]] of the machine's CPU time. */
  val stolenPasses = mutable.Set.empty[Int]

  /** The ops latency and throughput figures are taken over: those of
    * whole passes the hypervisor did not slow, unless it slowed every
    * pass. Whole passes keep the mix of op kinds intact. */
  def measured: Seq[OpLog] = {
    val clean = log.filterNot(l => stolenPasses(l.pass)).toSeq
    if (clean.nonEmpty) clean else log.toSeq
  }

  /** Run pass `i` of `body`, noting whether the hypervisor slowed it. */
  def runPass(i: Int)(body: => Unit): Unit = {
    pass = i
    val (steal0, t0) = (Harness.stealS(), System.nanoTime())
    body
    val wallS = (System.nanoTime() - t0) / 1e9
    if (Harness.stealS() - steal0 > Harness.StealLimit * cores * wallS) stolenPasses += i
  }

  /** A session acting as governed principal `who` (shares the admin's
    * SparkContext and registries, as a consumer job would). */
  def as(who: String): SparkSession = sessions.getOrElseUpdate(who, {
    val s = admin.newSession()
    s.conf.set(graft.fgac.SecureCatalog.PrincipalConf, who)
    s
  })

  def allSessions: Seq[SparkSession] = admin +: sessions.values.toSeq

  /** Turn tracing on or off for the next pass. */
  def setTracing(on: Boolean): Unit = tracer.foreach { t =>
    if (on && !tracing) t.attach(allSessions)
    if (!on && tracing) t.detach(allSessions)
    tracing = on
  }

  /** Run `body` as one timed op. Exceptions are caught: an expected
    * one (`expectFailure` says so) is a success, any other is a
    * failure. Returns the body's value when it returned. */
  def op[A](kind: String, govRefs: Int = 0,
      expectFailure: Throwable => Boolean = _ => false)(body: => A): Option[A] = {
    val rec = if (tracing) tracer.map(_.beginOp(kind, govRefs)) else None
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    for (t <- tracer; r <- rec) t.endOp(r, ms)
    out match {
      case Right(v) =>
        log += OpLog(kind, ms, failed = false, wrong = false, tracing, pass, "")
        Some(v)
      case Left(e) if expectFailure(e) =>
        log += OpLog(kind, ms, failed = false, wrong = false, tracing, pass, "")
        None
      case Left(e) =>
        log += OpLog(kind, ms, failed = true, wrong = false, tracing, pass,
          Harness.describe(e))
        None
    }
  }

  /** Mark op number `idx` of the log as wrong, with the reason. */
  def markWrong(idx: Int, reason: String): Unit = {
    log(idx).wrong = true
    wrongReasons += s"${log(idx).kind}: $reason"
  }
  val wrongReasons = mutable.ArrayBuffer.empty[String]

  /** Per-layer samples the workloads record while tracing, by metric
    * name, with the metric's unit. */
  val samples = mutable.LinkedHashMap.empty[String, (String, mutable.ArrayBuffer[Double])]
  def sample(name: String, unit: String, v: Double): Unit =
    samples.getOrElseUpdate(name, (unit, mutable.ArrayBuffer.empty[Double]))._2 += v

  /** Check a governed read's output against the admin-side reference:
    * same columns (so hidden ones are absent), same row count and
    * digest (so every row passed the filter and every mask holds). */
  def checkRead(idx: Int, out: Option[Harness.Output], ref: => Harness.Output,
      expectDenied: Boolean): Unit = (out, expectDenied) match {
    case (Some(_), true) => markWrong(idx, "denied read returned a result")
    case (Some(o), false) =>
      val r = ref
      val (oc, rc) = (o.columns.map(_.toLowerCase).toSet, r.columns.map(_.toLowerCase).toSet)
      if (oc != rc) markWrong(idx, s"columns ${oc.toSeq.sorted} != ${rc.toSeq.sorted}")
      else if (o.rows != r.rows || o.digest != r.digest)
        markWrong(idx, s"rows/digest ${o.rows}/${o.digest} != ${r.rows}/${r.digest}")
    case (None, _) => ()
  }

  /** Timed read: build the frame with `sql` in `session`, then
    * materialize every column with a `noop` write while an observed
    * aggregate takes the output's digest. Returns the output columns
    * and digest for the caller to check outside the timed window. */
  def read(kind: String, session: SparkSession, sql: String, govRefs: Int,
      expectDenied: Boolean = false): Option[Harness.Output] =
    op(kind, govRefs, expectFailure = e => expectDenied && Harness.isDenied(e)) {
      val df = session.sql(sql)
      tracer.filter(_ => tracing).foreach(_.noteQe(df.queryExecution))
      Harness.materialize(df)
    }

  /** Digest of what `sql` returns in the admin session (untimed). */
  def reference(sql: String): Harness.Output =
    Harness.digestOf(admin.sql(sql))
}

object Harness {
  /** One timed op as it ended. `wrong` = it returned, but its output
    * failed a check; `failed` = it threw where it should not have. */
  final case class OpLog(kind: String, ms: Double, failed: Boolean,
      var wrong: Boolean, traced: Boolean, pass: Int, error: String)

  /** An output's column names and order-insensitive digest. */
  final case class Output(columns: Seq[String], rows: Long, digest: Long,
      extra: Map[String, Any] = Map.empty)

  /** Row digest over the columns in name order: the sum of each row's
    * `xxhash64` folded into 32 bits, which is order-insensitive and,
    * unlike XOR, keeps duplicate rows. */
  private def rowHash(df: DataFrame): Column =
    pmod(xxhash64(df.columns.sorted.toSeq.map(c => df.col(s"`$c`")): _*),
      lit(4294967291L))

  /** Materialize every column of `df` with a `noop` write; the digest
    * rides along as an observed aggregate of the same execution. Extra
    * observed aggregates are returned by name. */
  def materialize(df: DataFrame, extra: Seq[Column] = Nil): Output = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"), sum(rowHash(df)).as("digest") +: extra: _*)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Output(df.columns.toSeq, m("rows").asInstanceOf[Long],
      Option(m("digest")).map(_.asInstanceOf[Long]).getOrElse(0L),
      m -- Seq("rows", "digest"))
  }

  def digestOf(df: DataFrame): Output = {
    val r = df.agg(count(lit(1)), sum(rowHash(df))).head()
    Output(df.columns.toSeq, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Share of the machine's CPU time the hypervisor may take during a
    * pass before the pass is left out of the latency figures. */
  val StealLimit = 0.05

  /** CPU seconds the hypervisor has taken from this machine (Linux
    * `steal`); NaN where the kernel does not report it, so no op is
    * ever marked. */
  def stealS(): Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toDouble / 100.0 finally src.close()
  }.getOrElse(Double.NaN)

  def isDenied(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[graft.fgac.AccessDeniedException])

  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
    val first = msg.linesIterator.nextOption().getOrElse("")
    val cls = if (root eq e) e.getClass.getSimpleName
      else s"${e.getClass.getSimpleName} <- ${root.getClass.getSimpleName}"
    s"$cls: ${first.take(300)}"
  }

  /** Bytes under `dir`, recursively. */
  def bytesUnder(dir: File): Long =
    if (dir.isFile) dir.length
    else Option(dir.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
