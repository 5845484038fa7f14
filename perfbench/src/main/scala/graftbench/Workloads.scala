package graftbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lakehouse.{GraftTable, LakeRegistry}

/** A named metric with its unit and sample count. */
final case class Metric(name: String, value: Double, unit: String, n: Int)

/** One workload: how it sets up, warms up and runs one pass of ops.
  * A pass ends with its own untimed checks. */
trait Workload {
  /** Build everything the ops need; `last` is false for a set-up
    * repetition that is torn down again. */
  def setup(h: Harness, rep: Int, last: Boolean): Unit
  def warmup(h: Harness): Unit
  def pass(h: Harness, i: Int): Unit
  /** Checks and figures taken once, after the timed window. */
  def finish(h: Harness): Unit = ()
  /** The workload's own end-to-end metrics, beyond the common ones. */
  def metrics(h: Harness): Seq[Metric]
  /** Lake table roots with their live data-file counts, for the
    * traced run's prune ratio. */
  def lakeRoots: Map[String, Long] = Map.empty
  /** Facts found while running that the report should carry. */
  def findings: Map[String, String] = Map.empty
}

object Workload {
  /** Percentile `p` of the latency of the `kinds` ops that returned. */
  def latency(h: Harness, name: String, kinds: Set[String], p: Double = 50): Option[Metric] = {
    val xs = h.measured.filter(l => kinds(l.kind) && !l.failed).map(_.ms)
    if (xs.isEmpty) None else Some(Metric(name, Stats.percentile(xs, p), "ms", xs.size))
  }

  /** Per-epoch lake figures, taken while tracing: the cost of planning
    * a read and of loading the current snapshot, and the table's shape. */
  def probeLake(h: Harness, name: String): Unit = h.tracer.filter(_ => h.tracing).foreach { t =>
    val (tbl, _) = t.lakeCall("lake.registry_get")(LakeRegistry.get(name).get)
    val (_, readMs) = t.lakeCall("lake.read_plan")(tbl.read())
    val (snap, snapMs) = t.lakeCall("lake.snapshot_load")(tbl.snapshot(tbl.currentSnapshotId))
    val (files, _) = t.lakeCall("lake.files_metadata")(tbl.filesMetadata.count())
    val (dels, _) = t.lakeCall("lake.delete_files_metadata")(tbl.deleteFilesMetadata.count())
    h.sample("lake.read_plan_ms", "ms", readMs)
    h.sample("lake.snapshot_load_ms", "ms", snapMs)
    h.sample("lake.live_data_files", "count", files.toDouble)
    h.sample("lake.live_delete_files", "count", dels.toDouble)
    h.sample("lake.snapshots", "count", metaDir(tbl).listFiles.count(f =>
      f.getName.startsWith("snap-") && f.getName.endsWith(".meta")).toDouble)
    h.sample("lake.manifest_bytes", "B",
      new File(metaDir(tbl), f"snap-${snap.id}%05d.meta").length.toDouble)
  }

  def metaDir(t: GraftTable): File =
    new File(new org.apache.hadoop.fs.Path(t.location).toUri.getPath, "_graft_meta")

  def liveFiles(name: String): Long =
    LakeRegistry.get(name).map(_.currentSnapshot.files.size.toLong).getOrElse(0L)

  def rootOf(name: String): String =
    new org.apache.hadoop.fs.Path(LakeRegistry.get(name).get.location).toUri.getPath
}

/** Governed reads only, on a lake that does not change. */
final class GovernedRead(nCust: Long, nOrders: Long) extends Workload {
  import GovernedRead._
  private val n = Lake.Names("")
  private var v1 = 0L
  private val refs = mutable.Map.empty[String, Harness.Output]
  private var link: Option[String] = None


  private def join(ref: Boolean) = {
    val (c, p) = if (ref) (n.claims, Lake.team1Patients(n)) else (n.rlClaims, n.rlPatients)
    s"""SELECT p.c_mktsegment, c.o_orderkey, c.o_orderdate, c.o_totalprice,
       |  c.o_orderstatus
       |FROM $c c JOIN $p p ON c.o_custkey = p.c_custkey
       |ORDER BY p.c_mktsegment, c.o_orderdate, c.o_orderkey""".stripMargin
  }

  private var pools: Pools = _

  private def drawPools(rng: Random): Pools = Pools(
    Seq.fill(3)(-500 + rng.nextInt(5000)),
    Seq.fill(3) {
      val a = rng.nextInt((nOrders - 2000).toInt).toLong
      (a, a + 200 + rng.nextInt(1800))
    },
    Seq.fill(3)(java.time.LocalDate.of(1995, 1, 1).plusDays(rng.nextInt(2000))))

  /** A pass: a fixed mix of twelve reads in seeded order with
    * parameters from the run's pools. */
  private def mix(rng: Random): Seq[Spec] = {
    def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))
    def agg = {
      val x = pick(pools.aggX)
      def q(t: String) = s"SELECT c_nationkey, count(*) AS n, " +
        s"sum(CAST(c_acctbal AS DECIMAL(18,2))) AS bal FROM $t " +
        s"WHERE c_acctbal > $x GROUP BY c_nationkey"
      Spec("agg", "analyst_row", q(n.rlPatients), q(Lake.rowAnalystPatients(n)), 1)
    }
    def lookup = {
      val (a, b) = pick(pools.lookups)
      def q(t: String) = s"SELECT * FROM $t WHERE o_orderkey BETWEEN $a AND $b"
      Spec("lookup", "team2", q(n.rlClaims), q(n.claims), 1)
    }
    def asOf = {
      def q(t: String) = s"SELECT o_orderstatus, count(*) AS n, " +
        s"sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total FROM $t GROUP BY o_orderstatus"
      Spec("asof", "team2", q(n.rlClaimsV1), q(s"${n.claims} VERSION AS OF $v1"), 1)
    }
    def colOnly = {
      val d = pick(pools.dates)
      def q(t: String) = s"SELECT * FROM $t WHERE o_orderdate >= TIMESTAMP'$d 00:00:00'"
      Spec("colonly", "analyst_col", q(n.rlClaims), q(Lake.colAnalystClaims(n)), 1)
    }
    val full = Spec("full", "team1", s"SELECT * FROM ${n.rlPatients}",
      s"SELECT * FROM ${Lake.team1Patients(n)}", 1)
    val joinSpec = Spec("join", "team1", join(ref = false), join(ref = true), 2)
    val deny = Spec("deny", "team2", s"SELECT * FROM ${n.rlPatients}", "", 1, denied = true)
    rng.shuffle(Seq(full, full, joinSpec, joinSpec, agg, agg, lookup, lookup,
      lookup, asOf, colOnly, deny))
  }

  def setup(h: Harness, rep: Int, last: Boolean): Unit = {
    val names = if (last) n else Lake.Names(s"_rep$rep")
    val vid = Lake.build(h, new File(h.work, s"lake$rep"), names, nCust, nOrders,
      mergeOnRead = false, withAsOf = true)
    if (last) {
      v1 = vid
      pools = drawPools(new Random(h.seed))
    } else Lake.drop(h, names)
  }

  private def runPass(h: Harness, specs: Seq[Spec]): Unit = {
    val done = specs.map { s =>
      val out = h.read(s.kind, h.as(s.who), s.sql, s.govRefs, s.denied)
      (s, out, h.log.size - 1)
    }
    Workload.probeLake(h, n.claims)
    done.foreach { case (s, out, idx) =>
      h.checkRead(idx, out, refs.getOrElseUpdate(s.ref, h.reference(s.ref)), s.denied)
    }
  }

  /** Warm up with one read of each kind. */
  def warmup(h: Harness): Unit =
    runPass(h, mix(new Random(h.seed * 31)).groupBy(_.kind).values.map(_.head).toSeq)

  def pass(h: Harness, i: Int): Unit = runPass(h, mix(new Random(h.seed * 7919 + i)))

  override def finish(h: Harness): Unit = link = Lake.linkProbe(h, n)

  def metrics(h: Harness): Seq[Metric] = {
    val reads = Set("full", "join", "agg", "lookup", "asof", "colonly", "deny")
    Workload.latency(h, "read_p50_ms", reads).toSeq ++ Workload.latency(h, "read_p95_ms", reads, 95)
  }

  override def lakeRoots: Map[String, Long] = Seq(n.patients, n.claims)
    .map(t => Workload.rootOf(t) -> Workload.liveFiles(t)).toMap

  override def findings: Map[String, String] = Map(
    "resource_link_to_governed_view" -> link.getOrElse("resolves"))
}

object GovernedRead {
  /** One read: kind, principal, governed SQL, the admin-side SQL that
    * applies the same policy by hand, and how many governed names the
    * governed SQL references. */
  final case class Spec(kind: String, who: String, sql: String,
      ref: String, govRefs: Int, denied: Boolean = false)

  /** Each run draws its parameters from small seeded pools, so the
    * admin-side references repeat and are computed once each. */
  final case class Pools(aggX: Seq[Int], lookups: Seq[(Long, Long)],
      dates: Seq[java.time.LocalDate])
}

/** Writes beside governed reads on one merge-on-read `claims` table. */
final class LakeDml(nCust: Long, nOrders: Long) extends Workload {
  private val n = Lake.Names("")
  /** Live rows of `claims`: order key -> price in cents. */
  private val model = mutable.LongMap.empty[Long]
  private var nextKey = 0L
  private val InsertRows = 500
  private val UpsertRows = 200
  private val DeleteWidth = 150
  private val UpdateWidth = 400
  private var storedRatio = Double.NaN
  private val changeErrors = mutable.LinkedHashSet.empty[String]

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  def setup(h: Harness, rep: Int, last: Boolean): Unit = {
    val names = if (last) n else Lake.Names(s"_rep$rep")
    Lake.build(h, new File(h.work, s"lake$rep"), names, nCust, nOrders,
      mergeOnRead = true, withAsOf = false)
    if (!last) Lake.drop(h, names)
    else {
      h.admin.sql(s"SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) FROM ${n.claims}")
        .collect().foreach(r => model(r.getLong(0)) = r.getLong(1))
      nextKey = nOrders
    }
  }

  /** Seeded rows for keys `keys`; prices in whole cents. */
  private def rows(rng: Random, keys: Seq[Long]): (Seq[Row], Seq[(Long, Long)]) = {
    val out = keys.map { k =>
      val cents = 100191L + rng.nextInt(49889300)
      val day = java.time.LocalDate.of(1995, 1, 1).plusDays(rng.nextInt(2404))
      (Row(k, rng.nextInt(nCust.toInt).toLong, Data.Statuses(rng.nextInt(3)),
        cents / 100.0, java.sql.Timestamp.valueOf(day.atStartOfDay()),
        Data.Priorities(rng.nextInt(5))), (k, cents))
    }
    (out.map(_._1), out.map(_._2))
  }

  private def view(h: Harness, name: String, rs: Seq[Row]): Unit = {
    import scala.jdk.CollectionConverters._
    h.admin.createDataFrame(rs.asJava, schema).createOrReplaceTempView(name)
  }

  private def table: GraftTable = LakeRegistry.get(n.claims).get

  /** A write statement as one timed op; while tracing, the commit it
    * made is measured from the snapshots on either side. */
  private def write(h: Harness, kind: String, rowsTouched: Long, sql: String): Unit = {
    val before = if (h.tracing) table.currentSnapshotId else 0L
    h.op(kind)(h.admin.sql(sql))
    if (h.tracing) commitFigures(h, before, table.currentSnapshotId, rowsTouched)
  }

  private def commitFigures(h: Harness, before: Long, after: Long, rows: Long): Unit =
    if (after != before) {
      val (a, b) = (table.snapshot(after), table.snapshot(before))
      val data = a.files.toSet -- b.files
      val pos = a.posDels.toSet -- b.posDels
      val dv = a.dvs.values.toSet -- b.dvs.values
      val eq = math.max(0, a.dels.size - b.dels.size)
      val bytes = data.toSeq.map(a.fileSizes.getOrElse(_, 0L)).sum +
        pos.toSeq.map(a.posDelSizes.getOrElse(_, 0L)).sum +
        dv.toSeq.map(a.dvSizes.getOrElse(_, 0L)).sum
      h.sample("lake.files_added_per_commit", "count", data.size.toDouble)
      h.sample("lake.delete_files_added_per_commit", "count", (pos.size + dv.size + eq).toDouble)
      if (rows > 0) h.sample("lake.bytes_written_per_row", "B", bytes.toDouble / rows)
    }

  private def inRange(lo: Long, hi: Long): Seq[Long] = model.keys.filter(k => k >= lo && k < hi).toSeq

  private def reads(h: Harness, rng: Random): Seq[(String, Option[Harness.Output], Int, String)] = {
    def one(kind: String, who: String, sql: String, ref: String, refs: Int) = {
      val out = h.read(kind, h.as(who), sql, refs)
      (kind, out, h.log.size - 1, ref)
    }
    val joinQ = (c: String, p: String) =>
      s"""SELECT p.c_mktsegment, c.o_orderkey, c.o_orderdate, c.o_totalprice, c.o_orderstatus
         |FROM $c c JOIN $p p ON c.o_custkey = p.c_custkey
         |ORDER BY p.c_mktsegment, c.o_orderdate, c.o_orderkey""".stripMargin
    def lookup = {
      val a = (rng.nextDouble() * (nextKey - 2000)).toLong
      val q = (t: String) => s"SELECT * FROM $t WHERE o_orderkey BETWEEN $a AND ${a + 1000}"
      one("read_lookup", "team2", q(n.rlClaims), q(n.claims), 1)
    }
    val aggQ = (t: String) => s"SELECT o_orderstatus, count(*) AS n, " +
      s"sum(CAST(o_totalprice AS DECIMAL(18,2))) AS total FROM $t GROUP BY o_orderstatus"
    Seq(
      one("read_join", "team1", joinQ(n.rlClaims, n.rlPatients),
        joinQ(n.claims, Lake.team1Patients(n)), 2),
      lookup,
      one("read_agg", "team1", aggQ(n.rlClaims), aggQ(n.claims), 1))
  }

  /** Row count and Σ price (exact, in cents) against the model. */
  private def checkModel(h: Harness, idx: Int): Unit = {
    val r = h.admin.sql(s"SELECT count(*), sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM ${n.claims}").head()
    val cents = Option(r.getDecimal(1)).map(_.movePointRight(2).longValueExact).getOrElse(0L)
    if (r.getLong(0) != model.size || cents != model.values.sum)
      h.markWrong(idx, s"claims holds ${r.getLong(0)} rows / $cents cents, " +
        s"model ${model.size} / ${model.values.sum}")
  }

  private def runEpoch(h: Harness, rng: Random): Unit = {
    val startSnap = table.currentSnapshotId
    // INSERT a seeded batch of new keys
    val (ins, insModel) = rows(rng, nextKey until nextKey + InsertRows)
    nextKey += InsertRows
    view(h, "bench_insert", ins)
    write(h, "insert", InsertRows, s"INSERT INTO ${n.claims} SELECT * FROM bench_insert")
    insModel.foreach { case (k, c) => model(k) = c }
    // MERGE upsert: half existing keys, half new
    val live = model.keys.toIndexedSeq
    val existing = Seq.fill(UpsertRows / 2)(live(rng.nextInt(live.size))).distinct
    val fresh = nextKey until nextKey + (UpsertRows - existing.size)
    nextKey += fresh.size
    val (ups, upsModel) = rows(rng, existing ++ fresh)
    view(h, "bench_upsert", ups)
    write(h, "merge", ups.size,
      s"""MERGE INTO ${n.claims} t USING bench_upsert s ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    upsModel.foreach { case (k, c) => model(k) = c }
    // range DELETE and range UPDATE
    val d0 = (rng.nextDouble() * (nextKey - DeleteWidth)).toLong
    val gone = inRange(d0, d0 + DeleteWidth)
    write(h, "delete", gone.size,
      s"DELETE FROM ${n.claims} WHERE o_orderkey >= $d0 AND o_orderkey < ${d0 + DeleteWidth}")
    gone.foreach(model.remove)
    val u0 = (rng.nextDouble() * (nextKey - UpdateWidth)).toLong
    val bumped = inRange(u0, u0 + UpdateWidth)
    write(h, "update", bumped.size,
      s"UPDATE ${n.claims} SET o_totalprice = o_totalprice + 1.0 " +
        s"WHERE o_orderkey >= $u0 AND o_orderkey < ${u0 + UpdateWidth}")
    bumped.foreach(k => model(k) = model(k) + 100)
    val lastWrite = h.log.size - 1
    val endSnap = table.currentSnapshotId
    // the epoch's change feed
    h.op("changes") {
      Harness.materialize(h.admin.sql(
        s"SELECT * FROM table_changes('${n.claims}', $startSnap, $endSnap)"))
    }
    val ch = h.log.last
    if (h.tracing) {
      if (ch.failed) h.sample("lake.changes_failed", "count", 1)
      else h.sample("lake.changes_ms", "ms", ch.ms)
    }
    if (ch.failed) changeErrors += ch.error
    val done = reads(h, rng)
    Workload.probeLake(h, n.claims)
    // untimed checks: the model after the DML, each read against the
    // admin-side reference of the same state
    checkModel(h, lastWrite)
    val refCache = mutable.Map.empty[String, Harness.Output]
    done.foreach { case (_, out, idx, ref) =>
      h.checkRead(idx, out, refCache.getOrElseUpdate(ref, h.reference(ref)), expectDenied = false)
    }
    // maintenance closes every epoch: a run's timed window holds only
    // one or two epochs
    val before = table.currentSnapshotId
    h.op("maintenance") {
      val t0 = System.nanoTime()
      h.admin.sql(s"OPTIMIZE ${n.claims}")
      if (h.tracing) h.sample("lake.compaction_ms", "ms", (System.nanoTime() - t0) / 1e6)
      h.admin.sql(s"VACUUM ${n.claims} RETAIN 4 SNAPSHOTS")
    }
    val after = table.currentSnapshotId
    if (h.tracing && after != before) {
      val a = table.snapshot(after)
      val added = a.files.toSet -- table.snapshot(before).files
      h.sample("lake.compaction_bytes_rewritten", "B",
        added.toSeq.map(a.fileSizes.getOrElse(_, 0L)).sum.toDouble)
    }
    checkModel(h, h.log.size - 1)
  }

  def warmup(h: Harness): Unit = runEpoch(h, new Random(h.seed * 31))

  def pass(h: Harness, i: Int): Unit = runEpoch(h, new Random(h.seed * 7919 + i))

  override def finish(h: Harness): Unit = {
    // stored bytes against an untimed compact copy of the live rows
    val copy = new File(h.work, "compact_copy")
    h.admin.sql(s"SELECT * FROM ${n.claims}").coalesce(1).write.parquet(copy.toString)
    val live = Harness.bytesUnder(copy)
    val stored = Seq(n.claims, n.patients).map(t => Harness.bytesUnder(new File(Workload.rootOf(t)))).sum
    val patientsCopy = new File(h.work, "compact_patients")
    h.admin.sql(s"SELECT * FROM ${n.patients}").coalesce(1).write.parquet(patientsCopy.toString)
    storedRatio = stored.toDouble / (live + Harness.bytesUnder(patientsCopy))
    Harness.deleteRecursively(copy)
    Harness.deleteRecursively(patientsCopy)
  }

  def metrics(h: Harness): Seq[Metric] = {
    def p50(kind: String) = Workload.latency(h, s"${kind}_p50_ms", Set(kind))
    val reads = Set("read_join", "read_lookup", "read_agg")
    (Workload.latency(h, "read_p50_ms", reads) ++ Workload.latency(h, "read_p95_ms", reads, 95) ++
      p50("insert") ++ p50("merge") ++ p50("update") ++ p50("delete") ++
      p50("maintenance")).toSeq :+
      Metric("stored_bytes_per_live_byte", storedRatio, "ratio", 1)
  }

  override def lakeRoots: Map[String, Long] = Seq(n.patients, n.claims)
    .map(t => Workload.rootOf(t) -> Workload.liveFiles(t)).toMap

  override def findings: Map[String, String] =
    if (changeErrors.isEmpty) Map.empty
    else Map("table_changes_error" -> changeErrors.mkString(" || "))
}

/** Repeated passes over the LLM-data operator jobs. */
final class CorpusPipeline(nDocs: Long, nVecs: Long) extends Workload {
  private var dir: File = _
  private val Jobs = Seq("dedup_minhash_lsh", "dedup_components", "ann_ivfpq",
    "ann_pq", "text_bpe", "text_ngram_freq")
  private val Family = Map("dedup" -> Seq("dedup_minhash_lsh", "dedup_components"),
    "ann" -> Seq("ann_ivfpq", "ann_pq"), "text" -> Seq("text_bpe", "text_ngram_freq"))
  /** Each job's digest from the first pass; later passes must match. */
  private val digests = mutable.Map.empty[String, (Long, Long)]
  private var exactRows = -1L
  private var keptRatio = Double.NaN
  private val recallOk = mutable.ArrayBuffer.empty[Double]

  def setup(h: Harness, rep: Int, last: Boolean): Unit = {
    val d = new File(h.work, s"corpus$rep")
    Data.documents(h.admin, nDocs, h.seed).write.parquet(new File(d, "documents.parquet").toString)
    Data.embeddings(h.admin, nVecs, h.seed).write.parquet(new File(d, "embeddings.parquet").toString)
    if (last) dir = d else Harness.deleteRecursively(d)
  }

  /** Aggregates observed alongside the digest, for the quality guards. */
  private def extra(job: String) = job match {
    case "ann_ivfpq" | "ann_pq" =>
      Seq(min(col("recall_ge_080").cast("int")).as("recall_ok"), max(col("n_exact")).as("n_exact"))
    case "dedup_minhash_lsh" => Seq(size(collect_set(col("doc_b"))).as("dropped"))
    case _ => Nil
  }

  private def runPass(h: Harness): Unit = Jobs.foreach { job =>
    val out = h.op(job) {
      Harness.materialize(graft.SparkEntry.queries(job)(h.admin, dir.toString), extra(job))
    }
    val idx = h.log.size - 1
    out.foreach { o =>
      val seen = digests.getOrElseUpdate(job, (o.rows, o.digest))
      if (seen != (o.rows, o.digest))
        h.markWrong(idx, s"digest ${(o.rows, o.digest)} differs from first pass $seen")
      o.extra.get("recall_ok").foreach { r =>
        val ok = r.asInstanceOf[Int] == 1 && o.extra("n_exact") == exactRows
        recallOk += (if (ok) 1.0 else 0.0)
        if (!ok) h.markWrong(idx, s"recall gate ${o.extra} (exact top-k rows $exactRows)")
      }
      o.extra.get("dropped").foreach(d => keptRatio = 1.0 - d.asInstanceOf[Int].toDouble / nDocs)
    }
  }

  def warmup(h: Harness): Unit = {
    // the exact top-k the ANN recall gates are held to
    exactRows = graft.SparkEntry.queries("ann_bruteforce")(h.admin, dir.toString).count()
    runPass(h)
  }

  def pass(h: Harness, i: Int): Unit = runPass(h)

  /** Per-pass sum of a family's job times, median over passes. */
  private def family(h: Harness, name: String): Metric = {
    val jobs = Family(name)
    val perPass = h.measured.filter(l => jobs.contains(l.kind) && !l.failed).groupBy(_.pass)
      .values.filter(_.size == jobs.size).map(_.map(_.ms).sum).toSeq
    Metric(s"${name}_p50_ms", if (perPass.isEmpty) Double.NaN else Stats.median(perPass), "ms", perPass.size)
  }

  /** Each job's median time, e.g. `dedup.minhash_lsh_ms`. */
  private def perJob(h: Harness): Seq[Metric] = Jobs.flatMap { job =>
    val (fam, rest) = job.splitAt(job.indexOf('_'))
    Workload.latency(h, s"$fam.${rest.drop(1)}_ms", Set(job))
  }

  def metrics(h: Harness): Seq[Metric] = Seq(family(h, "dedup"), family(h, "ann"), family(h, "text")) ++
    perJob(h) ++
    Seq(Metric("ann.recall_at_k_ge_0.8", if (recallOk.isEmpty) Double.NaN else Stats.mean(recallOk.toSeq),
      "ratio", recallOk.size),
      Metric("dedup.kept_ratio", keptRatio, "ratio", 1))
}
