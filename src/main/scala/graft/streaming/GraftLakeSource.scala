package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{
  Offset => OffsetV2, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{
  Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graftlake.StreamShim
import org.apache.spark.sql.sources.{
  DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.lakehouse.{GraftTable, Snapshot}

/** A manifest-log streaming source over a [[GraftTable]] — the
  * Iceberg-style incremental read as a Structured Streaming source
  * (the reference streams into/out of governed Iceberg tables;
  * Iceberg's Spark source plans each micro-batch off the snapshot
  * log the same way).
  *
  * Offsets are snapshot ids: the stream position IS the table's
  * commit history. Per micro-batch the source
  *  - reads the branch head pointer (one tiny refs/manifest-dir
  *    stat) to discover new commits — [[latestOffset]];
  *  - enumerates the files added on `(from, to]` from the MANIFESTS
  *    ([[GraftTable.appendedFilesBetween]]) — O(new files) planning,
  *    with NO directory listing anywhere. Spark's built-in
  *    `FileStreamSource` by contrast re-LISTS the full glob every
  *    batch and diffs against its seen-files map: at 100 TB
  *    (millions of files) the per-batch listing is the bottleneck
  *    even though no data is re-read. Here the already-ingested 100
  *    TB is never touched, listed, or diffed — a batch costs its own
  *    new files plus two manifest opens.
  *
  * Semantics (same contract as Iceberg's streaming read):
  *  - append-only lineage — a rewrite commit (compaction/DML) in the
  *    range fails the stream rather than re-surfacing rewritten rows;
  *  - schema pinned at stream start — evolution mid-stream fails the
  *    batch with "restart the stream";
  *  - exactly-once via checkpointed snapshot-id offsets (replaying a
  *    batch re-reads the same immutable files);
  *  - `maxCommitsPerTrigger` (option) rate-limits admission by
  *    commit count; `maxFilesPerTrigger` / `maxBytesPerTrigger`
  *    (options, Delta/Iceberg's file- and byte-based rate limits)
  *    bound a batch by the data files / bytes the admitted commits
  *    ADDED — the natural knobs when commit sizes vary wildly (one
  *    bulk backfill vs thousands of trickle appends). A single
  *    commit larger than the budget still admits alone (progress
  *    over stall). All limits compose (the tightest bound wins), and
  *    Trigger.AvailableNow drains to the head pinned at start
  *    ([[prepareForTriggerAvailableNow]]).
  *
  * This is a v1 `Source` (the Delta Lake pattern): `getBatch` builds
  * the micro-batch frame with the table's own reader, so rename
  * mapping, hive-partition reconstitution and pruned scans all come
  * for free, and the only internal touchpoint is the
  * `isStreaming = true` stamp ([[StreamShim]]).
  */
final class GraftLakeSource(spark: SparkSession, tablePath: String,
    maxCommitsPerTrigger: Long, feedMode: String = "",
    startFrom: Long = 0L, maxFilesPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    branch: Option[String] = None)
    extends Source
    with SupportsTriggerAvailableNow {

  private def changeFeed: Boolean = feedMode.nonEmpty

  private val table = GraftTable.load(spark, tablePath)
  // `option("branch", b)` (Iceberg's stream-from-branch): the stream
  // follows the BRANCH lineage — schema pins at the branch head,
  // every head poll re-resolves the ref (one small refs-file read),
  // and the range walks (parent-chain based throughout) stay on the
  // branch by construction. A tag or missing ref refuses at stream
  // construction: streaming an immutable pin is a contradiction.
  branch.foreach(b => require(table.hasBranch(b),
    s"graft-lake source: '$b' is not a branch of $tablePath"))
  private val pinned: Snapshot = branch match {
    case Some(b) => table.snapshot(table.headOf(b))
    case None => table.currentSnapshot
  }

  // start-offset validation happens ONCE, at stream construction —
  // a bad id must fail the start, not some later batch. 0 = replay
  // everything (the initial-load contract); a positive id must name
  // a live snapshot, since the first batch range (startFrom, x]
  // parses it as an endpoint. Only a missing manifest means "not
  // live": a live snapshot's unreadable manifest fails with its fault.
  require(startFrom == 0L ||
      (try { table.snapshot(startFrom); true }
       catch { case _: java.io.FileNotFoundException => false }),
    s"startingSnapshotId $startFrom is not a live snapshot of " +
      s"$tablePath")

  /** Schema is pinned at stream start (Iceberg pins the snapshot
    * schema the same way); [[getBatch]] re-checks per batch. In
    * change-feed mode the rows carry `_change_type` like the batch
    * changelog. */
  override val schema: StructType = feedMode match {
    case ""        => pinned.schema
    case "lineage" =>
      GraftLakeStreamProvider.lineageFeedSchema(pinned.schema)
    case _         =>
      GraftLakeStreamProvider.changeFeedSchema(pinned.schema)
  }

  /** Manifests are immutable once published, so each parses at most
    * once per source lifetime; [[commit]] prunes delivered entries. */
  private val snapCache = mutable.Map[Long, Snapshot](pinned.id -> pinned)
  private def cached(id: Long): Option[Snapshot] =
    Some(snapCache.getOrElseUpdate(id, table.snapshot(id)))

  /** Trigger.AvailableNow pins the head at query start; the drain
    * stops there even if writers keep committing. */
  private var availableNowHead: Option[Long] = None

  /** Monotonic high-water mark for head discovery: each poll PROBES
    * forward from here ([[GraftTable.streamHead]]) instead of listing
    * the metadata dir — O(new commits + 1) existence checks per
    * trigger on a refs-less table, however long its history. */
  private var knownHead: Long = pinned.id

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowHead = Some(head)

  private def head: Long = availableNowHead.getOrElse {
    branch match {
      case Some(b) => table.headOf(b) // the branch ref IS the head
      case None =>
        knownHead = table.streamHead(knownHead)
        knownHead
    }
  }

  // a MISSING engine offset means "from the configured start" (the
  // engine probes latestOffset with a null start BEFORE any offset is
  // logged, so the null arm is where startingSnapshotId takes effect).
  // A NON-NULL offset came from the checkpoint log (or from this
  // source's own earlier return values, which are already >= the
  // start by construction) and passes through UNCHANGED: clamping a
  // logged offset upward to a LATER start option would silently skip
  // the undelivered (logged, startFrom] range on restart — data loss.
  // Checkpoint offsets win over ANY start option, exactly like
  // Delta's startingVersion.
  private def valueOf(o: OffsetV2): Long = o match {
    case null => startFrom
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  override def initialOffset(): OffsetV2 = LongOffset(startFrom)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission control: advance at most `maxCommitsPerTrigger`
    * commits per batch. Head discovery is a pointer read — no
    * listing, no manifest opens. */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val from = valueOf(start)
    val cap = math.min(head, from + maxCommitsPerTrigger)
    val hi =
      if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty) cap
      else {
        // the chain (from, cap], OLDEST first: commit ids share one
        // sequence with branch commits, so id arithmetic would admit
        // foreign snapshots — the parent walk (cached ~4 KB headers)
        // is the lineage truth. Per admitted commit the ADDED-file
        // count/bytes come from the snapshot parse the batch needs
        // anyway (shared [[snapCache]] — one parse per stream
        // lifetime). A commit larger than the whole budget still
        // admits ALONE: refusing it would wedge the stream forever.
        // With both budgets set the TIGHTER one stops admission.
        val chain = table.ancestorsOf(cap).map(_._1)
          .takeWhile(_ != from).reverse
        var files = 0L
        var bytes = 0L
        var last = from
        var stop = false
        for (id <- chain if !stop) {
          val sn = cached(id).getOrElse(table.snapshot(id))
          val addedF = sn.files.filter(f =>
            sn.fileSeq.get(f).contains(id))
          val addedB = addedF.map(f =>
            sn.fileSizes.getOrElse(f, 0L)).sum
          val over =
            maxFilesPerTrigger.exists(b => files + addedF.size > b) ||
            maxBytesPerTrigger.exists(b => bytes + addedB > b)
          if (last != from && over) stop = true
          else { files += addedF.size; bytes += addedB; last = id }
        }
        last
      }
    // a FRESH stream (null start — nothing logged yet) never logs an
    // offset BELOW the configured start: with a startingSnapshotId
    // beyond the current head, the stream stays pending at startFrom
    // until the table reaches it (strictly-after-start preserved).
    // A logged offset passes through unclamped — offsets win.
    LongOffset(if (start == null) math.max(hi, startFrom) else hi)
  }

  /** Non-admission-control engines poll this instead. */
  override def getOffset: Option[OffsetV1] = {
    val h = head
    if (h <= 0L) None else Some(LongOffset(h))
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val from = start.map(o => valueOf(o)).getOrElse(startFrom)
    val to = valueOf(end)
    if (to <= from) StreamShim.emptyMicroBatch(spark, schema)
    else if (changeFeed) {
      // change-feed batches are the NET row-level changelog between
      // the offset snapshots ([[GraftTable.changes]]) — deterministic
      // on replay (both endpoints are immutable), and because the diff
      // is endpoint-based, not lineage-walked, the feed survives
      // compaction/rewrite commits mid-stream (carried rows net out)
      // where the append-only path must refuse them. A range of ONLY
      // rewrite commits is skipped header-cheap: net empty by
      // construction, no table diff read.
      if (table.rewriteOnlyRange(from, to))
        return StreamShim.emptyMicroBatch(spark, schema)
      // lineage mode: the same endpoint-diff feed, keyed on _row_id —
      // updates arrive as ONE row however many rewrites the range
      // holds (see GraftTable.lineageChanges); the cache contract is
      // identical (endpoints parse once per stream)
      val chg =
        if (feedMode == "lineage")
          table.lineageChanges(from, to,
            id => cached(id).getOrElse(table.snapshot(id)))
        else table.changes(from, to, cached)
      // FULL schema equality, like the append path: a names-only
      // check would let a nested struct-field ALTER slip a batch
      // whose real schema mismatches the declared one (wrong ordinal
      // reads downstream instead of this restart error)
      val aligned =
        if (GraftLakeStreamProvider.relaxed(chg.schema) ==
            GraftLakeStreamProvider.relaxed(schema)) chg
        else {
          // a pending range from BEFORE a schema evolution delivers
          // at the stream's declared (post-evolution) schema via the
          // engine's own evolution records ([[GraftTable
          // .alignEvolved]]): null/DEFAULT backfill for ADD COLUMN,
          // the rename log replayed forward for RENAME COLUMN, a
          // value-preserving up-cast for safe type promotion — so a
          // checkpointed stream RESTARTED after any of those drains
          // through. A WIDER batch (the stream is still running on
          // the pre-evolution schema) or a non-mappable shape
          // (drop, nested rename, unsafe type) keeps the restart
          // refusal, and that restart now actually succeeds.
          val up = GraftTable.alignEvolved(chg, to, pinned, schema)
          require(up.isDefined,
            s"table schema evolved within ($from, $to]: restart the " +
              "streaming query to pick up the new schema")
          up.get
        }
      StreamShim.asMicroBatch(aligned)
    } else {
      val (toSnap, files) = table.appendedFilesBetween(from, to, cached)
      if (files.isEmpty) StreamShim.emptyMicroBatch(spark, schema)
      else if (toSnap.schema == schema)
        StreamShim.asMicroBatch(table.readCommitted(toSnap, files))
      else {
        // same restart contract as the change feed: a pending range
        // from BEFORE an ADD COLUMN / RENAME COLUMN / safe type
        // promotion presents at the declared (post-evolution) schema
        // through the engine's evolution records; anything else
        // refuses — and the restart that refusal demands now
        // actually works
        val df = table.readCommitted(toSnap, files)
        val up = GraftTable.alignEvolved(df, toSnap.id, pinned, schema)
        require(up.isDefined,
          s"table schema evolved at snapshot ${toSnap.id}: restart " +
            "the streaming query to pick up the new schema")
        StreamShim.asMicroBatch(up.get)
      }
    }
  }

  /** Batches at or below `end` are checkpointed — their manifests are
    * never needed again; drop them so a long-lived stream's cache is
    * O(in-flight commits), not O(history). */
  override def commit(end: OffsetV1): Unit = {
    val done = valueOf(end)
    snapCache.filterInPlace((id, _) => id >= done)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftLakeSource[$tablePath]"
}

/** Exactly-once streaming sink INTO a lake table — the other half of
  * the `graft-lake` format (`df.writeStream.format("graft-lake")
  * .option("mergeKeys", "k1,k2").start(tableRoot)`).
  *
  * Exactly-once: Structured Streaming re-delivers the last micro-batch
  * after a crash, so an at-least-once sink duplicates rows. Each batch
  * here commits with an (appId, batchId) transaction marker IN the
  * manifest — the same publish CAS that lands the data lands the
  * watermark (Delta's `txn` action) — and a replayed batch whose id is
  * at or below the durable watermark is skipped. The appId defaults to
  * the checkpoint location, which IS the batch-id authority; an
  * explicit `txnAppId` option overrides (e.g. several queries feeding
  * one table from distinct checkpoints).
  *
  * With `mergeKeys`, each batch MERGEs (update-or-insert, in-batch
  * duplicates collapsed keep-latest-arbitrary via dropDuplicates) —
  * idempotent by key on TOP of the txn guard, so even cross-query
  * duplicate events converge. Without, each batch appends (txn guard
  * alone carries exactly-once). The incoming micro-batch frame is
  * re-wrapped as a batch plan and, in MERGE mode only, persisted
  * across MERGE's multiple actions, then unpersisted — an APPEND
  * batch is consumed exactly once by the write, so persisting it
  * would be a pure extra materialization pass per micro-batch
  * (round 20, guide §5). */
final class GraftLakeSink(spark: SparkSession, tablePath: String,
    mergeKeys: Seq[String], appId: String,
    branch: Option[String] = None) extends Sink {

  // dedicated handle: pendingTxn must never leak onto other writers.
  // `option("branch", b)` routes every micro-batch commit — MERGE or
  // append, txn watermark included — through the branch handle
  // (Iceberg's stream-into-branch / the WAP shape for streams: land
  // on an audit branch, fast_forward publishes); a missing branch
  // refuses at sink construction via onBranch.
  private val table = {
    val t0 = GraftTable.load(spark, tablePath)
    branch.map(t0.onBranch).getOrElse(t0)
  }
  private var watermark: Option[Long] = None

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    if (watermark.isEmpty) watermark = table.lastTxn(appId)
    if (watermark.exists(_ >= batchId)) return // replayed: already durable
    val merging = mergeKeys.nonEmpty
    val batch0 = StreamShim.asBatch(data)
    // MERGE consumes the batch through several actions — persist it;
    // an append consumes it ONCE, so the persist would only add a
    // materialization pass to every micro-batch
    val batch =
      if (merging) batch0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else batch0
    try {
      table.pendingTxn = Some((appId, batchId))
      if (merging)
        table.merge(batch.dropDuplicates(mergeKeys), mergeKeys,
          Seq(graft.lakehouse.MergeClause.Update(None, Map.empty),
            graft.lakehouse.MergeClause.Insert(None, Map.empty)))
      else table.append(batch)
      watermark = Some(batchId)
    } finally {
      table.pendingTxn = None
      if (merging) batch.unpersist()
    }
  }

  override def toString: String = s"GraftLakeSink[$tablePath]"
}

/** `spark.readStream.format("graft-lake").load(tableRoot)` /
  * `df.writeStream.format("graft-lake").start(tableRoot)` — v1
  * stream source+sink registration (META-INF/services carries the
  * short name). Source options: `maxCommitsPerTrigger` (default:
  * drain all available); `readChangeFeed` (`true` = each micro-batch
  * is the net row-level changelog between the offset snapshots,
  * tagged `_change_type` — Delta's CDF surface over this table
  * format). Sink options: `mergeKeys` (comma-separated; absent =
  * append mode), `txnAppId` (default: the checkpoint location). */
object GraftLakeStreamProvider {
  private[streaming] val ChangeTypeCol = "_change_type"

  /** Deep nullable relaxation — the change-feed schema COMPARATOR:
    * the changelog builders (unions, when/otherwise side selection)
    * produce NULLABLE columns even where the table schema declares
    * non-null, so [[GraftLakeSource.getBatch]]'s per-batch equality
    * compares both sides through this (names/types/order/nesting
    * strict, nullability normalized). Without it, any table created
    * from a non-null DataFrame schema wedges its change feed on the
    * first real batch (latent until round 14: the test tables all
    * came from all-nullable parquet reads). */
  private def relax(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case st: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.types.StructType(st.fields.map(f =>
        f.copy(dataType = relax(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = relax(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = relax(m.valueType), valueContainsNull = true)
    case other => other
  }
  private[streaming] def relaxed(
      base: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    relax(base).asInstanceOf[org.apache.spark.sql.types.StructType]

  /** The LINEAGE feed surface: base + `_row_id` + `_change_type`
    * (the row-id-keyed changelog — [[graft.lakehouse.GraftTable
    * .lineageChanges]]); same own-column refusal as the plain feed. */
  private[streaming] def lineageFeedSchema(
      base: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    require(!base.fieldNames.exists(n =>
        n.equalsIgnoreCase("_row_id") ||
          n.equalsIgnoreCase(ChangeTypeCol)),
      "lineage feed over a table with its own '_row_id' or " +
        s"'$ChangeTypeCol' column is not supported")
    // nullability mirrors what lineageChanges actually produces —
    // getBatch enforces FULL schema equality per batch, so a cosmetic
    // non-null declaration would wedge every batch: the feed's
    // side-selection (old-image vs new-image when/otherwise) makes
    // EVERY column nullable, including base ones
    org.apache.spark.sql.types.StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_row_id",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField(ChangeTypeCol,
        org.apache.spark.sql.types.StringType, nullable = true)))
  }

  /** The change-feed surface of `base` — shared by the provider's
    * advertised schema and the source's per-batch enforcement (two
    * hand-copies would silently diverge on the next edit). A table
    * that already carries a `_change_type` column refuses up front
    * (Delta rejects enabling CDF on such tables the same way): the
    * changelog's own tag column would silently REPLACE it. */
  private[streaming] def changeFeedSchema(
      base: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    require(!base.fieldNames.exists(_.equalsIgnoreCase(ChangeTypeCol)),
      s"change feed over a table with its own '$ChangeTypeCol' " +
        "column is not supported")
    org.apache.spark.sql.types.StructType(base.fields :+
      org.apache.spark.sql.types.StructField(ChangeTypeCol,
        org.apache.spark.sql.types.StringType, nullable = false))
  }
}

final class GraftLakeStreamProvider extends StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-lake"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-lake source requires a table path: .load(<table root>)"))

  /** "" = plain rows, "plain" = net changelog, "lineage" =
    * row-id-keyed changelog (Iceberg v3). */
  private def feedMode(parameters: Map[String, String]): String =
    parameters.get("readChangeFeed").map { v =>
      v.trim.toLowerCase match {
        case "true"    => "plain"
        case "false"   => ""
        case "lineage" => "lineage"
        case other => throw new IllegalArgumentException(
          s"readChangeFeed must be true, false, or lineage — got '$other'")
      }
    }.getOrElse("")

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse {
      // the schema probe discloses structure — same boundary as the
      // source/sink constructions below
      graft.fgac.SecureCatalog.authorizePathLoad(
        ctx.sparkSession, pathOf(parameters))
      // a contradictory start-offset or rate-limit spec refuses
      // here, before any stream exists
      startFromOf(ctx, parameters)
      budgetOf(parameters, "maxFilesPerTrigger")
      budgetOf(parameters, "maxBytesPerTrigger")
      val t = GraftTable.load(ctx.sparkSession, pathOf(parameters))
      // branch mode pins the BRANCH head's schema (it may have
      // evolved ahead of — or behind — main); a tag or missing ref
      // refuses here, before any stream exists
      val base = parameters.get("branch").map(_.trim)
          .filter(_.nonEmpty) match {
        case Some(b) =>
          require(t.hasBranch(b),
            s"graft-lake source: '$b' is not a branch of " +
              pathOf(parameters))
          t.snapshot(t.headOf(b)).schema
        case None => t.currentSnapshot.schema
      }
      feedMode(parameters) match {
        case ""        => base
        case "plain"   => GraftLakeStreamProvider.changeFeedSchema(base)
        case "lineage" =>
          GraftLakeStreamProvider.lineageFeedSchema(base)
      }
    })

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    // the path-access governance boundary: a principal-bearing
    // session must address a governed table by its governed NAME
    // (see SecureCatalog.authorizePathLoad)
    graft.fgac.SecureCatalog.authorizePathLoad(
      ctx.sparkSession, pathOf(parameters))
    new GraftLakeSource(ctx.sparkSession, pathOf(parameters),
      parameters.get("maxCommitsPerTrigger").map(_.toLong)
        .getOrElse(Long.MaxValue >> 1),
      feedMode = feedMode(parameters),
      startFrom = startFromOf(ctx, parameters),
      maxFilesPerTrigger = budgetOf(parameters, "maxFilesPerTrigger"),
      maxBytesPerTrigger = budgetOf(parameters, "maxBytesPerTrigger"),
      branch = parameters.get("branch").map(_.trim).filter(_.nonEmpty))
  }

  /** `maxFilesPerTrigger` / `maxBytesPerTrigger` (Delta/Iceberg's
    * file- and byte-based rate limits), validated from BOTH
    * [[sourceSchema]] and [[createSource]] like the start offsets —
    * a non-positive budget refuses at `.load()`, before any stream
    * exists. */
  private def budgetOf(parameters: Map[String, String],
      key: String): Option[Long] =
    parameters.get(key).map { v =>
      val n = v.trim.toLong
      require(n > 0,
        s"graft-lake source: $key must be positive, got $n")
      n
    }

  /** Start offsets (Delta's `startingVersion` / Iceberg's
    * stream-from-timestamp): a NEW stream on a long-lived table must
    * not be forced to replay its entire history — at 100 TB the
    * initial load is the expensive part, and a CDC consumer that
    * only wants changes FROM NOW passes the head snapshot (or a
    * wall-clock instant, resolved through the same header walk as
    * TIMESTAMP AS OF). The stream delivers commits strictly AFTER
    * the named snapshot; `startingTimestamp` therefore resolves to
    * the latest snapshot strictly BEFORE the instant, so a commit
    * landing exactly AT the named timestamp streams — Delta's
    * at-or-after-inclusive convention. An instant predating every
    * live commit means "from the beginning" (full replay), again
    * like Delta. Checkpointed restarts ignore it (offsets win) —
    * standard Delta semantics. Validated from BOTH [[sourceSchema]]
    * (so `.load()` refuses a contradictory spec before any stream
    * exists) and [[createSource]]. */
  private def startFromOf(ctx: SQLContext,
      parameters: Map[String, String]): Long =
    (parameters.get("startingSnapshotId"),
        parameters.get("startingTimestamp")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "graft-lake source: startingSnapshotId and startingTimestamp " +
          "are mutually exclusive")
      case (Some(id), None) => id.trim.toLong
      case (None, Some(ts)) =>
        val ms = graft.lakehouse.LakeCallSql.tsMillis(ctx.sparkSession,
          s"'${ts.trim.replace("'", "''")}'")
        // strictly-before resolution (at-or-before of the preceding
        // millisecond): an exactly-at commit lands AFTER the resolved
        // snapshot and streams. Nothing strictly before the instant
        // (table younger than the timestamp) = full replay; an
        // EXPIRED pre-instant history also lands here and fails
        // loudly downstream when the range's manifests are gone —
        // never a silent skip.
        try GraftTable.load(ctx.sparkSession, pathOf(parameters))
          .snapshotIdAsOfTimestamp(ms - 1)
        catch { case _: IllegalArgumentException => 0L }
      case _ => 0L
    }

  override def createSink(ctx: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    // writes bypass checkWrite if path-addressed — same boundary
    graft.fgac.SecureCatalog.authorizePathLoad(
      ctx.sparkSession, pathOf(parameters))
    new GraftLakeSink(ctx.sparkSession, pathOf(parameters),
      parameters.get("mergeKeys").map(_.split(",").toSeq
        .map(_.trim).filter(_.nonEmpty)).getOrElse(Nil),
      parameters.get("txnAppId")
        .orElse(parameters.get("checkpointLocation").map("ckpt:" + _))
        .getOrElse {
          // A query checkpointed via the SESSION-level conf replays
          // its last batch after restart, but the sink's parameters
          // carry no checkpointLocation — a fresh anonymous id every
          // (re)start would never match the stored watermark and the
          // replay would DUPLICATE. Refuse instead of silently
          // downgrading exactly-once.
          require(!ctx.sparkSession.conf
              .getOption("spark.sql.streaming.checkpointLocation")
              .exists(_.nonEmpty),
            "graft-lake sink: this query checkpoints through the " +
              "session-level spark.sql.streaming.checkpointLocation, " +
              "which the sink cannot observe — batch replay after a " +
              "restart would duplicate under a fresh anonymous id. " +
              "Pass .option(\"txnAppId\", ...) or " +
              ".option(\"checkpointLocation\", ...) on the writeStream.")
          // genuinely checkpoint-less: nothing replays after restart;
          // a per-sink id avoids two anonymous queries colliding on
          // one shared watermark (which would silently drop batches)
          "anon:" + java.util.UUID.randomUUID
        },
      branch = parameters.get("branch").map(_.trim).filter(_.nonEmpty))
  }
}
