package graft.lakehouse

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftlake.{ManifestFile, ManifestFileIndex}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Per-column min/max/null-count for one data file, harvested from
  * the parquet footer at commit time (Iceberg manifest-style).
  * `kind` is "n" for numerically-ordered values (ints, floats, dates
  * and timestamps as their underlying day/micro numbers) and "s" for
  * strings; `mn`/`mx` are canonical string renderings, None when the
  * file holds no non-null value (or the stat was withheld — long
  * strings, unsupported types). `nulls` is -1 when the writer did
  * not record a null count — "unknown", which pruning must treat as
  * "may contain anything". */
final case class ColStat(kind: String, mn: Option[String],
    mx: Option[String], nulls: Long)

/** A merge-on-read equality delete: rows matching `pred` are deleted
  * from every data file whose add-sequence is LOWER than `seq`
  * (Iceberg's sequence-number rule — rows appended after the delete
  * are untouched even when they match). */
final case class DeletePred(seq: Long, pred: String)

/** The ancestry-walk header of one manifest — what timestamp travel
  * and the sink's txn lookup need per step (see
  * [[GraftTable.headerCache]]). */
private[lakehouse] final case class SnapHeader(parent: Long, ts: Long,
    op: String, txn: Option[(String, Long)] = None)

/** A column rename at commit `seq`: data files with a LOWER
  * add-sequence store the column under `from` and read through an
  * alias (the name-mapping analog of Iceberg's field-id-based column
  * resolution — old files never rewrite for a rename). */
final case class Rename(seq: Long, from: String, to: String)

/** An immutable-snapshot view of a [[GraftTable]]. `fileRows` carries
  * the per-file record count harvested from the parquet footer at
  * commit time (absent when the footer was unreadable) — the manifest
  * datum that lets metadata queries answer COUNT-shaped questions
  * with zero data-file reads. */
/** Per-column ANALYZE result. `min`/`max` are the values' string
  * renderings (None for an all-null column) — planner inputs, not a
  * typed query surface. */
final case class ColumnStats(ndv: Long, nulls: Long,
    min: Option[String], max: Option[String])

/** Snapshot-scoped table statistics ([[GraftTable.analyzeColumns]]).
  * `exact=false` marks HLL-sketched NDVs. */
final case class TableStats(snapshotId: Long, rows: Long,
    exact: Boolean, cols: Map[String, ColumnStats])

/** One manifest shard: an immutable sidecar file carrying the
  * per-file manifest entries (path, add-sequence, record count, size,
  * column bounds) for a partition-range slice of a snapshot's file
  * list. `lo`/`hi` are the lexicographic bounds of the member files'
  * partition-directory strings — the datum that lets a pruned read
  * skip the shard WITHOUT parsing its entries (Iceberg's
  * manifest-list model: partition summaries gate manifest reads).
  * Shards are shared across snapshots by reference, exactly like data
  * files — an append's metadata write cost is O(new files), not
  * O(table). */
final case class ManifestShard(path: String, lo: String, hi: String,
    files: Seq[String])

final case class Snapshot(
    id: Long,
    parent: Long,
    op: String,
    /** Commit wall-clock, epoch millis (0 for pre-timestamp manifests). */
    ts: Long = 0L,
    schema: StructType,
    files: Seq[String],
    partitionCols: Seq[String] = Nil,
    stats: Map[String, Map[String, ColStat]] = Map.empty,
    dels: Seq[DeletePred] = Nil,
    /** Position-delete files (Iceberg v2's other delete shape): each
      * is a parquet of (_file, _pos) tombstones naming exact rows of
      * exact DATA FILES — no sequence scoping needed, a file appended
      * later simply has no tombstones. Emitted by fine-grained DML
      * ([[GraftTable.deleteMoRPos]]); cleared when [[GraftTable.compact]]
      * materializes. */
    posDels: Seq[String] = Nil,
    /** On-disk byte size per position-delete file — feeds the
      * broadcast-vs-shuffle gate of the tombstone anti-join without
      * per-file stats at read time. Same carry-forward/fallback
      * contract as [[fileSizes]]. */
    posDelSizes: Map[String, Long] = Map.empty,
    fileSeq: Map[String, Long] = Map.empty,
    fileRows: Map[String, Long] = Map.empty,
    /** On-disk byte size per data file (Iceberg's
      * `file_size_in_bytes`): lets planners size splits and gate
      * broadcasts from the manifest alone — zero per-file RPCs at
      * plan time. Absent for files committed by pre-size manifests
      * (readers fall back to a live stat). */
    fileSizes: Map[String, Long] = Map.empty,
    /** Row lineage (Iceberg v3): first row id per data file. A row's
      * `_row_id` derives as firstRowId + row position unless the file
      * carries a materialized id column (rewrites preserve ids that
      * way); ids in a range skipped by materialized rows are simply
      * never used. Populated once `row.lineage` is on (assignment
      * catches up for pre-existing files at the next commit). */
    firstRowIds: Map[String, Long] = Map.empty,
    /** Next unassigned row id — monotonic along the lineage, never
      * reused (a rollback resumes from the PARENT's counter). */
    nextRowId: Long = 0L,
    renames: Seq[Rename] = Nil,
    specHist: Seq[(Long, Seq[String])] = Nil,
    /** Deletion vectors (Iceberg v3 / Delta DVs): data file → bitmap
      * blob path, one blob per file, bit n set = row n deleted. The
      * production form of position deletes at high DML rates: the
      * read-side cost is an O(1) bit probe per row against a
      * file-joined blob instead of an anti-join on a (file, pos)
      * tombstone relation, and DELETE #k rewrites one blob per
      * touched file instead of appending a k-th tombstone file.
      * Cleared by compaction like every other MoR artifact. */
    dvs: Map[String, String] = Map.empty,
    /** On-disk byte size per DV blob — the broadcast-vs-shuffle gate
      * datum, same contract as [[posDelSizes]]. */
    dvSizes: Map[String, Long] = Map.empty,
    /** Deleted-row count per vectored data file (the bitmap's
      * cardinality, computed in the write aggregate) — Iceberg
      * records DV cardinality in its manifests the same way, so
      * `delete_files` metadata answers without reading a blob. */
    dvCards: Map[String, Long] = Map.empty,
    /** Row count per position-tombstone file (footer-harvested at
      * commit, like [[fileRows]]) — powers `delete_files` metadata
      * with zero tombstone reads. */
    posDelRows: Map[String, Long] = Map.empty,
    /** Streaming-sink transaction watermark carried BY this commit
      * (Delta's `txn` action): (appId, batchId) recorded atomically
      * with the data so a replayed micro-batch is detectable. */
    txn: Option[(String, Long)] = None,
    /** Manifest shards this snapshot's file list was read from
      * ([[ManifestShard]]); empty when every entry is inline in the
      * snapshot manifest (small tables) — and, for a PRUNED parse,
      * only the shards that survived pruning. */
    shards: Seq[ManifestShard] = Nil) {

  /** The physical (write-time) name of current column `name` in a
    * data file added at sequence `fseq`: renames that happened after
    * the file was written are unwound newest-first. `name` may be a
    * one-level nested path (`outer.inner`); each rename record uses
    * names CURRENT at its own epoch, so unwinding rewrites either the
    * exact path or — for a rename of the outer struct itself — the
    * path prefix. */
  def physicalName(name: String, fseq: Long): String =
    renames.filter(_.seq > fseq).reverseIterator
      .foldLeft(name) { (n, r) =>
        if (r.to == n) r.from
        else if (n.startsWith(r.to + ".")) r.from + n.substring(r.to.length)
        else n
      }

  /** The partition spec a file added at sequence `fseq` was written
    * under (Iceberg's per-file spec-id): the latest spec-history
    * entry at or before `fseq`; `partitionCols` when the table never
    * evolved its spec. */
  def specAt(fseq: Long): Seq[String] =
    if (specHist.isEmpty) partitionCols
    else specHist.filter(_._1 <= fseq).lastOption
      .map(_._2).getOrElse(Nil)
}

/** Another writer published a snapshot between this operation's
  * snapshot capture and its commit (Iceberg's optimistic-concurrency
  * conflict). Appends rebase and retry internally; row-level DML
  * first validates the intervening commits against its own read/write
  * file set ([[GraftTable.commitDml]]) and rebases when they are
  * disjoint — this exception surfaces only on TRUE overlap (or
  * metadata churn), for the caller to re-run against the new current
  * snapshot. */
final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

/** Iceberg-equivalent lakehouse table format on plain parquet
  * (ref: the governed Iceberg tables the sample provisions in
  * `producer_account_setup/producer_iceberg_datalake_setup.sh:118-150`
  * — partitioned, ACID, MERGE/UPDATE/DELETE, snapshot time travel,
  * schema evolution).
  *
  * Layout under `root`:
  * {{{
  *   data/commit-00001-xxxx/part-*.parquet  immutable data files
  *                                          (hive dirs for identity
  *                                          specs, _gp_i dirs for
  *                                          transform specs)
  *   _graft_meta/snap-00001.meta            one manifest per snapshot
  *   _graft_meta/refs.00001                 branch/tag heads, one
  *                                          immutable CAS-published
  *                                          version per mutation (only
  *                                          once a ref is created)
  *   _graft_meta/staged-<token>.meta        write-audit-publish stages
  *   _graft_meta/table.properties           TBLPROPERTIES
  * }}}
  *
  * A snapshot is a manifest: the list of data files plus the schema
  * current at commit time, per-file add-sequences, footer-harvested
  * column bounds and record counts, pending merge-on-read delete
  * predicates, the column-rename log, and the partition-spec history. Commits are copy-on-write, Iceberg-style:
  * DELETE / UPDATE / MERGE first compute the *affected file set* (the
  * data files that actually contain matching rows, discovered with a
  * distributed scan over `input_file_name`), rewrite only those files,
  * and carry every untouched file forward by reference. At 100 TB this
  * is the property that matters — a DELETE touching 0.1% of files
  * rewrites 0.1% of the data, metadata stays O(#files) on the driver
  * (exactly Iceberg's manifest model), and unchanged files keep their
  * row-group statistics for pruning. All paths go through the Hadoop
  * `FileSystem` API, so `root` may be HDFS/S3A in a cluster deployment.
  *
  * Concurrency: optimistic, Iceberg's model. Every commit names the
  * snapshot it expects to build on; publishing is a compare-and-swap
  * (per-root JVM lock + no-overwrite rename — see [[commit]]).
  * Appends rebase and retry on conflict; row-level DML validates the
  * intervening commits against its read/write file set and rebases
  * when disjoint ([[commitDml]] — Iceberg's partition/file-scoped
  * conflict validation), raising [[CommitConflictException]] only on
  * true overlap.
  */
final class GraftTable(val spark: SparkSession, rootStr: String,
    private val writeBranch: String = GraftTable.MainBranch) {
  private val root = new Path(rootStr)

  /** The table's storage root (for DROP TABLE … PURGE and tooling). */
  def location: String = root.toString
  private val fs: FileSystem =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val metaDir = new Path(root, "_graft_meta")

  /** Streaming-sink transaction marker stamped onto the NEXT commit
    * made through THIS handle (the Delta `txn` pattern):
    * [[graft.streaming.GraftLakeSink]] sets it right before its
    * merge/append so the (appId, batchId) watermark publishes
    * ATOMICALLY with the data — surviving retries of the commit CAS,
    * cleared by the sink when the batch completes. A sink uses a
    * dedicated handle, so unrelated commits never pick it up. */
  @volatile private[graft] var pendingTxn: Option[(String, Long)] = None

  // ---- metadata ----------------------------------------------------

  private def snapPath(id: Long) = new Path(metaDir, f"snap-$id%05d.meta")
  private def propsPath = new Path(metaDir, "table.properties")

  // ---- refs (branches and tags, Iceberg's named references) --------

  private def refsFile(v: Long) = new Path(metaDir, f"refs.$v%05d")

  /** Last refs version this handle observed — a probe floor, never
    * trusted as current (another process may have published more). */
  @volatile private var refsVersionHint = 0L

  /** Highest published refs version, 0 = the table has no refs.
    * Forward probe from the hint (same pattern as streaming head
    * discovery): the common case costs one existence check, never a
    * directory listing. */
  private def currentRefsVersion: Long = {
    var v = refsVersionHint
    while (fs.exists(refsFile(v + 1))) v += 1
    refsVersionHint = v
    v
  }

  /** Named refs: name -> (kind, snapshot id), kind ∈ {branch, tag}.
    * Refs versions are materialized only when the first branch/tag is
    * created; without one the table is the plain linear chain whose
    * head is the highest snapshot id (every pre-refs table reads
    * unchanged). Branches are movable heads that commits advance;
    * tags are immutable bookmarks. */
  def refs: Map[String, (String, Long)] = refsWithVersion._1

  /** Whether `name` exists as a BRANCH ref (not a tag). */
  def hasBranch(name: String): Boolean =
    refs.get(name).exists(_._1 == "branch")

  /** A handle pinned to `branch` (the carrier of Iceberg's
    * `spark.wap.branch` session pattern — see
    * [[graft.lakehouse.LakeSqlRule]]): every read resolves the BRANCH
    * head and every commit — append, DML, MERGE, maintenance — lands
    * on the branch through the same refs CAS the named-branch API
    * uses. `main` readers see nothing until [[fastForward]] publishes,
    * which is the whole write-audit-publish point. The handle shares
    * the table's storage, commit lock, and caches; only head
    * resolution differs. */
  def onBranch(branch: String): GraftTable = {
    if (branch == writeBranch) return this
    require(hasBranch(branch),
      s"no branch '$branch' on this table — create it first " +
        s"(ALTER TABLE … CREATE BRANCH $branch)")
    new GraftTable(spark, rootStr, branch)
  }

  /** (refs, version read): every mutation must use the PAIRED read so
    * its [[writeRefs]] CAS can detect a concurrent publisher. */
  private def refsWithVersion: (Map[String, (String, Long)], Long) = {
    val v = currentRefsVersion
    if (v == 0) (Map.empty, 0L)
    else {
      val in = fs.open(refsFile(v))
      val text =
        try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      (text.linesIterator.filter(_.contains('=')).map { line =>
        val i = line.indexOf('=')
        val j = line.indexOf('\t')
        line.substring(i + 1, j) -> (line.substring(0, i),
          line.substring(j + 1).toLong)
      }.toMap, v)
    }
  }

  /** The snapshot id ref `name` points at. For a table with no refs
    * file only `main` resolves — to the highest snapshot id. */
  def headOf(name: String): Long = {
    val r = refs
    if (r.isEmpty) {
      require(name == GraftTable.MainBranch,
        s"ref '$name' does not exist (table has no refs)")
      maxSnapshotId
    } else r.get(name) match {
      case Some((_, id)) => id
      case None => throw new IllegalArgumentException(
        s"ref '$name' does not exist (refs: ${r.keys.mkString(", ")})")
    }
  }

  /** Publish refs version `expectedVersion + 1` via the same
    * no-overwrite CAS as snapshot manifests ([[publishNoOverwrite]]:
    * `link(2)` on local FS, no-overwrite rename on HDFS). A version
    * that already exists means another writer published since
    * `expectedVersion` was read — the mutation is REJECTED with
    * [[CommitConflictException]] for the caller to re-read and retry.
    * The pre-round-6 design rewrote a single refs file in place,
    * which let two processes committing to the same branch both pass
    * the head check and the later rewrite silently DROP the earlier
    * commit from the branch lineage (a lost commit, not a stale ref);
    * versioned CAS turns that silent loss into a retryable conflict —
    * the exact evolution Iceberg made from HadoopTableOperations'
    * in-place metadata to versioned `vN.metadata.json` + commit CAS.
    * Readers resolve the highest version, so a published version is
    * immediately visible and never replaced. In-process writers
    * additionally serialize on the commit lock; the CAS is the
    * cross-process guarantee. */
  private def writeRefs(r: Map[String, (String, Long)],
      expectedVersion: Long): Unit = {
    val next = expectedVersion + 1
    val tmp = new Path(metaDir,
      s"refs.${java.util.UUID.randomUUID.toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(r.toSeq.sortBy(_._1).map { case (n, (k, id)) =>
      s"$k=$n\t$id"
    }.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!publishNoOverwrite(tmp, refsFile(next))) {
      fs.delete(tmp, false)
      throw new CommitConflictException(
        s"refs version $next was already published by another writer; " +
          "re-read the refs and retry the operation")
    }
    refsVersionHint = next
  }

  /** Test seam for the cross-process refs race: a raw CAS publish
    * from an explicitly-staled (refs, version) pair. */
  private[graft] def casRefsForTest(r: Map[String, (String, Long)],
      expectedVersion: Long): Unit = writeRefs(r, expectedVersion)
  private[graft] def refsVersionForTest: Long = currentRefsVersion

  /** Materialize the refs file if absent (pinning `main` where it is
    * now) and add `name` as a branch/tag at snapshot `at`. */
  private def createRef(kind: String, name: String, at: Long): Unit =
    GraftTable.commitLock(root.toString).synchronized {
      // the refs file is line/tab-delimited: an unvalidated name with
      // a tab or newline would corrupt it and brick every later read
      require(name.nonEmpty && name.forall(c =>
          c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
        s"ref name '$name' must match [A-Za-z0-9._-]+")
      require(fs.exists(snapPath(at)), s"snapshot $at does not exist")
      val (r0, v) = refsWithVersion
      val base =
        if (r0.isEmpty)
          Map(GraftTable.MainBranch -> ("branch", maxSnapshotId))
        else r0
      // reserved-name check FIRST: base always contains 'main', so
      // the duplicate check would otherwise shadow it with the
      // misleading "ref 'main' already exists"
      require(name != GraftTable.MainBranch, "main is reserved")
      require(!base.contains(name), s"ref '$name' already exists")
      writeRefs(base + (name -> (kind, at)), v)
    }

  /** Create a branch at snapshot `at` (default: current main head).
    * Writes via [[appendToBranch]] advance only this branch; `main`
    * readers never see them until [[fastForward]] publishes. */
  def createBranch(name: String, at: Long = -1L): Unit =
    createRef("branch", name,
      if (at < 0) headOf(GraftTable.MainBranch) else at)

  /** Create an immutable tag at snapshot `at` (default: current main
    * head) — a named time-travel bookmark that [[expireSnapshots]]
    * will never expire out from under you. */
  def createTag(name: String, at: Long = -1L): Unit =
    createRef("tag", name,
      if (at < 0) headOf(GraftTable.MainBranch) else at)

  /** Point an EXISTING ref at snapshot `at` (default: current main
    * head) — Iceberg's `[CREATE OR] REPLACE BRANCH|TAG`. The kind
    * must match (silently turning a tag into a branch would change
    * immutability semantics under the reader's feet); with
    * `orCreate` a missing ref is created instead (CREATE OR
    * REPLACE), without it a missing ref refuses (plain REPLACE).
    * CAS-versioned like every ref mutation — a concurrent publisher
    * surfaces as a retryable conflict, never a lost update. */
  def replaceRef(kind: String, name: String, at: Long = -1L,
      orCreate: Boolean = false): Unit =
    GraftTable.commitLock(root.toString).synchronized {
      require(name != GraftTable.MainBranch,
        "main cannot be replaced (use RESTORE or fast-forward)")
      val target = if (at < 0) headOf(GraftTable.MainBranch) else at
      require(fs.exists(snapPath(target)),
        s"snapshot $target does not exist")
      val (r, v) = refsWithVersion
      r.get(name) match {
        case Some((k, _)) =>
          require(k == kind, s"'$name' is a $k, not a $kind")
          writeRefs(r + (name -> (kind, target)), v)
        case None =>
          require(orCreate,
            s"ref '$name' does not exist (REPLACE requires an " +
              "existing ref; use CREATE OR REPLACE)")
          val base =
            if (r.isEmpty)
              Map(GraftTable.MainBranch -> ("branch", maxSnapshotId))
            else r
          writeRefs(base + (name -> (kind, target)), v)
      }
    }

  /** Drop a branch or tag. `main` cannot be dropped. */
  def dropRef(name: String): Unit =
    GraftTable.commitLock(root.toString).synchronized {
      require(name != GraftTable.MainBranch, "main cannot be dropped")
      val (r, v) = refsWithVersion
      require(r.contains(name), s"ref '$name' does not exist")
      writeRefs(r - name, v)
    }

  /** Read the table as of ref `name` (branch or tag). */
  def readRef(name: String): DataFrame = readAt(headOf(name))

  /** Fast-forward branch `target` to branch/tag `source`'s head —
    * Iceberg's `fast_forward` publish step: legal only when the
    * target head is an ancestor of the source head (nothing on the
    * target would be abandoned). The branch-then-fast-forward pair is
    * the audit-gated publish workflow at table granularity. */
  def fastForward(target: String, source: String): Unit =
    GraftTable.commitLock(root.toString).synchronized {
      val (r, v) = refsWithVersion
      require(r.get(target).exists(_._1 == "branch"),
        s"fast-forward target '$target' must be an existing branch")
      val to = headOf(source)
      var cur = to
      val from = headOf(target)
      // ancestry walk tolerates expired intermediate manifests: if the
      // chain cannot be proven (a snapshot between the heads was
      // expired), refuse with a clear error instead of crashing
      while (cur > from && cur > 0) cur = parentOf(cur).getOrElse(
        throw new IllegalArgumentException(
          s"cannot fast-forward $target ($from) to $source ($to): " +
            s"snapshot $cur between the heads has been expired, " +
            "ancestry cannot be proven"))
      require(cur == from,
        s"cannot fast-forward $target ($from) to $source ($to): " +
          "target head is not an ancestor of source head")
      writeRefs(r + (target -> ("branch", to)), v)
    }

  /** Parent id of snapshot `id`, None when its manifest has been
    * expired (history walks must degrade, not crash). */
  private def parentOf(id: Long): Option[Long] =
    if (!fs.exists(snapPath(id))) None else Some(snapshot(id).parent)

  /** Table-level properties (the TBLPROPERTIES of Iceberg DDL, e.g.
    * `write.delete.mode`), persisted once at create time. */
  def properties: Map[String, String] =
    if (!fs.exists(propsPath)) Map.empty
    else {
      val in = fs.open(propsPath)
      val text =
        try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      text.linesIterator.filter(_.contains('=')).map { line =>
        val i = line.indexOf('=')
        line.substring(0, i) -> line.substring(i + 1)
      }.toMap
    }

  private[graft] def setProperties(props: Map[String, String]): Unit =
    // an empty map still truncates an EXISTING file — clearing the
    // last property must not silently keep it
    if (props.nonEmpty || fs.exists(propsPath)) {
      val out = fs.create(propsPath, true)
      try out.write(props.map { case (k, v) => s"$k=$v" }
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }

  /** `copy-on-write` (default) rewrites affected files on DELETE;
    * `merge-on-read` commits a scoped delete predicate instead
    * (Iceberg's `write.delete.mode` table property). */
  def deleteMode: String =
    properties.getOrElse("write.delete.mode", "copy-on-write")

  /** Under merge-on-read: `equality` (default) commits the predicate
    * itself; `position` scans candidates once and commits (file, row)
    * tombstones — Iceberg v2's two delete-file shapes; `vector`
    * commits per-file deletion-vector bitmaps (Iceberg v3 / Delta
    * DVs, [[deleteMoRDv]]). */
  def deleteStyle: String =
    properties.getOrElse("write.delete.style", "equality")

  /** `copy-on-write` (default) rewrites matched files on UPDATE;
    * `merge-on-read` tombstones old images and appends new ones
    * (Iceberg's `write.update.mode`). */
  def updateMode: String =
    properties.getOrElse("write.update.mode", "copy-on-write")

  /** `copy-on-write` (default) rewrites matched files on MERGE;
    * `merge-on-read` tombstones matched rows and appends post-clause
    * images + inserts (Iceberg's `write.merge.mode`). */
  def mergeMode: String =
    properties.getOrElse("write.merge.mode", "copy-on-write")

  /** Row-level DML isolation for the rebase-on-conflict path:
    * `serializable` (default, Iceberg's) additionally rejects a
    * rebase when files ADDED by intervening commits could contain
    * rows matching this DML's predicate (manifest stats + partition
    * pruning decide — conservative, never unsound); `snapshot` lets
    * the DML apply to exactly the rows of its read snapshot and
    * ignores concurrent appends. The table-wide knob; per-operation
    * overrides resolve through [[isolationFor]]. */
  def dmlIsolation: String =
    properties.getOrElse("write.dml.isolation-level", "serializable")

  /** The isolation level governing ONE DML operation, resolved ONCE
    * at DML entry and threaded through the retry loop ([[commitDml]]):
    * Iceberg's per-operation `write.delete/update/merge
    * .isolation-level` wins over the table-wide
    * `write.dml.isolation-level`. Capturing the level up front keeps
    * a concurrent `setProperties` from flipping the semantics of an
    * in-flight DML between rebase retries — the level a statement
    * runs under is the level in force when it started, like Iceberg
    * binding its write options at operation build time. */
  private def isolationFor(op: String): String = {
    val props = properties
    val family = op.takeWhile(_ != '-') // delete-mor → delete, etc.
    val perOp = family match {
      case "delete" | "update" | "merge" =>
        props.get(s"write.$family.isolation-level")
      case _ => None
    }
    val level = perOp.getOrElse(
      props.getOrElse("write.dml.isolation-level", "serializable"))
    // Iceberg's IsolationLevel.fromName throws on unknown names; a
    // typo'd value silently degrading to snapshot semantics would be
    // an unsound default.
    if (level != "serializable" && level != "snapshot")
      throw new IllegalArgumentException(
        s"unknown isolation level '$level' for $family " +
          "(expected serializable or snapshot)")
    level
  }

  /** Highest snapshot id on disk — the id allocator. Equals the main
    * head for a refs-less (linear) table. */
  private def maxSnapshotId: Long =
    if (!fs.exists(metaDir)) 0L
    else
      fs.listStatus(metaDir)
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("snap-") && n.endsWith(".meta") =>
          n.stripPrefix("snap-").stripSuffix(".meta").toLong
        }
        .foldLeft(0L)(math.max)

  /** The `main` branch head (what readers see). */
  def currentSnapshotId: Long =
    if (currentRefsVersion == 0) maxSnapshotId
    else headOf(writeBranch)

  def snapshot(id: Long): Snapshot = parseManifest(snapPath(id), id)

  /** Read `path` whole as UTF-8 key=value lines (manifest and shard
    * bodies share the format). Counts one manifest read. */
  private def readKvLines(path: Path): Seq[(String, String)] = {
    GraftTable.manifestReads.incrementAndGet()
    val in = fs.open(path)
    val text =
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    text.linesIterator.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('=')
      (line.substring(0, i), line.substring(i + 1))
    }.toSeq
  }

  /** Per-file manifest entries from one kv body (inline snapshot
    * lines or one shard): files in declaration order plus the
    * fseq/frows/fsize/fstat maps. */
  private def parseFileEntries(kv: Seq[(String, String)]): (Seq[String],
      Map[String, Long], Map[String, Long], Map[String, Long],
      Map[String, Map[String, ColStat]], Map[String, Long]) = {
    def tagged(key: String) = kv.collect { case (`key`, v) =>
      val i = v.indexOf('\t')
      v.substring(i + 1) -> v.substring(0, i).toLong
    }.toMap
    (kv.collect { case ("file", v) => v },
      tagged("fseq"), tagged("frows"), tagged("fsize"),
      kv.collect { case ("fstat", v) => FileStatsJson.parse(v) }
        .flatten.toMap,
      tagged("frid"))
  }

  private def parseManifest(path: Path, id: Long,
      keepShard: (Seq[String], String, String) => Boolean =
        (_, _, _) => true): Snapshot = {
    val kv = readKvLines(path)
    def one(k: String) = kv.collectFirst { case (`k`, v) => v }.get
    val partitionCols = kv.collectFirst { case ("partcols", v) => v }
      .filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)
    // manifest-list entries: count \t lo \t hi \t path (path last —
    // the only field that could legally be long; lo/hi are escaped
    // hive segments, tab-free by construction)
    val shardRefs = kv.collect { case ("mshard", v) =>
      val parts = v.split("\t", 4)
      (parts(1), parts(2), parts(3))
    }
    val kept = shardRefs.filter { case (lo, hi, _) =>
      keepShard(partitionCols, lo, hi) }
    val shardParts = kept.map { case (lo, hi, p) =>
      val (fs0, seq0, rows0, sizes0, stats0, frid0) =
        parseFileEntries(readKvLines(new Path(p)))
      (ManifestShard(p, lo, hi, fs0), seq0, rows0, sizes0, stats0, frid0)
    }
    val (inFiles, inSeq, inRows, inSizes, inStats, inFrid) =
      parseFileEntries(kv)
    Snapshot(
      id = id,
      parent = one("parent").toLong,
      op = one("op"),
      ts = kv.collectFirst { case ("ts", v) => v.toLong }.getOrElse(0L),
      schema = DataType.fromJson(one("schema")).asInstanceOf[StructType],
      files = shardParts.flatMap(_._1.files) ++ inFiles,
      partitionCols = partitionCols,
      stats = shardParts.flatMap(_._5).toMap ++ inStats,
      dels = kv.collect { case ("dpred", v) => FileStatsJson.parseDel(v) }
        .flatten,
      posDels = kv.collect { case ("pdel", v) => v },
      posDelSizes = kv.collect { case ("pdsz", v) =>
        val i = v.indexOf('\t')
        v.substring(i + 1) -> v.substring(0, i).toLong
      }.toMap,
      // dvf = <blob path> \t <data file>  (keyed by data file)
      dvs = kv.collect { case ("dvf", v) =>
        val i = v.indexOf('\t')
        v.substring(i + 1) -> v.substring(0, i)
      }.toMap,
      dvSizes = kv.collect { case ("dvsz", v) =>
        val i = v.indexOf('\t')
        v.substring(i + 1) -> v.substring(0, i).toLong
      }.toMap,
      dvCards = kv.collect { case ("dvcd", v) =>
        val i = v.indexOf('\t')
        v.substring(i + 1) -> v.substring(0, i).toLong
      }.toMap,
      posDelRows = kv.collect { case ("pdrw", v) =>
        val i = v.indexOf('\t')
        v.substring(i + 1) -> v.substring(0, i).toLong
      }.toMap,
      fileSeq = shardParts.flatMap(_._2).toMap ++ inSeq,
      fileRows = shardParts.flatMap(_._3).toMap ++ inRows,
      fileSizes = shardParts.flatMap(_._4).toMap ++ inSizes,
      firstRowIds = shardParts.flatMap(_._6).toMap ++ inFrid,
      nextRowId = kv.collectFirst { case ("nextrowid", v) => v.toLong }
        .getOrElse(0L),
      renames = kv.collect { case ("rename", v) =>
        val parts = v.split("\t", 3)
        Rename(parts(0).toLong, parts(1), parts(2))
      },
      specHist = kv.collect { case ("spechist", v) =>
        val i = v.indexOf('\t')
        (v.substring(0, i).toLong,
          v.substring(i + 1).split(",").toSeq.filter(_.nonEmpty))
      },
      txn = kv.collectFirst { case ("txn", v) =>
        val i = v.indexOf('\t')
        (v.substring(0, i), v.substring(i + 1).toLong)
      },
      shards = shardParts.map(_._1))
  }

  /** PARTIAL parse of snapshot `id` for a partition-pruned read:
    * manifest shards whose [lo, hi] partition range fails `keepShard`
    * are never opened — at 10⁷ files the driver parses O(relevant
    * shards), not O(table). The returned snapshot's `files` covers
    * only the surviving shards (plus all inline entries), so it must
    * feed a read path that filters further, never a writer. */
  private def snapshotPruned(id: Long,
      keepShard: (Seq[String], String, String) => Boolean): Snapshot =
    parseManifest(snapPath(id), id, keepShard)

  def currentSnapshot: Snapshot = snapshot(currentSnapshotId)

  /** Ids of all live snapshot manifests, oldest first — THE one
    * parse of the `snap-<id>.meta` naming convention (shared by
    * [[snapshots]] and the metadata-log listing, which must never
    * drift apart on what counts as a manifest file). */
  private def snapshotIds: Seq[Long] =
    if (!fs.exists(metaDir)) Nil
    else fs.listStatus(metaDir)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("snap-") && n.endsWith(".meta") =>
        n.stripPrefix("snap-").stripSuffix(".meta").toLong
      }
      .sorted
      .toSeq

  /** All live snapshots, oldest first. */
  def snapshots: Seq[Snapshot] = snapshotIds.map(snapshot)

  /** The parent chain of `from` (default: the current head), newest
    * first, as (snapshot_id, commit wall-clock millis) — Iceberg's
    * `ancestors_of` procedure. Answered from cached HEADERS (bounded
    * ~4 KB prefix reads, once per JVM) — never a full manifest parse,
    * so the walk costs O(chain length) at any table size. An expired
    * ancestor ends the walk (its lineage is no longer provable). */
  def ancestorsOf(from: Long = -1L): Seq[(Long, Long)] = {
    val out = Seq.newBuilder[(Long, Long)]
    var id = if (from > 0) from else currentSnapshotId
    var done = false
    while (!done && id > 0) {
      header(id) match {
        case Some(hd) => out += ((id, hd.ts)); id = hd.parent
        case None     => done = true
      }
    }
    out.result()
  }

  /** Publish snapshot `expectedParent + 1` — optimistic concurrency:
    * the publish is a compare-and-swap (no-overwrite `rename` on
    * HDFS; atomic `link(2)` on local FS, where rename silently
    * replaces — see [[publishNoOverwrite]]), so of two writers
    * publishing over the same parent exactly one wins and the
    * other gets [[CommitConflictException]]. The tmp name is
    * per-attempt unique so racing writers cannot clobber each other's
    * in-flight manifest bytes. */
  private[graft] def commit(op: String, schema: StructType,
      files: Seq[String], partitionCols: Seq[String] = Nil,
      expectedParent: Long, delsOverride: Option[Seq[DeletePred]] = None,
      refSnap: Option[Snapshot] = None,
      branch: String = writeBranch,
      renamesOverride: Option[Seq[Rename]] = None,
      specHistOverride: Option[Seq[(Long, Seq[String])]] = None,
      posDelsOverride: Option[Seq[String]] = None,
      sizesExtra: Map[String, Long] = Map.empty,
      idFloor: Long = 0L,
      reshardManifests: Boolean = false,
      dvsOverride: Option[Map[String, String]] = None,
      dvCardsOverride: Option[Map[String, Long]] = None): Long =
    // In-process writers (multiple handles over one root) serialize
    // here, making check-then-publish a true CAS within the JVM.
    // Across processes publishNoOverwrite is the CAS — atomic
    // no-overwrite rename on HDFS, atomic link(2) on local FS;
    // object stores need a catalog/lock service, the same contract
    // as Iceberg's HadoopTableOperations.
    GraftTable.commitLock(root.toString).synchronized {
      commitLocked(op, schema, files, partitionCols, expectedParent,
        delsOverride, refSnap, branch, renamesOverride, specHistOverride,
        posDelsOverride, sizesExtra, idFloor, reshardManifests,
        dvsOverride, dvCardsOverride)
    }

  private def commitLocked(op: String, schema: StructType,
      files: Seq[String], partitionCols: Seq[String],
      expectedParent: Long, delsOverride: Option[Seq[DeletePred]],
      refSnap: Option[Snapshot], branch: String,
      renamesOverride: Option[Seq[Rename]],
      specHistOverride: Option[Seq[(Long, Seq[String])]],
      posDelsOverride: Option[Seq[String]],
      sizesExtra: Map[String, Long] = Map.empty,
      idFloor: Long = 0L,
      reshardManifests: Boolean = false,
      dvsOverride: Option[Map[String, String]] = None,
      dvCardsOverride: Option[Map[String, Long]] = None): Long = {
    refs.get(branch).foreach { case (kind, _) =>
      require(kind == "branch", s"cannot commit to $kind '$branch'")
    }
    val head = headOf(branch)
    if (head != expectedParent)
      throw new CommitConflictException(
        s"commit over snapshot $expectedParent, but $branch head is " +
          s"$head: another writer committed first")
    // idFloor lifts the allocator (shallowClone: the clone's ids must
    // start ABOVE every carried add-sequence, or a later MoR equality
    // delete on the clone — seq = its commit id — would compare below
    // carried fileSeq values and silently skip the cloned files)
    val id = math.max(maxSnapshotId, idFloor) + 1
    // Carried-forward metadata comes from `refSnap` (rollback passes
    // the snapshot being restored) or the parent. Per-file column
    // stats are carried by reference for files already known (they
    // are immutable) and harvested from the parquet footer for files
    // new in this commit — the Iceberg manifest model, so a query can
    // prune files without opening them. Add-sequences likewise: a
    // carried file keeps its sequence, a new file is sequenced at
    // this commit (the anchor for merge-on-read delete scoping).
    val ref = refSnap.orElse(
      if (expectedParent > 0) Some(snapshot(expectedParent)) else None)
    val refStats = ref.map(_.stats).getOrElse(Map.empty)
    val refSeq = ref.map(_.fileSeq).getOrElse(Map.empty)
    val refRows = ref.map(_.fileRows).getOrElse(Map.empty)
    val refSizes = ref.map(_.fileSizes).getOrElse(Map.empty)
    // footer reads for NEW files run on a bounded pool — a wide
    // append's commit latency is ceil(n/8) footer round-trips, not n
    // sequential ones (Iceberg parallelizes its manifest stats the
    // same way). One footer read yields both the column bounds and
    // the record count; known files carry both by reference (data
    // files are immutable).
    val newFiles = files.filterNot(refStats.contains)
    type Harvest = (Option[Long], Map[String, ColStat], Option[Long])
    val harvested: Map[String, Harvest] =
      if (newFiles.sizeIs <= 1)
        newFiles.map(f => f -> harvestFooter(f, schema)).toMap
      else {
        val pool = java.util.concurrent.Executors
          .newFixedThreadPool(math.min(8, newFiles.size))
        try {
          import scala.jdk.CollectionConverters._
          pool.invokeAll(newFiles.map { f =>
            (() => f -> harvestFooter(f, schema)): java.util.concurrent
              .Callable[(String, Harvest)]
          }.asJava).asScala.map(_.get).toMap
        } finally pool.shutdown()
      }
    val stats = files.map { f =>
      f -> refStats.getOrElse(f, harvested.get(f).map(_._2)
        .getOrElse(Map.empty))
    }.toMap
    val rows: Map[String, Long] = files.flatMap { f =>
      refRows.get(f).orElse(harvested.get(f).flatMap(_._1)).map(f -> _)
    }.toMap
    val sizes: Map[String, Long] = files.flatMap { f =>
      refSizes.get(f).orElse(sizesExtra.get(f))
        .orElse(harvested.get(f).flatMap(_._3)).map(f -> _)
    }.toMap
    val dels = delsOverride.getOrElse(ref.map(_.dels).getOrElse(Nil))
    val posDels =
      posDelsOverride.getOrElse(ref.map(_.posDels).getOrElse(Nil))
    // tombstone sizes: carried for known files, stat'ed ONCE at commit
    // for files new in this commit (the committer just wrote them) —
    // reads then gate their broadcast from the manifest alone
    val refPdSizes = ref.map(_.posDelSizes).getOrElse(Map.empty)
    val pdSizes: Map[String, Long] = posDels.flatMap { p =>
      refPdSizes.get(p)
        .orElse(
          try Some(fs.getFileStatus(new Path(p)).getLen)
          catch { case scala.util.control.NonFatal(_) => None })
        .map(p -> _)
    }.toMap
    // deletion vectors: carried like posDels, except keyed by data
    // file — a DV whose data file left the file list dies with it
    // (compaction materialized it; a rewrite replaced the file)
    val normFiles = files.map(normalize).toSet
    val dvs: Map[String, String] =
      dvsOverride.getOrElse(ref.map(_.dvs).getOrElse(Map.empty))
        .filter { case (df, _) => normFiles(normalize(df)) }
    val refDvSizes = ref.map(_.dvSizes).getOrElse(Map.empty)
    val dvSizes: Map[String, Long] = dvs.values.toSeq.distinct.flatMap { b =>
      refDvSizes.get(b)
        .orElse(
          try Some(fs.getFileStatus(new Path(b)).getLen)
          catch { case scala.util.control.NonFatal(_) => None })
        .map(b -> _)
    }.toMap
    // per-file deleted-row counts: scoped to live pointers like dvs
    val dvCards: Map[String, Long] =
      dvCardsOverride.getOrElse(ref.map(_.dvCards).getOrElse(Map.empty))
        .filter { case (df, _) => dvs.contains(df) }
    // tombstone row counts: carried for known files, footer-harvested
    // ONCE for files new in this commit — `delete_files` metadata
    // then answers with zero tombstone reads
    val refPdRows = ref.map(_.posDelRows).getOrElse(Map.empty)
    val pdRows: Map[String, Long] = posDels.flatMap { p =>
      refPdRows.get(p)
        .orElse(harvestFooter(p, schema)._1)
        .map(p -> _)
    }.toMap
    val renames =
      renamesOverride.getOrElse(ref.map(_.renames).getOrElse(Nil))
    val specHist =
      specHistOverride.getOrElse(ref.map(_.specHist).getOrElse(Nil))
    // ---- row lineage (Iceberg v3): first_row_id assignment --------
    // Every file new to the lineage gets a first-row-id range sized
    // by its record count (already footer-harvested above); carried
    // files keep theirs by reference. Rows materialized by a rewrite
    // carry their own ids and simply never use the file's range.
    // The counter is the PARENT head's (monotonic — a rollback's
    // refSnap may carry an older, smaller counter, and row id ranges
    // must never be reused).
    val lineageOn =
      properties.get(GraftTable.RowLineageProp).contains("true")
    val lineageFiles = files.toSet
    val refFirst = ref.map(_.firstRowIds).getOrElse(Map.empty)
    // The allocator is TABLE-wide, not branch-wide (Iceberg v3 keeps
    // next-row-id in table-level metadata): concurrent commits on
    // divergent branches each base on their own head, so taking only
    // the parent's counter would hand both branches the same id range
    // and lineageChanges would mis-pair unrelated rows as updates.
    // Max over every live ref head's counter closes that — O(#refs)
    // cached lookups per lineage commit ([[GraftTable.nextRowIdOf]]).
    val localNextRowId = math.max(
      ref.map(_.nextRowId).getOrElse(0L),
      if (refSnap.isDefined && expectedParent > 0)
        snapshot(expectedParent).nextRowId
      else 0L)
    val baseNextRowId =
      if (!lineageOn) localNextRowId
      else refs.values.foldLeft(localNextRowId) { case (m, (_, sid)) =>
        math.max(m, nextRowIdOf(sid))
      }
    val (firstRowIds: Map[String, Long], nextRowId: Long) =
      if (!lineageOn)
        (refFirst.filter { case (f, _) => lineageFiles(f) }, baseNextRowId)
      else {
        var ctr = baseNextRowId
        val fresh = files.filterNot(refFirst.contains).sorted.map { f =>
          val n = rows.getOrElse(f, throw new IllegalStateException(
            s"row lineage requires a record count for $f " +
              "(unreadable parquet footer)"))
          val e = f -> ctr
          ctr += n
          e
        }
        (refFirst.filter { case (f, _) => lineageFiles(f) } ++ fresh, ctr)
      }
    // files whose first-row-id was assigned THIS commit: any carried
    // manifest shard covering one must re-render (shards are immutable
    // and the carried copy has no frid line — without this, enabling
    // lineage on a sharded table never persists the assignment, the
    // coverage require never clears, and every commit re-assigns and
    // inflates the counter)
    val lineageFresh: Set[String] =
      if (!lineageOn) Set.empty
      else firstRowIds.keySet -- refFirst.keySet
    def renderFileEntry(body: StringBuilder, f: String, id: Long): Unit = {
      body ++= s"file=$f\n"
      body ++= s"fseq=${refSeq.getOrElse(f, id)}\t$f\n"
      rows.get(f).foreach(n => body ++= s"frows=$n\t$f\n")
      sizes.get(f).foreach(n => body ++= s"fsize=$n\t$f\n")
      firstRowIds.get(f).foreach(n => body ++= s"frid=$n\t$f\n")
      val cs = stats.getOrElse(f, Map.empty)
      if (cs.nonEmpty) body ++= s"fstat=${FileStatsJson.render(f, cs)}\n"
    }
    // ---- manifest-list planning (Iceberg's manifest-list model) ----
    // Shards are immutable and carried ACROSS snapshots by reference
    // exactly like data files: a parent shard survives iff every file
    // it names is still in this commit's file set — so an append's
    // metadata write is O(new files) and a 0.1% delete rewrites 0.1%
    // of the manifest entries, never the whole list. Entries not
    // covered by a carried shard stay inline in the snapshot manifest
    // until they reach the shard threshold, then spill into new
    // partition-sorted shards (lo/hi bounds recorded for pruned
    // reads). `reshardManifests` (OPTIMIZE … REWRITE MANIFESTS)
    // drops every carried shard and re-sorts the whole file list into
    // fresh range-disjoint shards.
    val shardThreshold = properties
      .get(GraftTable.ShardFilesProp).map(_.toInt).getOrElse(512)
    val fileSet = files.toSet
    val carriedShards: Seq[ManifestShard] =
      if (reshardManifests) Nil
      else ref.map(_.shards).getOrElse(Nil)
        .filter(s => s.files.forall(fileSet) &&
          !s.files.exists(lineageFresh))
    val coveredFiles = carriedShards.flatMap(_.files).toSet
    val uncovered = files.filterNot(coveredFiles)
    val makeShards = uncovered.size >= shardThreshold
    def writeShards(id: Long): Seq[ManifestShard] =
      if (!makeShards) Nil
      else uncovered.sortBy(partKeyOf).grouped(shardThreshold)
        .zipWithIndex.map { case (chunk, k) =>
          val p = new Path(metaDir, f"mfest-$id%05d-$k-" +
            s"${java.util.UUID.randomUUID.toString.take(8)}.meta")
          val body = new StringBuilder
          chunk.foreach(renderFileEntry(body, _, id))
          val out = fs.create(p, true)
          try out.write(body.toString.getBytes(StandardCharsets.UTF_8))
          finally out.close()
          val keys = chunk.map(partKeyOf)
          ManifestShard(fs.makeQualified(p).toString,
            keys.min, keys.max, chunk)
        }.toSeq
    def bodyFor(id: Long, newShards: Seq[ManifestShard]): String = {
      val body = new StringBuilder
      body ++= s"parent=$expectedParent\n"
      body ++= s"op=$op\n"
      body ++= s"ts=${System.currentTimeMillis()}\n"
      // txn sits BEFORE the (arbitrarily long) schema json so it is
      // always within the header prefix that [[header]] reads
      pendingTxn.foreach { case (app, b) => body ++= s"txn=$app\t$b\n" }
      body ++= s"schema=${schema.json}\n"
      body ++= s"partcols=${partitionCols.mkString(",")}\n"
      if (lineageOn || nextRowId > 0) body ++= s"nextrowid=$nextRowId\n"
      (carriedShards ++ newShards).foreach { s =>
        body ++= s"mshard=${s.files.size}\t${s.lo}\t${s.hi}\t${s.path}\n"
      }
      if (!makeShards) uncovered.foreach(renderFileEntry(body, _, id))
      dels.foreach(d => body ++= s"dpred=${FileStatsJson.renderDel(d)}\n")
      posDels.foreach { p =>
        body ++= s"pdel=$p\n"
        pdSizes.get(p).foreach(n => body ++= s"pdsz=$n\t$p\n")
        pdRows.get(p).foreach(n => body ++= s"pdrw=$n\t$p\n")
      }
      dvs.foreach { case (df, blob) =>
        body ++= s"dvf=$blob\t$df\n"
        dvSizes.get(blob).foreach(n => body ++= s"dvsz=$n\t$blob\n")
        dvCards.get(df).foreach(n => body ++= s"dvcd=$n\t$df\n")
      }
      // seq -1 marks "this commit": stamped with the id actually
      // published (branches share one id allocator, so the caller
      // cannot predict it)
      renames.foreach(r => body ++=
        s"rename=${if (r.seq < 0) id else r.seq}\t${r.from}\t${r.to}\n")
      specHist.foreach { case (seq, spec) => body ++=
        s"spechist=${if (seq < 0) id else seq}\t${spec.mkString(",")}\n" }
      body.toString
    }
    // Publish loop: the snapshot id is a table-global allocation
    // (branches share one id space), so losing the id race to a
    // commit on ANOTHER branch is not a conflict — re-allocate and
    // re-publish. Losing because OUR branch head moved is. Bounded:
    // a rename that keeps failing WITHOUT anyone else landing a
    // snapshot is a filesystem problem, not a race — surface it
    // instead of spinning under the commit lock.
    var attempt = id
    var remaining = 16
    while (remaining > 0) {
      remaining -= 1
      // new shards embed fseq = the published id for files new in this
      // commit, so they are (re)written per attempt; a lost race
      // deletes them (they were never referenced)
      val newShards = writeShards(attempt)
      val tmp = new Path(metaDir, f"snap-$attempt%05d.meta." +
        s"${java.util.UUID.randomUUID.toString.take(8)}.tmp")
      val out = fs.create(tmp, true)
      try out.write(
        bodyFor(attempt, newShards).getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (publishNoOverwrite(tmp, snapPath(attempt))) { // atomic publish
        advanceRefHead(branch, attempt, expectedParent)
        return attempt
      }
      fs.delete(tmp, false)
      newShards.foreach(s => fs.delete(new Path(s.path), false))
      if (headOf(branch) != expectedParent)
        throw new CommitConflictException(
          s"commit $attempt lost the publish race: another writer's " +
            "snapshot landed first")
      attempt = math.max(maxSnapshotId, idFloor) + 1
    }
    throw new IllegalStateException(
      s"publish of snapshot $attempt failed repeatedly with no " +
        "competing commit — filesystem refuses the rename")
  }

  /** Advance `branch` to `snap` after its manifest published. The
    * refs CAS closes the old cross-process lost-commit window: a
    * conflict from a commit on ANOTHER ref is absorbed by re-reading
    * and retrying (their update and ours compose), while OUR branch
    * head having moved means a concurrent writer's commit landed on
    * this branch first — that surfaces as [[CommitConflictException]]
    * (the published manifest is left unreferenced, like any failed
    * optimistic commit) instead of silently dropping the other
    * writer's snapshot from the lineage. No-op for refs-less tables,
    * where the manifest publish itself is the head pointer. */
  private def advanceRefHead(branch: String, snap: Long,
      expectedParent: Long): Unit = {
    var remaining = 16
    while (remaining > 0) {
      remaining -= 1
      val (r, v) = refsWithVersion
      if (v == 0) return
      val head = r.get(branch).map(_._2).getOrElse(
        throw new CommitConflictException(
          s"branch $branch was dropped while snapshot $snap published"))
      if (head != expectedParent)
        throw new CommitConflictException(
          s"branch $branch advanced to $head while snapshot $snap " +
            s"published over parent $expectedParent: commit lost the race")
      try { writeRefs(r + (branch -> ("branch", snap)), v); return }
      catch { case _: CommitConflictException => () } // other ref; retry
    }
    throw new IllegalStateException(
      s"refs CAS for branch $branch failed repeatedly without this " +
        "branch's head moving — filesystem refuses the publish")
  }

  /** Move `tmp` to `dest` iff `dest` does not exist, atomically with
    * respect to concurrent publishers in OTHER OS processes.
    *
    * HDFS `rename` is contractually atomic no-overwrite, so it is the
    * CAS there. Hadoop's LocalFileSystem rename, however, bottoms out
    * in POSIX rename(2), which silently REPLACES an existing
    * destination — two processes committing over the same parent
    * would both "succeed" and one manifest would be lost. For
    * file:// roots the publish is therefore `link(2)`
    * (Files.createLink), which atomically fails with EEXIST when the
    * destination is already present. */
  private[graft] def publishNoOverwrite(tmp: Path, dest: Path): Boolean =
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dest.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          fs.delete(tmp, false)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      case _ => fs.rename(tmp, dest)
    }

  /** Row-level DML commit with partition/file-scoped conflict
    * validation and REBASE (Iceberg's `validate…`+retry model):
    * instead of failing the moment the branch head moved, the lost
    * race is re-examined against what the intervening commits
    * actually touched, and when the sets are disjoint the same file
    * delta is re-attached onto the new head. At 100 TB with
    * per-partition ingest plus concurrent DML this is the difference
    * between whole-table serialization of every DELETE/UPDATE/MERGE
    * and writers only ever waiting on true overlap.
    *
    * - `readSet`: normalized data-file paths whose CONTENT this DML
    *   read to compute its writes (CoW: the rewritten files; MoR: the
    *   candidate files its tombstones name). Every one must still be
    *   live at the new head — a concurrent rewrite/removal of any is
    *   a real conflict (our rewrite would resurrect its rows, or our
    *   tombstones would miss rows it moved).
    * - `dropped`: normalized paths this DML removes from the file
    *   list (⊆ readSet; empty for MoR).
    * - `added` / `newTombs`: data / tombstone files this DML wrote —
    *   file names are attempt-unique ([[writeData]]), so re-attaching
    *   them to a different parent is safe.
    * - `predSql`: the row filter, for the serializable-isolation
    *   append check ([[isolationFor]], bound once at entry).
    *
    * Retries are bounded; exhaustion rethrows the conflict. */
  private def commitDml(op: String, base: Snapshot,
      readSet: Set[String], dropped: Set[String], added: Seq[String],
      newTombs: Seq[String] = Nil, predSql: Option[String] = None,
      branch: String = writeBranch,
      newDvs: Map[String, (String, Long)] = Map.empty): Long = {
    // bound once at entry; a concurrent setProperties cannot flip the
    // isolation semantics of an in-flight DML between retries
    val isolation = isolationFor(op)
    var parent = base
    var remaining = 8
    while (true) {
      val files = parent.files.filterNot(f => dropped(normalize(f))) ++ added
      try {
        return commit(op, base.schema, files, base.partitionCols,
          expectedParent = parent.id,
          posDelsOverride =
            if (newTombs.isEmpty) None
            else Some(parent.posDels ++ newTombs),
          branch = branch,
          // merged vectors were computed against base.dvs;
          // validateRebase proves head.dvs agrees on every touched
          // file before a retry reaches here, so parent.dvs ++ ours
          // is the correct union on every rebase
          dvsOverride =
            if (newDvs.isEmpty) None
            else Some(parent.dvs ++ newDvs.view.mapValues(_._1)),
          dvCardsOverride =
            if (newDvs.isEmpty) None
            else Some(parent.dvCards ++ newDvs.view.mapValues(_._2)))
      } catch {
        case e: CommitConflictException =>
          remaining -= 1
          if (remaining <= 0) throw e
          val head = snapshot(headOf(branch))
          if (head.id == parent.id) throw e // not a head race — rethrow
          validateRebase(op, base, head, readSet, predSql, isolation)
          parent = head
      }
    }
    -1L // unreachable
  }

  /** Decide whether a DML computed against `base` may rebase onto
    * concurrent `head`, throwing [[CommitConflictException]] with the
    * precise reason when it may not. The checks, in order:
    * table-shape freeze (schema / partition spec / renames / spec
    * history unchanged — a rewrite computed under the old shape
    * cannot be re-attached), no concurrent equality delete (its
    * sequence scoping cannot cover this commit's files), concurrent
    * position deletes must not target the read set (their rows would
    * resurrect through a rewrite, or diverge through a second
    * update), the read set must still be live, and — under
    * serializable isolation — intervening commits must not have added
    * files that could match the predicate (manifest stats + partition
    * pruning; a file the stats cannot exclude counts as a conflict,
    * so the check errs loud, never wrong). */
  private def validateRebase(op: String, base: Snapshot, head: Snapshot,
      readSet: Set[String], predSql: Option[String],
      isolation: String): Unit = {
    def conflict(why: String): Nothing =
      throw new CommitConflictException(
        s"$op computed over snapshot ${base.id} cannot rebase onto " +
          s"concurrent head ${head.id}: $why")
    if (head.schema != base.schema) conflict("schema changed concurrently")
    if (head.partitionCols != base.partitionCols)
      conflict("partition spec changed concurrently")
    if (head.renames != base.renames) conflict("columns renamed concurrently")
    if (head.specHist != base.specHist)
      conflict("partition-spec history changed concurrently")
    if (head.dels != base.dels)
      conflict("a concurrent equality delete landed; its sequence " +
        "scoping cannot cover this commit's files")
    val baseTombs = base.posDels.toSet
    if (!baseTombs.subsetOf(head.posDels.toSet))
      conflict("tombstones were removed concurrently (rollback or " +
        "compaction rewrote the delete files)")
    // a deletion-vector pointer that moved on a file this operation
    // read for write invalidates the live view it scanned (and, for a
    // vector-style DELETE, the merged bitmap it is about to commit)
    if (head.dvs != base.dvs && readSet.nonEmpty) {
      def ptrs(s: Snapshot) = s.dvs.map { case (f, b) => normalize(f) -> b }
      val (hp, bp) = (ptrs(head), ptrs(base))
      readSet.find(f => hp.get(f) != bp.get(f)).foreach(f =>
        conflict("a concurrent deletion vector landed on file(s) this " +
          s"operation read for write (e.g. $f)"))
    }
    val newTombs = head.posDels.filterNot(baseTombs)
    if (newTombs.nonEmpty && readSet.nonEmpty) {
      val hit = tombScan(newTombs, Seq(head)).select(col("_file")).distinct()
        .collect().map(r => decodeScanPath(r.getString(0)))
        .filter(readSet)
      if (hit.nonEmpty)
        conflict("concurrent position deletes target file(s) this " +
          s"operation read for write (e.g. ${hit.head})")
    }
    val headLive = head.files.map(normalize).toSet
    val gone = readSet.filterNot(headLive)
    if (gone.nonEmpty)
      conflict("file(s) read for write were concurrently rewritten " +
        s"or removed (e.g. ${gone.head})")
    if (isolation == "serializable") {
      val baseLive = base.files.map(normalize).toSet
      val addedBetween = headLive -- baseLive
      if (addedBetween.nonEmpty) predSql match {
        case Some(p) =>
          val matching = dmlCandidates(head, p).map(normalize)
            .filter(addedBetween)
          if (matching.nonEmpty)
            conflict("concurrently added file(s) may contain rows " +
              s"matching the predicate (e.g. ${matching.head}); " +
              "set write.dml.isolation-level=snapshot to scope DML " +
              "to its read snapshot")
        case None =>
          conflict("data files were added concurrently and MERGE " +
            "cannot prove them unmatched; set " +
            "write.dml.isolation-level=snapshot to scope the merge " +
            "to its read snapshot")
      }
    }
  }

  // ---- reads -------------------------------------------------------

  def read(): DataFrame = readAt(currentSnapshotId)

  /** Time travel: read the table as of snapshot `id`. The snapshot's
    * own schema is applied, so data files written before a column was
    * added surface NULL for it (parquet reads are by-name). */
  def readAt(id: Long): DataFrame = {
    val snap = snapshot(id)
    morRead(snap, snap.files)
  }

  /** Wall-clock time travel (Iceberg's `TIMESTAMP AS OF`): the
    * latest MAIN-lineage snapshot committed at or before `millis`
    * (branch commits are not main history). Commit timestamps are
    * informational metadata — correctness still keys off snapshot
    * ids; this is the operator-facing "what did the table look like
    * yesterday" surface. The ancestry walk reads cached headers
    * ([[header]]) — only the chosen snapshot gets a full manifest
    * parse, so a long history costs one bounded prefix read per
    * not-yet-cached step, once per JVM. */
  def readAsOfTimestamp(millis: Long): DataFrame =
    readAt(snapshotIdAsOfTimestamp(millis))

  /** The snapshot id [[readAsOfTimestamp]] resolves — shared with
    * planners that need the ID rather than a DataFrame (the SPJ
    * catalog's `TIMESTAMP AS OF` path pins its scan to it). */
  def snapshotIdAsOfTimestamp(millis: Long): Long = {
    var id = currentSnapshotId
    while (id > 0) {
      header(id) match {
        case Some(hd) =>
          if (hd.ts > 0 && hd.ts <= millis) return id
          id = hd.parent
        case None => id = 0 // expired out from under the walk
      }
    }
    throw new IllegalArgumentException(
      s"no live snapshot committed at or before epoch-millis $millis " +
        "(expired or pre-timestamp history cannot time-travel by " +
        "wall clock)")
  }

  /** The row-id counter (`nextrowid`) of snapshot `id` — 0 when the
    * manifest is gone (an expired ref target contributes nothing to
    * the table-wide allocator) or predates lineage. Cache-first: the
    * counter sits inline in the snapshot body (never in shards), so a
    * miss costs one manifest read WITHOUT shard fan-out, then the
    * immutable value serves every later commit from memory. */
  private def nextRowIdOf(id: Long): Long = {
    if (id <= 0) return 0L
    val cache = GraftTable.nextRowIdCache(root.toString)
    Option(cache.get(id)).map(_.longValue).getOrElse {
      val v =
        if (!fs.exists(snapPath(id))) 0L
        else readKvLines(snapPath(id))
          .collectFirst { case ("nextrowid", s) => s.toLong }
          .getOrElse(0L)
      cache.put(id, v)
      v
    }
  }

  /** The (parent, ts, op) header of snapshot `id`, None if its
    * manifest no longer exists. Cache-first; a miss reads a BOUNDED
    * prefix of the manifest — parent/op/ts are the first lines the
    * committer writes, so the walk never streams the file list or
    * stats (which dominate manifest size at scale). */
  private def header(id: Long): Option[SnapHeader] = {
    val cache = GraftTable.headerCache(root.toString)
    Option(cache.get(id)).orElse {
      if (!fs.exists(snapPath(id))) None
      else {
        GraftTable.manifestReads.incrementAndGet()
        val in = fs.open(snapPath(id))
        val text =
          try {
            val buf = new Array[Byte](4096)
            val n = in.readNBytes(buf, 0, buf.length)
            new String(buf, 0, math.max(n, 0), StandardCharsets.UTF_8)
          } finally in.close()
        val kv = text.linesIterator.flatMap { line =>
          val i = line.indexOf('=')
          if (i < 0) None else Some(line.substring(0, i) -> line.substring(i + 1))
        }.toMap
        // parent/op/ts/txn sit in the first ~200 bytes of our layout
        // (before the schema json); a manifest that doesn't match it
        // falls back to the full parse
        val hd = (for (p <- kv.get("parent"); op <- kv.get("op"))
          yield SnapHeader(p.toLong,
            kv.get("ts").map(_.toLong).getOrElse(0L), op,
            kv.get("txn").map { v =>
              val i = v.indexOf('\t')
              (v.substring(0, i), v.substring(i + 1).toLong)
            }))
          .getOrElse {
            val s = snapshot(id)
            SnapHeader(s.parent, s.ts, s.op, s.txn)
          }
        cache.put(id, hd)
        Some(hd)
      }
    }
  }

  /** Read `files` under `snap`, applying merge-on-read deletes. Files
    * group by the set of delete predicates that scope to them (a
    * delete applies only to files with a LOWER add-sequence); each
    * group reads once with its combined anti-filter, groups union.
    * Deletes are null-rejecting like SQL DELETE: a row whose
    * predicate evaluates NULL survives. POSITION deletes then apply
    * as one broadcast anti-join on (file, row position) over the
    * union — tombstones name exact rows of exact files, so rows of
    * un-tombstoned files pass through the join untouched and files
    * appended after the delete need no scoping at all. With no
    * pending deletes this is exactly the plain scan. */
  private def morRead(snap: Snapshot, files: Seq[String]): DataFrame =
    if (snap.dels.isEmpty && snap.posDels.isEmpty && snap.dvs.isEmpty)
      readFilesMapped(snap, files)
    else if (snap.posDels.isEmpty && snap.dvs.isEmpty)
      files
        .groupBy(f => snap.dels.filter(_.seq > snap.fileSeq.getOrElse(f, 0L)))
        .toSeq.sortBy(_._2.headOption.getOrElse(""))
        .map { case (preds, fs) =>
          preds.foldLeft(readFilesMapped(snap, fs)) {
            (df, p) => df.filter(not(coalesce(expr(p.pred), lit(false))))
          }
        }
        .reduceOption(_.unionByName(_))
        .getOrElse(readFiles(snap, Nil))
    else morReadPos(snap, files)
      .drop(GraftTable.PosFileCol, GraftTable.PosIdxCol)

  /** The LIVE view of `files` (equality deletes filtered, position
    * tombstones anti-joined) with each surviving row still carrying
    * its (file, row index) — what merge-on-read DML scans: matched
    * rows must come from the view a reader would see (a row already
    * tombstoned must not be matched again, let alone re-emitted as a
    * new image), and their positions are exactly the tombstones the
    * DML will commit. */
  private def morReadPos(snap: Snapshot, files: Seq[String]): DataFrame = {
    // position metadata must come from the leaf scans — renamed-column
    // alias stacks would hide it; a rename lands as a rewrite-free
    // metadata commit, so requiring compaction first is the same
    // contract copy-on-write DML already has
    require(snap.renames.isEmpty,
      "position deletes under renamed columns: compact() first")
    // initial-DEFAULT columns apply here exactly as on the plain read
    // path (readFilesMapped): pre-add rows must surface the DEFAULT,
    // not NULL — MoR DML builds new row images from this view, so a
    // miss here would MATERIALIZE the wrong NULLs into data files.
    // Defaults apply BEFORE the equality-delete predicates evaluate,
    // matching what the live view showed when the delete committed.
    val defaulted = defaultedCols(snap)
    val eq = files
      .groupBy(f => (
        snap.dels.filter(_.seq > snap.fileSeq.getOrElse(f, 0L)),
        preAddOf(snap, defaulted, f)))
      .toSeq.sortBy(_._2.headOption.getOrElse(""))
      .map { case ((preds, pre), fs) =>
        val base = applyDefaults(snap, defaulted,
          readFilesPos(snap, fs), pre)
        preds.foldLeft(base) {
          (df, p) => df.filter(not(coalesce(expr(p.pred), lit(false))))
        }
      }
      .reduceOption(_.unionByName(_))
      .getOrElse(readFilesPos(snap, Nil))
    val withDv = if (snap.dvs.isEmpty) eq else {
      // deletion vectors: a LEFT join keyed by FILE ONLY (one row per
      // vectored file — metadata-scale, vs one row per deleted row
      // for tombstones) plus an O(1) codegen'd bit probe per row; a
      // row from an un-vectored file sees a NULL bitmap and survives
      // through the coalesce
      import org.apache.spark.sql.GraftSqlBridge.{columnOf, expressionOf}
      // internal names under the reserved _gdv prefix: a user column
      // named `_bitmap` must not make this join ambiguous
      val dv = currentDvRelation(snap)
        .select(col("_file").as(GraftTable.DvFileCol),
          col("_bitmap").as(GraftTable.DvBitmapCol))
      val hinted =
        if (dvHeapBytes(snap).exists(_ <= GraftTable.PosDelBroadcastBytes))
          broadcast(dv)
        else dv
      eq.join(hinted,
          col(GraftTable.PosFileCol) === col(GraftTable.DvFileCol),
          "left")
        .filter(not(coalesce(
          columnOf(graft.functions.NativeExprs.BitsetGet(
            expressionOf(col(GraftTable.DvBitmapCol)),
            expressionOf(col(GraftTable.PosIdxCol)))),
          lit(false))))
        .drop(GraftTable.DvFileCol, GraftTable.DvBitmapCol)
    }
    if (snap.posDels.isEmpty) withDv
    else withDv.join(tombstones(snap),
        col(GraftTable.PosFileCol) === col("_file") &&
          col(GraftTable.PosIdxCol) === col("_pos"),
        "left_anti")
  }

  /** Tombstone files `fs`, named by the manifests of `snaps`, as one
    * (`_file`, `_pos`) scan. */
  private def tombScan(fs: Seq[String], snaps: Seq[Snapshot]): DataFrame =
    manifestScan(GraftTable.TombSchema, fs, snaps.flatMap(_.posDelSizes).toMap)

  /** `snap`'s position tombstones as one (`_file`, `_pos`) scan,
    * broadcast only while the set is demonstrably small: a table that
    * has absorbed heavy MoR DML can hold billions of (file, pos) rows,
    * and forcing those through a driver-collected broadcast is an OOM.
    * On-disk parquet size is the cheap, already-known proxy (paths
    * dictionary-compress, so in-memory is larger — the 32 MB gate
    * leaves that margin); beyond it the anti-join falls back to a
    * plain shuffle join on the same keys. */
  private def tombstones(snap: Snapshot): DataFrame = {
    val sizes = sizesOf(snap.posDels, snap.posDelSizes)
    val tomb = manifestScan(GraftTable.TombSchema, snap.posDels, sizes)
    if (sizes.values.sum <= GraftTable.PosDelBroadcastBytes) broadcast(tomb)
    else tomb
  }

  /** Write (file, pos) tombstones for every row of `rows` (which must
    * carry the [[readFilesPos]] metadata columns) and return the
    * tombstone file paths. */
  private def writeTombstones(rows: DataFrame, commitId: Long): Seq[String] = {
    val dir = new Path(root, f"data/commit-$commitId%05d-pdel-" +
      java.util.UUID.randomUUID.toString.take(8))
    rows.select(col(GraftTable.PosFileCol).as("_file"),
        col(GraftTable.PosIdxCol).as("_pos"))
      .write.parquet(dir.toString)
    fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .map(_.toString).toSeq.sorted
  }

  /** [[readFiles]] with each leaf scan carrying its hidden metadata
    * (file path + row index) as real columns — the join key of the
    * position-delete anti-join. Selected at the LEAF because Spark's
    * `_metadata` resolves only directly against a file-source
    * relation, not through projections or unions. */
  private def readFilesPos(snap: Snapshot, files: Seq[String]): DataFrame =
    readFiles(snap, files).select(col("*"),
      col("_metadata.file_path").as(GraftTable.PosFileCol),
      col("_metadata.row_index").as(GraftTable.PosIdxCol))

  /** Read `files` under `snap`, resolving renamed columns: each file
    * reads under its WRITE-TIME physical names (files group by name
    * epoch — one read per distinct mapping, not per file) and aliases
    * to the current schema. Rename-free tables take the plain path
    * untouched. */
  /** Columns with an initial default: (name, default SQL, since) — a
    * file sequenced at or before `since` predates the column and
    * reads the default for EVERY row (the column cannot exist in it).
    * Shared by the mapped read path and [[morReadPos]]. */
  private def defaultedCols(snap: Snapshot): Seq[(String, String, Long)] =
    snap.schema.fields.toSeq.flatMap { f =>
      if (f.metadata.contains(GraftTable.DefaultSqlKey) &&
          f.metadata.contains(GraftTable.DefaultSinceKey))
        Some((f.name, f.metadata.getString(GraftTable.DefaultSqlKey),
          f.metadata.getLong(GraftTable.DefaultSinceKey)))
      else None
    }

  /** The defaulted columns that apply to a file (it predates them). */
  private def preAddOf(snap: Snapshot,
      defaulted: Seq[(String, String, Long)], f: String): Seq[String] = {
    val fseq = snap.fileSeq.getOrElse(f, snap.id)
    defaulted.filter(_._3 >= fseq).map(_._1)
  }

  private def applyDefaults(snap: Snapshot,
      defaulted: Seq[(String, String, Long)], df: DataFrame,
      pre: Seq[String]): DataFrame =
    defaulted.filter(d => pre.contains(d._1))
      .foldLeft(df) { case (d, (c, sql, _)) =>
        d.withColumn(c, expr(sql).cast(snap.schema(c).dataType))
      }

  private def readFilesMapped(snap: Snapshot, files: Seq[String]): DataFrame = {
    val defaulted = defaultedCols(snap)
    def preAddOf(f: String): Seq[String] =
      this.preAddOf(snap, defaulted, f)
    def applyDefaults(df: DataFrame, pre: Seq[String]): DataFrame =
      this.applyDefaults(snap, defaulted, df, pre)
    if (snap.renames.isEmpty && defaulted.isEmpty)
      readFiles(snap, files)
    else if (snap.renames.isEmpty) {
      // defaults only: group files into pre-/post-add epochs per
      // defaulted column set (same epoch-union shape as renames)
      files.groupBy(preAddOf)
        .toSeq.sortBy(_._2.headOption.getOrElse("")).map { case (pre, fs) =>
          applyDefaults(readFiles(snap, fs), pre)
        }
        .reduceOption(_.unionByName(_))
        .getOrElse(readFiles(snap, Nil))
    } else {
      // the mapped name tree covers EVERY depth (renames may touch a
      // field at any level — the name-mapping analog of Iceberg's
      // field ids): enumerate all dotted paths of the current schema,
      // unwind each through the rename log per file epoch, and
      // rebuild structs recursively on read.
      def allPaths(st: StructType, prefix: String): Seq[String] =
        st.fields.toSeq.flatMap { f =>
          val p = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
          p +: (f.dataType match {
            case s: StructType => allPaths(s, p)
            case _ => Nil
          })
        }
      val names: Seq[String] = allPaths(snap.schema, "")
      files.groupBy { f =>
        val fseq = snap.fileSeq.getOrElse(f, snap.id)
        (names.map(n => snap.physicalName(n, fseq)), preAddOf(f))
      }.toSeq.sortBy(_._2.headOption.getOrElse("")).map {
        case ((physNames, pre), fs) =>
          val phys = names.zip(physNames).toMap
          def leafOf(p: String) = p.substring(p.lastIndexOf('.') + 1)
          // write-time schema of this epoch's files: rename every
          // mapped path back to its physical form, at every depth
          // (prefix consistency holds because every rename record
          // rewrites an exact path or a path prefix, so a child's
          // physical parent is exactly the parent's physical path)
          def physField(fld: StructField, path: String): StructField = {
            val leaf = leafOf(phys(path))
            fld.dataType match {
              case st: StructType => fld.copy(name = leaf,
                dataType = StructType(st.fields.map(c =>
                  physField(c, s"$path.${c.name}"))))
              case _ => fld.copy(name = leaf)
            }
          }
          val physSchema = StructType(
            snap.schema.fields.map(f => physField(f, f.name)))
          // does any field anywhere below `path` read under a
          // different physical leaf in this epoch?
          def renamedBelow(fld: StructField, path: String): Boolean =
            fld.dataType match {
              case st: StructType => st.fields.exists { c =>
                val cp = s"$path.${c.name}"
                leafOf(phys(cp)) != c.name || renamedBelow(c, cp)
              }
              case _ => false
            }
          // current-name column over the physical scan: structs with
          // renames below rebuild with children aliased to current
          // names, preserving NULL structs at EVERY level (a bare
          // struct() of null children would resurrect a null struct
          // as a row of nulls)
          def currentCol(fld: StructField, path: String,
              physCol: Column): Column = fld.dataType match {
            case st: StructType if renamedBelow(fld, path) =>
              val rebuilt = struct(st.fields.map { c =>
                val cp = s"$path.${c.name}"
                currentCol(c, cp, physCol.getField(leafOf(phys(cp))))
                  .as(c.name)
              }.toIndexedSeq: _*)
              when(physCol.isNull, lit(null).cast(st)).otherwise(rebuilt)
            case _ => physCol
          }
          manifestScan(physSchema, fs, snap.fileSizes, snap.partitionCols)
            .select(snap.schema.fields.map { fld =>
              currentCol(fld, fld.name, col(s"`${leafOf(phys(fld.name))}`"))
                .as(fld.name)
            }.toIndexedSeq: _*)
            .transform(applyDefaults(_, pre))
      }.reduceOption(_.unionByName(_))
        .getOrElse(readFiles(snap, Nil))
    }
  }

  /** Partition-pruned read: keep only data files whose hive-style
    * path carries `partCol=v` for some `v` in `values`. The pruning
    * decision is made on the manifest alone — O(#files) driver-side,
    * no storage listing, no file opens — which is the Iceberg-style
    * metadata win this format exists for: at 100 TB a query for one
    * partition reads that partition, not the directory tree. */
  def readPruned(partCol: String, values: Set[String]): DataFrame = {
    val wanted = values.map(v => hiveSegment(partCol, v))
    // Manifest-shard pruning BEFORE entry parsing: when `partCol`
    // leads the spec, a shard's [lo, hi] partition-key range can
    // contain a file of partition `w` only if it overlaps the prefix
    // interval [w, w + U+FFFF] (every partition key starting with `w`
    // sorts there). Predicates on a non-leading partition column
    // cannot bound the lexicographic range — every shard is parsed,
    // pruning happens per entry as before (conservative, never
    // wrong). Iceberg's manifest-list partition summaries gate reads
    // the same way.
    val snap = snapshotPruned(currentSnapshotId,
      (partCols, lo, hi) =>
        !partCols.headOption.contains(partCol) ||
          wanted.exists(w => hi >= w && lo <= w + "\uffff"))
    require(PartField.allIdentity(snap.partitionCols),
      "readPruned addresses identity partitions; transform-partitioned " +
        "tables prune through readWhere on the raw column")
    require(snap.partitionCols.contains(partCol),
      s"$partCol is not a partition column of ${snap.partitionCols}")
    val kept = snap.files.filter(f => layoutSegs(f).exists(wanted.contains))
    morRead(snap, kept)
  }

  /** `files` of `snap` as one scan under the snapshot's schema. */
  private def readFiles(snap: Snapshot, files: Seq[String]): DataFrame =
    manifestScan(snap.schema, files, snap.fileSizes, snap.partitionCols)

  /** ONE parquet scan over manifest-named `files`: a single relation
    * over a [[ManifestFileIndex]] whose sizes come from `sizes` (a live
    * stat only for a file a pre-size manifest never recorded) and
    * whose identity-partition values come from each file's directory
    * names below its commit dir. Planning lists no storage and starts
    * no listing job; pruning and split packing span every commit.
    * Transform specs keep every raw column in the data file (their
    * derived dirs are metadata only), so they scan unpartitioned; so
    * does an empty file set, which keeps the declared column order. */
  private def manifestScan(schema: StructType, files: Seq[String],
      sizes: Map[String, Long], partitionCols: Seq[String] = Nil): DataFrame = {
    val parts =
      if (files.nonEmpty && PartField.allIdentity(partitionCols)) partitionCols
      else Nil
    val known = sizesOf(files, sizes)
    ManifestFileIndex.scan(spark, schema, parts, files.map { f =>
      val dirs = if (parts.isEmpty) Map.empty[String, String]
        else layoutSegs(f).dropRight(1).map { seg =>
          val i = seg.indexOf('=')
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(seg.take(i)) -> seg.drop(i + 1)
        }.toMap
      ManifestFile(f, known(f), parts.map(c => dirs.getOrElse(c,
        throw new IllegalStateException(
          s"data file has no partition directory for $c: $f"))))
    })
  }

  /** The byte size of each of `files`: its manifest record in `sizes`,
    * or a live stat for a file a pre-size manifest never recorded. */
  private def sizesOf(files: Seq[String],
      sizes: Map[String, Long]): Map[String, Long] =
    files.map(f => f -> sizes.getOrElse(f,
      fs.getFileStatus(new Path(f)).getLen)).toMap

  /** A `col=value` path segment exactly as Spark's hive-style writer
    * lays it out (escaped; NULL becomes the default-partition dir). */
  private def hiveSegment(col: String, value: Any): String = {
    val v =
      if (value == null) "__HIVE_DEFAULT_PARTITION__"
      else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName(value.toString)
    s"$col=$v"
  }

  /** The file's partition-directory string (`col=v/col2=v2`; "" for
    * unpartitioned or adopted files) — the manifest-shard sort and
    * range-prune key. */
  private def partKeyOf(file: String): String =
    commitDirOpt(file).fold("")(_ =>
      layoutSegs(file).dropRight(1).mkString("/"))

  /** The file's `commit-*` ancestor dir, or None for files the table
    * references but does not own (adopted via [[addFiles]]/[[adopt]] —
    * they live under the external source dir, outside any commit). */
  private def commitDirOpt(file: String): Option[String] = {
    var p = new Path(file).getParent
    while (p != null && !p.getName.startsWith("commit-")) p = p.getParent
    Option(p).map(_.toString)
  }

  private def commitDirOf(file: String): String = {
    val d = commitDirOpt(file)
    require(d.isDefined, s"file outside a commit dir: $file")
    d.get
  }

  /** Path segments BELOW the file's commit dir — the only segments
    * carrying layout information. Matching against the FULL path
    * would let a table root that itself contains a look-alike
    * `col=v` segment stand in for the file's partition directory
    * (readPruned would return unrequested partitions;
    * overwritePartitions could drop the whole table). */
  private def layoutSegs(file: String): Array[String] = {
    val p = new Path(file).toUri.getPath
    val base = new Path(commitDirOf(file)).toUri.getPath
    p.stripPrefix(base).split("/").filter(_.nonEmpty)
  }

  /** Incremental read: rows in data files added after `fromId` up to
    * and including `toId` (append-style commits; a CDC feed over
    * replace commits would additionally diff removed files). */
  def incrementalRead(fromId: Long, toId: Long): DataFrame = {
    val from = snapshot(fromId).files.toSet
    val to = snapshot(toId)
    readFilesMapped(to, to.files.filterNot(from))
  }

  /** Net row-level changelog between two snapshots (the CDC surface —
    * Iceberg's `create_changelog_view` with net changes): rows
    * present at `toId` but not `fromId` tagged `_change_type =
    * 'insert'`, the reverse tagged `'delete'`. An UPDATE therefore
    * surfaces as delete+insert of the changed row, and rows that
    * merely rode along a copy-on-write rewrite cancel out.
    *
    * Scale shape: computed from the FILE diff, not the table — files
    * carried across the range never read (at 100 TB a day's changelog
    * reads the day's rewritten files, not the table), and the
    * exceptAll pair that nets rewrite survivors is the standard
    * changelog compute (one hash shuffle over only the diffed files'
    * rows). This is exact because final = carried + added and initial
    * = carried + removed, so the carried multiset cancels:
    * final∖initial = added∖removed.
    *
    * Position deletes COMPOSE (they are what MoR UPDATE/MERGE emit,
    * so a changelog that refused them would go dark exactly when the
    * table is busiest): tombstone files are immutable and carried by
    * reference, so the tombstone-file set diff names exactly the
    * range's new (deletes) and undone (rollback re-inserts)
    * positions; only the data files those positions name are read —
    * carried files untouched by DML still cost nothing. Equality
    * deletes remain excluded (their predicate scoping has no
    * row-position identity to diff): materialize first.
    *
    * Restrictions (same contract as Iceberg's changelog): unevolved
    * schema across the range (changelog identity is the full row).
    *
    * `fromId = 0` means "before the first snapshot": the whole live
    * view surfaces as inserts (the streaming change feed's initial
    * batch). */
  /** ROW-ID-KEYED changelog between two snapshots — what Iceberg v3
    * row lineage exists FOR: the plain changelog ([[changes]]) can
    * only emit an UPDATE as a content-matched delete+insert pair,
    * which breaks the moment the same logical row is rewritten twice
    * in the range (the pair no longer content-matches) or two rows
    * swap values. Here both endpoints' diff files read WITH lineage,
    * a full-outer join on `_row_id` pairs each logical row's old and
    * new image across ANY number of intermediate rewrites, and the
    * LINEAGE ITSELF decides the verdict: same id on both sides with
    * an unchanged last-updated sequence is a rewrite ride-along
    * (dropped — carried by compaction/relocation, not changed), a
    * bumped sequence is one `update` row (post-image), id only on
    * the from side is a `delete` (old image), only on the to side an
    * `insert`. Cost is O(changed files) rows through one join on an
    * 8-byte key — the text/content never drives the netting.
    * ALL THREE MoR delete shapes compose: DV pointer moves and
    * position-tombstone set diffs on carried files expand into keyed
    * deletes (old image from the from-side live view) and rollback
    * un-deletes, reading only the moved blobs and the named rows;
    * EQUALITY predicates shared by both endpoints cancel through the
    * live-view reads, and predicates that differ in-range expand
    * over stats-pruned carried candidates into keyed deletes and
    * restores. */
  def lineageChanges(fromId: Long, toId: Long): DataFrame =
    lineageChanges(fromId, toId, id => snapshot(id))

  /** [[lineageChanges]] with a caller-supplied snapshot lookup — the
    * streaming source passes its per-stream manifest cache, so each
    * endpoint parses once per stream, not once per batch. `fromId`
    * 0 = "before the table existed": everything in `toId` is an
    * insert (the stream's first batch). */
  private[graft] def lineageChanges(fromId: Long, toId: Long,
      snapOf: Long => Snapshot): DataFrame = {
    val to = snapOf(toId)
    val fromOpt = if (fromId == 0L) None else Some(snapOf(fromId))
    // ALL THREE MoR delete shapes compose — the legs below read each
    // endpoint's live view; DV pointer moves expand through a bitmap
    // diff and position-tombstone set diffs expand through the
    // immutable tombstone files, each on CARRIED files only (a feed
    // that refused any shape would wedge permanently on the tables
    // that accept it: the endpoint snapshot is immutable, so no later
    // compaction could ever unwedge it). EQUALITY predicates — which
    // can only predate enablement or a lineage-off window — apply
    // inside every live-view read (lineageSource), so predicates
    // SHARED by both endpoints cancel without any extra work, and
    // predicates that DIFFER expand below into keyed deletes/restores
    // over stats-pruned carried candidates, the r17 plain-feed
    // expansion carried onto the rid-keyed join.
    require(!to.schema.fieldNames.exists(n =>
        n.equalsIgnoreCase("_row_id") || n.equalsIgnoreCase("_change_type")),
      "lineage changelog over a table with its own '_row_id' or " +
        "'_change_type' column is not supported (the feed's tag " +
        "columns would collide)")
    val fromFiles = fromOpt.map(_.files).getOrElse(Nil)
    val fromSet = fromFiles.toSet
    val toSet = to.files.toSet
    val added = to.files.filterNot(fromSet)
    val removed = fromFiles.filterNot(toSet)
    // carried files must agree on their first-row-id at BOTH
    // endpoints: a rollback to a PRE-ENABLEMENT snapshot re-assigns
    // fresh id ranges to the files it restores (the target had none
    // to carry), so a carried row would read DIFFERENT ids at the two
    // endpoints and the keyed join would mis-pair every one of its
    // rows as a phantom delete+insert. Refuse loudly, fail closed —
    // rows that MATERIALIZE their id in-file would still pair, but
    // the manifest cannot see which rows those are.
    fromOpt.foreach { f =>
      val unstable = to.files.filter(fromSet)
        .filter(p => f.firstRowIds.get(p) != to.firstRowIds.get(p))
      require(unstable.isEmpty,
        s"lineage changelog endpoints ($fromId, $toId] disagree on " +
          s"the first row id of ${unstable.size} carried file(s) " +
          s"(e.g. ${unstable.head}) — the range crosses a rollback " +
          "to a pre-lineage snapshot, which re-assigned row ids; " +
          "restart the feed from the re-assignment")
    }
    val cols = to.schema.fieldNames.toSeq
    // Null-backfilled ADD COLUMN is handled IN-RANGE (the from side
    // projects up to the to schema with null fills — exactly the
    // value those rows read as at `to`): a checkpointed lineage
    // stream would otherwise wedge PERMANENTLY at the ADD COLUMN
    // commit, since the straddling (from, to] batch refuses on every
    // retry and endpoint snapshots are immutable. Every other shape
    // (drop/rename/type change, incl. nested adds — those change a
    // top-level struct TYPE) still refuses: there is no sound
    // up-projection for them.
    fromOpt.foreach { f =>
      val compatible = f.schema.fields.forall(ff =>
        to.schema.fields.exists(tf =>
          tf.name == ff.name && tf.dataType == ff.dataType)) &&
        to.schema.fields.filterNot(tf =>
          f.schema.fieldNames.contains(tf.name)).forall(_.nullable)
      require(compatible,
        "lineage changelog across a schema change (other than " +
          "null-backfilled ADD COLUMN): split the range")
    }
    val from = fromOpt.getOrElse(to)
    def tagged(df: DataFrame, tag: String) = {
      val have = df.columns.toSet
      val filled = to.schema.fields.filterNot(f => have(f.name))
        .foldLeft(df)((d, f) =>
          d.withColumn(f.name, lit(null).cast(f.dataType)))
      filled.select(
        (cols.map(c => col(c).as(s"$tag$c")) ++ Seq(
          col(GraftTable.RowIdColName).as(s"${tag}_rid"),
          col(GraftTable.LastSeqColName).as(s"${tag}_seq"))): _*)
    }
    def side(snap: Snapshot, files: Seq[String], tag: String) =
      tagged(lineageSource(snap, files), tag)
    // DV pointer moves and position-tombstone set diffs on carried
    // files: positions deleted in-range are keyed deletes (old image
    // read from the FROM view, where those rows are still live);
    // positions un-deleted (rollback) are keyed inserts (new image
    // from the TO view). DV diffs read only the moved files' blobs;
    // tombstone diffs read only the tombstone files NEW on one side
    // (they are immutable and carried by reference, so shared files
    // cancel without a read). A live-view DML never re-deletes a
    // position, so the two shapes cannot emit the same key — plain
    // unions compose them, and ONE probe per side scans only the
    // named data files.
    val dvMoved = to.files.filter(f => fromSet(f) &&
      fromOpt.exists(_.dvs.get(f) != to.dvs.get(f))).sorted
    val fromTSet = fromOpt.map(_.posDels.toSet).getOrElse(Set.empty)
    val newTFiles =
      if (fromOpt.isEmpty) Nil else to.posDels.filterNot(fromTSet)
    val goneTFiles =
      fromOpt.map(_.posDels.filterNot(to.posDels.toSet)).getOrElse(Nil)
    def tombRows(fs: Seq[String]): DataFrame =
      tombScan(fs, to +: fromOpt.toSeq)
    val (posDel, posIns): (Option[DataFrame], Option[DataFrame]) =
      if (dvMoved.isEmpty && newTFiles.isEmpty && goneTFiles.isEmpty)
        (None, None)
      else {
        val from0 = fromOpt.get
        val (newBits, goneBits) = dvPositionDiff(from0, to, dvMoved)
        // a (file, pos) re-tombstoned through a different tombstone
        // file (rollback then re-delete) cancels bidirectionally
        val newPos = tombRows(newTFiles)
          .join(tombRows(goneTFiles), Seq("_file", "_pos"), "left_anti")
          .unionByName(newBits)
        val gonePos = tombRows(goneTFiles)
          .join(tombRows(newTFiles), Seq("_file", "_pos"), "left_anti")
          .unionByName(goneBits)
        // planning prune, same as the plain feed: the diffed
        // positions name exact files — collect that (bounded: one
        // path per file the range's MoR DML touched) set and scan
        // ONLY those, restricted to files CARRIED across the range
        // (added/removed files already surface through the file-diff
        // legs; counting a tombstoned row of a removed file here too
        // would double-emit its delete). Without the prune a
        // DV-consolidation rewrite (every pointer moved, identical
        // bits, empty diff) would cost the feed a scan of every
        // vectored data file to net zero rows.
        val rawByEnc = to.files.filter(fromSet)
          .map(p => metaPath(p) -> p).toMap
        // ONE driver action computes both sides' touched-file sets
        // (the plain changelog's shape) — per-side collects would
        // re-execute the tombstone/bitmap diff plans twice
        val touched = newPos.select("_file")
          .unionByName(gonePos.select("_file"))
          .distinct().collect().map(_.getString(0)).toSeq
          .flatMap(rawByEnc.get).sorted
        def at(snap: Snapshot, pos: DataFrame): Option[DataFrame] =
          if (touched.isEmpty) None
          else {
            val rows = lineageSource(snap, touched, keepMeta = true)
            Some(rows.join(pos, rows("_g_file") === pos("_file") &&
                rows("_g_idx") === pos("_pos"), "left_semi")
              .drop("_g_file", "_g_idx"))
          }
        (at(from0, newPos), at(to, gonePos))
      }
    var d = posDel.map(x => side(from, removed, "_d_")
        .unionByName(tagged(x, "_d_")))
      .getOrElse(side(from, removed, "_d_"))
    var i = posIns.map(x => side(to, added, "_i_")
        .unionByName(tagged(x, "_i_")))
      .getOrElse(side(to, added, "_i_"))
    // structural-emptiness tracking (round 19): a side that never
    // receives a potentially-nonempty leg lets the tail skip the
    // full-outer rid join — see below. posIns can only hold rows when
    // a tombstone set was DROPPED or a DV pointer moved (rollback
    // territory); a pure tombstone-ADD range keeps the insert side
    // trivial.
    var dTrivial = removed.isEmpty &&
      (newTFiles.isEmpty && dvMoved.isEmpty)
    var iTrivial = added.isEmpty &&
      (goneTFiles.isEmpty && dvMoved.isEmpty)
    // EQUALITY-PREDICATE diff on CARRIED files, keyed (the r17
    // plain-feed expansion with `_row_id` carried through): a
    // predicate NEW in-range — reachable via a lineage-off window or
    // a rollback re-applying one — kills exactly the carried rows it
    // scopes and matches, emitted as keyed deletes with the from-side
    // image; a predicate REMOVED in-range (rollback) restores its
    // rows as keyed inserts from the to side. Candidates are
    // add-sequence-scoped and STATS-PRUNED (the eq-read economics);
    // each leg reads the OWNER's live view (lineageSource applies the
    // owner's own predicates/tombstones/DVs), so the cross-direction
    // liveness law falls out: a row dead at the owner never emits.
    // Rows the range ALSO tombstone/DV-killed dedupe by rid against
    // the positional legs — a rid must appear at most once per side
    // or the keyed join would fan out.
    val newPreds = to.dels.filterNot(from.dels.toSet)
    val gonePreds = from.dels.filterNot(to.dels.toSet)
    if ((newPreds.nonEmpty || gonePreds.nonEmpty) &&
        (toSet intersect fromSet).nonEmpty) {
      val carried = (toSet intersect fromSet).toSeq.sorted
      def predMatched(owner: Snapshot,
          preds: Seq[DeletePred]): Option[DataFrame] =
        carried
          .map(f => f -> preds.filter(_.seq >
            owner.fileSeq.getOrElse(f, 0L)))
          .filter(_._2.nonEmpty)
          .groupBy(_._2).toSeq
          .sortBy(_._2.head._1)
          .flatMap { case (ps, scopedPairs) =>
            val scoped = owner.copy(files = scopedPairs.map(_._1))
            val cand = ps.flatMap(p => pruneByStats(scoped, p.pred))
              .distinct.sorted
            if (cand.isEmpty) None
            else {
              val rows = lineageSource(owner, cand)
              // in-range ADD COLUMN: the predicate may reference a
              // column the owner's schema lacks — null-backfill first
              // (a pre-add row reads NULL there, exactly what a
              // to-reader surfaces). No rename replay needed: the
              // pending-rename refusal in lineageSource and the
              // schema-compat gate above leave no reachable rename.
              val have = rows.columns.toSet
              val filled = to.schema.fields.filterNot(f => have(f.name))
                .foldLeft(rows)((df, f) =>
                  df.withColumn(f.name, lit(null).cast(f.dataType)))
              Some(filled.filter(ps.map(p =>
                coalesce(expr(p.pred), lit(false))).reduce(_ || _)))
            }
          }
          .reduceOption(_.unionByName(_))
      predMatched(from, newPreds).foreach { m =>
        val deduped = posDel.fold(m)(t => m.join(
          t.select(col(GraftTable.RowIdColName)),
          Seq(GraftTable.RowIdColName), "left_anti"))
        d = d.unionByName(tagged(deduped, "_d_"))
        dTrivial = false
      }
      predMatched(to, gonePreds).foreach { m =>
        val deduped = posIns.fold(m)(t => m.join(
          t.select(col(GraftTable.RowIdColName)),
          Seq(GraftTable.RowIdColName), "left_anti"))
        i = i.unionByName(tagged(deduped, "_i_"))
        iTrivial = false
      }
    }
    // FAST PATH (round 19, guide §2.4): the full-outer rid join below
    // exists to pair a logical row's old and new images when BOTH
    // sides can hold rows. On an append-only range (incl. the initial
    // load, fromId = 0) the delete side is structurally empty — every
    // to-side row would join to nothing and tag `insert` — and on a
    // delete-only range symmetrically `delete`; emitting the live side
    // directly is row-identical and drops the join's full-row shuffle
    // from every such micro-batch.
    if (dTrivial)
      return i.select(cols.map(c => col(s"_i_$c").as(c)) :+
        col("_i__rid").as("_row_id") :+
        lit("insert").as("_change_type"): _*)
    if (iTrivial)
      return d.select(cols.map(c => col(s"_d_$c").as(c)) :+
        col("_d__rid").as("_row_id") :+
        lit("delete").as("_change_type"): _*)
    val joined = d.join(i, col("_d__rid") === col("_i__rid"), "full_outer")
    joined
      .withColumn("_change_type",
        when(col("_d__rid").isNull, lit("insert"))
          .when(col("_i__rid").isNull, lit("delete"))
          .when(col("_d__seq") === col("_i__seq"), lit(null))
          .otherwise(lit("update")))
      .filter(col("_change_type").isNotNull)
      // side selection by CHANGE TYPE, not coalesce: an update that
      // legitimately set a column to NULL must not resurrect the old
      // value through the null
      .select(cols.map(c =>
        when(col("_change_type") === "delete", col(s"_d_$c"))
          .otherwise(col(s"_i_$c")).as(c)) :+
        when(col("_change_type") === "delete", col("_d__rid"))
          .otherwise(col("_i__rid")).as("_row_id") :+
        col("_change_type"): _*)
  }

  /** Bitmap diff of DV pointer moves on `moved` carried files, the
    * shared kernel of BOTH changelogs: per moved file, AND-NOT the
    * endpoint bitmaps both ways and explode the surviving bits into
    * (_file, _pos) frames — (newly set = in-range deletes, cleared =
    * rollback un-deletes). Only the moved files' blobs are read (the
    * pointer map names them exactly); reading every referenced blob
    * and filtering after would touch the whole vector set to diff
    * one moved pointer. */
  private def dvPositionDiff(from: Snapshot, to: Snapshot,
      moved: Seq[String]): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.GraftSqlBridge.{columnOf, expressionOf}
    import graft.functions.NativeExprs
    def emptyPos = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(
        org.apache.spark.sql.types.StructField("_file",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_pos",
          org.apache.spark.sql.types.LongType))))
    if (moved.isEmpty) return (emptyPos, emptyPos)
    def bits(s: Snapshot): DataFrame = {
      val onlyMoved = s.dvs.view.filterKeys(moved.toSet).toMap
      if (onlyMoved.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(Seq(
            org.apache.spark.sql.types.StructField("_file",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("_bitmap",
              org.apache.spark.sql.types.BinaryType))))
      else currentDvRelation(s.copy(dvs = onlyMoved))
        .select(col("_file"), col("_bitmap"))
    }
    val joined = bits(from).withColumnRenamed("_bitmap", "_bm_from")
      .join(bits(to).withColumnRenamed("_bitmap", "_bm_to"),
        Seq("_file"), "full_outer")
      .select(col("_file"),
        coalesce(col("_bm_from"),
          lit(Array.emptyByteArray)).as("_bm_from"),
        coalesce(col("_bm_to"),
          lit(Array.emptyByteArray)).as("_bm_to"))
    def diff(a: String, b: String): DataFrame = joined.select(
      col("_file"),
      explode(columnOf(NativeExprs.BitsetPositions(
        expressionOf(columnOf(NativeExprs.BitsetAndNot(
          expressionOf(col(a)),
          expressionOf(col(b)))))))).as("_pos"))
    (diff("_bm_to", "_bm_from"), diff("_bm_from", "_bm_to"))
  }

  def changes(fromId: Long, toId: Long): DataFrame =
    changes(fromId, toId, _ => None)

  /** [[changes]] with a pre-parsed snapshot hook (same seam as
    * [[appendedFilesBetween]]): a long-lived caller — the streaming
    * change feed — pays each endpoint manifest parse once, not once
    * per micro-batch. */
  private[graft] def changes(fromId: Long, toId: Long,
      known: Long => Option[Snapshot]): DataFrame = {
    val to = known(toId).getOrElse(snapshot(toId))
    val from =
      if (fromId == 0L)
        to.copy(files = Nil, dels = Nil, posDels = Nil, dvs = Map.empty)
      else known(fromId).getOrElse(snapshot(fromId))
    // Null-backfilled ADD COLUMN, top-level RENAME COLUMN, and safe
    // type promotion all compose IN-RANGE, like the lineage feed: the
    // from side aligns to the to schema through the engine's own
    // evolution records ([[GraftTable.alignEvolved]] — null/DEFAULT
    // fill for adds, the rename log replayed forward for renames
    // (column identity is the log's, not the name's), value-preserving
    // up-casts for promotions — exactly what a to-reader surfaces for
    // pre-evolution files), so a checkpointed CDC stream restarted
    // after any of those drains through instead of wedging at an
    // immutable endpoint pair. DROP (and nested renames / unsafe type
    // changes) still refuse: old files carry a column the schema
    // retired, and row identity is the full row.
    val alignableSchemas = from.schema == to.schema || {
      val later = to.renames.filter(_.seq > from.id)
      !later.exists(r => r.from.contains(".") || r.to.contains(".")) && {
        // case-insensitive fold, matching predCond and alignEvolved
        def fwd(n: String): String =
          later.foldLeft(n)((x, r) =>
            if (r.from.equalsIgnoreCase(x)) r.to else x)
        val mapped = from.schema.fields.map(f => fwd(f.name) -> f.dataType)
        mapped.forall { case (n, dt) => to.schema.fields.exists(tf =>
          tf.name == n && (tf.dataType == dt ||
            GraftTable.safePromotion(dt, tf.dataType))) } &&
          to.schema.fields.filterNot(tf => mapped.exists(_._1 == tf.name))
            .forall(_.nullable)
      }
    }
    require(alignableSchemas,
      "changelog across a schema evolution other than null-backfilled " +
        "ADD COLUMN / RENAME COLUMN / safe type promotion is undefined " +
        "(row identity is the full row); read the sides separately")
    // equality deletes at the endpoints EXPAND (r16 verdict item 4):
    // a predicate added in-range deletes exactly the carried rows it
    // scopes and matches, a predicate removed (rollback) restores
    // its — both emitted as keyed row images like the tombstone diff
    // below, with candidates add-sequence-scoped and STATS-PRUNED, so
    // a table under write.delete.style=equality can turn on CDC
    // without wedging at an immutable endpoint pair. Files added or
    // removed in-range read through the owning endpoint's LIVE view
    // (morRead), which already applies its scoped predicates.
    // the carried-file tombstone/DV diff below reads positionally at
    // the TO schema — sound only when no rename OR promotion touches
    // the shared columns (nullable adds per-file-epoch-default fine)
    require(from.posDels.isEmpty && to.posDels.isEmpty &&
        from.dvs.isEmpty && to.dvs.isEmpty ||
        (from.renames.isEmpty && to.renames.isEmpty &&
          from.schema.fields.forall(ff => to.schema.fields.forall(tf =>
            tf.name != ff.name || tf.dataType == ff.dataType))),
      "changelog over position deletes under renamed or promoted " +
        "columns: compact() first")
    val fromSet = from.files.toSet
    val toSet = to.files.toSet
    // deletion vectors on files carried across the range: a moved
    // pointer encodes in-range row deletes (bits set at `to` but not
    // `from`) or un-deletes (rollback: bits cleared) — expanded below
    // by a bitmap diff, alongside the tombstone diff
    val dvMovedFiles = fromSet.intersect(toSet).toSeq
      .filter(f => from.dvs.get(f) != to.dvs.get(f)).sorted
    // live view of the files added (resp. removed) in-range, under
    // the owning endpoint's tombstones AND scoped equality predicates
    // (morRead) — a file appended then partially deleted inside the
    // range inserts only its surviving rows
    def live(s: Snapshot, fs: Seq[String]): DataFrame = morRead(s, fs)
    var ins = live(to, to.files.filterNot(fromSet))
    // the from side reads at the FROM schema and aligns forward
    // (the alignableSchemas gate above guarantees this succeeds)
    var del = GraftTable.alignEvolved(
      live(from, from.files.filterNot(toSet)), from.id, to, to.schema).get
    // structural-emptiness tracking (round 19): a leg that never
    // receives a potentially-nonempty contribution lets the tail skip
    // the net-tag/group/expand pass entirely — see below
    var insTrivial = to.files.forall(fromSet)
    var delTrivial = from.files.forall(toSet)
    // carried files change their live set through the TOMBSTONE/DV
    // diff and the EQUALITY-PREDICATE diff. The tombstone diff runs
    // first so the predicate diff can multiset-dedupe against it: a
    // predicate commits without a scan, so it may match rows a
    // tombstone (or DV) in the same range already killed — per row
    // VALUE the true delete count is max(predicate-killed,
    // tombstone-killed), which `eq EXCEPT ALL tombstone` + union
    // computes exactly (and symmetrically for rollback restores).
    // Tombstone files shared by both endpoints cancel without a
    // read, and a (file, pos) re-tombstoned through a different file
    // (rollback then re-delete) cancels in the bidirectional
    // anti-join.
    // equality predicates rendered ERA-CORRECT: a predicate's column
    // references bind the names current at its own commit. Renames
    // committed after it are possible only for a predicate REMOVED by
    // an in-range rollback (renameColumn refuses while predicates are
    // pending), and replay forward onto the text's references so it
    // evaluates against frames at the `to` schema. Nested renames
    // have no sound text rewrite and refuse loudly.
    def predCond(p: DeletePred): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.GraftSqlBridge.columnOf
      val later = to.renames.filter(_.seq > p.seq)
      require(later.forall(r =>
          !r.from.contains(".") && !r.to.contains(".")),
        "changelog range renames a nested column after an equality " +
          "predicate in its diff committed: compact() first")
      val e = spark.sessionState.sqlParser.parseExpression(p.pred)
        .transformUp {
          case a: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute if a.nameParts.size == 1 =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
              Seq(later.foldLeft(a.nameParts.head)((n, r) =>
                if (r.from.equalsIgnoreCase(n)) r.to else n)))
        }
      coalesce(columnOf(e), lit(false))
    }
    val fromT = from.posDels.toSet
    val toT = to.posDels.toSet
    val newTFiles = to.posDels.filterNot(fromT)
    val goneTFiles = from.posDels.filterNot(toT)
    var tDel: Option[DataFrame] = None
    var tIns: Option[DataFrame] = None
    // tombstone diffs only matter for files CARRIED across the range
    // (added/removed files already read under their own endpoint's
    // tombstones in live()); with no carried files — the initial-load
    // fromId = 0 case — the whole block would scan every tombstone
    // file to discard everything
    if ((newTFiles.nonEmpty || goneTFiles.nonEmpty ||
          dvMovedFiles.nonEmpty) &&
        (toSet intersect fromSet).nonEmpty) {
      def tombRows(fs: Seq[String]): DataFrame = tombScan(fs, Seq(from, to))
      // deletion-vector diff → the same (file, pos) key shape as the
      // tombstone diff. A live-view DML never re-deletes a position,
      // so the two shapes cannot emit the same key — plain unions
      // compose them.
      val (dvNewT, dvGoneT) = dvPositionDiff(from, to, dvMovedFiles)
      val newT = tombRows(newTFiles)
        .join(tombRows(goneTFiles), Seq("_file", "_pos"), "left_anti")
        .unionByName(dvNewT)
      val goneT = tombRows(goneTFiles)
        .join(tombRows(newTFiles), Seq("_file", "_pos"), "left_anti")
        .unionByName(dvGoneT)
      // planning step: the diffed positions name exact data files —
      // collect the (bounded: one path per file the range's DML
      // touched) name set so only those files are scanned. Tombstone
      // `_file` values are in `_metadata.file_path` form (URL-encoded)
      // while the manifest holds raw paths — and hadoop Path never
      // percent-decodes — so membership tests in ENCODED space and
      // maps back to the RAW path for the scan; comparing (or
      // reading) the mismatched forms silently drops MoR deletes from
      // the changelog on any path with an encodable character.
      val rawByEnc = (toSet intersect fromSet).toSeq
        .map(p => metaPath(p) -> p).toMap
      val touched = newT.select("_file").union(goneT.select("_file"))
        .distinct().collect().map(_.getString(0)).toSeq
        .flatMap(rawByEnc.get).sorted
      if (touched.nonEmpty) {
        // initial-DEFAULT columns surface per file epoch, exactly as
        // on the plain read path (readFilesMapped) — the touched
        // files predate any in-range add, so a bare positional read
        // would emit NULL images where every live read shows the
        // DEFAULT
        val rowsPos = {
          val defaulted = defaultedCols(to)
          if (defaulted.isEmpty)
            readFilesPos(to, touched)
          else touched.groupBy(f => preAddOf(to, defaulted, f)).toSeq
            .sortBy(_._2.headOption.getOrElse(""))
            .map { case (pre, fs) => applyDefaults(to, defaulted,
              readFilesPos(to, fs), pre) }
            .reduceOption(_.unionByName(_))
            .getOrElse(readFilesPos(to, Nil))
        }
        // the cross-direction rollback law: a positionally-named row
        // is a DELETE only if it was LIVE at `from` (a rollback can
        // flip a row's death from predicate to tombstone inside one
        // range — the row was never alive to delete), and a restored
        // row an INSERT only if it is LIVE at `to` (not re-killed by
        // a predicate the range added). The filter applies the
        // endpoint's SCOPED predicates per file group on the
        // position-carrying frame.
        def at(t: DataFrame, liveAt: Snapshot): DataFrame = {
          val named = rowsPos.join(t,
              rowsPos(GraftTable.PosFileCol) === t("_file") &&
                rowsPos(GraftTable.PosIdxCol) === t("_pos"), "left_semi")
          val alive =
            if (liveAt.dels.isEmpty) named
            else {
              val cond = touched
                .groupBy(f => liveAt.dels.filter(_.seq >
                  liveAt.fileSeq.getOrElse(f, 0L)))
                .toSeq.sortBy(_._2.headOption.getOrElse(""))
                .map { case (ps, fs) =>
                  val member = col(GraftTable.PosFileCol)
                    .isin(fs.map(metaPath): _*)
                  if (ps.isEmpty) member
                  else member && ps.map(p => not(predCond(p))).reduce(_ && _)
                }
                .reduce(_ || _)
              named.filter(cond)
            }
          alive.drop(GraftTable.PosFileCol, GraftTable.PosIdxCol)
        }
        tDel = Some(at(newT, from))
        tIns = Some(at(goneT, to))
        del = del.unionByName(tDel.get)
        ins = ins.unionByName(tIns.get)
        // per-side structural emptiness: a pure tombstone-ADD range
        // (the common MoR DELETE commit) can only contribute deletes —
        // goneT is the anti-join of an EMPTY tombstone set (plus an
        // empty DV diff), so the insert side stays trivial and the
        // delete-only fast path below still applies (symmetrically
        // for a pure tombstone-DROP/rollback range)
        if (newTFiles.nonEmpty || dvMovedFiles.nonEmpty) delTrivial = false
        if (goneTFiles.nonEmpty || dvMovedFiles.nonEmpty) insTrivial = false
      }
    }
    // equality-predicate diff on CARRIED files: rows live at `from`
    // that a predicate added in-range scopes and matches are the
    // range's deletes; rows live at `to` that a removed predicate
    // used to kill are its restores. Scan cost is bounded by the
    // stats-pruned candidate files per predicate, never the carried
    // set — the same economics as the equality-delete read path.
    val newPreds = to.dels.filterNot(from.dels.toSet)
    val gonePreds = from.dels.filterNot(to.dels.toSet)
    if ((newPreds.nonEmpty || gonePreds.nonEmpty) &&
        (toSet intersect fromSet).nonEmpty) {
      val carried = (toSet intersect fromSet).toSeq.sorted
      // predicates evaluate over the owner's live view ALIGNED to the
      // `to` schema (an in-range ADD COLUMN backfills before the
      // predicate sees the row — exactly what a to-reader surfaces,
      // so `note IS NULL` kills pre-add rows here as it does there)
      def matching(owner: Snapshot,
          preds: Seq[DeletePred]): Option[DataFrame] =
        carried
          .map(f => f -> preds.filter(_.seq >
            owner.fileSeq.getOrElse(f, 0L)))
          .filter(_._2.nonEmpty)
          .groupBy(_._2).toSeq
          .sortBy(_._2.head._1)
          .flatMap { case (ps, scopedPairs) =>
            val scoped = owner.copy(files = scopedPairs.map(_._1))
            val cand = ps.flatMap(p => pruneByStats(scoped, p.pred))
              .distinct.sorted
            if (cand.isEmpty) None
            else Some(GraftTable.alignEvolved(
              morRead(owner, cand), owner.id, to, to.schema).get
              .filter(ps.map(predCond).reduce(_ || _)))
          }
          .reduceOption(_.unionByName(_))
      // per row VALUE, the predicate kills every copy it matches —
      // tombstoned-in-range copies included — so the true delete
      // multiplicity is max(predicate-matched, tombstoned), i.e. the
      // tombstone contribution plus the predicate EXCESS over it
      // (multiset EXCEPT ALL); same law on the restore side.
      // tDel/tIns appear twice in the final plan (the union above and
      // this EXCEPT ALL's right side) — a CONSCIOUS cost, paid only
      // on genuinely-mixed ranges: the frame is a positional read of
      // the range's DML-touched files, there is no sound lifecycle
      // hook to cache it inside a lazily-consumed DataFrame, and
      // correctness of the dedupe is worth two bounded scans
      // EXCEPT ALL is positional: the tombstone side reads partition
      // columns last, so it is realigned to the matched side by name
      // (quoted: a top-level name may contain a dot)
      def minus(a: DataFrame, t: Option[DataFrame]): DataFrame =
        t.fold(a)(t => a.exceptAll(t.select(a.columns.toSeq.map(c =>
          col(s"`${c.replace("`", "``")}`")): _*)))
      matching(from, newPreds).foreach { d =>
        del = del.unionByName(minus(d, tDel))
        delTrivial = false
      }
      matching(to, gonePreds).foreach { i =>
        ins = ins.unionByName(minus(i, tIns))
        insTrivial = false
      }
    }
    // FAST PATH (round 19, guide §2.4): the net-tag/group/expand tail
    // below exists to cancel row values appearing on BOTH legs (an
    // in-range rewrite). When either leg is STRUCTURALLY empty — every
    // append-only and every delete-only range, i.e. the overwhelming
    // majority of streaming micro-batches — grouping is an identity
    // (for each value: net = ±count, re-expanded to the same
    // multiset), so the other leg ships tagged directly: one full-row
    // shuffle and the whole aggregate subtree gone from the plan.
    val dataColsFast = ins.columns.toSeq
    if (delTrivial)
      return ins.withColumn("_change_type", lit("insert"))
        .select(dataColsFast.map(col) :+ col("_change_type"): _*)
    if (insTrivial)
      return del.withColumn("_change_type", lit("delete"))
        .select(dataColsFast.map(col) :+ col("_change_type"): _*)
    // ONE pass over both legs (round 19, guide §2.4 — duplicated
    // subtrees): the previous `ins EXCEPT ALL del` unioned with
    // `del EXCEPT ALL ins` planned each leg TWICE (Spark rewrites
    // each EXCEPT ALL as tag/group/replicate over BOTH inputs), so
    // every changelog — the batch TVF and every streaming CDC
    // micro-batch — paid two full scans of every union leg plus two
    // full-row shuffles. The symmetric multiset difference is ONE
    // such pass: tag insert legs +1 / delete legs −1, group on the
    // full row, re-expand |net| copies. Result multiset identical
    // (for each row value: max(ins−del, 0) inserts and
    // max(del−ins, 0) deletes — exactly the EXCEPT ALL pair).
    val dataCols = ins.columns.toSeq
    // reserved-name guard (round 20, advice): a user column named
    // _cnt/_net/_rep would be silently replaced by the tag columns
    // below and excluded from the grouping key, mis-grouping where
    // the old EXCEPT ALL pair would not — refuse loudly instead
    // (change-feed tables already refuse _change_type upstream)
    require(!dataCols.exists(c =>
        c == "_cnt" || c == "_net" || c == "_rep"),
      "table_changes over a table with its own _cnt/_net/_rep " +
        "column is not supported")
    val net = ins.withColumn("_cnt", lit(1L))
      .unionByName(del.withColumn("_cnt", lit(-1L)))
      .groupBy(dataCols.map(col): _*)
      .agg(sum(col("_cnt")).as("_net"))
      .filter(col("_net") =!= 0L)
    net
      .withColumn("_change_type",
        when(col("_net") > 0L, lit("insert")).otherwise(lit("delete")))
      .withColumn("_rep", explode(sequence(lit(1L), abs(col("_net")))))
      .select(dataCols.map(col) :+ col("_change_type"): _*)
  }

  /** The data files added on `(fromId, toId]`, enumerated from the
    * manifests alone — the planning primitive behind the streaming
    * source ([[graft.streaming.GraftLakeSource]]): per micro-batch
    * this opens the two endpoint manifests plus one per intermediate
    * commit (to validate lineage), never lists storage, and never
    * touches files committed before `fromId` — O(new) planning at any
    * table size, Iceberg's incremental-scan contract. `fromId = 0`
    * means "from before the first snapshot". The walk REQUIRES an
    * append-only lineage (create/append ops): a replace commit
    * (compaction, DML) rewrites rows into new files and would
    * re-surface them as if appended, so it poisons the range —
    * Iceberg's streaming read refuses those snapshots the same way.
    * Pre-parsed intermediate snapshots can be supplied via `known` so
    * a long-lived caller (the streaming source) pays each manifest
    * parse once, not once per batch. */
  private[graft] def appendedFilesBetween(fromId: Long, toId: Long,
      known: Long => Option[Snapshot] = _ => None): (Snapshot, Seq[String]) = {
    def snapOf(id: Long): Snapshot = known(id).getOrElse(snapshot(id))
    val to = snapOf(toId)
    // Lineage validation walks cached HEADERS ([[header]]) — only the
    // two endpoints are parsed in full; intermediate commits cost a
    // bounded prefix read each, once per JVM.
    var id = toId
    var hd = SnapHeader(to.parent, to.ts, to.op)
    var reachedBase = false
    while (id != fromId && !reachedBase) {
      // 'backfill-sizes' is file-neutral metadata (identical file
      // list and schema; SpjRead auto-commits it on first contact
      // with a pre-size manifest) — rejecting it would permanently
      // wedge an append-mode stream whose range crosses it.
      // 'evolve-add' / 'evolve-notnull' / 'evolve-rename' /
      // 'evolve-type' / 'evolve-drop' are file-neutral too (each
      // commits the SAME file list under an evolved schema), and the
      // batch-level schema check in the source decides whether the
      // stream can present them (alignEvolved after a restart:
      // null/DEFAULT backfill, forward rename replay,
      // value-preserving up-cast, dropped columns PROJECTED AWAY via
      // the retire log — exactly what a to-reader does for old
      // files; nullability normalizes) — the op-level refusal would
      // wedge the checkpoint FOREVER, since the range containing the
      // evolution commit never changes. A RUNNING stream (declared
      // schema predating the drop) still refuses at the batch level:
      // alignEvolved never backfills a batch NEWER than the pinned
      // head. Every other evolve op stays refused here: a
      // partition-spec evolution changes how carried files'
      // directory values reconstitute.
      require(hd.op == "create" || hd.op == "append" ||
          hd.op == "backfill-sizes" || hd.op == "evolve-add" ||
          hd.op == "evolve-notnull" || hd.op == "evolve-rename" ||
          hd.op == "evolve-type" || hd.op == "evolve-drop",
        s"snapshot $id is op '${hd.op}': incremental/streaming " +
          "reads are defined over append-only lineage (rewrites would " +
          "re-surface already-delivered rows)")
      if (hd.parent == 0L) {
        require(fromId == 0L,
          s"snapshot $fromId is not an ancestor of $toId")
        reachedBase = true
      } else {
        id = hd.parent
        if (id != fromId)
          hd = header(id).getOrElse(throw new IllegalArgumentException(
            s"snapshot $id in range ($fromId, $toId] has been expired"))
      }
    }
    val base =
      if (fromId == 0L) Set.empty[String] else snapOf(fromId).files.toSet
    (to, to.files.filterNot(base))
  }

  /** Read `files` under `snap` (rename mapping applied) — the
    * package-private scan the streaming source builds micro-batch
    * frames from. */
  private[graft] def readCommitted(snap: Snapshot, files: Seq[String]): DataFrame =
    readFilesMapped(snap, files)

  /** Head discovery for a long-lived streaming reader that already
    * knows the head was at least `after`: refs tables read the (one,
    * tiny) refs file; refs-LESS tables PROBE forward with
    * `exists(snap-(h+1))` instead of listing the whole metaDir the
    * way [[currentSnapshotId]]→maxSnapshotId does — O(new commits +
    * 1) existence checks per poll vs O(history) listing entries,
    * which at 100k commits is the per-trigger metadata bottleneck
    * just moved from the data dir to the meta dir. Sound because
    * refs-less ids are dense and monotonic (the id allocator), and
    * expiry deletes old snapshots, never the head. */
  private[graft] def streamHead(after: Long): Long =
    if (currentRefsVersion > 0) currentSnapshotId
    else {
      var h = math.max(after, 0L)
      while (fs.exists(snapPath(h + 1))) h += 1
      h
    }

  /** True when every commit on `(fromId, toId]` is a rewrite that
    * provably preserves the live row multiset (compaction, tombstone
    * maintenance): the streaming change feed skips such a batch
    * without reading a byte — at 100 TB a nightly compaction would
    * otherwise cost the CDC stream a full table diff whose net is
    * empty by construction. Walks cached manifest headers (bounded
    * prefix reads, once per JVM); any other shape — DML, rollback, an
    * unreachable parent — returns false and the caller pays the real
    * endpoint diff. */
  private[graft] def rewriteOnlyRange(fromId: Long, toId: Long): Boolean = {
    var id = toId
    while (id > fromId) {
      header(id) match {
        case Some(h) if h.op == "compact" || h.op == "rewrite-pdel" ||
            h.op == "rewrite-dv" ||
            h.op == "backfill-sizes" => // live-multiset-preserving
          id = h.parent
        case _ => return false
      }
    }
    id == fromId
  }

  /** The newest batch id `appId` has durably committed on main
    * lineage (the Delta `txn` lookup): walk the ancestry until a
    * commit carrying this app's txn marker is found. The walk reads
    * cached HEADERS ([[header]] — the txn line sits before the schema
    * json, inside the bounded prefix), so steps cost a ~4 KB read
    * once per JVM, never a full manifest parse: for a live sink the
    * marker is in the last commit or two, and even the one
    * full-history walk on a cold restart against a table this app
    * never wrote is prefix-reads only. */
  private[graft] def lastTxn(appId: String): Option[Long] = {
    var id = currentSnapshotId
    while (id > 0) {
      header(id) match {
        case Some(hd) =>
          hd.txn match {
            case Some((app, b)) if app == appId => return Some(b)
            case _ => id = hd.parent
          }
        case None => id = 0
      }
    }
    None
  }

  // ---- writes ------------------------------------------------------

  private def writeData(df: DataFrame, commitId: Long,
      partitionCols: Seq[String] = Nil, widen: Boolean = true,
      validate: Boolean = true): Seq[String] = {
    // per-attempt-unique dir: two concurrent writers aiming at the
    // same commit id must never share (and mode=overwrite-clobber)
    // one directory; manifests reference absolute file paths, so the
    // id in the name is informational only
    val dir = new Path(root, f"data/commit-$commitId%05d-" +
      java.util.UUID.randomUUID.toString.take(8))
    // A rewrite sourced from one or two input files would otherwise
    // serialize the whole write on one core (local small-file reads
    // arrive as a single split); on a cluster the input is already
    // wide and this is a no-op. compact() opts out — its output file
    // count is the caller's explicit choice. The narrowness probe is
    // plan-shaped (driver-side, no execution): a frame that already
    // went through a shuffle sits at spark.sql.shuffle.partitions and
    // needs no widening; a pure scan's width is its input file count.
    //
    // The width itself is SIZE-ADAPTIVE (round 19/20, guide §2.2/§6):
    // target ~128 MB output files from the optimizer's driver-side
    // size estimate instead of a fixed 8-way fan-out — see
    // [[GraftTable.writeWidth]] for the decision rule (collapse for
    // small commits, a size-raised width above the session floor for
    // genuinely large narrow commits, Generate-guarded).
    val sessionPar = df.sparkSession.sparkContext.defaultParallelism
    val fallbackPar = math.min(8, sessionPar)
    val par = GraftTable.writeWidth(df)
    // identity specs lay out hive-style (partition values live in the
    // dirs, reads reconstitute via basePath); transform specs derive
    // throwaway _gp_i dir columns and keep every raw column in the
    // data files (hidden partitioning — the user never sees the
    // derived value). Partitioned writes CLUSTER by the partition
    // value first (Iceberg's hash write-distribution): without it
    // every task writes every directory and a P-partition write
    // explodes into tasks×P small files — the commit's footer
    // harvest and every later scan pay for that forever. A single
    // hot partition serializing into one task is the known tradeoff
    // (production Iceberg offers range/none modes for skew).
    // widen=false (compaction) opts out: the caller owns the layout.
    // write.sort.order (Iceberg's SORTED BY / write.distribution-mode
    // composition, set via ALTER TABLE … WRITE ORDERED BY): every
    // widened write lays rows out by the order columns so per-file
    // min/max stats carry disjoint ranges and later predicate reads
    // prune files instead of opening them. Unpartitioned tables get a
    // RANGE distribution + task-local sort (the global-clustering
    // form); partitioned tables keep the hash dir-clustering (one
    // task per partition value) and sort WITHIN it — Iceberg's
    // hash-distribution + sort-order default. compact()'s explicit
    // layout (widen=false) is never second-guessed.
    val sortOrder: Seq[String] =
      if (!widen) Nil
      else properties.get(GraftTable.SortOrderProp)
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
    sortOrder.foreach { c =>
      require(df.schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"${GraftTable.SortOrderProp}: '$c' is not a table column")
    }
    val sortCols = sortOrder.map(col)
    val w =
      if (partitionCols.isEmpty) {
        val wide =
          if (sortOrder.nonEmpty)
            // a DECLARED sort order exists to lay out range-DISJOINT
            // files for stats pruning — collapsing a small sorted
            // write to one file would defeat the declared intent, so
            // sorted writes keep the session floor
            df.repartitionByRange(math.max(par, fallbackPar), sortCols: _*)
              .sortWithinPartitions(sortCols: _*)
          // par <= 1 can never widen, so skip the isNarrow probe: its
          // df.rdd partition count materializes the plan's broadcast
          // subqueries as an extra pre-write job (measured 0.3-0.5 s
          // on MoR-read inputs), and that cost is pure waste when the
          // answer cannot change the plan
          else if (widen && par > 1 && GraftTable.isNarrow(df, par))
            df.repartition(par)
          else df
        wide.write.mode("overwrite")
      } else if (PartField.allIdentity(partitionCols)) {
        // PARTITIONED writes: file count = #partition dirs regardless
        // of task width (each dir's rows hash to exactly one task), so
        // the size-adaptive collapse to 1 task would only SERIALIZE a
        // many-dir write (measured: bucket[64] create +0.5 s) without
        // saving a single file — keep the session floor and let size
        // raise the width beyond it for genuinely large commits
        val clustered =
          if (widen) df.repartition(math.max(par, fallbackPar),
            partitionCols.map(col): _*)
          else df
        val ordered =
          if (sortOrder.isEmpty) clustered
          else clustered.sortWithinPartitions(
            partitionCols.map(col) ++ sortCols: _*)
        ordered.write.mode("overwrite").partitionBy(partitionCols: _*)
      } else {
        val spec = PartField.parseAll(partitionCols)
        val derived = spec.zipWithIndex.foldLeft(df) { case (d, (f, i)) =>
          d.withColumn(PartField.dirCol(i),
            f.toColumn(df.schema(f.col).dataType))
        }
        val dirCols = spec.indices.map(i => col(PartField.dirCol(i)))
        val clustered =
          if (widen) derived.repartition(math.max(par, fallbackPar),
            dirCols: _*)
          else derived
        val ordered =
          if (sortOrder.isEmpty) clustered
          else clustered.sortWithinPartitions(dirCols ++ sortCols: _*)
        ordered.write.mode("overwrite")
          .partitionBy(spec.indices.map(PartField.dirCol): _*)
      }
    w.parquet(dir.toString)
    val it = fs.listFiles(dir, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val p = it.next().getPath
      if (p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        out += p.toString
    }
    val written = out.result().sorted
    // CHECK constraints (Delta's `ALTER TABLE … ADD CONSTRAINT name
    // CHECK (expr)`, stored as graft.constraint.* properties):
    // validate the NEW files before they can commit — one columnar
    // scan of just-written data, NEVER the table; zero cost without
    // constraints. A violation aborts before any manifest publish,
    // so the stray files are ordinary failed-write orphans (VACUUM
    // ORPHANS reclaims them). Rewrite-only maintenance
    // (compact/binpack/zorder) passes validate=false — it
    // re-arranges rows that were validated when first written. SQL
    // semantics: a CHECK passes on TRUE or NULL, violates only on
    // FALSE. The read-back carries the WRITTEN schema explicitly —
    // identity-partition values live in the hive dirs, and Spark's
    // partition type INFERENCE would re-type them ('007' → int 7)
    // and mis-evaluate the predicate.
    if (validate && written.nonEmpty) {
      // ALL verdicts in ONE aggregate pass (k constraints used to
      // cost k scans of the new files): NOT NULL flags and CHECK
      // exprs each become a `max(violated)` column over one read of
      // the just-written bytes, and the FIRST violated entry (NOT
      // NULLs first, then CHECKs name-sorted) names the error.
      // NOT NULL enforcement keys off the EXPLICIT declaration flag
      // ([[setNotNull]] stamps NotNullKey field metadata), never the
      // schema's incidental nullable bits: a table created from a
      // case-class frame carries nullable=false on every primitive
      // column, and silently taxing (or refusing) every later write
      // on that accident would change behavior the user never asked
      // for. The declaration lives in the PARENT snapshot's schema (a
      // create has no parent); only columns the written frame carries
      // can be probed (MoR tombstone/DV artifact writes carry none of
      // them; missing data columns refuse in aligned() regardless).
      val declared =
        if (currentSnapshotId > 0) currentSnapshot.schema.fields.toSeq
        else Nil
      val notNull = declared
        .filter(f => !f.nullable &&
          f.metadata.contains(GraftTable.NotNullKey) &&
          df.schema.fieldNames.contains(f.name))
        .map(f => s"NOT NULL constraint on '${f.name}'" ->
          s"(${f.name}) IS NULL")
      val checks = checkConstraints.map { case (n, sql) =>
        s"CHECK constraint '$n'" -> s"NOT coalesce(($sql), true)"
      }
      val all = notNull.toSeq ++ checks
      if (all.nonEmpty) {
        val back = spark.read.option("basePath", dir.toString)
          .schema(df.schema)
          .parquet(dir.toString)
        val verdicts = back.select(all.zipWithIndex.map {
          case ((_, violated), i) =>
            coalesce(max(expr(violated)), lit(false)).as(s"_v$i")
        }: _*).head()
        all.zipWithIndex.find { case (_, i) => verdicts.getBoolean(i) }
          .foreach { case ((what, violated), _) =>
            throw new IllegalArgumentException(
              s"$what ($violated) violated by written rows; " +
                "nothing was committed") }
      }
    }
    written
  }

  /** Declared CHECK constraints: (name, sql expr) from the
    * `graft.constraint.*` table properties. */
  private[lakehouse] def checkConstraints: Seq[(String, String)] =
    properties.toSeq.collect {
      case (k, v) if k.startsWith(GraftTable.ConstraintPrefix) =>
        (k.stripPrefix(GraftTable.ConstraintPrefix), v)
    }.sortBy(_._1)

  /** Align `df` to `schema` by name AND type: identical types pass
    * through, ANSI-store-assignable ones (INT→BIGINT, FLOAT→DOUBLE,
    * DECIMAL→DOUBLE, … with runtime overflow checks where narrowing)
    * are cast, anything else (e.g. STRING→DOUBLE) is rejected.
    * Without the cast, an INT column appended into a BIGINT table
    * would *commit* parquet whose physical types contradict the
    * manifest schema — the write succeeds and later reads fail or
    * misread (the round-2 ADVICE finding). Same contract as Spark's
    * `storeAssignmentPolicy=ANSI` / Iceberg's write check. */
  private def aligned(df: DataFrame, schema: StructType): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    df.select(schema.fieldNames.toIndexedSeq.map { name =>
      val field = schema(name)
      if (!df.schema.fieldNames.contains(name)) {
        // write-default (Iceberg v3's other default half): a writer
        // omitting a DEFAULTed column writes the default value;
        // omitting any other column stays an error
        if (field.metadata.contains(GraftTable.DefaultSqlKey))
          expr(field.metadata.getString(GraftTable.DefaultSqlKey))
            .cast(field.dataType).as(name)
        else throw new IllegalArgumentException(
          s"column '$name' is missing from the written data and has " +
            "no default")
      } else {
      val in = df.schema(name).dataType
      if (in == field.dataType) col(name)
      else if (Cast.canUpCast(in, field.dataType) ||
          Cast.canANSIStoreAssign(in, field.dataType))
        col(name).cast(field.dataType).as(name)
      else throw new IllegalArgumentException(
        s"column '$name': ${in.simpleString} cannot be safely written " +
          s"as table type ${field.dataType.simpleString}")
      }
    }: _*)
  }

  def append(df: DataFrame): Long = append(df, Nil)

  private[lakehouse] def append(df: DataFrame, createPartitionCols: Seq[String]): Long = {
    val snap = if (currentSnapshotId == 0) None else Some(currentSnapshot)
    val schema = snap.map(_.schema).getOrElse(df.schema)
    val parts = snap.map(_.partitionCols).getOrElse(createPartitionCols)
    val files = writeData(aligned(df, schema), currentSnapshotId + 1, parts)
    appendCommit(files, schema, parts, snap.map(_.id).getOrElse(0L))
  }

  /** Append `df` as if this writer had captured snapshot `parent` and
    * another writer committed in between — the deterministic stand-in
    * for a racing writer (exercised by lake_concurrent and the spec);
    * goes through the same rebase path a real race takes. */
  private[graft] def appendFrom(df: DataFrame, parent: Long): Long = {
    val base = snapshot(parent)
    val files = writeData(aligned(df, base.schema),
      currentSnapshotId + 1, base.partitionCols)
    appendCommit(files, base.schema, base.partitionCols, parent)
  }

  /** Publish an append of `newFiles` over `parent`, rebasing onto the
    * current snapshot when another writer committed first: appended
    * files are valid regardless of what landed in between, so a
    * rebase just re-lists them over the new base (Iceberg's
    * fast-append retry — appends NEVER lose to concurrent appends).
    * Aborts if the schema or partition spec changed underneath. */
  @annotation.tailrec
  private def appendCommit(newFiles: Seq[String], schema: StructType,
      parts: Seq[String], parent: Long, attempts: Int = 8,
      branch: String = writeBranch): Long = {
    val base = if (parent == 0) Nil else snapshot(parent).files
    val res =
      try Right(commit("append", schema, base ++ newFiles, parts,
        expectedParent = parent, branch = branch))
      catch { case e: CommitConflictException =>
        if (attempts <= 1) throw e
        val cur = snapshot(headOf(branch))
        if (cur.schema != schema || cur.partitionCols != parts)
          throw new CommitConflictException(
            "append cannot rebase: schema or partition spec changed " +
              "under the commit")
        Left(cur.id)
      }
    res match {
      case Right(id)        => id
      case Left(newParent)  =>
        appendCommit(newFiles, schema, parts, newParent, attempts - 1,
          branch)
    }
  }

  /** Append to a named branch (Iceberg's branch writes, the WAP
    * workflow at table granularity): data lands on the branch head,
    * `main` readers never see it until [[fastForward]] publishes.
    * Same fast-append rebase semantics as [[append]]. */
  def appendToBranch(df: DataFrame, branch: String): Long = {
    val head = snapshot(headOf(branch))
    val files = writeData(aligned(df, head.schema),
      maxSnapshotId + 1, head.partitionCols)
    appendCommit(files, head.schema, head.partitionCols, head.id,
      branch = branch)
  }

  /** Append rows whose schema adds columns: the table schema evolves
    * to the union (existing fields keep their position and type; new
    * fields append). Older files read back NULL for the new columns.
    * The added names go through the same guards as [[addColumns]] —
    * case-insensitive resolution and the retired-name check, so an
    * evolved append cannot resurrect dropped/renamed column bytes or
    * commit a case-duplicate column. */
  def appendEvolved(df: DataFrame): Long = {
    val snap = currentSnapshot
    val added = df.schema.fields.filterNot(f =>
      snap.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
    added.foreach { f =>
      require(!snap.renames.exists(r =>
          r.from.equalsIgnoreCase(f.name) || r.to.equalsIgnoreCase(f.name)),
        s"column name '${f.name}' was previously renamed or dropped and " +
          "may still exist in live data files; compact() first")
    }
    val schema = StructType(snap.schema.fields ++ added.map(_.copy(nullable = true)))
    val id = currentSnapshotId + 1
    val files = writeData(aligned(df, schema), id, snap.partitionCols)
    commit("append", schema, snap.files ++ files, snap.partitionCols,
      expectedParent = snap.id)
  }

  // ---- schema evolution (ALTER TABLE) -------------------------------

  /** Resolve a dotted column path of ANY depth against `schema`,
    * case-insensitively, returning the CANONICAL dotted name (the
    * same recursion round 14 proved on nested FGAC — Iceberg
    * addresses any depth via field ids; the name mapping recurses the
    * path instead). A missing or non-struct INTERMEDIATE segment
    * always throws; only the leaf respects `mustExist`. */
  private def resolvePath(schema: StructType, name: String,
      mustExist: Boolean): Option[String] = {
    val parts = name.split('.')
    def walk(st: StructType, idx: Int,
        acc: List[String]): Option[String] =
      st.fields.find(_.name.equalsIgnoreCase(parts(idx))) match {
        case None if idx < parts.length - 1 =>
          throw new IllegalArgumentException(
            s"struct column '${parts.take(idx + 1).mkString(".")}' " +
              "does not exist")
        case None if mustExist =>
          throw new IllegalArgumentException(
            if (acc.isEmpty) s"column '$name' does not exist"
            else s"field '${parts(idx)}' does not exist in struct " +
              s"'${acc.reverse.mkString(".")}'")
        case None => None
        case Some(f) if idx == parts.length - 1 =>
          Some((f.name :: acc).reverse.mkString("."))
        case Some(f) => f.dataType match {
          case s: StructType => walk(s, idx + 1, f.name :: acc)
          case other => throw new IllegalArgumentException(
            s"column '${(f.name :: acc).reverse.mkString(".")}' is " +
              s"$other, not a struct")
        }
      }
    walk(schema, 0, Nil)
  }

  /** The type at an already-CANONICAL dotted path. */
  private def typeAt(schema: StructType, path: Seq[String]): DataType =
    path.foldLeft(schema: DataType) {
      case (st: StructType, p) => st(p).dataType
      case (other, p) => throw new IllegalArgumentException(
        s"'$p' addressed inside non-struct $other")
    }

  /** `schema` with the struct at canonical `path` transformed —
    * `Nil` = the top level (so every ALTER shape shares one rewrite
    * regardless of depth). */
  private def mapStructAt(schema: StructType, path: Seq[String])(
      f: StructType => StructType): StructType =
    if (path.isEmpty) f(schema)
    else StructType(schema.fields.map { fld =>
      if (fld.name == path.head)
        fld.copy(dataType = mapStructAt(
          fld.dataType.asInstanceOf[StructType], path.tail)(f))
      else fld
    })

  /** A name (dotted or plain) was retired by RENAME or DROP and may
    * still exist physically in live files — reusing it would
    * resurrect those bytes (Iceberg avoids this with field ids; the
    * name mapping must refuse). */
  private def requireNotRetired(snap: Snapshot, name: String): Unit = {
    // Rename records use names CURRENT at their own epoch, so the
    // candidate must be unwound through the log newest-first (the
    // same walk [[Snapshot.physicalName]] applies per-file) and every
    // form it takes at ANY epoch checked — without this, dropping
    // `info.x` then renaming `info`→`meta` would let `meta.x` pass
    // (no record mentions it verbatim) while physicalName maps it
    // back to `info.x` for old files, resurrecting the dropped bytes.
    val forms = snap.renames.reverseIterator.foldLeft(List(name)) {
      (acc, r) =>
        val n = acc.head
        val prev =
          if (r.to.equalsIgnoreCase(n)) r.from
          else if (n.toLowerCase.startsWith(r.to.toLowerCase + "."))
            r.from + n.substring(r.to.length)
          else n
        prev :: acc
    }
    val hit = forms.distinct.filter(f => snap.renames.exists(r =>
      r.from.equalsIgnoreCase(f) || r.to.equalsIgnoreCase(f)))
    require(hit.isEmpty,
      s"column name '$name' (physical form(s) ${hit.mkString(", ")}) " +
        "was previously renamed or dropped and may still exist in " +
        "live data files; compact() first")
  }

  /** ALTER TABLE ADD COLUMNS — a METADATA-ONLY commit: the schema
    * gains nullable fields, no data file is touched, and every
    * existing row reads NULL for the new columns (parquet reads are
    * by-name — including a field added INSIDE a struct, `a.b INT`,
    * which old files' clipped nested schema surfaces as NULL). At
    * 100 TB adding a column costs one manifest write.
    *
    * A field carrying [[GraftTable.DefaultSqlKey]] in its metadata
    * declares an INITIAL DEFAULT (Iceberg v3's initial-default /
    * `ADD COLUMNS (c INT DEFAULT <expr>)`): rows in files written
    * BEFORE the column existed read the default instead of NULL,
    * while rows appended after the ALTER keep exactly what was
    * written — an explicit post-add NULL stays NULL. The boundary is
    * the head snapshot id at ALTER time, compared against each file's
    * add-sequence (the same sequence scoping equality deletes use).
    * The default expression is validated here — it must parse, fold,
    * and cast to the column type — so a bad DEFAULT fails the ALTER,
    * not some future read. Top-level columns only. */
  def addColumns(cols0: Seq[StructField]): Long = {
    val snap = currentSnapshot
    val cols = cols0.map { f =>
      if (!f.metadata.contains(GraftTable.DefaultSqlKey)) f
      else {
        // initial-default columns would wedge a lineage table: every
        // lineage read and every lineage-preserving rewrite —
        // INCLUDING compact(), the remedy the refusal would name —
        // reads through lineageSource, which cannot apply the
        // sequence-scoped default boundary. Plain (NULL-backfilled)
        // adds compose fine.
        requireNoLineage("ADD COLUMN with DEFAULT")
        require(!f.name.contains('.'),
          s"DEFAULT on nested field '${f.name}' is not supported")
        val sql = f.metadata.getString(GraftTable.DefaultSqlKey)
        // must fold driver-side to a constant of the column type
        GraftTable.validateDefault(spark, sql, f.dataType, f.name)
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong(GraftTable.DefaultSinceKey, snap.id).build())
      }
    }
    val newSchema = cols.foldLeft(snap.schema) { (schema, f) =>
      require(resolvePath(schema, f.name, mustExist = false).isEmpty,
        s"column '${f.name}' already exists")
      requireNotRetired(snap, f.name)
      val parts = f.name.split('.')
      if (parts.length == 1)
        StructType(schema.fields :+ f.copy(nullable = true))
      else {
        // resolve the PARENT path (any depth; leaf is the new name)
        val parent = resolvePath(schema, parts.init.mkString("."),
          mustExist = true).get.split('.').toSeq
        require(typeAt(schema, parent).isInstanceOf[StructType],
          s"column '${parent.mkString(".")}' is not a struct")
        mapStructAt(schema, parent)(st => StructType(st.fields :+
          StructField(parts.last, f.dataType, nullable = true)))
      }
    }
    commit("evolve-add", newSchema,
      snap.files, snap.partitionCols, expectedParent = snap.id)
  }

  /** ALTER TABLE DROP COLUMN — metadata-only: the schema loses the
    * field; by-name reads simply stop projecting it (the bytes stay
    * in old files until compaction rewrites them, exactly Iceberg).
    * Partition source columns cannot be dropped. */
  /** Refuse schema DDL that would orphan a CHECK constraint: a
    * rename/drop of a referenced column would wedge EVERY later
    * write with a raw unresolved-column error that never mentions
    * the constraint (Delta refuses the same way). */
  private def requireNoConstraintRef(colPath: String, op: String): Unit = {
    val root = colPath.split('.').head.toLowerCase
    checkConstraints.foreach { case (n, sql) =>
      val refs = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(sql).collect {
          case a: org.apache.spark.sql.catalyst.analysis
              .UnresolvedAttribute => a.nameParts.head.toLowerCase
        }
      require(!refs.contains(root),
        s"$op '$colPath': CHECK constraint '$n' ($sql) references " +
          "it; DROP CONSTRAINT first")
    }
  }

  def dropColumn(name: String): Long = {
    val snap = currentSnapshot
    requireNoMorDels(snap, "DROP COLUMN")
    requireNoConstraintRef(name, "DROP COLUMN")
    val resolved = resolvePath(snap.schema, name, mustExist = true).get
    val parts = resolved.split('.')
    val newSchema =
      if (parts.length == 1) {
        require(snap.schema.fieldNames.length > 1,
          "cannot drop the only column")
        require(!PartField.parseAll(snap.partitionCols)
            .exists(_.col.equalsIgnoreCase(resolved)),
          s"cannot drop partition source column '$resolved'")
        StructType(snap.schema.fields.filterNot(_.name == resolved))
      } else {
        val parent = parts.init.toSeq
        val st = typeAt(snap.schema, parent).asInstanceOf[StructType]
        require(st.fields.length > 1,
          s"cannot drop the only field of struct " +
            s"'${parent.mkString(".")}' (drop the struct itself " +
            "instead)")
        mapStructAt(snap.schema, parent)(s =>
          StructType(s.fields.filterNot(_.name == parts.last)))
      }
    // a tombstone rename retires the name: its bytes remain in old
    // files, and addColumns refuses to reuse the name until a rewrite
    val tombstone =
      if (parts.length == 1) s"${GraftTable.DroppedPrefix}$resolved"
      else (parts.init :+
        s"${GraftTable.DroppedPrefix}${parts.last}").mkString(".")
    commit("evolve-drop", newSchema,
      snap.files, snap.partitionCols, expectedParent = snap.id,
      renamesOverride = Some(snap.renames :+
        Rename(-1L, resolved, tombstone)))
  }

  /** ALTER TABLE RENAME COLUMN — metadata-only: a [[Rename]] record
    * scoped to this commit's sequence rides in the manifest, and
    * files written earlier read the column under its write-time name
    * through an epoch-grouped alias (see [[readFilesMapped]]) — the
    * name-mapping equivalent of Iceberg's field ids, so a rename
    * never rewrites data. Partition source columns cannot be renamed;
    * pending merge-on-read deletes must be materialized first (their
    * predicates reference the old name). */
  def renameColumn(from: String, to: String): Long = {
    val snap = currentSnapshot
    requireNoMorDels(snap, "RENAME COLUMN")
    requireNoConstraintRef(from, "RENAME COLUMN")
    // the rename log would wedge a lineage table (lineageSource reads
    // raw write-time names and compact() — the usual remedy — is
    // itself a lineage-preserving rewrite); refuse loudly instead
    requireNoLineage("RENAME COLUMN")
    require(!to.contains('.'),
      s"rename target '$to' must be a bare name (the field stays in " +
        "its struct)")
    val resolved = resolvePath(snap.schema, from, mustExist = true).get
    val parts = resolved.split('.')
    // the full dotted name the field will carry after the rename —
    // collision and retirement checks run on that form
    val target = (parts.init :+ to).mkString(".")
    require(resolvePath(snap.schema, target, mustExist = false).isEmpty,
      s"column '$target' already exists")
    // same retirement rule as addColumns: renaming INTO a name that
    // still exists physically in live files would make the stats /
    // physical-name mapping consult the wrong column's bytes
    requireNotRetired(snap, target)
    require(!PartField.parseAll(snap.partitionCols)
        .exists(_.col.equalsIgnoreCase(resolved)),
      s"cannot rename partition source column '$resolved'")
    val newSchema =
      mapStructAt(snap.schema, parts.init.toSeq)(st =>
        StructType(st.fields.map(f =>
          if (f.name == parts.last) f.copy(name = to) else f)))
    commit("evolve-rename", newSchema,
      snap.files, snap.partitionCols, expectedParent = snap.id,
      renamesOverride = Some(snap.renames :+ Rename(-1L, resolved, target)))
  }

  /** ALTER TABLE … ALTER COLUMN … TYPE — Iceberg's SAFE type-promotion
    * set (spec "Schema Evolution": int→long, float→double,
    * decimal(P,S)→decimal(P′>P,S)), as a METADATA-ONLY commit: the
    * schema records the widened type and no data file is touched.
    * Old files keep their narrower physical type and widen AT SCAN —
    * Spark 4's parquet readers widen natively per row group
    * (ParquetVectorUpdaterFactory's IntegerToLong / FloatToDouble /
    * *ToDecimal updaters), so the read stays ONE vectorized scan over
    * all epochs, no per-epoch union, no cast stage in the plan.
    * Everything else refuses loudly: narrowing or cross-family casts
    * would misread committed bytes; scale changes rescale values;
    * promoting a partition SOURCE column would silently re-hash
    * transform specs (bucket[N] hashes int and long differently) —
    * files already laid out under the old hashing would stop pruning
    * correctly. Stats-based skipping keeps working unchanged: manifest
    * bounds are canonical numeric strings, type-agnostic within the
    * numeric kind. */
  def alterColumnType(name: String, to: DataType): Long = {
    import org.apache.spark.sql.types._
    val snap = currentSnapshot
    val resolved = resolvePath(snap.schema, name, mustExist = true).get
    val parts = resolved.split('.')
    val from = typeAt(snap.schema, parts.toSeq)
    // the ONE definition of the safe set: the streaming/changelog
    // alignment (alignEvolved) widens by exactly what this DDL can
    // commit, so the two can never drift apart
    require(GraftTable.safePromotion(from, to),
      s"unsafe type promotion for column '$resolved': " +
        s"${from.simpleString} -> ${to.simpleString} (safe set: " +
        "int->bigint, float->double, decimal(P,S)->decimal(P+,S))")
    require(!PartField.parseAll(snap.partitionCols)
        .exists(_.col.equalsIgnoreCase(parts(0))),
      s"cannot promote partition source column '$resolved': transform " +
        "specs hash by type, so existing file layout would stop " +
        "pruning correctly")
    val newSchema =
      mapStructAt(snap.schema, parts.init.toSeq)(st =>
        StructType(st.fields.map(f =>
          if (f.name == parts.last) f.copy(dataType = to) else f)))
    commit("evolve-type", newSchema,
      snap.files, snap.partitionCols, expectedParent = snap.id)
  }

  /** `ALTER TABLE t ALTER COLUMN c SET NOT NULL` (Delta pairs this
    * with CHECK constraints): declaring validates EXISTING live rows
    * first — one columnar scan of just that column, refused if any
    * NULL — then flips the schema field to nullable=false (downstream
    * plans benefit: null-checks fold away) and stamps the EXPLICIT
    * declaration flag ([[GraftTable.NotNullKey]] field metadata) that
    * [[writeData]]'s single validation pass enforces on every later
    * write's new files. The flag — not the schema's incidental
    * nullable bit — is the enforcement key: tables created from
    * case-class frames carry nullable=false accidentally and must not
    * start paying (or refusing) for it. Top-level columns only; a
    * metadata-only commit either way. */
  def setNotNull(name: String): Long = {
    val snap = currentSnapshot
    val resolved = resolvePath(snap.schema, name, mustExist = true).get
    require(!resolved.contains('.'),
      s"SET NOT NULL on nested field '$resolved' is not supported")
    require(!snap.schema(resolved).metadata
        .contains(GraftTable.NotNullKey),
      s"column '$resolved' is already declared NOT NULL")
    require(read().filter(col(resolved).isNull).limit(1).count() == 0,
      s"existing rows hold NULL in '$resolved'; NOT NULL not declared")
    val newSchema = StructType(snap.schema.fields.map(f =>
      if (f.name == resolved)
        f.copy(nullable = false,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putBoolean(GraftTable.NotNullKey, true).build())
      else f))
    commit("evolve-notnull", newSchema,
      snap.files, snap.partitionCols, expectedParent = snap.id)
  }

  /** `ALTER TABLE t ALTER COLUMN c DROP NOT NULL` — reopens the gate:
    * clears the declaration flag and flips nullable back. Refuses on
    * a column that was never DECLARED (an accidental nullable=false
    * from the creating frame is not a constraint to drop). */
  def dropNotNull(name: String): Long = {
    val snap = currentSnapshot
    val resolved = resolvePath(snap.schema, name, mustExist = true).get
    require(!resolved.contains('.') &&
        snap.schema(resolved).metadata.contains(GraftTable.NotNullKey),
      s"column '$resolved' carries no declared NOT NULL constraint")
    val newSchema = StructType(snap.schema.fields.map(f =>
      if (f.name == resolved) {
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        mb.remove(GraftTable.NotNullKey)
        f.copy(nullable = true, metadata = mb.build())
      } else f))
    commit("evolve-notnull", newSchema,
      snap.files, snap.partitionCols, expectedParent = snap.id)
  }

  /** Partition spec evolution (Iceberg's headline "change the
    * partitioning without rewriting a byte"): a METADATA-ONLY commit
    * records the new spec; files already written keep their old
    * layout and are pruned under the spec they were written with
    * ([[Snapshot.specAt]], Iceberg's per-file spec-id), while new
    * writes land under the new spec. Restricted to DATA-COMPLETE
    * specs — empty or transform specs, whose data files retain every
    * raw column — because a hive-identity file physically lacks its
    * partition column and could not survive a spec change. (Wrap an
    * identity need as `truncate`/`bucket`, or create the table with
    * the transform spec outright.) */
  def updatePartitionSpec(newSpec: Seq[String]): Long = {
    val snap = currentSnapshot
    def dataComplete(spec: Seq[String]) =
      spec.isEmpty || !PartField.allIdentity(spec)
    require(dataComplete(snap.partitionCols),
      "cannot evolve away from a hive-identity spec: its data files " +
        "do not contain the partition column")
    require(dataComplete(newSpec),
      "evolved specs must be empty or transform specs (data-complete)")
    PartField.parseAll(newSpec).foreach(f =>
      require(snap.schema.fieldNames.contains(f.col),
        s"partition source column ${f.col} is not in the table schema"))
    val hist =
      if (snap.specHist.nonEmpty) snap.specHist
      else Seq((0L, snap.partitionCols))
    commit("evolve-partition", snap.schema, snap.files, newSpec,
      expectedParent = snap.id,
      specHistOverride = Some(hist :+ ((-1L, newSpec))))
  }

  /** Replace all rows; the table schema is kept and `df` must align
    * to it (same contract as [[append]] — an INSERT OVERWRITE that
    * silently re-typed columns would defeat the typed-alignment
    * check on every other write path). */
  def overwrite(df: DataFrame): Long = {
    val snap = currentSnapshot
    val id = currentSnapshotId + 1
    // a full overwrite replaces every row, so pending merge-on-read
    // deletes and the rename log have nothing left to apply to
    commit("overwrite", snap.schema,
      writeData(aligned(df, snap.schema), id, snap.partitionCols),
      snap.partitionCols, expectedParent = snap.id,
      delsOverride = Some(Nil), renamesOverride = Some(Nil),
      specHistOverride = Some(Nil), posDelsOverride = Some(Nil),
      dvsOverride = Some(Map.empty))
  }

  /** SQL `TRUNCATE TABLE`: drop every live row in one METADATA-ONLY
    * commit — no data file is read, written, or deleted; the old
    * files stay on storage for time travel until snapshot expiry
    * (Iceberg/Delta truncate semantics). Same state resets as
    * [[overwrite]] (pending MoR deletes, DVs, and the rename log
    * have nothing left to apply to). */
  def truncate(): Long = {
    val snap = currentSnapshot
    commit("truncate", snap.schema, Nil, snap.partitionCols,
      expectedParent = snap.id,
      delsOverride = Some(Nil), renamesOverride = Some(Nil),
      specHistOverride = Some(Nil), posDelsOverride = Some(Nil),
      dvsOverride = Some(Map.empty))
  }

  /** SQL `TRUNCATE TABLE … PARTITION (p='v', …)`: drop every file
    * matching the spec'd fields' literal segments, metadata-only;
    * everything else carries forward by reference. A PARTIAL spec is
    * a PREFIX truncate (Hive's contract: `PARTITION (a='1')` on an
    * (a,b)-partitioned table drops all of `a=1`) — the replaced set
    * derives from the spec's literals via [[overwritePartitions]],
    * never from (empty) rows. Every spec'd key must be a partition
    * source column. */
  def truncatePartition(staticSpec: Map[String, String]): Long = {
    val snap = currentSnapshot
    require(snap.partitionCols.nonEmpty, "table is not partitioned")
    require(staticSpec.nonEmpty, "TRUNCATE PARTITION needs a spec")
    val resolved = staticSpec.map { case (k, v) =>
      snap.schema.fieldNames.find(_.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(
          s"PARTITION ($k): no such column")) -> v
    }
    // two case-variant keys (p='a', P='b') resolve to one column —
    // the map would silently keep last-wins and drop the other value
    require(resolved.size == staticSpec.size,
      s"PARTITION spec names a column twice " +
        s"(${staticSpec.keys.mkString(", ")})")
    val sources = PartField.parseAll(snap.partitionCols).map(_.col)
    require(resolved.keys.forall(sources.contains),
      s"TRUNCATE PARTITION keys must be partition source columns " +
        s"(${sources.mkString(", ")})")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
    overwritePartitions(empty, resolved)
  }

  // ---- row lineage (Iceberg v3) -----------------------------------

  /** True when the `row.lineage` table property is on. */
  def lineageEnabled: Boolean =
    properties.get(GraftTable.RowLineageProp).contains("true")

  /** The current snapshot with Iceberg v3 row-lineage metadata
    * columns: `_row_id` (unique, immutable per row — assigned at the
    * row's first commit, preserved through copy-on-write rewrites
    * and compaction) and `_last_updated_sequence_number` (the commit
    * that last MODIFIED the row; carries unchanged through rewrites
    * that only relocate it). Derivation is Iceberg's inheritance
    * model: a row's id is the file's manifest-recorded first_row_id
    * plus its position unless the file materializes an id column
    * (what lineage-preserving rewrites write), so appends pay ZERO
    * extra bytes and no global ordering ever computes — at 100 TB
    * the lineage read adds one broadcast of (file → first_row_id,
    * seq) commit metadata and two codegen'd coalesces per row. */
  def readLineage(): DataFrame = {
    val snap = currentSnapshot
    require(lineageEnabled,
      s"row lineage: set table property ${GraftTable.RowLineageProp}=true")
    require(snap.files.forall(snap.firstRowIds.contains),
      "row lineage metadata is incomplete: commit once (any append or " +
        "DML) after enabling row.lineage so first row ids assign")
    val src = lineageSource(snap, snap.files)
    src.select(snap.schema.fieldNames.map(col) ++ Seq(
      col(GraftTable.RowIdColName).as("_row_id"),
      col(GraftTable.LastSeqColName)
        .as("_last_updated_sequence_number")): _*)
  }

  /** `files` under `snap` with the two lineage columns resolved to
    * CONCRETE values — materialized-or-inherited row id, and the
    * last-updated sequence with the -1 "this commit" sentinel
    * translated through the file's own add-sequence (rewrites cannot
    * know their publish id up front; their files' fseq IS it). The
    * COW-rewrite source and the [[readLineage]] body. */
  private def lineageSource(snap: Snapshot, files: Seq[String],
      keepMeta: Boolean = false): DataFrame = {
    require(snap.renames.isEmpty,
      "row lineage across a pending column rename is not supported: " +
        "compact() to clear the rename log first")
    require(defaultedCols(snap).isEmpty,
      "row lineage with initial-default columns is not supported")
    require(files.forall(snap.firstRowIds.contains),
      "row lineage metadata is incomplete for this file set")
    val ext = StructType(snap.schema.fields ++ Seq(
      StructField(GraftTable.RowIdColName, org.apache.spark.sql.types.LongType),
      StructField(GraftTable.LastSeqColName, org.apache.spark.sql.types.LongType)))
    val base = manifestScan(ext, files, snap.fileSizes, snap.partitionCols)
      .withColumn("_g_file", col("_metadata.file_path"))
      .withColumn("_g_idx", col("_metadata.row_index"))
    import spark.implicits._
    // one row per file — commit metadata. Broadcast while that is
    // demonstrably driver-friendly (~150 B/row → ~15 MB at the gate);
    // past it fall back to a shuffle join rather than force a
    // multi-GB broadcast build on every executor (10⁷-file tables)
    val meta0 = files.map(f => (metaPath(f),
        snap.firstRowIds(f), snap.fileSeq.getOrElse(f, snap.id)))
      .toDF("_g_file", "_g_first", "_g_fseq")
    val meta = if (files.sizeIs <= 100000) broadcast(meta0) else meta0
    val derived0 = base.join(meta, "_g_file")
      .withColumn(GraftTable.RowIdColName,
        coalesce(col(GraftTable.RowIdColName),
          col("_g_first") + col("_g_idx")))
      .withColumn(GraftTable.LastSeqColName,
        when(col(GraftTable.LastSeqColName).isNull ||
            col(GraftTable.LastSeqColName) === -1L, col("_g_fseq"))
          .otherwise(col(GraftTable.LastSeqColName)))
    // EQUALITY-DELETE predicates compose with lineage by the same
    // argument as DVs and tombstones below (a predicate touches no
    // data file, so every survivor's (file, idx) — and therefore its
    // id and last-update — is untouched; the killed rows simply stop
    // surfacing): each pending predicate kills rows of files with a
    // LOWER add-sequence that match it (the sequence rule), evaluated
    // as one codegen'd null-rejecting filter riding the _g_fseq this
    // read already carries — no per-group unions. Predicates can only
    // PREDATE enablement or a lineage-off window (the MoR guard
    // refuses committing them while lineage is on, Iceberg v3's
    // contract), and the pending-rename refusal above means their
    // text binds the current column names.
    val derived = snap.dels.foldLeft(derived0)((df, p) =>
      df.filter(not(coalesce(expr(p.pred), lit(false)) &&
        col("_g_fseq") < lit(p.seq))))
    // DELETION VECTORS compose with lineage (Iceberg v3 ships them
    // together, and the math says why: a DV delete touches no data
    // file, so every surviving row's (file, idx) — and therefore its
    // id and last-update — is untouched). Same file-keyed probe as
    // morReadPos, riding the (file, idx) this read already carries.
    val live =
      if (snap.dvs.isEmpty) derived
      else {
        import org.apache.spark.sql.GraftSqlBridge.{columnOf, expressionOf}
        val dv = currentDvRelation(snap)
          .select(col("_file").as(GraftTable.DvFileCol),
            col("_bitmap").as(GraftTable.DvBitmapCol))
        val hinted =
          if (dvHeapBytes(snap).exists(_ <= GraftTable.PosDelBroadcastBytes))
            broadcast(dv)
          else dv
        derived.join(hinted,
            col("_g_file") === col(GraftTable.DvFileCol), "left")
          .filter(not(coalesce(
            columnOf(graft.functions.NativeExprs.BitsetGet(
              expressionOf(col(GraftTable.DvBitmapCol)),
              expressionOf(col("_g_idx")))),
            lit(false))))
          .drop(GraftTable.DvFileCol, GraftTable.DvBitmapCol)
      }
    // POSITION TOMBSTONES compose with lineage by the same argument
    // as DVs (Iceberg v3 pairs lineage with BOTH delete shapes): a
    // tombstone touches no data file, so every survivor's (file, idx)
    // — and therefore its id and last-update — is untouched. Same
    // (file, pos) anti-join as morReadPos, riding the (_g_file,
    // _g_idx) this read already carries, under the same broadcast
    // byte gate.
    val live2 =
      if (snap.posDels.isEmpty) live
      else live.join(tombstones(snap),
        col("_g_file") === col("_file") &&
          col("_g_idx") === col("_pos"), "left_anti")
    if (keepMeta) live2.drop("_g_first", "_g_fseq")
    else live2.drop("_g_file", "_g_idx", "_g_first", "_g_fseq")
  }

  /** The copy-on-write rewrite source: the plain mapped read, or —
    * on a row-lineage table — the read WITH concrete lineage columns
    * so the rewritten files materialize every carried row's id and
    * last-update (Iceberg v3: "writers must preserve row ids when
    * rewriting"). */
  /** Whether a COW rewrite of `files` can (and must) carry lineage:
    * lineage is on AND every file already has a first-row-id range.
    * The first post-enable commit fails the second clause — no file
    * has a range yet, so there are no ids to preserve; the rewrite
    * reads plain and THIS commit's manifest assigns ranges to the
    * new files (mirrors compact()'s lineageServable fallback;
    * without it a COW UPDATE/DELETE/MERGE as the very first
    * post-enable commit would refuse on lineageSource's completeness
    * require, and only an append or compact() could unwedge the
    * table). UPDATE/MERGE consult this SAME predicate to decide
    * whether their projections may reference the lineage columns —
    * gating them on lineageEnabled alone would select _g_row_id from
    * a plain fallback frame and fail analysis. */
  private def cowLineageServable(snap: Snapshot,
      files: Seq[String]): Boolean =
    lineageEnabled && files.forall(snap.firstRowIds.contains)

  private def cowSource(snap: Snapshot, files: Seq[String]): DataFrame =
    if (cowLineageServable(snap, files)) lineageSource(snap, files)
    else readFilesMapped(snap, files)

  /** Atomic table REPLACE (Iceberg RTAS / `CREATE OR REPLACE TABLE …
    * AS SELECT`): ONE swap commit through the same CAS publish as
    * every other commit, so readers either see the old table or the
    * complete new one — never a half-built rebuild (the
    * scheduled-job idiom: drop+recreate has a visible gap and loses
    * history; RTAS has neither). Schema, partition spec, and file
    * set are the new query's; pending MoR artifacts, the rename log,
    * and spec history have nothing left to apply to and reset.
    * HISTORY IS PRESERVED — every snapshot carries its own schema,
    * so time travel across the replace boundary reads the
    * pre-replace world unchanged, and age/count expiry reaps it on
    * the normal schedule. */
  def replaceWith(df: DataFrame, partitionBy: Seq[String] = Nil): Long = {
    PartField.parseAll(partitionBy).foreach(f =>
      require(df.schema.fieldNames.contains(f.col),
        s"partition source column ${f.col} is not in the new schema"))
    val snap = currentSnapshot
    val id = currentSnapshotId + 1
    commit("replace", df.schema,
      writeData(df, id, partitionBy), partitionBy,
      expectedParent = snap.id,
      delsOverride = Some(Nil), renamesOverride = Some(Nil),
      specHistOverride = Some(Nil), posDelsOverride = Some(Nil),
      dvsOverride = Some(Map.empty))
  }

  // ---- copy-on-write DML -------------------------------------------

  /** `file:/x` vs `file:///x` vs plain `/x` all normalize to `/x`.
    * For MANIFEST paths (raw, as listed from the filesystem). */
  private def normalize(p: String): String = new Path(p).toUri.getPath

  /** `input_file_name()` returns the URL-ENCODED path
    * (PartitionedFile.urlEncodedPath since Spark 3.4) while manifest
    * paths are raw — a hive dir `tag=NOT%3DSPECIFIED` arrives as
    * `tag=NOT%253DSPECIFIED` and a root with a space as `%20`
    * (probe-verified on 4.1.2). Without decoding, the affected-file
    * comparison matches nothing and copy-on-write DML silently
    * commits a no-change snapshot. */
  private def decodeScanPath(p: String): String =
    try {
      val path = new java.net.URI(p).getPath
      if (path != null) path else normalize(p)
    } catch { case _: java.net.URISyntaxException => normalize(p) }

  /** A raw MANIFEST path rendered the way `_metadata.file_path`
    * renders it (`new Path(p).toUri.toString` — URL-encoded, so a
    * hive dir `tag=NOT%3DSPECIFIED` becomes `...NOT%253DSPECIFIED`
    * and a root with a space gets `%20`). Tombstone `_file` values
    * are recorded from `_metadata.file_path`, so every comparison of
    * manifest paths against tombstone paths must pass the manifest
    * side through THIS (the dual of [[decodeScanPath]]); comparing
    * the two raw forms silently matches nothing on any path with an
    * encodable character. */
  private def metaPath(p: String): String = GraftTable.metaPath(p)

  /** The data files among `candidates` that contain at least one row
    * matching `hit` — one distributed pass, shipping only distinct
    * file names back. Callers with a SQL predicate narrow
    * `candidates` with manifest stats + partition pruning FIRST
    * (Iceberg's order), so a DELETE touching one day of a 100 TB
    * table scans that day's candidate files, not the table. */
  private def affectedFiles(snap: Snapshot, candidates: Seq[String],
      hit: DataFrame => DataFrame): Set[String] =
    hit(readFilesMapped(snap, candidates)
      .withColumn("_graft_file", input_file_name()))
      .select("_graft_file")
      .distinct()
      .collect()
      .map(r => decodeScanPath(r.getString(0)))
      .toSet

  /** Manifest-only candidate set for a row-level predicate: files
    * whose column stats AND partition values could match. */
  private def dmlCandidates(snap: Snapshot, predSql: String): Seq[String] = {
    val kept = pruneByStats(snap, predSql).toSet &
      prunePartitions(snap, predSql).toSet
    snap.files.filter(kept)
  }

  private def partitionFiles(snap: Snapshot, affected: Set[String]) =
    snap.files.partition(f => !affected(normalize(f)))

  /** DELETE FROM t WHERE pred — rewrites only files containing hits. */
  /** Merge-on-read DELETE (Iceberg's equality-delete path): commits a
    * delete predicate scoped to the current files' sequences — O(1),
    * no data scan, no rewrite. Reads anti-filter scoped files until
    * [[compact]] materializes. At 100 TB this is the difference
    * between a metadata commit and rewriting terabytes for a
    * predicate touching most files. Rows appended AFTER the delete
    * are out of scope even when they match (sequence rule). */
  /** Row-lineage tables take copy-on-write DML plus the VECTOR
    * merge-on-read shape (DV DELETE/UPDATE/MERGE preserve ids); the
    * TOMBSTONE shapes would need id-preserving composition on every
    * read path — refuse at WRITE time so no lineage read ever faces
    * pending tombstones. */
  private def requireNoLineage(what: String): Unit =
    if (lineageEnabled) throw new UnsupportedOperationException(
      s"$what on a row-lineage table is not supported: " +
        "row.lineage tables take copy-on-write DML or position/" +
        "vector-style merge-on-read (equality predicates have no row " +
        "identity to preserve)")

  def deleteMoR(predSql: String): Long = {
    requireNoLineage("merge-on-read DELETE")
    val snap = currentSnapshot
    // resolve the predicate against the snapshot schema NOW — a typo
    // must fail this commit, not some future read
    readFiles(snap, Nil).filter(expr(predSql))
    // pin the changelog's rename-replay invariant AT THE COMMIT
    // BOUNDARY: predCond rewrites only single-part attribute
    // references, so a stored predicate must never carry a qualified
    // or multi-part reference (today unreachable — the unaliased
    // resolve above refuses qualified refs — but the replay's
    // assumption deserves an explicit guard where the text persists)
    spark.sessionState.sqlParser.parseExpression(predSql).foreach {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        require(a.nameParts.size == 1,
          s"equality-delete predicate may only reference top-level " +
            s"columns by bare name, got '${a.name}'")
      case _ => ()
    }
    // own op string ("delete-eq", vs the tombstone path's
    // "delete-mor"): operators reading `history`/`snapshots` metadata
    // can tell the two delete styles apart without a manifest parse
    commit("delete-eq", snap.schema, snap.files, snap.partitionCols,
      expectedParent = snap.id,
      delsOverride = Some(snap.dels :+ DeletePred(snap.id + 1, predSql)))
  }

  /** Merge-on-read DELETE with POSITION tombstones (Iceberg v2's
    * position deletes — what fine-grained DML emits at scale): scan
    * only the stats-candidate files, record each matching row as a
    * (data file, row index) pair in a tombstone parquet, commit
    * metadata-only. Compared to the equality path this PAYS a
    * candidate scan at delete time but makes every later READ
    * predicate-free — a broadcast anti-join on an 12-byte-wide
    * tombstone relation instead of evaluating the delete predicate
    * per row per scan until compaction; the economic crossover is
    * deletes that are read many times before materialization, the
    * common case for a slowly-deleting 100 TB table. No sequence
    * scoping: tombstones name exact rows of exact files, so later
    * appends are untouched by construction. Needs no rewrite — the
    * data file set is unchanged (require()d in the spec). */
  def deleteMoRPos(predSql: String): Long =
    deleteMoRPosAt(currentSnapshot, predSql)

  /** [[deleteMoRPos]] against an explicit base snapshot — the
    * deterministic seam for the rebase path, like [[deleteAt]]. */
  private[graft] def deleteMoRPosAt(snap: Snapshot, predSql: String): Long = {
    // position DELETE composes with row lineage (like DV DELETE: no
    // data file is touched, so survivors' ids and last-updates are
    // untouched by construction — Iceberg v3 pairs lineage with both
    // delete shapes)
    val cand = dmlCandidates(snap, predSql)
    // scan the LIVE view: rows already tombstoned (or under a pending
    // equality delete) must not be re-tombstoned
    val tombs = writeTombstones(
      morReadPos(snap, cand).filter(expr(predSql)), snap.id + 1)
    commitDml("delete-mor", snap, cand.map(normalize).toSet, Set.empty,
      Nil, newTombs = tombs, predSql = Some(predSql))
  }

  /** DELETE under `write.delete.style=vector`: deletion vectors
    * (Iceberg v3 / Delta DVs — one bitmap blob per data file, bit n
    * set = row n deleted), the production form of position deletes at
    * high DML rates. Versus tombstones, the read side replaces the
    * (file, pos) anti-JOIN with an O(1) bit probe per row against a
    * file-joined blob, and the k-th DELETE merges bits into one blob
    * per touched file instead of appending a k-th tombstone relation
    * that every subsequent read re-joins. A file's blob is ≤ rows/8
    * bytes regardless of how many DELETEs hit it — the artifact
    * stops growing with DML rate, which is what makes the shape
    * production-viable on a busy 100 TB fact table. */
  def deleteMoRDv(predSql: String): Long =
    deleteMoRDvAt(currentSnapshot, predSql)

  /** [[deleteMoRDv]] against an explicit base snapshot — the
    * deterministic seam for the rebase path, like [[deleteAt]]. */
  private[graft] def deleteMoRDvAt(snap: Snapshot, predSql: String): Long = {
    // DV DELETE composes with row lineage (no data file is touched,
    // so ids and last-updates of survivors are untouched by
    // construction) — the one MoR shape lineage tables accept
    val cand = dmlCandidates(snap, predSql)
    if (cand.isEmpty) return snap.id // stats prove nothing matches
    // scan the LIVE view: rows already vectored out (or tombstoned,
    // or under a pending equality delete) must not be re-deleted
    val newDvs = writeDvs(
      morReadPos(snap, cand).filter(expr(predSql)), snap, snap.id + 1)
    if (newDvs.isEmpty) return snap.id // nothing matched — no commit
    commitDml("delete-dv", snap, cand.map(normalize).toSet, Set.empty,
      Nil, predSql = Some(predSql), newDvs = newDvs)
  }

  /** Write merged deletion-vector blobs for every data file with a
    * row in `rows` (which must carry the [[readFilesPos]] metadata
    * columns) and return the pointer updates (MANIFEST-form data file
    * → manifest-form blob path). One aggregate pass builds each
    * touched file's new bits ([[graft.functions.NativeExprs.BitsetFromPositions]]
    * over `collect_list` — no sort, no driver round-trip of row
    * positions), a file-keyed join ORs in each file's EXISTING vector
    * (broadcast while the blob set is under the same gate as the
    * tombstone anti-join), and the blob parquet writes distributed.
    * Only the (file → blob) pointer map ships to the driver —
    * O(#touched files) commit metadata, like every manifest. */
  private def writeDvs(rows: DataFrame, snap: Snapshot,
      commitId: Long): Map[String, (String, Long)] = {
    import graft.functions.NativeExprs
    import org.apache.spark.sql.GraftSqlBridge.{columnOf, expressionOf}
    val newBits = rows
      .select(col(GraftTable.PosFileCol).as("_file"),
        col(GraftTable.PosIdxCol).as("_pos"))
      .groupBy("_file")
      .agg(columnOf(NativeExprs.BitsetFromPositions(
        expressionOf(collect_list(col("_pos"))))).as("_bitmap"))
    val merged =
      if (snap.dvs.isEmpty) newBits
      else {
        val old = currentDvRelation(snap)
          .withColumnRenamed("_bitmap", "_old")
        val hinted =
          if (dvHeapBytes(snap).exists(_ <= GraftTable.PosDelBroadcastBytes))
            broadcast(old)
          else old
        newBits.join(hinted, Seq("_file"), "left")
          .select(col("_file"),
            columnOf(NativeExprs.BitsetOr(
              expressionOf(col("_bitmap")),
              expressionOf(coalesce(col("_old"),
                lit(Array.emptyByteArray))))).as("_bitmap"))
      }
    writeDvBlobs(merged, snap, commitId)
  }

  /** Write a (`_file`, `_bitmap`) relation as this commit's blob
    * parquet and return the pointer map (manifest-form data file →
    * manifest-form blob). The map comes from a column-pruned
    * read-back — only (_file, file_path) are decoded, the bitmaps
    * are never re-read — with both sides inverted to their exact
    * manifest strings through [[metaPath]] (its documented dual), so
    * every later comparison is exact, not re-derived. */
  private def writeDvBlobs(rel: DataFrame, snap: Snapshot,
      commitId: Long): Map[String, (String, Long)] = {
    import graft.functions.NativeExprs
    import org.apache.spark.sql.GraftSqlBridge.{columnOf, expressionOf}
    val dir = new Path(root, f"data/commit-$commitId%05d-dv-" +
      java.util.UUID.randomUUID.toString.take(8))
    // the bitmap's cardinality rides the same write (one kernel pass)
    // so the manifest can record each file's deleted-row count and
    // `delete_files` metadata never reads a blob — Iceberg records
    // DV cardinality in its manifests the same way
    rel.select(col("_file"), col("_bitmap"),
        columnOf(NativeExprs.BitsetCardinality(
          expressionOf(col("_bitmap")))).as("_card"))
      .write.parquet(dir.toString)
    val blobByMeta = fs.listStatus(dir).map(_.getPath.toString)
      .filter(_.endsWith(".parquet"))
      .map(p => metaPath(p) -> p).toMap
    // candidates survived stats pruning but no ROW matched: nothing
    // was written, nothing to commit (the empty dir is orphan-scale)
    if (blobByMeta.isEmpty) return Map.empty
    val fileByMeta = snap.files.map(f => metaPath(f) -> f).toMap
    spark.read.schema(StructType(GraftTable.DvBlobSchema.fields :+
        org.apache.spark.sql.types.StructField("_card",
          org.apache.spark.sql.types.LongType)))
      .parquet(dir.toString)
      .select(col("_file"), col("_metadata.file_path"), col("_card"))
      .collect()
      .map { r =>
        val df = fileByMeta.getOrElse(r.getString(0), sys.error(
          s"deletion vector names unknown data file ${r.getString(0)}"))
        val blob = blobByMeta.getOrElse(r.getString(1), sys.error(
          s"deletion vector blob outside its commit dir ${r.getString(1)}"))
        df -> (blob, r.getLong(2))
      }.toMap
  }

  /** Consolidate deletion-vector blobs (the DV leg of `OPTIMIZE t
    * REWRITE DELETES`): write each file's CURRENT bitmap into a
    * fresh blob set and repoint everything. Superseded merges leave
    * STALE bitmaps inside old blobs, and an old blob stays
    * referenced — pinning its stale bytes — while ANY file still
    * points into it; after heavy vector DML the consolidation frees
    * them for [[expireSnapshots]]. Metadata-scale: reads and writes
    * bitmaps only, no data file is touched. */
  def rewriteDeletionVectors(): Long = {
    val snap = currentSnapshot
    if (snap.dvs.isEmpty) return snap.id
    val repointed = writeDvBlobs(
      currentDvRelation(snap).select(col("_file"), col("_bitmap")),
      snap, snap.id + 1)
    commit("rewrite-dv", snap.schema, snap.files, snap.partitionCols,
      expectedParent = snap.id,
      dvsOverride = Some(repointed.view.mapValues(_._1).toMap),
      dvCardsOverride = Some(repointed.view.mapValues(_._2).toMap))
  }

  /** The CURRENT (`_file`, `_bitmap`) deletion-vector relation of
    * `snap`: all referenced blobs, keeping only rows whose (file,
    * blob) pair matches the snapshot's pointer map — an old blob
    * legitimately holds STALE bitmaps for files whose pointer moved
    * to a newer merge. `_file` stays in `_metadata.file_path` form,
    * directly joinable against [[readFilesPos]]'s metadata column.
    * One row per vectored file, each ≤ rows/8 bytes: broadcast-scale
    * under the same gate as the tombstone anti-join. */
  private def currentDvRelation(snap: Snapshot): DataFrame = {
    val blobs = snap.dvs.values.toSeq.distinct.sorted
    import spark.implicits._
    val ptrs = snap.dvs.toSeq.map { case (f, b) =>
      (metaPath(f), metaPath(b)) }.toDF("_pf", "_pb")
    manifestScan(GraftTable.DvBlobSchema, blobs, snap.dvSizes)
      .select(col("_file"), col("_bitmap"),
        col("_metadata.file_path").as("_bp"))
      .join(broadcast(ptrs),
        col("_file") === col("_pf") && col("_bp") === col("_pb"),
        "left_semi")
  }

  /** Upper bound on the IN-MEMORY bytes of `snap`'s current bitmaps
    * (a file's bitmap is ≤ rows/8 + 1 bytes, rows from the manifest's
    * footer harvest) — the broadcast-vs-shuffle gate datum. On-disk
    * blob size would be wrong here: parquet compresses dense 0xFF
    * runs by orders of magnitude, so a heavily-deleted table's tiny
    * blobs can hide a multi-GB broadcast. None when any vectored
    * file lacks a recorded row count — the caller must not
    * broadcast what it cannot bound. */
  private def dvHeapBytes(snap: Snapshot): Option[Long] = {
    val per = snap.dvs.keys.toSeq.map(f =>
      snap.fileRows.get(f).map(_ / 8 + 1))
    if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
  }

  /** Merge-on-read UPDATE via position tombstones: the matched rows
    * (scanned from the LIVE view, stats-candidate files only)
    * tombstone their old images and append their new ones — at scale
    * an UPDATE touching 0.1% of rows costs that 0.1% (tombstones +
    * appended images), not a rewrite of every affected FILE the way
    * copy-on-write does. Routed from SQL UPDATE when
    * `write.update.mode=merge-on-read`. */
  def updateMoRPos(assignments0: Map[String, String], predSql: String): Long =
    updateMoRPosAt(currentSnapshot, assignments0, predSql)

  /** [[updateMoRPos]] against an explicit base snapshot — the
    * deterministic seam for the rebase path, like [[deleteAt]]: a
    * caller holding a stale base reproduces "another writer committed
    * while this UPDATE scanned" without thread-timing luck. */
  private[graft] def updateMoRPosAt(snap: Snapshot,
      assignments0: Map[String, String], predSql: String): Long = {
    // Row lineage composes with BOTH delete-file shapes (Iceberg v3
    // pairs lineage with position tombstones AND deletion vectors):
    // the matched rows read with their lineage, the old images
    // become tombstone rows or bitmap bits — neither touches a data
    // file — and the new images MATERIALIZE the carried ids with the
    // -1 "this commit" sentinel, so even a MoR update preserves row
    // identity. Style bound ONCE (the convention this file documents
    // for MERGE): a concurrent setProperties must not flip the shape
    // between read and write branches.
    val vector = deleteStyle == "vector"
    val p = expr(predSql)
    val assignments = resolveAssignments(assignments0,
      snap.schema.fieldNames.toSeq, "UPDATE SET")
    val cand = dmlCandidates(snap, predSql)
    // same first-post-enable fallback as cowSource: before any file
    // has a first-row-id range there are no ids to preserve — scan
    // plain, and this very commit's manifest assigns ranges
    val lineageOn = cowLineageServable(snap, cand)
    val matching =
      if (!lineageOn) morReadPos(snap, cand).filter(p)
      else lineageSource(snap, cand, keepMeta = true)
        .withColumn(GraftTable.PosFileCol, col("_g_file"))
        .withColumn(GraftTable.PosIdxCol, col("_g_idx"))
        .drop("_g_file", "_g_idx")
        .filter(p)
    val id = snap.id + 1
    // old images take the table's delete-file shape
    // (`write.delete.style`): tombstone parquet, or merged
    // deletion-vector bitmaps under `vector` — Iceberg v3 DVs serve
    // every row-level operation, not just DELETE
    val (tombs, dvs) =
      if (vector)
        (Nil, writeDvs(matching, snap, id))
      else (writeTombstones(matching, id),
        Map.empty[String, (String, Long)])
    val lineageCols =
      if (!lineageOn) Nil
      else Seq(col(GraftTable.RowIdColName),
        lit(-1L).as(GraftTable.LastSeqColName))
    val images = matching.select(snap.schema.fieldNames.toSeq.map { c =>
      assignments.get(c) match {
        case Some(e) =>
          checkedCast(expr(e), resolvedType(matching, expr(e)),
            snap.schema(c).dataType, s"UPDATE SET $c").as(c)
        case None => col(c)
      }
    } ++ lineageCols: _*)
    commitDml("update-mor", snap, cand.map(normalize).toSet, Set.empty,
      writeData(images, id, snap.partitionCols),
      newTombs = tombs, predSql = Some(predSql), newDvs = dvs)
  }

  /** Copy-on-write row DML computes affected files with a plain scan;
    * pending merge-on-read deletes (equality or position) would
    * silently resurrect deleted rows through the rewrite.
    * Materialize first. */
  private def requireNoMorDels(snap: Snapshot, what: String): Unit =
    require(snap.dels.isEmpty && snap.posDels.isEmpty && snap.dvs.isEmpty,
      s"$what: table has pending merge-on-read deletes; run compact() " +
        "to materialize them before copy-on-write row DML")

  def delete(predSql: String): Long = deleteAt(currentSnapshot, predSql)

  /** [[delete]] computed against an explicit base snapshot — the
    * deterministic seam for the rebase-on-conflict path: a caller
    * holding a stale base reproduces "another writer committed while
    * this DELETE scanned" without thread-timing luck. */
  private[graft] def deleteAt(snap: Snapshot, predSql: String): Long = {
    val p = expr(predSql)
    requireNoMorDels(snap, "DELETE")
    val (_, rewrite) = partitionFiles(snap,
      affectedFiles(snap, dmlCandidates(snap, predSql), _.filter(p)))
    val id = currentSnapshotId + 1
    val newFiles =
      if (rewrite.isEmpty) Nil
      else writeData(
        // NULL-predicate rows must survive a DELETE (SQL semantics):
        // not(NULL) is NULL and would silently drop them from
        // rewritten files only. cowSource materializes row lineage
        // into the survivors when row.lineage is on.
        cowSource(snap, rewrite)
          .filter(not(coalesce(p, lit(false)))),
        id, snap.partitionCols)
    val touched = rewrite.map(normalize).toSet
    commitDml("delete", snap, touched, touched, newFiles,
      predSql = Some(predSql))
  }

  /** Resolve assignment / value-map keys against the table schema the
    * way Spark SQL resolves identifiers: case-insensitively, erroring
    * on a key that names no table column. Without this a case-mismatched
    * `SET V = …` (column `v`) would silently no-op — the write still
    * commits a rewrite snapshot with nothing changed. */
  private def resolveAssignments(m: Map[String, String],
      cols: Seq[String], what: String): Map[String, String] =
    m.map { case (k, v) =>
      cols.find(_.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(
          s"$what targets unknown column '$k' " +
            s"(table columns: ${cols.mkString(", ")})")) -> v
    }

  /** The resolved type of expression `e` against `df` — analysis
    * only, nothing executes. */
  private def resolvedType(df: DataFrame, e: Column) =
    df.select(e.as("_t")).schema.head.dataType

  /** ANSI store-assignment check for a clause value expression — the
    * same `canUpCast`/`canANSIStoreAssign` contract [[aligned]]
    * enforces on whole-DataFrame writes. Without it a lenient
    * `.cast` lets a type-incompatible SET / INSERT value (e.g. a
    * string into a DOUBLE column) silently commit NULL instead of
    * failing the write (round-3 ADVICE). */
  private def checkedCast(v: Column, vType: org.apache.spark.sql.types.DataType,
      target: org.apache.spark.sql.types.DataType, what: String): Column = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    if (vType == target) v
    else if (Cast.canUpCast(vType, target) ||
        Cast.canANSIStoreAssign(vType, target)) v.cast(target)
    else throw new IllegalArgumentException(
      s"$what: ${vType.simpleString} cannot be safely written as " +
        s"column type ${target.simpleString}")
  }

  /** UPDATE t SET col = expr, ... WHERE pred (copy-on-write). */
  def update(assignments0: Map[String, String], predSql: String): Long = {
    val p = expr(predSql)
    val snap = currentSnapshot
    requireNoMorDels(snap, "UPDATE")
    val assignments = resolveAssignments(assignments0,
      snap.schema.fieldNames.toSeq, "UPDATE SET")
    val (_, rewrite) = partitionFiles(snap,
      affectedFiles(snap, dmlCandidates(snap, predSql), _.filter(p)))
    val id = currentSnapshotId + 1
    val newFiles =
      if (rewrite.isEmpty) Nil
      else {
        val base = cowSource(snap, rewrite)
        // row lineage: an updated row keeps its _row_id and bumps its
        // last-updated to THIS commit (the -1 sentinel — the publish
        // id is unknowable pre-CAS; readers translate it through the
        // rewritten file's own add-sequence); carried rows keep both.
        // Gated on the SAME predicate as cowSource's fallback: the
        // first post-enable commit reads plain and must not select
        // the absent lineage columns.
        val lineageCols =
          if (!cowLineageServable(snap, rewrite)) Nil
          else Seq(col(GraftTable.RowIdColName),
            when(p, lit(-1L))
              .otherwise(col(GraftTable.LastSeqColName))
              .as(GraftTable.LastSeqColName))
        val updated = base.select(
          snap.schema.fieldNames.toSeq.map { c =>
            assignments.get(c) match {
              case Some(e) =>
                val v = checkedCast(expr(e), resolvedType(base, expr(e)),
                  snap.schema(c).dataType, s"UPDATE SET $c")
                when(p, v).otherwise(col(c)).as(c)
              case None    => col(c)
            }
          } ++ lineageCols: _*)
        writeData(updated, id, snap.partitionCols)
      }
    val touched = rewrite.map(normalize).toSet
    commitDml("update", snap, touched, touched, newFiles,
      predSql = Some(predSql))
  }

  /** MERGE INTO t USING source ON t.key = s.key
    * WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT * —
    * the upsert the reference issues against its Iceberg tables.
    * Affected files are found with a LEFT SEMI join on the key (only
    * `(key, file)` pairs shuffle, never row bodies); matched rows are
    * replaced by the source row, unmatched source rows are appended.
    * At scale Catalyst/AQE picks broadcast vs shuffle join on its own.
    */
  def merge(source: DataFrame, key: String): Long = {
    evolveForMerge(source)
    // case-insensitive, like the rest of the merge path's resolution
    require(source.columns.map(_.toLowerCase).sorted.toSeq ==
        currentSnapshot.schema.fieldNames.map(_.toLowerCase).sorted.toSeq,
      s"merge source schema ${source.columns.mkString(",")} != table " +
        currentSnapshot.schema.fieldNames.mkString(","))
    // already evolved above — go straight to the snapshot form (the
    // public multi-clause entry would re-run evolveForMerge)
    mergeAt(currentSnapshot, source, Seq(key), Seq(
      MergeClause.Update(None, Map.empty),
      MergeClause.Insert(None, Map.empty)))
  }

  /** Schema evolution on MERGE (Delta's `schema.autoMerge`, Iceberg's
    * mergeSchema write option, opt-in): when the table property
    * `write.merge.schema.evolution` = 'true', source columns absent
    * from the target are ADDED (nullable, a metadata-only commit
    * through the same [[addColumns]] guards — retired names still
    * refuse) before the merge plans, so star clauses propagate their
    * values and every pre-merge row reads NULL. Without the property
    * an unknown source column stays what it is today: usable via
    * `__src_` references, never widening the table. */
  private def evolveForMerge(source: DataFrame): Unit =
    if (properties.get("write.merge.schema.evolution").contains("true"))
      evolveSchemaFrom(source)

  /** The evolution step itself — also the `MERGE … WITH SCHEMA
    * EVOLUTION` statement's explicit request (Spark 4 syntax), which
    * must evolve regardless of the table property. */
  private def evolveSchemaFrom(source: DataFrame): Unit = {
    val snap = currentSnapshot
    val added = source.schema.fields.filterNot(f =>
      snap.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
      .map(_.copy(nullable = true)).toSeq
    require(!added.exists(_.name.toLowerCase.startsWith("_graft")),
      "merge schema evolution: source columns may not start with " +
        "reserved prefix '_graft'")
    if (added.nonEmpty) addColumns(added)
  }

  /** Conditional multi-clause MERGE (see [[MergeClause]]): first
    * matching clause wins per row. Source need only contain the key
    * columns plus whatever the clauses reference (star update/insert
    * clauses require the full table schema). Copy-on-write like the
    * single-key form: only files containing key matches are
    * rewritten; clause evaluation is one projection over the joined
    * rewrite set, so the whole MERGE is the semi-join scan + one
    * rewrite + one anti-join, no extra shuffles. */
  def merge(source: DataFrame, keys0: Seq[String],
      clauses0: Seq[MergeClause]): Long =
    merge(source, keys0, clauses0, evolveSchema = false)

  /** `evolveSchema = true` is the `MERGE … WITH SCHEMA EVOLUTION`
    * form: evolve from the source regardless of the table property
    * (which otherwise gates [[evolveForMerge]]). */
  def merge(source: DataFrame, keys0: Seq[String],
      clauses0: Seq[MergeClause], evolveSchema: Boolean): Long = {
    if (evolveSchema) evolveSchemaFrom(source) else evolveForMerge(source)
    mergeAt(currentSnapshot, source, keys0, clauses0)
  }

  /** [[merge]] computed against an explicit base snapshot — the
    * deterministic seam for the rebase path, like [[deleteAt]].
    * Translates the executor-raised cardinality violation (see
    * [[GraftTable.MergeDupMarker]]) into the API's
    * IllegalArgumentException; nothing was committed when it fires
    * (the raise aborts the write before any manifest publish). */
  private[graft] def mergeAt(snap: Snapshot, source: DataFrame,
      keys0: Seq[String], clauses0: Seq[MergeClause]): Long =
    try mergeAtImpl(snap, source, keys0, clauses0)
    catch {
      case e: Throwable
          if GraftTable.chainContains(e, GraftTable.MergeDupMarker) =>
        val detail = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .take(20).map(_.getMessage)
          .find(m => m != null && m.contains(GraftTable.MergeDupMarker))
          .map(_.take(200)).getOrElse("")
        throw new IllegalArgumentException(
          "merge source has duplicate rows: each target row must " +
            s"match at most one source row ($detail)", e)
    }

  /** NOT MATCHED BY SOURCE clauses act on rows that HAVE no source
    * row — a source reference there would silently evaluate to NULL
    * through the left join (Spark/Delta/Iceberg reject it at
    * analysis; so do we). */
  private def requireTargetOnly(sql: String): Unit = {
    val refs =
      try spark.sessionState.sqlParser.parseExpression(sql).collect {
        case a: org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute => a.nameParts.head
      }
      catch { case scala.util.control.NonFatal(_) => Nil }
    refs.filter(_.toLowerCase.startsWith(GraftTable.SrcPrefix))
      .foreach { bad =>
        throw new IllegalArgumentException(
          "NOT MATCHED BY SOURCE clauses may reference target columns " +
            s"only (found source column '${bad.stripPrefix(GraftTable.SrcPrefix)}')")
      }
  }

  private def mergeAtImpl(snap: Snapshot, source: DataFrame,
      keys0: Seq[String], clauses0: Seq[MergeClause]): Long = {
    // merge-on-read MERGE reads the live view and rewrites nothing, so
    // pending deletes (either shape) compose; copy-on-write must not
    // rewrite through them
    // bound ONCE at entry: three separate property-file reads are
    // three metadata RPCs per MERGE, and a concurrent setProperties
    // could flip the semantics between the guard and the write
    val morMode = mergeMode == "merge-on-read"
    // one property read for the whole MERGE (same reasoning as
    // morMode above): lineage gates the source, the post-clause
    // projection, and the alignment — five separate reads otherwise
    val lineageOn = lineageEnabled
    val vectorStyle = deleteStyle == "vector"
    // MoR MERGE composes with lineage under BOTH delete-file shapes
    // (like UPDATE: matched old images become tombstone rows or
    // bitmap bits — no data file touched — and new images
    // materialize the carried ids)
    if (!morMode) requireNoMorDels(snap, "MERGE")
    val cols = snap.schema.fieldNames.toSeq
    require(keys0.nonEmpty, "merge requires at least one key column")
    // resolve keys and clause assignment targets the way Spark SQL
    // resolves identifiers: case-insensitively against the schema
    val keys = keys0.map(k => cols.find(_.equalsIgnoreCase(k)).getOrElse(
      throw new IllegalArgumentException(
        s"merge key '$k' is not a table column (${cols.mkString(", ")})")))
    require(keys.forall(k => source.columns.exists(_.equalsIgnoreCase(k))),
      s"merge source lacks key column(s) ${keys.filterNot(k => source.columns.exists(_.equalsIgnoreCase(k))).mkString(",")}")
    require(!cols.exists(_.startsWith(GraftTable.SrcPrefix)),
      s"table columns may not start with reserved prefix '${GraftTable.SrcPrefix}'")
    require(!source.columns.exists(_.startsWith("_graft")),
      "merge source columns may not start with reserved prefix '_graft'")
    val clauses = clauses0.map {
      case MergeClause.Update(c, set) =>
        MergeClause.Update(c, resolveAssignments(set, cols, "merge UPDATE SET"))
      case MergeClause.Insert(c, values) =>
        MergeClause.Insert(c, resolveAssignments(values, cols, "merge INSERT"))
      case MergeClause.UpdateBySource(c, set) =>
        require(set.nonEmpty,
          "NOT MATCHED BY SOURCE UPDATE requires explicit SET " +
            "assignments (there is no source row to star from)")
        (c.toSeq ++ set.values).foreach(requireTargetOnly)
        MergeClause.UpdateBySource(c, resolveAssignments(set, cols,
          "merge NOT MATCHED BY SOURCE UPDATE SET"))
      case MergeClause.DeleteBySource(c) =>
        c.foreach(requireTargetOnly)
        MergeClause.DeleteBySource(c)
      case d => d
    }
    val matchedClauses = clauses.filter {
      case _: MergeClause.Insert         => false
      case _: MergeClause.UpdateBySource => false
      case _: MergeClause.DeleteBySource => false
      case _                             => true
    }
    val bySourceClauses = clauses.filter {
      case _: MergeClause.UpdateBySource => true
      case _: MergeClause.DeleteBySource => true
      case _                             => false
    }
    if (bySourceClauses.nonEmpty)
      require(!morMode,
        "WHEN NOT MATCHED BY SOURCE is copy-on-write only (a " +
          "merge-on-read pass would tombstone every unmatched row's " +
          "position — run with write.merge.mode=copy-on-write)")
    val insertClauses = clauses.collect { case i: MergeClause.Insert => i }
    val needsStar =
      matchedClauses.exists { case MergeClause.Update(_, s) => s.isEmpty; case _ => false } ||
        insertClauses.exists(_.values.isEmpty)
    // case-INSENSITIVE, like every other identifier resolution on
    // this path (keys, assignments, evolveForMerge)
    if (needsStar) require(cols.forall(c =>
        source.columns.exists(_.equalsIgnoreCase(c))),
      "UPDATE SET * / INSERT * requires the source to carry every table column")

    // Iceberg/Delta cardinality rule: TWO SOURCE ROWS MATCHING ONE
    // TARGET ROW would silently duplicate it through the left join
    // below — fail the commit instead. Duplicate keys among rows that
    // match nothing are legal (each inserts, as in Iceberg). The
    // check rides INSIDE the merge join itself: the source carries a
    // per-key multiplicity (window count — its shuffle hash-clusters
    // the source on the very keys the join needs, so it costs no
    // extra exchange), and [[winnerOver]] raises from the executor
    // the moment a MATCHED row carries multiplicity > 1. One pass —
    // no separate keys-scan job over the target (which at 100 TB was
    // a second full scan of the target's key columns per MERGE).
    val dupGuard = matchedClauses.nonEmpty

    // source columns enter the flat clause namespace as _src_<name>
    val srcFlat = {
      val base = source.select(source.columns.toIndexedSeq.map(c =>
        col(c).as(GraftTable.SrcPrefix + c)) :+
        lit(true).as(GraftTable.MatchMarker): _*)
      if (!dupGuard) base
      else base.withColumn(GraftTable.SrcCntCol,
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(
            keys.map(k => col(GraftTable.SrcPrefix + k)): _*)))
    }
    val srcKeys = source.select(keys.map(col): _*).distinct()
    val joinCond = keys.map(k =>
      col(k) === col(GraftTable.SrcPrefix + k)).reduce(_ && _)

    val id = currentSnapshotId + 1

    // first matched clause whose condition holds wins; -1 = keep
    // as-is. A matched row whose source-key multiplicity exceeds 1
    // raises the cardinality error right here, from the executor —
    // winner evaluation is the first thing every matched row passes
    // through, so no duplicate can slip into a rewrite or tombstone.
    def winnerOver(matched: Column): Column = {
      val matchedFold =
        matchedClauses.zipWithIndex.foldRight(lit(-1): Column) {
          case ((cl, i), els) =>
            val c = (cl match {
              case MergeClause.Update(cond, _) => cond
              case MergeClause.Delete(cond)    => cond
              case _                           => None
            }).map(expr).getOrElse(lit(true))
            when(coalesce(c, lit(false)), lit(i)).otherwise(els)
        }
      // NOT MATCHED BY SOURCE clauses fire on rows WITHOUT a match,
      // indexed after the matched clauses in the shared winner space
      val bySourceFold =
        bySourceClauses.zipWithIndex.foldRight(lit(-1): Column) {
          case ((cl, j), els) =>
            val c = (cl match {
              case MergeClause.UpdateBySource(cond, _) => cond
              case MergeClause.DeleteBySource(cond)    => cond
              case _                                   => None
            }).map(expr).getOrElse(lit(true))
            when(coalesce(c, lit(false)),
              lit(matchedClauses.size + j)).otherwise(els)
        }
      val base = when(matched, matchedFold).otherwise(bySourceFold)
      if (!dupGuard) base
      else when(matched && col(GraftTable.SrcCntCol) > 1,
        raise_error(concat(
          lit(s"${GraftTable.MergeDupMarker} key(s) [${keys.mkString(",")}] = ("),
          concat_ws(",",
            keys.map(k => col(GraftTable.SrcPrefix + k).cast("string")): _*),
          lit(")"))).cast("int")).otherwise(base)
    }
    val deleteIdx = matchedClauses.zipWithIndex.collect {
      case (_: MergeClause.Delete, i) => i
    } ++ bySourceClauses.zipWithIndex.collect {
      case (_: MergeClause.DeleteBySource, j) => matchedClauses.size + j
    }
    // post-clause image of each row (WinnerCol already attached);
    // winner -1 falls through to the row's own columns
    def postClause(df: DataFrame): DataFrame = postClause2(df, Nil)
    def postClause2(df: DataFrame, extras: Seq[Column]): DataFrame =
      df.select(cols.map { c =>
        (matchedClauses.zipWithIndex.collect {
          case (MergeClause.Update(_, set), i) =>
            val v =
              if (set.isEmpty) col(GraftTable.SrcPrefix + c)
              else set.get(c).map(expr).getOrElse(col(c))
            (i, v)
        } ++ bySourceClauses.zipWithIndex.collect {
          case (MergeClause.UpdateBySource(_, set), j) =>
            (matchedClauses.size + j, set.get(c).map(expr).getOrElse(col(c)))
        }).foldRight(col(c)) { case ((i, v), els) =>
          when(col(GraftTable.WinnerCol) === i, v).otherwise(els)
        }.as(c)
      } ++ extras: _*)

    val inserted: Option[DataFrame] =
      if (insertClauses.isEmpty) None
      else {
        val anti = source.join(
          morRead(snap, snap.files)
            .select(keys.map(col): _*), keys, "left_anti")
        val antiFlat = anti.select(anti.columns.toIndexedSeq.map(c =>
          col(c).as(GraftTable.SrcPrefix + c)): _*)
        val winner = insertClauses.zipWithIndex.foldRight(lit(-1): Column) {
          case ((cl, i), els) =>
            val c = cl.condition.map(expr).getOrElse(lit(true))
            when(coalesce(c, lit(false)), lit(i)).otherwise(els)
        }
        Some(antiFlat.withColumn(GraftTable.WinnerCol, winner)
          .filter(col(GraftTable.WinnerCol) =!= -1)
          .select(cols.map { c =>
            val target = snap.schema(c).dataType
            insertClauses.zipWithIndex.map { case (cl, i) =>
              val v =
                if (cl.values.isEmpty) col(GraftTable.SrcPrefix + c)
                else cl.values.get(c).map { e =>
                  checkedCast(expr(e), resolvedType(antiFlat, expr(e)),
                    target, s"MERGE INSERT $c")
                }.getOrElse(lit(null))
              (i, v)
            }.foldRight(lit(null): Column) { case ((i, v), els) =>
              when(col(GraftTable.WinnerCol) === i, v).otherwise(els)
            }.cast(target).as(c)
          }: _*))
      }

    def committed(matched: Option[DataFrame], ins: Option[DataFrame],
        readSet: Set[String], dropped: Set[String],
        tombs: Seq[String],
        dvs: Map[String, (String, Long)] = Map.empty): Long = {
      // lineage tables align to schema + the two lineage columns
      // (null on the insert side: fresh rows inherit file-range ids)
      val outSchema =
        if (!lineageOn) snap.schema
        else StructType(snap.schema.fields ++ Seq(
          StructField(GraftTable.RowIdColName,
            org.apache.spark.sql.types.LongType),
          StructField(GraftTable.LastSeqColName,
            org.apache.spark.sql.types.LongType)))
      def prep(df: DataFrame): DataFrame =
        if (!lineageOn ||
            df.columns.contains(GraftTable.RowIdColName)) df
        else df
          .withColumn(GraftTable.RowIdColName, lit(null).cast("long"))
          .withColumn(GraftTable.LastSeqColName, lit(null).cast("long"))
      val newData = (matched, ins) match {
        case (Some(u), Some(i)) => Some(aligned(prep(u), outSchema)
          .unionByName(aligned(prep(i), outSchema)))
        case (Some(u), None)    => Some(aligned(prep(u), outSchema))
        case (None, Some(i))    => Some(aligned(prep(i), outSchema))
        case (None, None)       => None
      }
      commitDml("merge", snap, readSet, dropped,
        newData.map(writeData(_, id, snap.partitionCols)).getOrElse(Nil),
        newTombs = tombs, newDvs = dvs)
    }

    if (morMode) {
      // ---- merge-on-read: tombstone matched rows, append images ----
      // What fine-grained MERGE at scale emits (Iceberg v2): matched
      // rows — scanned from the LIVE view with positions, candidate
      // files only — tombstone their old images; their post-clause
      // new images and the unmatched inserts land as appended files.
      // An upsert touching 0.1% of a 100 TB table costs tombstones +
      // images for that 0.1%, where copy-on-write rewrites every FILE
      // containing a match (write amplification ∝ file size, not
      // match count). Read-side cost until compaction: the broadcast
      // tombstone anti-join.
      val cand =
        if (matchedClauses.isEmpty) Seq.empty[String]
        else {
          val affected = affectedFiles(snap, snap.files,
            _.join(srcKeys, keys, "left_semi"))
          snap.files.filter(f => affected(normalize(f)))
        }
      // same first-post-enable fallback as cowSource (see
      // cowLineageServable): scan plain when no ids exist yet
      val morLineage = lineageOn && cowLineageServable(snap, cand)
      val morSrc =
        if (!morLineage) (fs: Seq[String]) => morReadPos(snap, fs)
        else (fs: Seq[String]) => lineageSource(snap, fs, keepMeta = true)
          .withColumn(GraftTable.PosFileCol, col("_g_file"))
          .withColumn(GraftTable.PosIdxCol, col("_g_idx"))
          .drop("_g_file", "_g_idx")
      val touched =
        if (cand.isEmpty) None
        else Some(morSrc(cand).join(srcFlat, joinCond, "inner")
          .withColumn(GraftTable.WinnerCol, winnerOver(lit(true)))
          .filter(col(GraftTable.WinnerCol) =!= -1))
      // matched old images take the table's delete-file shape, like
      // UPDATE: tombstones, or deletion vectors under `vector`
      val vector = vectorStyle
      val tombs =
        if (vector) Nil
        else touched.map(writeTombstones(_, id)).getOrElse(Nil)
      val mergeDvs =
        if (vector) touched.map(writeDvs(_, snap, id))
          .getOrElse(Map.empty[String, (String, Long)])
        else Map.empty[String, (String, Long)]
      val images = touched.map { t =>
        val kept =
          if (deleteIdx.isEmpty) t
          else t.filter(
            !col(GraftTable.WinnerCol).isin(deleteIdx.map(Integer.valueOf): _*))
        if (!morLineage) postClause(kept)
        // every surviving matched row was rewritten by a clause:
        // keep its id, stamp the -1 sentinel
        else postClause2(kept, Seq(col(GraftTable.RowIdColName),
          lit(-1L).as(GraftTable.LastSeqColName)))
      }.filter(_ => matchedClauses.exists {
        case _: MergeClause.Delete => false
        case _                     => true
      })
      return committed(images, inserted, cand.map(normalize).toSet,
        Set.empty, tombs, mergeDvs)
    }

    // ---- copy-on-write: rewrite every file containing a match ------
    // a MERGE with no matched and no by-source clauses touches no
    // existing file. By-source clauses widen discovery to files
    // holding UNMATCHED rows whose condition may fire (an
    // unconditional clause = every file with any unmatched row).
    val bySourceCond: Option[Column] =
      if (bySourceClauses.isEmpty) None
      else Some(bySourceClauses.collect {
        case MergeClause.UpdateBySource(c, _) => c
        case MergeClause.DeleteBySource(c)    => c
      }.map(_.map(expr).getOrElse(lit(true))).reduce(_ || _))
    val (_, rewrite) =
      if (matchedClauses.isEmpty && bySourceClauses.isEmpty)
        (snap.files, Nil)
      else partitionFiles(snap,
        affectedFiles(snap, snap.files, df => bySourceCond match {
          case None => df.join(srcKeys, keys, "left_semi")
          case Some(bc) =>
            val marked = srcKeys.withColumn("_graft_skm", lit(true))
            df.join(marked, keys, "left").filter(
              (col("_graft_skm").isNotNull && lit(matchedClauses.nonEmpty)) ||
                (col("_graft_skm").isNull && bc))
        }))

    val rewritten: Option[DataFrame] =
      if (rewrite.isEmpty) None
      else {
        // with ONLY by-source clauses, matched rows pass through
        // untouched — join against the DISTINCT key set so a
        // duplicate-keyed source cannot duplicate them (no matched
        // clause references source columns, so nothing is lost)
        val right =
          if (matchedClauses.nonEmpty) srcFlat
          else srcKeys.select(keys.map(k =>
            col(k).as(GraftTable.SrcPrefix + k)): _*)
            .withColumn(GraftTable.MatchMarker, lit(true))
        // row lineage: the rewrite source carries each target row's
        // concrete lineage; a row REWRITTEN BY A CLAUSE (winner >= 0)
        // keeps its id and bumps last-updated to this commit (the -1
        // publish sentinel, as in UPDATE); carried rows (winner -1)
        // keep both. Inserted rows enter without lineage and inherit
        // fresh ids from their new file's range. Gated on the same
        // servability predicate as cowSource: the first post-enable
        // commit reads plain (no ids exist yet to preserve) and the
        // rewritten rows take fresh ids from this commit.
        val cowLineage = cowLineageServable(snap, rewrite)
        val joined = (if (cowLineage) lineageSource(snap, rewrite)
          else readFilesMapped(snap, rewrite))
          .join(right, joinCond, "left")
        val marked = joined.withColumn(GraftTable.WinnerCol,
          winnerOver(col(GraftTable.MatchMarker).isNotNull))
        val kept =
          if (deleteIdx.isEmpty) marked
          else marked.filter(
            !col(GraftTable.WinnerCol).isin(deleteIdx.map(Integer.valueOf): _*))
        if (!cowLineage) Some(postClause(kept))
        else Some(postClause2(kept, Seq(
          col(GraftTable.RowIdColName),
          when(col(GraftTable.WinnerCol) >= 0, lit(-1L))
            .otherwise(col(GraftTable.LastSeqColName))
            .as(GraftTable.LastSeqColName))))
      }

    committed(rewritten, inserted, rewrite.map(normalize).toSet,
      rewrite.map(normalize).toSet, Nil)
  }

  /** Small-file compaction: rewrite the whole file set into
    * `numFiles` files; data is unchanged, snapshot history preserved.
    * (A production pass would bin-pack per partition instead of a
    * global repartition.)
    *
    * With `sortBy`, the rewrite range-partitions on the sort columns
    * and sorts within each output file (Iceberg's sort-order rewrite
    * / `rewrite_data_files(strategy => 'sort')`): output files then
    * cover DISJOINT ranges of the sort key, so the manifest's min/max
    * bounds turn from useless (every file spans the whole domain) to
    * surgical — the clustering pass that makes [[readWhere]] data
    * skipping actually skip. At 100 TB this is how a slowly-written,
    * arrival-ordered table becomes range-readable without an index.
    *
    * With `zorderBy`, the rewrite clusters on a Z-VALUE interleaving
    * the bits of every named column (Delta's `OPTIMIZE ZORDER BY`,
    * Iceberg's `sort_order => 'zorder(…)'`): each output file covers
    * a small hyper-rectangle of the combined space, so predicates on
    * ANY of the dimensions skip files — the multi-dimensional
    * clustering a single sort order cannot give. Column ranges for
    * the bit scaling come from the manifest's stats when complete
    * (no extra pass), else one tiny min/max aggregate. */
  def compact(numFiles: Int, sortBy: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil): Long = {
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "choose sortBy or zorderBy, not both")
    val snap = currentSnapshot
    val id = currentSnapshotId + 1
    // compaction also MATERIALIZES pending merge-on-read deletes:
    // the rewrite reads through morRead, so deleted rows drop out of
    // the new files and the delete predicates clear
    // a lineage table's compaction must carry every row's id and
    // last-update into the fresh files. States lineageSource cannot
    // serve — pending renames or initial-default columns — can only
    // PREDATE enablement (the DDL guards refuse creating them
    // afterwards); for those, compact is the cleanup that makes
    // lineage serviceable, so it falls back to the plain live view
    // and the rewritten rows take fresh ids (lineage "starts" once
    // the table is clean — anything else would wedge: the refusals
    // name compact() as the remedy). ALL THREE MoR delete shapes
    // COMPOSE: lineage-preserving compaction materializes equality
    // predicates, tombstones, and DVs while carrying survivor ids.
    val lineageServable = lineageEnabled &&
      snap.renames.isEmpty && defaultedCols(snap).isEmpty &&
      snap.files.forall(snap.firstRowIds.contains)
    val base =
      if (lineageServable) lineageSource(snap, snap.files)
      else morRead(snap, snap.files)
    val arranged =
      if (zorderBy.nonEmpty && snap.files.nonEmpty) {
        val z = zValue(snap, base, zorderBy)
        base.withColumn(GraftTable.ZCol, z)
          .repartitionByRange(numFiles, col(GraftTable.ZCol))
          .sortWithinPartitions(GraftTable.ZCol)
          .drop(GraftTable.ZCol)
      }
      else if (sortBy.isEmpty) base.repartition(numFiles)
      else base
        .repartitionByRange(numFiles, sortBy.map(col): _*)
        .sortWithinPartitions(sortBy.map(col): _*)
    // the rewrite lands every row in fresh files under CURRENT column
    // names, so the rename log clears too (retired names are reusable
    // again — no live file carries their bytes)
    commit("compact", snap.schema,
      writeData(arranged, id, snap.partitionCols, widen = false,
        validate = false),
      snap.partitionCols, expectedParent = snap.id,
      delsOverride = Some(Nil), renamesOverride = Some(Nil),
      specHistOverride = Some(Nil), posDelsOverride = Some(Nil),
      dvsOverride = Some(Map.empty))
  }

  /** Binpack small-file compaction (Iceberg `rewrite_data_files`
    * binpack strategy): rewrite ONLY the data files smaller than
    * `smallBytes` — selected from the MANIFEST's recorded sizes, no
    * storage listing — packing them into ~`smallBytes`-sized outputs,
    * and carry every other file forward by reference. This is the
    * routine-maintenance shape at 100 TB: streaming ingest leaves a
    * trail of KB-scale commits, and full [[compact]] would rewrite
    * terabytes of already-well-sized data to fix them. I/O is
    * proportional to the SMALL files only.
    *
    * Pending merge-on-read deletes are refused (a rewritten row gets
    * a NEW add-sequence, which would detach sequence-scoped equality
    * deletes and orphan position tombstones; run [[compact]] to
    * materialize them first). Renames are fine: new files land under
    * current names with this commit's sequence, so the epoch mapping
    * reads them unaliased — but the rename log must be RETAINED
    * (files not rewritten still carry old physical names). A file
    * with no recorded size (pre-size manifest) is conservatively
    * treated as large. No-ops without a commit when fewer than two
    * files qualify. */
  /** `OPTIMIZE t REWRITE MANIFESTS` (Iceberg's `rewrite_manifests`
    * procedure): a METADATA-ONLY commit — identical file list, but
    * every manifest entry re-sorted by partition key into fresh
    * range-disjoint [[ManifestShard]]s of [[GraftTable.ShardFilesProp]]
    * files each. Run after many small appends: each append's new
    * files land in their OWN shard (append metadata cost must stay
    * O(new files)), so shard partition ranges drift toward full
    * overlap and pruned reads degrade to parsing everything; the
    * rewrite restores one-partition-per-shard locality. Data files
    * are untouched — at 100 TB this moves kilobytes of metadata, not
    * bytes of data. */
  def rewriteManifests(): Long = {
    val snap = currentSnapshot
    commit("rewrite-manifests", snap.schema, snap.files,
      snap.partitionCols, expectedParent = snap.id,
      reshardManifests = true)
  }

  def compactSmall(smallBytes: Long): Long = {
    val snap = currentSnapshot
    require(snap.dels.isEmpty && snap.posDels.isEmpty && snap.dvs.isEmpty,
      "binpack with pending merge-on-read deletes would detach their " +
        "scoping; run compact() to materialize them first")
    val (small, big) = snap.files.partition(f =>
      snap.fileSizes.get(f).exists(_ < smallBytes))
    if (small.size <= 1) return snap.id
    val id = currentSnapshotId + 1
    val totalBytes = small.flatMap(snap.fileSizes.get).sum
    val n = math.max(1, (totalBytes / math.max(1L, smallBytes)).toInt)
    // Partitioned tables pack PER PARTITION: the rewrite rides the
    // normal write path's hash distribution (writeData widen=true
    // clusters on the partition-derivation columns, SURVEY §6), so
    // each partition's small rows land in one task → one output file
    // per partition value. A round-robin repartition(n) here would
    // spray every partition across all n tasks and the partitionBy
    // writer would emit up to n×P files — binpack re-creating the
    // small files it exists to remove. Known tradeoff, same as the
    // write path: a hot partition packs into a single task/file.
    // Unpartitioned tables keep the size-derived n-way split.
    val packed =
      if (snap.partitionCols.isEmpty)
        cowSource(snap, small).repartition(n)
      else cowSource(snap, small)
    commit("binpack", snap.schema,
      big ++ writeData(packed, id, snap.partitionCols,
        widen = snap.partitionCols.nonEmpty, validate = false),
      snap.partitionCols, expectedParent = snap.id)
  }

  /** Partition-scoped compaction (Iceberg's `rewrite_data_files`
    * with a row filter; Delta's `OPTIMIZE t WHERE …`): rewrite ONLY
    * the files the predicate's manifest pruning (column stats ∧
    * partition values) selects, carrying every other file by
    * reference — the routine-maintenance shape at 100 TB, where
    * "compact yesterday's partition" must cost yesterday's bytes,
    * not the table's. Correct for ANY candidate subset by
    * construction (whole files rewrite; no row is ever dropped).
    * Pending merge-on-read deletes refuse like binpack (a rewritten
    * row's new add-sequence would detach their scoping); the rename
    * log is RETAINED (carried files still hold old physical names).
    * No-ops without a commit when fewer than two files match. */
  def compactWhere(predSql: String, numFiles: Int = 1): Long = {
    val snap = currentSnapshot
    require(snap.dels.isEmpty && snap.posDels.isEmpty && snap.dvs.isEmpty,
      "scoped compaction with pending merge-on-read deletes would " +
        "detach their scoping; run compact() to materialize them first")
    // resolve the predicate against the schema NOW (same contract as
    // DELETE): a typo'd column would otherwise prune NOTHING — both
    // pruners conservatively keep unknown columns — and the "scoped"
    // maintenance would silently rewrite the whole table
    readFiles(snap, Nil).filter(expr(predSql))
    val cand = dmlCandidates(snap, predSql)
    if (cand.size <= 1) return snap.id
    val candSet = cand.map(normalize).toSet
    val carried = snap.files.filterNot(f => candSet(normalize(f)))
    val id = currentSnapshotId + 1
    // partitioned tables pack per partition through the write path's
    // hash clustering (same shape and tradeoff as [[compactSmall]])
    val packed =
      if (snap.partitionCols.isEmpty)
        cowSource(snap, cand).repartition(numFiles)
      else cowSource(snap, cand)
    commit("compact-where", snap.schema,
      carried ++ writeData(packed, id, snap.partitionCols,
        widen = snap.partitionCols.nonEmpty, validate = false),
      snap.partitionCols, expectedParent = snap.id)
  }

  /** Zero-copy SHALLOW CLONE (Delta's `CREATE TABLE … SHALLOW CLONE`,
    * Iceberg's snapshot-ref pattern): a NEW table at `newRoot` whose
    * first snapshot references the source's current data files,
    * tombstones, and per-file metadata BY REFERENCE — no byte is
    * copied and no footer is re-read (`refSnap` carries stats, rows,
    * sizes, and add-sequences), so at 100 TB the clone is one
    * manifest write. The clone then evolves independently: its DML
    * writes files under ITS root; and cleanup is ownership-scoped
    * ([[expireSnapshots]] only deletes files under the deleting
    * table's own root), so a clone expiring its history can never
    * reap storage the source still references — or vice versa.
    *
    * The Delta-documented caveat applies in the OTHER direction: the
    * source does not know its clones, so expiring the SOURCE's
    * history can reap files a clone still references (Delta's VACUUM
    * has the same contract). Clones are for short-lived dev/test
    * forks; `compact()` on the clone materializes everything under
    * its own root and severs the dependency. */
  def shallowClone(newRoot: String): GraftTable = {
    val snap = currentSnapshot
    val t2 = new GraftTable(spark, newRoot)
    require(t2.currentSnapshotId == 0,
      s"clone target already holds a table at $newRoot")
    // idFloor: the clone's id space starts above the source's, so
    // every later clone commit sequences ABOVE the carried fileSeq
    // values (MoR delete scoping stays correct on cloned files)
    t2.commit("clone", snap.schema, snap.files, snap.partitionCols,
      expectedParent = 0L, refSnap = Some(snap), idFloor = snap.id)
    t2.setProperties(properties)
    t2
  }

  /** One-time size backfill for manifests written before per-file
    * sizes were recorded: stat every data file missing a size in ONE
    * distributed pass (executors issue the filesystem RPCs in
    * parallel — on a million-file legacy table the driver never
    * serializes a million `getFileStatus` calls) and publish a
    * METADATA-ONLY commit carrying the sizes; every later plan then
    * reads them from the manifest. No-op without a commit when the
    * manifest is already complete. Explicit maintenance only — the
    * SPJ read path stats in memory ([[statFileSizes]]) and never
    * commits on behalf of a reader. */
  def backfillFileSizes(): Long = {
    val snap = currentSnapshot
    val missing = snap.files.filterNot(snap.fileSizes.contains)
    if (missing.isEmpty) return snap.id
    commit("backfill-sizes", snap.schema, snap.files, snap.partitionCols,
      expectedParent = snap.id, sizesExtra = statFileSizes(missing))
  }

  /** The distributed stat pass alone — NO commit: executors issue the
    * filesystem RPCs in parallel and the driver gets back a size map.
    * The SPJ read path plans from this in memory (a pure read must
    * not advance the table or write on a reader's behalf — that is
    * [[backfillFileSizes]], the explicit maintenance command). */
  def statFileSizes(paths: Seq[String]): Map[String, Long] = {
    if (paths.isEmpty) return Map.empty
    val sconf = org.apache.spark.sql.graftlake.HadoopConfShim
      .serializable(spark.sparkContext.hadoopConfiguration)
    spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.size,
        spark.sparkContext.defaultParallelism)))
      .map { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        f -> p.getFileSystem(sconf.value).getFileStatus(p).getLen
      }.collect().toMap
  }

  /** Remove ORPHAN files under this table's `data/` tree — files no
    * reachable manifest references: leftovers of crashed or aborted
    * write attempts whose commit lost the CAS race (the data was
    * written, the manifest publish never happened). Mirrors Iceberg's
    * `remove_orphan_files` contract:
    *
    *  - `olderThanMillis` (default now − 3 days) guards IN-FLIGHT
    *    writers — a file younger than the cutoff is never touched,
    *    even when unreferenced, because its commit may still be
    *    racing toward publish.
    *  - Hidden path segments (`_…`, `.…`) are skipped entirely:
    *    `_SUCCESS` markers and `_temporary/` job-attempt dirs belong
    *    to the write protocol, not the table, and a LIVE job's
    *    attempt dir must survive even an aggressive cutoff.
    *  - The referenced set spans EVERY live snapshot (history and
    *    branches — time travel must keep working) AND every staged
    *    WAP manifest (`staged-*.meta`): an audit-pending append is
    *    reachable, just not published.
    *
    * The set diff runs driver-side: the referenced set is exactly the
    * union of manifests the driver already materializes to plan any
    * read, so cleanup adds no new memory bound. At 100 TB the
    * LISTING is the bottleneck, not the diff — `data/` is listed
    * once, streamed, and each entry probes a hash set; an object
    * store would shard the listing by prefix across executors and
    * anti-join against a manifest DataFrame (the [[statFileSizes]]
    * distribution pattern), same contract.
    *
    * Returns the deleted paths, sorted. Deletion is file-by-file and
    * idempotent — a concurrent cleaner racing on the same orphan just
    * finds it already gone. */
  def removeOrphanFiles(
      olderThanMillis: Long =
        System.currentTimeMillis() - 3L * 24 * 3600 * 1000): Seq[String] = {
    val dataDir = new Path(root, "data")
    if (!fs.exists(dataDir)) return Nil
    val staged =
      if (!fs.exists(metaDir)) Nil
      else fs.listStatus(metaDir).map(_.getPath).toSeq
        .filter(p => p.getName.startsWith("staged-") &&
          p.getName.endsWith(".meta"))
        .map(p => parseManifest(p, 0L))
    val referenced: Set[String] = (snapshots ++ staged)
      .flatMap(s => s.files ++ s.posDels ++ s.dvs.values)
      .map(normalize).toSet
    val dataPrefix = fs.makeQualified(dataDir).toUri.getPath
      .stripSuffix("/") + "/"
    def hiddenBelowData(p: Path): Boolean = {
      val rel = p.toUri.getPath.stripPrefix(dataPrefix)
      rel.split("/").exists(seg =>
        seg.startsWith("_") || seg.startsWith("."))
    }
    val orphans = Seq.newBuilder[Path]
    val it = fs.listFiles(dataDir, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && !hiddenBelowData(st.getPath) &&
          st.getModificationTime < olderThanMillis &&
          !referenced(normalize(st.getPath.toString)))
        orphans += st.getPath
    }
    // report only what the filesystem CONFIRMED deleted — a false
    // return (transient permission, concurrent handle) must not put
    // a still-present file in the "reaped" list, or the caller's
    // re-run-is-a-no-op expectation breaks on the next listing
    orphans.result().filter(p => fs.delete(p, false))
      .map(_.toString).sorted
  }

  /** Iceberg's `partitions` metadata TVF: one row per live partition
    * with file count, record count, and on-disk bytes — computed
    * ENTIRELY from the current snapshot's manifest (fileRows /
    * fileSizes are harvested at commit), so at 100 TB this answers
    * "which partitions are hot, skewed, or fragmented" with zero
    * data-file reads. `partition` renders the file's layout segments
    * (`col=v/col2=v2`; empty for unpartitioned files — e.g. files
    * written before a partition-spec evolution, which Iceberg
    * likewise reports under their own historical spec). Record
    * counts are DATA-file counts: pending MoR tombstones are not
    * netted (Iceberg's TVF reports the same way); compaction
    * materializes them. */
  def partitionsMeta(): DataFrame = {
    val snap = currentSnapshot
    val rows = snap.files
      // adopted files ([[addFiles]]) have no commit-dir ancestor and
      // therefore no layout segments: render the empty partition, the
      // same bucket as pre-spec-evolution unpartitioned files
      .groupBy(partKeyOf)
      .map { case (part, fs) =>
        (part, fs.size.toLong,
          fs.map(f => snap.fileRows.getOrElse(f, 0L)).sum,
          fs.map(f => snap.fileSizes.getOrElse(f, 0L)).sum)
      }.toSeq.sortBy(_._1)
    import spark.implicits._
    rows.toDF("partition", "file_count", "record_count", "total_bytes")
  }

  /** Zero-copy ADOPTION of existing parquet (Iceberg's `add_files`
    * procedure; [[GraftTable.adopt]] is the whole-table `migrate`
    * form): a METADATA-ONLY commit registers `srcDir`'s parquet files
    * in the next snapshot without rewriting a byte — on a 100 TB
    * legacy directory the migration cost is the footer harvest
    * ([[commit]] reads each NEW file's footer on a bounded pool for
    * column bounds + row counts), not a 100 TB copy. Every lake
    * semantic is live immediately: stats-based skipping, time travel,
    * DML (copy-on-write rewrites of adopted files land under THIS
    * table's root; the external originals are never modified), and
    * [[expireSnapshots]]'s ownership scope already refuses to delete
    * files outside the root — adopted storage is referenced, never
    * owned.
    *
    * Refused loudly: hive-layout sources (a `col=value` segment
    * carries partition values this table's reader would not
    * reconstitute — Iceberg's add_files takes an explicit partition
    * filter for those), adoption into a partitioned table (same
    * reason, our side), and schema drift (every table column must be
    * present in the source files with the identical type — parquet's
    * by-name resolution would otherwise null-fill silently). */
  def addFiles(srcDir: String): Long = {
    val snap = currentSnapshot
    require(snap.partitionCols.isEmpty,
      "add_files adopts into unpartitioned tables only: a partition " +
        "spec requires layout segments under this table's commit dirs")
    val srcPath = fs.makeQualified(new Path(srcDir))
    require(fs.exists(srcPath), s"add_files: no such directory: $srcDir")
    val srcPrefix = srcPath.toUri.getPath.stripSuffix("/") + "/"
    val found = Seq.newBuilder[String]
    val it = fs.listFiles(srcPath, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(srcPrefix)
      val segs = rel.split("/")
      val hidden = segs.exists(s => s.startsWith("_") || s.startsWith("."))
      if (st.isFile && !hidden && st.getPath.getName.endsWith(".parquet")) {
        require(segs.forall(!_.contains('=')),
          s"add_files: hive-layout segment in $rel — partition-valued " +
            "directories cannot be adopted (values live in the path, " +
            "not the files)")
        found += st.getPath.toString
      }
    }
    val newFiles = found.result().sorted
    require(newFiles.nonEmpty, s"add_files: no parquet files under $srcDir")
    val already = snap.files.map(normalize).toSet
    require(!newFiles.exists(f => already(normalize(f))),
      "add_files: a source file is already referenced by this table")
    // Two-layer schema-drift refusal. Layer 1: the MERGED union of
    // every footer (not one arbitrary file's inference — a mixed-gen
    // directory would otherwise be judged by whichever footer Spark
    // happened to pick) must carry each table column at the identical
    // type; mergeSchema throws on irreconcilable types and silently
    // WIDENS compatible ones (int→long), and a widened union ≠ table
    // type fails here.
    val srcSchema = spark.read.option("mergeSchema", "true")
      .parquet(newFiles: _*).schema
    val srcTypes = srcSchema.fields
      .map(f => f.name.toLowerCase -> f.dataType).toMap
    snap.schema.fields.foreach { f =>
      val t = srcTypes.get(f.name.toLowerCase)
      require(t.contains(f.dataType),
        s"add_files: table column ${f.name}: ${f.dataType.simpleString} " +
          s"is ${t.map(_.simpleString).getOrElse("absent")} in the " +
          "source files — by-name parquet resolution would null-fill " +
          "or miscast silently")
    }
    // Layer 2: the union proves TYPES, not per-file PRESENCE — an
    // old-gen file missing a column the union has from a newer file
    // would still null-fill. One footer read per file (same bounded
    // pool shape as commit's stats harvest) checks every table
    // column's name appears in every file.
    val tableCols = snap.schema.fieldNames.map(_.toLowerCase).toSet
    footerFieldNames(newFiles).foreach { case (file, fields) =>
      val missing = tableCols -- fields.map(_.toLowerCase)
      require(missing.isEmpty,
        s"add_files: $file lacks column(s) ${missing.toSeq.sorted
          .mkString(", ")} — adopting it would silently null-fill " +
          "those columns for its rows")
    }
    commit("add-files", snap.schema, snap.files ++ newFiles,
      snap.partitionCols, expectedParent = snap.id)
  }

  // ---- table statistics (ANALYZE) ----------------------------------

  private def statsPath(snapId: Long) =
    new Path(metaDir, f"stats-$snapId%05d.meta")

  /** ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS: one distributed
    * pass over the current snapshot computing the row count and, per
    * requested column, distinct count / null count / min / max, then
    * persisted as a snapshot-scoped stats file (Iceberg's Puffin
    * sidecar model — stats name the snapshot they describe and go
    * STALE, never wrong, when the table advances; [[tableStats]]
    * refuses to serve stats for any other snapshot).
    *
    * `exact=true` (the audit form) computes exact NDVs — Catalyst
    * plans the multi-distinct aggregate as an Expand, rows ×
    * #columns, which is the honest cost of exactness. The 100 TB
    * scheduled form is `exact=false`: HLL sketches, single pass, no
    * Expand, ±5%% — the same split q22/q28 document. */
  def analyzeColumns(cols0: Seq[String], exact: Boolean = true)
      : TableStats = {
    val snap = currentSnapshot
    val cols = cols0.map { c =>
      snap.schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"ANALYZE: no such column $c"))
    }
    // EMPTY cols = table-level stats only (Spark's bare `ANALYZE
    // TABLE t COMPUTE STATISTICS`): one count pass, no per-column
    // aggregates, same snapshot-scoped sidecar
    val df = read()
    // Exact multi-column NDVs in ONE agg plan Catalyst's
    // RewriteDistinctAggregates Expand: rows × (#cols+1) replicas
    // grouped on ALL analyzed columns at once — measured 3.8 s for
    // FOR ALL COLUMNS at sf0.1 vs 0.2-0.5 s for narrow column sets
    // (wide string grouping keys dominate). Per-column jobs submitted
    // CONCURRENTLY (guide §2.6 — actions are only sequential because
    // the driver calls them sequentially) avoid the Expand
    // completely: each job is a plain two-phase aggregate whose scan
    // column-prunes to exactly its own column, so total I/O matches
    // the single columnar pass and the jobs overlap. Values are
    // bit-identical — the same aggregate functions, just one column
    // per plan. The approx (100 TB scheduled) form keeps the true
    // single pass: HLL sketches compose in one agg with no Expand.
    val (rowsOut, colStats): (Long, Map[String, ColumnStats]) =
      if (exact && cols.size >= 2) {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(cols.size, 8))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        try {
          val jobs = cols.map { c =>
            c -> scala.concurrent.Future {
              df.agg(count(lit(1)).as("__rows"),
                countDistinct(col(c)).as("__ndv"),
                (count(lit(1)) - count(col(c))).as("__nulls"),
                min(col(c)).cast("string").as("__min"),
                max(col(c)).cast("string").as("__max")).head()
            }
          }
          val rows = jobs.map { case (c, f) =>
            c -> scala.concurrent.Await.result(f,
              scala.concurrent.duration.Duration.Inf)
          }
          (rows.head._2.getAs[Long]("__rows"),
            rows.map { case (c, r) => c -> ColumnStats(
              ndv = r.getAs[Long]("__ndv"),
              nulls = r.getAs[Long]("__nulls"),
              min = Option(r.getAs[String]("__min")),
              max = Option(r.getAs[String]("__max")))
            }.toMap)
        } finally pool.shutdown()
      } else {
        val aggs = cols.flatMap { c =>
          Seq(
            (if (exact) countDistinct(col(c))
             else approx_count_distinct(col(c))).as(s"__ndv_$c"),
            (count(lit(1)) - count(col(c))).as(s"__nulls_$c"),
            min(col(c)).cast("string").as(s"__min_$c"),
            max(col(c)).cast("string").as(s"__max_$c"))
        }
        val row = df.agg(count(lit(1)).as("__rows"), aggs: _*).head()
        (row.getAs[Long]("__rows"),
          cols.map { c =>
            c -> ColumnStats(
              ndv = row.getAs[Long](s"__ndv_$c"),
              nulls = row.getAs[Long](s"__nulls_$c"),
              min = Option(row.getAs[String](s"__min_$c")),
              max = Option(row.getAs[String](s"__max_$c")))
          }.toMap)
      }
    val stats = TableStats(snap.id, rowsOut, exact, colStats)
    val b64 = java.util.Base64.getEncoder
    def enc(v: Option[String]) = v.map(s =>
      b64.encodeToString(s.getBytes(StandardCharsets.UTF_8)))
      .getOrElse("-")
    val body = new StringBuilder
    body ++= s"snap=${stats.snapshotId}\n"
    body ++= s"rows=${stats.rows}\n"
    body ++= s"exact=${stats.exact}\n"
    cols.foreach { c =>
      require(!c.contains('\t') && !c.contains('\n'),
        s"ANALYZE: unserializable column name: $c")
      val cs = colStats(c)
      body ++= s"col=$c\t${cs.ndv}\t${cs.nulls}\t${enc(cs.min)}\t${enc(cs.max)}\n"
    }
    val out = fs.create(statsPath(snap.id), true)
    try out.write(body.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    stats
  }

  /** Stats for the CURRENT snapshot, or None when never analyzed or
    * stale (analyzed at an earlier snapshot — serving those would
    * report pre-DML truths as current). */
  def tableStats: Option[TableStats] = {
    val p = statsPath(currentSnapshotId)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text =
      try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    val kv = text.linesIterator.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('=')
      (line.substring(0, i), line.substring(i + 1))
    }.toSeq
    val b64 = java.util.Base64.getDecoder
    def dec(s: String): Option[String] =
      if (s == "-") None
      else Some(new String(b64.decode(s), StandardCharsets.UTF_8))
    Some(TableStats(
      snapshotId = kv.collectFirst { case ("snap", v) => v.toLong }.get,
      rows = kv.collectFirst { case ("rows", v) => v.toLong }.get,
      exact = kv.collectFirst { case ("exact", v) => v.toBoolean }
        .getOrElse(true),
      cols = kv.collect { case ("col", v) =>
        val p5 = v.split("\t", 4)
        val mm = p5(3).split("\t", 2)
        p5(0) -> ColumnStats(p5(1).toLong, p5(2).toLong,
          dec(mm(0)), dec(if (mm.length > 1) mm(1) else "-"))
      }.toMap))
  }

  /** Stats-driven join side: [[read]] wrapped in a broadcast hint
    * when ANALYZEd row-count truth says the table fits — the case
    * Catalyst's size estimation cannot see (post-MoR anti-join
    * output, wide rows behind a selective filter, adopted files with
    * no catalog stats). Missing or stale stats fall back to a plain
    * read and Spark's own estimation — stats can upgrade a plan,
    * never force one from stale truth. */
  def readForJoin(maxBroadcastRows: Long = 500 * 1000): DataFrame = {
    val df = read()
    tableStats match {
      case Some(st) if st.rows <= maxBroadcastRows => broadcast(df)
      case _ => df
    }
  }

  /** Tombstone maintenance (Iceberg's `rewrite_position_delete_files`):
    * merges the accumulated per-DML tombstone files into a compacted,
    * `(_file, _pos)`-clustered set and drops tombstones whose data
    * file is no longer live — METADATA-scale work (only tombstones are
    * read and written; no data file is touched), which is the whole
    * point: a MoR-heavy table grows one tombstone directory per DML
    * statement, and reader-side anti-join cost is per tombstone FILE
    * opened, not per tombstone. Clustering by `_file` also compresses
    * the path dictionary hard. No-ops (returns the current id without
    * a commit) when there is nothing to rewrite. */
  def rewritePositionDeletes(targetBytes: Long = 8L * 1024 * 1024): Long = {
    val snap = currentSnapshot
    if (snap.posDels.isEmpty) return snap.id
    val live = snap.files.toSet
    val sizes = sizesOf(snap.posDels, snap.posDelSizes)
    val tombBytes = sizes.values.sum
    val parts = math.max(1, (tombBytes / math.max(1L, targetBytes)).toInt)
    // (file, pos) rows are unique by construction (DML scans the live
    // view, so a position is never re-tombstoned) — no distinct pass.
    // The dangling filter is a broadcast semi-join against the live
    // path set: file COUNT is manifest-scale even at 100 TB. The live
    // side must be rendered in `_metadata.file_path` form
    // ([[metaPath]] — tombstone `_file` values are recorded from it):
    // raw manifest paths would mismatch any encodable character and
    // this rewrite would drop LIVE tombstones as dangling,
    // resurrecting their deleted rows.
    val liveDf = broadcast(
      spark.createDataset(live.toSeq.map(metaPath).sorted)(
        org.apache.spark.sql.Encoders.STRING).toDF("_live_file"))
    val kept = manifestScan(GraftTable.TombSchema, snap.posDels, sizes)
      .select(col("_file"), col("_pos"))
      .join(liveDf, col("_file") === col("_live_file"), "left_semi")
      .repartition(parts, col("_file"))
      .sortWithinPartitions(col("_file"), col("_pos"))
    val id = snap.id + 1
    val dir = new Path(root, f"data/commit-$id%05d-pdel-" +
      java.util.UUID.randomUUID.toString.take(8))
    kept.write.parquet(dir.toString)
    val merged = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .map(_.toString).toSeq.sorted
    commit("rewrite-pdel", snap.schema, snap.files, snap.partitionCols,
      expectedParent = snap.id, posDelsOverride = Some(merged))
  }

  /** The Morton z-value of `cols` as a Column: each column scales to
    * 15 bits against its table-wide [min, max] (from the manifest's
    * merged per-file stats when every file carries them — no data
    * pass — else one min/max aggregate), then the bits interleave.
    * NULLs sort first (scaled 0). Numeric, date and timestamp
    * columns are supported. */
  private def zValue(snap: Snapshot, base: DataFrame,
      cols: Seq[String]): Column = {
    import org.apache.spark.sql.types._
    // 15 bits × k columns must fit a POSITIVE long, sign bit excluded
    // (shiftleft wraps mod 64 — silently scrambled clustering, not an
    // error; see the interleave comment below)
    require(cols.size >= 2 && cols.size <= 4,
      s"zorder takes 2-4 columns, got ${cols.size}")
    cols.foreach { c =>
      val dt = snap.schema(c).dataType
      require(dt.isInstanceOf[NumericType] || dt == DateType ||
        dt == TimestampType || dt == TimestampNTZType,
        s"zorder column '$c' must be numeric or temporal, is " +
          dt.simpleString)
    }
    // a column normalized to the numeric form the manifest stats use
    // (days for dates, micros for timestamps, plain value otherwise)
    def norm(c: String): Column = snap.schema(c).dataType match {
      case TimestampType => unix_micros(col(c)).cast("double")
      // NTZ micros == the parquet footer numbers under the UTC
      // session this engine pins (unix_micros takes TIMESTAMP only)
      case TimestampNTZType =>
        unix_micros(col(c).cast(TimestampType)).cast("double")
      case DateType => col(c).cast("int").cast("double")
      case _ => col(c).cast("double")
    }
    // table-wide bounds: manifest stats if complete, else one agg
    // over the SAME normalized form
    val fromStats: Option[Seq[(Double, Double)]] = {
      val per = cols.map { c =>
        val bounds = snap.files.map(f =>
          snap.stats.getOrElse(f, Map.empty).get(c.toLowerCase)
            .orElse(snap.stats.getOrElse(f, Map.empty).get(c)))
        if (bounds.exists(b => b.isEmpty || b.get.mn.isEmpty)) None
        else Some((bounds.flatMap(_.get.mn).map(BigDecimal(_)).min,
          bounds.flatMap(_.get.mx).map(BigDecimal(_)).max))
      }
      if (per.forall(_.isDefined))
        Some(per.map(b => (b.get._1.toDouble, b.get._2.toDouble)))
      else None
    }
    val bounds: Seq[(Double, Double)] = fromStats.getOrElse {
      val row = base.select(cols.flatMap(c =>
        Seq(min(norm(c)), max(norm(c)))): _*).head()
      cols.indices.map(i =>
        (if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i),
          if (row.isNullAt(2 * i + 1)) 1.0 else row.getDouble(2 * i + 1)))
    }
    val scaled: Seq[Column] = cols.zip(bounds).map { case (c, (mn, mx)) =>
      val span = if (mx > mn) mx - mn else 1.0
      (coalesce(
        least(greatest((norm(c) - lit(mn)) / lit(span), lit(0.0)), lit(1.0)),
        lit(0.0)) * lit(32767.0)).cast("long")
    }
    val k = scaled.size
    // 15 bits per column: the top interleaved position is
    // 14*4 + 3 = 59 even at k=4, comfortably below the long's sign
    // bit. 16 bits would put column 4's MSB at position 63 — rows in
    // the upper half of its domain got NEGATIVE z-values, wrapping
    // one range partition across the signed boundary (clustering
    // quality, not correctness).
    (0 until 15).flatMap { i =>
      scaled.zipWithIndex.map { case (s, j) =>
        shiftleft(shiftright(s, i).bitwiseAND(lit(1L)), i * k + j)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** Dynamic partition overwrite (Iceberg's `REPLACE WHERE` /
    * Spark's `partitionOverwriteMode=dynamic`): replace exactly the
    * partitions present in `df`, carry every other partition's files
    * forward by reference. The replaced-partition set is discovered
    * from `df` itself with one distinct on the (tiny) partition
    * columns. Partition values must be hive-path-representable
    * (string/integral — true of any sane partition scheme).
    *
    * `staticSpec` (SQL `INSERT OVERWRITE … PARTITION (p='v')` under
    * `partitionOverwriteMode=static`, Hive's contract): the replaced
    * set is every file matching the spec'd fields' literal segments —
    * a PREFIX drop, so a PARTIAL spec (`PARTITION (a='1', b)`) drops
    * ALL of `a=1` before writing, and an empty source TRUNCATES the
    * named prefix (row-derived discovery would silently no-op and
    * keep sibling cells). Transforms apply to the literals the same
    * way they apply to rows, so `PARTITION (ts='2024-01-01
    * 03:00:00')` under `hours(ts)` names the one hour cell. */
  def overwritePartitions(df: DataFrame,
      staticSpec: Map[String, String] = Map.empty): Long = {
    val snap = currentSnapshot
    require(snap.partitionCols.nonEmpty, "table is not partitioned")
    // replaced-partition matching is by current-spec directory
    // segments; a file written under an OLDER spec spans many current
    // partitions and would wrongly survive whole — rewrite first
    require(snap.specHist.isEmpty || snap.files.forall(f =>
        snap.specAt(snap.fileSeq.getOrElse(f, snap.id)) ==
          snap.partitionCols),
      "dynamic partition overwrite needs every file under the current " +
        "partition spec; compact() after a spec evolution first")
    val parts = snap.partitionCols
    // the replaced-partition set is the distinct DERIVED values of
    // df's rows — for identity specs the columns themselves, for
    // transform specs the transform output (hidden partitioning:
    // the caller never computes partition values)
    val spec = PartField.parseAll(parts)
    val dirNames =
      if (PartField.allIdentity(parts)) parts
      else spec.indices.map(PartField.dirCol)
    val replaced: Set[Seq[String]] =
      if (staticSpec.nonEmpty) {
        // the spec'd fields' segments only — one literal row; the
        // transforms evaluate on the spec's values exactly as they
        // would on data rows, so an empty source still names (and
        // truncates) the right prefix; un-spec'd fields are left out
        // of the match, which is exactly the Hive prefix-drop
        val specd = spec.zipWithIndex
          .filter { case (f, _) => staticSpec.contains(f.col) }
        // an empty match would make the prefix vacuous and replace
        // EVERY file — callers must pass partition-source keys only
        require(specd.nonEmpty,
          s"static spec keys (${staticSpec.keys.mkString(", ")}) name " +
            s"no partition source of (${parts.mkString(", ")})")
        val one = spark.range(1).select(specd.map { case (f, _) =>
          lit(staticSpec(f.col))
            .cast(snap.schema(f.col).dataType).as(f.col) }: _*)
        val r = one.select(specd.map { case (f, _) =>
          f.toColumn(one.schema(f.col).dataType).cast("string") }: _*)
          .head()
        Set(specd.indices.map(j =>
          hiveSegment(dirNames(specd(j)._2), r.get(j))))
      } else df
        .select(spec.map(f =>
          f.toColumn(df.schema(f.col).dataType).cast("string")): _*)
        .distinct().collect()
        .map(r => dirNames.indices.map(i =>
          hiveSegment(dirNames(i), r.get(i))))
        .toSet
    val keep = snap.files.filterNot { f =>
      val segs = layoutSegs(f).toSet
      replaced.exists(_.forall(segs.contains))
    }
    val id = currentSnapshotId + 1
    commit("overwrite_partitions", snap.schema,
      keep ++ writeData(aligned(df, snap.schema), id, parts),
      parts, expectedParent = snap.id)
  }

  /** Roll the table back to snapshot `id`: a NEW commit whose file
    * list and schema are those of the old snapshot (Iceberg's
    * rollback — history is preserved, nothing is deleted, and the
    * bad commits remain inspectable via time travel). */
  def rollback(id: Long): Long = {
    val cur = currentSnapshotId
    val snap = snapshot(id)
    // restore the old snapshot's delete set and file sequences along
    // with its file list — rolling back past a delete-mor must
    // un-delete, and past an append must re-scope
    commit("rollback", snap.schema, snap.files, snap.partitionCols,
      expectedParent = cur, delsOverride = Some(snap.dels),
      refSnap = Some(snap), posDelsOverride = Some(snap.posDels))
  }

  /** Cherry-pick snapshot `id`'s APPEND onto the current head
    * (Iceberg's `cherrypick_snapshot` procedure) — the recovery tool
    * after a [[rollback]] that had to drop good commits along with a
    * bad one: re-applies exactly the files the snapshot added, by
    * reference, as a new commit. Metadata-only (the data files are
    * already on storage; column stats carry from the picked
    * snapshot's manifest). Only append/create snapshots are
    * pickable — a rewrite or delete changes EXISTING rows, and
    * replaying its file list against a different head would silently
    * corrupt (Iceberg refuses the same way); schema or partition
    * drift between the pick and the head refuses loudly, as does a
    * pick whose files are already live (double application). */
  def cherryPick(id: Long): Long = {
    val snap = snapshot(id)
    require(snap.op == "append" || snap.op == "create",
      s"cherry-pick supports append snapshots, not '${snap.op}' " +
        "(a rewrite/delete changes existing rows; replay the " +
        "operation against the current head instead)")
    // guard the parent read like the safety walk below: an expired
    // parent means the pick's added-file set cannot be derived —
    // refuse loudly instead of surfacing a raw missing-file IO error
    val parentFiles =
      if (snap.parent > 0) {
        if (header(snap.parent).isEmpty)
          throw new IllegalArgumentException(
            s"cannot cherry-pick $id: its parent snapshot " +
              s"${snap.parent} has been expired, so the set of files " +
              "the pick added cannot be derived")
        snapshot(snap.parent).files.toSet
      } else Set.empty[String]
    val added = snap.files.filterNot(parentFiles)
    val cur = currentSnapshot
    require(snap.schema == cur.schema,
      "cherry-pick across a schema change: align schemas first")
    require(snap.partitionCols == cur.partitionCols,
      "cherry-pick across a partition-spec change is undefined")
    val dup = added.filter(cur.files.toSet)
    require(dup.isEmpty,
      s"snapshot $id is already applied (e.g. ${dup.headOption.getOrElse("")})")
    // The dup check sees only file IDENTITY — a commit between the
    // pick and the head that REWRITES rows (compaction, copy-on-write
    // DML, overwrite) can have moved the picked rows into files the
    // check cannot see, so re-adding the old list would duplicate or
    // resurrect them; merge-on-read deletes can hold stale tombstones
    // naming the picked files. Only lineages composed of commits
    // that never relocate or delete existing rows are provably safe;
    // anything else (or an expired intermediate) refuses loudly.
    val safeOps = Set("create", "append", "rollback", "cherry-pick",
      "rewrite-manifests", "backfill-sizes", "add-files")
    var cur0 = cur.id
    while (cur0 > id && cur0 > 0) {
      val hd = header(cur0).getOrElse(
        throw new IllegalArgumentException(
          s"cannot cherry-pick $id: snapshot $cur0 between it and " +
            "the head has been expired, safety cannot be proven"))
      require(safeOps(hd.op),
        s"cannot cherry-pick $id across snapshot $cur0 " +
          s"('${hd.op}'): a commit that rewrites or deletes rows may " +
          "have relocated the picked rows, and re-adding their old " +
          "files would duplicate or resurrect them")
      cur0 = hd.parent
    }
    // stats/rows/sizes for the picked files live in the PICKED
    // snapshot's manifest — pass it as sizesExtra-equivalent via
    // refSnap? No: refSnap would also replace the delete/rename
    // carries. The commit's footer harvest covers files missing from
    // the parent's stats on the bounded pool — O(picked files), the
    // same cost an append of those files paid.
    commit("cherry-pick", cur.schema, cur.files ++ added,
      cur.partitionCols, expectedParent = cur.id)
  }

  // ---- write-audit-publish (staged commits) ------------------------

  private def stagedPath(token: String) = new Path(metaDir, s"staged-$token.meta")

  /** Stage an append WITHOUT publishing (Iceberg's write-audit-publish,
    * the `spark.wap.id` staged-commit workflow): data files are
    * written and recorded in a staged manifest, but the current
    * snapshot is untouched — no reader sees staged rows. Returns the
    * token the audit step passes to [[readStaged]] and then
    * [[publish]] or [[abandon]]. Staged manifests are named
    * `staged-<token>`, so snapshot listing and expiry never see them. */
  def stageAppend(df: DataFrame): String = {
    val snap = currentSnapshot
    val token = java.util.UUID.randomUUID.toString.take(12)
    val files = writeData(aligned(df, snap.schema),
      currentSnapshotId + 1, snap.partitionCols)
    val body = new StringBuilder
    body ++= s"parent=${snap.id}\n"
    body ++= s"op=staged\n"
    body ++= s"schema=${snap.schema.json}\n"
    body ++= s"partcols=${snap.partitionCols.mkString(",")}\n"
    files.foreach(f => body ++= s"file=$f\n")
    val out = fs.create(stagedPath(token), false) // token is unique
    try out.write(body.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    token
  }

  private def stagedSnapshot(token: String): Snapshot =
    parseManifest(stagedPath(token), 0L)

  /** The table as it WOULD read after publishing `token` — the audit
    * step's input: current snapshot plus the staged files. */
  def readStaged(token: String): DataFrame = {
    val st = stagedSnapshot(token)
    val cur = currentSnapshot
    // current files go through the merge-on-read filter; staged files
    // are newer than any pending delete, so they read raw
    morRead(cur, cur.files)
      .unionByName(readFiles(cur.copy(fileSizes = st.fileSizes), st.files))
  }

  /** Publish a staged append onto the CURRENT snapshot (Iceberg's
    * cherry-pick): append-shaped, so commits that landed since the
    * stage are fine — the publish rebases like any append. Aborts if
    * the schema or partition spec changed since staging. */
  def publish(token: String): Long = {
    require(fs.exists(stagedPath(token)),
      s"no staged commit '$token' on this table (already published, " +
        "abandoned, or never staged here)")
    val st = stagedSnapshot(token)
    val cur = currentSnapshot
    if (cur.schema != st.schema || cur.partitionCols != st.partitionCols)
      throw new CommitConflictException(
        "cannot publish staged commit: schema or partition spec " +
          "changed since staging")
    val id = appendCommit(st.files, cur.schema, cur.partitionCols, cur.id)
    fs.delete(stagedPath(token), false)
    id
  }

  /** Drop a staged commit that failed its audit: staged data files
    * and manifest are physically removed; the table never saw them. */
  def abandon(token: String): Unit = {
    val st = stagedSnapshot(token)
    st.files.foreach(f => fs.delete(new Path(f), false))
    fs.delete(stagedPath(token), false)
  }

  /** Expire all snapshots but the newest `keepLast`, physically
    * deleting data files no surviving snapshot references (Iceberg's
    * `expireSnapshots` — the operation that keeps time travel from
    * meaning infinite storage). */
  def expireSnapshots(keepLast: Int): Unit = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val all = snapshots // only manifests that still exist
    reapExpired(all, all.splitAt(math.max(0, all.size - keepLast))._1)
  }

  /** Age-based retention (Iceberg's `expire_snapshots(older_than =>
    * ts)`; SQL surface `VACUUM t OLDER THAN INTERVAL n HOURS|DAYS`):
    * expire every snapshot whose commit timestamp is strictly before
    * `cutoffMs` — EXCEPT the current head (retain-last ≥ 1, Iceberg's
    * floor) and ref-pinned snapshots (branches/tags protect theirs,
    * same as count-based expiry). Pre-timestamp manifests (ts = 0)
    * read as infinitely old and expire under any positive cutoff —
    * the honest reading of "older than". Production retention policy
    * is expressed in wall-clock age, not snapshot counts; commit
    * timestamps already ride in every manifest (the
    * `lake_time_travel_ts` plumbing), so this costs nothing new. */
  def expireSnapshotsOlderThan(cutoffMs: Long): Unit = {
    val all = snapshots
    if (all.sizeIs <= 1) return
    reapExpired(all, all.init.filter(_.ts < cutoffMs))
  }

  /** The COMPOSED retention form (Iceberg's `expire_snapshots(
    * older_than => ts, retain_last => n)`): expire only snapshots
    * that are BOTH older than the cutoff AND not among the `keepLast`
    * newest — i.e. keep max(n newest, everything at-or-after ts).
    * Production retention policies routinely state both ("30 days,
    * but never fewer than 10 snapshots"); each clause alone is the
    * two methods above. Ref-pinned snapshots survive regardless,
    * like both single forms. */
  def expireSnapshots(keepLast: Int, cutoffMs: Long): Unit = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val all = snapshots
    reapExpired(all, all.dropRight(keepLast).filter(_.ts < cutoffMs))
  }

  private def reapExpired(all: Seq[Snapshot], old: Seq[Snapshot]): Unit = {
    // snapshots a branch or tag points at are retained regardless of
    // age (Iceberg's rule: refs protect their snapshots from expiry)
    val pinned = refs.values.map(_._2).toSet
    val oldIds = old.map(_.id).toSet
    val kept0 = all.filterNot(s => oldIds(s.id))
    val (protected0, expired) = old.partition(s => pinned(s.id))
    if (expired.isEmpty) return
    // tombstone files are snapshot-referenced storage exactly like
    // data files (each rewritePositionDeletes supersedes the whole
    // previous set, so expired pre-rewrite tombstones would otherwise
    // accumulate forever)
    val live = (kept0 ++ protected0)
      .flatMap(s => s.files ++ s.posDels ++ s.dvs.values).toSet
    // OWNERSHIP scope: only ever delete files under THIS table's
    // root. A shallow clone's early snapshots reference the SOURCE's
    // data files by path — expiring the clone's history must not
    // reap storage another table still owns (and the source expiring
    // its history must not reap files the clone rewrote under its
    // own root — each side deletes only what it physically houses).
    // both sides FS-qualified AND component-normalized: manifests
    // record scheme-qualified paths (file:/…) while the root may be
    // schemeless, and URI RENDERING differs by authority presence
    // (file:/p vs file:///p for the same location) — compare
    // scheme+authority+path components, never raw strings, or expiry
    // would reclaim nothing (or, inverted, ownership would misfire)
    def qualified(p: String): String = {
      val u = fs.makeQualified(new Path(p)).toUri
      Option(u.getScheme).getOrElse("") + "://" +
        Option(u.getAuthority).getOrElse("") + u.getPath
    }
    val ownPrefix = qualified(root.toString).stripSuffix("/") + "/"
    val cache = GraftTable.headerCache(root.toString)
    // manifest shards are snapshot-referenced storage exactly like
    // data files: a shard survives while any surviving snapshot
    // still lists it
    val liveShards = (kept0 ++ protected0)
      .flatMap(_.shards.map(_.path)).toSet
    expired.foreach { snap =>
      (snap.files ++ snap.posDels ++ snap.dvs.values).filterNot(live)
        .filter(f => qualified(f).startsWith(ownPrefix))
        .foreach(f => fs.delete(new Path(f), false))
      snap.shards.map(_.path).filterNot(liveShards)
        .filter(p => qualified(p).startsWith(ownPrefix))
        .foreach(p => fs.delete(new Path(p), false))
      fs.delete(snapPath(snap.id), false)
      // ANALYZE sidecars are snapshot-scoped ([[statsPath]]) and go
      // stale-never-wrong when the table advances — but an expired
      // snapshot's sidecar is dead weight; reap it with the manifest
      fs.delete(statsPath(snap.id), false)
      cache.remove(snap.id)
      GraftTable.nextRowIdCache(root.toString).remove(snap.id)
    }
  }

  // ---- column-stats data skipping ---------------------------------

  /** Harvest the record count and per-column min/max/null-count for
    * one data file from its parquet footer (merged across row
    * groups). Driver-side, one footer read per NEW file per commit —
    * the same cost point where Iceberg builds its manifests.
    * Unsupported column types (and strings longer than 64 chars,
    * which would bloat the manifest and whose truncation is not a
    * valid bound) simply record no bound — pruning stays
    * conservative. Any footer trouble degrades to "no stats", never
    * a failed commit. */
  /** Top-level field names from each file's parquet footer, on the
    * same bounded pool as [[commit]]'s stats harvest. Unlike the
    * stats harvest, a failed footer read here THROWS — this feeds
    * [[addFiles]]'s per-file schema check, where "couldn't validate"
    * must refuse the adoption, not degrade. */
  private def footerFieldNames(files: Seq[String])
      : Seq[(String, Seq[String])] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    def one(file: String): (String, Seq[String]) = {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(file), spark.sparkContext.hadoopConfiguration))
      try {
        import scala.jdk.CollectionConverters._
        file -> reader.getFooter.getFileMetaData.getSchema
          .getFields.asScala.map(_.getName).toSeq
      } finally reader.close()
    }
    if (files.sizeIs <= 1) files.map(one)
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(8, files.size))
      try {
        import scala.jdk.CollectionConverters._
        pool.invokeAll(files.map { f =>
          (() => one(f)): java.util.concurrent
            .Callable[(String, Seq[String])]
        }.asJava).asScala.map(_.get).toSeq
      } finally pool.shutdown()
    }
  }

  private def harvestFooter(file: String, schema: StructType)
      : (Option[Long], Map[String, ColStat], Option[Long]) =
    try {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.parquet.io.api.Binary
      import org.apache.spark.sql.types._
      val byName = schema.fields.map(f => f.name -> f.dataType).toMap
      val inFile = HadoopInputFile.fromPath(
        new Path(file), spark.sparkContext.hadoopConfiguration)
      // the input file already stat'ed for its length (the footer
      // read needs it) — capture it for the manifest at zero cost
      val fileLen = inFile.getLength
      val reader = ParquetFileReader.open(inFile)
      try {
        val acc = scala.collection.mutable.Map.empty[String,
          (String, Option[(String, String)], Long)] // kind, (mn,mx), nulls
        var rowCount = 0L
        reader.getFooter.getBlocks.forEach { block =>
          rowCount += block.getRowCount
          block.getColumns.forEach { cc =>
            val name = cc.getPath.toDotString
            byName.get(name).foreach { dt =>
              val st = cc.getStatistics
              if (st != null) {
                // parquet reports "null count not recorded" as unset;
                // -1 marks it unknown (≠ "provably zero nulls")
                val nulls = if (st.isNumNullsSet) st.getNumNulls else -1L
                val bound: Option[(String, String, String)] = // kind, mn, mx
                  if (!st.hasNonNullValue) None
                  else (dt, st.genericGetMin, st.genericGetMax) match {
                    case (ByteType | ShortType | IntegerType | LongType |
                          DateType | TimestampType | TimestampNTZType,
                          mn: Number, mx: Number) =>
                      Some(("n", mn.toString, mx.toString))
                    case (FloatType | DoubleType, mn: Number, mx: Number) =>
                      Some(("n", BigDecimal(mn.doubleValue).toString,
                        BigDecimal(mx.doubleValue).toString))
                    case (StringType, mn: Binary, mx: Binary) =>
                      val (a, b) =
                        (mn.toStringUsingUTF8, mx.toStringUsingUTF8)
                      if (a.length <= 64 && b.length <= 64) Some(("s", a, b))
                      else None
                    case _ => None
                  }
                acc.get(name) match {
                  case None =>
                    acc(name) = bound match {
                      case Some((k, mn, mx)) => (k, Some((mn, mx)), nulls)
                      case None => (kindOf(dt), None, nulls)
                    }
                  case Some((k, prev, pn)) =>
                    val merged = (prev, bound) match {
                      case (Some((pmn, pmx)), Some((_, mn, mx))) =>
                        Some((minOf(k, pmn, mn), maxOf(k, pmx, mx)))
                      case _ => None // any block without bounds → no bounds
                    }
                    // any block with an unknown null count poisons
                    // the file's total to unknown
                    val mergedNulls =
                      if (pn < 0 || nulls < 0) -1L else pn + nulls
                    acc(name) = (k, merged, mergedNulls)
                }
              }
            }
          }
        }
        (Some(rowCount), acc.map { case (c, (k, b, n)) =>
          c -> ColStat(k, b.map(_._1), b.map(_._2), n)
        }.toMap, Some(fileLen))
      } finally reader.close()
    } catch {
      case scala.util.control.NonFatal(_) => (None, Map.empty, None)
    }

  private def kindOf(dt: DataType): String = dt match {
    case _: org.apache.spark.sql.types.StringType => "s"
    case _ => "n"
  }

  private def cmp(kind: String, a: String, b: String): Int =
    if (kind == "s") a.compareTo(b) else BigDecimal(a).compare(BigDecimal(b))

  private def minOf(k: String, a: String, b: String) =
    if (cmp(k, a, b) <= 0) a else b
  private def maxOf(k: String, a: String, b: String) =
    if (cmp(k, a, b) >= 0) a else b

  /** The files of the current snapshot that could contain a row
    * matching `filterSql`, decided on the manifest's column stats
    * alone — no file opens, O(#files × #predicates) driver-side. The
    * filter is evaluated as a may-match tree: AND/OR combine
    * recursively (a file survives an OR if EITHER arm may match),
    * leaves are the prunable shapes — `col <op> literal`, `col IN
    * (literals)`, `col IS [NOT] NULL` — and every other shape keeps
    * the file (conservative). A file is skipped only when the tree
    * proves no row can match: comparisons and IN are null-rejecting,
    * so files whose non-null range misses every literal cannot
    * contribute rows; IS NULL skips files whose null count is zero;
    * IS NOT NULL skips files that are provably all-null (null count
    * == record count). */
  private[graft] def pruneByStats(snap: Snapshot,
      filterSql: String): Seq[String] =
    pruneByStats(snap,
      spark.sessionState.sqlParser.parseExpression(filterSql))

  /** [[pruneByStats]] over an already-built Catalyst predicate —
    * callers holding a typed expression (e.g. [[pruneByKeys]]) skip
    * the SQL render/re-parse round-trip. */
  private[graft] def pruneByStats(snap: Snapshot,
      filter: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd,
      BinaryComparison, EqualTo => CEq, GreaterThan => CGt,
      GreaterThanOrEqual => CGe, In => CIn, IsNotNull => CIsNotNull,
      IsNull => CIsNull, LessThan => CLt, LessThanOrEqual => CLe,
      Literal => CLit, Or => COr}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.types._

    def litRepr(l: CLit): Option[(String, String)] = // (kind, canonical)
      if (l.value == null) None
      else l.dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType |
             TimestampType | TimestampNTZType =>
          Some(("n", l.value.toString))
        case FloatType | DoubleType =>
          Some(("n", BigDecimal(l.value.toString).toString))
        case dt: DecimalType =>
          Some(("n", l.value.asInstanceOf[
            org.apache.spark.sql.types.Decimal].toBigDecimal.toString))
        case StringType => Some(("s", l.value.toString))
        case _ => None
      }

    // (column, op, kind, literals): op ∈ {=, <, <=, >, >=} carries
    // one literal, "in" carries the value list, "isnull"/"isnotnull"
    // carry none; None = leaf shape the pruner cannot reason about
    def leaf(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Option[(String, String, String, Seq[String])] = e match {
      case CIsNull(a: UnresolvedAttribute) =>
        Some((a.nameParts.last.toLowerCase, "isnull", "", Nil))
      case CIsNotNull(a: UnresolvedAttribute) =>
        Some((a.nameParts.last.toLowerCase, "isnotnull", "", Nil))
      case CIn(a: UnresolvedAttribute, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[CLit]) =>
        val reprs = vs.map(v => litRepr(v.asInstanceOf[CLit]))
        // a NULL in the list matches nothing extra (IN is
        // null-rejecting); an unrepresentable literal blocks pruning
        if (reprs.exists(r => r.isEmpty)) None
        else {
          val kinds = reprs.flatten.map(_._1).distinct
          if (kinds.size != 1) None
          else Some((a.nameParts.last.toLowerCase, "in", kinds.head,
            reprs.flatten.map(_._2)))
        }
      case bc: BinaryComparison =>
        val op = bc match {
          case _: CEq => Some("=")
          case _: CLt => Some("<")
          case _: CLe => Some("<=")
          case _: CGt => Some(">")
          case _: CGe => Some(">=")
          case _ => None
        }
        def flip(o: String) = o match {
          case "<" => ">"
          case "<=" => ">="
          case ">" => "<"
          case ">=" => "<="
          case x => x
        }
        op.flatMap { o =>
          (bc.left, bc.right) match {
            case (a: UnresolvedAttribute, l: CLit) =>
              litRepr(l).map(kv =>
                (a.nameParts.last.toLowerCase, o, kv._1, Seq(kv._2)))
            case (l: CLit, a: UnresolvedAttribute) =>
              litRepr(l).map(kv =>
                (a.nameParts.last.toLowerCase, flip(o), kv._1, Seq(kv._2)))
            case _ => None
          }
        }
      case _ => None
    }

    // cheap pre-pass: a filter with no understandable leaf prunes
    // nothing — skip the per-file walk entirely
    def hasLeaf(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Boolean = e match {
      case CAnd(l, r) => hasLeaf(l) || hasLeaf(r)
      case COr(l, r) => hasLeaf(l) && hasLeaf(r) // an opaque OR arm keeps
      case other => leaf(other).isDefined
    }
    if (!hasLeaf(filter)) return snap.files

    // String order caveat: Spark compares strings by UTF-8 binary
    // order, Java by UTF-16 code units — identical on ASCII, divergent
    // on supplementary planes. Prune strings only when everything
    // involved is ASCII.
    def ascii(s: String) = s.forall(_ < 128)

    // "May this file contain a matching row?" — sound under
    // three-valued logic because every leaf is necessary-condition
    // only: AND may match only if both sides may; OR may match if
    // either side may; any shape the pruner cannot reason about
    // (NOT, UDFs, arithmetic) keeps the file. The tree COMPILES ONCE
    // into a per-file closure, so the per-file work is pure stat
    // lookups — no expression re-walking at a million files.
    type FileStats = (Map[String, ColStat], Option[Long]) // stats, rows
    def compile(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : FileStats => Boolean = e match {
      case CAnd(l, r) =>
        val (cl, cr) = (compile(l), compile(r))
        fs => cl(fs) && cr(fs)
      case COr(l, r) =>
        val (cl, cr) = (compile(l), compile(r))
        fs => cl(fs) || cr(fs)
      case other => leaf(other) match {
        case None => _ => true
        case Some((c, "isnull", _, _)) =>
          // skip only files with PROVABLY no nulls (-1 unknown keeps)
          fs => fs._1.get(c).forall(_.nulls != 0)
        case Some((c, "isnotnull", _, _)) =>
          // skip only provably all-null files
          fs => !((fs._1.get(c), fs._2) match {
            case (Some(st), Some(rows)) =>
              st.nulls >= 0 && rows > 0 && st.nulls >= rows
            case _ => false
          })
        case Some((c, op, k, vs)) =>
          fs => fs._1.get(c) match {
            case Some(ColStat(sk, Some(mn), Some(mx), _)) if sk == k &&
                (k == "n" ||
                  (vs ++ Seq(mn, mx)).forall(ascii)) =>
              op match { // keep unless provably disjoint
                case "="  =>
                  cmp(k, vs.head, mn) >= 0 && cmp(k, vs.head, mx) <= 0
                case "in" => vs.exists(v =>
                  cmp(k, v, mn) >= 0 && cmp(k, v, mx) <= 0)
                case "<"  => cmp(k, mn, vs.head) < 0
                case "<=" => cmp(k, mn, vs.head) <= 0
                case ">"  => cmp(k, mx, vs.head) > 0
                case ">=" => cmp(k, mx, vs.head) >= 0
              }
            case _ => true // no usable stat → cannot prune
          }
      }
    }
    val mayMatch = compile(filter)
    snap.files.filter { f =>
      val raw = snap.stats.getOrElse(f, Map.empty)
      // leaf names are lowercased; harvested stat keys keep the
      // column's original case — without normalizing, every lookup on
      // a mixed-case column misses and skipping silently turns OFF
      val st =
        if (raw.isEmpty) raw
        else raw.map { case (k, v) => k.toLowerCase -> v }
      mayMatch((st, snap.fileRows.get(f)))
    }
  }

  /** Stats-pruned read (Iceberg-style data skipping): file elimination
    * happens on the manifest, then the residual filter still applies —
    * correctness never depends on the stats, they only shrink the
    * scan. At 100 TB with date-clustered ingest this is the difference
    * between scanning a day and scanning the table. */
  def readWhere(filterSql: String): DataFrame = {
    val snap = currentSnapshot
    val kept = pruneByStats(snap, filterSql).toSet &
      prunePartitions(snap, filterSql).toSet
    morRead(snap, snap.files.filter(kept)).filter(expr(filterSql))
  }

  /** Runtime file pruning for a dim-filtered FACT JOIN — the shape
    * Iceberg+Spark get from runtime filtering / dynamic partition
    * pruning, where [[readWhere]] covers only hand-written static
    * predicates: returns this table's rows whose `factKey` appears in
    * `dim`'s `dimKey` column (the semi-join the fact side of a
    * dim-filtered join reduces to), with the fact scan planned over
    * ONLY the files whose manifest stats and partition values could
    * hold one of the dim's join keys. The dim side of such a join is
    * broadcast-sized by definition, so its distinct keys collect to
    * the driver (bounded by `maxKeys`) and prune on the manifest
    * alone — no fact file opens. On a bucket(n, factKey)-partitioned
    * or factKey-sort-compacted fact table a k-key dim prunes the scan
    * to O(k) files out of the whole table, which at 100 TB is the
    * difference between reading the dimension's slice and reading
    * everything.
    *
    * The collected keys never enter the row-side plan (a giant IN
    * literal costs seconds of analysis/codegen): file elimination is
    * driver-side against the typed key set directly (one Catalyst
    * `In` handed to the manifest pruners — no SQL string round-trip),
    * and the residual row filter is a broadcast LEFT SEMI join
    * against the dim keys. Past `maxKeys` the method degrades to that
    * semi-join un-pruned (same semantics, a loud log) rather than
    * building an unbounded driver key list.
    *
    * NOTE this method runs a Spark job EAGERLY, at DataFrame
    * construction — the dim-side distinct keys (bounded by
    * `maxKeys`+1) collect to the driver before the fact plan is
    * built, because file elimination must happen before the scan
    * relation exists. Callers composing lazy plans should call this
    * last; the cost is one job over the (broadcast-sized) dim. */
  def readWhereIn(factKey: String, dim: DataFrame, dimKey: String,
      maxKeys: Int = 10000): DataFrame = {
    val snap = currentSnapshot
    require(snap.schema.fieldNames.exists(_.equalsIgnoreCase(factKey)),
      s"readWhereIn: '$factKey' is not a table column")
    val keyRel = dim.select(col(dimKey).as(factKey)).distinct()
    def semi(base: DataFrame): DataFrame =
      base.join(broadcast(keyRel), Seq(factKey), "left_semi")
    val keys = keyRel.limit(maxKeys + 1).collect().map(_.get(0))
    if (keys.length > maxKeys) {
      org.apache.log4j.Logger.getLogger(getClass).warn(
        s"readWhereIn($factKey): dim side exceeds $maxKeys distinct " +
          "keys — runtime file pruning skipped, full-scan semi-join " +
          "planned instead")
      semi(morRead(snap, snap.files))
    } else {
      val kept = pruneByKeys(snap, factKey,
        keys.filter(_ != null).toIndexedSeq).toSet
      semi(morRead(snap, snap.files.filter(kept)))
    }
  }

  /** The file subset [[readWhereIn]] plans for these join keys:
    * manifest stats ∩ partition placement of `factKey IN (keys)` —
    * exposed so queries/specs can require() the pruning they claim. */
  private[graft] def pruneByKeys(snap: Snapshot, factKey: String,
      keys: Seq[Any]): Seq[String] = {
    if (keys.isEmpty) return Nil
    // the key set becomes ONE typed Catalyst In(attr, literals)
    // handed straight to both pruners — no rendering of a
    // 10k-literal SQL string and no driver-side re-parse of it
    val in = org.apache.spark.sql.catalyst.expressions.In(
      org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
        Seq(factKey)),
      keys.map(k =>
        org.apache.spark.sql.catalyst.expressions.Literal(k)))
    val kept = pruneByStats(snap, in).toSet &
      prunePartitions(snap, in).toSet
    snap.files.filter(kept)
  }

  /** The files of the current snapshot whose partition directories
    * could contain a row matching `filterSql` — hidden-partitioning
    * pruning: predicates on the RAW column map onto the transformed
    * partition values (month/day/year monotonically, bucket by
    * equality hash placement), decided on manifest paths alone. */
  private[graft] def prunePartitions(snap: Snapshot,
      filterSql: String): Seq[String] = {
    val parsed =
      try Some(spark.sessionState.sqlParser.parseExpression(filterSql))
      catch { case scala.util.control.NonFatal(_) => None }
    parsed.fold(snap.files)(e => prunePartitions(snap, e))
  }

  /** [[prunePartitions]] over an already-built Catalyst predicate. */
  private[graft] def prunePartitions(snap: Snapshot,
      filter: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[String] =
    if (snap.partitionCols.isEmpty && snap.specHist.isEmpty) snap.files
    else if (snap.specHist.isEmpty)
      PartField.pruneFiles(spark, PartField.parseAll(snap.partitionCols),
        snap.schema, snap.files, filter)
    else {
      // evolved table: each file prunes under the spec it was
      // written with (Iceberg's per-file spec-id)
      val keep = snap.files
        .groupBy(f => snap.specAt(snap.fileSeq.getOrElse(f, snap.id)))
        .flatMap { case (spec, fs) =>
          if (spec.isEmpty) fs
          else PartField.pruneFiles(spark, PartField.parseAll(spec),
            snap.schema, fs, filter)
        }.toSet
      snap.files.filter(keep)
    }

  // ---- metadata tables ----------------------------------------------

  /** Iceberg's `table.files` metadata table: one row per data file of
    * the current snapshot — path, add-sequence, record count (from
    * the manifest's footer harvest; NULL if the footer was
    * unreadable), and the hive partition segment the file sits under.
    * Answered from the driver-side manifest alone: O(#files), zero
    * storage listing, zero data-file opens — at 100 TB an operator
    * inspects a million-file table without touching a byte of data. */
  def filesMetadata: DataFrame = {
    import scala.jdk.CollectionConverters._
    val snap = currentSnapshot
    val rows = snap.files.map { f =>
      Row(f, snap.fileSeq.getOrElse(f, snap.id),
        snap.fileRows.get(f).map(java.lang.Long.valueOf).orNull,
        partitionSegment(snap, f).orNull,
        snap.fileSizes.get(f).map(java.lang.Long.valueOf).orNull)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("file", org.apache.spark.sql.types.StringType, false),
      StructField("seq", org.apache.spark.sql.types.LongType, false),
      StructField("rows", org.apache.spark.sql.types.LongType, true),
      StructField("partition", org.apache.spark.sql.types.StringType, true),
      StructField("size_bytes", org.apache.spark.sql.types.LongType, true))))
  }

  /** Iceberg's `table.delete_files` metadata table: one row per
    * pending merge-on-read delete artifact of the current snapshot —
    * the operator's "how much un-materialized DML is this table
    * carrying" view, answered from the manifest alone (counts and
    * sizes were recorded at commit; no tombstone or blob is read).
    * `kind` is `equality` (detail = the predicate; no path/count — a
    * predicate's row reach is unknowable without a scan), `position`
    * (path = the tombstone parquet, rows = its footer count), or
    * `vector` (detail = the vectored DATA file, path = its bitmap
    * blob, rows = the bitmap's cardinality, size = the whole blob a
    * merge may share across files). */
  def deleteFilesMetadata: DataFrame = {
    import scala.jdk.CollectionConverters._
    val snap = currentSnapshot
    def l(v: Option[Long]) = v.map(java.lang.Long.valueOf).orNull
    val eq = snap.dels.map(d =>
      Row("equality", d.pred, null, null, null))
    val pos = snap.posDels.map(p =>
      Row("position", null, p, l(snap.posDelRows.get(p)),
        l(snap.posDelSizes.get(p))))
    val dv = snap.dvs.toSeq.sortBy(_._1).map { case (df, blob) =>
      Row("vector", df, blob, l(snap.dvCards.get(df)),
        l(snap.dvSizes.get(blob)))
    }
    spark.createDataFrame((eq ++ pos ++ dv).asJava, StructType(Seq(
      StructField("kind", org.apache.spark.sql.types.StringType, false),
      StructField("detail", org.apache.spark.sql.types.StringType, true),
      StructField("path", org.apache.spark.sql.types.StringType, true),
      StructField("deleted_rows", org.apache.spark.sql.types.LongType,
        true),
      StructField("size_bytes", org.apache.spark.sql.types.LongType,
        true))))
  }

  /** Iceberg's `table.history`/`table.snapshots` metadata table: the
    * commit lineage as a DataFrame — id, parent, operation, commit
    * wall-clock, current flag. Driver-side manifest headers only,
    * O(#snapshots). */
  def historyMetadata: DataFrame = {
    import scala.jdk.CollectionConverters._
    val cur = currentSnapshotId
    // bounded HEADER reads (~4 KB prefix, cached per JVM), not full
    // manifest parses: every column here (parent/op/ts) sits in the
    // header, so listing a year of hourly commits costs O(history)
    // small reads instead of O(history × manifest size) — the same
    // reasoning as metadataLogEntriesMetadata below
    val rows = snapshotIds.map { id =>
      val hd = header(id).getOrElse(throw new IllegalStateException(
        s"snapshot $id expired out from under the history listing"))
      Row(id, hd.parent, hd.op,
        if (hd.ts > 0) java.lang.Long.valueOf(hd.ts) else null,
        id == cur)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("snapshot_id", org.apache.spark.sql.types.LongType, false),
      StructField("parent_id", org.apache.spark.sql.types.LongType, false),
      StructField("op", org.apache.spark.sql.types.StringType, false),
      StructField("committed_at_ms", org.apache.spark.sql.types.LongType, true),
      StructField("is_current", org.apache.spark.sql.types.BooleanType,
        false))))
  }

  /** Iceberg's `table.partitions` metadata table: per partition value,
    * the file count and record count of the current snapshot, straight
    * off the manifest (like Iceberg, record counts describe the data
    * files as written — pending merge-on-read deletes are tracked
    * separately and not subtracted here). `row_count` is NULL if any
    * file in the partition is missing its footer count. */
  def partitionsMetadata: DataFrame = {
    import scala.jdk.CollectionConverters._
    val snap = currentSnapshot
    require(snap.partitionCols.nonEmpty, "table is not partitioned")
    // files written under an OLDER spec (partition evolution) carry
    // no current-spec segment: they aggregate under NULL partition
    // values, like Iceberg's partitions table across spec ids
    val grouped = snap.files.groupBy(f => partitionSegment(snap, f))
    val nParts = snap.partitionCols.size
    val rows = grouped.toSeq.sortBy(_._1.getOrElse("")).map {
      case (seg, fs) =>
        val values: Seq[Any] = seg match {
          case Some(s) => s.split("/").toSeq.map { kv =>
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .unescapePathName(kv.substring(kv.indexOf('=') + 1))
          }
          case None => Seq.fill[Any](nParts)(null)
        }
        val counts = fs.map(snap.fileRows.get)
        val total =
          if (counts.forall(_.isDefined))
            java.lang.Long.valueOf(counts.flatten.sum)
          else null
        Row.fromSeq(values ++ Seq(fs.size.toLong, total))
    }
    spark.createDataFrame(rows.asJava, StructType(
      PartField.parseAll(snap.partitionCols).map(f =>
        StructField(f.displayName,
          org.apache.spark.sql.types.StringType, true)) ++ Seq(
        StructField("file_count", org.apache.spark.sql.types.LongType, false),
        StructField("row_count", org.apache.spark.sql.types.LongType, true))))
  }

  /** Iceberg's `table.entries` metadata table: the CURRENT snapshot's
    * manifest entries — per data file, whether this snapshot ADDED it
    * or carries it EXISTING by reference from an earlier commit
    * (Iceberg's entry status), the adding commit's sequence, and the
    * footer-harvested row count / size. The operator's "what did the
    * last commit actually touch" view. Driver-side manifest only,
    * O(#files), zero data reads. */
  def entriesMetadata: DataFrame = {
    import scala.jdk.CollectionConverters._
    val snap = currentSnapshot
    val rows = snap.files.map { f =>
      // a file with NO fileSeq entry has an unknown adding commit —
      // surface status UNKNOWN with a null snapshot_id (the same
      // null convention as the missing rows/size stats) instead of
      // silently misattributing it as ADDED by the current snapshot
      val seq = snap.fileSeq.get(f)
      Row(seq.map(s => if (s == snap.id) "ADDED" else "EXISTING")
          .getOrElse("UNKNOWN"),
        seq.map(java.lang.Long.valueOf).orNull, f,
        snap.fileRows.get(f).map(java.lang.Long.valueOf).orNull,
        snap.fileSizes.get(f).map(java.lang.Long.valueOf).orNull)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("status", org.apache.spark.sql.types.StringType, false),
      StructField("snapshot_id", org.apache.spark.sql.types.LongType, true),
      StructField("file", org.apache.spark.sql.types.StringType, false),
      StructField("rows", org.apache.spark.sql.types.LongType, true),
      StructField("size_bytes", org.apache.spark.sql.types.LongType,
        true))))
  }

  /** Iceberg's `table.all_files` / `all_data_files` metadata table:
    * every data file referenced by ANY live snapshot — the
    * snapshot-pile-up debugging view. Per file: the commit that added
    * it, its footer stats (harvested from the manifest that first
    * referenced it), and whether the CURRENT snapshot still carries
    * it (`in_current = false` means history-only: reclaimable by
    * snapshot expiry, exactly the files VACUUM would delete).
    * Driver-side manifests only — O(#snapshots) manifest parses, the
    * same cost shape as Iceberg's all_files walk over all manifest
    * lists; zero storage listing, zero data reads. */
  def allFilesMetadata: DataFrame = {
    import scala.jdk.CollectionConverters._
    val cur = currentSnapshot
    val live = cur.files.toSet
    // first-seen wins: the manifest that introduced the file carries
    // its add-sequence and footer stats
    val seen = scala.collection.mutable.LinkedHashMap
      .empty[String, (Option[Long], Option[Long], Option[Long])]
    snapshots.foreach { sn =>
      sn.files.foreach { f =>
        // a missing fileSeq entry surfaces as a null
        // added_snapshot_id (the stats' null convention), not a
        // misattribution to whichever snapshot listed it first
        if (!seen.contains(f))
          seen(f) = (sn.fileSeq.get(f),
            sn.fileRows.get(f), sn.fileSizes.get(f))
      }
    }
    val rows = seen.toSeq.sortBy(_._1).map { case (f, (seq, nr, sz)) =>
      Row(f, seq.map(java.lang.Long.valueOf).orNull, live.contains(f),
        nr.map(java.lang.Long.valueOf).orNull,
        sz.map(java.lang.Long.valueOf).orNull)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("file", org.apache.spark.sql.types.StringType, false),
      StructField("added_snapshot_id", org.apache.spark.sql.types.LongType,
        true),
      StructField("in_current", org.apache.spark.sql.types.BooleanType,
        false),
      StructField("rows", org.apache.spark.sql.types.LongType, true),
      StructField("size_bytes", org.apache.spark.sql.types.LongType,
        true))))
  }

  /** Iceberg's `table.metadata_log_entries` metadata table: one row
    * per manifest file in the metadata log — commit wall-clock, the
    * manifest's own path, its snapshot id, and the current flag. The
    * operator's "which metadata file describes which state" view
    * (time-travel debugging, disaster recovery). Driver-side listing
    * of the meta directory only. */
  def metadataLogEntriesMetadata: DataFrame = {
    import scala.jdk.CollectionConverters._
    val cur = currentSnapshotId
    // the listing needs only (ts, path, id): the bounded HEADER read
    // (~4 KB prefix, cached per JVM) serves ts — a full manifest
    // parse per snapshot would cost O(history × manifest size) on a
    // long-lived table for fields the header already carries
    val rows = snapshotIds.map { id =>
      val ts = header(id).map(_.ts).getOrElse(0L)
      Row(if (ts > 0) java.lang.Long.valueOf(ts) else null,
        snapPath(id).toString, id, id == cur)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("committed_at_ms", org.apache.spark.sql.types.LongType,
        true),
      StructField("file", org.apache.spark.sql.types.StringType, false),
      StructField("snapshot_id", org.apache.spark.sql.types.LongType,
        false),
      StructField("is_current", org.apache.spark.sql.types.BooleanType,
        false))))
  }

  /** Iceberg's `table.all_manifests` metadata table: every manifest
    * file any LIVE snapshot references — the per-snapshot manifest
    * plus the shard files it carries (shards are immutable and carried
    * by reference, so one shard path can serve many snapshots; like
    * [[allFilesMetadata]], first-seen wins and carries the earliest
    * referencing snapshot). `entries` counts the file entries each
    * manifest holds inline (shards list their own). O(#snapshots)
    * manifest parses, zero data reads — the maintenance-dashboard
    * view behind "how much metadata is this table carrying". */
  def allManifestsMetadata: DataFrame = {
    import scala.jdk.CollectionConverters._
    val cur = currentSnapshotId
    val seen = scala.collection.mutable.LinkedHashMap
      .empty[String, (String, Long, Long)] // path -> (kind, snap, entries)
    snapshots.foreach { sn =>
      val sharded = sn.shards.map(_.files.size.toLong).sum
      if (!seen.contains(snapPath(sn.id).toString))
        seen(snapPath(sn.id).toString) =
          ("manifest", sn.id, sn.files.size.toLong - sharded)
      sn.shards.foreach { sh =>
        if (!seen.contains(sh.path))
          seen(sh.path) = ("shard", sn.id, sh.files.size.toLong)
      }
    }
    val rows = seen.toSeq.map { case (p, (kind, id, n)) =>
      Row(p, kind, id, id == cur, n)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("path", org.apache.spark.sql.types.StringType, false),
      StructField("kind", org.apache.spark.sql.types.StringType, false),
      StructField("snapshot_id", org.apache.spark.sql.types.LongType,
        false),
      StructField("is_current", org.apache.spark.sql.types.BooleanType,
        false),
      StructField("entries", org.apache.spark.sql.types.LongType,
        false))))
  }

  /** Iceberg's `table.manifests` metadata table: the CURRENT
    * snapshot's manifest listing — the per-shard analog of
    * [[allManifestsMetadata]] filtered to head, with the on-disk
    * length and the added/existing entry split Iceberg surfaces
    * (added = entries this commit wrote; existing = carried by
    * reference from earlier commits — an entry with no recorded
    * adding commit counts as existing, never misattributed as
    * added). The operator's second debugging view after `.files`:
    * "is my metadata sharded sanely, and what did the last commit
    * actually write". O(1 + #shards) driver-side file stats, zero
    * data reads. */
  def manifestsMetadata: DataFrame = {
    import scala.jdk.CollectionConverters._
    val snap = currentSnapshot
    def counts(fls: Seq[String]): (Long, Long) = {
      val added = fls.count(f => snap.fileSeq.get(f).contains(snap.id))
      (added.toLong, (fls.size - added).toLong)
    }
    def lenOf(p: Path): Long = fs.getFileStatus(p).getLen
    val shardFiles = snap.shards.flatMap(_.files).toSet
    val (ia, ie) = counts(snap.files.filterNot(shardFiles))
    val rows = Row(snapPath(snap.id).toString, "manifest",
      lenOf(snapPath(snap.id)), ia, ie) +:
      snap.shards.map { sh =>
        val (a, e) = counts(sh.files)
        Row(sh.path, "shard", lenOf(new Path(sh.path)), a, e)
      }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("path", org.apache.spark.sql.types.StringType, false),
      StructField("kind", org.apache.spark.sql.types.StringType, false),
      StructField("length", org.apache.spark.sql.types.LongType, false),
      StructField("added_entries", org.apache.spark.sql.types.LongType,
        false),
      StructField("existing_entries",
        org.apache.spark.sql.types.LongType, false))))
  }

  /** Iceberg's `table.all_delete_files` metadata table: every
    * merge-on-read delete ARTIFACT any live snapshot references —
    * the delete-side completion of the all_* family ([[
    * allFilesMetadata]] lists data files; this is the MoR-debt audit
    * across history). Same row shape as [[deleteFilesMetadata]] plus
    * the first referencing snapshot and an `in_current` flag
    * (false = pending debt a PAST state carried that rollback could
    * resurrect and expiry reclaims). First-seen dedup like all_files
    * — artifacts are immutable and carried by reference, so one
    * tombstone/blob/predicate appears once however many snapshots
    * hold it. O(#snapshots) manifest parses, zero artifact reads. */
  def allDeleteFilesMetadata: DataFrame = {
    import scala.jdk.CollectionConverters._
    val cur = currentSnapshot
    def l(v: Option[Long]) = v.map(java.lang.Long.valueOf).orNull
    val curKeys = scala.collection.mutable.Set.empty[String]
    def keysOf(sn: Snapshot): Seq[(String, Row)] = {
      val eq = sn.dels.map(d => (s"eq ${d.seq} ${d.pred}",
        Row("equality", d.pred, null, null, null, sn.id, false)))
      val pos = sn.posDels.map(p => (s"pos $p",
        Row("position", null, p, l(sn.posDelRows.get(p)),
          l(sn.posDelSizes.get(p)), sn.id, false)))
      val dv = sn.dvs.toSeq.sortBy(_._1).map { case (df, blob) =>
        (s"dv $df $blob",
          Row("vector", df, blob, l(sn.dvCards.get(df)),
            l(sn.dvSizes.get(blob)), sn.id, false))
      }
      eq ++ pos ++ dv
    }
    keysOf(cur).foreach { case (k, _) => curKeys += k }
    val seen = scala.collection.mutable.LinkedHashMap
      .empty[String, Row]
    snapshots.foreach { sn =>
      keysOf(sn).foreach { case (k, r) =>
        if (!seen.contains(k))
          seen(k) = Row.fromSeq(r.toSeq.init :+ curKeys.contains(k))
      }
    }
    spark.createDataFrame(seen.values.toSeq.asJava, StructType(Seq(
      StructField("kind", org.apache.spark.sql.types.StringType, false),
      StructField("detail", org.apache.spark.sql.types.StringType, true),
      StructField("path", org.apache.spark.sql.types.StringType, true),
      StructField("deleted_rows", org.apache.spark.sql.types.LongType,
        true),
      StructField("size_bytes", org.apache.spark.sql.types.LongType,
        true),
      StructField("added_snapshot_id",
        org.apache.spark.sql.types.LongType, false),
      StructField("in_current", org.apache.spark.sql.types.BooleanType,
        false))))
  }

  /** Iceberg's `table.all_entries` metadata table: the manifest
    * entries of EVERY live snapshot — per (listing snapshot, data
    * file): the entry's status AT that snapshot (ADDED by it vs
    * EXISTING carried by reference, UNKNOWN when the adding commit
    * was not recorded), the adding commit, and the footer stats. The
    * audit view behind "which snapshot first carried this file, and
    * when did it leave". This is the one MULTIPLICATIVE metadata
    * table — Σ|snapshot file list| rows, O(snapshots × files) on a
    * long-history table — so unlike the O(files) tables it does NOT
    * build driver Rows: the driver contributes only the snapshot-id
    * list; each executor task parses its snapshot's manifest (shards
    * are independently readable files) and expands entries locally
    * ([[GraftTable.entryRowsOf]]). A year of hourly commits on a
    * 10⁶-file table is ~10⁴ tasks of ~10⁶ rows each — never a
    * gigabyte of driver heap. Zero data reads either way. */
  def allEntriesMetadata: DataFrame = {
    val schema = StructType(Seq(
      StructField("snapshot_id", org.apache.spark.sql.types.LongType,
        false),
      StructField("status", org.apache.spark.sql.types.StringType, false),
      StructField("added_snapshot_id",
        org.apache.spark.sql.types.LongType, true),
      StructField("file", org.apache.spark.sql.types.StringType, false),
      StructField("rows", org.apache.spark.sql.types.LongType, true),
      StructField("size_bytes", org.apache.spark.sql.types.LongType,
        true)))
    val ids = snapshotIds
    if (ids.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val rootStr = location
    val rdd = spark.sparkContext
      .parallelize(ids, math.min(ids.size,
        spark.sparkContext.defaultParallelism))
      .flatMap(id => GraftTable.entryRowsOf(conf.value, rootStr, id))
    spark.createDataFrame(rdd, schema)
  }

  /** Iceberg's `table.position_deletes` metadata table: the CONTENT
    * of the current snapshot's pending position-delete artifacts —
    * one row per tombstoned (data file, row position) with the
    * artifact that carries it. Tombstone parquet reads directly;
    * deletion-vector bitmaps expand through the same native
    * bitset-positions expression the read path probes. Reads ONLY
    * delete artifacts — never a data file — so the operator's "what
    * un-materialized DML is pending, row by row" view costs the
    * artifacts' own size at any table size. `file_path` is in
    * `_metadata.file_path` (URL-encoded) form, the form the
    * artifacts themselves store. */
  def positionDeletesMetadata: DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{columnOf, expressionOf}
    val snap = currentSnapshot
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField("file_path", org.apache.spark.sql.types.StringType,
          true),
        StructField("pos", org.apache.spark.sql.types.LongType, true),
        StructField("delete_file", org.apache.spark.sql.types.StringType,
          true))))
    val tomb =
      if (snap.posDels.isEmpty) None
      else Some(snap.posDels.sorted.map { p =>
        spark.read.schema(GraftTable.TombSchema).parquet(p)
          .select(col("_file").as("file_path"),
          col("_pos").as("pos"), lit(p).as("delete_file"))
      }.reduce(_.unionByName(_)))
    val dv =
      if (snap.dvs.isEmpty) None
      else {
        import spark.implicits._
        val blobOf = snap.dvs.toSeq
          .map { case (f, b) => (metaPath(f), b) }
          .toDF("file_path", "delete_file")
        Some(currentDvRelation(snap)
          .select(col("_file").as("file_path"),
            explode(columnOf(graft.functions.NativeExprs.BitsetPositions(
              expressionOf(col("_bitmap"))))).as("pos"))
          .join(broadcast(blobOf), "file_path")
          .select(col("file_path"), col("pos"), col("delete_file")))
      }
    (tomb ++ dv).reduceOption(_.unionByName(_)).getOrElse(empty)
  }

  /** The hive-style `col=v[/col2=v2…]` segment of a data file's path
    * (derived `_gp_i=` dirs for transform specs), None for an
    * unpartitioned table. */
  private def partitionSegment(snap: Snapshot, file: String): Option[String] =
    if (snap.partitionCols.isEmpty) None
    else {
      val dirNames =
        if (PartField.allIdentity(snap.partitionCols)) snap.partitionCols
        else snap.partitionCols.indices.map(PartField.dirCol)
      val segs = new Path(file).toUri.getPath.split("/")
      // LAST match: the layout dirs sit under the commit dir, so a
      // table root path containing a look-alike `col=…` segment must
      // not stand in for the file's own partition directory
      val parts = dirNames.flatMap(c => segs.findLast(_.startsWith(s"$c=")))
      if (parts.size == dirNames.size) Some(parts.mkString("/"))
      else None
    }
}

/** Compact single-line JSON codec for per-file column stats manifest
  * lines (`fstat=`). Jackson (on Spark's classpath) handles string
  * escaping, so arbitrary min/max string values cannot corrupt the
  * line-oriented manifest. */
private[lakehouse] object FileStatsJson {
  import com.fasterxml.jackson.databind.ObjectMapper
  private val mapper = new ObjectMapper()

  def render(file: String, cols: Map[String, ColStat]): String = {
    val rootNode = mapper.createObjectNode()
    rootNode.put("f", file)
    val c = rootNode.putObject("c")
    cols.foreach { case (name, st) =>
      val o = c.putObject(name)
      o.put("k", st.kind)
      st.mn.foreach(o.put("mn", _))
      st.mx.foreach(o.put("mx", _))
      o.put("nl", st.nulls)
    }
    mapper.writeValueAsString(rootNode)
  }

  def parse(json: String): Option[(String, Map[String, ColStat])] =
    try {
      val n = mapper.readTree(json)
      val cols = scala.collection.mutable.Map.empty[String, ColStat]
      val it = n.get("c").fields()
      while (it.hasNext) {
        val e = it.next()
        val o = e.getValue
        cols(e.getKey) = ColStat(
          o.get("k").asText,
          Option(o.get("mn")).map(_.asText),
          Option(o.get("mx")).map(_.asText),
          o.get("nl").asLong)
      }
      Some(n.get("f").asText -> cols.toMap)
    } catch { case scala.util.control.NonFatal(_) => None }

  def renderDel(d: DeletePred): String = {
    val o = mapper.createObjectNode()
    o.put("s", d.seq)
    o.put("p", d.pred)
    mapper.writeValueAsString(o)
  }

  def parseDel(json: String): Option[DeletePred] =
    try {
      val n = mapper.readTree(json)
      Some(DeletePred(n.get("s").asLong, n.get("p").asText))
    } catch { case scala.util.control.NonFatal(_) => None }
}

object GraftTable {
  /** Executor-side manifest→entry expansion for
    * [[GraftTable#allEntriesMetadata]]: spark-free (plain Hadoop FS
    * opens against the task-local configuration), serializable by
    * construction, parsing ONLY the entry fields (file/fseq/frows/
    * fsize plus manifest-list shard refs) — none of the full
    * [[Snapshot]] machinery. Ordering and map precedence mirror
    * [[GraftTable#parseManifest]] exactly (shard entries first,
    * inline entries win map conflicts) so the distributed frame is
    * row-identical to the old driver-built one. */
  private[lakehouse] def entryRowsOf(
      conf: org.apache.hadoop.conf.Configuration, root: String,
      id: Long): Iterator[Row] = {
    def kvLines(p: Path): Seq[(String, String)] = {
      val in = p.getFileSystem(conf).open(p)
      val text =
        try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      text.linesIterator.filter(_.nonEmpty).map { line =>
        val i = line.indexOf('=')
        (line.substring(0, i), line.substring(i + 1))
      }.toSeq
    }
    val kv = kvLines(new Path(new Path(root, "_graft_meta"),
      f"snap-$id%05d.meta"))
    val shardKv = kv.collect { case ("mshard", v) =>
      v.split("\t", 4)(3) }.flatMap(p => kvLines(new Path(p)))
    val all = shardKv ++ kv
    def tagged(key: String) = all.collect { case (`key`, v) =>
      val i = v.indexOf('\t')
      v.substring(i + 1) -> v.substring(0, i).toLong
    }.toMap
    val seqs = tagged("fseq")
    val rows = tagged("frows")
    val sizes = tagged("fsize")
    all.iterator.collect { case ("file", f) =>
      val seq = seqs.get(f)
      Row(id,
        seq.map(s => if (s == id) "ADDED" else "EXISTING")
          .getOrElse("UNKNOWN"),
        seq.map(java.lang.Long.valueOf).orNull, f,
        rows.get(f).map(java.lang.Long.valueOf).orNull,
        sizes.get(f).map(java.lang.Long.valueOf).orNull)
    }
  }

  /** Fixed artifact schemas (round 19, guide §6): every position
    * tombstone file is exactly (_file STRING, _pos LONG) and every
    * deletion-vector blob (_file STRING, _bitmap BINARY) — both
    * written by this engine. Passing the schema explicitly skips the
    * driver-side footer-inference round `spark.read.parquet` pays at
    * PLAN time, which the streaming change feed's per-micro-batch
    * getBatch was measured paying several times per batch. */
  private[lakehouse] val TombSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("_file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("_pos",
      org.apache.spark.sql.types.LongType)))
  private[lakehouse] val DvBlobSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("_file",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("_bitmap",
      org.apache.spark.sql.types.BinaryType)))

  /** Internal column names threading leaf-scan metadata (file path,
    * row index) to the position-delete anti-join. */
  private[lakehouse] val PosFileCol = "_gpd_file"

  /** Join key of the deletion-vector file join on the read path. */
  private[lakehouse] val DvFileCol = "_gdv_file"

  /** The joined bitmap column of the read path's deletion-vector
    * probe (reserved-prefix: user data may carry `_bitmap`). */
  private[lakehouse] val DvBitmapCol = "_gdv_bitmap"

  /** Schema-metadata keys of a column's initial default (Iceberg v3):
    * the default's original SQL text, and the head snapshot id when
    * the column was added — files sequenced at or before it read the
    * default. */
  val DefaultSqlKey = "graft.initial-default"

  /** Property-key prefix for CHECK constraints (`graft.constraint.
    * <name>` → the CHECK's sql text). Set via `ALTER TABLE … ADD
    * CONSTRAINT`, which validates existing data first — never via
    * raw TBLPROPERTIES (LakeDdl.validateProps refuses the prefix so
    * an unvalidated constraint can't ride in past the scan). */
  val ConstraintPrefix = "graft.constraint."

  /** Leaf-name prefix of the tombstone rename [[GraftTable.dropColumn]]
    * records in the rename log: retires the dropped name (old files
    * still carry its bytes) and marks the drop's sequence, which is
    * what lets [[alignEvolved]] PROJECT a dropped column away for a
    * restarted stream's pre-drop backlog. */
  val DroppedPrefix = "__graft_dropped_"

  /** Field-metadata flag stamped by [[GraftTable.setNotNull]]: marks a
    * nullable=false that was EXPLICITLY declared (and is therefore
    * write-enforced), as opposed to inherited from the creating
    * frame's incidental schema. */
  val NotNullKey = "graft.not-null"
  private[lakehouse] val DefaultSinceKey = "graft.default-since"

  /** Deep type normalization for add-only schema compatibility:
    * nullability and field metadata are presentation, not shape (the
    * changelog builders produce all-nullable, metadata-free columns
    * whatever the table declares). */
  private def normType(dt: DataType): DataType = dt match {
    case st: StructType =>
      StructType(st.fields.map(f => StructField(f.name,
        normType(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = normType(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(valueType = normType(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** `df` up-projected to `target`'s column set: columns `target`
    * declares that `df` lacks fill with NULL — or with the column's
    * declared initial DEFAULT, matching exactly what the table's own
    * read path surfaces for pre-add files — and the result selects
    * `target`'s column order (extra non-target columns — feed tags —
    * pass through at the end). None when the shapes differ by
    * anything other than nullable ADD COLUMN (drop/rename/type
    * change have no sound up-projection). Shared by the plain batch
    * changelog ([[GraftTable.changes]]) and the streaming change
    * feed, so a checkpointed CDC stream SURVIVES a null-backfilled
    * ADD COLUMN — restart picks up the new schema and every pending
    * range up-projects — instead of wedging permanently at the
    * evolution commit. */
  /** The Iceberg-safe type promotion set ([[GraftTable.alterColumnType]]
    * validates DDL against it; the streaming/changelog alignment
    * relies on every member being VALUE-PRESERVING — an up-cast of
    * old data reads exactly what a post-promotion scan of the same
    * file surfaces). */
  private[graft] def safePromotion(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }
  }

  /** Evolution-aware up-projection for ranges that PREDATE schema
    * evolution: `df` (produced at snapshot sequence `batchSeq`)
    * aligned to `target` — the consumer's declared schema, pinned at
    * `head` — by replaying the engine's own evolution records:
    *
    *  1. RENAME COLUMN — `head`'s rename log replays FORWARD from
    *     `batchSeq` (column identity is the log's, not the name's),
    *     so a pre-rename batch delivers under the post-rename names;
    *     top-level renames only (a nested rename has no sound
    *     frame-level mapping here);
    *  2. type promotion — a target column declared WIDER than the
    *     batch carries up-casts exactly (the [[safePromotion]] set is
    *     value-preserving);
    *  3. null/DEFAULT backfill for ADD COLUMN ([[upProject]]).
    *
    * None when any residual difference remains (drop, nested rename,
    * unsafe type change, or a batch column the target never declared
    * — which is the MID-STREAM evolution signature: the consumer must
    * restart to pick up the new schema, and with this alignment that
    * restart actually drains the pending ranges). */
  private[graft] def alignEvolved(df: org.apache.spark.sql.DataFrame,
      batchSeq: Long, head: Snapshot, target: StructType)
      : Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.col
    val later = head.renames.filter(_.seq > batchSeq)
    if (later.exists(r => r.from.contains(".") || r.to.contains(".")))
      return None
    // case-insensitive like predCond's replay (the changelog's other
    // rename consumer) — the engine stores exact names so both
    // agree today, but the two replays must not diverge on a
    // case-mismatched record; withColumnRenamed resolves with the
    // session's (case-insensitive) resolver either way
    val renamed = later.foldLeft(df)((d, r) =>
      if (d.columns.exists(_.equalsIgnoreCase(r.from)))
        d.withColumnRenamed(r.from, r.to)
      else d)
    // DROP COLUMN records a tombstone rename in the retire log; the
    // replay above just renamed any dropped column the batch still
    // carries to its tombstone name — PROJECT it away (exactly what
    // a to-reader does for old files), so a restarted stream's
    // pre-drop backlog drains instead of wedging forever. (Nested
    // drops carry a '.' in the tombstone and refused above, like
    // every nested rename.)
    val cleaned = later.filter(_.to.startsWith(DroppedPrefix))
      .map(_.to).distinct
      .foldLeft(renamed)((d, c) =>
        if (d.columns.contains(c)) d.drop(c) else d)
    val promoted = target.fields.foldLeft(cleaned) { (d, tf) =>
      d.schema.fields.find(_.name == tf.name) match {
        case Some(hf) if hf.dataType != tf.dataType &&
            safePromotion(hf.dataType, tf.dataType) =>
          d.withColumn(tf.name, col(tf.name).cast(tf.dataType))
        case _ => d
      }
    }
    // a batch column the target never declared is NOT an "extra" to
    // pass through — it is a schema the consumer has not seen (the
    // mid-stream evolution case); silently null-filling the declared
    // column while the data rides an unknown one would deliver wrong
    // rows, so refuse → the caller's restart message
    if (!promoted.schema.fieldNames.forall(target.fieldNames.contains))
      None
    // a batch NEWER than the consumer's pinned head must never be
    // "aligned" by backfill: a target column the batch lacks is then
    // a MID-STREAM DROP (the pinned head cannot know it — its retire
    // log predates the commit), and null-filling it would deliver
    // wrong rows where the column had real values. Refuse → restart,
    // after which the drop is in the head's retire log and the
    // projection above handles every pending range.
    else if (batchSeq > head.id &&
        !target.fieldNames.forall(promoted.schema.fieldNames.contains))
      None
    else upProject(promoted, target)
  }

  private[graft] def upProject(df: org.apache.spark.sql.DataFrame,
      target: StructType): Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val have = df.schema
    val extra = have.fields.filterNot(f =>
      target.fieldNames.contains(f.name)).toSeq
    val shared = have.fields.filterNot(extra.contains)
    val missing = target.fields.filterNot(f =>
      have.fieldNames.contains(f.name)).toSeq
    val compatible = shared.forall(hf => target.fields.exists(tf =>
        tf.name == hf.name &&
          normType(tf.dataType) == normType(hf.dataType))) &&
      missing.forall(_.nullable)
    if (!compatible) None
    else {
      val filled = missing.foldLeft(df)((d, f) => d.withColumn(f.name,
        (if (f.metadata.contains(DefaultSqlKey))
           expr(f.metadata.getString(DefaultSqlKey))
         else lit(null)).cast(f.dataType)))
      Some(filled.select((target.fieldNames.toSeq ++
        extra.map(_.name)).map(col): _*))
    }
  }

  /** Validate a DEFAULT expression at DDL time: it must analyze, be
    * FOLDABLE and DETERMINISTIC (Iceberg v3 restricts defaults to
    * literal values — the default is re-evaluated from its SQL text
    * at every scan and write, so `current_timestamp()`/`rand()`
    * would make the same pre-add row read DIFFERENT values across
    * queries), cast to the column type, and not evaluate to NULL. */
  private[lakehouse] def validateDefault(spark: SparkSession,
      sql: String, dt: DataType, colName: String): Unit = {
    val df =
      try spark.sql(s"SELECT CAST(($sql) AS ${dt.sql})")
      catch { case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"DEFAULT expression '$sql' for column '$colName' does not " +
            s"evaluate as ${dt.sql}: ${e.getMessage}")
      }
    val analyzed = df.queryExecution.analyzed match {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.head match {
          case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
          case e => e
        }
      case _ => return // unexpected shape: fall through to evaluation
    }
    // current_timestamp()/current_date()/current_user() are foldable
    // (constant within ONE query) but fold to a different value per
    // query — the CURRENT_LIKE tree pattern is their precise marker
    val currentLike = analyzed.containsPattern(
      org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE)
    require(analyzed.deterministic && analyzed.foldable && !currentLike,
      s"DEFAULT expression '$sql' for column '$colName' is not a " +
        "constant (non-deterministic or query-time expressions like " +
        "current_timestamp() or rand() would read differently on every " +
        "scan) — use a literal value")
    val checked =
      try df.head
      catch { case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(
          s"DEFAULT expression '$sql' for column '$colName' does not " +
            s"evaluate as ${dt.sql}: ${e.getMessage}")
      }
    require(!checked.isNullAt(0),
      s"DEFAULT expression '$sql' for column '$colName' evaluates " +
        "to NULL — omit the DEFAULT instead")
  }
  private[lakehouse] val PosIdxCol = "_gpd_pos"

  /** The SINGLE authority for rendering a manifest path in
    * `_metadata.file_path` form — every comparison of manifest paths
    * against tombstone `_file` values must pass the manifest side
    * through this (the instance method and the SPJ scan's tombstone
    * lookup both delegate here; a second implementation could drift
    * and silently match nothing). */
  private[lakehouse] def metaPath(p: String): String =
    new Path(p).toUri.toString

  /** On-disk tombstone bytes above which the position-delete
    * anti-join stops broadcasting (overridable for tests via
    * `graft.posdel.broadcast.bytes`). */
  private[lakehouse] def PosDelBroadcastBytes: Long =
    sys.props.get("graft.posdel.broadcast.bytes").map(_.toLong)
      .getOrElse(32L * 1024 * 1024)

  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def commitLock(root: String): Object =
    commitLocks.computeIfAbsent(root, _ => new Object)

  /** Per-root cache of manifest HEADERS (parent, ts, op) — the
    * ancestry walk behind timestamp travel reads these instead of
    * opening one manifest per step. Manifests are immutable once
    * published, so a cached header never goes stale;
    * [[GraftTable.expireSnapshots]] evicts deleted ids. This is the
    * compact analog of Iceberg's snapshot-log (which lives in the
    * single table-metadata file): O(1) amortized header cost per
    * snapshot per JVM instead of O(history) manifest opens per
    * timestamp query. */
  private val headerCaches = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[Long, SnapHeader]]()
  private[lakehouse] def headerCache(
      root: String): java.util.concurrent.ConcurrentHashMap[Long, SnapHeader] =
    headerCaches.computeIfAbsent(root,
      _ => new java.util.concurrent.ConcurrentHashMap[Long, SnapHeader]())

  /** Per-root cache of each snapshot's immutable `nextrowid` counter
    * — backs the table-wide row-id allocator ([[nextRowIdOf]]).
    * Evicted alongside [[headerCache]] on snapshot expiry. */
  private val nextRowIdCaches = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]]()
  private[lakehouse] def nextRowIdCache(root: String)
      : java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long] =
    nextRowIdCaches.computeIfAbsent(root,
      _ => new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]())

  /** Manifest-open counter (full parses + header prefix reads) —
    * lets specs assert the I/O shape of metadata walks. */
  private[graft] val manifestReads =
    new java.util.concurrent.atomic.AtomicLong()

  /** True when `df` would execute on fewer than `target` partitions.
    * Plans containing any Exchange are never "narrow": a shuffle runs
    * at spark.sql.shuffle.partitions, and probing below a broadcast
    * would materialize the broadcast job. For exchange-free plans the
    * RDD partition count IS the answer and is computed driver-side
    * (file listing + bin-packing — no job even under AQE, since query
    * stages only form at exchange boundaries). A raw file count would
    * misjudge both directions: 32 small files bin-pack into 1-2 scan
    * splits (narrow, but `32 < 32` fails), and a 0-file local
    * relation is maximally narrow. */
  private[graft] def isNarrow(df: DataFrame, target: Int): Boolean = {
    val exchanged = df.queryExecution.sparkPlan.exists {
      case _: org.apache.spark.sql.execution.exchange.Exchange => true
      case _ => false
    }
    !exchanged && df.rdd.getNumPartitions < target
  }

  /** Operators whose size-only estimate keeps the CHILD's size while
    * emitting more rows: Generate (explode) and Expand (rollup, cube,
    * grouping sets, multi-distinct aggregates). */
  private def rowExpanding(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    p match {
      case _: org.apache.spark.sql.catalyst.plans.logical.Generate |
          _: org.apache.spark.sql.catalyst.plans.logical.Expand => true
      case _ => false
    }

  /** Size-adaptive write task width (guide §2.2/§6): the number of
    * write tasks that lays `df` out in ~128 MB files, from the
    * optimizer's driver-side size estimate (no execution).
    *
    *  - estimate-less plans keep the session floor
    *    `min(8, defaultParallelism)` (the pre-r19 width);
    *  - a SMALL commit (est under floor×128 MB — every trickle
    *    append, micro-batch and DML rewrite at test scale) collapses
    *    to ceil(est/128 MB), usually ONE task: no exchange, one data
    *    file, one footer harvest, one manifest entry. Size-only
    *    estimation keeps the CHILD's size through row-expanding
    *    operators, so a plan containing a Generate (explode) or an
    *    Expand (rollup, cube) can undershoot by the fan-out factor —
    *    those keep the floor instead of risking a serialized giant
    *    write (r19 advice);
    *  - a LARGE commit fans out by SIZE: ceil(est/128 MB) may exceed
    *    the floor (round 20 — the r19 form capped at the floor, so a
    *    narrow TB-scale frame would have written ≤8 multi-GB files),
    *    bounded by 2×defaultParallelism so a wildly overshooting
    *    join estimate cannot explode the task count. Already-wide
    *    (post-shuffle) frames skip forced widening entirely via
    *    [[isNarrow]], so the raise only reaches narrow frames, whose
    *    scan-based estimates are the reliable ones. */
  private[graft] def writeWidth(df: DataFrame): Int = {
    val sessionPar = df.sparkSession.sparkContext.defaultParallelism
    val fallbackPar = math.min(8, sessionPar)
    val targetFileBytes = 128L << 20
    val est =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case scala.util.control.NonFatal(_) => BigInt(-1) }
    if (est <= 0) fallbackPar
    else {
      val bySize = ((est + targetFileBytes - 1) / targetFileBytes)
        .max(BigInt(1))
      if (bySize <= fallbackPar) {
        val expanding = df.queryExecution.optimizedPlan.exists(rowExpanding)
        if (expanding) fallbackPar else bySize.toInt
      } else {
        // the RAISE direction trusts the estimate only when it is
        // scan-anchored (measured in-round: the first raise form
        // doubled every streaming-sink micro-batch and lake_merge):
        //  - a leaf without real stats reports the defaultSizeInBytes
        //    sentinel (Long.MaxValue; streaming-rewrapped batch plans
        //    do this) and poisons everything above it — projections
        //    scale it below the sentinel, so the check must be at the
        //    LEAVES, not on est;
        //  - size-only Join stats MULTIPLY (a 5 MB x 5 MB merge
        //    "estimates" terabytes) and Generate/Expand keep the child's
        //    size — both make est meaningless in this direction.
        // A big SCAN-shaped narrow frame (the verdict's case: CTAS or
        // rewrite from a few-file TB-scale input) raises for real;
        // everything else keeps the r18/r19 session floor.
        val plan = df.queryExecution.optimizedPlan
        val sentinel =
          df.sparkSession.sessionState.conf.defaultSizeInBytes
        val untrusted = plan.collectLeaves().exists(
            _.stats.sizeInBytes >= sentinel) ||
          plan.exists {
            case _: org.apache.spark.sql.catalyst.plans.logical.Join =>
              true
            case p => rowExpanding(p)
          }
        if (untrusted) fallbackPar
        else bySize.min(BigInt(math.max(2 * sessionPar, fallbackPar)))
          .toInt
      }
    }
  }

  /** The default branch every table is born with. */
  val MainBranch = "main"

  /** Session conf carrying the write-audit-publish branch (Iceberg's
    * `spark.wap.branch`): while set, SQL DML against registered lake
    * tables commits onto the named branch, and same-session reads
    * resolve the branch head (falling back to main when the branch
    * does not exist, exactly Iceberg's read fallback). Writes to a
    * missing branch refuse loudly. */
  val WapBranchConf = "graft.wap.branch"

  /** Table property holding the write sort order (comma-separated
    * column list; Iceberg's `SORTED BY`). See writeData. */
  val SortOrderProp = "write.sort.order"

  /** Row lineage (Iceberg v3 `_row_id` / `_last_updated_sequence_
    * number`) — "true" enables per-commit first-row-id assignment,
    * lineage-preserving rewrites, and [[GraftTable.readLineage]]. */
  val RowLineageProp = "row.lineage"

  /** Hidden lineage columns materialized into REWRITTEN data files
    * (appends never carry them — their rows inherit file-range ids);
    * invisible to normal reads, which project the table schema. */
  val RowIdColName = "_g_row_id"
  val LastSeqColName = "_g_last_seq"

  /** Table property: per-commit file count at which manifest entries
    * spill out of the snapshot manifest into partition-sorted
    * [[ManifestShard]]s (and the target files-per-shard). Default
    * 512 — at 10⁷ files that is ~2 × 10⁴ shards, each opened only
    * when a pruned read's partition range overlaps it. */
  val ShardFilesProp = "graft.manifest.shard-files"

  /** Throwaway z-value column used during a zorder compaction. */
  private[lakehouse] val ZCol = "_graft_zvalue"

  /** Flat-namespace prefix for source columns in [[MergeClause]]
    * conditions and value expressions. */
  val SrcPrefix = "_src_"
  private[lakehouse] val MatchMarker = SrcPrefix + "_graft_matched"
  private[lakehouse] val WinnerCol = SrcPrefix + "_graft_winner"
  private[lakehouse] val SrcCntCol = SrcPrefix + "_graft_scnt"

  /** Marker embedded in the executor-raised MERGE cardinality error;
    * [[GraftTable.mergeAt]] translates it to the API's
    * IllegalArgumentException. */
  private[lakehouse] val MergeDupMarker = "GRAFT_MERGE_DUPLICATE_SOURCE"

  private[lakehouse] def chainContains(t: Throwable, marker: String): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20)
      .exists(e => e.getMessage != null && e.getMessage.contains(marker))

  /** Create a new table at `root` seeded with `df` (snapshot 1),
    * optionally hive-partitioned by `partitionBy`. */
  def create(spark: SparkSession, root: String, df: DataFrame,
      partitionBy: Seq[String] = Nil): GraftTable = {
    val t = new GraftTable(spark, root)
    require(t.currentSnapshotId == 0, s"table already exists at $root")
    t.append(df, partitionBy)
    t
  }

  /** Create a new EMPTY table at `root` — the SQL `CREATE TABLE`
    * shape: snapshot 1 records the schema and partition spec but no
    * data files; the first INSERT appends under them. */
  def createEmpty(spark: SparkSession, root: String, schema: StructType,
      partitionBy: Seq[String] = Nil): GraftTable = {
    val t = new GraftTable(spark, root)
    require(t.currentSnapshotId == 0, s"table already exists at $root")
    PartField.parseAll(partitionBy).foreach(f =>
      require(schema.fieldNames.contains(f.col),
        s"partition source column ${f.col} is not in the table schema"))
    t.commit("create", schema, Nil, partitionBy, expectedParent = 0L)
    t
  }

  def load(spark: SparkSession, root: String): GraftTable =
    new GraftTable(spark, root)

  /** Whole-directory migration (Iceberg's `migrate` to `add_files`'s
    * incremental form): a new table at `root` whose first data
    * snapshot adopts `srcDir`'s parquet in place — schema from the
    * files, zero bytes copied. See [[GraftTable.addFiles]] for the
    * adoption contract. */
  def adopt(spark: SparkSession, root: String, srcDir: String)
      : GraftTable = {
    val t = createEmpty(spark, root, spark.read.parquet(srcDir).schema)
    t.addFiles(srcDir)
    t
  }
}
