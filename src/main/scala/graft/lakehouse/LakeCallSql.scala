package graft.lakehouse

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand

/** Iceberg's stored-procedure surface — `CALL cat.system.proc(...)` —
  * mapped onto the SAME commands the OPTIMIZE / VACUUM / ALTER /
  * RESTORE statements lower to. Iceberg documents procedures as THE
  * maintenance idiom (expire_snapshots, rewrite_data_files,
  * rollback_to_snapshot, …), so a user porting reference-style
  * maintenance scripts can keep their CALL statements verbatim.
  *
  * Parser-level claim like [[LakeMaintenance]]: Spark's own grammar
  * has no CALL without a procedure plugin. The catalog segment must
  * be the CONFIGURED one ([[LakeRegistry.catalogOf]]); any other
  * catalog falls through (and fails in Spark's parser, loudly).
  * Named (`arg => 'v'`) and positional arguments both parse; an
  * unknown procedure refuses with the known list — silently falling
  * through would error as a syntax problem pointing nowhere.
  *
  * Everything is metadata-scale at any table size: each procedure
  * delegates to the corresponding command, whose cost model is
  * documented at its own definition.
  */
object LakeCallSql {

  private val CallRe =
    """(?is)\s*CALL\s+(\w+)\s*\.\s*system\s*\.\s*(\w+)\s*\((.*)\)\s*;?\s*""".r

  /** Top-level comma split honoring single-quoted strings (a `where`
    * predicate may contain commas). */
  private def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var q = false
    var depth = 0
    for (c <- s) c match {
      case '\'' => q = !q; sb += c
      case '(' if !q => depth += 1; sb += c
      case ')' if !q => depth -= 1; sb += c
      case ',' if !q && depth == 0 => out += sb.toString; sb.clear()
      case ch => sb += ch
    }
    if (sb.toString.trim.nonEmpty) out += sb.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private val Named = """(?s)(\w+)\s*=>\s*(.*)""".r

  /** Resolve positional + named args against `params` (the
    * procedure's declared parameter order). Positional args may not
    * follow named ones (they would bind ambiguously), and a
    * parameter bound twice refuses rather than last-wins. */
  private def bind(proc: String, params: Seq[String],
      raw: Seq[String]): Map[String, String] = {
    val out = scala.collection.mutable.Map.empty[String, String]
    var pos = 0
    var namedSeen = false
    raw.foreach {
      case Named(k, v) =>
        val key = k.toLowerCase
        require(params.contains(key),
          s"$proc: unknown argument '$k' (takes ${params.mkString(", ")})")
        require(!out.contains(key), s"$proc: duplicate argument '$k'")
        namedSeen = true
        out(key) = v.trim
      case v =>
        require(!namedSeen,
          s"$proc: positional argument after named ones")
        require(pos < params.size,
          s"$proc: too many arguments (takes ${params.mkString(", ")})")
        out(params(pos)) = v.trim
        pos += 1
    }
    out.toMap
  }

  private def str(v: String): String = {
    require(v.length >= 2 && v.head == '\'' && v.last == '\'',
      s"expected a quoted string, got $v")
    // SQL escaping: a doubled quote inside the literal is one quote
    // (a `where` predicate carries its own string literals)
    v.substring(1, v.length - 1).replace("''", "'")
  }

  /** Epoch millis of a `TIMESTAMP '…'` (or bare quoted) literal,
    * interpreted in the session zone like the VACUUM forms. Also the
    * streaming source's `startingTimestamp` parser. */
  private[graft] def tsMillis(spark: SparkSession, v: String): Long = {
    val s0 = str(v.replaceAll("(?i)^TIMESTAMP\\s+", "")).replace(' ', 'T')
    val zone = java.time.ZoneId.of(
      spark.sessionState.conf.sessionLocalTimeZone)
    val ldt =
      if (s0.contains('T')) java.time.LocalDateTime.parse(s0)
      else java.time.LocalDate.parse(s0).atStartOfDay()
    ldt.atZone(zone).toInstant.toEpochMilli
  }

  def parse(spark: SparkSession, sqlText: String): Option[LogicalPlan] =
    sqlText match {
      case CallRe(cat, proc0, argsRaw)
          if cat.toLowerCase == LakeRegistry.catalogOf(spark) =>
        val proc = proc0.toLowerCase
        def args(params: String*): Map[String, String] =
          bind(proc, params, splitTop(argsRaw))
        // a missing REQUIRED argument names the procedure and the
        // argument (not a bare key-not-found), like every other
        // refusal in this file
        def req(a: Map[String, String], k: String): String =
          a.getOrElse(k, throw new IllegalArgumentException(
            s"$proc: missing required argument '$k'"))
        def table(a: Map[String, String]): String = {
          val raw = req(a, "table")
          val n = LakeRegistry.keyOf(spark,
            str(raw).toLowerCase.split('.').toSeq).getOrElse(
            throw new IllegalArgumentException(
              s"$proc: bad table name $raw"))
          require(LakeDdl.claimDrop(spark, n), s"no lake table '$n'")
          n
        }
        Some(proc match {
          case "rollback_to_snapshot" =>
            val a = args("table", "snapshot_id")
            GraftRestoreCommand(table(a),
              Some(req(a, "snapshot_id").toLong), None)
          case "set_current_snapshot" =>
            val a = args("table", "snapshot_id")
            GraftRestoreCommand(table(a),
              Some(req(a, "snapshot_id").toLong), None)
          case "rollback_to_timestamp" =>
            val a = args("table", "timestamp")
            GraftRollbackTsCommand(table(a),
              tsMillis(spark, req(a, "timestamp")))
          case "cherrypick_snapshot" =>
            val a = args("table", "snapshot_id")
            GraftCherryPickCommand(table(a),
              req(a, "snapshot_id").toLong)
          case "fast_forward" =>
            val a = args("table", "branch", "to")
            GraftFastForwardCommand(table(a), str(req(a, "branch")),
              str(req(a, "to")))
          case "expire_snapshots" =>
            val a = args("table", "older_than", "retain_last")
            // absolute cutoff → the age form the VACUUM commands
            // take; run follows parse immediately, so now-anchored
            // conversion preserves the cutoff. NOTE: a FUTURE
            // older_than clamps to age 0 ("older than now") — the
            // retain_last floor is then the only protection, exactly
            // Iceberg's composed semantics.
            def age = math.max(0L, System.currentTimeMillis() -
              tsMillis(spark, req(a, "older_than")))
            if (!a.contains("older_than") && !a.contains("retain_last"))
              // NO retention args = table-property-driven (Iceberg's
              // history.expire.max-snapshot-age-ms /
              // min-snapshots-to-keep, with Iceberg's own defaults:
              // 5 days, keep 1) — the shape a scheduled maintenance
              // job actually calls; props resolve at RUN time
              GraftVacuumPropsCommand(table(a))
            else if (a.contains("older_than") && a.contains("retain_last"))
              // composed (Iceberg supports both together): keep
              // max(n newest, everything younger than the cutoff)
              GraftVacuumComposedCommand(table(a),
                req(a, "retain_last").toInt, age)
            else if (a.contains("retain_last"))
              GraftVacuumCommand(table(a), req(a, "retain_last").toInt)
            else GraftVacuumAgeCommand(table(a), age)
          case "remove_orphan_files" =>
            val a = args("table", "older_than")
            GraftVacuumOrphansCommand(table(a),
              a.get("older_than").map(v => math.max(0L,
                System.currentTimeMillis() - tsMillis(spark, v))))
          case "rewrite_data_files" =>
            val a = args("table", "strategy", "sort_order", "where")
            val n = table(a)
            val strategy = a.get("strategy").map(str).map(_.toLowerCase)
              .getOrElse("binpack")
            require(strategy == "binpack" || strategy == "sort",
              s"rewrite_data_files: unknown strategy '$strategy'")
            // where-scoped rewrites are binpack-only: silently
            // dropping a requested sort order would compact the
            // other way (the loud-refusal convention of this file)
            if (a.contains("where"))
              require(strategy == "binpack" && !a.contains("sort_order"),
                "rewrite_data_files: where is supported only with the " +
                  "binpack strategy (a filtered sort/zorder rewrite is " +
                  "not; drop the where or the sort_order)")
            a.get("where").map(w => GraftCompactWhereCommand(n, 1,
                str(w)): LogicalPlan).getOrElse {
              // Iceberg's contract: strategy=>'sort' with no explicit
              // sort_order sorts by the table's declared write order
              // (ALTER TABLE … WRITE ORDERED BY); a table without one
              // refuses rather than silently bin-packing unsorted
              val sortOrder = a.get("sort_order").map(str).orElse {
                if (strategy != "sort") None
                else Some(LakeRegistry.get(n).get.properties
                  .getOrElse(GraftTable.SortOrderProp,
                    throw new IllegalArgumentException(
                      "rewrite_data_files: strategy=>'sort' needs a " +
                        "sort_order, or a table write order declared " +
                        "via ALTER TABLE … WRITE ORDERED BY")))
              }
              sortOrder match {
                case Some(so)
                    if so.toLowerCase.takeWhile(_ != '(').trim
                      == "zorder" =>
                  val i = so.indexOf('(')
                  val j = so.lastIndexOf(')')
                  require(i >= 0 && j > i,
                    "rewrite_data_files: zorder sort_order needs " +
                      "'zorder(col, …)'")
                  val cols = so.substring(i + 1, j)
                    .split(',').map(_.trim).toSeq
                  GraftOptimizeCommand(n, None, "ZORDER", cols)
                case Some(so) =>
                  // Iceberg sort orders carry ASC/DESC NULLS …
                  // qualifiers; the engine's sort compaction is
                  // ascending-nulls-first, so ONLY that form maps —
                  // anything mentioning DESC or NULLS LAST refuses
                  // rather than silently compacting the other way
                  val cols = so.split(',').map(_.trim).map { c =>
                    val base = c.split("\\s+").head
                    val qual = c.drop(base.length).trim.toUpperCase
                      .replaceAll("\\s+", " ")
                    require(Set("", "ASC", "ASC NULLS FIRST",
                        "NULLS FIRST")(qual),
                      s"rewrite_data_files: unsupported sort " +
                        s"qualifier in '$c' (ascending only)")
                    base
                  }.toSeq
                  GraftOptimizeCommand(n, None, "SORT", cols)
                case None => GraftOptimizeCommand(n, None, "", Nil)
              }
            }
          case "rewrite_manifests" =>
            GraftRewriteManifestsCommand(table(args("table")))
          case "rewrite_position_delete_files" =>
            GraftRewriteDeletesCommand(table(args("table")))
          case "create_changelog_view" =>
            val a = args("table", "changelog_view", "start_snapshot_id",
              "end_snapshot_id")
            val n = table(a)
            // a READ with no policy seam: the temp view would hand
            // every principal the raw changelog — refuse governed
            // names on BOTH forms, exactly like the table_changes TVF
            require(!graft.fgac.SecureCatalog.isVisibleName(n) &&
              !graft.fgac.SecureCatalog.isVisibleName(
                str(a("table")).toLowerCase),
              s"create_changelog_view on governed name '$n' is not " +
                "supported: read the governed table, not its changelog")
            GraftChangelogViewCommand(n,
              a.get("changelog_view").map(str)
                .getOrElse(s"${n.split('.').last}_changes"),
              a.get("start_snapshot_id").map(_.toLong),
              a.get("end_snapshot_id").map(_.toLong))
          case "publish_changes" =>
            val a = args("table", "wap_id")
            GraftPublishChangesCommand(table(a), str(req(a, "wap_id")))
          // ---- table-adoption procedures (round 18) ----------------
          // these CREATE catalog entries, so the name must be FRESH —
          // the `table(a)` helper (which requires existence) is wrong
          // for them
          case "register_table" =>
            val a = args("table", "location")
            GraftRegisterTableCommand(freshName(spark, proc, req(a,
              "table")), str(req(a, "location")))
          case "migrate" =>
            val a = args("table", "source_dir")
            GraftMigrateCommand(freshName(spark, proc, req(a, "table")),
              str(req(a, "source_dir")))
          case "add_files" =>
            // zero-copy import into an EXISTING table (Iceberg's
            // add_files; `migrate` above is the fresh-adoption form)
            // — the table must exist, so the `table(a)` helper IS
            // right here, unlike the two adoption procedures
            val a = args("table", "source_dir")
            GraftAddFilesCommand(table(a), str(req(a, "source_dir")))
          case "snapshot" =>
            val a = args("source_table", "table", "location")
            val srcRaw = req(a, "source_table")
            val src = LakeRegistry.keyOf(spark,
              str(srcRaw).toLowerCase.split('.').toSeq).getOrElse(
              throw new IllegalArgumentException(
                s"$proc: bad table name $srcRaw"))
            require(LakeDdl.claimDrop(spark, src), s"no lake table '$src'")
            val dst = freshName(spark, proc, req(a, "table"))
            GraftShallowCloneCommand(dst, src,
              a.get("location").map(str)
                .getOrElse(LakeDdl.managedRoot(spark, dst)))
          case "ancestors_of" =>
            val a = args("table", "snapshot_id")
            val n = table(a)
            // a metadata READ with no policy seam: snapshot ids and
            // commit timestamps of a governed table are commit-rate
            // disclosure — refuse governed names on both forms,
            // exactly like create_changelog_view above (DESCRIBE on
            // the same table is policy-gated and audited; this must
            // not be the unaudited side door)
            require(!graft.fgac.SecureCatalog.isVisibleName(n) &&
              !graft.fgac.SecureCatalog.isVisibleName(
                str(a("table")).toLowerCase),
              s"ancestors_of on governed name '$n' is not supported: " +
                "snapshot history is not exposed through the governed " +
                "surface")
            GraftAncestorsCommand(n, a.get("snapshot_id").map(_.toLong))
          case "compute_table_stats" =>
            // Iceberg's stats procedure, same machinery as the
            // `ANALYZE TABLE … COMPUTE STATISTICS` statement form
            val a = args("table", "columns")
            // Iceberg's default: no columns argument = every
            // (scalar) column, resolved at run time
            GraftAnalyzeCommand(table(a),
              a.get("columns").map(str(_).split(',').toSeq
                .map(_.trim.toLowerCase).filter(_.nonEmpty))
                .getOrElse(Seq("*")))
          case other => throw new UnsupportedOperationException(
            s"unknown procedure '$other' (supported: " +
              "rollback_to_snapshot, rollback_to_timestamp, " +
              "set_current_snapshot, cherrypick_snapshot, " +
              "fast_forward, expire_snapshots, remove_orphan_files, " +
              "rewrite_data_files, rewrite_manifests, " +
              "rewrite_position_delete_files, create_changelog_view, " +
              "publish_changes, register_table, migrate, snapshot, " +
              "ancestors_of, add_files, compute_table_stats)")
        })
      case _ => None
    }

  /** Canonicalize a CREATE-shaped procedure's target name — the name
    * must parse, but existence is checked (and refused) by the
    * command itself so the refusal carries the procedure's wording. */
  private def freshName(spark: SparkSession, proc: String,
      raw: String): String =
    LakeRegistry.keyOf(spark,
      str(raw).toLowerCase.split('.').toSeq).getOrElse(
      throw new IllegalArgumentException(s"$proc: bad table name $raw"))
}

/** `CALL cat.system.publish_changes(table, wap_id)` — publish a
  * staged write-audit-publish commit by its id (Iceberg's
  * publish_changes / the cherry-pick end of the `spark.wap.id`
  * workflow; this engine's stage token IS the wap id,
  * [[GraftTable.stageAppend]]). Write-gated like every other
  * table-mutating procedure; an unknown/spent id refuses loudly. */
case class GraftPublishChangesCommand(name: String, wapId: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "publish_changes")
    val t = LakeRegistry.get(name).getOrElse(
      throw new IllegalArgumentException(
        s"publish_changes: no lake table '$name'"))
    t.publish(wapId)
    Seq.empty
  }
}

/** `CALL cat.system.register_table(table, location)` — adopt an
  * EXISTING graft table root into the catalog under a fresh name:
  * metadata-only (the root's manifest IS the table state — Iceberg's
  * register_table points at a metadata file the same way; this
  * engine's root-addressed manifest dir is that pointer). Refuses an
  * empty/fresh root (nothing to register — use CREATE TABLE), an
  * existing name, and governed-name shadowing. */
case class GraftRegisterTableCommand(name: String, root: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    require(LakeRegistry.get(name).isEmpty &&
        ViewRegistry.get(name).isEmpty,
      s"register_table: '$name' already exists")
    require(!graft.fgac.SecureCatalog.isVisibleName(Seq(name)),
      s"register_table: '$name' is a governed table name")
    // the path door: registering a GOVERNED table's storage root
    // under a fresh ungoverned name would alias it policy-free —
    // the same boundary as the streaming provider's path deny
    graft.fgac.SecureCatalog.authorizePathLoad(spark, root,
      "REGISTER_TABLE")
    val t = GraftTable.load(spark, root)
    require(t.currentSnapshotId > 0,
      s"register_table: no graft table at '$root' (an empty root has " +
        "nothing to register — CREATE TABLE instead)")
    LakeRegistry.register(name, t)
    Seq.empty
  }
}

/** `CALL cat.system.migrate(table, source_dir)` — whole-directory
  * migration of plain parquet into a NEW managed graft table whose
  * first data snapshot adopts the files IN PLACE (zero bytes copied;
  * [[GraftTable.adopt]] / the add_files contract). Iceberg's
  * `migrate` procedure with the source named explicitly — this
  * engine has no Hive metastore to resolve a bare name against. */
case class GraftMigrateCommand(name: String, srcDir: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    require(LakeRegistry.get(name).isEmpty &&
        ViewRegistry.get(name).isEmpty,
      s"migrate: '$name' already exists")
    require(!graft.fgac.SecureCatalog.isVisibleName(Seq(name)),
      s"migrate: '$name' is a governed table name")
    // source_dir pointed at (or under) a governed table's storage is
    // the same path-door bypass register_table closes above — a
    // migrate of `<governed root>/data` would adopt the governed
    // bytes into an ungoverned table
    graft.fgac.SecureCatalog.authorizePathLoad(spark, srcDir, "MIGRATE")
    LakeRegistry.register(name,
      GraftTable.adopt(spark, LakeDdl.managedRoot(spark, name), srcDir))
    Seq.empty
  }
}

/** `CALL cat.system.add_files(table, source_dir)` — zero-copy import
  * of a parquet directory into an EXISTING table (Iceberg's
  * `add_files`; [[GraftMigrateCommand]] is the fresh-adoption form):
  * a metadata-only commit over [[GraftTable.addFiles]], which
  * refuses hive-layout sources, partitioned targets, schema drift
  * (merged-union type check + per-file presence check), and
  * already-referenced files — migration scripts call this
  * constantly, so every refusal names its cause. Write-gated like
  * every table-mutating procedure; a source_dir at or under a
  * governed table's storage refuses through the same path-door
  * boundary as register_table/migrate. */
case class GraftAddFilesCommand(name: String, srcDir: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "add_files")
    graft.fgac.SecureCatalog.authorizePathLoad(spark, srcDir,
      "ADD_FILES")
    val t = LakeRegistry.get(name).getOrElse(
      throw new IllegalArgumentException(
        s"add_files: no lake table '$name'"))
    t.addFiles(srcDir)
    Seq.empty
  }
}

/** `CALL cat.system.ancestors_of(table[, snapshot_id])` — the parent
  * chain of the named snapshot (default: the head), newest first,
  * answered from cached headers ([[GraftTable.ancestorsOf]]): which
  * commits produced this state, without a single manifest parse. */
case class GraftAncestorsCommand(name: String, from: Option[Long])
    extends LeafRunnableCommand {
  import org.apache.spark.sql.catalyst.expressions.{Attribute,
    AttributeReference}
  import org.apache.spark.sql.types.LongType
  override val output: Seq[Attribute] = Seq(
    AttributeReference("snapshot_id", LongType, nullable = false)(),
    AttributeReference("timestamp_ms", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = LakeRegistry.get(name).getOrElse(
      throw new IllegalArgumentException(
        s"ancestors_of: no lake table '$name'"))
    val chain = t.ancestorsOf(from.getOrElse(-1L))
    require(chain.nonEmpty,
      s"ancestors_of: snapshot ${from.getOrElse(-1L)} not found in " +
        s"'$name'")
    chain.map { case (id, ts) => Row(id, ts) }
  }
}

/** `rollback_to_timestamp`: the snapshot current AS OF the timestamp
  * becomes the head again (resolved at RUN time from the manifest
  * log, like every other time-travel read). */
case class GraftRollbackTsCommand(name: String, millis: Long)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "RESTORE")
    val t = LakeRegistry.get(name).get
    t.rollback(t.snapshotIdAsOfTimestamp(millis))
    Seq.empty
  }
}

/** `create_changelog_view`: registers a session temp view over the
  * table's net changelog for the snapshot range (default: everything
  * up to the CURRENT head, resolved at run time) — Iceberg's
  * procedure of the same name, backed by [[GraftTable.changes]]. */
case class GraftChangelogViewCommand(name: String, view: String,
    fromId: Option[Long], toId: Option[Long])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val t = LakeRegistry.get(name).get
    t.changes(fromId.getOrElse(0L),
        toId.getOrElse(t.currentSnapshotId))
      .createOrReplaceTempView(view)
    Seq.empty
  }
}
