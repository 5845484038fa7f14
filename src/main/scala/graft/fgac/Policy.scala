package graft.fgac

/** Declarative fine-grained access control model, re-expressing AWS
  * Lake Formation's data-cells-filter semantics as plain data.
  *
  * Reference semantics being modeled (all in
  * /root/reference/producer_account_setup/producer_iceberg_datalake_setup.sh):
  *   - row filter `"FilterExpression": "state in ('Texas', 'New York')"`
  *     (line 282)
  *   - column filter `ColumnNames: [all columns except "ssn"]`
  *     (line 278)
  *   - the two combined in one policy = a "data cells filter"
  *     (`patients_column_row_filter`, lines 271-291)
  *   - grants per principal, with deny-by-default (consumer team2 has
  *     no grant on patients → access denied,
  *     /root/reference/consumer_account_setup/consumer_emr_on_eks_setup.sh:476-494)
  *   - resource links aliasing a governed table into a consumer
  *     namespace (`rl_patients`, `rl_claims`,
  *     consumer_emr_on_eks_setup.sh:9-10, 407-412).
  *
  * Policies are *data*; enforcement is a Catalyst rewrite (see
  * [[FgacRule]]) so Spark's optimizer still pushes the injected
  * filter/projection into the scan — FGAC costs no extra shuffle and
  * keeps parquet row-group pruning + column pruning at 100 TB scale.
  */
final case class TablePolicy(
    table: String,
    /** SQL predicate evaluated against the raw (pre-projection) row,
      * exactly like Lake Formation's `RowFilter.FilterExpression`. */
    rowFilter: Option[String] = None,
    /** Visible columns; None = all. Like `TableData.ColumnNames`. */
    allowedColumns: Option[Seq[String]] = None,
    /** column -> SQL masking expression (evaluated pre-projection).
      * Lake Formation has no masking; Lakeguard-style engines do, and
      * it falls out of the same rewrite for free. */
    masks: Map[String, String] = Map.empty,
    /** Write (DML) permission — Lake Formation grants SELECT and
      * INSERT/DELETE/ALTER separately
      * (producer_iceberg_datalake_setup.sh:215-262,
      * consumer_emr_on_eks_setup.sh:294-335); a grant without `write`
      * is read-only under the grant's filters. */
    write: Boolean = false,
    /** WITH GRANT OPTION (the reference's cross-account topology:
      * the producer grants the consumer ACCOUNT with
      * `PermissionsWithGrantOption`,
      * producer_iceberg_datalake_setup.sh:285-306, and the consumer
      * admin re-scopes what it received to team roles,
      * consumer_emr_on_eks_setup.sh:313-335). Only a grantable policy
      * can be delegated via [[SecureCatalog.regrant]], and a re-grant
      * can only NARROW. */
    grantable: Boolean = false,
    /** SELECT permission. `false` = a DESCRIBE-only grant (the
      * reference grants DESCRIBE separately from SELECT,
      * producer_iceberg_datalake_setup.sh:305): the principal sees
      * the (column-filtered) schema, but any scan is denied. */
    selectable: Boolean = true,
    /** Who delegated this policy ([[SecureCatalog.regrant]]); None =
      * a direct grant. A re-grant may only overwrite a previous
      * delegation from the SAME grantor — never a direct grant or
      * another grantor's delegation (that would let an unprivileged
      * delegation path act as a revocation). */
    grantor: Option[String] = None)

final case class Principal(
    name: String,
    /** table name -> policy. Absence of a governed table here = deny. */
    grants: Map[String, TablePolicy] = Map.empty,
    /** resource-link name -> governed table name. */
    links: Map[String, String] = Map.empty,
    /** tag -> policy: the LF-Tags model — grant once by tag, every
      * table carrying the tag is covered. A direct table grant wins
      * over a tag grant (most-specific). The policy's `table` field
      * is rebound to the concrete table at authorization time. */
    tagGrants: Map[String, TablePolicy] = Map.empty,
    /** namespace (dotted prefix) -> policy: the Lake Formation
      * Database-resource grant (the reference grants the consumer
      * account DESCRIBE on the whole database,
      * producer_iceberg_datalake_setup.sh:259-274, before any table
      * grant). Covers every governed table under the namespace —
      * queried directly or through a resource link living in it.
      * Weakest in the fallback chain: table grant > tag grant >
      * namespace grant (most-specific wins). Namespace policies are
      * PERMISSION-ONLY (no filters/columns/masks — LF database
      * grants carry none); longest matching prefix wins. */
    nsGrants: Map[String, TablePolicy] = Map.empty)

/** Deny-by-default violation (team2 querying patients in the ref). */
final class AccessDeniedException(msg: String)
    extends RuntimeException(msg)

/** CloudTrail-style access audit (the reference's governance story
  * pairs every Lake Formation decision with a CloudTrail event;
  * consumer jobs are debugged from exactly this trail). Every
  * ALLOW/DENY decision [[SecureCatalog.authorize]] /
  * [[SecureCatalog.authorizeWrite]] makes over a GOVERNED resource is
  * recorded here — reads, writes, and unknown-principal probes alike
  * — so one funnel audits every path (SQL, catalog reads, views,
  * lake DML) with no per-call-site wiring.
  *
  * Recording is O(1) on a concurrent queue; the ANALYZER may re-fire
  * a resolution rule, so consumers must treat the trail as
  * at-least-once per decision (the audit query projects DISTINCT
  * decisions). Ungoverned resources and the empty admin principal are
  * not audited — they are outside the governance boundary. In
  * production this queue is a write-behind to its own governed lake
  * table, partitioned by day; the in-memory form is the local-mode
  * stand-in, same contract as [[SecureCatalog]] itself. */
object AuditLog {
  final case class Event(seq: Long, principal: String, action: String,
      resource: String, outcome: String, detail: String)

  private val events =
    new java.util.concurrent.ConcurrentLinkedQueue[Event]()
  private val seqGen = new java.util.concurrent.atomic.AtomicLong(0)

  private[fgac] def record(principal: String, action: String,
      resource: String, outcome: String, detail: String): Unit =
    events.add(Event(seqGen.incrementAndGet(), principal, action,
      resource, outcome, detail))

  /** The granted policy's shape — WHAT the principal could see, not
    * the data: column visibility, filter presence, mask count. */
  private[fgac] def shapeOf(pol: TablePolicy): String =
    s"cols=${pol.allowedColumns.map(_.size.toString).getOrElse("all")}" +
      s" filter=${if (pol.rowFilter.isDefined) "y" else "n"}" +
      s" masks=${pol.masks.size}"

  /** Snapshot of the trail, oldest first. */
  def entries: Seq[Event] = {
    import scala.jdk.CollectionConverters._
    events.iterator().asScala.toSeq.sortBy(_.seq)
  }

  // last flushed seq per destination table root — the write-behind
  // high-water mark, so each flush appends exactly the new decisions
  private val flushedTo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** The audit-event row shape — ONE authority shared by
    * [[flushTo]] and the trail table's DDL (a field added to
    * [[Event]] must land here once, not be hand-synced across an
    * inline copy). */
  val schema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("seq", LongType, nullable = false),
      StructField("principal", StringType, nullable = false),
      StructField("action", StringType, nullable = false),
      StructField("resource", StringType, nullable = false),
      StructField("outcome", StringType, nullable = false),
      StructField("detail", StringType, nullable = false)))
  }

  /** Write-behind persistence: append every decision since the last
    * flush INTO a governed lake table — the production form the
    * in-memory queue stands in for. The trail then has the lake's own
    * guarantees (snapshots, time travel, CDC, streaming reads via the
    * graft-lake source), and GOVERNING the audit table closes the
    * loop: the auditor's read of the trail is itself audited and
    * lands in the next flush. Each flush is one append commit of the
    * delta above the per-table high-water mark (idempotent to re-run,
    * O(new decisions)); production would run it on a timer or commit
    * hook and partition by day. */
  def flushTo(spark: org.apache.spark.sql.SparkSession,
      table: graft.lakehouse.GraftTable): Long = {
    val from: Long =
      Option(flushedTo.get(table.location)).map(_.longValue).getOrElse(0L)
    val batch = entries.filter(_.seq > from)
    if (batch.isEmpty) return 0L
    val rows = batch.map(e => org.apache.spark.sql.Row(
      e.seq, e.principal, e.action, e.resource, e.outcome, e.detail))
    table.append(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema))
    flushedTo.put(table.location, batch.map(_.seq).max)
    batch.size.toLong
  }
}

/** JVM-wide policy registry (local-mode stand-in for the Lake
  * Formation service; on a cluster this would be a driver-side
  * catalog fetched once per session). */
object SecureCatalog {
  /** Session conf key carrying the active principal, the analog of
    * the job execution role in the reference
    * (consumer_emr_on_eks_setup.sh:434 `--execution-role-arn`). */
  val PrincipalConf = "spark.graft.principal"

  private val governed =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]() // name -> columns
  // name -> raw analyzed plan of a DataFrame-backed governed name:
  // held here, never under a session name, so only [[FgacRule]] can
  // reach it (the local-mode analog of the producer's
  // storage-credentials boundary) — from any session
  private val relations = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]()
  private val links =
    new java.util.concurrent.ConcurrentHashMap[String, String]() // link -> table
  private val principals =
    new java.util.concurrent.ConcurrentHashMap[String, Principal]()
  private val tableTags =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]() // table -> tags

  /** Govern `name` with column universe `columns` and no raw relation
    * of its own: graft views (which expand their query),
    * policy-only registrations, and lake tables (see [[relationOf]]). */
  def governTable(name: String, columns: Seq[String]): Unit =
    governed.put(name.toLowerCase, columns)
  /** Govern `name` over the raw relation `raw`: its columns and its
    * analyzed plan, which [[FgacRule]] splices under the reader's
    * policy — unless `name` is a registered lake table, which is
    * governed by name whatever `raw` read (see [[relationOf]]), so
    * `governTable(t, spark.table(t))` follows `t`'s commits. */
  def governTable(name: String,
      raw: org.apache.spark.sql.DataFrame): Unit = {
    relations.put(name.toLowerCase, raw.queryExecution.analyzed)
    governTable(name, raw.columns.toIndexedSeq)
  }
  /** The raw relation of governed `name` (a resolved link target) at
    * this analysis; engine-internal, like the storage credentials it
    * stands for. A name registered in [[graft.lakehouse.LakeRegistry]]
    * is governed BY NAME: it resolves through
    * [[graft.lakehouse.LakeRegistry.relation]] — the builder
    * ungoverned lake reads use — so it serves the current snapshot
    * (or the `graft.wap.branch` head) and takes `VERSION AS OF` /
    * `TIMESTAMP AS OF`. Any other name splices the plan it was
    * governed over, which has no snapshots to travel to. */
  private[graft] def relationOf(spark: org.apache.spark.sql.SparkSession,
      name: String, version: Option[String] = None,
      timestamp: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val key = name.toLowerCase
    if (graft.lakehouse.LakeRegistry.get(key).isDefined)
      graft.lakehouse.LakeRegistry.relation(spark, key, version, timestamp)
    else {
      val raw = Option(relations.get(key)).getOrElse(
        throw new IllegalStateException(s"governed table '$name' has no " +
          "raw relation: govern it with SecureCatalog.governTable(name, df)"))
      if (version.isEmpty && timestamp.isEmpty) raw
      else throw new UnsupportedOperationException(
        s"time travel on governed table '$name': it is governed over a " +
          "DataFrame plan, which has no snapshots; govern a registered " +
          "lake table to read its history")
    }
  }
  /** Remove a name from governance (dropped views/tables take their
    * governance entry with them — a dangling entry would make the
    * name un-recreatable and misroute reads). Its raw relation,
    * tags, every principal's grants on the name, and links pointing
    * at it go too: a stale grant would silently resurrect — write and
    * GRANT OPTION included — if a future same-named resource is
    * governed. */
  def ungovern(name: String): Unit = {
    val key = name.toLowerCase
    governed.remove(key)
    relations.remove(key)
    tableTags.remove(key)
    principals.replaceAll((_, p) =>
      if (p.grants.contains(key)) p.copy(grants = p.grants - key) else p)
    links.entrySet.removeIf(e => e.getValue == key)
  }
  def isGoverned(name: String): Boolean = governed.containsKey(name.toLowerCase)
  /** The column universe of governed `name`: a lake table's live
    * schema (schema evolution shows through the name, like its rows),
    * else the columns it was governed with. */
  def columnsOf(name: String): Seq[String] =
    Option(governed.get(name.toLowerCase)).fold(Seq.empty[String])(cols =>
      graft.lakehouse.LakeRegistry.get(name)
        .fold(cols)(_.currentSnapshot.schema.fieldNames.toSeq))
  def tagTable(name: String, tags: Set[String]): Unit =
    tableTags.put(name.toLowerCase, tags)
  def tagsOf(name: String): Set[String] =
    Option(tableTags.get(name.toLowerCase)).getOrElse(Set.empty)
  def register(p: Principal): Unit = {
    principals.put(p.name, p)
    p.links.foreach { case (l, t) => links.put(l.toLowerCase, t.toLowerCase) }
  }
  def principal(name: String): Option[Principal] = Option(principals.get(name))

  /** Names [[FgacRule]] intercepts: governed tables + resource links.
    * Registry keys are canonical lowercase dotted names, so the same
    * lookup serves `patients` and `dev.healthcare_db.rl_patients` —
    * the reference addresses every governed table through a
    * catalog-qualified name (consumer_emr_on_eks_setup.sh:407-412). */
  def isVisibleName(name: String): Boolean = {
    val lower = name.toLowerCase
    isGoverned(lower) || links.containsKey(lower)
  }
  /** Multi-part form: `Seq("dev", "db", "t")` ≡ `"dev.db.t"`. */
  def isVisibleName(parts: Seq[String]): Boolean =
    isVisibleName(parts.mkString("."))
  /** A resource link resolves to its target governed table. */
  def resolveLink(name: String): String =
    Option(links.get(name.toLowerCase)).getOrElse(name.toLowerCase)

  /** The policy `p` holds for the queried `relName` / its resolved
    * `target`, most-specific first: direct table grant > tag grant >
    * namespace grant (the LF precedence). The policy's table field is
    * rebound to the concrete target. */
  private def effectivePolicy(p: Principal, relName: String,
      target: String): Option[TablePolicy] =
    tablePolicy(p, target)
      .orElse(nsPolicyFor(p, relName, target).map(_.copy(table = target)))

  /** The direct table grant `p` holds on `target`, else its first tag
    * grant (tags sorted), rebound to `target`. */
  private def tablePolicy(p: Principal, target: String): Option[TablePolicy] =
    p.grants.get(target)
      .orElse(tagsOf(target).toSeq.sorted.flatMap(p.tagGrants.get)
        .headOption.map(_.copy(table = target)))

  /** The longest-prefix namespace grant covering either the QUERIED
    * name (a resource link lives in the consumer's database — a grant
    * on that database covers it) or the resolved target's own
    * namespace. */
  private def nsPolicyFor(p: Principal, relName: String,
      target: String): Option[TablePolicy] = {
    if (p.nsGrants.isEmpty) return None
    def prefixes(n: String): Seq[String] = {
      val parts = n.toLowerCase.split('.')
      (parts.length - 1 to 1 by -1).map(k => parts.take(k).mkString("."))
    }
    (prefixes(relName) ++ prefixes(target))
      .distinct.sortBy(-_.length)
      .flatMap(p.nsGrants.get).headOption
  }

  /** PATH-ACCESS boundary (round 18, spec-pinned): a PRINCIPAL-BEARING
    * session's path-addressed stream (`format("graft-lake")
    * .load(<storage root>)`) of a root that a registry reverse lookup
    * maps to a GOVERNED lake name refuses — every NAMED surface (SQL
    * reads, TVFs, DESCRIBE/SHOW, DML) enforces policy, so an open
    * path door through the streaming provider would be governance
    * bypass. Sessions WITHOUT a principal are the storage-credential
    * holder (the Lakeguard boundary: raw path access is the storage
    * layer's to control — same convention as [[authorizeWrite]]'s
    * admin pass), and batch `GraftTable.load` stays on that
    * credential-holder side of the line by design: it is the
    * engine-internal/owner API, not a policy surface. O(#registered
    * names) driver-side per stream START — loads are rare.
    *
    * Round 19: the SAME boundary guards the table-adoption
    * procedures (`CALL register_table(location => <governed root>)`
    * would alias a governed table under a fresh ungoverned name and
    * read it policy-free; `migrate(source_dir => <governed data
    * dir>)` has the equivalent hole) — callers pass `op` so the
    * audit row names the surface. Matching is PREFIX-based on the
    * normalized path: a SUBPATH of a governed root (`<root>/data`)
    * is the same storage and denies with it. */
  def authorizePathLoad(spark: org.apache.spark.sql.SparkSession,
      root: String, op: String = "PATH_LOAD"): Unit = {
    val who = spark.conf.get(PrincipalConf, "")
    if (who.isEmpty) return
    // compare the PATH component only: `file:/x` and `/x` name the
    // same local root, and a scheme-qualified spelling must not
    // slip past the deny (fail closed — two filesystems sharing a
    // path string deny together, which only ever over-refuses)
    def norm(p: String): String = {
      val u = new org.apache.hadoop.fs.Path(p).toUri
      val q = if (u.getPath == null || u.getPath.isEmpty) p else u.getPath
      if (q.length > 1) q.stripSuffix("/") else q
    }
    val target = norm(root)
    val hit = graft.lakehouse.LakeRegistry.list.find { n =>
      isVisibleName(n) && graft.lakehouse.LakeRegistry.get(n)
        .exists { t =>
          val loc = norm(t.location)
          target == loc || target.startsWith(loc + "/")
        }
    }
    hit.foreach { n =>
      AuditLog.record(who, op, n, "DENIED",
        "path-addressed access to a governed root")
      throw new AccessDeniedException(
        s"principal '$who' may not address governed table '$n' by " +
          "storage path; use the governed name")
    }
  }

  /** Write-path authorization: DML on a governed table requires a
    * grant with `write = true`. Ungoverned tables and ungoverned
    * (admin) sessions pass; everything else is deny-by-default —
    * without this, any principal that could *name* a table could
    * mutate it regardless of its read grant. */
  def authorizeWrite(principalName: String, relName: String, op: String): Unit = {
    if (principalName.isEmpty) return // admin / ungoverned session
    val target = resolveLink(relName)
    if (!isGoverned(target)) return
    val p = principal(principalName).getOrElse {
      AuditLog.record(principalName, op, target, "DENIED",
        "unknown principal")
      throw new AccessDeniedException(s"unknown principal '$principalName'")
    }
    if (!effectivePolicy(p, relName, target).exists(_.write)) {
      AuditLog.record(p.name, op, target, "DENIED", "no write grant")
      throw new AccessDeniedException(
        s"principal '${p.name}' has no write grant on governed table " +
          s"'$target' (attempted $op)")
    }
    AuditLog.record(p.name, op, target, "ALLOWED", "write grant")
  }

  /** Resolve what `principalName` may see of relation `relName`.
    * Returns None when the relation is not governed (no rewrite);
    * throws when governed but not granted, or granted DESCRIBE-only
    * (deny-by-default — SELECT is what a scan needs). */
  def authorize(principalName: String, relName: String): Option[TablePolicy] = {
    val target = resolveLink(relName)
    val p = principal(principalName).getOrElse {
      if (isGoverned(target))
        AuditLog.record(principalName, "SELECT", target, "DENIED",
          "unknown principal")
      throw new AccessDeniedException(s"unknown principal '$principalName'")
    }
    if (!isGoverned(target)) None
    else effectivePolicy(p, relName, target) match {
      case Some(pol) if !pol.selectable =>
        AuditLog.record(p.name, "SELECT", target, "DENIED",
          "DESCRIBE-only grant")
        throw new AccessDeniedException(
          s"principal '${p.name}' holds DESCRIBE but not SELECT on " +
            s"governed table '$target' — schema is visible, data is not")
      case Some(pol) =>
        AuditLog.record(p.name, "SELECT", target, "ALLOWED",
          AuditLog.shapeOf(pol))
        Some(pol)
      case None =>
        AuditLog.record(p.name, "SELECT", target, "DENIED", "no grant")
        throw new AccessDeniedException(
          s"principal '${p.name}' has no SELECT grant on governed " +
            s"table '$target'")
    }
  }

  /** DESCRIBE authorization: any grant — SELECT or DESCRIBE-only —
    * exposes the schema, COLUMN-FILTERED by the grant (an analyst who
    * cannot read `ssn` should not learn it exists from the catalog
    * either). No grant = deny; admin / ungoverned names see all. */
  def describeColumns(principalName: String, relName: String): Seq[String] = {
    val target = resolveLink(relName)
    if (principalName.isEmpty || !isGoverned(target)) return columnsOf(target)
    // schema probes are the classic recon path — a denied DESCRIBE
    // belongs in the trail as much as a denied scan
    val p = principal(principalName).getOrElse {
      AuditLog.record(principalName, "DESCRIBE", target, "DENIED",
        "unknown principal")
      throw new AccessDeniedException(s"unknown principal '$principalName'")
    }
    val pol = effectivePolicy(p, relName, target).getOrElse {
      AuditLog.record(p.name, "DESCRIBE", target, "DENIED", "no grant")
      throw new AccessDeniedException(
        s"principal '${p.name}' has no grant on governed table '$target'")
    }
    val cols = pol.allowedColumns.getOrElse(columnsOf(target))
    AuditLog.record(p.name, "DESCRIBE", target, "ALLOWED",
      s"cols=${pol.allowedColumns.map(_.size.toString).getOrElse("all")}")
    cols
  }

  /** Existence listing for SHOW TABLES: governed names under `ns`
    * (None = bare, un-namespaced names) visible to `who` — the admin
    * session sees all, a principal sees exactly the names it holds
    * SOME effective grant on (direct, tag, or namespace — the same
    * precedence chain every other decision uses). Deliberately
    * AUDIT-FREE, unlike [[describeColumns]]: a listing probes every
    * governed name, and a name simply not appearing IS the policy
    * answer — recording a DENIED row per invisible table would bury
    * the trail's real recon signal under catalog browsing. */
  def governedNamesIn(who: String, ns: Option[String]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val names = governed.keySet.asScala.toSeq.filter { n =>
      ns match {
        case Some(d) =>
          n.startsWith(d + ".") && !n.drop(d.length + 1).contains('.')
        case None => !n.contains('.')
      }
    }
    visibleTo(who, names).sorted
  }

  /** The subset of governed `names` the principal holds SOME
    * effective grant on (admin sees all) — the shared, audit-free
    * gate behind every catalog listing. */
  private def visibleTo(who: String, names: Seq[String]): Seq[String] =
    if (who.isEmpty) names
    else principal(who) match {
      case None => Nil
      case Some(p) =>
        names.filter(n => effectivePolicy(p, n, resolveLink(n)).isDefined)
    }

  /** Namespace prefixes (every depth) of the governed names visible
    * to `who` — SHOW NAMESPACES' gated listing; audit-free for the
    * same reason as [[governedNamesIn]]. */
  def governedNamespacesFor(who: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val names = governed.keySet.asScala.toSeq.filter(_.contains('.'))
    visibleTo(who, names).flatMap { n =>
      val parts = n.split('.')
      (1 until parts.length).map(k => parts.take(k).mkString("."))
    }.distinct.sorted
  }

  /** Parse a policy expression (mask / row filter) and refuse any
    * column reference outside `visible`. Both evaluate against the
    * RAW row, so an out-of-scope reference is an exfiltration /
    * row-membership-inference channel. SUBQUERY expressions refuse
    * outright: attributes inside a subquery PLAN are not in the
    * expression's children, so `EXISTS (SELECT 1 WHERE ssn LIKE …)`
    * would smuggle references past the collect — and a policy
    * expression has no business running a query anyway (Lake
    * Formation filter expressions are scalar predicates). Shared by
    * the regrant mask and row-filter checks and the SQL GRANT
    * front-end's admin validation. */
  private[fgac] def checkExprRefs(exprSql: String, visible: Seq[String],
      what: String): Unit = {
    // a delegated whole struct (`info`) covers references to its
    // children (`info.ssn`); the reverse never holds — a child grant
    // must not license referencing the whole struct
    def inScope(name: String) = visible.exists(v =>
      v.equalsIgnoreCase(name) ||
        name.toLowerCase.startsWith(v.toLowerCase + "."))
    val parsed =
      try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(exprSql)
      catch { case scala.util.control.NonFatal(e) =>
        throw new AccessDeniedException(
          s"$what does not parse: ${e.getMessage}")
      }
    if (parsed.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
      throw new AccessDeniedException(
        s"$what contains a subquery — policy expressions must be " +
          "scalar predicates over the row")
    parsed.collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.mkString(".")
    }.filterNot(inScope).foreach { bad =>
      throw new AccessDeniedException(
        s"$what references column '$bad' outside the delegated set")
    }
  }

  /** Direct (admin) grant: registers `pol` as `grantee`'s policy on
    * `pol.table`, displacing whatever was there — the ungoverned
    * session is root, so no narrowing law applies. The SQL front-end
    * ([[graft.fgac.GrantSql]]) routes admin GRANTs here and governed
    * principals' GRANTs through [[regrant]]. */
  def grantDirect(grantee: String, pol: TablePolicy): Unit = {
    require(isGoverned(pol.table), s"'${pol.table}' is not governed")
    val ge = principal(grantee).getOrElse(Principal(grantee))
    register(ge.copy(grants =
      ge.grants + (pol.table -> pol.copy(grantor = None))))
  }

  /** Revoke `grantee`'s grant on `relName`. The admin session revokes
    * anything; a governed principal may only revoke delegations THEY
    * made (anything else would be an unprivileged revocation — the
    * same hazard [[regrant]]'s displacement rule guards). Revocation
    * CASCADES through delegations the revoked grantee made on the
    * same table: their authority to delegate died with the grant. */
  def revoke(revoker: String, grantee: String, relName: String): Unit = {
    val target = resolveLink(relName)
    val ge = principal(grantee).getOrElse(
      throw new AccessDeniedException(s"unknown principal '$grantee'"))
    val existing = ge.grants.getOrElse(target,
      throw new AccessDeniedException(
        s"'$grantee' holds no grant on '$target'"))
    if (revoker.nonEmpty && !existing.grantor.contains(revoker))
      throw new AccessDeniedException(
        s"principal '$revoker' may not revoke the grant on '$target' " +
          s"held by '$grantee' (source: " +
          s"${existing.grantor.getOrElse("a direct grant")})")
    register(ge.copy(grants = ge.grants - target))
    // cascade: admin authority ("") severs the whole chain below
    grantsOn(target).filter(_._2.grantor.contains(grantee))
      .foreach { case (p, _) => revoke("", p, target) }
  }

  /** Every (principal, policy) holding a DIRECT grant on `relName`
    * (tag grants are per-tag, not per-table — `SHOW GRANTS` reports
    * the table-name topology the reference's grant commands build). */
  def grantsOn(relName: String): Seq[(String, TablePolicy)] = {
    val target = resolveLink(relName)
    principals.values.toArray(Array.empty[Principal]).toSeq
      .flatMap(p => p.grants.get(target).map(p.name -> _))
  }

  // ---- namespace (database-resource) grants -----------------------

  /** Namespace grants are PERMISSION-ONLY, like Lake Formation's
    * Database-resource grants (producer:259-274 grants DESCRIBE, no
    * filters): a filter smuggled onto a namespace grant would apply
    * invisibly to every table under it. */
  private def requireNsPolicy(pol: TablePolicy): Unit =
    require(pol.rowFilter.isEmpty && pol.allowedColumns.isEmpty &&
        pol.masks.isEmpty,
      "namespace grants are permission-only (no filters, columns, " +
        "or masks)")

  /** Whether any governed name or registered resource link lives
    * under namespace `ns` — the grant-time existence check (a typo'd
    * namespace must fail the GRANT, not surface as a generic
    * no-grant denial at the grantee's first query). */
  def hasNamespace(ns: String): Boolean = {
    val prefix = ns.toLowerCase + "."
    governed.keySet.stream.anyMatch(_.startsWith(prefix)) ||
      links.keySet.stream.anyMatch(_.startsWith(prefix))
  }

  /** Direct (admin) namespace grant. */
  def nsGrantDirect(grantee: String, ns: String, pol: TablePolicy): Unit = {
    requireNsPolicy(pol)
    val key = ns.toLowerCase
    val ge = principal(grantee).getOrElse(Principal(grantee))
    register(ge.copy(nsGrants = ge.nsGrants +
      (key -> pol.copy(table = key, grantor = None))))
  }

  /** Delegate a namespace grant (the reference's DB-DESCRIBE
    * `PermissionsWithGrantOption`, producer:266-268): needs GRANT
    * OPTION on the SAME namespace; permissions never widen. */
  def nsRegrant(grantor: String, grantee: String, ns: String,
      request: TablePolicy): Unit = {
    requireNsPolicy(request)
    val key = ns.toLowerCase
    val g = principal(grantor).getOrElse(
      throw new AccessDeniedException(s"unknown principal '$grantor'"))
    val parent = g.nsGrants.getOrElse(key,
      throw new AccessDeniedException(
        s"principal '$grantor' has no grant on namespace '$key' " +
          "to delegate"))
    if (!parent.grantable)
      throw new AccessDeniedException(
        s"namespace grant of '$grantor' on '$key' carries no GRANT OPTION")
    if (request.selectable && !parent.selectable)
      throw new AccessDeniedException(
        s"re-grant widens permissions: '$grantor' holds DESCRIBE-only " +
          s"on namespace '$key'")
    if (request.write && !parent.write)
      throw new AccessDeniedException(
        s"re-grant widens permissions: '$grantor' holds no write grant " +
          s"on namespace '$key'")
    val ge = principal(grantee).getOrElse(Principal(grantee))
    ge.nsGrants.get(key).foreach { existing =>
      if (!existing.grantor.contains(grantor))
        throw new AccessDeniedException(
          s"'$grantee' already holds a grant on namespace '$key' from " +
            s"${existing.grantor.getOrElse("a direct grant")} — " +
            "revoke it first")
    }
    register(ge.copy(nsGrants = ge.nsGrants +
      (key -> request.copy(table = key, grantor = Some(grantor)))))
  }

  /** Revoke a namespace grant — admin revokes anything, a principal
    * only delegations THEY made; cascades through the revoked
    * grantee's own namespace delegations. */
  def nsRevoke(revoker: String, grantee: String, ns: String): Unit = {
    val key = ns.toLowerCase
    val ge = principal(grantee).getOrElse(
      throw new AccessDeniedException(s"unknown principal '$grantee'"))
    val existing = ge.nsGrants.getOrElse(key,
      throw new AccessDeniedException(
        s"'$grantee' holds no grant on namespace '$key'"))
    if (revoker.nonEmpty && !existing.grantor.contains(revoker))
      throw new AccessDeniedException(
        s"principal '$revoker' may not revoke the namespace grant on " +
          s"'$key' held by '$grantee' (source: " +
          s"${existing.grantor.getOrElse("a direct grant")})")
    register(ge.copy(nsGrants = ge.nsGrants - key))
    nsGrantsOn(key).filter(_._2.grantor.contains(grantee))
      .foreach { case (p, _) => nsRevoke("", p, key) }
  }

  /** Every (principal, policy) holding a grant on namespace `ns`. */
  def nsGrantsOn(ns: String): Seq[(String, TablePolicy)] = {
    val key = ns.toLowerCase
    principals.values.toArray(Array.empty[Principal]).toSeq
      .flatMap(p => p.nsGrants.get(key).map(p.name -> _))
  }

  /** WITH GRANT OPTION delegation — the reference's two-hop chain
    * (producer grants the consumer account with grant option,
    * producer_iceberg_datalake_setup.sh:285-306; the consumer admin
    * re-grants filtered SELECT to team roles,
    * consumer_emr_on_eks_setup.sh:313-335). A re-grant can only
    * NARROW what the grantor holds:
    *   - row filters AND-compose (the grantee sees the intersection),
    *   - columns must be a subset of the delegated set (a request
    *     outside it REFUSES rather than silently intersecting — the
    *     admin should learn the policy is wrong, not ship it),
    *   - masks union (the grantee inherits every mask and may add),
    *   - write / grantable only if the delegating grant carries them.
    * The grantee's resulting policy is registered (merged over any
    * existing grants). */
  def regrant(grantor: String, grantee: String, relName: String,
      request: TablePolicy): Unit = {
    val g = principal(grantor).getOrElse(
      throw new AccessDeniedException(s"unknown principal '$grantor'"))
    val target = resolveLink(relName)
    require(isGoverned(target), s"'$target' is not a governed table")
    // the delegating grant may come from a TAG grant (the LF-Tags
    // model this file documents) — the same fallback authorize uses;
    // a namespace grant is not delegable here
    val parent = tablePolicy(g, target).getOrElse(
      throw new AccessDeniedException(
        s"principal '$grantor' has no grant on '$target' to delegate"))
    // canonicalize names to the governed column case ONCE: the policy
    // is applied by exact-case Map lookups at scan time, so a
    // case-variant column or mask key in the request would pass the
    // case-insensitive checks here and then silently not fire (an
    // unmasking door)
    def canon(n: String): String =
      columnsOf(target).find(_.equalsIgnoreCase(n)).getOrElse(n)
    if (!parent.grantable)
      throw new AccessDeniedException(
        s"grant of '$grantor' on '$target' carries no GRANT OPTION")
    val cols = (parent.allowedColumns, request.allowedColumns) match {
      case (None, c)          => c.map(_.map(canon))
      case (Some(p0), None)   => Some(p0.map(canon)) // child defaults to parent scope
      case (Some(p0), Some(c)) =>
        // a delegated whole struct covers its children: narrowing
        // `info` to `info.city` is exactly what nested re-grants do
        val outside = c.filterNot(x => p0.exists(p =>
          p.equalsIgnoreCase(x) ||
            x.toLowerCase.startsWith(p.toLowerCase + ".")))
        if (outside.nonEmpty) throw new AccessDeniedException(
          s"re-grant widens column scope: [${outside.mkString(", ")}] " +
            s"not in the grant delegated to '$grantor'")
        Some(c.map(canon))
    }
    if (request.write && !parent.write)
      throw new AccessDeniedException(
        s"re-grant widens permissions: '$grantor' holds no write grant " +
          s"on '$target'")
    if (request.selectable && !parent.selectable)
      throw new AccessDeniedException(
        s"re-grant widens permissions: '$grantor' holds DESCRIBE-only " +
          s"on '$target'")
    // masks can only NARROW further: the parent's masks are kept
    // verbatim (a request mask on a parent-masked column would
    // REPLACE it — an unmasking door), and a request mask may only
    // cover delegated columns and reference delegated columns (masks
    // evaluate against the RAW row, so an expression smuggling an
    // undelegated column — cast(c_acctbal as string) — would
    // exfiltrate it through a visible column).
    request.masks.foreach { case (c, m) =>
      if (parent.masks.keys.exists(_.equalsIgnoreCase(c)))
        throw new AccessDeniedException(
          s"re-grant may not replace the delegated mask on '$c'")
      val visible = cols.getOrElse(columnsOf(target))
      if (!visible.exists(v => v.equalsIgnoreCase(c) ||
          c.toLowerCase.startsWith(v.toLowerCase + ".")))
        throw new AccessDeniedException(
          s"re-grant masks column '$c' outside the delegated set")
      checkExprRefs(m, visible, s"re-grant mask on '$c'")
    }
    // the requested row filter gets the same reference check as masks:
    // row filters evaluate against the RAW row, so a grantor could
    // otherwise probe column values THEY never held through
    // row-membership (grant a puppet grantee `ssn LIKE '123%'` and
    // observe which rows survive) — the exact inference channel the
    // mask check closes. The scope is the GRANTOR's visible set, not
    // the narrowed child set: filtering on a column the grantor can
    // already read leaks nothing (narrowed-column regrants routinely
    // filter on parent-visible columns), while the PARENT's own
    // filter is exempt for the same reason one level up.
    request.rowFilter.foreach(checkExprRefs(_,
      parent.allowedColumns.getOrElse(columnsOf(target)),
      "re-grant row filter"))
    val rowFilter = (parent.rowFilter, request.rowFilter) match {
      case (Some(a), Some(b)) => Some(s"($a) AND ($b)")
      case (a, b)             => b.orElse(a)
    }
    val pol = TablePolicy(target, rowFilter, cols,
      request.masks.map { case (k, v) => canon(k) -> v } ++
        parent.masks.map { case (k, v) => canon(k) -> v },
      write = request.write,
      grantable = request.grantable, selectable = request.selectable,
      grantor = Some(grantor))
    val ge = principal(grantee).getOrElse(Principal(grantee))
    // a delegation may refresh ITSELF (same grantor re-running) but
    // never displace a direct grant or another grantor's delegation
    ge.grants.get(target).foreach { existing =>
      if (!existing.grantor.contains(grantor))
        throw new AccessDeniedException(
          s"'$grantee' already holds a grant on '$target' from " +
            s"${existing.grantor.getOrElse("a direct grant")} — " +
            "revoke it first")
    }
    register(ge.copy(grants = ge.grants + (target -> pol)))
  }
}
