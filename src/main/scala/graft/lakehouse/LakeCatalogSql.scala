package graft.lakehouse

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.StringUtils
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, StringType, StructType}

/** Operator-facing catalog SQL over lake tables — `DESCRIBE TABLE`,
  * `SHOW TABLES [IN db]`, `SHOW PARTITIONS` — the inspection surface
  * the reference workflow leans on constantly (the Athena/Glue
  * console in consumer_emr_on_eks_setup.sh's validation steps browses
  * schemas and partitions between every query). Without these claims
  * a [[LakeRegistry]] name falls through to Spark's session catalog
  * and errors with a cold "table not found".
  *
  * Claimed at PARSER level (the same point [[LakeMaintenance]] hooks)
  * because the analyzer's `ResolveSessionCatalog` converts
  * `ShowTables`/`DescribeRelation` to session-catalog commands in the
  * same resolution batch our rules run in — a rule-based claim would
  * race it. Governance precedence:
  *
  *  - DESCRIBE on a GOVERNED name (or a view) is NOT claimed here:
  *    [[graft.fgac.FgacRule]] answers it from the policy,
  *    column-filtered per grant — this file must never leak an
  *    ungoverned full schema for a governed name.
  *  - SHOW TABLES lists ungoverned lake tables and views freely
  *    (ungoverned = readable by anyone, so listable by anyone);
  *    governed names appear only when the session principal holds
  *    some effective grant ([[graft.fgac.SecureCatalog
  *    .governedNamesIn]] — an existence listing, deliberately
  *    audit-free).
  *  - SHOW PARTITIONS on a governed name REFUSES: partition values
  *    are data (a row-filtered principal could otherwise read the
  *    distribution of a column it cannot scan).
  *
  * Everything answers from the driver-side manifest — zero data-file
  * reads at any scale (the 100 TB design point: "which partitions
  * exist / how is this table shaped" must not cost a scan).
  */
object LakeCatalogSql {

  private val N = """(\w+(?:\.\w+)*)"""
  private val Describe =
    ("""(?is)\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?(?:(EXTENDED|FORMATTED)\s+)?""" +
      N + """\s*;?\s*""").r
  private val ShowTablesRe =
    ("""(?is)\s*SHOW\s+TABLES(?:\s+(?:IN|FROM)\s+""" + N +
      """)?(?:\s+LIKE\s+'([^']*)')?\s*;?\s*""").r
  private val ShowPartitionsRe =
    ("""(?is)\s*SHOW\s+PARTITIONS\s+""" + N +
      """(\s+PARTITION\s*\([^)]*\))?\s*;?\s*""").r
  private val ShowCreateRe =
    ("""(?is)\s*SHOW\s+CREATE\s+TABLE\s+""" + N + """\s*;?\s*""").r
  private val ShowPropsRe =
    ("""(?is)\s*SHOW\s+TBLPROPERTIES\s+""" + N +
      """(?:\s*\(\s*'([^']*)'\s*\))?\s*;?\s*""").r
  private val ShowViewsRe =
    ("""(?is)\s*SHOW\s+VIEWS(?:\s+(?:IN|FROM)\s+""" + N +
      """)?(?:\s+LIKE\s+'([^']*)')?\s*;?\s*""").r
  private val ShowNsRe =
    ("""(?is)\s*SHOW\s+(?:NAMESPACES|DATABASES|SCHEMAS)(?:\s+(?:IN|FROM)\s+""" +
      N + """)?(?:\s+LIKE\s+'([^']*)')?\s*;?\s*""").r
  private val AnalyzeRe =
    ("""(?is)\s*ANALYZE\s+TABLE\s+""" + N +
      """\s+COMPUTE\s+STATISTICS""" +
      """(?:\s+FOR\s+(ALL\s+COLUMNS|COLUMNS\s+[\w\s,]+?))?\s*;?\s*""").r

  /** Shared guard for per-table metadata claims (DESCRIBE, SHOW
    * CREATE TABLE, SHOW TBLPROPERTIES): the ungoverned, unshadowed
    * lake key, or None → fall through. */
  private def claimTable(spark: SparkSession, full: String): Option[String] =
    LakeRegistry.keyOf(spark, full.split('.').toSeq) match {
      case Some(n)
          if !graft.fgac.SecureCatalog.isVisibleName(full) &&
            !graft.fgac.SecureCatalog.isVisibleName(n) &&
            ViewRegistry.get(full).isEmpty && ViewRegistry.get(n).isEmpty &&
            !sessionShadowed(spark, full) &&
            LakeDdl.claimDrop(spark, n) => Some(n)
      case _ => None
    }

  /** The governed-name counterpart of [[claimTable]] for SHOW CREATE
    * TABLE / SHOW TBLPROPERTIES: the canonical governed name when the
    * identifier — full form or catalog-stripped key — is governed and
    * unshadowed. The metadata decision matrix must be COMPLETE: a
    * governed name answers policy-shaped (grant-holder) or refuses
    * loudly and audited (no grant) — never Spark's cold "not found"
    * (which would also leak that the name is special). Governed VIEWS
    * refuse crisply here: SHOW CREATE TABLE on a view is a category
    * error, and the view SQL may embed names the principal cannot
    * see. */
  private def governedMetaTarget(spark: SparkSession,
      full: String): Option[String] = {
    val key = LakeRegistry.keyOf(spark, full.split('.').toSeq)
    val gov =
      if (graft.fgac.SecureCatalog.isVisibleName(full)) Some(full)
      else key.filter(graft.fgac.SecureCatalog.isVisibleName)
    gov.filterNot(_ => sessionShadowed(spark, full)).map { n =>
      if (ViewRegistry.get(n).isDefined ||
          ViewRegistry.get(
            graft.fgac.SecureCatalog.resolveLink(n)).isDefined)
        throw new UnsupportedOperationException(
          s"'$n' is a view; SHOW CREATE TABLE / SHOW TBLPROPERTIES " +
            "apply to tables (DESCRIBE answers the view's visible " +
            "schema)")
      n
    }
  }

  /** Whether a SHOW TABLES/VIEWS/NAMESPACES statement belongs to
    * ANOTHER registered catalog plugin — then Spark must route it
    * there, so the claim falls through (the merged listing only knows
    * the session catalog, the lake registry, and governed names). A
    * qualified namespace is foreign when its leading segment names a
    * catalog bound via `spark.sql.catalog.<x>` other than the graft
    * catalog / spark_catalog; an unqualified (or relative) one is
    * foreign when the session's CURRENT catalog is such a plugin. */
  private def foreignCatalog(spark: SparkSession,
      db: Option[String]): Boolean = {
    val graftCat = LakeRegistry.catalogOf(spark)
    def other(c: String): Boolean =
      c != graftCat && c != "spark_catalog" &&
        spark.conf.getOption(s"spark.sql.catalog.$c").isDefined
    db.map(_.split('.').head.toLowerCase) match {
      case Some(h) if h == graftCat || h == "spark_catalog" => false
      case Some(h) if other(h) => true
      case _ =>
        // unqualified names live in the CURRENT catalog
        other(spark.sessionState.catalogManager.currentCatalog
          .name.toLowerCase)
    }
  }

  /** Session-catalog-qualified namespaces normalize to the bare
    * database (`spark_catalog.default` → `default`; bare
    * `spark_catalog` → the current database) so the built-in
    * addressing forms keep working through the merged listings. */
  private def normDb(spark: SparkSession, db: String): String = {
    val d = db.toLowerCase
    if (d == "spark_catalog")
      spark.sessionState.catalog.getCurrentDatabase
    else if (d.startsWith("spark_catalog."))
      d.drop("spark_catalog.".length)
    else d
  }

  /** Whether the session catalog already owns this name (temp view,
    * global temp view, or a real catalog table): built-in resolution
    * wins those for READS, so the metadata claims must defer too — a
    * DESCRIBE answering the lake schema while SELECT reads a
    * shadowing temp view would describe a different table than the
    * data. */
  private[lakehouse] def sessionShadowed(spark: SparkSession, name: String): Boolean = {
    val parts = name.split('.').toSeq
    val cat = spark.sessionState.catalog
    cat.isTempView(parts) || (parts.size <= 2 && cat.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(
        parts.last, parts.init.headOption)))
  }

  def parse(spark: SparkSession, sqlText: String): Option[LogicalPlan] =
    sqlText match {
      case Describe(ext, name) =>
        // governed names and views stay on the policy-filtered
        // FgacRule path (fgac_describe) — claimTable checks BOTH the
        // full (possibly catalog-qualified) form and the stripped
        // key; only plain lake tables resolve to the manifest schema
        claimTable(spark, name.toLowerCase)
          .map(GraftDescribeCommand(_, ext != null))
      case ShowCreateRe(name) =>
        claimTable(spark, name.toLowerCase)
          .map(GraftShowCreateCommand(_): LogicalPlan)
          .orElse(governedMetaTarget(spark, name.toLowerCase)
            .map(GraftGovernedShowCreateCommand(_)))
      case ShowPropsRe(name, key) =>
        claimTable(spark, name.toLowerCase)
          .map(GraftShowPropsCommand(_, Option(key)): LogicalPlan)
          .orElse(governedMetaTarget(spark, name.toLowerCase)
            .map(GraftGovernedShowPropsCommand(_, Option(key))))
      case ShowViewsRe(db, pat) if !foreignCatalog(spark, Option(db)) =>
        Some(GraftShowViewsCommand(
          Option(db).map(normDb(spark, _)), Option(pat)))
      case ShowNsRe(parent, pat) =>
        val p = Option(parent).map(_.toLowerCase)
        // another REGISTERED catalog plugin owns its own namespace
        // listing — never claim it (Spark routes to the plugin);
        // same for an unqualified listing while the session's
        // current catalog IS such a plugin
        if (foreignCatalog(spark, p)) None
        else Some(GraftShowNamespacesCommand(p, Option(pat)))
      case ShowTablesRe(db, pat) if !foreignCatalog(spark, Option(db)) =>
        // claimed for every non-foreign namespace: the command MERGES
        // the session catalog's own listing (temp views included), so
        // the claim is a superset of Spark's behavior, never a
        // replacement
        Some(GraftShowTablesCommand(
          Option(db).map(normDb(spark, _)), Option(pat)))
      case AnalyzeRe(name, forCols) =>
        // the scheduled stats job in a real deployment is this
        // STATEMENT, not an API call — routed to the same
        // snapshot-scoped sidecar machinery as [[GraftTable
        // .analyzeColumns]] (`lake_analyze`). Only ungoverned,
        // unshadowed lake keys claim; session-catalog tables keep
        // Spark's own ANALYZE. `FOR ALL COLUMNS` resolves the
        // snapshot schema at RUN time (the statement may precede an
        // evolution); no FOR clause = row count only, Spark's bare
        // form.
        claimTable(spark, name.toLowerCase).map { n =>
          val cols = Option(forCols).map(_.trim) match {
            case None => Nil
            case Some(f) if f.toUpperCase.replaceAll("\\s+", " ")
                .startsWith("ALL") => Seq("*")
            case Some(f) => f.replaceAll("(?i)^COLUMNS\\s+", "")
              .split(',').toSeq.map(_.trim.toLowerCase)
              .filter(_.nonEmpty)
          }
          GraftAnalyzeCommand(n, cols): LogicalPlan
        }
      case ShowPartitionsRe(name, spec) =>
        val full = name.toLowerCase
        val key = LakeRegistry.keyOf(spark, full.split('.').toSeq)
        if (graft.fgac.SecureCatalog.isVisibleName(full) ||
            key.exists(graft.fgac.SecureCatalog.isVisibleName))
          throw new graft.fgac.AccessDeniedException(
            s"SHOW PARTITIONS on governed table '$full': partition " +
              "values are data; scan the table under your grant " +
              "instead")
        else key.filterNot(_ => sessionShadowed(spark, full))
          .filter(LakeDdl.claimDrop(spark, _)) match {
          case Some(n) =>
            require(spec == null,
              "SHOW PARTITIONS … PARTITION(spec) is not supported on " +
                "lake tables; filter the lake_partitions('t') TVF " +
                "instead")
            Some(GraftShowPartitionsCommand(n))
          case None => None
        }
      case _ => None
    }
}

/** Catalog plugin claiming the configured lake catalog name
  * ([[LakeRegistry.catalogOf]], default "graft") so the analyzer
  * routes three-part `graft.db.t` names HERE instead of erroring on
  * spark_catalog's single-part-namespace rule. Every lookup defers
  * (`NoSuchTableException` → the analyzer leaves the relation
  * unresolved), handing the name to [[LakeSqlRule]] in the same
  * resolution batch — the identification/enforcement split
  * [[graft.fgac.GovernedCatalog]] uses for governed names, and the
  * same wiring the reference's consumer uses for its `dev` catalog
  * (consumer_emr_on_eks_setup.sh:438-447). DDL (CREATE/DROP/ALTER)
  * never reaches these methods: [[GraftSqlParser]] claims it at
  * parse time. Registered once per session by
  * [[graft.fgac.GraftExtensions]] via [[LakeRegistry.ensureCatalog]]
  * unless the user bound the name to another plugin. */
class GraftLakeCatalog
    extends org.apache.spark.sql.connector.catalog.TableCatalog {
  import org.apache.spark.sql.connector.catalog.{Identifier, Table,
    TableChange}
  private var catalogName: String = _

  override def initialize(name: String,
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty

  /** Always defers: the analyzer treats NoSuchTableException as
    * "leave unresolved", which hands the name to [[LakeSqlRule]]. */
  override def loadTable(ident: Identifier): Table =
    throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchTableException(ident)

  override def createTable(ident: Identifier,
      schema: org.apache.spark.sql.types.StructType,
      partitions: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      s"catalog '$catalogName' tables are managed by the graft SQL " +
        "front-end (CREATE TABLE … USING graft)")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      s"catalog '$catalogName' tables are managed by the graft SQL " +
        "front-end")
  override def dropTable(ident: Identifier): Boolean = false
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"catalog '$catalogName' tables are managed by the graft SQL " +
        "front-end")
}

/** `DESCRIBE [EXTENDED] t` for a lake table: columns with types (a
  * `not null` comment marks declared NOT NULL columns), the partition
  * spec section, and — EXTENDED — location, current snapshot, table
  * properties and CHECK constraints. All from the manifest. */
case class GraftDescribeCommand(name: String, extended: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("col_name", StringType, nullable = false)(),
    AttributeReference("data_type", StringType, nullable = false)(),
    AttributeReference("comment", StringType, nullable = true)())

  override def run(spark: SparkSession): Seq[Row] = {
    val t = LakeRegistry.get(name).getOrElse(
      throw new IllegalArgumentException(s"no lake table '$name'"))
    val snap = t.currentSnapshot
    def typeOf(col: String): String =
      snap.schema.fields.find(_.name.equalsIgnoreCase(col))
        .map(_.dataType.simpleString).getOrElse("unknown")
    // the `not null` marker is the DECLARED constraint (the
    // setNotNull metadata flag), not an accidental nullable=false a
    // source frame happened to carry — only the declared form is
    // validated on writes, so only it may advertise
    val cols = snap.schema.fields.toSeq.map { f =>
      Row(f.name, f.dataType.simpleString,
        if (f.metadata.contains(GraftTable.NotNullKey)) "not null"
        else null)
    }
    val partRows =
      if (snap.partitionCols.isEmpty) Nil
      else Row("# Partition Information", "", null) +:
        Row("# col_name", "data_type", "comment") +:
        snap.partitionCols.map { c =>
          val pf = PartField.parse(c)
          // a transform field (`day(ts)`) describes under its
          // rendered spec with the SOURCE column's type — the value
          // an operator filters the raw column by
          Row(pf.render, typeOf(pf.col), null)
        }
    val ext =
      if (!extended) Nil
      else {
        val props = t.properties.toSeq.sortBy(_._1)
          .filterNot(_._1.startsWith(GraftTable.ConstraintPrefix))
        val constraints = t.checkConstraints
        Seq(Row("", "", null),
          Row("# Detailed Table Information", "", null),
          Row("Name", name, null),
          Row("Type", "MANAGED", null),
          Row("Provider", "graft", null),
          Row("Location", t.location, null),
          Row("Snapshot", t.currentSnapshotId.toString, null)) ++
          (if (props.isEmpty) Nil
           else Seq(Row("Properties",
             props.map { case (k, v) => s"$k=$v" }.mkString(", "),
             null))) ++
          constraints.map { case (cn, sql) =>
            Row(s"Constraint $cn", s"CHECK ($sql)", null)
          }
      }
    cols ++ partRows ++ ext
  }
}

/** `SHOW TABLES [IN db] [LIKE 'pat']`: the session catalog's own
  * listing (temp views included) MERGED with lake tables, lake
  * views, and the grant-visible governed names under the namespace.
  * Bare lake names list under the empty namespace, like temp views
  * do. Metadata-only; pattern matching via Spark's own
  * `StringUtils.filterPattern` (`*` and `|`). */
case class GraftShowTablesCommand(db: Option[String],
    pattern: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("namespace", StringType, nullable = false)(),
    AttributeReference("tableName", StringType, nullable = false)(),
    AttributeReference("isTemporary", BooleanType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val cat = spark.sessionState.catalog
    // a namespace under the configured graft catalog (`IN graft.db`,
    // or `IN graft` for the bare keys) addresses the registry only —
    // session-catalog rows would be a different catalog's tables
    val graftCat = LakeRegistry.catalogOf(spark)
    val catQualified = db.exists(d =>
      d == graftCat || d.startsWith(graftCat + "."))
    val nsKey: Option[String] = db.map { d =>
      if (d == graftCat) ""
      else if (d.startsWith(graftCat + ".")) d.drop(graftCat.length + 1)
      else d
    }
    val sessionRows: Seq[Row] = db match {
      case Some(_) if catQualified => Nil
      case Some(d) if cat.databaseExists(d) =>
        cat.listTables(d, pattern.getOrElse("*")).map(ti =>
          Row(ti.database.getOrElse(""), ti.table, cat.isTempView(ti)))
      case Some(_) => Nil
      case None =>
        cat.listTables(cat.getCurrentDatabase, pattern.getOrElse("*"))
          .map(ti =>
            Row(ti.database.getOrElse(""), ti.table, cat.isTempView(ti)))
    }
    // bare registry keys list under the empty namespace (the temp-view
    // convention) — also what `IN graft` addresses; `db.t` keys list
    // under `db` (addressed bare or as `graft.db`)
    def inNs(n: String): Option[String] = nsKey match {
      case Some("") | None => Some(n).filterNot(_.contains('.'))
      case Some(d) if n.startsWith(d + ".") =>
        Some(n.drop(d.length + 1)).filterNot(_.contains('.'))
      case Some(_) => None
    }
    def matches(bare: String): Boolean = pattern.forall(p =>
      StringUtils.filterPattern(Seq(bare), p).nonEmpty)
    val ns = db.getOrElse("")
    val lakeRows = LakeRegistry.list
      .filterNot(graft.fgac.SecureCatalog.isGoverned)
      .flatMap(inNs).filter(matches).map(Row(ns, _, false))
    val viewRows = ViewRegistry.list.map(_.name)
      .filterNot(graft.fgac.SecureCatalog.isGoverned)
      .flatMap(inNs).filter(matches).map(Row(ns, _, false))
    val who = spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, "")
    // governed names may be registered under the catalog-qualified
    // form (`graft.db.t` — the canonical governed shape) OR the
    // stripped one; list both namespaces, bare display name either
    // way (governedNamesIn returns names exactly one segment deeper)
    val govNamespaces: Seq[Option[String]] = nsKey match {
      case Some("") | None => Seq(None, Some(graftCat))
      case Some(d) => Seq(Some(d), Some(s"$graftCat.$d"))
    }
    val govRows = govNamespaces
      .flatMap(g => graft.fgac.SecureCatalog.governedNamesIn(who, g))
      .distinct.map(_.split('.').last)
      .filter(matches).map(Row(ns, _, false))
    val rows = (sessionRows ++ lakeRows ++ viewRows ++ govRows).distinct
      .sortBy(r => (r.getString(0), r.getString(1)))
    // an empty result for a namespace NOTHING knows is Spark's
    // SCHEMA_NOT_FOUND, not a silent zero-row success — the claim
    // must stay a superset of Spark's behavior, not a replacement.
    // A namespace whose only contents are governed tables EXISTS for
    // the principals that can see into it (a non-matching LIKE must
    // return zero rows there, not error).
    if (rows.isEmpty && db.isDefined && !catQualified &&
        !cat.databaseExists(db.get) &&
        !LakeRegistry.list.exists(_.startsWith(db.get + ".")) &&
        ViewRegistry.list.map(_.name).forall(!_.startsWith(db.get + ".")) &&
        govNamespaces.flatMap(g =>
          graft.fgac.SecureCatalog.governedNamesIn(who, g)).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(Seq(db.get))
    rows
  }
}

/** `SHOW CREATE TABLE t`: the reproducing DDL, rendered from the
  * manifest — columns with declared NOT NULL markers, provider,
  * partition spec, location, and table properties (CHECK constraints
  * ride in their property form, so the statement round-trips through
  * the ADD CONSTRAINT surface). One row, Spark's column name. */
case class GraftShowCreateCommand(name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("createtab_stmt", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val t = LakeRegistry.get(name).getOrElse(
      throw new IllegalArgumentException(s"no lake table '$name'"))
    val snap = t.currentSnapshot
    val cols = snap.schema.fields.map { f =>
      val nn =
        if (f.metadata.contains(GraftTable.NotNullKey)) " NOT NULL" else ""
      s"  ${f.name} ${f.dataType.sql}$nn"
    }.mkString(",\n")
    val parts =
      if (snap.partitionCols.isEmpty) ""
      else s"\nPARTITIONED BY (${snap.partitionCols.mkString(", ")})"
    val props = t.properties.toSeq.sortBy(_._1)
    // SQL escaping — a constraint expression may carry string
    // literals; unescaped quotes would break the promised round-trip
    def esc(s: String): String = s.replace("'", "''")
    val propsTxt =
      if (props.isEmpty) ""
      else props.map { case (k, v) => s"  '${esc(k)}' = '${esc(v)}'" }
        .mkString("\nTBLPROPERTIES (\n", ",\n", ")")
    Seq(Row(s"CREATE TABLE $name (\n$cols)\nUSING graft$parts" +
      s"\nLOCATION '${t.location}'$propsTxt"))
  }
}

/** `SHOW TBLPROPERTIES t [('key')]`: the property map from the
  * table's metadata, optionally narrowed to one key (absent key →
  * zero rows). Driver-side metadata only. */
case class GraftShowPropsCommand(name: String, key: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val t = LakeRegistry.get(name).getOrElse(
      throw new IllegalArgumentException(s"no lake table '$name'"))
    val props = t.properties
    key match {
      case Some(k) => props.get(k).map(v => Row(k, v)).toSeq
      case None => props.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
    }
  }
}

/** `SHOW VIEWS [IN db] [LIKE 'pat']`: the session catalog's views
  * (temp views included) merged with lake views — same namespace and
  * governance conventions as [[GraftShowTablesCommand]] (governed
  * view names appear only when the principal holds a grant). */
case class GraftShowViewsCommand(db: Option[String],
    pattern: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("namespace", StringType, nullable = false)(),
    AttributeReference("viewName", StringType, nullable = false)(),
    AttributeReference("isTemporary", BooleanType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val cat = spark.sessionState.catalog
    val graftCat = LakeRegistry.catalogOf(spark)
    val catQualified = db.exists(d =>
      d == graftCat || d.startsWith(graftCat + "."))
    val nsKey: Option[String] = db.map { d =>
      if (d == graftCat) ""
      else if (d.startsWith(graftCat + ".")) d.drop(graftCat.length + 1)
      else d
    }
    val globalTempDb =
      spark.conf.get("spark.sql.globalTempDatabase", "global_temp")
    val sessionRows: Seq[Row] = db match {
      case Some(_) if catQualified => Nil
      case Some(d) if cat.databaseExists(d) || d == globalTempDb =>
        cat.listViews(d, pattern.getOrElse("*")).map(ti =>
          Row(ti.database.getOrElse(""), ti.table, cat.isTempView(ti)))
      case Some(_) => Nil
      case None =>
        cat.listViews(cat.getCurrentDatabase, pattern.getOrElse("*"))
          .map(ti =>
            Row(ti.database.getOrElse(""), ti.table, cat.isTempView(ti)))
    }
    def inNs(n: String): Option[String] = nsKey match {
      case Some("") | None => Some(n).filterNot(_.contains('.'))
      case Some(d) if n.startsWith(d + ".") =>
        Some(n.drop(d.length + 1)).filterNot(_.contains('.'))
      case Some(_) => None
    }
    def matches(bare: String): Boolean = pattern.forall(p =>
      StringUtils.filterPattern(Seq(bare), p).nonEmpty)
    val ns = db.getOrElse("")
    val who = spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, "")
    val lakeViews = ViewRegistry.list.map(_.name).filter { n =>
      !graft.fgac.SecureCatalog.isGoverned(n) ||
        graft.fgac.SecureCatalog
          .governedNamesIn(who, Some(n).filter(_.contains('.'))
            .map(_.split('.').init.mkString(".")))
          .contains(n)
    }.flatMap(inNs).filter(matches).map(Row(ns, _, false))
    val rows = (sessionRows ++ lakeViews).distinct
      .sortBy(r => (r.getString(0), r.getString(1)))
    // an unknown namespace errors like Spark, not empty success
    // (same contract as the merged SHOW TABLES — and, like there, a
    // namespace holding only governed names the principal can see
    // EXISTS, so a non-matching LIKE is a zero-row success)
    if (rows.isEmpty && db.isDefined && !catQualified &&
        !cat.databaseExists(db.get) && db.get != globalTempDb &&
        !ViewRegistry.list.map(_.name)
          .exists(_.startsWith(db.get + ".")) &&
        !LakeRegistry.list.exists(_.startsWith(db.get + ".")) &&
        // both registration shapes, like the merged SHOW TABLES:
        // bare and catalog-qualified governed names
        Seq(db, db.map(d => s"$graftCat.$d")).flatMap(g =>
          graft.fgac.SecureCatalog.governedNamesIn(who, g)).isEmpty)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(Seq(db.get))
    rows
  }
}

/** `SHOW NAMESPACES [IN cat] [LIKE 'pat']`: session-catalog
  * databases merged with lake namespaces (distinct `db` prefixes of
  * registry keys) and the governed namespaces the principal can see
  * into ([[graft.fgac.SecureCatalog.governedNamespacesFor]] —
  * audit-free gated listing). `IN graft` narrows to the lake's own
  * namespaces. */
case class GraftShowNamespacesCommand(parent: Option[String],
    pattern: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("namespace", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val cat = spark.sessionState.catalog
    val graftCat = LakeRegistry.catalogOf(spark)
    def matches(n: String): Boolean = pattern.forall(p =>
      StringUtils.filterPattern(Seq(n), p).nonEmpty)
    val who = spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, "")
    val lakeNs = (LakeRegistry.list ++ ViewRegistry.list.map(_.name))
      .filter(_.contains('.')).map(_.split('.').init.mkString("."))
    val govNs = graft.fgac.SecureCatalog.governedNamespacesFor(who)
    val rows = parent match {
      case None =>
        cat.listDatabases() ++ lakeNs ++ govNs
      case Some("spark_catalog") => cat.listDatabases()
      case Some(p) if p == graftCat => lakeNs
      case Some(p) =>
        // namespaces one level under `p` (a governed catalog like
        // `gov`, or a deeper lake namespace)
        val under = (lakeNs ++ govNs).filter(_.startsWith(p + "."))
          .map(_.drop(p.length + 1))
        if (under.isEmpty && !cat.databaseExists(p) &&
            !lakeNs.contains(p) && !govNs.contains(p))
          throw new org.apache.spark.sql.catalyst.analysis
            .NoSuchNamespaceException(Seq(p))
        under
    }
    rows.distinct.filter(matches).sorted.map(Row(_))
  }
}

/** `SHOW CREATE TABLE t` on a GOVERNED name: the policy-shaped DDL —
  * exactly the columns the session principal's grant exposes
  * ([[graft.fgac.SecureCatalog.describeColumns]], which also audits
  * the probe and denies a grantless principal loudly), types from the
  * raw relation's schema (same resolution as the policy-filtered
  * DESCRIBE). Storage details — location, partition layout, table
  * properties — are deliberately OMITTED: the statement describes
  * what the principal may address, not how the producer stores it
  * (partition values are data, and the raw location is the
  * credential-holding role's business). Row filters and masks are
  * not disclosed either — a filtered principal learning the filter
  * text would learn the distribution it hides. */
case class GraftGovernedShowCreateCommand(name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("createtab_stmt", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val who = spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, "")
    // audited + deny-by-default: the same gate as fgac_describe
    val visible = graft.fgac.SecureCatalog.describeColumns(who, name)
    val target = graft.fgac.SecureCatalog.resolveLink(name)
    val typeOf = GovernedMeta.typeOf(spark, target)
    val cols = visible.map(c => s"  $c ${typeOf(c)}").mkString(",\n")
    Seq(Row(s"CREATE TABLE $name (\n$cols)\nUSING graft"))
  }
}

/** `SHOW TBLPROPERTIES t [('key')]` on a GOVERNED name: gated by the
  * same audited any-grant check as the policy-filtered DESCRIBE, then
  * answers the lake table's property map when one backs the governed
  * name (resource links resolve first) — a governed table over a
  * plain DataFrame legitimately has none (zero rows, a valid answer,
  * not a cold miss). */
case class GraftGovernedShowPropsCommand(name: String, key: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val who = spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, "")
    val visible = graft.fgac.SecureCatalog.describeColumns(who, name)
    val target = graft.fgac.SecureCatalog.resolveLink(name)
    val allProps = LakeRegistry.get(target).map(_.properties)
      .getOrElse(Map.empty[String, String])
    // graft.constraint.* values are CHECK expressions over raw
    // columns — a constraint referencing a column OUTSIDE the
    // principal's grant would leak the hidden column's name and its
    // value domain, contradicting the governed SHOW CREATE TABLE one
    // screen up (which withholds exactly this class of detail: a
    // filtered principal learning the text would learn the
    // distribution it hides). Withhold those entries; constraints
    // entirely over granted columns stay visible. Unparseable
    // expressions withhold too — fail closed.
    val visibleSet = visible.map(_.toLowerCase).toSet
    val props = allProps.filter { case (k, v) =>
      !k.startsWith(GraftTable.ConstraintPrefix) || {
        try {
          spark.sessionState.sqlParser.parseExpression(v).collect {
            case a: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute => a.nameParts.mkString(".")
          }.forall(c => visibleSet(c.toLowerCase))
        } catch { case _: Exception => false }
      }
    }
    key match {
      case Some(k) => props.get(k).map(v => Row(k, v)).toSeq
      case None => props.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
    }
  }
}

private[graft] object GovernedMeta {
  /** THE nested-type resolver for governed metadata answers (one
    * struct level, `outer.inner` — the depth policies address):
    * shared by the policy-filtered DESCRIBE ([[graft.fgac.FgacRule]])
    * and the governed SHOW CREATE TABLE, so the two surfaces can
    * never disagree about a column's type. None — a policy column
    * the raw relation no longer carries — renders "unknown" on BOTH,
    * never a fabricated type. */
  def resolveType(schema: StructType,
      path: String): Option[org.apache.spark.sql.types.DataType] = {
    val parts = path.split('.')
    schema.fields.find(_.name.equalsIgnoreCase(parts(0))).flatMap { f =>
      if (parts.length == 1) Some(f.dataType)
      else f.dataType match {
        case st: StructType =>
          st.fields.find(_.name.equalsIgnoreCase(parts(1)))
            .map(_.dataType)
        case _ => None
      }
    }
  }

  /** Column → rendered type for a governed relation, answered from
    * its raw relation's schema. */
  def typeOf(spark: SparkSession, target: String): String => String = {
    val schema = graft.fgac.SecureCatalog.relationOf(spark, target).schema
    c => resolveType(schema, c).map(_.sql).getOrElse("unknown")
  }
}

/** `SHOW PARTITIONS t`: one row per live partition, rendered in
  * layout form (`col=v/col2=v2`), straight from the current
  * snapshot's manifest — zero data reads (the same harvest
  * [[GraftTable.partitionsMeta]] serves). Files written before a
  * partition-spec evolution report under the empty spec, which this
  * listing elides (Spark's output has no row shape for them). */
/** `ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS …|FOR ALL
  * COLUMNS]` (and `CALL compute_table_stats`): the statement surface
  * over [[GraftTable.analyzeColumns]]'s snapshot-scoped stats
  * sidecar. `cols == Seq("*")` is the ALL-COLUMNS sentinel, resolved
  * against the CURRENT snapshot schema at run time; empty = row
  * count only (Spark's bare form). Write-gated: the sidecar is table
  * metadata, and its min/max/NDV values are data disclosure a read
  * grant alone must not produce. */
case class GraftAnalyzeCommand(name: String, cols: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "ANALYZE")
    val t = LakeRegistry.get(name).getOrElse(
      throw new IllegalArgumentException(
        s"ANALYZE: no lake table '$name'"))
    val resolved =
      if (cols == Seq("*"))
        t.currentSnapshot.schema.fields.toSeq
          // stats aggregate only over orderable scalar shapes; a
          // struct/map/array/variant column has no min/max to compute
          .filter(f => f.dataType match {
            case _: org.apache.spark.sql.types.StructType |
                 _: org.apache.spark.sql.types.ArrayType |
                 _: org.apache.spark.sql.types.MapType |
                 _: org.apache.spark.sql.types.VariantType => false
            case _ => true
          })
          .map(_.name)
      else cols
    t.analyzeColumns(resolved)
    Seq.empty
  }
}

case class GraftShowPartitionsCommand(name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("partition", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val t = LakeRegistry.get(name).getOrElse(
      throw new IllegalArgumentException(s"no lake table '$name'"))
    require(t.currentSnapshot.partitionCols.nonEmpty,
      s"SHOW PARTITIONS is not allowed on a table that is not " +
        s"partitioned: $name")
    t.partitionsMeta().select("partition").collect().toSeq
      .map(_.getString(0)).filter(_.nonEmpty).sorted.map(Row(_))
  }
}
