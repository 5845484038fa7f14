package graft.lakehouse

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.command.LeafRunnableCommand

import graft.fgac.{FgacRule, SecureCatalog}

/** Governed SQL views (the Iceberg-view / Lake Formation named-query
  * surface): `CREATE [OR REPLACE] VIEW v [ (cols…) ] [TBLPROPERTIES
  * ('security'='definer'|'invoker')] AS <query>` stores the QUERY
  * TEXT (late binding, exactly Iceberg's view spec: the SQL
  * representation is resolved at read time, so underlying schema
  * evolution flows through — or fails loudly if the view no longer
  * analyzes).
  *
  * Reads expand the view INLINE into the consuming plan
  * ([[ViewExpansion]]), so at 100 TB a view costs nothing at runtime:
  * Catalyst sees one flat tree, and a filter above the view lands in
  * the parquet scan's PushedFilters like any other predicate
  * (pinned in LakehouseSpec).
  *
  * Security composes with FGAC two ways:
  *  - the view itself can be a governed resource
  *    (`SecureCatalog.governTable(viewName, cols)` + grants), so a
  *    policy — row filter, column filter, masks — applies to the
  *    view's OUTPUT;
  *  - `'security'='invoker'` (default, Iceberg semantics) resolves
  *    the underlying governed tables as the QUERYING principal;
  *    `'security'='definer'` (the Lake Formation / Athena view
  *    model, where consumers query through the view owner's rights)
  *    resolves them as the principal that CREATED the view — which
  *    is captured at CREATE, never trusted from the request.
  */
final case class ViewDef(
    name: String,
    sql: String,
    /** `CREATE VIEW v(a, b) AS …` rename list; empty = query names. */
    columnAliases: Seq[String],
    /** Query output column names captured at CREATE — the positional
      * base the alias list maps over (late binding re-checks them). */
    queryColumns: Seq[String],
    /** Post-alias (name, simple type) — DESCRIBE answers from this. */
    outputColumns: Seq[(String, String)],
    /** Principal that created the view ("" = ungoverned session). */
    definer: String,
    /** true = resolve underlying tables as [[definer]]. */
    definerSecurity: Boolean,
    comment: Option[String],
    properties: Map[String, String])

object ViewRegistry {
  private val views =
    new java.util.concurrent.ConcurrentHashMap[String, ViewDef]()

  /** Serializes authorize-then-mutate sequences (REPLACE/DROP):
    * authorization must be judged against the ViewDef the mutation
    * actually displaces, not one a concurrent CREATE raced in. */
  private[lakehouse] val mutationLock = new Object

  def create(vd: ViewDef, replace: Boolean): Unit = {
    val key = vd.name.toLowerCase
    if (replace) views.put(key, vd.copy(name = key))
    // atomic exists-check: two racing plain CREATEs must not both
    // succeed with one definition silently lost
    else if (views.putIfAbsent(key, vd.copy(name = key)) != null)
      throw new IllegalArgumentException(
        s"view '${vd.name}' already exists (use CREATE OR REPLACE VIEW)")
  }
  def get(name: String): Option[ViewDef] =
    Option(views.get(name.toLowerCase))
  def isView(parts: Seq[String]): Boolean =
    views.containsKey(parts.map(_.toLowerCase).mkString("."))
  def drop(name: String): Boolean =
    views.remove(name.toLowerCase) != null
  def list: Seq[ViewDef] =
    views.values.toArray(Array.empty[ViewDef]).toSeq.sortBy(_.name)
}

/** Inline view expansion. `who` is the QUERYING principal; nested
  * views re-expand under the outer view's effective principal, each
  * checking its own view-level grant — the SQL-standard chain. A
  * resource link to a view expands the view under the link's name. */
object ViewExpansion {
  private val MaxDepth = 16

  def expand(spark: SparkSession, parts: Seq[String], who: String,
      depth: Int = 0): LogicalPlan = {
    val lowerParts = parts.map(_.toLowerCase)
    val name = lowerParts.mkString(".")
    val target = SecureCatalog.resolveLink(name)
    if (depth >= MaxDepth)
      throw new IllegalStateException(
        s"view expansion exceeded depth $MaxDepth at '$name' — " +
          "cyclic view definitions?")
    val vd = ViewRegistry.get(target).getOrElse(
      throw new IllegalArgumentException(s"'$name' is not a view"))
    // view-level policy: a governed view authorizes like a governed
    // table (throws when governed-but-ungranted). An UNGOVERNED view
    // never calls authorize — a session principal that is not
    // registered in SecureCatalog (e.g. set for audit tagging only)
    // must read ungoverned views exactly as it reads ungoverned
    // tables, not trip over the principal lookup.
    val policy =
      if (who.isEmpty || !SecureCatalog.isGoverned(target)) None
      else SecureCatalog.authorize(who, name)
    // Definer views REPUBLISH their creator's visibility, so a foreign
    // principal may only read one through an explicit grant: the view
    // must be governed (the authorize above then gates every reader).
    // Without this, a read-only grantee with no GRANT OPTION could
    // CREATE VIEW … 'security'='definer' and hand their entire
    // filtered slice to every principal — bypassing the regrant
    // narrowing law. The definer reads their own view freely; the
    // ungoverned (admin) session bypasses like everywhere else.
    if (vd.definerSecurity && vd.definer.nonEmpty && who.nonEmpty &&
        who != vd.definer && !SecureCatalog.isGoverned(target))
      throw new graft.fgac.AccessDeniedException(
        s"definer view '$name' republishes the visibility of its " +
          s"creator '${vd.definer}'; reads by other principals " +
          "require the view to be governed and granted " +
          "(SecureCatalog.governTable + a grant on the view name)")
    // an ungoverned (admin) session bypasses — never downgrade admin
    // to the definer's filtered visibility
    val inner =
      if (who.isEmpty) ""
      else if (vd.definerSecurity) vd.definer
      else who
    val parsed = spark.sessionState.sqlParser.parsePlan(vd.sql)
    val resolved = parsed.transformUp {
      case u: UnresolvedRelation
          if FgacRule.claims(spark, u.multipartIdentifier) =>
        FgacRule.resolveName(spark, u.multipartIdentifier, inner, depth + 1)
    }
    val aliased =
      if (vd.columnAliases.isEmpty) resolved
      else Project(
        vd.queryColumns.zip(vd.columnAliases).map { case (q, a) =>
          Alias(UnresolvedAttribute.quoted(q), a)()
        }, resolved)
    val withPolicy =
      policy.fold(aliased)(p => FgacRule.securePlan(p, aliased, who,
        SecureCatalog.columnsOf(target)))
    SubqueryAlias(lowerParts, withPolicy)
  }
}

private[lakehouse] object ViewMutation {
  /** Who may REPLACE or DROP a view: the ungoverned (admin) session
    * always; for an UNGOVERNED view also its definer; for a GOVERNED
    * view ONLY a principal holding a WRITE grant on the view
    * resource — the definer gets no fast-path there, because
    * dropping (which ungoverns) or replacing would strip the
    * admin-applied policy for every reader. Without any of this, any
    * principal could drop or hijack another principal's definer view
    * (ref DDL enforces the same rule via authorizeWrite). */
  def authorize(spark: SparkSession, vd: ViewDef, op: String): Unit = {
    val who = spark.conf.get(SecureCatalog.PrincipalConf, "")
    if (who.isEmpty) return
    if (SecureCatalog.isGoverned(vd.name))
      SecureCatalog.authorizeWrite(who, vd.name, op)
    else if (who != vd.definer)
      throw new graft.fgac.AccessDeniedException(
        s"principal '$who' may not $op view '${vd.name}' owned by " +
          s"'${if (vd.definer.isEmpty) "the admin session" else vd.definer}'")
  }
}

/** Eager CREATE VIEW. Analysis of the view query runs HERE, under the
  * creating session's principal — so a creator who cannot read the
  * underlying tables cannot create the view (SQL standard), and the
  * output columns are captured for the alias list and DESCRIBE. */
case class GraftCreateViewCommand(name: String, viewSql: String,
    columnAliases: Seq[String], comment: Option[String],
    properties: Map[String, String], replace: Boolean,
    allowExisting: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val security =
      properties.getOrElse("security", "invoker").toLowerCase
    require(security == "invoker" || security == "definer",
      s"CREATE VIEW: security property must be 'invoker' or " +
        s"'definer', got '$security'")
    if (ViewRegistry.get(name).isDefined && allowExisting)
      return Seq.empty
    require(LakeRegistry.get(name).isEmpty,
      s"CREATE VIEW: '$name' names an existing graft table")
    require(ViewRegistry.get(name).isDefined ||
        !SecureCatalog.isVisibleName(Seq(name)),
      s"CREATE VIEW: '$name' is a governed table name")
    // the stored text must be a QUERY — a command smuggled into a
    // view body would execute at every read
    val parsed = spark.sessionState.sqlParser.parsePlan(viewSql)
    require(!parsed.isInstanceOf[Command],
      s"CREATE VIEW: view body must be a query, got " +
        parsed.getClass.getSimpleName)
    // the expensive part — analysis under the creating principal —
    // runs OUTSIDE the mutation lock
    val schema = spark.sql(viewSql).schema
    val cols = schema.fields.map(_.name).toSeq
    if (columnAliases.nonEmpty) {
      require(columnAliases.size == cols.size,
        s"CREATE VIEW: ${columnAliases.size} column aliases for " +
          s"${cols.size} query columns")
      require(cols.map(_.toLowerCase).distinct.size == cols.size,
        "CREATE VIEW with a column list requires distinct query " +
          "output column names")
      require(columnAliases.map(_.toLowerCase).distinct.size ==
          columnAliases.size,
        "CREATE VIEW: duplicate names in the view column list")
    }
    val outNames =
      if (columnAliases.nonEmpty) columnAliases else cols
    val outputColumns = outNames.zip(
      schema.fields.map(_.dataType.simpleString).toSeq)
    val definer = spark.conf.get(SecureCatalog.PrincipalConf, "")
    val vd = ViewDef(name, viewSql, columnAliases, cols, outputColumns,
      definer, security == "definer", comment, properties)
    // authorize-then-mutate is atomic under the lock: the REPLACE
    // authorization must be judged against the ViewDef actually
    // displaced, not one a concurrent CREATE raced in after the check
    ViewRegistry.mutationLock.synchronized {
      val existing = ViewRegistry.get(name)
      if (replace)
        existing.foreach(ViewMutation.authorize(spark, _, "REPLACE"))
      ViewRegistry.create(vd, replace)
      // a replaced GOVERNED view keeps its policies but the column
      // universe must follow the new definition — stale columnsOf
      // would brick every granted read on a removed column
      if (existing.isDefined && SecureCatalog.isGoverned(name))
        SecureCatalog.governTable(name, outNames)
    }
    Seq.empty
  }
}

case class GraftDropViewCommand(name: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    // atomic under the mutation lock: authorization is judged against
    // the exact ViewDef being removed, and ungovern only runs for a
    // drop that actually happened
    ViewRegistry.mutationLock.synchronized {
      ViewRegistry.get(name).foreach { vd =>
        ViewMutation.authorize(spark, vd, "DROP")
        if (ViewRegistry.drop(name))
          // a governed view's governance entry (and every stale
          // grant on the name) dies with it — leaving it would make
          // the name un-recreatable and route later reads into the
          // governed-TABLE branch (a name with no raw relation)
          SecureCatalog.ungovern(name)
      }
    }
    Seq.empty
  }
}
