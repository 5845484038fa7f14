package graft.fgac

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, StringType}

/** SQL governance front-end: `GRANT` / `REVOKE` / `SHOW GRANTS`, the
  * statement surface of the reference's grant-command workflow (the
  * producer grants the consumer account
  * `aws lakeformation grant-permissions` with a data-cells filter and
  * PermissionsWithGrantOption,
  * producer_iceberg_datalake_setup.sh:221-306; the consumer admin
  * re-scopes what it received to team roles,
  * consumer_emr_on_eks_setup.sh:313-335). Spark has no GRANT grammar,
  * so these are parser-level claims, same as the maintenance DDL.
  *
  *   GRANT perm[, perm…] [(col, …)] ON t TO p
  *         [WITH GRANT OPTION] [WHERE predicate]
  *   REVOKE ALL ON t FROM p
  *   SHOW GRANTS ON t
  *
  * Permissions map onto [[TablePolicy]]: SELECT → selectable,
  * INSERT/DELETE/UPDATE → write, DESCRIBE alone → schema-only; the
  * optional column list narrows `allowedColumns` and WHERE becomes
  * the row filter (Lake Formation's data-cells filter in SQL form).
  *
  * The issuing principal decides the path: the ungoverned (admin)
  * session grants DIRECTLY; a governed principal's GRANT goes through
  * [[SecureCatalog.regrant]] and therefore inherits the whole
  * narrow-only law — needs GRANT OPTION, may only narrow columns,
  * row filters AND-compose and are reference-scoped, masks inherit.
  * REVOKE by a non-admin only removes delegations that principal
  * made; any revoke CASCADES through delegations made by the revoked
  * grantee (their authority dies with the grant).
  */
object GrantSql {

  private val Grant =
    """(?is)\s*GRANT\s+([A-Z_]+(?:\s*,\s*[A-Z_]+)*)\s*(?:\(([^)]*)\))?\s+ON\s+(\w+(?:\.\w+)*)\s+TO\s+(\w+)(\s+WITH\s+GRANT\s+OPTION)?(?:\s+WHERE\s+(.+?))?\s*;?\s*""".r
  private val NsGrant =
    """(?is)\s*GRANT\s+([A-Z_]+(?:\s*,\s*[A-Z_]+)*)\s+ON\s+NAMESPACE\s+(\w+(?:\.\w+)*)\s+TO\s+(\w+)(\s+WITH\s+GRANT\s+OPTION)?\s*;?\s*""".r
  private val Revoke =
    """(?is)\s*REVOKE\s+ALL\s+ON\s+(\w+(?:\.\w+)*)\s+FROM\s+(\w+)\s*;?\s*""".r
  private val NsRevoke =
    """(?is)\s*REVOKE\s+ALL\s+ON\s+NAMESPACE\s+(\w+(?:\.\w+)*)\s+FROM\s+(\w+)\s*;?\s*""".r
  private val ShowGrants =
    """(?is)\s*SHOW\s+GRANTS\s+ON\s+(\w+(?:\.\w+)*)\s*;?\s*""".r
  private val NsShowGrants =
    """(?is)\s*SHOW\s+GRANTS\s+ON\s+NAMESPACE\s+(\w+(?:\.\w+)*)\s*;?\s*""".r
  private val ShowGrantsFor =
    """(?is)\s*SHOW\s+GRANTS\s+FOR\s+(\w+)\s*;?\s*""".r

  private val KnownPerms =
    Set("SELECT", "DESCRIBE", "INSERT", "DELETE", "UPDATE", "ALL")

  /** A grant's SHOW GRANTS cells after the resource columns:
    * permissions, columns, row filter, grantable, grantor. The
    * permissions are the honest capability set: SELECT and/or WRITE
    * as held; DESCRIBE only for a grant carrying neither (every grant
    * exposes schema, but inventing "DESCRIBE" next to WRITE would make
    * a write-only grant indistinguishable from an explicit
    * DESCRIBE+INSERT one). */
  private[fgac] def grantCells(pol: TablePolicy): Seq[Any] = Seq(
    Seq(
      if (pol.selectable) Some("SELECT") else None,
      if (pol.write) Some("WRITE") else None).flatten match {
      case Nil => "DESCRIBE"
      case ps  => ps.mkString(", ")
    },
    pol.allowedColumns.map(_.mkString(", ")).getOrElse("*"),
    pol.rowFilter.getOrElse(""),
    pol.grantable,
    pol.grantor.getOrElse(""))

  def parse(sqlText: String): Option[LogicalPlan] = sqlText match {
    // NAMESPACE forms first — the table patterns would otherwise have
    // to prove they cannot also match (they cannot, but order makes
    // it structural)
    case NsGrant(perms, ns, grantee, option) =>
      val permSet = perms.toUpperCase.split(",").map(_.trim).toSet
      val unknown = permSet -- KnownPerms
      require(unknown.isEmpty,
        s"GRANT: unknown permission(s) ${unknown.mkString(", ")} " +
          s"(supported: ${KnownPerms.toSeq.sorted.mkString(", ")})")
      Some(GraftNsGrantCommand(ns.toLowerCase, permSet, grantee,
        option != null))
    case NsRevoke(ns, grantee) =>
      Some(GraftNsRevokeCommand(ns.toLowerCase, grantee))
    case NsShowGrants(ns) =>
      Some(GraftShowGrantsCommand(ns.toLowerCase, namespace = true))
    case ShowGrantsFor(principal) =>
      Some(GraftShowGrantsForCommand(principal))
    case Grant(perms, cols, table, grantee, option, where) =>
      val permSet = perms.toUpperCase.split(",").map(_.trim).toSet
      val unknown = permSet -- KnownPerms
      require(unknown.isEmpty,
        s"GRANT: unknown permission(s) ${unknown.mkString(", ")} " +
          s"(supported: ${KnownPerms.toSeq.sorted.mkString(", ")})")
      val colSeq = Option(cols).map(
        _.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      require(!colSeq.exists(_.isEmpty),
        "GRANT: empty column list — omit the parentheses for all columns")
      Some(GraftGrantCommand(table.toLowerCase, permSet, colSeq,
        grantee, option != null, Option(where).map(_.trim)))
    case Revoke(table, grantee) =>
      Some(GraftRevokeCommand(table.toLowerCase, grantee))
    case ShowGrants(table) =>
      Some(GraftShowGrantsCommand(table.toLowerCase))
    case _ => None
  }
}

case class GraftGrantCommand(table: String, perms: Set[String],
    cols: Option[Seq[String]], grantee: String, grantOption: Boolean,
    rowFilter: Option[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val target = SecureCatalog.resolveLink(table)
    require(SecureCatalog.isGoverned(target),
      s"GRANT: '$table' is not a governed resource")
    val all = perms.contains("ALL")
    val pol = TablePolicy(target,
      rowFilter = rowFilter,
      allowedColumns = cols,
      write = all || perms.exists(Set("INSERT", "DELETE", "UPDATE")),
      grantable = grantOption,
      selectable = all || perms.contains("SELECT"))
    val who = spark.conf.get(SecureCatalog.PrincipalConf, "")
    if (who.isEmpty) {
      // the admin path must fail at GRANT time, not at every later
      // grantee read: a typo'd column or unparseable WHERE would
      // otherwise register silently and surface as an analysis error
      // deep inside the grantee's query (regrant already validates
      // its own path)
      val governedCols = SecureCatalog.columnsOf(target)
      cols.toSeq.flatten
        .filterNot(c => governedCols.exists(_.equalsIgnoreCase(c)))
        .foreach { bad =>
          throw new IllegalArgumentException(
            s"GRANT: column '$bad' is not a column of '$target' " +
              s"(columns: ${governedCols.mkString(", ")})")
        }
      rowFilter.foreach(
        SecureCatalog.checkExprRefs(_, governedCols, "GRANT row filter"))
      SecureCatalog.grantDirect(grantee, pol)
    }
    else SecureCatalog.regrant(who, grantee, target, pol)
    Seq.empty
  }
}

case class GraftRevokeCommand(table: String, grantee: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    SecureCatalog.revoke(
      spark.conf.get(SecureCatalog.PrincipalConf, ""), grantee, table)
    Seq.empty
  }
}

/** `GRANT perm[, …] ON NAMESPACE ns TO p [WITH GRANT OPTION]` — the
  * Lake Formation Database-resource grant (the reference grants the
  * consumer account DESCRIBE on the whole database with grant option,
  * producer_iceberg_datalake_setup.sh:259-274). Permission-only: no
  * column list, no WHERE. Admin grants directly; a governed
  * principal's grant delegates through the namespace narrow-only law. */
case class GraftNsGrantCommand(ns: String, perms: Set[String],
    grantee: String, grantOption: Boolean) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    // grant-time existence check, like the table path's "not a
    // governed resource" refusal: a typo'd namespace must fail HERE,
    // not as a generic no-grant denial at the grantee's first query
    require(SecureCatalog.hasNamespace(ns),
      s"GRANT: no governed table or resource link lives under " +
        s"namespace '$ns'")
    val all = perms.contains("ALL")
    val pol = TablePolicy(ns,
      write = all || perms.exists(Set("INSERT", "DELETE", "UPDATE")),
      grantable = grantOption,
      selectable = all || perms.contains("SELECT"))
    val who = spark.conf.get(SecureCatalog.PrincipalConf, "")
    if (who.isEmpty) SecureCatalog.nsGrantDirect(grantee, ns, pol)
    else SecureCatalog.nsRegrant(who, grantee, ns, pol)
    Seq.empty
  }
}

case class GraftNsRevokeCommand(ns: String, grantee: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    SecureCatalog.nsRevoke(
      spark.conf.get(SecureCatalog.PrincipalConf, ""), grantee, ns)
    Seq.empty
  }
}

/** `SHOW GRANTS FOR p` — everything one principal holds, across
  * tables, tags, and namespaces (the per-principal audit view an
  * admin reaches for first). Visibility: the admin sees anyone; a
  * principal sees ONLY themselves (someone else's grant inventory is
  * policy topology). */
case class GraftShowGrantsForCommand(principal: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("resource", StringType, nullable = false)(),
    AttributeReference("kind", StringType, nullable = false)(),
    AttributeReference("permissions", StringType, nullable = false)(),
    AttributeReference("columns", StringType, nullable = false)(),
    AttributeReference("row_filter", StringType, nullable = false)(),
    AttributeReference("grantable", BooleanType, nullable = false)(),
    AttributeReference("grantor", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val who = spark.conf.get(SecureCatalog.PrincipalConf, "")
    if (who.nonEmpty && who != principal) {
      AuditLog.record(who, "SHOW_GRANTS", s"principal:$principal",
        "DENIED", "cross-principal enumeration")
      throw new AccessDeniedException(
        s"principal '$who' may not enumerate the grants of " +
          s"'$principal'")
    }
    val p = SecureCatalog.principal(principal).getOrElse(
      throw new IllegalArgumentException(
        s"unknown principal '$principal'"))
    def row(res: String, kind: String, pol: TablePolicy): Row =
      Row.fromSeq(res +: kind +: GrantSql.grantCells(pol))
    (p.grants.toSeq.sortBy(_._1).map { case (t, pol) =>
      row(t, "table", pol) } ++
      p.tagGrants.toSeq.sortBy(_._1).map { case (t, pol) =>
        row(t, "tag", pol) } ++
      p.nsGrants.toSeq.sortBy(_._1).map { case (n, pol) =>
        row(n, "namespace", pol) })
  }
}

/** `SHOW GRANTS ON t` / `SHOW GRANTS ON NAMESPACE ns` — the admin
  * sees every grant on the resource; a governed principal sees only
  * their OWN grant and the delegations they made (a grantee must not
  * enumerate the policy topology — who else reads the table, under
  * which filters — from a plain read grant). */
case class GraftShowGrantsCommand(table: String,
    namespace: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("principal", StringType, nullable = false)(),
    AttributeReference("permissions", StringType, nullable = false)(),
    AttributeReference("columns", StringType, nullable = false)(),
    AttributeReference("row_filter", StringType, nullable = false)(),
    AttributeReference("grantable", BooleanType, nullable = false)(),
    AttributeReference("grantor", StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val who = spark.conf.get(SecureCatalog.PrincipalConf, "")
    val entries =
      if (namespace) SecureCatalog.nsGrantsOn(table)
      else {
        val target = SecureCatalog.resolveLink(table)
        require(SecureCatalog.isGoverned(target),
          s"SHOW GRANTS: '$table' is not a governed resource")
        SecureCatalog.grantsOn(target)
      }
    entries
      .filter { case (p, pol) =>
        who.isEmpty || p == who || pol.grantor.contains(who) }
      .sortBy(_._1)
      .map { case (p, pol) => Row.fromSeq(p +: GrantSql.grantCells(pol)) }
  }
}
