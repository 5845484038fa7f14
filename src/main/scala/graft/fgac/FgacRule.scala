package graft.fgac

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst-level FGAC enforcement (the Databricks-Lakeguard-style
  * design, see PAPERS.md): governed relation *names* are resolved by
  * this rule, not the session catalog, so the secured plan is in
  * place before any star expansion or column resolution happens.
  * A governed name resolves to
  *
  *   SubqueryAlias(name, Project(maskedVisibleCols,
  *     Filter(rowPredicate, rawRelation)))
  *
  * which makes `spark.sql("SELECT * FROM patients")` transparently
  * governed — exactly the UX of the reference, where the EMR-on-EKS
  * secure query engine applies Lake Formation cell filters before
  * user code sees rows
  * (/root/reference/consumer_account_setup/consumer_emr_on_eks_setup.sh:388-420).
  *
  * Because the rewrite only adds Filter/Project *expressions*,
  * Catalyst pushdown then moves them into the parquet scan: row-group
  * pruning and column pruning still apply, and FGAC adds zero
  * shuffles at 100 TB.
  *
  * The raw relation is resolved inside [[SecureCatalog]] at each
  * analysis — a governed lake table's live snapshot, or the plan a
  * DataFrame-backed name was governed over — never under a session
  * name, so no principal can name it (local-mode
  * stand-in for the producer's storage credentials, which in the
  * reference only the Lake Formation data-access role can use —
  * producer_iceberg_datalake_setup.sh:96-101).
  */
case class FgacRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // Fast path: every case below matches only unresolved nodes
    // (UnresolvedRelation, DescribeRelation over an unresolved
    // target), so a fully-resolved plan cannot match — skip the tree
    // walk. The analyzer re-runs resolution rules to fixed point, so
    // this rule is invoked many times per query on already-resolved
    // plans; `resolved` is a cached lazy val, making the skip O(1).
    if (plan.resolved) return plan
    val who = spark.conf.get(SecureCatalog.PrincipalConf, "")
    plan.transformUp {
      // DESCRIBE TABLE on a governed name answers from the POLICY,
      // not the storage: any grant — SELECT or DESCRIBE-only
      // (producer_iceberg_datalake_setup.sh:305 grants them
      // separately) — yields the column-filtered schema as a local
      // relation; no grant denies. The scan path below stays denied
      // for DESCRIBE-only principals (SecureCatalog.authorize).
      case d: org.apache.spark.sql.catalyst.plans.logical.DescribeRelation
          if describeTarget(d.relation).exists(FgacRule.claimsWhole(spark, _)) =>
        val parts = FgacRule.stripCat(spark,
          describeTarget(d.relation).get).map(_.toLowerCase)
        val name = parts.mkString(".")
        val target = SecureCatalog.resolveLink(name)
        // an UNGOVERNED view is queryable by anyone, so its schema is
        // too (outputColumns was captured at CREATE for this);
        // governed names — views included — go through the
        // column-filtered policy path
        val visible = graft.lakehouse.ViewRegistry.get(target) match {
          case Some(vd) if !SecureCatalog.isGoverned(target) =>
            vd.outputColumns.map(_._1)
          case _ => SecureCatalog.describeColumns(who, name)
        }
        // views have no stored raw relation — types come from the
        // schema captured at CREATE VIEW
        val typeOf: String => String =
          graft.lakehouse.ViewRegistry.get(target) match {
            case Some(vd) => c =>
              vd.outputColumns.find(_._1.equalsIgnoreCase(c))
                .map(_._2).getOrElse("unknown")
            case None =>
              val rawSchema = SecureCatalog.relationOf(spark, target).schema
              // nested policy entries (`outer.inner`) resolve one
              // struct level — the SAME resolver the governed SHOW
              // CREATE TABLE uses, so the two never disagree
              c => graft.lakehouse.GovernedMeta.resolveType(rawSchema, c)
                .map(_.simpleString).getOrElse("unknown")
          }
        val rows = visible.map { c =>
          val dt = typeOf(c)
          org.apache.spark.sql.catalyst.InternalRow(
            org.apache.spark.unsafe.types.UTF8String.fromString(c),
            org.apache.spark.unsafe.types.UTF8String.fromString(dt),
            null)
        }
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
          d.output, rows)
      // Governed names, resource links and graft views — bare
      // (`patients`), namespace-qualified
      // (`dev.healthcare_db.rl_patients`, the reference's only form —
      // consumer_emr_on_eks_setup.sh:407-412) or catalog-qualified
      // (`graft.db.t`) — resolve here; a qualified name that bypassed
      // governance would be a policy hole, so interception keys on
      // the full dotted name.
      case u: UnresolvedRelation
          if FgacRule.claims(spark, u.multipartIdentifier) =>
        FgacRule.resolveName(spark, u.multipartIdentifier, who)
      // `VERSION AS OF` / `TIMESTAMP AS OF` on a claimed name: the
      // same dispatch, authorized and audited like a plain read
      case RelationTimeTravel(u: UnresolvedRelation, ts, version)
          if FgacRule.claims(spark, u.multipartIdentifier) =>
        FgacRule.resolveName(spark, u.multipartIdentifier, who,
          version = version, timestamp = ts)
    }
  }

  /** The multipart name under a DESCRIBE target, whatever unresolved
    * shape the parser produced for it. */
  private def describeTarget(rel: LogicalPlan): Option[Seq[String]] =
    rel match {
      case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
        Some(t.multipartIdentifier)
      case u: UnresolvedRelation => Some(u.multipartIdentifier)
      case _ => None
    }

}

object FgacRule {

  /** A leading configured-catalog segment strips when the STRIPPED
    * name is the governed/view one (alias coherence with the lake's
    * three-part addressing: a `graft.db.t` read resolves through the
    * SAME policy as `db.t`, which the lake rule refuses to claim); a
    * full 3-part governed name keeps its own registration. */
  private def stripCat(spark: SparkSession,
      parts: Seq[String]): Seq[String] =
    if (parts.size == 3 && !SecureCatalog.isVisibleName(parts) &&
        parts.head.equalsIgnoreCase(
          graft.lakehouse.LakeRegistry.catalogOf(spark)) &&
        (SecureCatalog.isVisibleName(parts.tail) ||
          graft.lakehouse.ViewRegistry.isView(parts.tail)))
      parts.tail
    else parts

  /** Whether relation name `parts` is FGAC's to resolve: a graft view,
    * a governed name or a resource link — or one of those with a
    * `branch_<ref>` / `tag_<ref>` suffix ([[refAddressed]]). */
  def claims(spark: SparkSession, parts: Seq[String]): Boolean =
    claimsWhole(spark, parts) || refAddressed(spark, parts).isDefined

  private def claimsWhole(spark: SparkSession, parts: Seq[String]): Boolean = {
    val p = stripCat(spark, parts)
    SecureCatalog.isVisibleName(p) || graft.lakehouse.ViewRegistry.isView(p)
  }

  /** Iceberg's ref-addressed identifier on a claimed name
    * (`db.t.branch_dev`, `t.tag_v1`) that is not itself claimed:
    * (the claimed name, suffix kind, ref). */
  private def refAddressed(spark: SparkSession,
      parts: Seq[String]): Option[(Seq[String], String, String)] =
    if (parts.size < 2 || claimsWhole(spark, parts) ||
        !claimsWhole(spark, parts.init)) None
    else graft.lakehouse.LakeChanges.refSuffix(parts.last).map {
      case (kind, ref) => (parts.init, kind, ref)
    }

  /** THE name dispatch for a [[claims]]ed name, resolved for effective
    * principal `who`: a resource link resolves to its target, a graft
    * view expands inline ([[graft.lakehouse.ViewExpansion]], which
    * checks the view-level grant), and any other governed name
    * splices its raw relation ([[SecureCatalog.relationOf]]: a lake
    * table's snapshot — current, or the one `version` / `timestamp`
    * names — else the governed plan) — as is for the admin session
    * and ungoverned targets, secured under `who`'s policy otherwise
    * (throws when governed-but-ungranted). A ref-suffixed name reads
    * the ref's head as `version`, authorized and audited on the
    * claimed name like `VERSION AS OF 'ref'`. Shared by the session
    * rule above and view expansion, which resolves a view's
    * underlying names as the view's effective principal rather than
    * the session's. */
  def resolveName(spark: SparkSession, parts: Seq[String], who: String,
      depth: Int = 0, version: Option[String] = None,
      timestamp: Option[Expression] = None): LogicalPlan = {
    val alias = stripCat(spark, parts).map(_.toLowerCase)
    val ref = refAddressed(spark, parts)
    val lower = ref.fold(alias)(r => stripCat(spark, r._1).map(_.toLowerCase))
    val name = lower.mkString(".")
    val target = SecureCatalog.resolveLink(name)
    if (ref.isDefined && (version.isDefined || timestamp.isDefined))
      throw new UnsupportedOperationException(
        s"time travel on ref-addressed '${alias.mkString(".")}': the " +
          "suffix already names the snapshot")
    if (graft.lakehouse.ViewRegistry.get(target).isDefined) {
      if (version.isDefined || timestamp.isDefined || ref.isDefined)
        throw new UnsupportedOperationException(
          s"time travel on view '$name': a view has no snapshots")
      graft.lakehouse.ViewExpansion.expand(spark, lower, who, depth)
    } else {
      val policy =
        if (who.isEmpty) None else SecureCatalog.authorize(who, name)
      // the ref resolves after authorization, so a denied principal
      // learns nothing about the table's refs
      val pinned = ref.fold(version) { case (_, kind, r) =>
        Some(graft.lakehouse.LakeRegistry.get(target).fold(r)(t =>
          graft.lakehouse.LakeChanges.suffixRef(t, lower, kind, r)._1))
      }
      val raw = SecureCatalog.relationOf(spark, target, pinned, timestamp)
      SubqueryAlias(alias, policy.fold(raw)(
        securePlan(_, raw, who, raw.output.map(_.name))))
    }
  }

  /** Compile a stored policy expression for effective principal
    * `who`: parse, then fold the context function `graft_principal()`
    * to a string literal of the principal — the Snowflake
    * current_role()-in-row-access-policy pattern. Substitution
    * happens BEFORE analysis, so one stored policy text yields a
    * per-principal constant predicate: Catalyst constant-folds it
    * into the scan like any literal, and the 100 TB cost is
    * identical to a hand-written per-principal filter. The function
    * exists ONLY inside policy expressions — anywhere else it stays
    * unresolved and fails loudly. */
  private[fgac] def compilePolicyExpr(sql: String, who: String)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    CatalystSqlParser.parseExpression(sql).transformUp {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.map(_.toLowerCase) == Seq("graft_principal") =>
        require(f.arguments.isEmpty,
          "graft_principal() takes no arguments")
        org.apache.spark.sql.catalyst.expressions.Literal(who)
    }

  /** Filter (against raw row) → mask → project, matching Lake
    * Formation data-cells-filter evaluation order. `who` is the
    * EFFECTIVE principal the policy evaluates as (the querying
    * principal, or a definer view's captured creator).
    *
    * NESTED fields (one struct level, `outer.inner` — the same depth
    * the lake side evolves, and the shape Lake Formation's nested
    * data filters address):
    *   - `allowedColumns` entry `outer` = the whole struct;
    *   - entries `outer.a`, `outer.b` with NO bare `outer` = the
    *     struct REBUILT from exactly the listed children — fail
    *     closed, an unlisted child never appears regardless of what
    *     governance registered (null structs stay null);
    *   - a mask keyed `outer.inner` replaces that child in place
    *     (UpdateFields for whole-struct grants — no need to know the
    *     sibling list — or the rebuild's child expression otherwise);
    *   - row filters may reference nested paths (they evaluate
    *     against the raw row and push down like any nested
    *     predicate).
    * All of it is still plain Catalyst expressions, so nested-schema
    * pruning keeps the scan reading only the accessed leaves.
    *
    * `columns` is the relation's full column list — the visible set
    * when the policy lists none (a mask-only policy). */
  def securePlan(policy: TablePolicy, raw: LogicalPlan, who: String,
      columns: Seq[String]): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{CaseWhen,
      CreateNamedStruct, IsNull, Literal, UpdateFields}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue
    val filtered = policy.rowFilter match {
      case Some(p) => Filter(compilePolicyExpr(p, who), raw)
      case None    => raw
    }
    policy.allowedColumns match {
      case None if policy.masks.isEmpty => filtered
      case _ =>
        val visible = policy.allowedColumns.getOrElse(columns)
        def maskAt(abs: String): Option[Expression] =
          policy.masks.collectFirst { case (path, m)
              if path.equalsIgnoreCase(abs) => compilePolicyExpr(m, who) }
        def wholeVisible(abs: String): Boolean =
          visible.exists(_.equalsIgnoreCase(abs))
        def kidHeads(paths: Seq[String], abs: String): Seq[String] =
          paths.filter(_.toLowerCase.startsWith(abs.toLowerCase + "."))
            .map(_.substring(abs.length + 1).takeWhile(_ != '.'))
            .distinct
        // Whole node visible: deeper masks apply IN PLACE — recursive
        // UpdateFields, one hop per path segment, so siblings are
        // never enumerated at ANY depth and null intermediate structs
        // stay null (UpdateFields is null-propagating).
        def inPlace(abs: String, base: Expression): Expression = {
          val heads = kidHeads(policy.masks.keys.toSeq, abs)
          if (heads.isEmpty) base
          else UpdateFields(base, heads.map { h =>
            val childAbs = s"$abs.$h"
            org.apache.spark.sql.catalyst.expressions.WithField(h,
              maskAt(childAbs).getOrElse(inPlace(childAbs,
                UnresolvedExtractValue(base, Literal(h)))))
          })
        }
        // The value of node `abs` under this policy: an exact mask
        // replaces it outright (deeper entries notwithstanding); a
        // bare grant keeps it whole with in-place masks; otherwise
        // only LISTED descendants exist — rebuild from exactly them,
        // recursively, fail closed (an unlisted child never appears
        // at any depth; a bare NULL in the null branch coerces to the
        // struct type during analysis, so null structs stay null).
        def secureValue(abs: String, base: Expression): Expression =
          maskAt(abs).getOrElse {
            if (wholeVisible(abs)) inPlace(abs, base)
            else {
              val rebuilt = CreateNamedStruct(
                kidHeads(visible, abs).flatMap { h =>
                  val childAbs = s"$abs.$h"
                  Seq(Literal(h), secureValue(childAbs,
                    UnresolvedExtractValue(base, Literal(h))))
                })
              CaseWhen(Seq((IsNull(base), Literal(null))), Some(rebuilt))
            }
          }
        val topVisible = visible.map(_.takeWhile(_ != '.')).distinct
        val projList: Seq[NamedExpression] = topVisible.map { c =>
          Alias(secureValue(c, UnresolvedAttribute.quoted(c)), c)()
        }
        Project(projList, filtered)
    }
  }
}

/** Registered via `SparkSession.builder().withExtensions(...)` or the
  * `spark.sql.extensions` conf — the same wiring the reference uses
  * for Iceberg's extensions (consumer_emr_on_eks_setup.sh:440). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // LakeSqlRule must run before FgacRule: a DML statement's target
    // relation has to be lowered to a table command (with its write
    // authorization) before the read-path rule rewrites the name into
    // a secured scan.
    e.injectResolutionRule { session =>
      // three-part lake addressing needs the catalog name CLAIMED
      // before any analysis runs (spark_catalog errors multi-part
      // namespaces eagerly, ahead of every resolution rule)
      graft.lakehouse.LakeRegistry.ensureCatalog(session)
      graft.lakehouse.LakeSqlRule(session)
    }
    e.injectResolutionRule(FgacRule(_))
    // DDL must be claimed before analysis (ResolveSessionCatalog would
    // otherwise grab CREATE TABLE … USING graft) — parser-level, the
    // same point Iceberg's SQL extensions hook.
    e.injectParser((session, parser) =>
      new graft.lakehouse.GraftSqlParser(session, parser))
    graft.functions.NativeExprs.registrations.foreach(e.injectFunction)
  }
}
