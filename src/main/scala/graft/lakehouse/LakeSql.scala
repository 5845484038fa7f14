package graft.lakehouse

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedIdentifier, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{StructField, StructType}

/** SQL DML front-end for [[GraftTable]] — the reference's workflow is
  * SQL-first (`INSERT INTO` producer_iceberg_datalake_setup.sh:143-160,
  * `MERGE / UPDATE / DELETE` :203-236 against its Iceberg tables), so
  * a lakehouse table must be addressable from `spark.sql(...)`, not
  * only through the Scala API.
  *
  * Spark's parser already produces typed DML plans
  * ([[MergeIntoTable]], [[UpdateTable]], [[DeleteFromTable]],
  * [[InsertIntoStatement]]); [[LakeSqlRule]] intercepts those whose
  * target is a name registered in [[LakeRegistry]] and lowers them to
  * eagerly-executed commands over the [[GraftTable]] API. This is the
  * same structure as a DSv2 row-level-operation implementation with
  * the plumbing graft actually needs: conditions and assignments are
  * carried as Catalyst expressions, re-rendered into the table's flat
  * clause namespace (see [[MergeClause]]).
  */
object LakeRegistry {
  private val tables =
    new java.util.concurrent.ConcurrentHashMap[String, GraftTable]()

  /** Make `table` addressable from SQL DML as `name` (session-global,
    * like a temp view; the local-mode analog of a catalog entry).
    * Names may be namespace-qualified (`db.t`) — the registry key is
    * the dotted lowercase form, the same canonicalization
    * [[graft.fgac.SecureCatalog.isVisibleName]] uses, so governed
    * and lake resolution agree on what a name IS. */
  def register(name: String, table: GraftTable): Unit =
    tables.put(name.toLowerCase, table)
  def get(name: String): Option[GraftTable] =
    Option(tables.get(name.toLowerCase))
  def unregister(name: String): Unit = tables.remove(name.toLowerCase)

  /** All registered names, sorted (SHOW TABLES' listing source). */
  def list: Seq[String] = {
    import scala.jdk.CollectionConverters._
    tables.keySet.asScala.toSeq.sorted
  }

  /** Canonical registry key of a multi-part SQL identifier:
    * `Seq("Db","T")` → `"db.t"` (no catalog stripping — use
    * [[keyOf]] where three-part addressing applies). */
  def nameOf(parts: Seq[String]): String =
    parts.map(_.toLowerCase).mkString(".")

  /** The session's configured catalog name for THREE-part lake
    * addressing (the reference's consumer scripts address everything
    * through a configured catalog — `dev.consumer_db.rl_patients`,
    * consumer_emr_on_eks_setup.sh:407-412 — and write through the
    * same prefix). Default "graft". */
  val CatalogConf = "spark.graft.catalog"
  def catalogOf(spark: SparkSession): String =
    spark.conf.get(CatalogConf, "graft").toLowerCase

  /** Registry key of a 1-3 part identifier: a leading segment equal
    * to the configured catalog name STRIPS — `graft.db.t` and `db.t`
    * (and, as a DML alias, bare `t`) address the same table. None
    * for a 3-part name under any OTHER catalog (out of claim scope —
    * the statement falls through to Spark) and for >3 parts. */
  def keyOf(spark: SparkSession, parts: Seq[String]): Option[String] = {
    val p = parts.map(_.toLowerCase)
    // `graft.t` (catalog + bare name) strips to `t` UNLESS a table is
    // actually registered under a namespace literally named like the
    // catalog — the registered name wins, so existing `graft.t`
    // tables keep resolving while the catalog-qualified bare form
    // (which SHOW TABLES IN graft advertises) resolves too
    if (p.size == 2 && p.head == catalogOf(spark) &&
        get(p.mkString(".")).isEmpty)
      Some(p(1))
    else if (p.size <= 2) Some(p.mkString("."))
    else if (p.size == 3 && p.head == catalogOf(spark))
      Some(p.tail.mkString("."))
    else None
  }

  /** THE lake-read builder — [[LakeSqlRule]] resolves ungoverned
    * names through it and [[graft.fgac.SecureCatalog.relationOf]]
    * governed ones, so a governed lake name follows its commits
    * exactly like an ungoverned one: the analyzed plan of registered
    * table `name`, captured at each analysis (the same snapshot
    * isolation as [[GraftTable.read]]). With no `version` or
    * `timestamp` it reads the current snapshot — the
    * `graft.wap.branch` head when that branch exists (Iceberg's
    * `spark.wap.branch` read semantics), main otherwise. `VERSION AS
    * OF` takes a snapshot id or a branch/tag name; `TIMESTAMP AS OF`
    * a timestamp or string literal. */
  def relation(spark: SparkSession, name: String, version: Option[String],
      timestamp: Option[Expression]): LogicalPlan = {
    val t = get(name).getOrElse(throw new IllegalStateException(
      s"'$name' is not a registered lake table"))
    val df = (version, timestamp) match {
      case (Some(v), _) => t.readAt(v.toLongOption.getOrElse(t.headOf(v)))
      case (None, Some(ts)) => t.readAsOfTimestamp(tsMillis(spark, ts))
      case _ =>
        val b = spark.conf.get(GraftTable.WapBranchConf, "")
        (if (b.nonEmpty && t.hasBranch(b)) t.onBranch(b) else t).read()
    }
    df.queryExecution.analyzed
  }

  /** Epoch millis of a `TIMESTAMP AS OF` literal: TIMESTAMP literals
    * carry UTC micros; bare strings are interpreted in the SESSION
    * time zone (matching how Spark would cast them). Anything
    * non-literal fails loudly. */
  private def tsMillis(spark: SparkSession, e: Expression): Long = e match {
    case l: Literal
        if l.dataType == org.apache.spark.sql.types.TimestampType =>
      Math.floorDiv(l.value.asInstanceOf[Long], 1000L)
    case l: Literal
        if l.dataType == org.apache.spark.sql.types.StringType =>
      val zone = java.time.ZoneId.of(
        spark.sessionState.conf.sessionLocalTimeZone)
      val s = l.value.toString.replace(' ', 'T')
      val ldt = // date-only form means midnight (Iceberg convention)
        if (s.contains('T')) java.time.LocalDateTime.parse(s)
        else java.time.LocalDate.parse(s).atStartOfDay()
      ldt.atZone(zone).toInstant.toEpochMilli
    case other => throw new UnsupportedOperationException(
      s"TIMESTAMP AS OF requires a timestamp or string literal, got $other")
  }

  /** Bind the configured catalog name to the deferring
    * [[GraftLakeCatalog]] plugin unless the user bound it elsewhere —
    * without a registered catalog the analyzer errors three-part
    * names on spark_catalog's single-part-namespace rule BEFORE any
    * resolution rule runs. Called once per session by
    * [[graft.fgac.GraftExtensions]]; call it again after changing
    * `spark.graft.catalog` mid-session. */
  def ensureCatalog(spark: SparkSession): Unit = {
    val key = s"spark.sql.catalog.${catalogOf(spark)}"
    if (spark.conf.getOption(key).isEmpty)
      spark.conf.set(key, classOf[GraftLakeCatalog].getName)
  }
}

case class LakeSqlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** The active write-audit-publish branch, "" when unset
    * (Iceberg's `spark.wap.branch` session pattern). */
  private def wapBranch: String =
    spark.conf.get(GraftTable.WapBranchConf, "")

  /** (registered table, its SQL aliases) for a DML target plan. Under
    * `graft.wap.branch` the handle is PINNED to the branch, so the
    * whole DML — snapshot capture, conflict validation, commit CAS —
    * runs against the branch head; a missing branch refuses loudly
    * (a write must never silently land on main). */
  private def target(plan: LogicalPlan): Option[(GraftTable, Set[String], String)] =
    plan match {
      case SubqueryAlias(ident, u: UnresolvedRelation) =>
        target(u).map { case (t, as, n) => (t, as + ident.name.toLowerCase, n) }
      // REF-addressed DML (Iceberg's `INSERT INTO db.t.branch_b1` /
      // `UPDATE db.t.branch_b1 …`): the suffix pins the write to the
      // named branch — every commit lands through the branch handle's
      // refs CAS, main unchanged until fast_forward publishes. An
      // explicit suffix OVERRIDES the session wap branch (the more
      // specific spelling wins). Tag-addressed writes refuse (tags
      // are immutable pins); governed full names fall through to the
      // policy layer; checkWrite runs on the TABLE key below, so a
      // branch write needs exactly the table's write grant.
      case u: UnresolvedRelation
          if u.multipartIdentifier.size >= 2 &&
            LakeChanges.refSuffix(u.multipartIdentifier.last).isDefined &&
            LakeRegistry.keyOf(spark, u.multipartIdentifier)
              .forall(k => LakeRegistry.get(k).isEmpty) &&
            // a lake VIEW registered under the full suffixed name
            // owns it (views are read-only — the view machinery
            // answers reads; a write fails unresolved, never lands
            // on the table's branch), mirroring suffixClaimable
            !ViewRegistry.isView(u.multipartIdentifier) &&
            !graft.fgac.SecureCatalog.isVisibleName(
              u.multipartIdentifier) &&
            LakeRegistry.keyOf(spark, u.multipartIdentifier.init)
              .exists(k => LakeRegistry.get(k).isDefined) =>
        val name = LakeRegistry.keyOf(spark,
          u.multipartIdentifier.init).get
        val (wantKind, ref) =
          LakeChanges.refSuffix(u.multipartIdentifier.last).get
        if (wantKind == "tag")
          throw new UnsupportedOperationException(
            s"cannot write to tag-addressed '$name.tag_$ref': tags " +
              "are immutable — write to a branch, or re-tag after")
        val t0 = LakeRegistry.get(name).get
        val exact = t0.refs.find(_._1.equalsIgnoreCase(ref))
          .map(_._1).getOrElse(ref) // onBranch refuses a miss loudly
        Some((t0.onBranch(exact),
          Set(name, LakeRegistry.nameOf(u.multipartIdentifier.init),
            u.multipartIdentifier.init.last.toLowerCase,
            u.multipartIdentifier.map(_.toLowerCase).mkString("."),
            u.multipartIdentifier.last.toLowerCase), name))
      case u: UnresolvedRelation
          if LakeRegistry.keyOf(spark, u.multipartIdentifier).isDefined &&
            // a THREE-part name whose FULL dotted form is governed
            // belongs to FgacRule — claiming it here would bypass the
            // policy registered on the catalog-qualified name (which
            // may be a link carrying a different grant than `db.t`).
            // Two-part governed-AND-registered names keep claiming:
            // checkWrite below enforces their write grants.
            (u.multipartIdentifier.size <= 2 ||
              !graft.fgac.SecureCatalog.isVisibleName(
                u.multipartIdentifier)) =>
        // db-qualified targets claim under their dotted registry key
        // (the reference's whole workflow is `db.t`-addressed:
        // producer_iceberg_datalake_setup.sh:118-150); a leading
        // configured-catalog segment strips (`graft.db.t`, the
        // consumer's `dev.…` write shape). The full dotted name, the
        // stripped key, and the bare table part all serve as SQL
        // aliases, so `WHERE t.c = …`, `WHERE db.t.c = …` and
        // `WHERE graft.db.t.c = …` all strip.
        // Qualifier-over-field precedence is the SQL rule: for a
        // table `db.t` that ALSO has a struct column named `t`,
        // `t.x` binds the table qualifier (write `db.t.t.x` to
        // address the struct's field — the 2-part prefix strips,
        // leaving `t.x` to resolve as the struct path).
        val name = LakeRegistry.keyOf(spark, u.multipartIdentifier).get
        // DML addressed to a view must refuse crisply, not fall into
        // relation resolution and fail as an unwritable subquery
        if (ViewRegistry.get(name).isDefined)
          throw new UnsupportedOperationException(
            s"'$name' is a view; views are read-only")
        LakeRegistry.get(name).map { t =>
          val routed = if (wapBranch.isEmpty) t else t.onBranch(wapBranch)
          (routed, Set(name, LakeRegistry.nameOf(u.multipartIdentifier),
            u.multipartIdentifier.last.toLowerCase), name)
        }
      case _ => None
    }

  /** Write-path FGAC composes with the SQL front-end: a registered
    * name that is ALSO governed requires the session principal to
    * hold a write grant (deny-by-default, like the Lake Formation
    * INSERT/DELETE permissions the reference provisions). */
  private def checkWrite(name: String, op: String): Unit =
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name, op)

  override def apply(plan: LogicalPlan): LogicalPlan =
    // Fast path: lowerCommand needs an UnresolvedRelation target and
    // resolveReads matches only unresolved relations / time travels,
    // so a fully-resolved plan cannot match either — skip the walk.
    // (The analyzer re-invokes resolution rules to fixed point, so
    // most invocations see an already-resolved plan.)
    if (plan.resolved) plan
    else lowerCommand(plan).getOrElse(resolveReads(plan))

  /** The registry key of an identifier READS may claim: governed
    * names belong to FgacRule, and governance must be checked on
    * BOTH the full (possibly catalog-qualified) form AND the
    * stripped key — a table governed as `db.t` would otherwise leak
    * raw through its `graft.db.t` alias (the write path's checkWrite
    * runs on the stripped key, so writes were never exposed). */
  private def ungovernedKey(parts: Seq[String]): Option[String] =
    if (graft.fgac.SecureCatalog.isVisibleName(parts)) None
    else LakeRegistry.keyOf(spark, parts)
      .filterNot(graft.fgac.SecureCatalog.isVisibleName)

  /** SQL reads over registered, ungoverned lakehouse names: an
    * [[UnresolvedRelation]] that Spark's own catalog rules left
    * unresolved (so no temp view or catalog table shadows it —
    * built-in resolution runs earlier in the same batch iteration),
    * plain or under `VERSION AS OF` / `TIMESTAMP AS OF`
    * (Iceberg-style SQL time travel), resolves through
    * [[LakeRegistry.relation]]. Governed names are skipped:
    * [[graft.fgac.FgacRule]] owns those and resolves them through the
    * same builder under the reader's policy. */
  private def resolveReads(plan: LogicalPlan): LogicalPlan = {
    def claim(u: UnresolvedRelation, version: Option[String],
        ts: Option[Expression]): Option[LogicalPlan] =
      ungovernedKey(u.multipartIdentifier)
        .filter(LakeRegistry.get(_).isDefined).map { name =>
          // multi-part alias: `t.c` AND `db.t.c` qualifiers both resolve
          SubqueryAlias(u.multipartIdentifier.map(_.toLowerCase),
            LakeRegistry.relation(spark, name, version, ts))
        }
    plan.transformUp {
      case tt @ org.apache.spark.sql.catalyst.analysis.RelationTimeTravel(
          u: UnresolvedRelation, ts, version) =>
        claim(u, version, ts).getOrElse(tt)
      case u: UnresolvedRelation => claim(u, None, None).getOrElse(u)
    }
  }

  /** `col [NOT] IN (subquery)` or `[NOT] EXISTS (correlated
    * subquery)` among the WHERE conjuncts of a DELETE/UPDATE →
    * [[GraftSubqueryDmlCommand]] / [[GraftExistsDmlCommand]]; None
    * when the condition is subquery-free (the plain string-predicate
    * path); every OTHER subquery shape (scalar, disjunctive,
    * non-equi-correlated EXISTS) refuses loudly — the string path
    * would degrade it to an unparseable predicate. */
  /** AND-flattened conjuncts of a predicate (shared by the IN- and
    * EXISTS-subquery DML decompositions). */
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  private def subqueryDml(t: GraftTable, aliases: Set[String],
      cond: Expression, sets: Option[Map[String, String]])
      : Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Not, InSubquery,
      ListQuery, Exists, SubqueryExpression}
    def hasSub(e: Expression) =
      e.exists(_.isInstanceOf[SubqueryExpression])
    val (subs, plain) = conjuncts(cond).partition(hasSub)
    if (subs.isEmpty) return None
    require(subs.size == 1,
      "at most one [NOT] IN / [NOT] EXISTS (subquery) conjunct per " +
        "DELETE/UPDATE")
    val residual =
      if (plain.isEmpty) None
      else Some(plain.map(p => unqualified(p, aliases).sql)
        .mkString("(", ") AND (", ")"))
    subs.head match {
      case InSubquery(values, lq: ListQuery) =>
        require(values.size == 1,
          "IN (subquery) supports a single value expression")
        Some(GraftSubqueryDmlCommand(t, lq.plan,
          attrName(values.head, aliases), negated = false, residual, sets))
      case Not(InSubquery(values, lq: ListQuery)) =>
        require(values.size == 1,
          "NOT IN (subquery) supports a single value expression")
        Some(GraftSubqueryDmlCommand(t, lq.plan,
          attrName(values.head, aliases), negated = true, residual, sets))
      case e: Exists =>
        val (src, keys) = decorrelateExists(e.plan, aliases)
        Some(GraftExistsDmlCommand(t, src, keys, negated = false,
          residual, sets))
      case Not(e: Exists) =>
        val (src, keys) = decorrelateExists(e.plan, aliases)
        Some(GraftExistsDmlCommand(t, src, keys, negated = true,
          residual, sets))
      case other => throw new UnsupportedOperationException(
        "only `col [NOT] IN (subquery)` or `[NOT] EXISTS (subquery)` " +
          s"is supported in DELETE/UPDATE WHERE; got: ${other.sql}")
    }
  }

  /** Decorrelate a `[NOT] EXISTS (SELECT … FROM s WHERE s.k = t.k
    * [AND local …])` subquery: the correlated equalities (one side a
    * target-alias-qualified column, the other a subquery-local
    * expression) become the MERGE key columns — the inner side
    * projects each local expression AS its target column name, local
    * conjuncts stay a subquery-side filter, and the SELECT list is
    * discarded (EXISTS only tests emptiness). Returns (the
    * decorrelated source plan, the target key column names). Any
    * non-equality correlation (`s.k > t.k`, disjunctions, outer refs
    * outside the WHERE) refuses loudly — there is no merge-key
    * lowering for those, and a silent local-only reading would
    * DML-affect the wrong rows. */
  private def decorrelateExists(sub: LogicalPlan, aliases: Set[String])
      : (LogicalPlan, Seq[String]) = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, And,
      EqualTo => Eq, NamedExpression}
    def isOuter(e: Expression): Boolean = e match {
      case a: UnresolvedAttribute =>
        aliasPrefix(a.nameParts, aliases) == a.nameParts.size - 1 &&
          a.nameParts.size >= 2
      case _ => false
    }
    def hasOuter(e: Expression): Boolean = e.exists(isOuter)
    // the parsed shape is Project(selectList, Filter(where, rel)) —
    // EXISTS without a correlating WHERE has no rows to key a merge on
    val (selectList, where, child) = sub match {
      case Project(p, Filter(c, ch)) => (p, c, ch)
      case Filter(c, ch) => (Seq.empty[NamedExpression], c, ch)
      case _ => throw new UnsupportedOperationException(
        "[NOT] EXISTS in DELETE/UPDATE requires a correlated WHERE " +
          "clause (`… WHERE s.k = t.k`); an uncorrelated EXISTS is a " +
          "constant predicate — evaluate it outside the statement")
    }
    require(!selectList.exists(hasOuter),
      "[NOT] EXISTS: outer (target) references are supported only in " +
        "the subquery's WHERE clause")
    val (correlated, local) = conjuncts(where).partition(hasOuter)
    require(correlated.nonEmpty,
      "[NOT] EXISTS in DELETE/UPDATE requires at least one correlated " +
        "equality (`s.k = t.k`) in the subquery's WHERE clause")
    val keyed: Seq[(String, Expression)] = correlated.map {
      case Eq(o, inner) if isOuter(o) && !hasOuter(inner) =>
        attrName(o, aliases) -> inner
      case Eq(inner, o) if isOuter(o) && !hasOuter(inner) =>
        attrName(o, aliases) -> inner
      case other => throw new UnsupportedOperationException(
        "[NOT] EXISTS correlation must be a conjunction of equalities " +
          "between a target column and a subquery expression; got: " +
          other.sql)
    }
    require(keyed.map(_._1.toLowerCase).distinct.size == keyed.size,
      "[NOT] EXISTS correlates the same target column more than once")
    // nested-path targets have no single merge-key column to join on
    keyed.foreach { case (k, _) => require(!k.contains("."),
      s"[NOT] EXISTS correlation on nested field '$k' is not supported") }
    val filtered =
      if (local.isEmpty) child
      else Filter(local.reduce(And), child)
    val src = Project(keyed.map { case (k, e) => Alias(e, k)() }, filtered)
    (src, keyed.map(_._1))
  }

  /** DDL/DML statements addressed to a graft table, lowered to eager
    * commands. None = not ours; fall through to [[resolveReads]]. */
  private def lowerCommand(plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case d: DeleteFromTable =>
      target(d.table).map { case (t, aliases, name) =>
        checkWrite(name, "DELETE")
        subqueryDml(t, aliases, d.condition, None).getOrElse(
          GraftDeleteCommand(t, unqualified(d.condition, aliases).sql))
          : LogicalPlan
      }

    case u: UpdateTable =>
      target(u.table).map { case (t, aliases, name) =>
        checkWrite(name, "UPDATE")
        val sets = u.assignments.map { a =>
          require(!a.value.exists(
              _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
                .SubqueryExpression]),
            "subqueries in UPDATE SET values are not supported")
          attrName(a.key, aliases) -> unqualified(a.value, aliases).sql
        }.toMap
        u.condition.flatMap(subqueryDml(t, aliases, _, Some(sets)))
          .getOrElse {
            val cond =
              u.condition.map(unqualified(_, aliases).sql).getOrElse("true")
            GraftUpdateCommand(t, sets, cond): LogicalPlan
          }
      }

    case m: MergeIntoTable =>
      target(m.targetTable).map { case (t, targetAliases, name) =>
        checkWrite(name, "MERGE")
        val (srcPlan, srcAliases) = m.sourceTable match {
          case SubqueryAlias(ident, child) =>
            (m.sourceTable, Set(ident.name.toLowerCase))
          // unaliased `USING src_tbl`: SQL addresses source columns as
          // `src_tbl.c` (or `db.src_tbl.c` when qualified), so the
          // table name itself — bare and dotted — is the alias
          case u: UnresolvedRelation =>
            (u: LogicalPlan, Set(u.multipartIdentifier.last.toLowerCase,
              LakeRegistry.nameOf(u.multipartIdentifier)) ++
              LakeRegistry.keyOf(spark, u.multipartIdentifier))
          case other => (other, Set.empty[String])
        }
        val keys = equiKeys(m.mergeCondition, name, targetAliases, srcAliases)
        def flat(e: Expression): String =
          flatten(e, targetAliases, srcAliases).sql
        val clauses: Seq[MergeClause] =
          m.matchedActions.map {
            case UpdateAction(cond, assigns, _) =>
              MergeClause.Update(cond.map(flat),
                assigns.map(a =>
                  attrName(a.key, targetAliases) -> flat(a.value)).toMap)
            case UpdateStarAction(cond) =>
              MergeClause.Update(cond.map(flat), Map.empty)
            case DeleteAction(cond) => MergeClause.Delete(cond.map(flat))
            case other => throw new UnsupportedOperationException(
              s"merge clause $other")
          } ++ m.notMatchedActions.map {
            // NOT MATCHED clauses have no target row: unqualified
            // column references resolve against the SOURCE
            // (Spark/Iceberg/Delta semantics) — without this, the
            // standard `INSERT (id) VALUES (id)` idiom fails as an
            // unknown column over the source-only anti side
            case InsertAction(cond, assigns) =>
              def flatSrc(e: Expression): String =
                flatten(e, targetAliases, srcAliases).transformUp {
                  case a: UnresolvedAttribute if a.nameParts.size == 1 &&
                      !a.nameParts.head.startsWith(GraftTable.SrcPrefix) =>
                    UnresolvedAttribute(
                      Seq(GraftTable.SrcPrefix + a.nameParts.head))
                }.sql
              MergeClause.Insert(cond.map(flatSrc),
                assigns.map(a =>
                  attrName(a.key, targetAliases) -> flatSrc(a.value)).toMap)
            case InsertStarAction(cond) =>
              MergeClause.Insert(cond.map(flat), Map.empty)
            case other => throw new UnsupportedOperationException(
              s"merge clause $other")
          } ++ m.notMatchedBySourceActions.map {
            // target rows with no source match: conditions/values may
            // reference target columns only (the flat namespace makes
            // a stray source ref fail resolution loudly)
            case UpdateAction(cond, assigns, _) =>
              MergeClause.UpdateBySource(cond.map(flat),
                assigns.map(a =>
                  attrName(a.key, targetAliases) -> flat(a.value)).toMap)
            case DeleteAction(cond) =>
              MergeClause.DeleteBySource(cond.map(flat))
            case other => throw new UnsupportedOperationException(
              s"merge NOT MATCHED BY SOURCE clause $other")
          }
        GraftMergeCommand(t, srcPlan, keys, clauses,
          m.withSchemaEvolution): LogicalPlan
      }

    case i: InsertIntoStatement =>
      target(i.table).map { case (t, _, name) =>
        checkWrite(name, "INSERT")
        GraftInsertCommand(t, i.query, i.overwrite, i.byName,
          i.userSpecifiedCols, i.partitionSpec): LogicalPlan
      }

    case _ => None
  }

  /** Assignment-target name: strip a LEADING target alias, keep the
    * rest of the path dotted — collapsing `address.city` to `city`
    * would silently bind a same-named top-level column instead of
    * the struct field (the path either resolves as a (possibly
    * nested) column downstream, or fails loudly there). */
  /** Leading-alias prefix length of an attribute path, 0 when none:
    * `t.c` → 1 when "t" is an alias; `db.t.c` → 2 when "db.t" is (the
    * namespace-qualified target's dotted alias); `graft.db.t.c` → 3
    * when the catalog-qualified dotted name is. Longer prefixes are
    * tried FIRST so a full qualifier strips whole rather than leaving
    * a partial path behind via a shorter miss. */
  private def aliasPrefix(parts: Seq[String], aliases: Set[String]): Int =
    if (parts.size >= 4 &&
        aliases.contains(parts.take(3).map(_.toLowerCase).mkString(".")))
      3
    else if (parts.size >= 3 &&
        aliases.contains(parts.take(2).map(_.toLowerCase).mkString(".")))
      2
    else if (parts.size >= 2 && aliases.contains(parts.head.toLowerCase)) 1
    else 0

  private def attrName(e: Expression, aliases: Set[String]): String =
    e match {
      case a: UnresolvedAttribute =>
        a.nameParts.drop(aliasPrefix(a.nameParts, aliases)).mkString(".")
      case a: Attribute => a.name
      case other => throw new UnsupportedOperationException(
        s"assignment target $other")
    }

  /** Strip target-alias qualifiers: `t.c` / `db.t.c` → `c`. */
  private def unqualified(e: Expression, aliases: Set[String]): Expression =
    e.transformUp {
      case a: UnresolvedAttribute
          if aliasPrefix(a.nameParts, aliases) == a.nameParts.size - 1 =>
        UnresolvedAttribute(Seq(a.nameParts.last))
    }

  /** Rewrite into the merge clause namespace: source references get
    * the [[GraftTable.SrcPrefix]], target references lose their
    * qualifier. Unqualified names are assumed to be target columns
    * (ambiguity is the SQL author's to resolve with aliases). */
  private def flatten(e: Expression, targetAliases: Set[String],
      srcAliases: Set[String]): Expression =
    e.transformUp {
      case a: UnresolvedAttribute if a.nameParts.size >= 2 &&
          (aliasPrefix(a.nameParts, srcAliases) == a.nameParts.size - 1 ||
            aliasPrefix(a.nameParts, targetAliases) == a.nameParts.size - 1) =>
        if (aliasPrefix(a.nameParts, srcAliases) == a.nameParts.size - 1)
          UnresolvedAttribute(Seq(GraftTable.SrcPrefix + a.nameParts.last))
        else
          UnresolvedAttribute(Seq(a.nameParts.last))
    }

  /** Extract equi-join key columns from the ON condition: a
    * conjunction of `t.k = s.k` (same column name both sides, the
    * standard upsert shape). */
  private def equiKeys(cond: Expression, name: String,
      targetAliases: Set[String], srcAliases: Set[String]): Seq[String] = {
    def split(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        split(l) ++ split(r)
      case other => Seq(other)
    }
    split(cond).map {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute) =>
        val (l, r) = (a.nameParts, b.nameParts)
        if (l.last.toLowerCase != r.last.toLowerCase)
          throw new UnsupportedOperationException(
            s"MERGE ON must equate same-named columns, got ${a.sql} = ${b.sql}")
        // One side must reference the target, the other the source —
        // otherwise a degenerate condition (`ON t.k = t.k`,
        // unqualified `k = k`, or equalities over unrelated
        // qualifiers) would silently become a wrong-keyed MERGE
        // (round-3 ADVICE).
        def qual(parts: Seq[String]): Option[String] =
          if (parts.size >= 2) Some(parts.init.last.toLowerCase) else None
        val (ql, qr) = (qual(l), qual(r))
        val (lTgt, rTgt) =
          (ql.exists(targetAliases), qr.exists(targetAliases))
        val (lSrc, rSrc) = (ql.exists(srcAliases), qr.exists(srcAliases))
        val valid =
          if (srcAliases.nonEmpty) (lTgt && rSrc) || (lSrc && rTgt)
          else (lTgt && !rTgt) || (rTgt && !lTgt)
        if (!valid) throw new UnsupportedOperationException(
          s"MERGE INTO $name: each ON equality must compare a target " +
            s"column with a source column, got ${a.sql} = ${b.sql}")
        l.last
      case other => throw new UnsupportedOperationException(
        s"MERGE INTO $name: ON must be a conjunction of column " +
          s"equalities, got ${other.sql}")
    }
  }
}

case class GraftDeleteCommand(@transient table: GraftTable, cond: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    // Iceberg's write.delete.mode: merge-on-read tables commit either
    // a scoped delete predicate or position tombstones
    // (write.delete.style) — no rewrite; copy-on-write rewrites the
    // affected files.
    if (table.deleteMode == "merge-on-read") {
      if (table.deleteStyle == "position") table.deleteMoRPos(cond)
      else if (table.deleteStyle == "vector") table.deleteMoRDv(cond)
      else table.deleteMoR(cond)
    } else table.delete(cond)
    Seq.empty
  }
}

/** `DELETE/UPDATE … WHERE col [NOT] IN (subquery)` — the subquery
  * becomes a MERGE source (distinct-projected to the key and
  * PERSISTED once, so the cardinality check can never fire and the
  * probes don't re-run it) and the DML lowers to the matching merge
  * clause: `IN` → WHEN MATCHED, `NOT IN` → WHEN NOT MATCHED BY
  * SOURCE. ANSI `NOT IN` null semantics hold: a NULL in the subquery
  * result makes the predicate unknowable for every row, so the
  * statement commits nothing; an EMPTY result makes `NOT IN` true
  * for every row (including NULL-keyed ones — it degrades to the
  * plain DML on just the residual) and `IN` false for every row
  * (no-op); with a non-empty list, NULL-keyed target rows are
  * excluded from the NOT-MATCHED side by an implicit `key IS NOT
  * NULL` residual. The merge engine's own capability limits (pending
  * MoR tombstones, BySource COW-only) apply and are surfaced with a
  * subquery-DML context prefix. */
case class GraftSubqueryDmlCommand(@transient table: GraftTable,
    @transient src: LogicalPlan, key: String, negated: Boolean,
    residual: Option[String], sets: Option[Map[String, String]])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val df = GraftSqlBridge.ofRows(spark, src)
    require(df.columns.length == 1,
      s"IN (subquery) must select exactly one column, got " +
        s"${df.columns.length}")
    // one computed copy: the null/empty probes AND the merge's own
    // consumptions would otherwise each re-run the subquery (Spark
    // does not CSE across actions)
    val srcDf = df.toDF(key).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val probe = srcDf.select(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.when(col(key).isNull, 1L)
            .otherwise(0L)).as("nulls")).head()
      val (nRows, nNulls) =
        (probe.getAs[Long]("n"),
          Option(probe.getAs[Any]("nulls")).fold(0L)(
            _.asInstanceOf[Long]))
      // the merge engine inherits its own capability limits (pending
      // MoR deletes, BySource COW-only); surface them AS that, not
      // as a bare MERGE error on a DELETE/UPDATE statement
      def mergeCtx(clause: MergeClause): Unit =
        try { table.merge(srcDf, Seq(key), Seq(clause)); () }
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(
              "DELETE/UPDATE … [NOT] IN (subquery) runs on the " +
                s"MERGE engine: ${e.getMessage}", e)
          case e: UnsupportedOperationException =>
            throw new UnsupportedOperationException(
              "DELETE/UPDATE … [NOT] IN (subquery) runs on the " +
                s"MERGE engine: ${e.getMessage}", e)
        }
      if (negated) {
        // ANSI NOT IN: one NULL in the list makes every row's
        // predicate UNKNOWN — the whole statement is a no-op
        if (nNulls > 0) return Seq.empty
        if (nRows == 0) {
          // `x NOT IN (empty)` is TRUE for EVERY row — including
          // NULL-keyed ones — so this is the PLAIN DML with only the
          // residual condition (which also honors the table's
          // merge-on-read write modes)
          sets match {
            case Some(ss) =>
              GraftUpdateCommand(table, ss,
                residual.getOrElse("true")).run(spark)
            case None =>
              GraftDeleteCommand(table,
                residual.getOrElse("true")).run(spark)
          }
          return Seq.empty
        }
        val cond = Some((residual.toSeq :+ s"$key IS NOT NULL")
          .mkString("(", ") AND (", ")"))
        mergeCtx(sets match {
          case Some(ss) => MergeClause.UpdateBySource(cond, ss)
          case None     => MergeClause.DeleteBySource(cond)
        })
      } else {
        if (nRows == 0) return Seq.empty // `x IN (empty)` is FALSE
        mergeCtx(sets match {
          case Some(ss) => MergeClause.Update(residual, ss)
          case None     => MergeClause.Delete(residual)
        })
      }
      Seq.empty
    } finally {
      srcDf.unpersist(blocking = false); ()
    }
  }
}

/** `DELETE/UPDATE … WHERE [NOT] EXISTS (SELECT … WHERE s.k = t.k)` —
  * the decorrelated subquery (local filters kept, correlated
  * equalities projected AS the target key columns) becomes a MERGE
  * source, distinct-projected and PERSISTED once, and the DML lowers
  * to the matching clause: EXISTS → WHEN MATCHED, NOT EXISTS → WHEN
  * NOT MATCHED BY SOURCE. EXISTS null semantics are the JOIN's own —
  * no probes needed: a NULL target key never equates, so EXISTS
  * leaves it alone and NOT EXISTS affects it (both exactly ANSI),
  * and NULL subquery keys simply never match. An EMPTY subquery makes
  * EXISTS a no-op and NOT EXISTS the plain DML on just the residual
  * (both short-circuited off one count of the persisted key
  * relation). Same 100 TB shape as the IN lowering: the subquery
  * evaluates ONCE into a broadcastable distinct-key relation, never
  * per-row. */
case class GraftExistsDmlCommand(@transient table: GraftTable,
    @transient src: LogicalPlan, keys: Seq[String], negated: Boolean,
    residual: Option[String], sets: Option[Map[String, String]])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val srcDf = GraftSqlBridge.ofRows(spark, src).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // same capability-context wrapper as the IN path: merge-engine
      // limits surface as subquery-DML errors, not bare MERGE ones
      def mergeCtx(clause: MergeClause): Unit =
        try { table.merge(srcDf, keys, Seq(clause)); () }
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(
              "DELETE/UPDATE … [NOT] EXISTS (subquery) runs on the " +
                s"MERGE engine: ${e.getMessage}", e)
          case e: UnsupportedOperationException =>
            throw new UnsupportedOperationException(
              "DELETE/UPDATE … [NOT] EXISTS (subquery) runs on the " +
                s"MERGE engine: ${e.getMessage}", e)
        }
      val empty = srcDf.isEmpty
      if (negated) {
        if (empty) {
          // NOT EXISTS over an empty subquery is TRUE for every row
          // (NULL-keyed ones included): the plain DML on the residual
          sets match {
            case Some(ss) =>
              GraftUpdateCommand(table, ss,
                residual.getOrElse("true")).run(spark)
            case None =>
              GraftDeleteCommand(table,
                residual.getOrElse("true")).run(spark)
          }
        } else mergeCtx(sets match {
          case Some(ss) => MergeClause.UpdateBySource(residual, ss)
          case None     => MergeClause.DeleteBySource(residual)
        })
      } else if (!empty) {
        mergeCtx(sets match {
          case Some(ss) => MergeClause.Update(residual, ss)
          case None     => MergeClause.Delete(residual)
        })
      } // EXISTS over an empty subquery affects nothing
      Seq.empty
    } finally {
      srcDf.unpersist(blocking = false); ()
    }
  }
}

case class GraftUpdateCommand(@transient table: GraftTable,
    sets: Map[String, String], cond: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    // Iceberg's write.update.mode: merge-on-read tombstones the old
    // images and appends new ones; copy-on-write rewrites files.
    if (table.updateMode == "merge-on-read") table.updateMoRPos(sets, cond)
    else table.update(sets, cond)
    Seq.empty
  }
}

case class GraftMergeCommand(@transient table: GraftTable,
    @transient sourcePlan: LogicalPlan, keys: Seq[String],
    clauses: Seq[MergeClause], evolveSchema: Boolean = false)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    table.merge(GraftSqlBridge.ofRows(spark, sourcePlan), keys, clauses,
      evolveSchema)
    Seq.empty
  }
}

/** INSERT [OVERWRITE] INTO t [(col list)] [PARTITION (p='v'[, …])]
  * [BY NAME] <query> — the full Spark/Iceberg INSERT surface:
  *
  *  - a COLUMN LIST matches the query positionally onto the listed
  *    columns; unlisted columns take their declared write-DEFAULT,
  *    else NULL when nullable, else refuse loudly (never a silent
  *    positional shift);
  *  - a STATIC partition spec (`PARTITION (p='v')`) becomes a
  *    constant column cast to the partition source's type (the Hive
  *    form Iceberg also accepts); a dynamic entry (`PARTITION (p)`)
  *    just asserts the column is a partition source;
  *  - OVERWRITE under partitionOverwriteMode=dynamic replaces
  *    exactly the partitions the written rows land in (even with a
  *    static spec — Spark's dynamic mode stays row-scoped); under
  *    static mode a PARTITION clause drops the spec'd literal PREFIX
  *    first (Hive's contract: a partial spec replaces every cell
  *    under it, an empty source truncates it — GraftTable
  *    .overwritePartitions derives the replaced set from the spec's
  *    literals then, not the rows). */
case class GraftInsertCommand(@transient table: GraftTable,
    @transient query: LogicalPlan, overwrite: Boolean, byName: Boolean,
    cols: Seq[String] = Nil,
    partitionSpec: Map[String, Option[String]] = Map.empty)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.lit
    val df0 = GraftSqlBridge.ofRows(spark, query)
    val snap = table.currentSnapshot
    val schema = snap.schema
    require(cols.isEmpty || !byName,
      "INSERT: a column list and BY NAME are mutually exclusive")
    partitionSpec.keys.foreach { k =>
      require(PartField.parseAll(snap.partitionCols)
          .exists(_.col.equalsIgnoreCase(k)),
        s"PARTITION ($k): '$k' is not a partition source column of " +
          s"(${snap.partitionCols.mkString(", ")})")
    }
    val static = partitionSpec.collect { case (k, Some(v)) =>
      schema.fieldNames.find(_.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(
          s"PARTITION ($k): no such column")) -> v
    }
    // plain SQL INSERT matches columns by position (BY NAME opts out)
    val df =
      if (byName) {
        // a BY NAME query may not also provide a statically-spec'd
        // partition column — silently overwriting it would hide a
        // contradiction between the two (Hive refuses the same way)
        static.keys.foreach(k => require(
          !df0.columns.exists(_.equalsIgnoreCase(k)),
          s"BY NAME query provides '$k', which the static PARTITION " +
            "spec also sets"))
        df0
      }
      else if (cols.nonEmpty) {
        val resolved = cols.map(c =>
          schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
            throw new IllegalArgumentException(
              s"INSERT column list names unknown column '$c'")))
        require(resolved.distinct.size == resolved.size,
          "INSERT column list repeats a column")
        require(!resolved.exists(static.contains),
          "a column may not appear in BOTH the column list and a " +
            "static PARTITION spec")
        require(df0.columns.length == resolved.length,
          s"INSERT arity ${df0.columns.length} != column list " +
            s"arity ${resolved.length}")
        val named = df0.toDF(resolved.toIndexedSeq: _*)
        schema.fields
          .filterNot(f => resolved.contains(f.name) ||
            static.contains(f.name))
          .foldLeft(named) { (d, f) =>
            // declared write-DEFAULTs fill in aligned(); bare
            // nullable columns take NULL (the SQL contract)
            if (f.metadata.contains(GraftTable.DefaultSqlKey)) d
            else if (f.nullable)
              d.withColumn(f.name, lit(null).cast(f.dataType))
            else throw new IllegalArgumentException(
              s"column '${f.name}' is not in the INSERT column " +
                "list, is not nullable, and has no DEFAULT")
          }
      } else {
        // positional contract (Spark/Hive): non-partition-spec'd
        // columns in table order, then any DYNAMIC spec entries
        // (`PARTITION (a='1', b)`) LAST — ordered by the TABLE's
        // partition order, never Map iteration order (hash order at
        // 5+ entries) or the user's spec order (Spark normalizes
        // dynamic columns to partition order); either alternative
        // silently swaps same-typed columns
        val dynSet = partitionSpec.collect { case (k, None) =>
          schema.fieldNames.find(_.equalsIgnoreCase(k)).getOrElse(
            throw new IllegalArgumentException(
              s"PARTITION ($k): no such column")) }.toSet
        val dynamicKeys = PartField.parseAll(snap.partitionCols)
          .map(_.col).filter(c => dynSet.exists(_.equalsIgnoreCase(c)))
          .map(c => schema.fieldNames.find(_.equalsIgnoreCase(c))
            .getOrElse(c))
          .distinct.toIndexedSeq
        require(dynamicKeys.size == dynSet.size,
          s"dynamic PARTITION keys (${dynSet.mkString(", ")}) must " +
            "each be a distinct partition source column")
        val names =
          schema.fieldNames
            .filterNot(c => static.contains(c) || dynamicKeys.contains(c))
            .toIndexedSeq ++ dynamicKeys
        require(df0.columns.length == names.length,
          s"INSERT arity ${df0.columns.length} != expected arity " +
            s"${names.length}" +
            (if (static.nonEmpty)
              s" (table minus static PARTITION columns)" else ""))
        df0.toDF(names: _*)
      }
    val withStatic = static.foldLeft(df) { case (d, (c, v)) =>
      d.withColumn(c, lit(v).cast(schema(c).dataType))
    }
    if (overwrite) {
      // honor spark.sql.sources.partitionOverwriteMode on a
      // partitioned table: DYNAMIC replaces only the partitions the
      // written rows land in (Spark/Iceberg semantics — even when a
      // static spec is present, Spark's dynamic mode stays
      // row-scoped); STATIC with a PARTITION clause drops the spec'd
      // literal PREFIX first (Hive's contract: a partial spec
      // replaces every cell under it, an empty source truncates it);
      // STATIC without a clause replaces the whole table.
      val dynamic = spark.conf
        .get("spark.sql.sources.partitionOverwriteMode", "static")
        .equalsIgnoreCase("dynamic")
      if ((dynamic || static.nonEmpty) &&
          snap.partitionCols.nonEmpty)
        table.overwritePartitions(withStatic,
          staticSpec = if (dynamic) Map.empty else static)
      else table.overwrite(withStatic)
    } else table.append(withStatic)
    Seq.empty
  }
}

/** SQL DDL for graft tables, lowered AT PARSE TIME. DDL cannot wait
  * for the resolution batch: Spark's own `ResolveSessionCatalog` runs
  * before injected resolution rules within each analyzer iteration and
  * claims `CREATE TABLE … USING graft` for the session catalog, which
  * fails looking up a "graft" DataSource. A parser extension sees the
  * parsed plan first — the same interception point Iceberg's SQL
  * extensions use for their DDL
  * (the reference enables exactly that parser:
  * consumer_emr_on_eks_setup.sh:438-447, IcebergSparkSessionExtensions).
  * DML stays in [[LakeSqlRule]] — its targets resolve fine lazily. */
object LakeDdl {
  def lower(spark: SparkSession, plan: LogicalPlan): Option[LogicalPlan] =
    plan match {
      // CREATE [OR REPLACE] VIEW — all single-part persistent views
      // are graft views ([[ViewRegistry]]); TEMPORARY views parse to
      // a different node and keep Spark's session-catalog behavior.
      case cv: CreateView if cv.child.isInstanceOf[UnresolvedIdentifier] &&
          LakeRegistry.keyOf(spark,
            cv.child.asInstanceOf[UnresolvedIdentifier].nameParts)
            .isDefined &&
          cv.originalText.isDefined =>
        val name = LakeRegistry.keyOf(spark,
          cv.child.asInstanceOf[UnresolvedIdentifier].nameParts).get
        Some(GraftCreateViewCommand(name, cv.originalText.get,
          cv.userSpecifiedColumns.map(_._1), cv.comment,
          cv.properties, cv.replace, cv.allowExisting))
      // DROP VIEW on a registered graft view; anything else (temp
      // views, IF EXISTS on an absent name) keeps Spark's behavior
      case dv: DropView if dv.child.isInstanceOf[UnresolvedIdentifier] &&
          LakeRegistry.keyOf(spark,
            dv.child.asInstanceOf[UnresolvedIdentifier].nameParts)
            .exists(k => ViewRegistry.isView(k.split('.').toSeq)) =>
        Some(GraftDropViewCommand(LakeRegistry.keyOf(spark,
          dv.child.asInstanceOf[UnresolvedIdentifier].nameParts).get))
      // CREATE TABLE … USING graft — the reference's producer flow is
      // exactly this shape (`CREATE TABLE … PARTITIONED BY (city) …
      // TBLPROPERTIES ('table_type'='ICEBERG')`,
      // producer_iceberg_datalake_setup.sh:117-131).
      case ct: CreateTable
          if ct.tableSpec.provider.exists(_.equalsIgnoreCase("graft")) =>
        val name = identName(spark, ct.name, "CREATE TABLE")
        val schema = StructType(ct.columns.map { c =>
          // DEFAULT <expr> at CREATE: pure write-default (every file
          // postdates the column, so the initial-default boundary of
          // ALTER-time defaults never applies). Validated here —
          // parse/fold/cast — so a bad DEFAULT fails the CREATE.
          val meta0 = c.defaultValue.fold(
            org.apache.spark.sql.types.Metadata.empty) { d =>
            val sql = d.originalSQL
            GraftTable.validateDefault(spark, sql, c.dataType, c.name)
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString(GraftTable.DefaultSqlKey, sql).build()
          }
          // `col TYPE NOT NULL` in DDL is an EXPLICIT declaration —
          // stamp the enforcement flag (setNotNull's key), unlike a
          // creating FRAME's incidental nullable=false, which stays
          // cosmetic. This is also what makes SHOW CREATE TABLE
          // output replay with its constraints intact.
          val meta =
            if (c.nullable) meta0
            else new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(meta0)
              .putBoolean(GraftTable.NotNullKey, true).build()
          StructField(c.name, c.dataType, c.nullable, metadata = meta)
        })
        Some(GraftCreateTableCommand(name, schema,
          partitionCols(ct.partitioning), location(spark, ct.tableSpec, name),
          ct.ignoreIfExists, tableProps(ct.tableSpec,
            allowConstraints = true)))

      case cta: CreateTableAsSelect
          if cta.tableSpec.provider.exists(_.equalsIgnoreCase("graft")) =>
        val name = identName(spark, cta.name, "CREATE TABLE AS SELECT")
        Some(GraftCtasCommand(name, cta.query,
          partitionCols(cta.partitioning), location(spark, cta.tableSpec, name),
          cta.ignoreIfExists, tableProps(cta.tableSpec)))

      // CREATE OR REPLACE TABLE … AS SELECT (Iceberg RTAS): one
      // atomic swap commit on the existing table — history preserved,
      // schema/spec/data replaced. Plain REPLACE TABLE (no OR CREATE)
      // refuses when the table is missing, per the SQL contract.
      case rta: ReplaceTableAsSelect
          if rta.tableSpec.provider.exists(_.equalsIgnoreCase("graft")) =>
        val name = rta.name match {
          case id: UnresolvedIdentifier
              if LakeRegistry.keyOf(spark, id.nameParts).isDefined =>
            LakeRegistry.keyOf(spark, id.nameParts).get
          case other => throw new UnsupportedOperationException(
            "REPLACE TABLE USING graft requires a one- or two-part " +
              s"name (or three under the configured catalog), got $other")
        }
        // identName's governed-name refusal is about CREATE shadowing;
        // REPLACE of an EXISTING registered table is a write and defers
        // to authorizeWrite at run time — but a governed name with no
        // lake table behind it still may not be created/shadowed here
        require(LakeRegistry.get(name).isDefined ||
            !graft.fgac.SecureCatalog.isVisibleName(name.split('.').toSeq),
          s"REPLACE TABLE: '$name' is a governed name with no lake " +
            "table behind it; create governed tables through " +
            "SecureCatalog, not SQL DDL")
        Some(GraftRtasCommand(name, rta.query,
          partitionCols(rta.partitioning), location(spark, rta.tableSpec, name),
          rta.orCreate, tableProps(rta.tableSpec)))

      case DropTable(id: UnresolvedIdentifier, _, purge)
          if LakeRegistry.keyOf(spark, id.nameParts).exists(
            claimDrop(spark, _)) =>
        Some(GraftDropTableCommand(
          LakeRegistry.keyOf(spark, id.nameParts).get, purge))

      // ALTER TABLE … ADD COLUMNS / RENAME COLUMN / DROP COLUMN —
      // schema evolution as SQL (Iceberg's ALTER TABLE surface).
      // Claimed only for names this engine manages; everything else
      // falls through to Spark.
      case ac: AddColumns =>
        claimAlter(spark, ac.table).map { name =>
          val cols = ac.columnsToAdd.map { c =>
            // any struct depth: the table API recurses the path
            val path = c.path.map(_.name).getOrElse(Nil)
            // DEFAULT <expr> → Iceberg-v3-style initial default,
            // carried in field metadata (GraftTable validates and
            // scopes it to pre-add files)
            val meta = c.default.fold(
              org.apache.spark.sql.types.Metadata.empty)(d =>
              new org.apache.spark.sql.types.MetadataBuilder()
                .putString(GraftTable.DefaultSqlKey, d.originalSQL).build())
            StructField((path :+ c.colName).mkString("."),
              c.dataType, nullable = true, metadata = meta)
          }
          GraftAlterCommand(name, "ADD COLUMNS", _.addColumns(cols))
        }

      // ALTER TABLE … SET/UNSET TBLPROPERTIES — same allowlist
      // validation as CREATE, so SQL-only users can flip write modes
      // (merge-on-read, schema evolution, isolation) post-create.
      case sp: SetTableProperties =>
        claimAlter(spark, sp.table).map { name =>
          LakeDdl.validateProps(sp.properties)
          GraftAlterCommand(name, "SET TBLPROPERTIES",
            t => t.setProperties(t.properties ++ sp.properties))
        }
      case up: UnsetTableProperties =>
        claimAlter(spark, up.table).map { name =>
          GraftAlterCommand(name, "UNSET TBLPROPERTIES",
            t => t.setProperties(t.properties -- up.propertyKeys))
        }

      // TRUNCATE TABLE t [PARTITION (p='v', …)] — metadata-only row
      // drop; old files stay for time travel until snapshot expiry
      case tt: org.apache.spark.sql.catalyst.plans.logical.TruncateTable =>
        claimAlter(spark, tt.table).map { name =>
          GraftAlterCommand(name, "TRUNCATE", _.truncate())
        }
      case tp: org.apache.spark.sql.catalyst.plans.logical
          .TruncatePartition =>
        claimAlter(spark, tp.table).map { name =>
          val spec = tp.partitionSpec match {
            case u: org.apache.spark.sql.catalyst.analysis
                .UnresolvedPartitionSpec => u.spec
            case other => throw new IllegalArgumentException(
              s"unsupported partition spec shape: $other")
          }
          GraftAlterCommand(name, "TRUNCATE PARTITION",
            _.truncatePartition(spec))
        }

      // ALTER TABLE … ALTER COLUMN c TYPE t — safe type promotion
      // (GraftTable.alterColumnType validates the Iceberg-safe set) —
      // and … ALTER COLUMN c SET/DROP NOT NULL (Delta's nullability
      // constraint; GraftTable.setNotNull validates existing rows,
      // writeData's single pass enforces new ones)
      case ac: org.apache.spark.sql.catalyst.plans.logical.AlterColumns =>
        claimAlter(spark, ac.table).map { name =>
          val actions = ac.specs.map { s =>
            require(s.newComment.isEmpty && s.newPosition.isEmpty &&
                s.newDefaultExpression.isEmpty && !s.dropDefault &&
                (s.newDataType.isDefined != s.newNullability.isDefined),
              "only ALTER COLUMN … TYPE or … SET/DROP NOT NULL is " +
                "supported")
            val c = s.column.name.mkString(".")
            s.newNullability match {
              case Some(nullable) => (t: GraftTable) =>
                if (nullable) t.dropNotNull(c) else t.setNotNull(c)
              case None => (t: GraftTable) =>
                t.alterColumnType(c, s.newDataType.get)
            }
          }
          GraftAlterCommand(name, "ALTER COLUMN",
            t => actions.foreach(_(t)))
        }

      case rc: RenameColumn =>
        claimAlter(spark, rc.table).map { name =>
          GraftAlterCommand(name, "RENAME COLUMN",
            _.renameColumn(rc.column.name.mkString("."), rc.newName))
        }

      case dc: DropColumns =>
        claimAlter(spark, dc.table).map { name =>
          val cols = dc.columnsToDrop.map(_.name.mkString("."))
          GraftAlterCommand(name, "DROP COLUMN",
            t => cols.foreach(t.dropColumn))
        }

      // ALTER TABLE old RENAME TO new — a metadata-only registry
      // re-key: the manifest, location, and snapshot history are all
      // name-independent, so history (and time travel across the
      // rename) survive; cross-namespace renames just move the
      // dotted key. Governed names refuse LOUDLY on both ends — a
      // rename must neither detach a policy from its table (old
      // name) nor shadow one (new name).
      case rt: RenameTable if !rt.isView =>
        renameSource(spark, rt.child).map(
          GraftRenameTableCommand(_, rt.newName))

      case _ => None
    }

  /** The registry key an ALTER TABLE … RENAME TO may move, or None →
    * fall through to Spark (a session-catalog table). Governed names
    * and views refuse loudly rather than falling through cold. */
  private def renameSource(spark: SparkSession,
      table: LogicalPlan): Option[String] = {
    val parts = table match {
      case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
        Some(t.multipartIdentifier)
      case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
        Some(t.multipartIdentifier)
      case _ => None
    }
    parts.flatMap { p =>
      val key = LakeRegistry.keyOf(spark, p)
      if (graft.fgac.SecureCatalog.isVisibleName(p) ||
          key.exists(graft.fgac.SecureCatalog.isVisibleName))
        throw new UnsupportedOperationException(
          s"ALTER TABLE ${LakeRegistry.nameOf(p)} RENAME TO: renaming " +
            "a governed table is not supported — a rename must not " +
            "detach its policies; re-register the governed name " +
            "through SecureCatalog instead")
      key.filter { k =>
        if (ViewRegistry.get(k).isDefined)
          throw new UnsupportedOperationException(
            s"'$k' is a view; ALTER TABLE … RENAME TO applies to tables")
        claimDrop(spark, k)
      }
    }
  }

  /** Claim an ALTER target: a one- or two-part name that is
    * registered (or probes as an on-disk managed table, mirroring
    * [[claimDrop]]). */
  private def claimAlter(spark: SparkSession,
      table: LogicalPlan): Option[String] = table match {
    case ut: org.apache.spark.sql.catalyst.analysis.UnresolvedTable
        if LakeRegistry.keyOf(spark, ut.multipartIdentifier).exists(
          claimDrop(spark, _)) =>
      Some(LakeRegistry.keyOf(spark, ut.multipartIdentifier).get)
    case _ => None
  }

  /** DROP mirrors [[CreateGuard]]: the registry is in-memory, so in a
    * fresh session an on-disk graft table must be probed at its
    * managed location and re-registered before DROP can claim it —
    * otherwise the statement falls through to the Spark session
    * catalog and errors with table-not-found (round-3 ADVICE). */
  private[lakehouse] def claimDrop(spark: SparkSession, name: String): Boolean =
    LakeRegistry.get(name).isDefined || {
      val onDisk = GraftTable.load(spark, managedRoot(spark, name))
      onDisk.currentSnapshotId > 0 &&
        { LakeRegistry.register(name, onDisk); true }
    }

  /** Managed storage root of `name` under the session warehouse dir —
    * a namespace qualifier becomes a directory level (`db.t` →
    * `warehouse/graft/db/t`), so namespaces lay out exactly like
    * catalog databases do on a real warehouse. */
  private[lakehouse] def managedRoot(spark: SparkSession,
      name: String): String =
    spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
      s"/graft/${name.replace('.', '/')}"

  /** Registry key from a DDL identifier plan: one or two parts, or
    * three under the configured catalog name ([[LakeRegistry.keyOf]]).
    * The governed-name refusal checks the FULL identifier — a policy
    * registered on `graft.db.t` must not be shadowed by DDL on the
    * stripped key. */
  private def identName(spark: SparkSession, name: LogicalPlan,
      stmt: String): String = name match {
    case id: UnresolvedIdentifier
        if LakeRegistry.keyOf(spark, id.nameParts).isDefined =>
      val n = LakeRegistry.keyOf(spark, id.nameParts).get
      require(!graft.fgac.SecureCatalog.isVisibleName(id.nameParts) &&
          !graft.fgac.SecureCatalog.isVisibleName(n),
        s"$stmt: '${LakeRegistry.nameOf(id.nameParts)}' is a governed " +
          "name; create governed tables through SecureCatalog, not " +
          "SQL DDL")
      n
    case other => throw new UnsupportedOperationException(
      s"$stmt USING graft requires a one- or two-part table name " +
        "(or three under the configured catalog), " +
        s"got $other")
  }

  /** Partition spec from `PARTITIONED BY (…)`: identity columns plus
    * Iceberg's hidden-partitioning transforms — `years/months/days`,
    * `bucket(n, col)`, `truncate(w, col)` — rendered into
    * [[PartField]]'s serialized forms. */
  private def partitionCols(transforms: Seq[Transform]): Seq[String] =
    transforms.map { t =>
      def ref: String = {
        require(t.references.length == 1,
          s"partition transform ${t.name} must reference one column")
        t.references.head.fieldNames.mkString(".")
      }
      def param: Int = t.arguments.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value.toString.toInt
      }.getOrElse(throw new UnsupportedOperationException(
        s"partition transform ${t.name} needs an integer argument"))
      t.name match {
        case "identity"          => ref
        case "years"  | "year"   => s"year($ref)"
        case "months" | "month"  => s"month($ref)"
        case "days"   | "day"    => s"day($ref)"
        case "hours"  | "hour"   => s"hour($ref)"
        case "bucket"            => s"bucket[$param]($ref)"
        case "truncate"          => s"truncate[$param]($ref)"
        case other => throw new UnsupportedOperationException(
          s"unsupported partition transform $other (supported: identity, " +
            "years, months, days, hours, bucket(n, col), " +
            "truncate(w, col))")
      }
    }

  /** Explicit LOCATION, else a managed path under the session
    * warehouse dir (pid-isolated in this repo's entry points). */
  private def location(spark: SparkSession, spec: TableSpecBase,
      name: String): String =
    spec.location.getOrElse(managedRoot(spark, name))

  /** TBLPROPERTIES, validated: only properties the engine actually
    * honors are accepted — silently persisting an unknown knob would
    * fake capabilities. */
  private def tableProps(spec: TableSpecBase,
      allowConstraints: Boolean = false): Map[String, String] = {
    validateProps(spec.properties, allowConstraints)
    spec.properties
  }

  /** Properties the engine actually honors, with their legal values —
    * shared by CREATE TABLE TBLPROPERTIES and ALTER … SET
    * TBLPROPERTIES (a typo or unhonored key fails the statement,
    * never silently no-ops). */
  private[lakehouse] def validateProps(
      props: Map[String, String],
      allowConstraints: Boolean = false): Unit = {
    val known = Map(
      "write.delete.mode" -> Set("copy-on-write", "merge-on-read"),
      "write.delete.style" -> Set("equality", "position", "vector"),
      "write.update.mode" -> Set("copy-on-write", "merge-on-read"),
      "write.merge.mode" -> Set("copy-on-write", "merge-on-read"),
      "write.dml.isolation-level" -> Set("serializable", "snapshot"),
      // per-operation overrides (beat the table-wide dml knob; see
      // GraftTable.isolationFor) — Iceberg's write.<op>.isolation-level
      "write.delete.isolation-level" -> Set("serializable", "snapshot"),
      "write.update.isolation-level" -> Set("serializable", "snapshot"),
      "write.merge.isolation-level" -> Set("serializable", "snapshot"),
      // honored by GraftTable.evolveForMerge
      "write.merge.schema.evolution" -> Set("true", "false"),
      // Iceberg v3 row lineage (GraftTable.readLineage)
      "row.lineage" -> Set("true", "false"))
    props.foreach { case (k, v) =>
      // constraints normally come in through ALTER TABLE ADD
      // CONSTRAINT, which validates EXISTING rows first — a raw
      // property would skip that scan and declare a constraint the
      // data violates. The one sound exception is a PLAIN (empty)
      // CREATE TABLE: there are no rows to validate, so SHOW CREATE
      // TABLE output replays verbatim; the expression itself is
      // validated against the schema at create ([[GraftCreateTableCommand]]).
      if (k.startsWith(GraftTable.ConstraintPrefix) && !allowConstraints)
        throw new UnsupportedOperationException(
          s"'$k': declare CHECK constraints via ALTER TABLE … ADD " +
            "CONSTRAINT <name> CHECK (<expr>), not TBLPROPERTIES " +
            "(a plain CREATE TABLE — no rows to validate — is the " +
            "one statement that accepts them)")
      else if (k.startsWith(GraftTable.ConstraintPrefix)) {
        require(!v.exists(c => c == '\n' || c == '\r'),
          "CHECK expression must be single-line (the constraint " +
            "store is line-oriented)")
      } else known.get(k) match {
        case None => throw new UnsupportedOperationException(
          s"unsupported table property '$k' " +
            s"(supported: ${known.keys.mkString(", ")})")
        case Some(vals) => require(vals.contains(v),
          s"table property '$k' must be one of ${vals.mkString(", ")}, " +
            s"got '$v'")
      }
    }
  }
}

/** Table-maintenance statements with no Spark grammar — parsed from
  * the raw SQL text before the delegate would reject them (the same
  * trick Delta's parser uses for OPTIMIZE/VACUUM):
  *
  * {{{
  *   OPTIMIZE t [FILES n] [SORT BY (c, …) | ZORDER BY (c, …)]
  *   OPTIMIZE t REWRITE DELETES
  *   VACUUM t RETAIN n SNAPSHOTS
  *   VACUUM t OLDER THAN INTERVAL n HOURS|DAYS|MINUTES
  * }}}
  *
  * OPTIMIZE is [[GraftTable.compact]] (bin-pack / sort / z-order
  * rewrite); OPTIMIZE … REWRITE DELETES is
  * [[GraftTable.rewritePositionDeletes]] (tombstone maintenance —
  * Iceberg's `rewrite_position_delete_files` procedure); VACUUM is
  * [[GraftTable.expireSnapshots]]. Claimed only for names this
  * engine manages. */
object LakeMaintenance {
  // Iceberg's branch/tag DDL (ALTER TABLE … CREATE BRANCH/TAG,
  // SPARK-unparseable so the regex claim is the only route in)
  // table names in every maintenance statement accept an optional
  // namespace qualifier (`db.t`) — the registry key is the dotted
  // lowercase form, same as the DDL/DML paths
  private val T = """(\w+(?:\.\w+){0,2})"""
  private val RefCreate =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + T +
      """\s+(CREATE\s+OR\s+REPLACE|CREATE|REPLACE)\s+(BRANCH|TAG)\s+""" +
      """(?:(IF\s+NOT\s+EXISTS)\s+)?(\w+)""" +
      """(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*""").r
  private val RefDrop =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + T +
      """\s+DROP\s+(BRANCH|TAG)\s+(?:(IF\s+EXISTS)\s+)?(\w+)\s*;?\s*""").r
  // Iceberg's `ALTER TABLE … WRITE ORDERED BY (…)` / `WRITE UNORDERED`
  private val WriteOrdered =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + T + """\s+WRITE\s+ORDERED\s+BY\s*\(([^)]*)\)\s*;?\s*""").r
  private val WriteUnordered =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + T + """\s+WRITE\s+UNORDERED\s*;?\s*""").r
  private val RewriteDeletes =
    ("""(?is)\s*OPTIMIZE\s+""" + T + """\s+REWRITE\s+DELETES\s*;?\s*""").r
  private val RewriteManifests =
    ("""(?is)\s*OPTIMIZE\s+""" + T + """\s+REWRITE\s+MANIFESTS\s*;?\s*""").r
  private val Binpack =
    ("""(?is)\s*OPTIMIZE\s+""" + T + """\s+BINPACK\s+(\d+)\s*;?\s*""").r
  // Delta's `OPTIMIZE t WHERE <pred>` / Iceberg's filtered
  // rewrite_data_files: compact only the predicate's pruned files
  private val OptimizeWhere =
    ("""(?is)\s*OPTIMIZE\s+""" + T + """(?:\s+FILES\s+(\d+))?\s+WHERE\s+(.+?)\s*;?\s*""").r
  private val Optimize =
    ("""(?is)\s*OPTIMIZE\s+""" + T + """(?:\s+FILES\s+(\d+))?(?:\s+(SORT|ZORDER)\s+BY\s*\(([^)]*)\))?\s*;?\s*""").r
  private val Vacuum =
    ("""(?is)\s*VACUUM\s+""" + T + """\s+RETAIN\s+(\d+)\s+SNAPSHOTS\s*;?\s*""").r
  // age-based retention (Iceberg expire_snapshots(older_than => ts)):
  // production policy is wall-clock age, not snapshot counts
  private val VacuumAge =
    ("""(?is)\s*VACUUM\s+""" + T + """\s+OLDER\s+THAN\s+INTERVAL\s+(\d+)\s+(HOURS?|DAYS?|MINUTES?)\s*;?\s*""").r
  // orphan-file removal as operator-facing SQL (Iceberg's
  // remove_orphan_files procedure / the orphan half of Delta's
  // VACUUM); the optional interval overrides the 3-day in-flight
  // writer guard, never disables it below the explicit value
  private val VacuumOrphans =
    ("""(?is)\s*VACUUM\s+""" + T + """\s+ORPHANS(?:\s+OLDER\s+THAN\s+INTERVAL\s+(\d+)\s+(HOURS?|DAYS?|MINUTES?))?\s*;?\s*""").r
  // Delta's zero-copy fork: CREATE TABLE c SHALLOW CLONE t
  private val ShallowClone =
    ("""(?is)\s*CREATE\s+TABLE\s+""" + T + """\s+SHALLOW\s+CLONE\s+""" + T + """\s*;?\s*""").r
  // Delta's RESTORE / Iceberg's rollback_to_snapshot procedure: move
  // the head back to a snapshot id or a tag/branch ref — metadata
  // only, history preserved (the restore is itself a new commit)
  private val Restore =
    ("""(?is)\s*RESTORE\s+TABLE\s+""" + T + """\s+TO\s+VERSION\s+AS\s+OF\s+(?:(\d+)|'([^']+)')\s*;?\s*""").r
  // Delta's timestamp form: the snapshot current AS OF the literal
  // becomes the head again (same resolution as TIMESTAMP AS OF reads)
  private val RestoreTs =
    ("""(?is)\s*RESTORE\s+TABLE\s+""" + T + """\s+TO\s+TIMESTAMP\s+AS\s+OF\s+('[^']+')\s*;?\s*""").r
  // Iceberg's fast_forward procedure: publish a branch by moving
  // `target` to `source`'s head (ancestry-checked in the table API)
  private val FastForward =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + T + """\s+FAST\s+FORWARD\s+(\w+)\s+(\w+)\s*;?\s*""").r
  // Iceberg's cherrypick_snapshot procedure: re-apply one append
  // snapshot's files onto the current head (rollback recovery)
  private val CherryPick =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + T + """\s+CHERRYPICK\s+SNAPSHOT\s+(\d+)\s*;?\s*""").r
  // Iceberg's partition spec evolution DDL (ALTER TABLE … ADD/DROP/
  // REPLACE PARTITION FIELD): metadata-only commits; existing files
  // keep their layout and the spec history scopes pruning per epoch
  // lazy so the REPLACE form's first field stops before WITH; spaces
  // allowed inside transform parens (`day( ts )`)
  private val F = """([\w().\s]+?)"""
  private val AddPartField =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + T + """\s+ADD\s+PARTITION\s+FIELD\s+""" + F + """\s*;?\s*""").r
  private val DropPartField =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + T + """\s+DROP\s+PARTITION\s+FIELD\s+""" + F + """\s*;?\s*""").r
  private val ReplacePartField =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + T + """\s+REPLACE\s+PARTITION\s+FIELD\s+""" + F + """\s+WITH\s+""" + F + """\s*;?\s*""").r
  // Delta's CHECK constraints: ADD validates EXISTING data first
  // (one scan, Delta's contract), then every later write validates
  // its own new files before commit (GraftTable.writeData)
  private val AddConstraint =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + T + """\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*""").r
  private val DropConstraint =
    ("""(?is)\s*ALTER\s+TABLE\s+""" + T + """\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*""").r

  /** Case/whitespace-insensitive partition-field equality:
    * `year( o_orderdate )` names the same field as `YEAR(o_orderdate)`. */
  private def normField(f: String): String =
    f.replaceAll("\\s+", "").toLowerCase

  /** Canonical stored form of a partition field: whitespace stripped,
    * the TRANSFORM keyword lowercased (PartField.parse matches
    * lowercase transforms), and the source COLUMN rewritten to the
    * table schema's exact case — `DAY( TS )` over column `ts` stores
    * as `day(ts)` (updatePartitionSpec's schema check is
    * case-exact, while SQL identifiers are case-insensitive). */
  private def canonField(t: GraftTable, f: String): String = {
    val stripped = f.replaceAll("\\s+", "")
    val i = stripped.indexOf('(')
    val c =
      if (i < 0) stripped
      else stripped.substring(0, i).toLowerCase + stripped.substring(i)
    t.currentSnapshot.schema.fieldNames.foldLeft(c) { (acc, n) =>
      acc.replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(n) +
        "\\b", java.util.regex.Matcher.quoteReplacement(n))
    }
  }

  /** Registry key of a maintenance-statement table name: lowercase,
    * a leading configured-catalog segment stripped (`graft.db.t` →
    * `db.t`). A 3-part name under another catalog keeps its
    * lowercase form — the claimDrop guard then misses and the
    * statement falls through to Spark. */
  private def norm(spark: SparkSession, n: String): String =
    LakeRegistry.keyOf(spark, n.split('.').toSeq)
      .getOrElse(n.toLowerCase)

  def parse(spark: SparkSession, sqlText: String): Option[LogicalPlan] =
    sqlText match {
      case RefCreate(name, verb, kind, ine, ref, at)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        // ref names keep the user's case (Iceberg refs are
        // case-sensitive) — lowercasing at create would make
        // `VERSION AS OF '<TypedName>'` unresolvable
        val mode = verb.toUpperCase.replaceAll("\\s+", " ") match {
          case "CREATE" if ine != null => "CREATE_IF_NOT_EXISTS"
          case "CREATE" => "CREATE"
          case "CREATE OR REPLACE" => "CREATE_OR_REPLACE"
          case _ => "REPLACE"
        }
        // IF NOT EXISTS composes with plain CREATE only — pairing it
        // with a REPLACE form is contradictory ("replace it, unless
        // it exists"?) and Iceberg's grammar refuses it too
        require(ine == null || mode == "CREATE_IF_NOT_EXISTS",
          "IF NOT EXISTS is only valid with plain CREATE BRANCH|TAG")
        Some(GraftRefCreateCommand(norm(spark, name), kind.toUpperCase,
          ref, Option(at).map(_.toLong), mode))
      case RefDrop(name, kind, ie, ref)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        Some(GraftRefDropCommand(norm(spark, name), kind.toUpperCase,
          ref, ifExists = ie != null))
      case WriteOrdered(name, cols)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        val colSeq = cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(colSeq.nonEmpty, "WRITE ORDERED BY needs column names")
        Some(GraftWriteOrderCommand(norm(spark, name), colSeq))
      case WriteUnordered(name)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        Some(GraftWriteOrderCommand(norm(spark, name), Nil))
      case RewriteDeletes(name)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        Some(GraftRewriteDeletesCommand(norm(spark, name)))
      case Restore(name, id, ref)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        Some(GraftRestoreCommand(norm(spark, name),
          Option(id).map(_.toLong), Option(ref)))
      case RestoreTs(name, ts)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        Some(GraftRollbackTsCommand(norm(spark, name),
          LakeCallSql.tsMillis(spark, ts)))
      case FastForward(name, target, source)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        Some(GraftFastForwardCommand(norm(spark, name), target, source))
      case CherryPick(name, id)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        Some(GraftCherryPickCommand(norm(spark, name), id.toLong))
      case AddPartField(name, field)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        Some(GraftAlterCommand(norm(spark, name), "ADD PARTITION FIELD",
          t => {
            val cur = t.currentSnapshot.partitionCols
            require(!cur.exists(c => normField(c) == normField(field)),
              s"'$field' is already a partition field of " +
                s"(${cur.mkString(", ")})")
            t.updatePartitionSpec(cur :+ canonField(t, field))
          }))
      case DropPartField(name, field)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        Some(GraftAlterCommand(norm(spark, name), "DROP PARTITION FIELD",
          t => {
            val cur = t.currentSnapshot.partitionCols
            val f = normField(field)
            require(cur.exists(c => normField(c) == f),
              s"'$field' is not a partition field of " +
                s"(${cur.mkString(", ")})")
            t.updatePartitionSpec(cur.filterNot(c => normField(c) == f))
          }))
      case AddConstraint(name, cname, sql)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        Some(GraftAlterCommand(norm(spark, name), "ADD CONSTRAINT",
          t => {
            import org.apache.spark.sql.functions.{expr => fexpr}
            val key = GraftTable.ConstraintPrefix + cname.toLowerCase
            require(!t.properties.contains(key),
              s"constraint '$cname' already exists")
            // the properties file is line-oriented, so a raw newline
            // in the expr would be silently truncated on read-back
            // and WEAKEN every later write's validation; refuse
            // loudly (normalizing would corrupt string literals)
            require(!sql.exists(c => c == '\n' || c == '\r'),
              "CHECK expression must be single-line (the constraint " +
                "store is line-oriented); rewrite without raw newlines")
            val canon = sql.trim
            // Delta's contract: the constraint must hold on EXISTING
            // rows before it can be declared — one validating scan
            // (of exactly the canonical text later writes enforce)
            require(t.read()
                .filter(fexpr(s"NOT coalesce(($canon), true)"))
                .limit(1).count() == 0,
              s"existing rows violate CHECK ($canon); constraint " +
                "not added")
            t.setProperties(t.properties + (key -> canon))
          }))
      case DropConstraint(name, cname)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        Some(GraftAlterCommand(norm(spark, name), "DROP CONSTRAINT",
          t => {
            val key = GraftTable.ConstraintPrefix + cname.toLowerCase
            require(t.properties.contains(key),
              s"no constraint named '$cname' " +
                s"(declared: ${t.checkConstraints.map(_._1).mkString(", ")})")
            t.setProperties(t.properties - key)
          }))
      case ReplacePartField(name, oldF, newF)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        Some(GraftAlterCommand(norm(spark, name), "REPLACE PARTITION FIELD",
          t => {
            val cur = t.currentSnapshot.partitionCols
            val o = normField(oldF)
            require(cur.exists(c => normField(c) == o),
              s"'$oldF' is not a partition field of " +
                s"(${cur.mkString(", ")})")
            require(normField(newF) == o ||
                !cur.exists(c => normField(c) == normField(newF)),
              s"'$newF' is already a partition field of " +
                s"(${cur.mkString(", ")})")
            t.updatePartitionSpec(cur.map(c =>
              if (normField(c) == o) canonField(t, newF) else c))
          }))
      case RewriteManifests(name)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        Some(GraftRewriteManifestsCommand(norm(spark, name)))
      // OPTIMIZE t BINPACK <bytes>: rewrite only files smaller than
      // <bytes> (GraftTable.compactSmall) — the incremental
      // maintenance form; plain OPTIMIZE rewrites everything
      case Binpack(name, bytes)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        Some(GraftBinpackCommand(norm(spark, name), bytes.toLong))
      case OptimizeWhere(name, files, pred)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        Some(GraftCompactWhereCommand(norm(spark, name),
          Option(files).map(_.toInt).getOrElse(1), pred))
      case Optimize(name, files, mode, cols)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        val n = Option(files).map(_.toInt)
        val colSeq = Option(cols).toSeq.flatMap(
          _.split(",").map(_.trim).filter(_.nonEmpty))
        require(colSeq.nonEmpty == (mode != null),
          "SORT BY / ZORDER BY needs a non-empty column list")
        Some(GraftOptimizeCommand(norm(spark, name), n,
          Option(mode).map(_.toUpperCase).getOrElse(""), colSeq))
      // ORPHANS before the RETAIN/AGE forms: its regex is the only
      // one with the ORPHANS keyword, but match order documents the
      // precedence explicitly
      case VacuumOrphans(name, n, unit)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        val ageMs = Option(n).map { v =>
          unit.toUpperCase.charAt(0) match {
            case 'H' => v.toLong * 3600000L
            case 'D' => v.toLong * 86400000L
            case 'M' => v.toLong * 60000L
          }
        }
        Some(GraftVacuumOrphansCommand(norm(spark, name), ageMs))
      case Vacuum(name, keep)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        Some(GraftVacuumCommand(norm(spark, name), keep.toInt))
      case VacuumAge(name, n, unit)
          if LakeDdl.claimDrop(spark, norm(spark, name)) =>
        val ms = unit.toUpperCase.charAt(0) match {
          case 'H' => n.toLong * 3600000L
          case 'D' => n.toLong * 86400000L
          case 'M' => n.toLong * 60000L
        }
        Some(GraftVacuumAgeCommand(norm(spark, name), ms))
      case ShallowClone(target, source)
          if LakeDdl.claimDrop(spark, norm(spark, source)) =>
        Some(GraftShallowCloneCommand(norm(spark, target),
          norm(spark, source),
          LakeDdl.managedRoot(spark, norm(spark, target))))
      case _ => None
    }
}

/** `CREATE TABLE c SHALLOW CLONE t` — zero-copy fork (see
  * [[GraftTable.shallowClone]]). FGAC: the clone is an UNGOVERNED
  * full copy, i.e. a REPUBLICATION of the source to every principal —
  * so a governed source may be cloned only by the admin session or by
  * a principal holding an UNFILTERED grant WITH GRANT OPTION (readers
  * of the clone then see no more than the cloner could have granted
  * them anyway, the regrant narrowing law; a filtered or
  * non-grantable grantee must not launder their restriction away
  * through a clone). */
case class GraftShallowCloneCommand(target: String, source: String,
    root: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val who = spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, "")
    val govName = graft.fgac.SecureCatalog.resolveLink(source)
    if (who.nonEmpty && graft.fgac.SecureCatalog.isGoverned(govName)) {
      val pol = graft.fgac.SecureCatalog.authorize(who, source)
      pol.foreach { p =>
        if (p.rowFilter.nonEmpty || p.allowedColumns.nonEmpty ||
            p.masks.nonEmpty || !p.grantable)
          throw new graft.fgac.AccessDeniedException(
            s"principal '$who' may not SHALLOW CLONE governed table " +
              s"'$source': the ungoverned clone republishes the whole " +
              "table, which requires an unfiltered grant WITH GRANT " +
              "OPTION")
      }
    }
    val t = LakeRegistry.get(source).getOrElse(
      throw new IllegalArgumentException(
        s"'$source' is not a registered graft table"))
    require(LakeRegistry.get(target).isEmpty &&
        ViewRegistry.get(target).isEmpty,
      s"CREATE TABLE: '$target' already exists")
    // same guard as CREATE/CTAS: a lake table registered under a
    // governed/visible name would shadow the governed resource and
    // misroute reads depending on rule order
    require(!graft.fgac.SecureCatalog.isVisibleName(Seq(target)),
      s"CREATE TABLE: '$target' is a governed table name")
    LakeRegistry.register(target, t.shallowClone(root))
    Seq.empty
  }
}

/** `OPTIMIZE t [FILES n] [SORT|ZORDER BY (…)]`. Without `FILES`, a
  * plain OPTIMIZE writes right-sized files ([[GraftTable.sizedFileCount]])
  * and the clustering modes keep their 8 range slices. */
case class GraftOptimizeCommand(name: String, files: Option[Int],
    mode: String, cols: Seq[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "OPTIMIZE")
    val t = LakeRegistry.get(name).get
    mode match {
      case "SORT"   => t.compact(files.getOrElse(8), sortBy = cols)
      case "ZORDER" => t.compact(files.getOrElse(8), zorderBy = cols)
      case _        => t.compact(files.getOrElse(t.sizedFileCount))
    }
    Seq.empty
  }
}

/** `ALTER TABLE t WRITE ORDERED BY (c, …)` / `WRITE UNORDERED` —
  * sets/clears the [[GraftTable.SortOrderProp]] table property that
  * every later widened write lays data out by (file-level min/max
  * ranges become disjoint → predicate reads prune files). Validated
  * against the schema HERE so a typo fails the ALTER, not the next
  * append. */
case class GraftWriteOrderCommand(name: String, cols: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "ALTER (WRITE ORDERED BY)")
    val t = LakeRegistry.get(name).get
    val schema = t.currentSnapshot.schema
    val canonical = cols.map { c =>
      schema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"WRITE ORDERED BY: '$c' is not a column of '$name'"))
    }
    val props = t.properties
    t.setProperties(
      if (canonical.isEmpty) props - GraftTable.SortOrderProp
      else props + (GraftTable.SortOrderProp -> canonical.mkString(",")))
    Seq.empty
  }
}

/** `ALTER TABLE t [CREATE [OR REPLACE]|REPLACE] BRANCH|TAG
  * [IF NOT EXISTS] name [AS OF VERSION n]` — Iceberg's full ref DDL
  * (round 19 added the REPLACE and IF NOT EXISTS forms). `mode`:
  * CREATE refuses duplicates; CREATE_IF_NOT_EXISTS no-ops on an
  * existing SAME-KIND ref (a different kind still refuses — the
  * no-op must not paper over a tag/branch mixup); REPLACE moves an
  * EXISTING same-kind ref (a tag replace is the re-pin Iceberg
  * allows — tags are immutable to WRITES, not to re-tagging);
  * CREATE_OR_REPLACE is replace-or-create. Branch/tag mutation is
  * table metadata, so it rides the write-path FGAC like every
  * other ALTER. */
case class GraftRefCreateCommand(name: String, kind: String,
    ref: String, at: Option[Long], mode: String = "CREATE")
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      s"ALTER (${mode.replace('_', ' ')} $kind)")
    val t = LakeRegistry.get(name).get
    def create(): Unit =
      if (kind == "BRANCH") t.createBranch(ref, at.getOrElse(-1L))
      else t.createTag(ref, at.getOrElse(-1L))
    mode match {
      case "CREATE" => create()
      case "CREATE_IF_NOT_EXISTS" => t.refs.get(ref) match {
        case Some((k, _)) =>
          require(k.equalsIgnoreCase(kind),
            s"'$ref' is a $k, not a ${kind.toLowerCase} — IF NOT " +
              "EXISTS does not paper over a kind mismatch")
        case None => create()
      }
      case "REPLACE" =>
        t.replaceRef(kind.toLowerCase, ref, at.getOrElse(-1L))
      case _ => // CREATE_OR_REPLACE
        t.replaceRef(kind.toLowerCase, ref, at.getOrElse(-1L),
          orCreate = true)
    }
    Seq.empty
  }
}

case class GraftRefDropCommand(name: String, kind: String, ref: String,
    ifExists: Boolean = false) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      s"ALTER (DROP $kind)")
    val t = LakeRegistry.get(name).get
    // DROP BRANCH on a tag (or vice versa) is a user error, not a
    // silent drop of the other kind
    t.refs.get(ref) match {
      case Some((k, _)) =>
        require(k.equalsIgnoreCase(kind),
          s"'$ref' is a $k, not a ${kind.toLowerCase}")
        t.dropRef(ref)
      case None =>
        // IF EXISTS: a missing ref is the declared no-op
        if (!ifExists) t.dropRef(ref) // refuses with the ref list
    }
    Seq.empty
  }
}

case class GraftBinpackCommand(name: String, smallBytes: Long)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "OPTIMIZE")
    LakeRegistry.get(name).get.compactSmall(smallBytes)
    Seq.empty
  }
}

/** `RESTORE TABLE t TO VERSION AS OF <id|'ref'>` (Delta's RESTORE,
  * Iceberg's `rollback_to_snapshot` / `set_current_snapshot`
  * procedures): a metadata-only head move — the restore commits a
  * NEW snapshot referencing the old file set, so history (and time
  * travel forward across the restore) is preserved. */
case class GraftRestoreCommand(name: String, id: Option[Long],
    ref: Option[String]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "RESTORE")
    val t = LakeRegistry.get(name).get
    t.rollback(id.getOrElse(t.headOf(ref.get)))
    Seq.empty
  }
}

/** `OPTIMIZE t [FILES n] WHERE <pred>` — partition/stats-scoped
  * compaction ([[GraftTable.compactWhere]]): only the predicate's
  * manifest-pruned files rewrite; everything else carries. FILES n
  * applies to UNPARTITIONED tables; a partitioned table packs per
  * partition through the write path's hash clustering (same
  * documented tradeoff as binpack — a hot partition packs into one
  * task/file, and an n-way round-robin would spray every partition
  * across n tasks and emit n×P files). */
case class GraftCompactWhereCommand(name: String, files: Int,
    pred: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "OPTIMIZE")
    LakeRegistry.get(name).get.compactWhere(pred, files)
    Seq.empty
  }
}

/** `ALTER TABLE t CHERRYPICK SNAPSHOT <id>` (Iceberg's
  * `cherrypick_snapshot` procedure): re-apply one append snapshot's
  * files onto the current head — rollback recovery, metadata-only. */
case class GraftCherryPickCommand(name: String, id: Long)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "CHERRYPICK")
    LakeRegistry.get(name).get.cherryPick(id)
    Seq.empty
  }
}

/** `ALTER TABLE t FAST FORWARD <target> <source>` (Iceberg's
  * `fast_forward` procedure): the publish step of branch-gated
  * ingest — refs-file-only, ancestry require()d by the table API. */
case class GraftFastForwardCommand(name: String, target: String,
    source: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "FAST FORWARD")
    LakeRegistry.get(name).get.fastForward(target, source)
    Seq.empty
  }
}

case class GraftRewriteDeletesCommand(name: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "OPTIMIZE")
    // both merge-on-read artifact shapes: clustered tombstone files,
    // then consolidated deletion-vector blobs (each a no-op commit
    // skip when its shape is absent)
    val t = LakeRegistry.get(name).get
    t.rewritePositionDeletes()
    t.rewriteDeletionVectors()
    Seq.empty
  }
}

/** `OPTIMIZE t REWRITE MANIFESTS` — [[GraftTable.rewriteManifests]]
  * (Iceberg's `rewrite_manifests` procedure): metadata-only re-sort
  * of the manifest entries into range-disjoint shards. */
case class GraftRewriteManifestsCommand(name: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "OPTIMIZE")
    LakeRegistry.get(name).get.rewriteManifests()
    Seq.empty
  }
}

case class GraftVacuumCommand(name: String, keep: Int)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "VACUUM")
    LakeRegistry.get(name).get.expireSnapshots(keep)
    Seq.empty
  }
}

/** `VACUUM t OLDER THAN INTERVAL n HOURS|DAYS|MINUTES` — cutoff is
  * wall-clock now minus the interval, resolved at RUN time (retention
  * is a property of when maintenance runs, which is why the
  * deterministic scenario queries use the API's absolute-cutoff form
  * instead). Head and ref-pinned snapshots always survive. */
case class GraftVacuumAgeCommand(name: String, ageMs: Long)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "VACUUM")
    LakeRegistry.get(name).get
      .expireSnapshotsOlderThan(System.currentTimeMillis() - ageMs)
    Seq.empty
  }
}

/** The composed retention form (`CALL expire_snapshots(older_than,
  * retain_last)` with BOTH arguments — Iceberg composes them): keep
  * max(`keep` newest, everything younger than now − `ageMs`). Age-
  * anchored like [[GraftVacuumAgeCommand]] (run follows parse
  * immediately in the CALL surface, so the absolute cutoff is
  * preserved). */
case class GraftVacuumComposedCommand(name: String, keep: Int,
    ageMs: Long) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "VACUUM")
    LakeRegistry.get(name).get
      .expireSnapshots(keep, System.currentTimeMillis() - ageMs)
    Seq.empty
  }
}

/** Table-property-driven retention (`CALL expire_snapshots(table)`
  * with NO retention args — the scheduled-job shape): the composed
  * form with `history.expire.max-snapshot-age-ms` /
  * `history.expire.min-snapshots-to-keep` read from the table's OWN
  * properties at run time, defaulting to Iceberg's 5 days / keep 1.
  * A table owner states retention policy once, next to the data it
  * governs; every scheduled caller stays a one-liner. */
case class GraftVacuumPropsCommand(name: String)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "VACUUM")
    val t = LakeRegistry.get(name).get
    val props = t.properties
    val ageMs = props.get("history.expire.max-snapshot-age-ms")
      .map(_.trim.toLong).getOrElse(5L * 24 * 60 * 60 * 1000)
    val keep = props.get("history.expire.min-snapshots-to-keep")
      .map(_.trim.toInt).getOrElse(1)
    t.expireSnapshots(keep, System.currentTimeMillis() - ageMs)
    Seq.empty
  }
}

/** `VACUUM t ORPHANS [OLDER THAN INTERVAL n …]` —
  * [[GraftTable.removeOrphanFiles]] as operator-facing SQL (Iceberg
  * ships this as the `remove_orphan_files` procedure; Delta folds it
  * into VACUUM). No interval = the API's 3-day default; an explicit
  * interval moves the cutoff but the in-flight-writer guard semantics
  * are identical — a file younger than the cutoff is never touched. */
case class GraftVacuumOrphansCommand(name: String, ageMs: Option[Long])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "VACUUM")
    val t = LakeRegistry.get(name).get
    ageMs match {
      case Some(ms) =>
        t.removeOrphanFiles(System.currentTimeMillis() - ms)
      case None => t.removeOrphanFiles()
    }
    Seq.empty
  }
}

/** SQL surface for the net changelog — the `table_changes` table-
  * valued function, composable anywhere a relation can appear:
  *
  * {{{ SELECT * FROM table_changes('t', from_snapshot, to_snapshot) }}}
  *
  * Iceberg exposes the same capability as the `create_changelog_view`
  * procedure; a TVF is the more SQL-native shape (no session-state
  * view side effect) and lowers directly onto [[GraftTable.changes]]
  * — the manifest-file-diff compute, so the SQL surface inherits the
  * carried-files-never-read scale property.
  *
  * Claimed at PARSE time like [[LakeDdl]]: Spark's own
  * `ResolveFunctions` rule runs before injected resolution rules
  * inside the analyzer batch and fails an unknown TVF eagerly, so an
  * analyzer rule never gets the chance to claim it. Args must be
  * literals (a changelog endpoint is metadata, not data). */
object LakeChanges {

  /** Metadata relations addressable as the Iceberg-style dotted
    * suffix (`db.t.files`) AND as the lake_* TVFs — one frame
    * factory serves both. `snapshots` is Iceberg's other name for
    * the history listing. */
  private[lakehouse] val MetaSuffixes = Set("files", "delete_files",
    "partitions", "history", "snapshots", "refs", "lineage",
    "entries", "all_files", "all_data_files", "metadata_log_entries",
    "all_manifests", "all_entries", "position_deletes", "manifests",
    "all_delete_files", "data_files")

  private[lakehouse] def metaFrame(spark: SparkSession, t: GraftTable,
      kind: String): org.apache.spark.sql.DataFrame = kind match {
    // `data_files` is Iceberg's data-only view of `.files`; this
    // engine's files table lists only data files (delete artifacts
    // have `.delete_files`), so the two names serve one frame —
    // completing the Iceberg metadata-table name family
    case "files" | "data_files" => t.filesMetadata
    case "delete_files" => t.deleteFilesMetadata
    case "partitions"   => t.partitionsMetadata
    // manifest-entry / all-snapshots / metadata-log views (Iceberg's
    // .entries, .all_files / .all_data_files, .metadata_log_entries)
    case "entries"      => t.entriesMetadata
    case "all_files" | "all_data_files" => t.allFilesMetadata
    case "metadata_log_entries"         => t.metadataLogEntriesMetadata
    // the remaining Iceberg metadata tables (round 18): every live
    // manifest/shard, every live snapshot's entries, and the pending
    // position-delete artifacts' CONTENT
    case "all_manifests"    => t.allManifestsMetadata
    case "all_entries"      => t.allEntriesMetadata
    case "position_deletes" => t.positionDeletesMetadata
    // round 19: the head-snapshot manifest listing and the
    // delete-side completion of the all_* family
    case "manifests"        => t.manifestsMetadata
    case "all_delete_files" => t.allDeleteFilesMetadata
    // Iceberg v3 row lineage as a relation: the table's rows with
    // _row_id / _last_updated_sequence_number appended (see
    // GraftTable.readLineage; requires row.lineage=true)
    case "lineage"      => t.readLineage()
    // named references (Iceberg's `db.t.refs` metadata table): a
    // ref-less table still lists its implicit `main`
    case "refs" =>
      val r = t.refs
      val rows =
        if (r.isEmpty) Seq(("main", "branch", t.headOf("main")))
        else r.toSeq.map { case (n, (k, id)) => (n, k, id) }
      spark.createDataFrame(rows.sortBy(_._1))
        .toDF("name", "type", "snapshot_id")
    case _              => t.historyMetadata // history | snapshots
  }

  /** Shared eligibility guard for dotted-SUFFIX claims over a
    * registered table prefix (`db.t.<suffix>`): the FULL name must
    * not itself be a registered table, session-catalog shadow, lake
    * view, or governed name — and neither may the TABLE PREFIX be
    * shadowed/viewed/governed. Whatever wins the prefix's READS owns
    * its suffixes too; governed prefixes always refuse by falling
    * through to the policy layer ([[graft.fgac.FgacRule]] resolves
    * their ref suffixes under the reader's policy). */
  private def suffixClaimable(spark: SparkSession,
      parts: Seq[String]): Boolean =
    parts.size >= 2 &&
      LakeRegistry.keyOf(spark, parts)
        .forall(k => LakeRegistry.get(k).isEmpty) &&
      !LakeCatalogSql.sessionShadowed(spark,
        parts.map(_.toLowerCase).mkString(".")) &&
      !LakeCatalogSql.sessionShadowed(spark,
        parts.init.map(_.toLowerCase).mkString(".")) &&
      !ViewRegistry.isView(parts) &&
      !ViewRegistry.isView(parts.init) &&
      !graft.fgac.SecureCatalog.isVisibleName(parts) &&
      !graft.fgac.SecureCatalog.isVisibleName(parts.init) &&
      LakeRegistry.keyOf(spark, parts.init)
        .filterNot(graft.fgac.SecureCatalog.isVisibleName)
        .exists(LakeRegistry.get(_).isDefined)

  /** The `branch_<name>` / `tag_<name>` ref suffix, when `last` is
    * one (Iceberg's ref-addressed identifiers): (wanted kind, ref). */
  private[graft] def refSuffix(last: String): Option[(String, String)] = {
    val l = last.toLowerCase
    if (l.startsWith("branch_") && last.length > 7)
      Some(("branch", last.substring(7)))
    else if (l.startsWith("tag_") && last.length > 4)
      Some(("tag", last.substring(4)))
    else None
  }

  /** The exact name and head snapshot of the ref a `kind` suffix on
    * `table` names in `t`. Ref names match case-insensitively like
    * every other SQL identifier, and a ref-less table still answers
    * `branch_main` (every table has an implicit main, like Iceberg).
    * Wrong-kind addressing (`branch_x` naming a tag, or vice versa)
    * refuses loudly like Iceberg — a tag read through a branch
    * identifier would invite a later write to it. */
  private[graft] def suffixRef(t: GraftTable, table: Seq[String],
      kind: String, ref: String): (String, Long) = {
    val hit = t.refs.find(_._1.equalsIgnoreCase(ref))
      .orElse(
        if (t.refs.isEmpty && ref.equalsIgnoreCase("main"))
          Some("main" -> ("branch", t.headOf("main")))
        else None)
      .getOrElse(throw new IllegalArgumentException(
        s"ref '$ref' does not exist on '${table.mkString(".")}' " +
          s"(refs: ${t.refs.keys.toSeq.sorted.mkString(", ")})"))
    require(hit._2._1 == kind,
      s"'${hit._1}' is a ${hit._2._1}, not a $kind — address " +
        s"it as ${hit._2._1}_${hit._1}")
    (hit._1, hit._2._2)
  }

  def resolve(spark: SparkSession, plan: LogicalPlan): LogicalPlan = {
    // a DML statement's TARGET relation must survive to
    // [[LakeSqlRule]] as an UnresolvedRelation — rewriting
    // `INSERT INTO db.t.branch_b1`'s target into a read frame here
    // would turn branch-addressed DML into an unwritable subquery.
    // (Metadata suffixes stay un-skipped: writing `db.t.files` is a
    // user error that should fail as an unwritable relation.)
    def unwrap(p: LogicalPlan): Option[UnresolvedRelation] = p match {
      case SubqueryAlias(_, c) => unwrap(c)
      case u: UnresolvedRelation => Some(u)
      case _ => None
    }
    val dmlTargets: Set[UnresolvedRelation] = (plan match {
      case i: InsertIntoStatement => unwrap(i.table)
      case u: UpdateTable => unwrap(u.table)
      case d: DeleteFromTable => unwrap(d.table)
      case m: MergeIntoTable => unwrap(m.targetTable)
      case _ => None
    }).toSet
    plan.transformUp {
      // Iceberg's metadata-table SUFFIX form (`db.t.files`,
      // `t.history`, `graft.db.t.partitions`, …): the table prefix
      // resolves like a plain read (catalog stripping + governance
      // gates on both name forms), the last segment selects the
      // metadata relation — the SAME manifest-backed frames as the
      // lake_* TVFs, zero data reads. Claimed at PARSE time: a
      // 3-part name under spark_catalog errors its multi-part
      // namespace before any resolution rule runs. A REGISTERED
      // table of the full name, a session-catalog shadow, or a
      // governed prefix (either form) always wins / refuses.
      case u: UnresolvedRelation
          if u.multipartIdentifier.size >= 2 &&
            MetaSuffixes.contains(u.multipartIdentifier.last.toLowerCase) &&
            suffixClaimable(spark, u.multipartIdentifier) =>
        val t = LakeRegistry.get(LakeRegistry.keyOf(spark,
          u.multipartIdentifier.init).get).get
        val df = metaFrame(spark, t,
          u.multipartIdentifier.last.toLowerCase)
        SubqueryAlias(u.multipartIdentifier.map(_.toLowerCase),
          df.queryExecution.analyzed)

      // Iceberg's REF-addressed identifiers (`db.t.branch_b1`,
      // `db.t.tag_v1`): the suffix names a ref of the prefix table;
      // the read resolves the ref's head snapshot — the identifier
      // form of `VERSION AS OF 'ref'`, and the read half of
      // branch-addressed DML ([[LakeSqlRule]] claims the write
      // half). Wrong-kind addressing (`branch_x` naming a tag, or
      // vice versa) refuses loudly like Iceberg — a tag read through
      // a branch identifier would invite a later write to it.
      case u: UnresolvedRelation
          if u.multipartIdentifier.size >= 2 &&
            !dmlTargets.exists(_ eq u) &&
            refSuffix(u.multipartIdentifier.last).isDefined &&
            suffixClaimable(spark, u.multipartIdentifier) =>
        val t = LakeRegistry.get(LakeRegistry.keyOf(spark,
          u.multipartIdentifier.init).get).get
        val (wantKind, ref) = refSuffix(u.multipartIdentifier.last).get
        val (_, head) =
          suffixRef(t, u.multipartIdentifier.init, wantKind, ref)
        SubqueryAlias(u.multipartIdentifier.map(_.toLowerCase),
          t.readAt(head).queryExecution.analyzed)

      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if Set("table_changes", "table_changes_lineage")
            .contains(tvf.name.map(_.toLowerCase).mkString(".")) =>
        val fn = tvf.name.head.toLowerCase
        val (name, from, to) = tvf.functionArgs match {
          case Seq(Literal(n, org.apache.spark.sql.types.StringType),
              f: Literal, t: Literal)
              if n != null && integral(f) && integral(t) =>
            (n.toString.toLowerCase,
              f.value.toString.toLong, t.value.toString.toLong)
          case _ => throw new UnsupportedOperationException(
            "table_changes requires literal arguments: " +
              "table_changes('name', from_snapshot_id, to_snapshot_id)")
        }
        // Governed names read through FgacRule with policies applied;
        // a changelog that bypassed row/column policy would be a leak.
        require(!graft.fgac.SecureCatalog.isVisibleName(Seq(name)),
          s"table_changes on governed name '$name' is not supported; " +
            "read the governed table, not its changelog")
        val t = LakeRegistry.get(name).getOrElse(
          throw new IllegalArgumentException(
            s"$fn: '$name' is not a registered graft table"))
        // the lineage variant keys the feed on _row_id (Iceberg v3);
        // see GraftTable.lineageChanges for the pairing law
        val df =
          if (fn == "table_changes_lineage") t.lineageChanges(from, to)
          else t.changes(from, to)
        SubqueryAlias(name, df.queryExecution.analyzed)

      // metadata tables as TVFs (Iceberg's `db.t.files` /
      // `db.t.partitions` surface, in the TVF shape this engine
      // already uses for the changelog): answered from the driver-side
      // manifest — zero data-file opens, composable anywhere a
      // relation can appear.
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if Set("lake_files", "lake_partitions", "lake_history",
            "lake_refs", "lake_delete_files", "lake_lineage",
            "lake_entries", "lake_all_files", "lake_all_data_files",
            "lake_metadata_log_entries", "lake_all_manifests",
            "lake_all_entries", "lake_position_deletes",
            "lake_manifests", "lake_all_delete_files",
            "lake_data_files")
            .contains(tvf.name.map(_.toLowerCase).mkString(".")) =>
        val fn = tvf.name.head.toLowerCase
        val name = tvf.functionArgs match {
          case Seq(Literal(n, org.apache.spark.sql.types.StringType))
              if n != null => n.toString.toLowerCase
          case _ => throw new UnsupportedOperationException(
            s"$fn requires one literal argument: $fn('name')")
        }
        require(!graft.fgac.SecureCatalog.isVisibleName(Seq(name)),
          s"$fn on governed name '$name' is not supported")
        val t = LakeRegistry.get(name).getOrElse(
          throw new IllegalArgumentException(
            s"$fn: '$name' is not a registered graft table"))
        val df = metaFrame(spark, t, fn.stripPrefix("lake_"))
        SubqueryAlias(name, df.queryExecution.analyzed)

      // view catalog listing (Iceberg's SHOW VIEWS surface, in the
      // same TVF shape): pure registry metadata, zero data access.
      // Governed sessions see only views they may QUERY (own,
      // ungoverned, or granted), and the stored SQL + owner identity
      // are redacted unless they own the view — the definition text
      // names governed tables and hidden columns, the same
      // information DESCRIBE deliberately column-filters.
      case tvf: org.apache.spark.sql.catalyst.analysis.UnresolvedTableValuedFunction
          if tvf.name.map(_.toLowerCase) == Seq("lake_views") =>
        require(tvf.functionArgs.isEmpty, "lake_views takes no arguments")
        val who = spark.conf.get(
          graft.fgac.SecureCatalog.PrincipalConf, "")
        def queryable(vd: ViewDef): Boolean =
          who.isEmpty || who == vd.definer ||
            !graft.fgac.SecureCatalog.isGoverned(vd.name) ||
            graft.fgac.SecureCatalog.principal(who).exists(p =>
              p.grants.contains(vd.name) ||
                // tag-granted principals can query it, so they list it
                graft.fgac.SecureCatalog.tagsOf(vd.name)
                  .exists(p.tagGrants.contains))
        val rows = ViewRegistry.list.filter(queryable).map { vd =>
          val owner = who.isEmpty || who == vd.definer
          (vd.name, if (vd.definerSecurity) "definer" else "invoker",
            if (owner) vd.definer else "",
            vd.outputColumns.map(_._1).mkString(","),
            if (owner) vd.sql else "")
        }
        val df = spark.createDataFrame(rows)
          .toDF("name", "security", "definer", "columns", "view_sql")
        SubqueryAlias("lake_views", df.queryExecution.analyzed)
    }
  }

  private def integral(l: Literal): Boolean = l.dataType match {
    case org.apache.spark.sql.types.IntegerType |
        org.apache.spark.sql.types.LongType => l.value != null
    case _ => false
  }
}

/** Delegating parser that lowers graft DDL straight out of the
  * parser; everything else passes through untouched. */
object GraftSqlParser {
  /** Leading `--` line comments and `/* */` block comments (nesting
    * honored, like Spark's lexer) stripped, so the regex-level claims
    * below see the STATEMENT — ported maintenance scripts habitually
    * carry header comments, and without this a `-- header\nDESCRIBE t`
    * would fall through to Spark's cold "table not found". Only the
    * claim matching uses the stripped text; the delegate always
    * parses the ORIGINAL (Spark's lexer owns comments there). An
    * unterminated block comment stops the strip — the delegate then
    * reports it as the syntax error it is. */
  private[graft] def stripLeadingComments(s: String): String = {
    val n = s.length
    var i = 0
    var moved = true
    while (moved) {
      moved = false
      while (i < n && Character.isWhitespace(s.charAt(i))) { i += 1; moved = true }
      if (i + 1 < n && s.charAt(i) == '-' && s.charAt(i + 1) == '-') {
        val nl = s.indexOf('\n', i)
        i = if (nl < 0) n else nl + 1
        moved = true
      } else if (i + 1 < n && s.charAt(i) == '/' && s.charAt(i + 1) == '*') {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (j + 1 < n && s.charAt(j) == '/' && s.charAt(j + 1) == '*') {
            depth += 1; j += 2
          } else if (j + 1 < n && s.charAt(j) == '*' &&
              s.charAt(j + 1) == '/') {
            depth -= 1; j += 2
          } else j += 1
        }
        if (depth == 0) { i = j; moved = true }
      }
    }
    s.substring(i)
  }
}

class GraftSqlParser(spark: SparkSession,
    delegate: org.apache.spark.sql.catalyst.parser.ParserInterface)
    extends org.apache.spark.sql.catalyst.parser.ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan = {
    // the regex claims match on comment-stripped text; claim
    // precedence and the delegate's input are unchanged
    val claimText = GraftSqlParser.stripLeadingComments(sqlText)
    LakeMaintenance.parse(spark, claimText)
      // DESCRIBE / SHOW TABLES / SHOW PARTITIONS over lake names —
      // parser-level for the same reason as LakeMaintenance (the
      // analyzer's ResolveSessionCatalog would claim them first);
      // governed names defer to the policy-filtered FgacRule path
      .orElse(LakeCatalogSql.parse(spark, claimText))
      // CALL cat.system.proc(...) — Iceberg's stored-procedure
      // maintenance idiom, mapped onto the same lowered commands
      .orElse(LakeCallSql.parse(spark, claimText))
      // GRANT/REVOKE/SHOW GRANTS: Spark has no grammar for these at
      // all, so the claim is unconditional (a non-governed target
      // fails inside the command, loudly, rather than as a parse
      // error pointing at the wrong token)
      .orElse(graft.fgac.GrantSql.parse(claimText))
      .getOrElse {
      // resolve the table_changes TVF FIRST (a no-op without it):
      // lowered DDL embeds its query subtree verbatim, so a CTAS over
      // table_changes(...) would otherwise carry the unresolved TVF
      // into analysis and fail as an unknown function
      val plan = LakeChanges.resolve(spark, delegate.parsePlan(sqlText))
      LakeDdl.lower(spark, plan).getOrElse(plan)
    }
  }
  override def parseExpression(s: String) = delegate.parseExpression(s)
  override def parseTableIdentifier(s: String) = delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String) =
    delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String) =
    delegate.parseMultipartIdentifier(s)
  override def parseQuery(s: String) = delegate.parseQuery(s)
  override def parseRoutineParam(s: String) = delegate.parseRoutineParam(s)
  override def parseTableSchema(s: String) = delegate.parseTableSchema(s)
  override def parseDataType(s: String) = delegate.parseDataType(s)
}

/** Shared CREATE-path existence handling: the registry is in-memory,
  * so "exists" must also consult storage — in a fresh session,
  * `CREATE TABLE IF NOT EXISTS` over an existing location must
  * re-register and no-op, not fail createEmpty's own guard. Returns
  * true when creation should proceed. */
private[lakehouse] object CreateGuard {
  def shouldCreate(spark: SparkSession, name: String, root: String,
      ignoreIfExists: Boolean): Boolean = {
    val existing = LakeRegistry.get(name).orElse {
      val onDisk = GraftTable.load(spark, root)
      if (onDisk.currentSnapshotId > 0) {
        LakeRegistry.register(name, onDisk)
        Some(onDisk)
      } else None
    }
    if (existing.isDefined && !ignoreIfExists)
      throw new IllegalArgumentException(s"table $name already exists")
    existing.isEmpty
  }
}

case class GraftCreateTableCommand(name: String, tableSchema: StructType,
    partitionBy: Seq[String], root: String, ignoreIfExists: Boolean,
    props: Map[String, String] = Map.empty)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (CreateGuard.shouldCreate(spark, name, root, ignoreIfExists)) {
      // CHECK constraints arriving as CREATE properties (the SHOW
      // CREATE TABLE replay path — the table is empty, so the
      // existing-rows scan is vacuous): the EXPRESSION must still
      // analyze against the schema NOW — a typo'd column fails the
      // CREATE, not every later write
      props.foreach { case (k, v)
          if k.startsWith(GraftTable.ConstraintPrefix) =>
        try spark.createDataFrame(
            java.util.Collections.emptyList[Row](), tableSchema)
          .filter(org.apache.spark.sql.functions
            .expr(s"NOT coalesce(($v), true)"))
          .queryExecution.analyzed
        catch { case scala.util.control.NonFatal(e) =>
          throw new IllegalArgumentException(
            s"CHECK ($v) does not analyze against the table schema: " +
              String.valueOf(e.getMessage).linesIterator.take(1)
                .mkString)
        }
        case _ => ()
      }
      val t = GraftTable.createEmpty(spark, root, tableSchema, partitionBy)
      t.setProperties(props)
      LakeRegistry.register(name, t)
    }
    Seq.empty
  }
}

case class GraftCtasCommand(name: String, @transient query: LogicalPlan,
    partitionBy: Seq[String], root: String, ignoreIfExists: Boolean,
    props: Map[String, String] = Map.empty)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (CreateGuard.shouldCreate(spark, name, root, ignoreIfExists)) {
      val df = GraftSqlBridge.ofRows(spark, query)
      val t = GraftTable.create(spark, root, df, partitionBy)
      t.setProperties(props)
      LakeRegistry.register(name, t)
    }
    Seq.empty
  }
}

/** `[CREATE OR] REPLACE TABLE … AS SELECT` — Iceberg RTAS. On an
  * existing table this is ONE swap commit ([[GraftTable.replaceWith]]
  * — same CAS publish as any commit, history preserved); on a missing
  * one it degrades to CTAS iff OR CREATE was written. Replacing is a
  * write, so it rides the same FGAC write gate as DML — and a
  * GOVERNED name may not be replaced out from under its policies by
  * an ungoverned principal. */
case class GraftRtasCommand(name: String, @transient query: LogicalPlan,
    partitionBy: Seq[String], root: String, orCreate: Boolean,
    props: Map[String, String] = Map.empty)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val df = GraftSqlBridge.ofRows(spark, query)
    LakeRegistry.get(name) match {
      case Some(t) =>
        graft.fgac.SecureCatalog.authorizeWrite(
          spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""),
          name, "REPLACE TABLE")
        // REPLACE semantics cover table metadata: properties reset to
        // exactly the statement's TBLPROPERTIES (none = none — the old
        // write modes / lineage flags do not silently survive a
        // rebuild). The props file is not snapshot-versioned, so the
        // two writes cannot be one atomic publish; ordering decides
        // which half-state a crash can leave. Props-FIRST is the safe
        // direction: the swap commit then runs under the NEW props
        // (row.lineage in the statement assigns ids to the rebuilt
        // data in the swap itself), and a crash between the two
        // leaves the OLD data with NEW props — a metadata-only state
        // that re-running the statement converges, never the old
        // props silently governing the rebuilt data. A plain failure
        // (not a crash) restores the old props before rethrowing.
        val oldProps = t.properties
        t.setProperties(props)
        try t.replaceWith(df, partitionBy)
        catch { case e: Throwable => t.setProperties(oldProps); throw e }
      case None =>
        if (!orCreate) throw new IllegalArgumentException(
          s"REPLACE TABLE: '$name' does not exist " +
            "(use CREATE OR REPLACE TABLE to create it)")
        if (CreateGuard.shouldCreate(spark, name, root,
            ignoreIfExists = false)) {
          val t = GraftTable.create(spark, root, df, partitionBy)
          t.setProperties(props)
          LakeRegistry.register(name, t)
        }
    }
    Seq.empty
  }
}

/** DROP unregisters the name; PURGE also deletes the storage root
  * (managed-table semantics — Iceberg's `DROP TABLE … PURGE`).
  * DROP is the most destructive write there is, so it goes through
  * the same write-path FGAC gate as DELETE/UPDATE/MERGE/INSERT — a
  * read-only principal must not be able to destroy a table it cannot
  * modify. */
/** ALTER TABLE schema evolution, gated by write-path FGAC like every
  * other mutation (changing a table's shape is a write). */
case class GraftAlterCommand(name: String, op: String,
    alter: GraftTable => Unit) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      s"ALTER ($op)")
    alter(LakeRegistry.get(name).getOrElse(throw new IllegalStateException(
      s"table $name vanished from the registry")))
    Seq.empty
  }
}

/** `ALTER TABLE old RENAME TO new` — the registry re-key. All the
  * name-derived state is the registry entry itself: the manifest log
  * and data files live under the table's LOCATION (unchanged — like
  * Iceberg, a rename never moves storage), snapshots/branches/tags
  * are keyed by id/ref, and SHOW CREATE TABLE renders from the
  * registry name, so it reflects the new name immediately. The
  * registry is session-global (the local-mode stand-in for a catalog
  * service), so like CREATE, the re-key is visible session-wide. */
case class GraftRenameTableCommand(name: String, newParts: Seq[String])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name,
      "ALTER (RENAME TO)")
    val newKey = LakeRegistry.keyOf(spark, newParts).getOrElse(
      throw new UnsupportedOperationException(
        "RENAME TO requires a one- or two-part name (or three under " +
          s"the configured catalog), got ${LakeRegistry.nameOf(newParts)}"))
    require(newKey != name, s"RENAME TO: '$newKey' is the current name")
    // renaming ONTO a governed name would shadow its policy — the
    // same guard as CREATE/CTAS/CLONE
    require(!graft.fgac.SecureCatalog.isVisibleName(newParts) &&
        !graft.fgac.SecureCatalog.isVisibleName(newKey),
      s"RENAME TO: '$newKey' is a governed table name")
    require(LakeRegistry.get(newKey).isEmpty &&
        ViewRegistry.get(newKey).isEmpty,
      s"RENAME TO: '$newKey' already exists")
    // an on-disk managed table at the new name's root would collide
    // when a fresh session re-probes the name (claimDrop's contract)
    require(GraftTable.load(spark,
        LakeDdl.managedRoot(spark, newKey)).currentSnapshotId == 0,
      s"RENAME TO: an on-disk managed table already exists at the " +
        s"new name's managed location")
    val t = LakeRegistry.get(name).getOrElse(throw new IllegalStateException(
      s"table $name vanished from the registry"))
    // a table whose storage root IS its name-derived managed path
    // cannot soundly re-key: the old root stays on disk, so the next
    // probe of the OLD name (claimDrop's fresh-session contract)
    // would resurrect it over the renamed table's storage — DROP
    // PURGE on the stale name would then destroy the renamed data.
    // Iceberg's HadoopCatalog refuses renameTable for exactly this
    // reason (path-derived tables have name-coupled storage); tables
    // created with an explicit LOCATION rename freely.
    def norm(p: String) = new Path(p).toUri.getPath
    require(norm(t.location) != norm(LakeDdl.managedRoot(spark, name)),
      s"RENAME TO: '$name' is a path-managed table (its storage root " +
        "is derived from its name, so the old name would re-probe " +
        "onto the renamed storage); CREATE TABLE with an explicit " +
        "LOCATION to make a table renameable")
    LakeRegistry.register(newKey, t)
    LakeRegistry.unregister(name)
    Seq.empty
  }
}

case class GraftDropTableCommand(name: String, purge: Boolean)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    graft.fgac.SecureCatalog.authorizeWrite(
      spark.conf.get(graft.fgac.SecureCatalog.PrincipalConf, ""), name, "DROP")
    LakeRegistry.get(name).foreach { t =>
      LakeRegistry.unregister(name)
      // governance dies with the table (same hazard the view drop
      // guards): a dangling entry makes the name un-recreatable and
      // misroutes later reads into the governed branch
      graft.fgac.SecureCatalog.ungovern(name)
      if (purge) {
        val p = new Path(t.location)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
    }
    Seq.empty
  }
}
