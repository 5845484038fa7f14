package graft.fgac

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Registry.Q
import graft.Tables

/** The reference's FGAC surface re-expressed over the test-data star
  * schema. Mapping: `customer` plays `healthcare_db.patients`
  * (PII-bearing dimension; `c_acctbal` stands in for `ssn`,
  * `c_mktsegment` for `state`), `orders` plays `healthcare_db.claims`
  * (fact granted in full).
  *
  * Reference behaviors mirrored query-by-query:
  *  - row filter `state in ('Texas','New York')` →
  *    `c_mktsegment IN ('BUILDING','AUTOMOBILE')`
  *    (producer_iceberg_datalake_setup.sh:282)
  *  - column filter "all columns except ssn" → all except `c_acctbal`
  *    (producer_iceberg_datalake_setup.sh:278)
  *  - team1 reads filtered patients + claims, team2 is denied
  *    patients (consumer_emr_on_eks_setup.sh:300-340, 476-494)
  *  - resource links `rl_patients`/`rl_claims`
  *    (consumer_emr_on_eks_setup.sh:9-10)
  *  - the consumer join query (consumer_emr_on_eks_setup.sh:412).
  */
object FgacQueries {

  private val RowFilter = "c_mktsegment IN ('BUILDING','AUTOMOBILE')"
  private val VisibleCols =
    Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")

  private def principals = Seq(
    Principal("analyst_row", grants = Map(
      "customer" -> TablePolicy("customer", rowFilter = Some(RowFilter)))),
    Principal("analyst_col", grants = Map(
      "customer" -> TablePolicy("customer",
        allowedColumns = Some(VisibleCols)))),
    Principal("analyst_cell", grants = Map(
      "customer" -> TablePolicy("customer", rowFilter = Some(RowFilter),
        allowedColumns = Some(VisibleCols)))),
    Principal("analyst_mask", grants = Map(
      "customer" -> TablePolicy("customer", masks = Map(
        "c_name"    -> "md5(c_name)",
        "c_acctbal" -> "CAST(-1.0 AS DOUBLE)")))),
    Principal("team1", grants = Map(
      "customer" -> TablePolicy("customer", rowFilter = Some(RowFilter),
        allowedColumns = Some(VisibleCols),
        masks = Map("c_name" -> "md5(c_name)")),
      "orders" -> TablePolicy("orders"))),
    Principal("team2", grants = Map(
      "orders" -> TablePolicy("orders"))),
    Principal("consumer",
      grants = Map("customer" ->
        TablePolicy("customer", rowFilter = Some(RowFilter))),
      links = Map("rl_customer" -> "customer")),
    // LF-Tags model: granted on the "pii" tag, not on any table name;
    // covers every table carrying the tag (here: customer).
    Principal("tag_analyst", tagGrants = Map(
      "pii" -> TablePolicy("", rowFilter = Some(RowFilter),
        masks = Map("c_acctbal" -> "CAST(-1.0 AS DOUBLE)"))))
  )

  /** Register governed tables + principals (idempotent). The raw
    * relations are held by [[SecureCatalog]], never under a session
    * name; the public names `customer`/`orders`/`rl_customer` are
    * resolved exclusively by [[FgacRule]], which injects the caller's
    * policy. */
  def setup(s: SparkSession, dir: String): Unit = {
    SecureCatalog.governTable("customer", Tables.customer(s, dir))
    SecureCatalog.governTable("orders", Tables.orders(s, dir))
    SecureCatalog.tagTable("customer", Set("pii"))
    principals.foreach(SecureCatalog.register)
  }

  /** Run `body` as `who`, restoring the session's ambient principal. */
  def asPrincipal[A](s: SparkSession, who: String)(body: => A): A = {
    s.conf.set(SecureCatalog.PrincipalConf, who)
    try body
    finally s.conf.set(SecureCatalog.PrincipalConf, "")
  }

  private def governedSql(who: String, sql: String): Q = (s, dir) => {
    setup(s, dir)
    asPrincipal(s, who)(s.sql(sql))
  }

  private val fullScan = "SELECT * FROM customer ORDER BY c_custkey"

  /** team2's denied read (consumer_emr_on_eks_setup.sh:476-494): the
    * reference's job catches the access error and reports it; we
    * surface the decision as a row. */
  private val deny: Q = (s, dir) => {
    setup(s, dir)
    import s.implicits._
    val outcome =
      try {
        asPrincipal(s, "team2")(s.sql("SELECT * FROM customer").collect())
        "UNEXPECTED_ALLOW"
      } catch {
        case t: Throwable if causeChain(t).exists(_.isInstanceOf[AccessDeniedException]) =>
          "DENIED"
      }
    Seq(("team2", "customer", outcome)).toDF("principal", "table", "decision")
  }

  private def causeChain(t: Throwable): List[Throwable] =
    if (t == null) Nil else t :: causeChain(t.getCause)

  /** Decision-matrix probe: ALLOWED, DENIED (a policy denial anywhere
    * in the cause chain), or REFUSED (the engine rejected the
    * operation shape, e.g. DML against a view). Anything else
    * propagates — a genuine failure must fail the query loudly. */
  private def outcomeOf(body: => Unit): String =
    try { body; "ALLOWED" }
    catch {
      case t: Throwable if causeChain(t)
          .exists(_.isInstanceOf[AccessDeniedException]) => "DENIED"
      case t: Throwable if causeChain(t)
          .exists(_.isInstanceOf[UnsupportedOperationException]) =>
        "REFUSED"
    }

  /** The reference's consumer join (consumer_emr_on_eks_setup.sh:412)
    * through two governed tables. Catalyst broadcast-joins the
    * filtered dimension automatically at scale. */
  private val joinSql =
    """SELECT p.c_mktsegment, c.o_orderkey, c.o_orderdate, p.c_name,
      |       c.o_totalprice, c.o_orderstatus
      |FROM orders c JOIN customer p ON c.o_custkey = p.c_custkey
      |ORDER BY p.c_mktsegment, c.o_orderdate, c.o_orderkey""".stripMargin

  /** Register lake table `t` as `name` and govern it by name: every
    * read of the name resolves the table's current snapshot under the
    * reader's policy ([[SecureCatalog.relationOf]]), and SQL DML on it
    * needs a write grant ([[graft.lakehouse.LakeSqlRule]]). */
  private def governLake(s: SparkSession, name: String,
      t: graft.lakehouse.GraftTable): Unit = {
    graft.lakehouse.LakeRegistry.register(name, t)
    SecureCatalog.governTable(name, s.table(name))
  }

  /** FGAC over a lakehouse table — the reference's actual
    * composition (Lake Formation policies on Iceberg tables): a
    * [[graft.lakehouse.GraftTable]] is governed by name, DML runs
    * against the table, and the principal's read sees the
    * policy-filtered view of the *current snapshot*. */
  private val lakehouseGoverned: Q = (s, dir) => {
    governLake(s, "gov_customer", graft.lakehouse.GraftTable.create(s,
      java.nio.file.Files.createTempDirectory("graft_fgac_lake").toString,
      Tables.customer(s, dir)))
    // DML through the governed name after governing: bump every
    // BUILDING balance; the read below sees the new snapshot
    s.sql("""UPDATE gov_customer SET c_acctbal = c_acctbal + 50.0
            |WHERE c_mktsegment = 'BUILDING'""".stripMargin)
    SecureCatalog.register(Principal("lake_analyst", grants = Map(
      "gov_customer" -> TablePolicy("gov_customer",
        rowFilter = Some(RowFilter),
        allowedColumns = Some(Seq("c_custkey", "c_acctbal", "c_mktsegment"))))))
    asPrincipal(s, "lake_analyst")(
      s.sql("SELECT * FROM gov_customer ORDER BY c_custkey"))
  }

  /** Namespace-qualified governance — the reference's only addressing
    * mode: the consumer reads `dev.${CONSUMER_DATABASE}.${rl_patients}`
    * through a configured catalog (consumer_emr_on_eks_setup.sh:407,
    * 412, catalog conf :438-447). Exercises (a) a catalog-qualified
    * resource link resolving to its governed target with the
    * caller's policy applied, and (b) deny-by-default for a governed
    * table in an ungranted namespace. A deny failure empties the
    * result, so the oracle compare catches it. */
  private val namespaceGoverned: Q = (s, dir) => {
    // Catalog registration is a lazy per-name conf lookup, so the
    // governed namespaces can be wired into any session at runtime —
    // the local analog of the reference's --conf spark.sql.catalog.dev
    // (consumer_emr_on_eks_setup.sh:438-447).
    Seq("gov", "dev").foreach(c => s.conf.set(
      s"spark.sql.catalog.$c", classOf[GovernedCatalog].getName))
    SecureCatalog.governTable("gov.healthcare_db.patients",
      Tables.customer(s, dir))
    SecureCatalog.governTable("gov.finance_db.accounts",
      Tables.orders(s, dir))
    SecureCatalog.register(Principal("ns_consumer",
      grants = Map("gov.healthcare_db.patients" ->
        TablePolicy("gov.healthcare_db.patients",
          rowFilter = Some(RowFilter),
          allowedColumns = Some(VisibleCols))),
      links = Map("dev.consumer_db.rl_patients" ->
        "gov.healthcare_db.patients")))
    val denied =
      try {
        asPrincipal(s, "ns_consumer")(
          s.sql("SELECT * FROM gov.finance_db.accounts").collect())
        false
      } catch {
        case t: Throwable
            if causeChain(t).exists(_.isInstanceOf[AccessDeniedException]) =>
          true
      }
    val res = asPrincipal(s, "ns_consumer")(s.sql(
      "SELECT * FROM dev.consumer_db.rl_patients ORDER BY c_custkey"))
    if (denied) res else res.limit(0)
  }

  /** Write-path FGAC: Lake Formation grants read and write
    * permissions separately; a filtered-SELECT principal must not be
    * able to mutate the table, while a write-granted principal can —
    * and both decisions surface as constant-contract rows (like
    * [[deny]]), so the oracle is exact. Every write is SQL DML on the
    * governed name (UPDATE, DELETE via LakeSqlRule). */
  private val writeDeny: Q = (s, dir) => {
    import s.implicits._
    governLake(s, "wd_customer", graft.lakehouse.GraftTable.create(s,
      java.nio.file.Files.createTempDirectory("graft_fgac_wd").toString,
      Tables.customer(s, dir)))
    SecureCatalog.register(Principal("wd_reader", grants = Map(
      "wd_customer" -> TablePolicy("wd_customer",
        rowFilter = Some(RowFilter)))))
    SecureCatalog.register(Principal("wd_writer", grants = Map(
      "wd_customer" -> TablePolicy("wd_customer", write = true))))
    def attempt(who: String, op: String)(body: => Unit): (String, String, String) =
      (who, op, outcomeOf(body))
    val rows = Seq(
      attempt("wd_reader", "update")(asPrincipal(s, "wd_reader")(s.sql(
        "UPDATE wd_customer SET c_acctbal = 0.0 WHERE c_custkey = 1"))),
      attempt("wd_reader", "sql_delete")(asPrincipal(s, "wd_reader")(
        s.sql("DELETE FROM wd_customer WHERE c_custkey = 1"))),
      attempt("wd_writer", "update")(asPrincipal(s, "wd_writer")(s.sql(
        "UPDATE wd_customer SET c_acctbal = c_acctbal WHERE c_custkey = 1"))))
    rows.toDF("principal", "op", "decision").orderBy("principal", "op")
  }

  /** Access-audit trail (CloudTrail × Lake Formation — the
    * reference's governance story pairs every LF decision with a
    * CloudTrail event, and its operators debug denied jobs from that
    * trail): every ALLOW/DENY decision at the
    * [[SecureCatalog.authorize]] / [[SecureCatalog.authorizeWrite]]
    * funnels lands in [[AuditLog]], so ONE instrumentation point
    * audits every path — SQL reads, catalog reads, views, lake DML,
    * unknown-principal probes. The scenario drives one decision of
    * each kind under dedicated principals on a dedicated table, then
    * runs the auditor's own query over the trail. DISTINCT because
    * the analyzer may re-fire resolution rules: the trail is
    * at-least-once per decision, never divergent — and the audited
    * DETAIL row records the granted policy's shape (cols/filter/mask
    * counts), never data. */
  private val auditLog: Q = (s, dir) => {
    import s.implicits._
    governLake(s, "aud_customer", graft.lakehouse.GraftTable.create(s,
      java.nio.file.Files.createTempDirectory("graft_fgac_audit").toString,
      Tables.customer(s, dir)))
    SecureCatalog.register(Principal("aud_reader", grants = Map(
      "aud_customer" -> TablePolicy("aud_customer",
        rowFilter = Some(RowFilter), allowedColumns = Some(VisibleCols),
        masks = Map("c_name" -> "md5(c_name)")))))
    SecureCatalog.register(Principal("aud_writer", grants = Map(
      "aud_customer" -> TablePolicy("aud_customer", write = true))))
    SecureCatalog.register(Principal("aud_nogrants"))
    def ignoreDenied(body: => Unit): Unit = require(
      outcomeOf(body) != "ALLOWED", "probe expected a denial")
    // one decision of each kind
    asPrincipal(s, "aud_reader")(
      s.sql("SELECT * FROM aud_customer").collect())
    ignoreDenied(asPrincipal(s, "aud_nogrants")(
      s.sql("SELECT * FROM aud_customer").collect()))
    ignoreDenied(asPrincipal(s, "aud_reader")(s.sql(
      "UPDATE aud_customer SET c_acctbal = 0.0 WHERE c_custkey = 1")))
    asPrincipal(s, "aud_writer")(s.sql(
      "UPDATE aud_customer SET c_acctbal = c_acctbal WHERE c_custkey = 1"))
    ignoreDenied(asPrincipal(s, "aud_ghost")(
      s.sql("SELECT * FROM aud_customer").collect()))
    // the auditor's query: this scenario's principals only
    AuditLog.entries
      .filter(e => e.principal.startsWith("aud_") &&
        e.resource == "aud_customer")
      .map(e => (e.principal, e.action, e.resource, e.outcome, e.detail))
      .toDF("principal", "action", "resource", "outcome", "detail")
      .distinct()
      .orderBy("principal", "action", "outcome", "detail")
  }

  /** Persisted audit trail — the production form
    * [[AuditLog]]'s docstring promises: the decision queue is
    * write-behind-flushed into a GOVERNED graft-lake table
    * ([[AuditLog.flushTo]], one append commit per flush, O(new
    * decisions)), so the trail gets snapshots, time travel, and
    * STREAMING reads (require()d in-query: a graft-lake readStream
    * over the audit table replays exactly the persisted decisions).
    * Governing the audit table closes the loop: the auditor's own
    * read of the trail is audited and arrives with the next flush —
    * require()d — and a non-auditor principal is denied the trail
    * itself. Output is the auditor's governed read of the persisted
    * decisions (scenario principals only, DISTINCT per the
    * at-least-once contract), oracled as its constant decision
    * matrix. */
  private val auditPersist: Q = (s, dir) => {
    SecureCatalog.governTable("ap_customer", Tables.customer(s, dir))
    SecureCatalog.register(Principal("ap_reader", grants = Map(
      "ap_customer" -> TablePolicy("ap_customer",
        allowedColumns = Some(Seq("c_custkey", "c_mktsegment"))))))
    SecureCatalog.register(Principal("ap_auditor"))
    // decisions to persist: an allowed read, two denials
    asPrincipal(s, "ap_reader")(
      s.sql("SELECT * FROM ap_customer").collect())
    require(outcomeOf(asPrincipal(s, "ap_ghost")(
      s.sql("SELECT * FROM ap_customer").collect())) == "DENIED",
      "ghost probe must deny")
    require(outcomeOf(asPrincipal(s, "ap_auditor")(
      s.sql("SELECT * FROM ap_customer").collect())) == "DENIED",
      "the auditor holds no data grant")
    // flush #1 into a governed lake table
    val auditT = graft.lakehouse.GraftTable.createEmpty(s,
      java.nio.file.Files.createTempDirectory("graft_audit_trail").toString,
      AuditLog.schema)
    require(AuditLog.flushTo(s, auditT) > 0, "flush #1 must persist rows")
    governLake(s, "ap_audit_trail", auditT)
    SecureCatalog.register(Principal("ap_auditor", grants = Map(
      "ap_audit_trail" -> TablePolicy("ap_audit_trail"))))
    // the auditor reads the trail — audited itself, and the reader
    // is denied the trail (auditing is not self-service)
    asPrincipal(s, "ap_auditor")(
      s.sql("SELECT * FROM ap_audit_trail").collect())
    require(outcomeOf(asPrincipal(s, "ap_reader")(
      s.sql("SELECT * FROM ap_audit_trail").collect())) == "DENIED",
      "a data principal must not read the audit trail uninvited")
    // flush #2 carries the auditor's own access, readable through
    // the governed name at once
    require(AuditLog.flushTo(s, auditT) > 0,
      "flush #2 must carry the auditor's trail access")
    require(asPrincipal(s, "ap_auditor")(s.sql(
        """SELECT count(*) FROM ap_audit_trail
          |WHERE principal = 'ap_auditor'
          |  AND resource = 'ap_audit_trail'
          |  AND outcome = 'ALLOWED'""".stripMargin).head.getLong(0)) > 0,
      "the auditor's own trail read must be in the persisted trail")
    // the trail streams back out through the graft-lake source
    val qn = "ap_audit_stream"
    val q = s.readStream.format("graft-lake")
      .option("path", auditT.location).load()
      .writeStream.format("memory").queryName(qn).outputMode("append")
      .start()
    q.processAllAvailable(); q.stop()
    require(s.table(qn).count() == auditT.read().count(),
      "the streamed trail must replay every persisted decision")
    import s.implicits._
    asPrincipal(s, "ap_auditor")(s.sql(
      """SELECT DISTINCT principal, action, resource, outcome, detail
        |FROM ap_audit_trail
        |WHERE principal LIKE 'ap\\_%'""".stripMargin))
      .orderBy("principal", "action", "resource", "outcome", "detail")
  }

  /** Principal-context row filter: ONE stored policy whose filter
    * references `graft_principal()` serves every tenant — the
    * Snowflake current_role()-in-row-access-policy / Postgres RLS
    * current_user pattern, where the reference would need one LF
    * grant per principal. [[FgacRule.compilePolicyExpr]] folds the
    * context function to a string literal at plan time, so each
    * tenant's scan carries a CONSTANT predicate (it lands in
    * PushedFilters like any literal) — one policy, N tenants, zero
    * per-row context lookup at 100 TB. Two principals named for
    * their segment read the same governed table under the same
    * shared policy and see disjoint slices; the in-query require
    * pins the isolation before the per-tenant aggregate. */
  private val contextFilter: Q = (s, dir) => {
    import org.apache.spark.sql.functions._
    SecureCatalog.governTable("ctx_customer", Tables.customer(s, dir))
    val shared = TablePolicy("ctx_customer",
      rowFilter = Some("c_mktsegment = graft_principal()"))
    val tenants = Seq("AUTOMOBILE", "BUILDING")
    tenants.foreach(p => SecureCatalog.register(
      Principal(p, grants = Map("ctx_customer" -> shared))))
    tenants.map { p =>
      val df = asPrincipal(s, p)(s.sql("SELECT * FROM ctx_customer"))
      require(df.filter(col("c_mktsegment") =!= p).count() == 0,
        s"tenant $p must see only its own segment")
      df.agg(
        count(lit(1)).as("n_rows"),
        min(col("c_custkey")).as("min_custkey"),
        max(col("c_custkey")).as("max_custkey"),
        sum(col("c_acctbal").cast("decimal(18,6)")).cast("double")
          .as("bal_sum"))
        .select(lit(p).as("principal"), col("n_rows"),
          col("min_custkey"), col("max_custkey"), col("bal_sum"))
    }.reduce(_.unionAll(_)).orderBy(col("principal"))
  }

  /** WITH GRANT OPTION delegation — the reference's two-hop grant
    * chain as a decision matrix (see [[SecureCatalog.regrant]]):
    * the producer grants an admin a grantable filtered policy; the
    * admin's NARROWED re-grant works and the delegate reads exactly
    * the doubly-filtered intersection (require()d in-query); a
    * widened re-grant and a re-grant from a non-grantable holder
    * both refuse. */
  private val grantChain: Q = (s, dir) => {
    import s.implicits._
    setup(s, dir)
    SecureCatalog.register(Principal("gc_admin", grants = Map(
      "customer" -> TablePolicy("customer", rowFilter = Some(RowFilter),
        allowedColumns = Some(VisibleCols), grantable = true))))
    def attempt(scenario: String)(body: => Unit): (String, String) =
      (scenario, outcomeOf(body))
    val narrowFilter = "c_nationkey % 2 = 0"
    val rows = Seq(
      attempt("1_narrowed_regrant") {
        SecureCatalog.regrant("gc_admin", "gc_team", "customer",
          TablePolicy("customer", rowFilter = Some(narrowFilter),
            allowedColumns = Some(Seq("c_custkey", "c_mktsegment"))))
      },
      attempt("2_widened_regrant") {
        SecureCatalog.regrant("gc_admin", "gc_team2", "customer",
          TablePolicy("customer",
            allowedColumns = Some(Seq("c_custkey", "c_acctbal"))))
      },
      attempt("3_non_grantable_regrant") {
        SecureCatalog.regrant("gc_team", "gc_team3", "customer",
          TablePolicy("customer"))
      },
      attempt("4_delegated_read_matches") {
        val got = asPrincipal(s, "gc_team")(
          s.sql("SELECT * FROM customer ORDER BY c_custkey"))
        require(got.columns.toSeq == Seq("c_custkey", "c_mktsegment"),
          s"delegated projection must be the narrowed columns, got " +
            got.columns.mkString(","))
        val expect = Tables.customer(s, dir)
          .filter(org.apache.spark.sql.functions.expr(
            s"($RowFilter) AND ($narrowFilter)"))
          .select("c_custkey", "c_mktsegment")
        require(got.count() == expect.count() &&
            got.except(expect).isEmpty && expect.except(got).isEmpty,
          "delegated read must equal the doubly-filtered intersection")
      })
    rows.toDF("scenario", "decision").orderBy("scenario")
  }

  /** DESCRIBE as a permission separate from SELECT
    * (producer_iceberg_datalake_setup.sh:305): a DESCRIBE-only
    * principal sees the column-filtered schema through SQL
    * `DESCRIBE TABLE`, while any scan is denied (require()d
    * in-query — a failed deny empties the result, so the oracle
    * compare catches it). */
  private val describeOnly: Q = (s, dir) => {
    setup(s, dir)
    SecureCatalog.register(Principal("desc_only", grants = Map(
      "customer" -> TablePolicy("customer",
        allowedColumns = Some(VisibleCols), selectable = false))))
    val scanDenied =
      try {
        asPrincipal(s, "desc_only")(
          s.sql("SELECT * FROM customer").collect())
        false
      } catch {
        case t: Throwable if causeChain(t)
            .exists(_.isInstanceOf[AccessDeniedException]) => true
      }
    val desc = asPrincipal(s, "desc_only")(
      s.sql("DESCRIBE TABLE customer"))
      .select("col_name", "data_type")
    if (scanDenied) desc else desc.limit(0)
  }

  /** Governed-name `SHOW CREATE TABLE` / `SHOW TBLPROPERTIES` — the
    * metadata decision matrix COMPLETED (r16 verdict item 3): every
    * per-table metadata statement on a governed name answers
    * policy-shaped or refuses loudly and audited — never Spark's cold
    * "table not found" (which both strands a grant-holding operator
    * and leaks that the name is special). Matrix:
    *  1. a column-filtered grantee's SHOW CREATE TABLE lists exactly
    *     the granted columns — the hidden column does not appear, and
    *     neither do storage details (location / partition layout);
    *  2. SHOW TBLPROPERTIES under the same grant ANSWERS (zero rows
    *     for a governed table over a plain DataFrame — a valid
    *     answer);
    *  3. SHOW CREATE TABLE without a grant is DENIED (and audited —
    *     spec-pinned in FgacSpec);
    *  4. SHOW TBLPROPERTIES without a grant is DENIED;
    *  5. SHOW CREATE TABLE on a governed VIEW refuses crisply
    *     (category error — and the view SQL may embed names the
    *     principal cannot see);
    *  6. the admin session sees the full column set. */
  private val showDdl: Q = (s, dir) => {
    import s.implicits._
    setup(s, dir)
    // a governed view for the category-error case (admin creates it;
    // governing it makes the name visible to the metadata claims)
    s.sql("CREATE OR REPLACE VIEW fgac_sddl_v AS " +
      "SELECT c_custkey, c_mktsegment FROM customer")
    SecureCatalog.governTable("fgac_sddl_v",
      Seq("c_custkey", "c_mktsegment"))
    def attempt(scenario: String)(body: => Unit): (String, String) =
      (scenario, outcomeOf(body))
    val rows = Seq(
      attempt("1_show_create_filtered") {
        val ddl = asPrincipal(s, "analyst_col")(
          s.sql("SHOW CREATE TABLE customer")).head.getString(0)
        require(VisibleCols.forall(ddl.contains),
          "the granted columns must all appear in the DDL")
        require(!ddl.contains("c_acctbal"),
          "a column outside the grant must not appear in the DDL")
        require(!ddl.contains("LOCATION"),
          "governed DDL must not disclose storage details")
      },
      attempt("2_tblprops_grantee") {
        // a governed table over a plain DataFrame: zero properties is
        // the ANSWER (a cold "not found" here was the r16 verdict bug)
        val props = asPrincipal(s, "analyst_col")(
          s.sql("SHOW TBLPROPERTIES customer")).collect()
        require(props.isEmpty,
          "a DataFrame-backed governed table answers zero properties")
      },
      attempt("3_show_create_no_grant") {
        asPrincipal(s, "team2")(
          s.sql("SHOW CREATE TABLE customer").collect())
      },
      attempt("4_tblprops_no_grant") {
        asPrincipal(s, "team2")(
          s.sql("SHOW TBLPROPERTIES customer").collect())
      },
      attempt("5_governed_view_refuses") {
        asPrincipal(s, "analyst_col")(
          s.sql("SHOW CREATE TABLE fgac_sddl_v").collect())
      },
      attempt("6_admin_sees_all") {
        val ddl = s.sql("SHOW CREATE TABLE customer").head.getString(0)
        require(ddl.contains("c_acctbal"),
          "the admin session sees the full column set")
      })
    rows.toDF("scenario", "decision").orderBy("scenario")
  }

  /** Views × FGAC (the Lake Formation / Athena view model: consumers
    * query through a view rather than the table). Decision matrix:
    *  - DEFINER view ('security'='definer'): a foreign principal reads
    *    through it ONLY when the view is governed and granted (the
    *    Athena/LF model: sharing goes through an admin grant on the
    *    view); the granted reader then sees exactly the view OWNER's
    *    filtered visibility (captured at CREATE);
    *  - an UNGOVERNED definer view is private to its definer — a
    *    foreign read is denied (otherwise a non-grantable grantee
    *    could republish their slice, bypassing regrant narrowing);
    *  - INVOKER view (default, Iceberg semantics): underlying tables
    *    re-authorize as the QUERYING principal, so an ungranted
    *    reader is denied;
    *  - a GOVERNED view requires its own grant (deny-by-default),
    *    and the view-level policy narrows further on the view output;
    *  - views are read-only — DML refuses;
    *  - creating a view needs read rights on the underlying table. */
  private val viewDecisions: Q = (s, dir) => {
    import s.implicits._
    setup(s, dir)
    SecureCatalog.register(Principal("vw_owner", grants = Map(
      "customer" -> TablePolicy("customer", rowFilter = Some(RowFilter),
        allowedColumns = Some(VisibleCols)),
      // write grant on the (governed) view name: lets the owner's
      // CREATE OR REPLACE re-run once the view is governed below
      "fgac_v_definer" -> TablePolicy("fgac_v_definer", write = true))))
    asPrincipal(s, "vw_owner") {
      s.sql("""CREATE OR REPLACE VIEW fgac_v_definer
              |TBLPROPERTIES('security'='definer')
              |AS SELECT c_custkey, c_mktsegment FROM customer""".stripMargin)
      s.sql("""CREATE OR REPLACE VIEW fgac_v_invoker
              |AS SELECT c_custkey, c_mktsegment FROM customer""".stripMargin)
      // an ungoverned definer view — private to its definer
      s.sql("""CREATE OR REPLACE VIEW fgac_v_defpriv
              |TBLPROPERTIES('security'='definer')
              |AS SELECT c_custkey, c_mktsegment FROM customer""".stripMargin)
    }
    // the Athena/LF sharing model: the admin governs the definer view
    // and grants the consumer on the VIEW name — that grant, not the
    // definer property alone, is what authorizes the foreign read
    SecureCatalog.governTable("fgac_v_definer",
      Seq("c_custkey", "c_mktsegment"))
    SecureCatalog.register(Principal("vw_consumer", grants = Map(
      "fgac_v_definer" -> TablePolicy("fgac_v_definer"))))
    def attempt(scenario: String)(body: => Unit): (String, String) =
      (scenario, outcomeOf(body))
    val ownerView = Tables.customer(s, dir)
      .filter(org.apache.spark.sql.functions.expr(RowFilter))
      .select("c_custkey", "c_mktsegment")
    val rows = Seq(
      attempt("1_definer_view_read") {
        val got = asPrincipal(s, "vw_consumer")(s.sql(
          "SELECT * FROM fgac_v_definer ORDER BY c_custkey"))
        require(got.count() == ownerView.count() &&
            got.except(ownerView).isEmpty,
          "definer view must surface the OWNER's filtered visibility")
      },
      attempt("2_invoker_view_read") {
        asPrincipal(s, "vw_consumer")(
          s.sql("SELECT * FROM fgac_v_invoker").collect())
      },
      attempt("3_governed_view_ungranted") {
        asPrincipal(s, "vw_owner")(s.sql(
          """CREATE OR REPLACE VIEW fgac_v_gov
            |TBLPROPERTIES('security'='definer')
            |AS SELECT c_custkey, c_mktsegment FROM customer""".stripMargin))
        SecureCatalog.governTable("fgac_v_gov",
          Seq("c_custkey", "c_mktsegment"))
        asPrincipal(s, "vw_consumer")(
          s.sql("SELECT * FROM fgac_v_gov").collect())
      },
      attempt("4_governed_view_granted_narrowed") {
        SecureCatalog.register(Principal("vw_consumer2", grants = Map(
          "fgac_v_gov" -> TablePolicy("fgac_v_gov",
            rowFilter = Some("c_custkey % 2 = 0")))))
        val got = asPrincipal(s, "vw_consumer2")(s.sql(
          "SELECT * FROM fgac_v_gov ORDER BY c_custkey"))
        val expect = ownerView.filter("c_custkey % 2 = 0")
        require(got.count() == expect.count() &&
            got.except(expect).isEmpty,
          "view-level policy must narrow the definer-filtered output")
      },
      attempt("5_view_write") {
        s.sql("DELETE FROM fgac_v_definer WHERE c_custkey = 1")
      },
      attempt("6_create_without_read") {
        asPrincipal(s, "team2")(s.sql(
          """CREATE OR REPLACE VIEW fgac_v_stolen
            |TBLPROPERTIES('security'='definer')
            |AS SELECT * FROM customer""".stripMargin))
      },
      // an UNGOVERNED definer view republishes its creator's
      // visibility — foreign reads refuse (the republication door
      // ADVICE r11 flagged), while the definer reads their own view
      attempt("7_ungoverned_definer_foreign") {
        asPrincipal(s, "team2")(
          s.sql("SELECT * FROM fgac_v_defpriv").collect())
      },
      attempt("8_ungoverned_definer_self") {
        val got = asPrincipal(s, "vw_owner")(s.sql(
          "SELECT * FROM fgac_v_defpriv ORDER BY c_custkey"))
        require(got.count() == ownerView.count() &&
            got.except(ownerView).isEmpty,
          "the definer's own read must surface their filtered slice")
      })
    rows.toDF("scenario", "decision").orderBy("scenario")
  }

  /** Namespace (database-resource) grants — the reference's FIRST
    * grant is database-level: the producer grants the consumer
    * account DESCRIBE on the whole database WITH GRANT OPTION
    * (producer_iceberg_datalake_setup.sh:259-274), then layers table
    * grants with filters on top. Decision matrix:
    *  1. admin grants DB-level DESCRIBE (grantable) via SQL — the
    *     grantee can DESCRIBE any governed table under the namespace;
    *  2. the same DB grant does NOT allow a scan (DESCRIBE-only);
    *  3. a table-level filtered SELECT layers on top and wins
    *     (most-specific: table > tag > namespace);
    *  4. the DB grant re-delegates DESCRIBE (grant option);
    *  5. a re-delegation widening DESCRIBE to SELECT refuses;
    *  6. revoking the DB grant cascades through its delegations while
    *     the independent table grant survives. */
  private val nsGrants: Q = (s, dir) => {
    import s.implicits._
    Seq("gov", "dev").foreach(c => s.conf.set(
      s"spark.sql.catalog.$c", classOf[GovernedCatalog].getName))
    SecureCatalog.governTable("gov.healthcare_db.patients",
      Tables.customer(s, dir))
    Seq("nsg_consumer", "nsg_team", "nsg_analyst")
      .foreach(n => SecureCatalog.register(Principal(n)))
    def attempt(scenario: String)(body: => Unit): (String, String) =
      (scenario, outcomeOf(body))
    val rows = Seq(
      attempt("1_db_describe_grant") {
        s.sql("GRANT DESCRIBE ON NAMESPACE gov.healthcare_db " +
          "TO nsg_consumer WITH GRANT OPTION")
        val desc = asPrincipal(s, "nsg_consumer")(
          s.sql("DESCRIBE TABLE gov.healthcare_db.patients")).collect()
        require(desc.map(_.getString(0)).contains("c_custkey"),
          "a DB-level DESCRIBE grant must expose the schema")
      },
      attempt("2_ns_scan_denied") {
        asPrincipal(s, "nsg_consumer")(
          s.sql("SELECT * FROM gov.healthcare_db.patients").collect())
      },
      attempt("3_table_grant_overrides") {
        s.sql(s"""GRANT SELECT (c_custkey, c_mktsegment)
                 |ON gov.healthcare_db.patients TO nsg_consumer
                 |WHERE $RowFilter""".stripMargin)
        val got = asPrincipal(s, "nsg_consumer")(s.sql(
          "SELECT * FROM gov.healthcare_db.patients"))
        require(got.columns.toSeq == Seq("c_custkey", "c_mktsegment"),
          "the table-level grant must win over the namespace grant")
      },
      attempt("4_ns_regrant_describe") {
        asPrincipal(s, "nsg_consumer")(s.sql(
          "GRANT DESCRIBE ON NAMESPACE gov.healthcare_db TO nsg_team"))
        val desc = asPrincipal(s, "nsg_team")(
          s.sql("DESCRIBE TABLE gov.healthcare_db.patients")).collect()
        require(desc.nonEmpty, "the delegated DESCRIBE must work")
      },
      attempt("5_ns_regrant_widen") {
        asPrincipal(s, "nsg_consumer")(s.sql(
          "GRANT SELECT ON NAMESPACE gov.healthcare_db TO nsg_analyst"))
      },
      attempt("6_ns_revoke_cascades") {
        s.sql("REVOKE ALL ON NAMESPACE gov.healthcare_db " +
          "FROM nsg_consumer")
        require(SecureCatalog.principal("nsg_team")
            .forall(_.nsGrants.isEmpty),
          "revoking the DB grant must cascade through its delegations")
        // the independent TABLE grant survives the namespace revoke
        require(asPrincipal(s, "nsg_consumer")(s.sql(
          "SELECT * FROM gov.healthcare_db.patients")).count() > 0,
          "the table-level grant must survive the namespace revoke")
        asPrincipal(s, "nsg_team")(
          s.sql("DESCRIBE TABLE gov.healthcare_db.patients").collect())
      })
    rows.toDF("scenario", "decision").orderBy("scenario")
  }

  /** The SQL governance workflow end-to-end (the reference's grant
    * commands as statements: producer_iceberg_datalake_setup.sh:221-306
    * grants with a data-cells filter and grant option; the consumer
    * admin re-scopes to team roles, consumer_emr_on_eks_setup.sh:313-335).
    * Decision matrix:
    *  1. admin GRANTs a filtered, grantable SELECT via SQL;
    *  2. the grantee's read matches the filter;
    *  3. the grantee re-GRANTs a narrowed slice (regrant law applies);
    *  4. a widening re-GRANT refuses;
    *  5. a re-GRANT by a principal without GRANT OPTION refuses;
    *  6. SHOW GRANTS lists the topology (admin-only view, fields
    *     require()d in-query);
    *  7. REVOKE cascades and kills the delegated read. */
  private val sqlGrants: Q = (s, dir) => {
    import s.implicits._
    setup(s, dir)
    // fresh grantees each run: direct registration only of EMPTY
    // principals (grants arrive via SQL below)
    Seq("sg_delegate", "sg_team", "sg_team2", "sg_team3")
      .foreach(n => SecureCatalog.register(Principal(n)))
    def attempt(scenario: String)(body: => Unit): (String, String) =
      (scenario, outcomeOf(body))
    val rows = Seq(
      attempt("1_admin_sql_grant") {
        s.sql(s"""GRANT SELECT (${VisibleCols.mkString(", ")})
                 |ON customer TO sg_delegate WITH GRANT OPTION
                 |WHERE $RowFilter""".stripMargin)
      },
      attempt("2_granted_read_matches") {
        val got = asPrincipal(s, "sg_delegate")(
          s.sql("SELECT * FROM customer ORDER BY c_custkey"))
        val expect = Tables.customer(s, dir)
          .filter(org.apache.spark.sql.functions.expr(RowFilter))
          .select(VisibleCols.map(org.apache.spark.sql.functions.col): _*)
        require(got.columns.toSeq == VisibleCols &&
            got.count() == expect.count() && got.except(expect).isEmpty,
          "SQL-granted read must equal the filtered projection")
      },
      attempt("3_narrowed_sql_regrant") {
        asPrincipal(s, "sg_delegate")(s.sql(
          "GRANT SELECT (c_custkey, c_mktsegment) ON customer TO sg_team"))
        val got = asPrincipal(s, "sg_team")(
          s.sql("SELECT * FROM customer"))
        require(got.columns.toSeq == Seq("c_custkey", "c_mktsegment"),
          "delegated read must carry the narrowed columns")
      },
      attempt("4_widened_sql_regrant") {
        asPrincipal(s, "sg_delegate")(s.sql(
          "GRANT SELECT (c_custkey, c_acctbal) ON customer TO sg_team2"))
      },
      attempt("5_regrant_without_option") {
        asPrincipal(s, "sg_team")(s.sql(
          "GRANT SELECT (c_custkey) ON customer TO sg_team3"))
      },
      attempt("6_show_grants_topology") {
        val all = s.sql("SHOW GRANTS ON customer").collect()
          .map(r => r.getString(0) ->
            (r.getString(2), r.getString(3), r.getBoolean(4), r.getString(5)))
          .toMap
        val d = all("sg_delegate")
        require(d._3 && d._4.isEmpty && d._2 == RowFilter &&
            d._1 == VisibleCols.mkString(", "),
          s"sg_delegate's grant must list filter+option, got $d")
        val t = all("sg_team")
        require(!t._3 && t._4 == "sg_delegate" && t._2 == RowFilter,
          s"sg_team's delegation must name its grantor and inherit " +
            s"the parent filter, got $t")
        // a non-admin sees only their own grant + their delegations
        val mine = asPrincipal(s, "sg_team")(
          s.sql("SHOW GRANTS ON customer")).collect().map(_.getString(0))
        require(mine.toSeq == Seq("sg_team"),
          s"a grantee must not enumerate other grants, saw " +
            mine.mkString(", "))
      },
      attempt("7_revoke_kills_read") {
        s.sql("REVOKE ALL ON customer FROM sg_delegate")
        // the cascade severed sg_team's delegation too
        require(SecureCatalog.principal("sg_team")
            .forall(!_.grants.contains("customer")),
          "revoking the grantor must cascade through their delegations")
        asPrincipal(s, "sg_team")(
          s.sql("SELECT * FROM customer").collect())
      })
    rows.toDF("scenario", "decision").orderBy("scenario")
  }

  /** Nested-field FGAC (Lake Formation nested-column data filters —
    * LF supports dotted ColumnNames into struct columns): policies
    * address ONE struct level, the same depth the lake side evolves
    * (`lake_alter_nested`). Decision matrix, require()d in-query:
    *   - a nested MASK (`info.bal`) rewrites the child IN PLACE on a
    *     whole-struct grant (UpdateFields — sibling fields untouched),
    *   - a nested ROW FILTER (`info.segment IN …`) evaluates against
    *     the raw row and prunes like any nested predicate,
    *   - a PARTIAL-STRUCT grant (`info.name`, `info.segment`, no bare
    *     `info`) rebuilds the struct from exactly the listed children
    *     — fail closed, `info.bal` is gone from schema AND data, and
    *     DESCRIBE shows only the listed paths,
    *   - re-grant narrowing: a whole-struct grantable delegates down
    *     to children, but a re-grant mask REFERENCING an undelegated
    *     child (`info.bal`) refuses — the nested exfiltration door.
    * The output is the analyst's governed read (filter + in-place
    * mask), flattened and oracled against DuckDB recomputing the
    * policy by hand. */
  private val nestedPolicy: Q = (s, dir) => {
    import org.apache.spark.sql.functions.{col, concat, lit, struct}
    import org.apache.spark.sql.types.StructType
    val customer = Tables.customer(s, dir)
    SecureCatalog.governTable("nst_customer", customer.select(
      col("c_custkey"),
      struct(col("c_name").as("name"), col("c_acctbal").as("bal"),
        col("c_mktsegment").as("segment"),
        struct(
          concat(lit("P-"), (col("c_custkey") % 1000).cast("string"))
            .as("phone"),
          concat(lit("A-"), col("c_nationkey").cast("string"))
            .as("addr")).as("contact")).as("info"),
      col("c_nationkey")))
    SecureCatalog.register(Principal("nst_analyst", grants = Map(
      "nst_customer" -> TablePolicy("nst_customer",
        rowFilter = Some("info.segment IN ('BUILDING','MACHINERY')"),
        masks = Map(
          "info.bal" -> "CAST(floor(info.bal / 1000) * 1000 AS DOUBLE)",
          // DEPTH-2 in-place mask: area code survives, number redacts;
          // the sibling leaf (contact.addr) and every depth-1 sibling
          // stay untouched without being enumerated
          "info.contact.phone" ->
            "concat(substr(info.contact.phone, 1, 3), '-***')")))))
    SecureCatalog.register(Principal("nst_steward", grants = Map(
      "nst_customer" -> TablePolicy("nst_customer", grantable = true,
        write = false))))
    SecureCatalog.regrant("nst_steward", "nst_partner", "nst_customer",
      TablePolicy("nst_customer",
        allowedColumns = Some(Seq("c_custkey", "info.name",
          "info.segment", "info.contact.addr"))))
    // partial struct at BOTH levels: exactly the listed paths exist
    val partner = asPrincipal(s, "nst_partner")(
      s.sql("SELECT * FROM nst_customer"))
    val infoT = partner.schema("info").dataType.asInstanceOf[StructType]
    require(infoT.fieldNames.toSeq == Seq("name", "segment", "contact"),
      "partial-struct grant must expose exactly the listed children")
    require(infoT("contact").dataType.asInstanceOf[StructType]
        .fieldNames.toSeq == Seq("addr"),
      "depth-2 partial grant must expose exactly the listed grandchild")
    require(partner.count() == customer.count(),
      "partner grant carries no row filter")
    require(SecureCatalog.describeColumns("nst_partner", "nst_customer")
        == Seq("c_custkey", "info.name", "info.segment",
          "info.contact.addr"),
      "DESCRIBE must show only the granted nested paths")
    // nested exfiltration door, both depths: a re-grant mask
    // referencing an undelegated child refuses
    require(outcomeOf(SecureCatalog.regrant("nst_steward", "nst_evil",
        "nst_customer", TablePolicy("nst_customer",
          allowedColumns = Some(Seq("c_custkey", "info.name")),
          masks = Map("info.name" -> "CAST(info.bal AS STRING)")))
      ) == "DENIED",
      "mask referencing an undelegated nested child must refuse")
    require(outcomeOf(SecureCatalog.regrant("nst_steward", "nst_evil",
        "nst_customer", TablePolicy("nst_customer",
          allowedColumns = Some(Seq("c_custkey", "info.contact.addr")),
          masks = Map("info.contact.addr" ->
            "concat(info.contact.phone, '')")))
      ) == "DENIED",
      "mask referencing an undelegated GRANDCHILD must refuse")
    // in-place masks keep siblings at every depth
    val analyst = asPrincipal(s, "nst_analyst")(s.sql(
      """SELECT c_custkey, info.name AS name, info.bal AS bal,
        |       info.segment AS segment,
        |       info.contact.phone AS phone, info.contact.addr AS addr
        |FROM nst_customer""".stripMargin))
    val aInfo = asPrincipal(s, "nst_analyst")(
      s.sql("SELECT * FROM nst_customer")).schema("info").dataType
      .asInstanceOf[StructType]
    require(aInfo.fieldNames.toSeq ==
        Seq("name", "bal", "segment", "contact") &&
      aInfo("contact").dataType.asInstanceOf[StructType]
        .fieldNames.toSeq == Seq("phone", "addr"),
      "whole-struct grant with nested masks keeps every sibling at " +
        "every depth")
    analyst.orderBy("c_custkey")
  }

  val queries: Map[String, Q] = Map(
    "fgac_audit_persist" -> auditPersist,
    "fgac_nested"        -> nestedPolicy,
    "fgac_context_filter" -> contextFilter,
    "fgac_ns_grant"      -> nsGrants,
    "fgac_audit_log"     -> auditLog,
    "fgac_sql_grants"    -> sqlGrants,
    "fgac_view"          -> viewDecisions,
    "fgac_grant_chain"   -> grantChain,
    "fgac_describe"      -> describeOnly,
    "fgac_show_ddl"      -> showDdl,
    "fgac_lakehouse"     -> lakehouseGoverned,
    "fgac_namespace"     -> namespaceGoverned,
    "fgac_write_deny"    -> writeDeny,
    "fgac_row_filter"    -> governedSql("analyst_row", fullScan),
    "fgac_col_filter"    -> governedSql("analyst_col", fullScan),
    "fgac_cell_filter"   -> governedSql("analyst_cell", fullScan),
    "fgac_mask"          -> governedSql("analyst_mask", fullScan),
    "fgac_join"          -> governedSql("team1", joinSql),
    "fgac_deny"          -> deny,
    "fgac_resource_link" -> governedSql("consumer",
      "SELECT * FROM rl_customer ORDER BY c_custkey"),
    "fgac_tag_policy"    -> governedSql("tag_analyst", fullScan)
  )

  val oracles: Map[String, String] = Map(
    // the persisted trail's distinct decision matrix for this
    // scenario's principals (outcomes and policy shapes are constants)
    "fgac_audit_persist" ->
      """SELECT * FROM (VALUES
        | ('ap_auditor', 'SELECT', 'ap_audit_trail', 'ALLOWED',
        |  'cols=all filter=n masks=0'),
        | ('ap_auditor', 'SELECT', 'ap_customer', 'DENIED', 'no grant'),
        | ('ap_ghost', 'SELECT', 'ap_customer', 'DENIED',
        |  'unknown principal'),
        | ('ap_reader', 'SELECT', 'ap_audit_trail', 'DENIED', 'no grant'),
        | ('ap_reader', 'SELECT', 'ap_customer', 'ALLOWED',
        |  'cols=2 filter=n masks=0'))
        | AS t(principal, action, resource, outcome, detail)
        |ORDER BY principal, action, resource, outcome, detail""".stripMargin,
    // the analyst's governed nested read, recomputed by hand: nested
    // row filter + in-place floor-to-thousand mask on info.bal
    "fgac_nested" ->
      """SELECT c_custkey, c_name AS name,
        |  CAST(floor(c_acctbal / 1000) * 1000 AS DOUBLE) AS bal,
        |  c_mktsegment AS segment,
        |  substr('P-' || CAST(c_custkey % 1000 AS VARCHAR), 1, 3)
        |    || '-***' AS phone,
        |  'A-' || CAST(c_nationkey AS VARCHAR) AS addr
        |FROM customer
        |WHERE c_mktsegment IN ('BUILDING','MACHINERY')
        |ORDER BY c_custkey""".stripMargin,
    "fgac_context_filter" ->
      """SELECT c_mktsegment AS principal, COUNT(*) AS n_rows,
        | MIN(c_custkey) AS min_custkey, MAX(c_custkey) AS max_custkey,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
        |   AS bal_sum
        |FROM customer
        |WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "fgac_audit_log" ->
      """SELECT * FROM (VALUES
        | ('aud_ghost', 'SELECT', 'aud_customer', 'DENIED',
        |  'unknown principal'),
        | ('aud_nogrants', 'SELECT', 'aud_customer', 'DENIED',
        |  'no grant'),
        | ('aud_reader', 'SELECT', 'aud_customer', 'ALLOWED',
        |  'cols=4 filter=y masks=1'),
        | ('aud_reader', 'UPDATE', 'aud_customer', 'DENIED',
        |  'no write grant'),
        | ('aud_writer', 'UPDATE', 'aud_customer', 'ALLOWED',
        |  'write grant'))
        | AS t(principal, action, resource, outcome, detail)
        |ORDER BY principal, action, outcome, detail""".stripMargin,
    // the completed metadata decision matrix: policy-shaped answers
    // for grant-holders, loud audited denials otherwise, a crisp
    // category refusal for views — the outcomes are constants
    "fgac_show_ddl" ->
      """SELECT * FROM (VALUES
        | ('1_show_create_filtered', 'ALLOWED'),
        | ('2_tblprops_grantee', 'ALLOWED'),
        | ('3_show_create_no_grant', 'DENIED'),
        | ('4_tblprops_no_grant', 'DENIED'),
        | ('5_governed_view_refuses', 'REFUSED'),
        | ('6_admin_sees_all', 'ALLOWED'))
        | AS t(scenario, decision)
        |ORDER BY scenario""".stripMargin,
    "fgac_ns_grant" ->
      """SELECT * FROM (VALUES
        | ('1_db_describe_grant', 'ALLOWED'),
        | ('2_ns_scan_denied', 'DENIED'),
        | ('3_table_grant_overrides', 'ALLOWED'),
        | ('4_ns_regrant_describe', 'ALLOWED'),
        | ('5_ns_regrant_widen', 'DENIED'),
        | ('6_ns_revoke_cascades', 'DENIED'))
        | AS t(scenario, decision)
        |ORDER BY scenario""".stripMargin,
    "fgac_sql_grants" ->
      """SELECT * FROM (VALUES
        | ('1_admin_sql_grant', 'ALLOWED'),
        | ('2_granted_read_matches', 'ALLOWED'),
        | ('3_narrowed_sql_regrant', 'ALLOWED'),
        | ('4_widened_sql_regrant', 'DENIED'),
        | ('5_regrant_without_option', 'DENIED'),
        | ('6_show_grants_topology', 'ALLOWED'),
        | ('7_revoke_kills_read', 'DENIED'))
        | AS t(scenario, decision)
        |ORDER BY scenario""".stripMargin,
    "fgac_view" ->
      """SELECT * FROM (VALUES
        | ('1_definer_view_read', 'ALLOWED'),
        | ('2_invoker_view_read', 'DENIED'),
        | ('3_governed_view_ungranted', 'DENIED'),
        | ('4_governed_view_granted_narrowed', 'ALLOWED'),
        | ('5_view_write', 'REFUSED'),
        | ('6_create_without_read', 'DENIED'),
        | ('7_ungoverned_definer_foreign', 'DENIED'),
        | ('8_ungoverned_definer_self', 'ALLOWED'))
        | AS t(scenario, decision)
        |ORDER BY scenario""".stripMargin,
    "fgac_grant_chain" ->
      """SELECT * FROM (VALUES
        | ('1_narrowed_regrant', 'ALLOWED'),
        | ('2_widened_regrant', 'DENIED'),
        | ('3_non_grantable_regrant', 'DENIED'),
        | ('4_delegated_read_matches', 'ALLOWED'))
        | AS t(scenario, decision)
        |ORDER BY scenario""".stripMargin,
    "fgac_describe" ->
      """SELECT * FROM (VALUES
        | ('c_custkey', 'bigint'),
        | ('c_name', 'string'),
        | ('c_nationkey', 'int'),
        | ('c_mktsegment', 'string'))
        | AS t(col_name, data_type)""".stripMargin,
    // The deny decision is deterministic (team2 holds no customer
    // grant), so the oracle is the constant decision row the query
    // contract promises.
    "fgac_deny" ->
      """SELECT 'team2' AS principal, 'customer' AS "table",
        | 'DENIED' AS decision""".stripMargin,
    "fgac_write_deny" ->
      """SELECT * FROM (VALUES
        | ('wd_reader', 'sql_delete', 'DENIED'),
        | ('wd_reader', 'update', 'DENIED'),
        | ('wd_writer', 'update', 'ALLOWED'))
        | AS t(principal, op, decision)
        |ORDER BY principal, op""".stripMargin,
    "fgac_row_filter" ->
      s"SELECT * FROM customer WHERE $RowFilter ORDER BY c_custkey",
    "fgac_col_filter" ->
      s"SELECT ${VisibleCols.mkString(", ")} FROM customer ORDER BY c_custkey",
    "fgac_cell_filter" ->
      s"SELECT ${VisibleCols.mkString(", ")} FROM customer WHERE $RowFilter ORDER BY c_custkey",
    "fgac_mask" ->
      """SELECT c_custkey, md5(c_name) AS c_name, c_nationkey,
        | CAST(-1.0 AS DOUBLE) AS c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "fgac_join" ->
      s"""SELECT p.c_mktsegment, c.o_orderkey, c.o_orderdate,
         | md5(p.c_name) AS c_name, c.o_totalprice, c.o_orderstatus
         |FROM orders c
         |JOIN (SELECT * FROM customer WHERE $RowFilter) p
         |  ON c.o_custkey = p.c_custkey
         |ORDER BY p.c_mktsegment, c.o_orderdate, c.o_orderkey""".stripMargin,
    "fgac_resource_link" ->
      s"SELECT * FROM customer WHERE $RowFilter ORDER BY c_custkey",
    "fgac_namespace" ->
      s"SELECT ${VisibleCols.mkString(", ")} FROM customer WHERE $RowFilter ORDER BY c_custkey",
    "fgac_tag_policy" ->
      s"""SELECT c_custkey, c_name, c_nationkey,
         | CAST(-1.0 AS DOUBLE) AS c_acctbal, c_mktsegment
         |FROM customer WHERE $RowFilter ORDER BY c_custkey""".stripMargin,
    "fgac_lakehouse" ->
      s"""SELECT c_custkey,
         | CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 50.0
         |      ELSE c_acctbal END AS c_acctbal,
         | c_mktsegment
         |FROM customer WHERE $RowFilter ORDER BY c_custkey""".stripMargin
  )
}
