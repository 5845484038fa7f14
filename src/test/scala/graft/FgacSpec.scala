package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, max}
import org.scalatest.funsuite.AnyFunSuite
import graft.fgac._

object SparkTestSession {
  lazy val spark: SparkSession = Tables.session("local[4]")
  val sf = "/root/testdata/sf0.001"
}

/** Every value a probe UDF saw, across tasks (local mode: one JVM). */
object FgacUdfProbe {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

class FgacSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  /** The rows of `df` as a sorted multiset, for order-free equality. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertSameRows(got: DataFrame, expect: DataFrame): Unit = {
    assert(got.columns.toSeq == expect.columns.toSeq)
    assert(rowsOf(got) == rowsOf(expect))
  }

  private val Visible = "c_mktsegment IN ('BUILDING','AUTOMOBILE')"

  /** `customer` as the row-filtered `consumer` grant shows it. */
  private def visibleCustomers: DataFrame =
    Tables.customer(spark, sf).filter(Visible)

  /** A predicate that divides by zero on exactly the rows the
    * `consumer` policy hides (ANSI mode raises on them). */
  private def failsOnHidden(c: String): String =
    s"1 / CASE WHEN $c IN ('BUILDING','AUTOMOBILE') THEN 1 ELSE 0 END > 0"

  private def assertDividesByZero(body: => Unit): Unit = {
    val e = intercept[Exception](body)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists {
        case t: org.apache.spark.SparkThrowable =>
          t.getCondition == "DIVIDE_BY_ZERO"
        case _ => false
      }, e)
  }

  private def withAnsi[A](body: => A): A = {
    val old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try body finally spark.conf.set("spark.sql.ansi.enabled", old)
  }

  test("row filter keeps only granted segments") {
    val df = SparkEntry.queries("fgac_row_filter")(spark, sf)
    val segs = df.select("c_mktsegment").distinct().collect().map(_.getString(0))
    assert(segs.nonEmpty && segs.forall(Set("BUILDING", "AUTOMOBILE")))
    assert(df.columns.contains("c_acctbal"), "row-only policy keeps all columns")
  }

  test("column filter hides the PII column") {
    val df = SparkEntry.queries("fgac_col_filter")(spark, sf)
    assert(df.columns.toSet == Set("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
    assert(df.count() == Tables.customer(spark, sf).count(), "no row filtering")
  }

  test("cell filter = row ∩ column") {
    val df = SparkEntry.queries("fgac_cell_filter")(spark, sf)
    assert(!df.columns.contains("c_acctbal"))
    val segs = df.select("c_mktsegment").distinct().collect().map(_.getString(0))
    assert(segs.forall(Set("BUILDING", "AUTOMOBILE")))
  }

  test("mask rewrites values, keeps schema") {
    val df = SparkEntry.queries("fgac_mask")(spark, sf)
    val row = df.filter(df("c_custkey") === 1).collect().head
    assert(row.getAs[String]("c_name").matches("[0-9a-f]{32}"))
    assert(row.getAs[Double]("c_acctbal") == -1.0)
  }

  test("governed join matches manual enforcement") {
    val df = SparkEntry.queries("fgac_join")(spark, sf)
    val expected = {
      val c = Enforcer.secure(
        Tables.customer(spark, sf),
        TablePolicy("customer",
          rowFilter = Some("c_mktsegment IN ('BUILDING','AUTOMOBILE')")),
        "team1")
      val o = Tables.orders(spark, sf)
      o.join(c, o("o_custkey") === c("c_custkey")).count()
    }
    assert(df.count() == expected && expected > 0)
  }

  test("deny-by-default for ungranted governed table") {
    val df = SparkEntry.queries("fgac_deny")(spark, sf)
    assert(df.collect().head.getAs[String]("decision") == "DENIED")
  }

  test("resource link resolves to target policy") {
    val link = SparkEntry.queries("fgac_resource_link")(spark, sf)
    val direct = SparkEntry.queries("fgac_row_filter")(spark, sf)
    assert(link.count() == direct.count() && link.count() > 0)
  }

  test("ungoverned session (no principal) sees raw data") {
    FgacQueries.setup(spark, sf)
    assert(spark.sql("SELECT * FROM customer").count() ==
      Tables.customer(spark, sf).count())
  }

  test("tag grant covers tagged tables; direct grant wins over tag") {
    val viaTag = SparkEntry.queries("fgac_tag_policy")(spark, sf)
    val row = viaTag.filter(viaTag("c_custkey").isNotNull).collect().head
    assert(row.getAs[Double]("c_acctbal") == -1.0, "tag mask applied")
    val segs = viaTag.select("c_mktsegment").distinct().collect().map(_.getString(0))
    assert(segs.forall(Set("BUILDING", "AUTOMOBILE")), "tag row filter applied")
    // a principal with BOTH a direct grant and a tag grant gets the
    // direct policy (most specific)
    FgacQueries.setup(spark, sf)
    SecureCatalog.register(Principal("both",
      grants = Map("customer" -> TablePolicy("customer")), // unrestricted
      tagGrants = Map("pii" -> TablePolicy("",
        rowFilter = Some("c_mktsegment = 'NONEXISTENT'")))))
    val n = FgacQueries.asPrincipal(spark, "both") {
      spark.sql("SELECT * FROM customer").count()
    }
    assert(n == Tables.customer(spark, sf).count(),
      "direct grant must take precedence over tag grant")
  }

  test("namespace-qualified names are governed: link read + deny") {
    // fgac_namespace empties itself if the ungranted-namespace probe
    // was NOT denied, so nonEmpty proves both paths.
    val df = SparkEntry.queries("fgac_namespace")(spark, sf)
    assert(df.columns.toSet ==
      Set("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
    val segs = df.select("c_mktsegment").distinct().collect().map(_.getString(0))
    assert(segs.nonEmpty && segs.forall(Set("BUILDING", "AUTOMOBILE")))
    // direct qualified read (not via link) is enforced too
    val n = FgacQueries.asPrincipal(spark, "ns_consumer") {
      spark.sql("SELECT * FROM gov.healthcare_db.patients").count()
    }
    assert(n == df.count())
  }

  test("write-path FGAC: read grant does not imply write grant") {
    val rows = SparkEntry.queries("fgac_write_deny")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq == Seq(
      ("wd_reader", "sql_delete", "DENIED"),
      ("wd_reader", "update", "DENIED"),
      ("wd_writer", "update", "ALLOWED")))
    // and the reader's read-side policy still filters
    val filtered = FgacQueries.asPrincipal(spark, "wd_reader") {
      spark.sql("SELECT * FROM wd_customer")
        .select("c_mktsegment").distinct().collect().map(_.getString(0))
    }
    assert(filtered.nonEmpty && filtered.forall(Set("BUILDING", "AUTOMOBILE")))
    // merge-on-read delete is still a DELETE for authorization
    spark.sql("ALTER TABLE wd_customer SET TBLPROPERTIES " +
      "('write.delete.mode'='merge-on-read')")
    val e = intercept[Exception](FgacQueries.asPrincipal(spark, "wd_reader") {
      spark.sql("DELETE FROM wd_customer WHERE c_custkey = 1")
    })
    assert(e.getMessage.contains("no write grant"))
  }

  test("DROP TABLE goes through write-path FGAC") {
    SparkEntry.queries("fgac_write_deny")(spark, sf).collect() // sets up wd_customer
    val e = intercept[Exception](FgacQueries.asPrincipal(spark, "wd_reader") {
      spark.sql("DROP TABLE wd_customer PURGE")
    })
    assert(e.getMessage.contains("no write grant"),
      s"read-only principal must not drop a governed table: $e")
    assert(graft.lakehouse.LakeRegistry.get("wd_customer").isDefined,
      "denied DROP must leave the table registered")
    FgacQueries.asPrincipal(spark, "wd_writer") {
      spark.sql("DROP TABLE wd_customer")
    }
    assert(graft.lakehouse.LakeRegistry.get("wd_customer").isEmpty)
  }

  test("maintenance and ALTER SQL go through write-path FGAC") {
    SparkEntry.queries("fgac_write_deny")(spark, sf).collect() // wd_customer
    spark.sql("ALTER TABLE wd_customer SET TBLPROPERTIES " +
      "('write.delete.mode'='merge-on-read')")
    val t = graft.lakehouse.LakeRegistry.get("wd_customer").get
    // one denied statement per write op on the governed lake table:
    // refused, audited under the op's name, and nothing committed
    for ((op, stmt) <- Seq(
        "INSERT" -> ("INSERT INTO wd_customer " +
          "SELECT * FROM wd_customer WHERE c_custkey = 1"),
        "UPDATE" -> "UPDATE wd_customer SET c_acctbal = 0.0 WHERE c_custkey = 1",
        "DELETE" -> "DELETE FROM wd_customer WHERE c_custkey = 1",
        "MERGE" -> ("MERGE INTO wd_customer t USING (SELECT 1L AS k) s " +
          "ON t.c_custkey = s.k WHEN MATCHED THEN DELETE"),
        "OPTIMIZE" -> "OPTIMIZE wd_customer FILES 2",
        "VACUUM" -> "VACUUM wd_customer RETAIN 1 SNAPSHOTS",
        "ALTER" -> "ALTER TABLE wd_customer ADD COLUMNS (note STRING)")) {
      val (snap, seen) = (t.currentSnapshotId, AuditLog.entries.size)
      val e = intercept[Exception](FgacQueries.asPrincipal(spark, "wd_reader") {
        spark.sql(stmt)
      })
      assert(e.getMessage.contains("no write grant"),
        s"read-only principal must be denied: $stmt → $e")
      assert(AuditLog.entries.drop(seen).exists(a =>
        a.principal == "wd_reader" && a.action.startsWith(op) &&
          a.resource == "wd_customer" && a.outcome == "DENIED"),
        s"the denied $op must be audited")
      assert(t.currentSnapshotId == snap, s"a denied $op must not commit")
    }
    FgacQueries.asPrincipal(spark, "wd_writer") {
      spark.sql("OPTIMIZE wd_customer FILES 2")
    }
    assert(graft.lakehouse.LakeRegistry.get("wd_customer").get
      .currentSnapshot.op == "compact")
  }

  test("a governed lake name follows its commits: INSERT, MERGE, " +
      "merge-on-read DELETE and OPTIMIZE show through the name and a " +
      "resource link") {
    val loc = java.nio.file.Files.createTempDirectory("graft_pin").toString
    spark.sql(s"""CREATE TABLE pin_t (k BIGINT, v STRING) USING graft
                 |LOCATION '$loc'
                 |TBLPROPERTIES ('write.delete.mode'='merge-on-read')""".stripMargin)
    spark.sql("INSERT INTO pin_t VALUES (1, 'a')")
    SecureCatalog.governTable("pin_t", spark.table("pin_t"))
    SecureCatalog.register(Principal("pin_reader",
      grants = Map("pin_t" -> TablePolicy("pin_t")),
      links = Map("rl_pin_t" -> "pin_t")))
    SecureCatalog.register(Principal("pin_writer",
      grants = Map("pin_t" -> TablePolicy("pin_t", write = true))))
    def count(who: String, name: String): Long =
      FgacQueries.asPrincipal(spark, who)(
        spark.sql(s"SELECT count(*) FROM $name").head.getLong(0))
    // admin, a read grant on the name, and the same grant via a link
    def counts: Seq[Long] = Seq(count("", "pin_t"),
      count("pin_reader", "pin_t"), count("pin_reader", "rl_pin_t"))
    def write(stmt: String): Unit =
      FgacQueries.asPrincipal(spark, "pin_writer")(spark.sql(stmt))
    try {
      write("INSERT INTO pin_t VALUES (2, 'b')")
      assert(counts == Seq(2L, 2L, 2L), "after INSERT")
      write("""MERGE INTO pin_t t USING (SELECT 3L AS k, 'c' AS v) s
              |ON t.k = s.k WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(counts == Seq(3L, 3L, 3L), "after MERGE")
      write("DELETE FROM pin_t WHERE k = 1")
      assert(counts == Seq(2L, 2L, 2L), "after merge-on-read DELETE")
      write("OPTIMIZE pin_t")
      assert(counts == Seq(2L, 2L, 2L), "after OPTIMIZE")
      // the reads scan the compacted snapshot's files, not older ones
      val live = graft.lakehouse.LakeRegistry.get("pin_t").get
        .currentSnapshot.files.size
      Seq("" -> "pin_t", "pin_reader" -> "pin_t", "pin_reader" -> "rl_pin_t")
        .foreach { case (who, name) =>
          assert(FgacQueries.asPrincipal(spark, who)(
            spark.sql(s"SELECT * FROM $name").inputFiles.length) == live,
            s"$who reading $name after OPTIMIZE")
        }
    } finally {
      SecureCatalog.ungovern("pin_t")
      spark.sql("DROP TABLE pin_t")
    }
  }

  test("time travel on a governed lake name and its link resolves " +
      "under the reader's policy, audited; a DataFrame-backed governed " +
      "name refuses naming it") {
    val loc = java.nio.file.Files.createTempDirectory("graft_gtt").toString
    spark.sql(s"CREATE TABLE gtt_t (k BIGINT, secret STRING) USING graft " +
      s"LOCATION '$loc'")
    spark.sql("INSERT INTO gtt_t VALUES (1, 'x')")
    val t = graft.lakehouse.LakeRegistry.get("gtt_t").get
    val first = t.currentSnapshotId
    t.createTag("first")
    Thread.sleep(5)
    spark.sql("INSERT INTO gtt_t VALUES (2, 'y'), (-3, 'z')")
    val cutoff = java.time.Instant.ofEpochMilli(t.snapshot(t.currentSnapshotId).ts - 1)
      .atZone(java.time.ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone))
      .toLocalDateTime.toString.replace('T', ' ')
    SecureCatalog.governTable("gtt_t", spark.table("gtt_t"))
    SecureCatalog.register(Principal("gtt_reader",
      grants = Map("gtt_t" -> TablePolicy("gtt_t", rowFilter = Some("k > 0"),
        allowedColumns = Some(Seq("k")))),
      links = Map("rl_gtt_t" -> "gtt_t")))
    SecureCatalog.register(Principal("gtt_none"))
    SecureCatalog.governTable("gtt_df", spark.range(3).toDF("id"))
    try {
      def read(who: String, sql: String): Seq[String] =
        FgacQueries.asPrincipal(spark, who)(rowsOf(spark.sql(sql)))
      for (name <- Seq("gtt_t", "rl_gtt_t")) {
        for (travel <- Seq(s"VERSION AS OF $first", "VERSION AS OF 'first'",
            s"TIMESTAMP AS OF '$cutoff'")) {
          val seen = AuditLog.entries.size
          assert(read("gtt_reader", s"SELECT * FROM $name $travel") ==
            Seq("[1]"), s"$name $travel")
          assert(AuditLog.entries.drop(seen).exists(a =>
            a.principal == "gtt_reader" && a.action == "SELECT" &&
              a.resource == "gtt_t" && a.outcome == "ALLOWED"),
            s"$name $travel must be audited")
        }
        // the policy still applies at the current snapshot
        assert(read("gtt_reader", s"SELECT * FROM $name") == Seq("[1]", "[2]"))
        val seen = AuditLog.entries.size
        intercept[AccessDeniedException](
          read("gtt_none", s"SELECT * FROM $name VERSION AS OF $first"))
        assert(AuditLog.entries.drop(seen).exists(a =>
          a.principal == "gtt_none" && a.outcome == "DENIED"))
      }
      // the admin session travels without a policy
      assert(read("", s"SELECT * FROM gtt_t VERSION AS OF $first") ==
        Seq("[1,x]"))
      val e = intercept[UnsupportedOperationException](
        spark.sql("SELECT * FROM gtt_df VERSION AS OF 1").collect())
      assert(e.getMessage.contains("'gtt_df'"), e.getMessage)
    } finally {
      Seq("gtt_t", "gtt_df").foreach(SecureCatalog.ungovern)
      spark.sql("DROP TABLE gtt_t")
    }
  }

  test("a branch_/tag_ suffix on a governed lake name resolves the ref " +
      "under the reader's policy, audited; a wrong-kind suffix refuses") {
    val loc = java.nio.file.Files.createTempDirectory("graft_gbr").toString
    spark.sql(s"CREATE TABLE gbr_t (k BIGINT, secret STRING) USING graft " +
      s"LOCATION '$loc'")
    spark.sql("INSERT INTO gbr_t VALUES (-1, 'x')")
    val t = graft.lakehouse.LakeRegistry.get("gbr_t").get
    t.createTag("first")
    t.createBranch("dev")
    t.onBranch("dev").append(spark.createDataFrame(Seq((2L, "y"), (3L, "z")))
      .toDF("k", "secret"))
    SecureCatalog.governTable("gbr_t", spark.table("gbr_t"))
    SecureCatalog.register(Principal("gbr_reader",
      grants = Map("gbr_t" -> TablePolicy("gbr_t", rowFilter = Some("k > 2"),
        allowedColumns = Some(Seq("k"))))))
    SecureCatalog.register(Principal("gbr_none"))
    try {
      def read(who: String, sql: String): Seq[String] =
        FgacQueries.asPrincipal(spark, who)(rowsOf(spark.sql(sql)))
      assert(read("", "SELECT count(*) FROM gbr_t.branch_dev") == Seq("[3]"))
      assert(read("", "SELECT * FROM gbr_t.tag_first") == Seq("[-1,x]"))
      assert(read("", "SELECT * FROM gbr_t") == Seq("[-1,x]"),
        "main is unchanged by the branch write")
      val seen = AuditLog.entries.size
      assert(read("gbr_reader", "SELECT * FROM gbr_t.branch_dev") == Seq("[3]"))
      assert(AuditLog.entries.drop(seen).exists(a =>
        a.principal == "gbr_reader" && a.action == "SELECT" &&
          a.resource == "gbr_t" && a.outcome == "ALLOWED"))
      val seen2 = AuditLog.entries.size
      intercept[AccessDeniedException](
        read("gbr_none", "SELECT * FROM gbr_t.branch_dev"))
      assert(AuditLog.entries.drop(seen2).exists(a =>
        a.principal == "gbr_none" && a.outcome == "DENIED"))
      val e = intercept[IllegalArgumentException](
        read("", "SELECT * FROM gbr_t.branch_first"))
      assert(e.getMessage.contains("is a tag"), e.getMessage)
    } finally {
      SecureCatalog.ungovern("gbr_t")
      spark.sql("DROP TABLE gbr_t")
    }
  }

  test("ALTER TABLE ADD COLUMNS through a governed lake name: all-column " +
      "and mask-only grants see the new column, a column-listed grant " +
      "does not") {
    val loc = java.nio.file.Files.createTempDirectory("graft_gsch").toString
    spark.sql(s"CREATE TABLE gsch_t (k BIGINT, v STRING) USING graft " +
      s"LOCATION '$loc'")
    spark.sql("INSERT INTO gsch_t VALUES (1, 'a')")
    SecureCatalog.governTable("gsch_t", spark.table("gsch_t"))
    SecureCatalog.register(Principal("gsch_all",
      grants = Map("gsch_t" -> TablePolicy("gsch_t", write = true))))
    SecureCatalog.register(Principal("gsch_mask",
      grants = Map("gsch_t" -> TablePolicy("gsch_t",
        masks = Map("v" -> "'***'")))))
    SecureCatalog.register(Principal("gsch_cols",
      grants = Map("gsch_t" -> TablePolicy("gsch_t",
        allowedColumns = Some(Seq("k", "v"))))))
    def as[A](who: String)(body: => A): A =
      FgacQueries.asPrincipal(spark, who)(body)
    try {
      as("gsch_all")(spark.sql("ALTER TABLE gsch_t ADD COLUMNS (note STRING)"))
      for ((who, cols) <- Seq("gsch_all" -> Seq("k", "v", "note"),
          "gsch_mask" -> Seq("k", "v", "note"), "gsch_cols" -> Seq("k", "v"))) {
        assert(as(who)(spark.sql("DESCRIBE TABLE gsch_t").collect()
          .map(_.getString(0)).toSeq) == cols, s"DESCRIBE as $who")
        assert(as(who)(spark.sql("SELECT * FROM gsch_t").columns.toSeq) ==
          cols, s"SELECT * as $who")
      }
      assert(as("gsch_all")(spark.sql("DESCRIBE TABLE gsch_t").collect())
        .exists(r => r.getString(0) == "note" && r.getString(1) == "string"))
    } finally {
      SecureCatalog.ungovern("gsch_t")
      spark.sql("DROP TABLE gsch_t")
    }
  }

  test("grant-option delegation: narrow-only regrant, chain composes " +
      "filters and masks, decision matrix matches") {
    val df = SparkEntry.queries("fgac_grant_chain")(spark, sf)
    val got = df.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(
      ("1_narrowed_regrant", "ALLOWED"),
      ("2_widened_regrant", "DENIED"),
      ("3_non_grantable_regrant", "DENIED"),
      ("4_delegated_read_matches", "ALLOWED")))
    // masks INHERIT through the chain: a parent mask survives a
    // re-grant that does not mention it
    FgacQueries.setup(spark, sf)
    SecureCatalog.register(Principal("gcm_admin", grants = Map(
      "customer" -> TablePolicy("customer",
        masks = Map("c_name" -> "md5(c_name)"), grantable = true))))
    SecureCatalog.regrant("gcm_admin", "gcm_team", "customer",
      TablePolicy("customer", allowedColumns = Some(Seq("c_custkey", "c_name"))))
    val masked = FgacQueries.asPrincipal(spark, "gcm_team")(
      spark.sql("SELECT * FROM customer ORDER BY c_custkey LIMIT 5"))
      .collect()
    assert(masked.forall(_.getString(1).matches("[0-9a-f]{32}")),
      "the delegated view must keep the parent's mask")
    // a DESCRIBE-only parent cannot delegate SELECT
    SecureCatalog.register(Principal("gcd_admin", grants = Map(
      "customer" -> TablePolicy("customer", grantable = true,
        selectable = false))))
    intercept[AccessDeniedException](
      SecureCatalog.regrant("gcd_admin", "gcd_team", "customer",
        TablePolicy("customer")))
    // a re-grant may not REPLACE a delegated mask (unmasking door)…
    intercept[AccessDeniedException](
      SecureCatalog.regrant("gcm_admin", "gcm_team2", "customer",
        TablePolicy("customer", masks = Map("c_name" -> "c_name"))))
    // …nor mask a visible column with an expression smuggling an
    // undelegated one (masks evaluate against the RAW row)
    SecureCatalog.register(Principal("gce_admin", grants = Map(
      "customer" -> TablePolicy("customer",
        allowedColumns = Some(Seq("c_custkey", "c_name")),
        grantable = true))))
    intercept[AccessDeniedException](
      SecureCatalog.regrant("gce_admin", "gce_team", "customer",
        TablePolicy("customer", masks =
          Map("c_name" -> "cast(c_acctbal as string)"))))
    // …nor displace a DIRECT grant or another grantor's delegation
    SecureCatalog.register(Principal("gcx_team", grants = Map(
      "customer" -> TablePolicy("customer"))))
    intercept[AccessDeniedException](
      SecureCatalog.regrant("gcm_admin", "gcx_team", "customer",
        TablePolicy("customer", allowedColumns = Some(Seq("c_custkey")))))
    // re-running the SAME delegation refreshes it (idempotent)
    SecureCatalog.regrant("gcm_admin", "gcm_team", "customer",
      TablePolicy("customer", allowedColumns = Some(Seq("c_custkey", "c_name"))))
    // case-variant request names canonicalize to the governed column
    // case — the mask must actually FIRE at scan time (exact-case
    // Map lookups), not just pass the case-insensitive checks
    SecureCatalog.register(Principal("gcc_admin", grants = Map(
      "customer" -> TablePolicy("customer", grantable = true))))
    SecureCatalog.regrant("gcc_admin", "gcc_team", "customer",
      TablePolicy("customer",
        allowedColumns = Some(Seq("C_CUSTKEY", "C_ACCTBAL")),
        masks = Map("C_ACCTBAL" -> "CAST(-1.0 AS DOUBLE)")))
    val ccMasked = FgacQueries.asPrincipal(spark, "gcc_team")(
      spark.sql("SELECT * FROM customer LIMIT 5")).collect()
    assert(ccMasked.nonEmpty && ccMasked.forall(_.getDouble(1) == -1.0),
      "case-variant re-grant mask must fire at scan time")
    // a tag-granted grantable policy can delegate (the LF-Tags model)
    SecureCatalog.register(Principal("gct_admin", tagGrants = Map(
      "pii" -> TablePolicy("",
        rowFilter = Some("c_mktsegment IN ('BUILDING','AUTOMOBILE')"),
        grantable = true))))
    SecureCatalog.regrant("gct_admin", "gct_team", "customer",
      TablePolicy("customer", allowedColumns = Some(Seq("c_custkey"))))
    assert(SecureCatalog.principal("gct_team")
      .exists(_.grants.contains("customer")))
    // a requested ROW FILTER gets the same reference scoping as masks:
    // it evaluates against the RAW row, so a grantor referencing a
    // column they never held would probe its values through
    // row-membership on a puppet grantee (the r11 ADVICE channel)
    intercept[AccessDeniedException](
      SecureCatalog.regrant("gce_admin", "gcrf_team", "customer",
        TablePolicy("customer",
          rowFilter = Some("c_acctbal > 5000"))))
    // …an unparseable filter refuses rather than shipping
    intercept[AccessDeniedException](
      SecureCatalog.regrant("gce_admin", "gcrf_team", "customer",
        TablePolicy("customer", rowFilter = Some("c_custkey >"))))
    // …but filtering on a column the GRANTOR holds is fine even when
    // the CHILD's column set is narrowed past it
    SecureCatalog.regrant("gce_admin", "gcrf_team", "customer",
      TablePolicy("customer", rowFilter = Some("c_name LIKE 'A%'"),
        allowedColumns = Some(Seq("c_custkey"))))
    assert(SecureCatalog.principal("gcrf_team")
      .exists(_.grants("customer").rowFilter.exists(_.contains("c_name"))))
    // SUBQUERIES in policy expressions refuse outright: attributes
    // inside the subquery PLAN escape reference collection, so
    // `EXISTS (SELECT … WHERE ssn LIKE …)` would smuggle an
    // undelegated reference past the scope check
    intercept[AccessDeniedException](
      SecureCatalog.regrant("gce_admin", "gcsq_team", "customer",
        TablePolicy("customer", rowFilter =
          Some("EXISTS (SELECT 1 WHERE c_acctbal > 0)"))))
    intercept[AccessDeniedException](
      SecureCatalog.regrant("gce_admin", "gcsq_team", "customer",
        TablePolicy("customer", masks =
          Map("c_name" -> "(SELECT max(c_acctbal) FROM customer)"))))
  }

  test("SQL GRANT/REVOKE/SHOW GRANTS: decision matrix, direct-grant " +
      "permissions mapping, unknown perms refuse") {
    val got = SparkEntry.queries("fgac_sql_grants")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(
      "1_admin_sql_grant" -> "ALLOWED",
      "2_granted_read_matches" -> "ALLOWED",
      "3_narrowed_sql_regrant" -> "ALLOWED",
      "4_widened_sql_regrant" -> "DENIED",
      "5_regrant_without_option" -> "DENIED",
      "6_show_grants_topology" -> "ALLOWED",
      "7_revoke_kills_read" -> "DENIED"))
    // permission mapping: INSERT grants write without read; DESCRIBE
    // alone is schema-only; unknown permission refuses at parse
    FgacQueries.setup(spark, sf)
    spark.sql("GRANT INSERT ON customer TO sq_writer")
    val wpol = SecureCatalog.principal("sq_writer").get.grants("customer")
    assert(wpol.write && !wpol.selectable)
    spark.sql("GRANT DESCRIBE ON customer TO sq_desc")
    val dpol = SecureCatalog.principal("sq_desc").get.grants("customer")
    assert(!dpol.write && !dpol.selectable && !dpol.grantable)
    // SHOW GRANTS renders the honest capability set — a write-only
    // grant is WRITE, not an invented DESCRIBE+WRITE
    val shown = spark.sql("SHOW GRANTS ON customer").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown("sq_writer") == "WRITE" && shown("sq_desc") == "DESCRIBE")
    intercept[Exception](spark.sql("GRANT FROBNICATE ON customer TO x"))
    // GRANT on an ungoverned name fails loudly in the command
    intercept[Exception](spark.sql("GRANT SELECT ON nope TO x"))
    // the ADMIN path validates at GRANT time, not at the grantee's
    // first read: bad column, bad filter, filter subquery all refuse
    intercept[Exception](spark.sql(
      "GRANT SELECT (no_such_col) ON customer TO x"))
    intercept[Exception](spark.sql(
      "GRANT SELECT ON customer TO x WHERE c_custkey >"))
    intercept[Exception](spark.sql(
      "GRANT SELECT ON customer TO x WHERE EXISTS (SELECT 1)"))
    assert(SecureCatalog.principal("x").forall(
      !_.grants.contains("customer")))
    // SHOW GRANTS FOR: the per-principal audit view — admin sees
    // anyone, a principal only themselves
    val mine = spark.sql("SHOW GRANTS FOR sq_writer").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(mine.toSeq == Seq(("customer", "table", "WRITE")))
    val self = FgacQueries.asPrincipal(spark, "sq_writer")(
      spark.sql("SHOW GRANTS FOR sq_writer")).collect()
    assert(self.length == 1)
    intercept[AccessDeniedException](
      FgacQueries.asPrincipal(spark, "sq_desc")(
        spark.sql("SHOW GRANTS FOR sq_writer").collect()))
    // a non-admin REVOKE of a grant they did not make refuses
    intercept[AccessDeniedException](FgacQueries.asPrincipal(spark, "sq_desc")(
      spark.sql("REVOKE ALL ON customer FROM sq_writer")))
    spark.sql("REVOKE ALL ON customer FROM sq_writer")
    assert(SecureCatalog.principal("sq_writer")
      .forall(!_.grants.contains("customer")))
  }

  test("namespace grants: decision matrix, link-namespace coverage, " +
      "permission-only law, SHOW GRANTS ON NAMESPACE") {
    val got = SparkEntry.queries("fgac_ns_grant")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(
      "1_db_describe_grant" -> "ALLOWED",
      "2_ns_scan_denied" -> "DENIED",
      "3_table_grant_overrides" -> "ALLOWED",
      "4_ns_regrant_describe" -> "ALLOWED",
      "5_ns_regrant_widen" -> "DENIED",
      "6_ns_revoke_cascades" -> "DENIED"))
    // a namespace grant on the CONSUMER database covers a resource
    // link living in it (the queried name's prefix matches, even
    // though the resolved target lives elsewhere)
    FgacQueries.setup(spark, sf)
    SecureCatalog.register(Principal("nsl_user",
      links = Map("dev.links_db.rl_customer" -> "customer")))
    spark.sql("GRANT SELECT ON NAMESPACE dev.links_db TO nsl_user")
    val n = FgacQueries.asPrincipal(spark, "nsl_user")(
      spark.sql("SELECT * FROM dev.links_db.rl_customer")).count()
    assert(n == Tables.customer(spark, sf).count(),
      "an unfiltered namespace SELECT grant must read the full link")
    // SHOW GRANTS ON NAMESPACE lists the topology for the admin
    val shown = spark.sql("SHOW GRANTS ON NAMESPACE dev.links_db")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown("nsl_user") == "SELECT")
    // namespace grants are permission-only — filters refuse
    intercept[IllegalArgumentException](SecureCatalog.nsGrantDirect(
      "nsl_user", "dev.links_db",
      TablePolicy("dev.links_db", rowFilter = Some("1=1"))))
    // a typo'd namespace fails at GRANT time, not at first query
    intercept[Exception](spark.sql(
      "GRANT SELECT ON NAMESPACE dev.links_bd TO nsl_user"))
    spark.sql("REVOKE ALL ON NAMESPACE dev.links_db FROM nsl_user")
    assert(SecureCatalog.principal("nsl_user")
      .forall(_.nsGrants.isEmpty))
  }

  test("DESCRIBE permission is separate from SELECT") {
    val df = SparkEntry.queries("fgac_describe")(spark, sf)
    val cols = df.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(cols == Map("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_mktsegment" -> "string"),
      s"DESCRIBE-only principal sees the filtered schema, got $cols")
    // a SELECT-granted principal's DESCRIBE is filtered the same way
    val viaSelect = FgacQueries.asPrincipal(spark, "analyst_col")(
      spark.sql("DESCRIBE TABLE customer")).collect().map(_.getString(0))
    assert(!viaSelect.contains("c_acctbal"))
    // no grant at all: DESCRIBE denies too
    val denied =
      try {
        FgacQueries.asPrincipal(spark, "team2")(
          spark.sql("DESCRIBE TABLE customer").collect())
        false
      } catch { case t: Throwable =>
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[AccessDeniedException])
      }
    assert(denied, "ungranted DESCRIBE must deny")
  }

  test("catalog SQL never leaks a governed name: DESCRIBE stays " +
      "policy-filtered under lake registration, SHOW PARTITIONS " +
      "refuses, SHOW TABLES gates the listing per grant") {
    FgacQueries.setup(spark, sf)
    // register a lake table UNDER the governed name — the worst case:
    // the lake DESCRIBE path must still defer to the policy
    val t = graft.lakehouse.GraftTable.create(spark,
      java.nio.file.Files.createTempDirectory("graft_govcat").toString,
      Tables.customer(spark, sf))
    graft.lakehouse.LakeRegistry.register("customer", t)
    try {
      val cols = FgacQueries.asPrincipal(spark, "analyst_col")(
        spark.sql("DESCRIBE TABLE customer").collect())
        .map(_.getString(0))
      assert(!cols.contains("c_acctbal"),
        "lake registration must not leak the ungoverned schema")
      // partition values are data: refuse for any principal
      val e = intercept[AccessDeniedException](
        spark.sql("SHOW PARTITIONS customer"))
      assert(e.getMessage.contains("governed"))
      // listing is grant-gated: no grant = the name simply absent;
      // a granted principal sees it; the suppressed lake row never
      // reappears as an ungoverned entry
      val ungranted = FgacQueries.asPrincipal(spark, "team2")(
        spark.sql("SHOW TABLES").collect()).map(_.getString(1))
      assert(!ungranted.contains("customer"))
      val granted = FgacQueries.asPrincipal(spark, "analyst_col")(
        spark.sql("SHOW TABLES").collect())
        .filter(_.getString(1) == "customer")
      assert(granted.size == 1,
        "a granted principal must see the governed name exactly once")
    } finally graft.lakehouse.LakeRegistry.unregister("customer")
  }

  test("path-access boundary: a principal-bearing session cannot " +
      "stream a governed root by storage path (read, write, or " +
      "schema probe); principal-less sessions and ungoverned roots " +
      "pass") {
    import org.apache.spark.sql.streaming.Trigger
    FgacQueries.setup(spark, sf)
    val t = graft.lakehouse.GraftTable.create(spark,
      java.nio.file.Files.createTempDirectory("graft_pathgov").toString,
      Tables.customer(spark, sf))
    graft.lakehouse.LakeRegistry.register("customer", t)
    try {
      // source side: the denial fires at the schema probe — before
      // any stream exists, nothing about the table is disclosed
      val e = intercept[AccessDeniedException](
        FgacQueries.asPrincipal(spark, "analyst_col") {
          spark.readStream.format("graft-lake").load(t.location)
        })
      assert(e.getMessage.contains("by storage path"), e.getMessage)
      // scheme aliasing must not slip past the deny: file:/x and /x
      // name the same local root (the comparison is path-component)
      val bare = new org.apache.hadoop.fs.Path(t.location).toUri.getPath
      for (alias <- Seq(s"file:$bare", bare, s"file://$bare")) {
        val ea = intercept[AccessDeniedException](
          FgacQueries.asPrincipal(spark, "analyst_col") {
            spark.readStream.format("graft-lake").load(alias)
          })
        assert(ea.getMessage.contains("by storage path"),
          s"alias '$alias' must deny: ${ea.getMessage}")
      }
      // a SUBPATH of the governed root is the same storage (round
      // 19: prefix matching on the normalized path) — `<root>/data`
      // must not slip the deny, nor a trailing-slash spelling
      for (sub <- Seq(s"$bare/data", s"file:$bare/data", s"$bare/")) {
        val es = intercept[AccessDeniedException](
          FgacQueries.asPrincipal(spark, "analyst_col") {
            spark.readStream.format("graft-lake").load(sub)
          })
        assert(es.getMessage.contains("by storage path"),
          s"subpath '$sub' must deny: ${es.getMessage}")
      }
      // …but a SIBLING sharing the prefix as a string (not as a path
      // component) is different storage: no deny from this boundary
      // (it fails later as "no graft table", never as access denied)
      val sib = intercept[Exception](
        FgacQueries.asPrincipal(spark, "analyst_col") {
          spark.readStream.format("graft-lake").load(bare + "2")
        })
      assert(!sib.isInstanceOf[AccessDeniedException],
        s"a sibling root must not be denied: $sib")
      // sink side: path-addressed writes bypass checkWrite — denied
      // at stream construction, wrapped or not
      val src = graft.lakehouse.GraftTable.create(spark,
        java.nio.file.Files.createTempDirectory("graft_pathsrc").toString,
        Tables.customer(spark, sf))
      val eo = intercept[Exception](
        FgacQueries.asPrincipal(spark, "analyst_col") {
          val q = spark.readStream.format("graft-lake")
            .load(src.location)
            .writeStream.format("graft-lake")
            .option("checkpointLocation", java.nio.file.Files
              .createTempDirectory("graft_pathgov_ck").toString)
            .trigger(Trigger.AvailableNow())
            .start(t.location)
          q.awaitTermination()
        })
      assert(Iterator.iterate(eo: Throwable)(_.getCause)
        .takeWhile(_ != null).exists(x =>
          String.valueOf(x.getMessage).contains("by storage path")),
        s"got: $eo")
      // the denials are in the audit trail
      assert(AuditLog.entries.exists(d => d.principal == "analyst_col"
        && d.action == "PATH_LOAD" && d.outcome == "DENIED"))
      // an UNGOVERNED root passes for the same principal (nothing to
      // bypass), and a PRINCIPAL-LESS session — the
      // storage-credential holder — passes on the governed root (the
      // Lakeguard boundary: raw path access belongs to storage ACLs)
      FgacQueries.asPrincipal(spark, "analyst_col") {
        spark.readStream.format("graft-lake").load(src.location)
      }
      val qn = "pathgov_admin"
      val q = spark.readStream.format("graft-lake").load(t.location)
        .writeStream.format("memory").queryName(qn)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(spark.table(qn).count() == t.read().count())
    } finally graft.lakehouse.LakeRegistry.unregister("customer")
  }

  test("path-door adoption: register_table/migrate/add_files cannot " +
      "alias a governed root (or its data dir) under a fresh " +
      "ungoverned name; ancestors_of refuses governed names") {
    FgacQueries.setup(spark, sf)
    val t = graft.lakehouse.GraftTable.create(spark,
      java.nio.file.Files.createTempDirectory("graft_pathdoor").toString,
      Tables.customer(spark, sf))
    graft.lakehouse.LakeRegistry.register("customer", t)
    val fresh = graft.lakehouse.GraftTable.create(spark,
      java.nio.file.Files.createTempDirectory("graft_pathdoor2").toString,
      Tables.nation(spark, sf))
    try {
      val root = t.location
      // a principal-bearing session CALLing the adoption procedures
      // at a governed root (or a subpath of it) is the path-door
      // bypass: the fresh ungoverned name would read policy-free
      for ((sql, op) <- Seq(
          ("CALL graft.system.register_table(table => 'pd.alias1', " +
            s"location => '$root')", "REGISTER_TABLE"),
          ("CALL graft.system.migrate(table => 'pd.alias2', " +
            s"source_dir => '$root/data')", "MIGRATE"),
          ("CALL graft.system.add_files(table => 'pd.sink', " +
            s"source_dir => '$root/data')", "ADD_FILES"))) {
        graft.lakehouse.LakeRegistry.unregister("pd.alias1")
        graft.lakehouse.LakeRegistry.unregister("pd.alias2")
        graft.lakehouse.LakeRegistry.unregister("pd.sink")
        if (op == "ADD_FILES")
          graft.lakehouse.LakeRegistry.register("pd.sink", fresh)
        val e = intercept[Exception](
          FgacQueries.asPrincipal(spark, "analyst_col") {
            spark.sql(sql)
          })
        assert(Iterator.iterate(e: Throwable)(_.getCause)
          .takeWhile(_ != null).exists(x =>
            String.valueOf(x.getMessage).contains("by storage path")),
          s"$op must deny the governed root: $e")
        assert(AuditLog.entries.exists(d =>
            d.principal == "analyst_col" && d.action == op &&
            d.outcome == "DENIED"),
          s"$op denial must land in the audit trail")
      }
      // the PRINCIPAL-LESS credential holder may still register the
      // same root under a fresh name (the Lakeguard boundary —
      // storage ACLs own raw path access)
      graft.lakehouse.LakeRegistry.unregister("pd.alias3")
      spark.sql("CALL graft.system.register_table(" +
        s"table => 'pd.alias3', location => '$root')")
      assert(spark.sql("SELECT count(*) FROM pd.alias3")
        .head.getLong(0) == t.read().count())
      graft.lakehouse.LakeRegistry.unregister("pd.alias3")
      // ancestors_of: snapshot ids + commit timestamps of a governed
      // table are commit-rate disclosure with no policy seam —
      // refused like create_changelog_view (DESCRIBE is the audited
      // surface)
      val ea = intercept[Exception](spark.sql(
        "CALL graft.system.ancestors_of('customer')"))
      assert(ea.getMessage.contains("governed"), ea.getMessage)
      // a ref-suffixed identifier on a governed prefix resolves under
      // the reader's policy: it never hands a principal the branch
      // head policy-free
      def asCol(sql: String) = FgacQueries.asPrincipal(spark, "analyst_col") {
        val df = spark.sql(sql)
        (df.columns.toSeq, rowsOf(df))
      }
      assert(asCol("SELECT * FROM customer.branch_main") ==
        asCol("SELECT * FROM customer"))
      // a ref the table lacks fails loudly
      intercept[IllegalArgumentException](
        asCol("SELECT * FROM customer.tag_v1"))
    } finally {
      graft.lakehouse.LakeRegistry.unregister("customer")
      graft.lakehouse.LakeRegistry.unregister("pd.sink")
    }
  }

  test("three-part addressing keeps governed precedence: a governed " +
      "cat.db.t is never claimed by the lake front-end, read or write") {
    FgacQueries.setup(spark, sf)
    val t = graft.lakehouse.GraftTable.create(spark,
      java.nio.file.Files.createTempDirectory("graft_gov3").toString,
      Tables.nation(spark, sf))
    graft.lakehouse.LakeRegistry.register("gsec.t", t)
    try {
      SecureCatalog.governTable("graft.gsec.t",
        Seq("n_nationkey", "n_name"))
      // the ungoverned 2-part form still reads the lake table
      assert(spark.sql("SELECT * FROM gsec.t").count() == t.read().count())
      // the governed 3-part form routes to FGAC: deny-by-default for
      // an ungranted principal, never a leak of the lake table
      val denied = try {
        FgacQueries.asPrincipal(spark, "team2")(
          spark.sql("SELECT * FROM graft.gsec.t").collect()); false
      } catch { case e: Throwable =>
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[AccessDeniedException]) }
      assert(denied,
        "a governed cat.db.t read must deny, not hit the lake table")
      // a write through the governed 3-part name refuses too — the
      // lake claim skipping it means NO path lands on the lake table
      val snaps = t.currentSnapshotId
      intercept[Exception](FgacQueries.asPrincipal(spark, "team2")(
        spark.sql("INSERT INTO graft.gsec.t VALUES (99, 'X', 0)")))
      assert(t.currentSnapshotId == snaps,
        "the refused governed write must not commit to the lake table")
      // the admin listing surfaces the catalog-qualified governed
      // name under its stripped namespace, bare display name
      assert(spark.sql("SHOW TABLES IN gsec").collect()
        .map(_.getString(1)).contains("t"),
        "a graft-prefixed governed name must list under gsec")
      // the MIRROR hole: governance on the STRIPPED key alone must
      // gate the catalog-qualified read alias too (a table governed
      // as db.t must not leak raw through graft.db.t)
      SecureCatalog.ungovern("graft.gsec.t")
      SecureCatalog.governTable("gsec.t", Seq("n_nationkey"))
      val denied2 = try {
        FgacQueries.asPrincipal(spark, "team2")(
          spark.sql("SELECT * FROM graft.gsec.t").collect()); false
      } catch { case e: Throwable =>
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[AccessDeniedException]) }
      assert(denied2,
        "stripped-key governance must gate the catalog-qualified alias")
    } finally {
      graft.lakehouse.LakeRegistry.unregister("gsec.t")
      SecureCatalog.ungovern("graft.gsec.t")
      SecureCatalog.ungovern("gsec.t")
    }
  }

  test("the consumer's configured catalog name serves BOTH governed " +
      "and lake names: spark.graft.catalog=dev composes with the " +
      "governed 'dev' catalog plugin") {
    FgacQueries.setup(spark, sf)
    val prev = spark.conf.getOption(
      graft.lakehouse.LakeRegistry.CatalogConf)
    // the reference's consumer catalog name — ALREADY registered as
    // the governed plugin; ensureCatalog must not displace it, and
    // the lake front-end strips it as an addressing prefix anyway
    spark.conf.set(graft.lakehouse.LakeRegistry.CatalogConf, "dev")
    graft.lakehouse.LakeRegistry.ensureCatalog(spark)
    val t = graft.lakehouse.GraftTable.create(spark,
      java.nio.file.Files.createTempDirectory("graft_devcat").toString,
      Tables.nation(spark, sf))
    graft.lakehouse.LakeRegistry.register("devdb.t", t)
    try {
      assert(spark.conf.get("spark.sql.catalog.dev")
        .contains("GovernedCatalog"),
        "ensureCatalog must not displace the governed plugin")
      // ungoverned lake names under dev.* resolve to the lake table
      assert(spark.sql("SELECT * FROM dev.devdb.t").count() ==
        t.read().count())
      spark.sql("INSERT INTO dev.devdb.t VALUES (99, 'X', 0)")
      assert(t.read().count() == Tables.nation(spark, sf).count() + 1)
      // governed names through the SAME catalog stay policy-routed
      // (the reference's consumer read shape — fgac_namespace sets up
      // the ns_consumer principal and the dev.consumer_db link, and
      // must still pass end-to-end under the shared catalog name)
      assert(SparkEntry.queries("fgac_namespace")(spark, sf)
        .count() > 0)
      // the default name no longer claims under the new config
      intercept[Exception](
        spark.sql("SELECT * FROM graft.devdb.t").collect())
    } finally {
      prev match {
        case Some(v) => spark.conf.set(
          graft.lakehouse.LakeRegistry.CatalogConf, v)
        case None => spark.conf.unset(
          graft.lakehouse.LakeRegistry.CatalogConf)
      }
      graft.lakehouse.LakeRegistry.unregister("devdb.t")
    }
  }

  test("stats-pruned lakehouse read pushes the residual filter") {
    val t = graft.lakehouse.GraftTable.create(spark,
      java.nio.file.Files.createTempDirectory("graft_rw_plan").toString,
      Tables.orders(spark, sf))
    val plan = t.readWhere("o_totalprice <= 100000.0")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("o_totalprice"),
      s"residual filter must reach the parquet scan:\n$plan")
  }

  test("FGAC filter pushes into the parquet scan") {
    FgacQueries.setup(spark, sf)
    val plan = FgacQueries.asPrincipal(spark, "analyst_cell") {
      spark.sql("SELECT * FROM customer").queryExecution.executedPlan.toString
    }
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("c_mktsegment"), s"filter not pushed:\n$plan")
  }

  test("view mutation is authorized: only admin/definer/write-granted " +
      "may replace or drop; drop ungoverns; listing redacts") {
    FgacQueries.setup(spark, sf)
    SecureCatalog.register(Principal("vm_owner", grants = Map(
      "customer" -> TablePolicy("customer",
        allowedColumns = Some(Seq("c_custkey", "c_mktsegment"))))))
    SecureCatalog.register(Principal("vm_other"))
    FgacQueries.asPrincipal(spark, "vm_owner")(spark.sql(
      """CREATE OR REPLACE VIEW vm_v TBLPROPERTIES('security'='definer')
        |AS SELECT c_custkey FROM customer""".stripMargin))
    // a stranger can neither hijack nor drop the owner's view
    intercept[AccessDeniedException](
      FgacQueries.asPrincipal(spark, "vm_other")(spark.sql(
        "CREATE OR REPLACE VIEW vm_v AS SELECT 1 AS x")))
    intercept[AccessDeniedException](
      FgacQueries.asPrincipal(spark, "vm_other")(
        spark.sql("DROP VIEW vm_v")))
    // the listing hides the owner's SQL and identity from non-owners
    val row = FgacQueries.asPrincipal(spark, "vm_other")(
      spark.sql("SELECT definer, view_sql FROM lake_views() " +
        "WHERE name = 'vm_v'")).collect()
    assert(row.length == 1 && row(0).getString(0).isEmpty &&
      row(0).getString(1).isEmpty)
    // DESCRIBE works on an ungoverned view from the captured schema
    val desc = spark.sql("DESCRIBE TABLE vm_v").collect()
    assert(desc.map(_.getString(0)).contains("c_custkey"))
    // governed view: even the DEFINER needs a write grant to mutate
    // it (dropping would strip the admin-applied policy for every
    // reader); DROP then removes the governance entry with it, so
    // the name is re-creatable and reads say "not found", not a
    // missing-raw-relation error
    SecureCatalog.governTable("vm_v", Seq("c_custkey"))
    intercept[AccessDeniedException](
      FgacQueries.asPrincipal(spark, "vm_owner")(
        spark.sql("DROP VIEW vm_v")))
    SecureCatalog.register(Principal("vm_owner", grants = Map(
      "customer" -> TablePolicy("customer",
        allowedColumns = Some(Seq("c_custkey", "c_mktsegment"))),
      "vm_v" -> TablePolicy("vm_v", write = true))))
    FgacQueries.asPrincipal(spark, "vm_owner")(
      spark.sql("DROP VIEW vm_v"))
    assert(!SecureCatalog.isGoverned("vm_v"))
    // …and every stale grant on the dropped name is revoked (a future
    // same-named resource must not resurrect write/grant rights)
    assert(SecureCatalog.principal("vm_owner")
      .forall(!_.grants.contains("vm_v")))
    spark.sql("CREATE VIEW vm_v AS SELECT 2 AS y") // admin re-creates
    assert(spark.sql("SELECT y FROM vm_v").head.getInt(0) == 2)
    spark.sql("DROP VIEW vm_v")
    // an unregistered principal reads ungoverned views fine
    graft.lakehouse.LakeRegistry.register("vm_t",
      graft.lakehouse.GraftTable.create(spark,
        java.nio.file.Files.createTempDirectory("graft_vmt").toString,
        Tables.region(spark, sf)))
    spark.sql("CREATE OR REPLACE VIEW vm_plain AS SELECT * FROM vm_t")
    val n = FgacQueries.asPrincipal(spark, "never_registered")(
      spark.sql("SELECT count(*) FROM vm_plain")).head.getLong(0)
    assert(n == Tables.region(spark, sf).count())
    // duplicate alias list refuses at CREATE
    val e = intercept[Exception](spark.sql(
      "CREATE OR REPLACE VIEW vm_dup (a, a) AS SELECT 1 AS x, 2 AS y"))
    assert(e.getMessage.contains("duplicate"))
  }

  test("fgac_view decision matrix: definer allows, invoker denies, " +
      "governed views need their own grant") {
    val got = SparkEntry.queries("fgac_view")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(
      "1_definer_view_read" -> "ALLOWED",
      "2_invoker_view_read" -> "DENIED",
      "3_governed_view_ungranted" -> "DENIED",
      "4_governed_view_granted_narrowed" -> "ALLOWED",
      "5_view_write" -> "REFUSED",
      "6_create_without_read" -> "DENIED",
      "7_ungoverned_definer_foreign" -> "DENIED",
      "8_ungoverned_definer_self" -> "ALLOWED"))
  }

  test("lake_view matches the flattened join-aggregate") {
    val df = SparkEntry.queries("lake_view")(spark, sf)
    assert(df.columns.toSeq == Seq("segment", "n_orders", "max_price"))
    val expect = Tables.orders(spark, sf)
      .filter("o_orderstatus = 'O'")
      .join(Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count("*").as("n_orders"),
        max("o_totalprice").as("max_price"))
    assert(df.count() == expect.count() && df.except(expect).isEmpty)
  }

  test("audit trail records every decision once-at-least, stably") {
    val first = SparkEntry.queries("fgac_audit_log")(spark, sf).collect()
    assert(first.length == 5)
    // the trail is append-only with a monotonic sequence, and a
    // re-run of the whole scenario only appends duplicate decisions
    // — the DISTINCT projection is stable across runs
    val seqsBefore = AuditLog.entries.map(_.seq)
    assert(seqsBefore == seqsBefore.sorted && seqsBefore.distinct == seqsBefore)
    val second = SparkEntry.queries("fgac_audit_log")(spark, sf).collect()
    assert(second.map(_.toString).sorted
      .sameElements(first.map(_.toString).sorted))
    assert(AuditLog.entries.size > seqsBefore.size,
      "the second run must have appended, not cleared")
    // denied UNKNOWN principals are in the trail (probe forensics)
    assert(AuditLog.entries.exists(e =>
      e.principal == "aud_ghost" && e.outcome == "DENIED"))
    // no event ever carries row data — only policy shape
    assert(AuditLog.entries.forall(e =>
      !e.detail.toLowerCase.contains("building")))
    // catalog reads (DESCRIBE) are audited too — the schema probe is
    // the classic recon path, denied AND allowed
    intercept[AccessDeniedException](
      SecureCatalog.describeColumns("aud_nogrants", "aud_customer"))
    assert(AuditLog.entries.exists(e =>
      e.principal == "aud_nogrants" && e.action == "DESCRIBE" &&
        e.outcome == "DENIED"))
    SecureCatalog.describeColumns("aud_reader", "aud_customer")
    assert(AuditLog.entries.exists(e =>
      e.principal == "aud_reader" && e.action == "DESCRIBE" &&
        e.outcome == "ALLOWED"))
  }

  test("context filter: one policy, per-principal slices, loud outside") {
    val out = SparkEntry.queries("fgac_context_filter")(spark, sf).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("AUTOMOBILE", "BUILDING"))
    // per-tenant counts match a direct segment filter
    out.foreach { r =>
      assert(r.getAs[Long]("n_rows") ==
        Tables.customer(spark, sf)
          .filter(col("c_mktsegment") === r.getString(0)).count(),
        r.getString(0))
    }
    // the Enforcer (library API) path folds the context function too
    val pol = TablePolicy("ctx_customer",
      rowFilter = Some("c_mktsegment = graft_principal()"))
    assertSameRows(
      Enforcer.secure(Tables.customer(spark, sf), pol, "AUTOMOBILE"),
      FgacQueries.asPrincipal(spark, "AUTOMOBILE")(
        spark.sql("SELECT * FROM ctx_customer")))
    // outside a policy expression the function stays unresolved
    intercept[Exception](
      spark.sql("SELECT graft_principal()").collect())
  }

  test("persisted audit trail is re-runnable: same decision matrix " +
      "on a second run in the same JVM (bench reps)") {
    val r1 = FgacQueries.queries("fgac_audit_persist")(spark, sf).collect()
    val r2 = FgacQueries.queries("fgac_audit_persist")(spark, sf).collect()
    assert(r1.length == 5 && r2.length == 5)
    assert(r1.map(_.toString).sorted.sameElements(
      r2.map(_.toString).sorted))
  }

  test("nested policies through Enforcer: partial rebuild is " +
      "fail-closed and null-preserving, in-place mask keeps siblings") {
    import org.apache.spark.sql.functions.{concat, lit, struct, when}
    import org.apache.spark.sql.types.StructType
    // odd ids carry a NULL struct — the rebuild must not resurrect
    // them as rows of nulls
    val base = spark.range(1, 9).select(col("id"),
      when(col("id") % 2 === 0,
        struct(concat(lit("n"), col("id")).as("name"),
          (col("id") * 100).cast("double").as("bal"))).as("info"))
    val partial = Enforcer.secure(base, TablePolicy("t",
      allowedColumns = Some(Seq("id", "info.name"))), "team1")
    assert(partial.schema("info").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("name"))
    assert(partial.filter(col("info").isNull).count() == 4)
    assert(partial.filter(col("info.name") === "n4").count() == 1)
    val masked = Enforcer.secure(base, TablePolicy("t",
      masks = Map("info.bal" -> "info.bal * 0")), "team1")
    assert(masked.schema("info").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("name", "bal"))
    assert(masked.filter(col("info").isNotNull)
      .filter(col("info.bal") =!= 0.0).count() == 0)
    assert(masked.filter(col("info.name") === "n6").count() == 1)
    // a context-dependent policy with no principal refuses up front
    // (row filters would fail closed but masks would compute wrong)
    intercept[IllegalArgumentException](Enforcer.secure(base,
      TablePolicy("t", masks = Map("id" -> "id * length(graft_principal())")),
      ""))
  }

  test("depth-2 nested policies: rebuild and in-place masks recurse, " +
      "regrant narrows prefix-wise at depth 2") {
    import org.apache.spark.sql.functions.{concat, lit, struct, when}
    import org.apache.spark.sql.types.StructType
    // even ids: full struct; id 5: NULL inner struct; odd: NULL outer
    val base = spark.range(1, 9).select(col("id"),
      when(col("id") % 2 === 0 || col("id") === 5,
        struct(concat(lit("n"), col("id")).as("name"),
          when(col("id") =!= 5,
            struct(concat(lit("p"), col("id")).as("phone"),
              concat(lit("a"), col("id")).as("addr"))).as("contact")))
        .as("info"))
    // partial at both levels: info rebuilt from (name, contact),
    // contact rebuilt from (addr) alone — phone never appears
    val partial = Enforcer.secure(base, TablePolicy("t",
      allowedColumns = Some(Seq("id", "info.name", "info.contact.addr"))),
      "team1")
    val it = partial.schema("info").dataType.asInstanceOf[StructType]
    assert(it.fieldNames.toSeq == Seq("name", "contact"))
    assert(it("contact").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("addr"))
    assert(partial.filter(col("info").isNull).count() == 3,
      "null outer structs stay null through a depth-2 rebuild")
    assert(partial.filter(col("id") === 5)
      .filter(col("info.contact").isNull).count() == 1,
      "null INNER structs stay null through a depth-2 rebuild")
    assert(partial.filter(col("info.contact.addr") === "a4").count() == 1)
    // whole-struct grant, depth-2 in-place mask: every sibling at
    // every depth survives unenumerated
    val masked = Enforcer.secure(base, TablePolicy("t",
      masks = Map("info.contact.phone" -> "'***'")), "team1")
    val mt = masked.schema("info").dataType.asInstanceOf[StructType]
    assert(mt.fieldNames.toSeq == Seq("name", "contact") &&
      mt("contact").dataType.asInstanceOf[StructType]
        .fieldNames.toSeq == Seq("phone", "addr"))
    assert(masked.filter(col("info.contact").isNotNull)
      .filter(col("info.contact.phone") =!= "***").count() == 0)
    assert(masked.filter(col("info.contact.addr") === "a6").count() == 1)
    // regrant narrowing law, prefix-wise at depth 2
    SecureCatalog.governTable("d2_t", Seq("id", "info"))
    SecureCatalog.register(Principal("d2_admin", grants = Map(
      "d2_t" -> TablePolicy("d2_t", grantable = true))))
    // a delegated whole struct covers a grandchild grant
    SecureCatalog.regrant("d2_admin", "d2_leaf", "d2_t",
      TablePolicy("d2_t", allowedColumns =
        Some(Seq("id", "info.contact.addr")), grantable = true))
    // but the grandchild holder may NOT re-widen to its parent
    intercept[AccessDeniedException](
      SecureCatalog.regrant("d2_leaf", "d2_evil", "d2_t",
        TablePolicy("d2_t", allowedColumns =
          Some(Seq("id", "info.contact")))))
    SecureCatalog.ungovern("d2_t")
  }

  test("governed SHOW CREATE TABLE / SHOW TBLPROPERTIES: policy-shaped " +
      "answer or loud audited denial, never a cold miss") {
    val raw = spark.range(3).selectExpr("id", "'x' AS secret", "'y' AS ok")
    SecureCatalog.governTable("sddl_t", raw)
    SecureCatalog.register(Principal("sddl_reader", grants = Map(
      "sddl_t" -> TablePolicy("sddl_t",
        allowedColumns = Some(Seq("id", "ok"))))))
    SecureCatalog.register(Principal("sddl_none"))
    try {
      spark.conf.set(SecureCatalog.PrincipalConf, "sddl_reader")
      val ddl = spark.sql("SHOW CREATE TABLE sddl_t").head.getString(0)
      assert(ddl.contains("id") && ddl.contains("ok") &&
        !ddl.contains("secret"),
        s"the DDL must be column-filtered per grant: $ddl")
      assert(ddl.contains("BIGINT"),
        "types come from the raw relation's schema")
      // TBLPROPERTIES answers (zero rows — no lake table behind the
      // DataFrame) under a grant
      assert(spark.sql("SHOW TBLPROPERTIES sddl_t").collect().isEmpty)
      // no grant → AccessDenied, and the denial lands in the trail
      spark.conf.set(SecureCatalog.PrincipalConf, "sddl_none")
      val before = AuditLog.entries.size
      intercept[AccessDeniedException](
        spark.sql("SHOW CREATE TABLE sddl_t").collect())
      assert(AuditLog.entries.drop(before).exists(e =>
        e.principal == "sddl_none" && e.resource == "sddl_t" &&
          e.outcome == "DENIED"),
        "the denied metadata probe must be audited")
      intercept[AccessDeniedException](
        spark.sql("SHOW TBLPROPERTIES sddl_t").collect())
    } finally {
      spark.conf.unset(SecureCatalog.PrincipalConf)
      SecureCatalog.ungovern("sddl_t")
    }
  }

  test("no session name reaches a governed table's raw relation") {
    FgacQueries.setup(spark, sf)
    // the per-table temp-view name governance once registered
    val hidden = "__graft" + "_raw_customer"
    FgacQueries.asPrincipal(spark, "team2") {
      Seq[() => Unit](
        () => spark.sql(s"SELECT count(*) FROM $hidden").collect(),
        () => spark.table(hidden).collect()).foreach { read =>
        val e = intercept[org.apache.spark.sql.AnalysisException](read())
        assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND", e.getMessage)
      }
      assert(!spark.catalog.listTables().collect()
        .exists(_.name.startsWith("__graft")))
    }
  }

  test("a principal session from newSession() reads a governed table " +
      "registered from another session") {
    FgacQueries.setup(spark, sf)
    val session = spark.newSession()
    session.conf.set(SecureCatalog.PrincipalConf, "team1")
    val got = session.sql("SELECT * FROM customer")
    assertSameRows(got, FgacQueries.asPrincipal(spark, "team1")(
      spark.sql("SELECT * FROM customer")))
    assert(!got.columns.contains("c_acctbal"))
    assert(rowsOf(got).size == visibleCustomers.count())
  }

  test("ungovern drops the raw relation; a governed name without one " +
      "fails naming it") {
    SecureCatalog.governTable("stale_t", spark.range(3).toDF("id"))
    try {
      assert(spark.sql("SELECT * FROM stale_t").count() == 3)
      SecureCatalog.ungovern("stale_t")
      SecureCatalog.governTable("stale_t", Seq("id")) // policy only
      Seq("SELECT * FROM stale_t", "DESCRIBE TABLE stale_t").foreach { q =>
        val e = intercept[IllegalStateException](spark.sql(q).collect())
        assert(e.getMessage.contains("'stale_t'") &&
          !e.getMessage.contains("__graft"), e.getMessage)
      }
    } finally SecureCatalog.ungovern("stale_t")
  }

  test("a resource link to a governed view reads under the view's " +
      "policy; without a grant it is denied and audited") {
    Tables.customer(spark, sf).createOrReplaceTempView("lv_src")
    spark.sql("CREATE OR REPLACE VIEW lv_v AS SELECT * FROM lv_src")
    SecureCatalog.governTable("lv_v",
      Tables.customer(spark, sf).columns.toIndexedSeq)
    SecureCatalog.register(Principal("lv_reader",
      grants = Map("lv_v" -> TablePolicy("lv_v", rowFilter = Some(Visible),
        allowedColumns = Some(Seq("c_custkey", "c_mktsegment")))),
      links = Map("rl_lv" -> "lv_v")))
    SecureCatalog.register(Principal("lv_nogrant"))
    try {
      assertSameRows(
        FgacQueries.asPrincipal(spark, "lv_reader")(
          spark.sql("SELECT * FROM rl_lv")),
        visibleCustomers.select("c_custkey", "c_mktsegment"))
      val before = AuditLog.entries.size
      intercept[AccessDeniedException](
        FgacQueries.asPrincipal(spark, "lv_nogrant")(
          spark.sql("SELECT * FROM rl_lv").collect()))
      assert(AuditLog.entries.drop(before).exists(e =>
        e.principal == "lv_nogrant" && e.resource == "lv_v" &&
          e.outcome == "DENIED"))
    } finally {
      spark.sql("DROP VIEW lv_v")
      spark.catalog.dropTempView("lv_src")
    }
  }

  test("row-filtered grant: an ANSI divide-by-zero predicate sees only " +
      "policy-visible rows") {
    FgacQueries.setup(spark, sf)
    val q = "SELECT c_custkey FROM customer WHERE " +
      failsOnHidden("c_mktsegment")
    withAnsi {
      // the predicate does raise on the hidden rows
      assertDividesByZero(spark.sql(q).collect())
      assertSameRows(FgacQueries.asPrincipal(spark, "consumer")(spark.sql(q)),
        visibleCustomers.select("c_custkey"))
    }
  }

  test("row-filtered grant: a join-condition predicate sees only " +
      "policy-visible rows") {
    FgacQueries.setup(spark, sf)
    val q = "SELECT c.c_custkey FROM customer c JOIN range(1, 100000) r " +
      s"ON r.id = c.c_custkey AND ${failsOnHidden("c.c_mktsegment")}"
    withAnsi {
      assertDividesByZero(spark.sql(q).collect())
      assertSameRows(FgacQueries.asPrincipal(spark, "consumer")(spark.sql(q)),
        visibleCustomers.select("c_custkey"))
    }
  }

  test("row-filtered grant: a Scala UDF recording its inputs sees only " +
      "policy-visible rows") {
    FgacQueries.setup(spark, sf)
    spark.udf.register("fgac_probe_rec",
      (s: String) => { FgacUdfProbe.seen.add(s); true })
    FgacUdfProbe.seen.clear()
    val got = FgacQueries.asPrincipal(spark, "consumer")(spark.sql(
      "SELECT c_custkey FROM customer WHERE fgac_probe_rec(c_mktsegment)"))
    assertSameRows(got, visibleCustomers.select("c_custkey"))
    import scala.jdk.CollectionConverters._
    val seen = FgacUdfProbe.seen.asScala.toSet
    assert(seen.nonEmpty && seen.subsetOf(Set("BUILDING", "AUTOMOBILE")),
      seen)
  }

  test("row-filtered grant: a self-join of one governed name gets " +
      "deduplicated attribute ids and only policy-visible rows") {
    FgacQueries.setup(spark, sf)
    val got = FgacQueries.asPrincipal(spark, "consumer")(spark.sql(
      "SELECT a.c_custkey, b.c_custkey AS k2 FROM customer a " +
        "JOIN customer b ON a.c_custkey = b.c_custkey"))
    val join = got.queryExecution.analyzed.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.get
    assert(join.left.outputSet.intersect(join.right.outputSet).isEmpty)
    assertSameRows(got, visibleCustomers.select(col("c_custkey"),
      col("c_custkey").as("k2")))
  }

  test("Enforcer.secure equals the SQL read: cell filter with a mask, " +
      "and nested policies") {
    FgacQueries.setup(spark, sf)
    val team1 = SecureCatalog.principal("team1").get.grants("customer")
    assertSameRows(
      Enforcer.secure(Tables.customer(spark, sf), team1, "team1"),
      FgacQueries.asPrincipal(spark, "team1")(
        spark.sql("SELECT * FROM customer")))
    SparkEntry.queries("fgac_nested")(spark, sf)
    val raw = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      SecureCatalog.relationOf(spark, "nst_customer"))
    Seq("nst_analyst", "nst_partner").foreach { who =>
      val pol = SecureCatalog.principal(who).get.grants("nst_customer")
      assertSameRows(Enforcer.secure(raw, pol, who),
        FgacQueries.asPrincipal(spark, who)(
          spark.sql("SELECT * FROM nst_customer")))
    }
  }
}

class AnalyticsSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  test("q1_agg aggregates match a direct computation") {
    val df = SparkEntry.queries("q1_agg")(spark, sf)
    val rows = df.collect()
    assert(rows.length > 0 && rows.length <= 6)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val expected = Tables.lineitem(spark, sf)
      .filter("l_shipdate <= timestamp'1998-09-02 00:00:00'").count()
    assert(total == expected)
  }
}
