package graftbench

import java.io.File

import graft.fgac.{Principal, SecureCatalog, TablePolicy}

/** The governed lake both read workloads stand on, built through
  * graft's user surfaces only: SQL `CREATE TABLE … USING graft` and
  * `INSERT`, SQL views `rl_patients`/`rl_claims` over the lake tables,
  * `SecureCatalog.governTable`/`register` for the masked cell filter
  * (GRANT has no mask clause), and `GRANT … WHERE` for the rest.
  *
  * The governed names are views, not resource links, because a
  * resource link that targets a governed view does not resolve (see
  * [[Lake.linkProbe]]). */
object Lake {
  final case class Names(sfx: String) {
    val patients = s"patients$sfx"
    val claims = s"claims$sfx"
    val rlPatients = s"rl_patients$sfx"
    val rlClaims = s"rl_claims$sfx"
    val rlClaimsV1 = s"rl_claims_v1$sfx"
  }

  val MoR = Seq("write.delete.mode", "write.update.mode", "write.merge.mode")
    .map(k => s"'$k' = 'merge-on-read'").mkString(", ")

  /** team1's cell filter on `patients`: two segments, no balance
    * column, `md5`-masked names. */
  val Team1Filter = "c_mktsegment IN ('AUTOMOBILE', 'BUILDING')"
  val Team1Cols = Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
  val RowAnalystFilter = "c_nationkey < 12"
  val ColAnalystCols = Seq("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")

  /** The policies applied by hand on the raw tables, for the admin-side
    * reference each governed read is checked against. */
  def team1Patients(n: Names): String =
    s"(SELECT c_custkey, md5(c_name) AS c_name, c_nationkey, c_mktsegment " +
      s"FROM ${n.patients} WHERE $Team1Filter)"
  def rowAnalystPatients(n: Names): String =
    s"(SELECT * FROM ${n.patients} WHERE $RowAnalystFilter)"
  def colAnalystClaims(n: Names): String =
    s"(SELECT ${ColAnalystCols.mkString(", ")} FROM ${n.claims})"

  /** Build `patients` and `claims` under `root`, claims in two commits
    * so a `VERSION AS OF` read has an older snapshot; returns the first
    * commit's snapshot id. */
  def build(h: Harness, root: File, n: Names, nCust: Long, nOrders: Long,
      mergeOnRead: Boolean, withAsOf: Boolean): Long = {
    val s = h.admin
    Data.customers(s, nCust, h.seed).createOrReplaceTempView("bench_gen_customer")
    s.sql(s"""CREATE TABLE ${n.patients} (c_custkey BIGINT, c_name STRING,
             |  c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING)
             |USING graft PARTITIONED BY (c_mktsegment)
             |LOCATION '${new File(root, n.patients)}'""".stripMargin)
    s.sql(s"INSERT INTO ${n.patients} SELECT * FROM bench_gen_customer")
    val props = if (mergeOnRead) s" TBLPROPERTIES ($MoR)" else ""
    s.sql(s"""CREATE TABLE ${n.claims} (o_orderkey BIGINT, o_custkey BIGINT,
             |  o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP,
             |  o_orderpriority STRING)
             |USING graft PARTITIONED BY (o_orderstatus)
             |LOCATION '${new File(root, n.claims)}'$props""".stripMargin)
    val firstPart = nOrders * 9 / 10
    Data.orders(s, 0, firstPart, nCust, h.seed).createOrReplaceTempView("bench_gen_orders")
    s.sql(s"INSERT INTO ${n.claims} SELECT * FROM bench_gen_orders")
    val v1 = graft.lakehouse.LakeRegistry.get(n.claims).get.currentSnapshotId
    Data.orders(s, firstPart, nOrders, nCust, h.seed).createOrReplaceTempView("bench_gen_orders")
    s.sql(s"INSERT INTO ${n.claims} SELECT * FROM bench_gen_orders")
    govern(h, n, v1, withAsOf)
    v1
  }

  private def govern(h: Harness, n: Names, v1: Long, withAsOf: Boolean): Unit = {
    val s = h.admin
    s.sql(s"CREATE VIEW ${n.rlPatients} AS SELECT * FROM ${n.patients}")
    s.sql(s"CREATE VIEW ${n.rlClaims} AS SELECT * FROM ${n.claims}")
    SecureCatalog.governTable(n.rlPatients, Data.PatientCols)
    SecureCatalog.governTable(n.rlClaims, Data.ClaimCols)
    // masks have no GRANT syntax: team1's cell filter is registered as
    // a policy object first, then GRANT statements add to it
    SecureCatalog.register(Principal("team1", grants = Map(
      n.rlPatients -> TablePolicy(n.rlPatients, rowFilter = Some(Team1Filter),
        allowedColumns = Some(Team1Cols), masks = Map("c_name" -> "md5(c_name)")))))
    s.sql(s"GRANT SELECT ON ${n.rlClaims} TO team1")
    s.sql(s"GRANT SELECT ON ${n.rlClaims} TO team2")
    s.sql(s"GRANT SELECT ON ${n.rlPatients} TO analyst_row WHERE $RowAnalystFilter")
    s.sql(s"GRANT SELECT (${ColAnalystCols.mkString(", ")}) ON ${n.rlClaims} TO analyst_col")
    if (withAsOf) {
      s.sql(s"CREATE VIEW ${n.rlClaimsV1} AS SELECT * FROM ${n.claims} VERSION AS OF $v1")
      SecureCatalog.governTable(n.rlClaimsV1, Data.ClaimCols)
      s.sql(s"GRANT SELECT ON ${n.rlClaimsV1} TO team2")
    }
  }

  /** Remove a set-up repetition's tables, views and governance. */
  def drop(h: Harness, n: Names): Unit = {
    Seq(n.rlPatients, n.rlClaims, n.rlClaimsV1).foreach { v =>
      SecureCatalog.ungovern(v)
      h.admin.sql(s"DROP VIEW IF EXISTS $v")
    }
    Seq(n.patients, n.claims).foreach(t => h.admin.sql(s"DROP TABLE IF EXISTS $t PURGE"))
  }

  /** Probe, outside any timed window, whether a resource link can
    * target a governed view (the reference's `rl_*` shape). Returns
    * None when it can, else the error. */
  def linkProbe(h: Harness, n: Names): Option[String] = {
    SecureCatalog.register(Principal("link_probe",
      links = Map("link_probe_claims" -> n.rlClaims),
      grants = Map(n.rlClaims -> TablePolicy(n.rlClaims))))
    try { h.as("link_probe").sql("SELECT * FROM link_probe_claims").head(1); None }
    catch { case scala.util.control.NonFatal(e) => Some(Harness.describe(e)) }
  }
}
