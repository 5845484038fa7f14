package graft.fgac

import org.apache.spark.sql.DataFrame

/** Library-level enforcement: produce the secured view of a DataFrame
  * under a [[TablePolicy]] — the SAME plan rewrite the analyzer path
  * applies to a governed name ([[FgacRule.securePlan]]: filter against
  * the raw row, then masks, then the column projection), so the two
  * can never drift apart, and Catalyst pushes the filter and the
  * pruned projection into the scan exactly as for SQL.
  */
object Enforcer {
  /** `who` is the effective principal and has NO default: an omitted
    * principal would silently enforce a context-free policy as
    * "nobody" — call sites must name the principal (or pass ""
    * deliberately for a context-free policy). */
  def secure(df: DataFrame, policy: TablePolicy,
      who: String): DataFrame = {
    // A context-dependent policy with no context must refuse, not
    // fold graft_principal() to "": row filters would fail closed
    // (acceptable) but masks would compute silently WRONG values.
    if (who.isEmpty) {
      val ctxRef = "(?i)graft_principal\\s*\\(".r
      val refs = (policy.rowFilter.toSeq ++ policy.masks.values)
        .filter(t => ctxRef.findFirstIn(t).isDefined)
      require(refs.isEmpty,
        "policy references graft_principal() but no principal was " +
          s"passed to secure(): ${refs.mkString("; ")}")
    }
    org.apache.spark.sql.GraftSqlBridge.ofRows(df.sparkSession,
      FgacRule.securePlan(policy, df.queryExecution.analyzed, who,
        df.columns.toIndexedSeq))
  }
}
