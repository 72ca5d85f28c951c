package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** AS-OF join — "for each left row, the most recent right row at or
  * before it, per key" — an operator Spark's built-in joins don't
  * express (a range join would be O(pairs); Catalyst plans an
  * inequality-only condition as BroadcastNestedLoopJoin). Planned as the
  * whole-operator [[graft.plans.AsOfJoinExec]]: one hash exchange per
  * side, each shipping only its own columns, then a forward merge with
  * O(1) carried state per partition, whatever the number of right rows
  * before each left row.
  *
  * Semantics are DuckDB's `ASOF LEFT JOIN`: ties (right ts == left ts)
  * match, and NULL keys or NULL timestamps never match on either side
  * (SQL equality: NULL = NULL is not true). The union+window composition
  * this replaced grouped NULL keys together under `Window.partitionBy`,
  * so a NULL-key left row picked up NULL-key right rows.
  */
object AsOfJoin {

  /** For every row of `left`, all of its columns plus all of `right`'s
    * columns renamed `<rPrefix><name>`, taken from the latest `right`
    * row with the same `key` and `right.tsCol <= left.tsCol` (all-null
    * when no such row exists). Both inputs must share the `key` and
    * `tsCol` names.
    *
    * The rename is load-bearing, not cosmetic: the custom node bypasses
    * the analyzer's `DeduplicateRelations` (which only rewrites known
    * node types), so a self-join's attribute-id collisions must be
    * prevented here — aliasing every right column mints fresh expression
    * ids, and the prefixed names keep `RemoveRedundantAliases` from
    * undoing that (an identity alias `a AS a` may be collapsed;
    * `a AS r_a` never is).
    *
    * Tie rule: among right rows sharing the greatest eligible `tsCol`,
    * the one greatest by the remaining right columns (in output order)
    * wins — deterministic on every run. */
  def lastPrior(
      left: DataFrame, right: DataFrame,
      key: String, tsCol: String,
      rPrefix: String = "r_"): DataFrame =
    lastPrior(left, right, Seq(key), tsCol, rPrefix)

  /** Composite-key form: equi-keys compared pairwise in order. */
  def lastPrior(
      left: DataFrame, right: DataFrame,
      keys: Seq[String], tsCol: String,
      rPrefix: String): DataFrame = {
    val clash = left.columns.toSet
      .intersect(right.columns.map(rPrefix + _).toSet)
    require(clash.isEmpty,
      s"as-of join: left already has column(s) ${clash.mkString(", ")} — " +
        s"pass a different rPrefix")
    val renamed = right.select(
      right.columns.toIndexedSeq.map(c => col(c).as(rPrefix + c)): _*)
    val lp = left.queryExecution.analyzed
    val rp = renamed.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"as-of join: no column '$n' in [${p.output.map(_.name).mkString(", ")}]"))
    org.apache.spark.sql.GraftSqlShim.ofRows(
      left.sparkSession,
      graft.plans.AsOfJoinNode(
        lp, rp,
        keys.map(attr(lp, _)), keys.map(k => attr(rp, rPrefix + k)),
        attr(lp, tsCol), attr(rp, rPrefix + tsCol)))
  }
}
