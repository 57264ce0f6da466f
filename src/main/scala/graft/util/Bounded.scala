package graft.util

import org.apache.spark.sql.{DataFrame, Row}

/** The one gate for driver-side materialization of a plan into a literal
  * frame (the "collected literal frames keep every join a broadcast"
  * pattern used by the k-means/codebook trainers). Every such site has a
  * bound that holds BY CONSTRUCTION (a limit(k), a groupBy over ≤nCluster
  * keys, a vocabulary) — this helper makes the bound a runtime assertion
  * too, so a refactor that accidentally routes a corpus-sized frame into
  * a collect fails loudly at the site instead of OOMing the driver or
  * silently serializing gigabytes into a plan literal (SURVEY §4's
  * no-collect-on-the-data-path rule, made unregressable).
  */
object Bounded {

  /** Collect `plan` (must have ≤ `cap` rows) into a literal DataFrame —
    * Catalyst sees a LocalRelation, so every later join against it is a
    * broadcast with no recomputation of the source plan. */
  def literalFrame(plan: DataFrame, cap: Int, what: String): DataFrame = {
    val rows = fetch(plan, cap, what,
      "a literal frame must be broadcast-sized by construction")
    plan.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), plan.schema)
  }

  /** Collect `plan`'s rows for driver-side arithmetic (scan-range
    * derivation, loop bounds) under the same loud cap as
    * [[literalFrame]] — for sites that need the VALUES, not a
    * re-plantable frame. */
  def rows(plan: DataFrame, cap: Int, what: String): Array[Row] =
    fetch(plan, cap, what,
      "driver-side row sets must be bounded by construction")

  /** At most `cap + 1` rows ever reach the driver: one row over the cap
    * proves the violation. The failure message sizes the plan with a
    * distributed count, which moves no rows to the driver. */
  private def fetch(plan: DataFrame, cap: Int, what: String,
                    why: String): Array[Row] = {
    val rows = plan.limit(cap + 1).collect()
    require(rows.length <= cap,
      s"$what has ${plan.count()} rows, over its documented bound of $cap — $why")
    rows
  }
}
