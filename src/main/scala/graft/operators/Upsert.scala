package graft.operators

import org.apache.spark.sql.DataFrame

/** Keyed upsert (MERGE INTO semantics, the serving-table refresh path):
  * rows from `updates` replace base rows with the same key; unmatched
  * base rows pass through; brand-new keys insert.
  *
  * Plan shape: one LEFT ANTI join of base against the update KEYS plus
  * a union — no shuffle of the update payload against the base, and
  * since a nightly update batch is ≪ the archive, the anti join's
  * build side broadcasts (AQE picks it from runtime sizes; asserted in
  * UpsertSpec). The base is scanned exactly once.
  */
object Upsert {

  /** PRECONDITION: `updates` must carry at most one row per key. ANSI
    * MERGE INTO raises on multiple matches; this plan-only operator
    * cannot check that without materializing the update batch, so a
    * duplicate-keyed batch passes through as duplicate output rows.
    */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    val keyOnly = updates.select(keys.map(updates.col): _*)
    updates.unionByName(base.join(keyOnly, keys, "left_anti"))
  }
}
