package graft.operators

import org.apache.spark.sql.DataFrame

/** Set-operation helpers (SURVEY.md §2.7). */
object SetOps {

  /** n-way union by name (U3; ref: `from_raw_to_hive_with_glue.py:88`
    * reduce-union after manual schema alignment). Columns come in
    * first-seen order and missing ones are null-filled, like the
    * reference's alignment shim. */
  def unionByNameAll(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionByNameAll of zero frames")
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Symmetric difference row counts — the reference's source-of-truth diff
    * test (U4; ref: `from_api_call_to_columnar_db.py:686-703`). */
  def symmetricDiffCounts(a: DataFrame, b: DataFrame): (Long, Long) =
    (a.except(b).count(), b.except(a).count())
}
