package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Interval algebra (SURVEY.md §2.5 W8, §4 fixed-point row).
  *
  * Two implementations of the reference's interval-collapse capability:
  * the sweep-line form (one window pass — the scalable one) and the
  * iterative fixed-point form (driver loop, capability parity with
  * `slow_temp_table_write_in_palce_of_recursive_cte.py`).
  */
object Intervals {

  /** Collapse per-key intervals that overlap or abut within `gapDays`
    * (ref: `overlap_query_no_recursive_cte_needed.sql:65-108`;
    * golden pair `resources/collapsed_data_*.csv`).
    *
    * Single shuffle on `keys`; sort within partition; no self-join. A new
    * island starts where this begin is more than `gapDays` after the running
    * max of all prior ends (running max — not lag(end) — handles contained
    * intervals).
    *
    * A row with a null begin or end covers no known day and is dropped
    * (in both forms): kept, it would sort first and stretch or fabricate
    * an island from the other bound — IntervalsSpec's day-expansion
    * oracle pins this.
    */
  def collapse(df: DataFrame, keys: Seq[String], begin: String, end: String,
               gapDays: Int = 1): DataFrame = {
    val part = keys.map(col)
    val w    = Window.partitionBy(part: _*).orderBy(col(begin), col(end))
    val runningMaxEnd = max(col(end)).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = df.filter(col(begin).isNotNull && col(end).isNotNull)
      .withColumn("__new_island",
        when(runningMaxEnd.isNull || col(begin) > date_add(runningMaxEnd, gapDays), 1)
          .otherwise(0))
    Windows.runGroups(flagged, col("__new_island"), "__island", part, Seq(col(begin), col(end)))
      .groupBy((part :+ col("__island")): _*)
      .agg(min(col(begin)).as(begin), max(col(end)).as(end))
      .drop("__island")
  }

  /** Iterative fixed-point variant (ref: `slow_temp_table_write_in_palce_of_
    * recursive_cte.py:104-183`): repeatedly merge pairwise-overlapping
    * neighbours, halving each run of them per pass, pinning each
    * generation through [[FixedPoint.iterate]],
    * until the row count stops shrinking (null-bound rows dropped, as in
    * [[collapse]]). Kept for capability parity — prefer [[collapse]]; the
    * reference itself warns this takes 45-90 s on 200 rows (BASELINE.md). */
  def collapseFixedPoint(df0: DataFrame, keys: Seq[String], begin: String,
                         end: String, gapDays: Int = 1,
                         maxIter: Int = 50): DataFrame = {
    def step(cur: DataFrame): DataFrame = {
      val w = Window.partitionBy(keys.map(col): _*).orderBy(col(begin), col(end))
      // A row absorbs its successor only when the row itself survives this
      // pass (otherwise a chain A<B<C would drop B — whose extended end was
      // the only thing covering C — and lose coverage). In each run of rows
      // that merge into their successor, the rows at even positions absorb
      // and the odd ones are absorbed, so every run halves per pass: a
      // chain of n merging intervals (a member's daily records) converges
      // in O(log n) passes, not n, and stays under maxIter.
      cur
        .withColumn("__nxt_b", lead(col(begin), 1).over(w))
        .withColumn("__nxt_e", lead(col(end), 1).over(w))
        .withColumn("__merge", col("__nxt_b").isNotNull &&
          col("__nxt_b") <= date_add(col(end), gapDays))
        .withColumn("__rn", row_number().over(w))
        .withColumn("__starts", !lag(col("__merge"), 1, false).over(w))
        .withColumn("__run0", max(when(col("__starts"), col("__rn")))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("__absorb", col("__merge") && (col("__rn") - col("__run0")) % 2 === 0)
        .withColumn(end, when(col("__absorb"),
          greatest(col(end), col("__nxt_e"))).otherwise(col(end)))
        .withColumn("__dropped", lag(col("__absorb"), 1, false).over(w))
        .filter(!col("__dropped"))
        .select((keys.map(col) :+ col(begin) :+ col(end)): _*)
    }
    FixedPoint.iterate(
      df0.filter(col(begin).isNotNull && col(end).isNotNull)
        .select((keys.map(col) :+ col(begin) :+ col(end)): _*),
      step, maxIter)
  }
}
