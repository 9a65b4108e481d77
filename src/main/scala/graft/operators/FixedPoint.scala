package graft.operators

import org.apache.spark.sql.DataFrame

import graft.core.Materialize.MaterializeOps

/** General driver-paced fixed-point iteration — the recursive-CTE
  * substitute (SURVEY §4; ref: slow_temp_table_write_in_palce_of_
  * recursive_cte.py:104-183 loops {step → overwrite temp table → count}
  * until the count stabilizes).
  *
  * Generations are pinned through [[graft.core.Materialize]], so the
  * lineage stays a few steps deep (an unmaterialized loop would stack N
  * plan copies and re-execute everything per action) and the loop keeps
  * no storage of its own: local mode holds them as checkpoint blocks,
  * reliable mode as ledgered scratch parquet that `releaseScratch`
  * deletes. The driver holds only counts and the iteration index; every
  * step is distributed.
  */
object FixedPoint {

  /** Generations per pin in [[iterateSteps]]. In local mode e_pagerank's
    * 8 steps run 42 jobs when every generation is pinned and 33 at 4, and
    * r18's A/B (OPTIMIZATION_r18.md §5) measured 4 faster than 2 at
    * identical arithmetic. Each unpinned step multiplies the plan under
    * the next pin, so keep it small. */
  private val StepsPerPin = 4

  /** Count-based convergence (the reference's criterion): each generation
    * is `step(cur).materialized()` and its `count()` — in local mode that
    * count is the action that fills the lazy checkpoint.
    *
    * @param init    starting frame
    * @param step    one distributed rewrite; must be deterministic
    * @param maxIter hard bound — a step that never converges throws
    * @return the converged frame (the last pinned generation) */
  def iterate(init: DataFrame, step: DataFrame => DataFrame,
              maxIter: Int): DataFrame = {
    var cur = init
    var n = cur.count()
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      cur = step(cur).materialized()
      val n2 = cur.count()
      done = n == n2
      n = n2
      iter += 1
    }
    if (!done) throw new IllegalStateException(
      s"fixed-point iteration did not converge in $maxIter steps")
    cur
  }

  /** Exactly `numSteps` generations — the FIXED-STEP schedule (power
    * iteration and friends) where convergence is analytic, not
    * count-based: no per-generation count job runs. Kept separate from
    * [[iterate]] so a fixed-step intent can never silently interact with
    * count-based convergence.
    *
    * Every [[StepsPerPin]]th generation and the last one are pinned,
    * lazily: the steps between pins run inside the next pin's job at
    * identical arithmetic (materialization never changes values), and
    * the returned frame reads from the last pin, not a deep plan. */
  def iterateSteps(init: DataFrame, step: DataFrame => DataFrame,
                   numSteps: Int): DataFrame = {
    require(numSteps > 0, "numSteps must be positive")
    (0 until numSteps).foldLeft(init) { (cur, i) =>
      val next = step(cur)
      if ((i + 1) % StepsPerPin == 0 || i == numSteps - 1) next.materialized()
      else next
    }
  }
}
