package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.{Inner, JoinType, LeftAnti, LeftOuter, LeftSemi}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rule-table join family (SURVEY.md §2.3 J5/J7/J8/J13/J16).
  *
  * Scale notes: rule/band tables are small config tables in the reference
  * (tens of rows), so every non-equi join here broadcasts the rule side —
  * BroadcastNestedLoopJoin over a broadcast of N≈10s rows is a per-row
  * predicate scan, no shuffle of the fact table at all. Never call these
  * with a large `rules` side.
  */
object RuleJoins {

  /** `'*'`-wildcard match predicate: rule cell `"*"` matches anything
    * (ref: bof_30_migrate.scala:64-78). */
  def wildcardMatch(ruleCol: Column, factExpr: Column): Column =
    when(ruleCol === "*", lit(true)).otherwise(ruleCol === factExpr)

  /** Wildcard rule join + priority selection (J7+J16+W1): left-join fact to
    * a small rule table on wildcard conjunctions, then keep only the
    * best-priority rule per fact key — `rank()==1`, deliberately keeping
    * ties, exactly like the reference (bof_30_migrate.scala:64-110).
    *
    * @param factKeyCols  fact columns identifying one fact row (window partition)
    * @param priority     rule-priority column (ascending = best first)
    */
  def wildcardRuleJoin(fact: DataFrame, rules: DataFrame, cond: Column,
                       factKeyCols: Seq[String], priority: Column): DataFrame = {
    val joined = fact.join(broadcast(rules), cond, "left")
    val w = Window.partitionBy(factKeyCols.map(fact(_)): _*).orderBy(priority.asc_nulls_last)
    Windows.keepTopRanked(joined, w)
  }

  /** Range/band join (J8; ref: bof_30_migrate.scala:1098-1103 PROFIT_CTR
    * between BLOPRCTR..BHIPRCTR): left join fact to broadcast band table. */
  def rangeJoin(fact: DataFrame, bands: DataFrame, value: Column,
                lo: Column, hi: Column, joinType: String = "left"): DataFrame =
    fact.join(broadcast(bands), value >= lo && value <= hi, joinType)

  /** Full-outer merge with per-column coalesce — the upsert pattern (J5;
    * ref: `joinIngestBofs`, bof_30_migrate.scala:38-52). Null-safe key
    * equality; columns present on both sides prefer `incoming`.
    *
    * Both sides are aliased before the join: when `existing` and `incoming`
    * derive from the same scan (the common snapshot-vs-staging case) raw
    * attribute references are ambiguous — alias-qualified names are not. */
  def outerCoalesceMerge(existing: DataFrame, incoming: DataFrame,
                         keys: Seq[String]): DataFrame = {
    val l = existing.alias("__mrg_l")
    val r = incoming.alias("__mrg_r")
    def lc(c: String): Column = col(s"__mrg_l.$c")
    def rc(c: String): Column = col(s"__mrg_r.$c")
    val cond = keys.map(k => lc(k) <=> rc(k)).reduce(_ && _)
    val cols = (existing.columns ++ incoming.columns).distinct.map { c =>
      if (!existing.columns.contains(c)) rc(c).as(c)
      else if (!incoming.columns.contains(c)) lc(c).as(c)
      else coalesce(rc(c), lc(c)).as(c)
    }
    l.join(r, cond, "outer").select(cols.toSeq: _*)
  }

  /** Manual salted skew join (J13; ref: `sas_conversion_with_manual_salt_
    * skewed_join.sql:30,180,191-206`): fact rows get a seeded random salt in
    * [0,n), the dim side is replicated n ways via crossJoin with a salt
    * range, and the join key becomes (key, salt). AQE's skew-join handling
    * supersedes this at runtime (GraftSession enables it); the helper exists
    * for capability parity and for engines/paths where AQE is off.
    *
    * Deterministic given `seed`. Dim replication multiplies the dim side
    * n-fold and shuffles it on (key, salt) — size n to the observed skew
    * (the reference uses 16), not larger. `factKey`/`dimKey` may differ
    * (l_orderkey vs o_orderkey); the dim's key column is dropped from the
    * output, like USING-join semantics.
    *
    * `joinType` is inner, left, left_semi or left_anti: each fact row
    * meets exactly one salt replica of its dim rows, so those four equal
    * the plain join. A join that keeps unmatched dim rows (right, full)
    * would emit each such row once per replica, so it is rejected. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                 dimKey: String, n: Int, seed: Long = 42L,
                 joinType: String = "inner"): DataFrame = {
    require(n > 0)
    JoinType(joinType) match {
      case Inner | LeftOuter | LeftSemi | LeftAnti =>
      case _ => throw new IllegalArgumentException(
        s"saltedJoin cannot run a '$joinType' join: the dim side is replicated " +
          s"$n ways, so a dim row no fact row matches would come out once per " +
          "salt replica. Use inner, left, left_semi or left_anti.")
    }
    // internal rename avoids output duplication when factKey == dimKey
    val dimTmpKey = "__salt_dim_key"
    val salted   = fact.withColumn("__fsalt", (rand(seed) * n).cast("int"))
    val saltVals = dim.sparkSession.range(n.toLong)
      .select(col("id").cast("int").as("__dsalt"))
    val dimRep   = dim.withColumnRenamed(dimKey, dimTmpKey)
      .crossJoin(broadcast(saltVals))
    salted.join(dimRep,
        salted(factKey) === dimRep(dimTmpKey) && col("__fsalt") === col("__dsalt"),
        joinType)
      .drop("__fsalt", "__dsalt", dimTmpKey)
  }
}
