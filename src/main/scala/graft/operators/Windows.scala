package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Window-function operator helpers (SURVEY.md §2.5).
  *
  * Scale notes: every helper here shuffles once on its partition keys and
  * keeps the sort inside the window exchange — no extra repartition. Global
  * (un-partitioned) windows funnel to a single task; callers at 100 TB must
  * supply partition keys or pre-aggregate first (the helpers that allow a
  * global window are for small post-aggregation frames, as in the reference
  * `usage_analysis.py:173-177`).
  */
object Windows {

  /** Keep the latest row per key — the reference's core SCD dedup
    * (ref: `servicenow_api_extract.py:2334-2349`, W2). `order` columns are
    * applied descending with a deterministic total order expected from the
    * caller (pin a tiebreak column!). */
  def dedupLatest(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** rank()==1 filter that deliberately KEEPS ties (ref: bof_30_migrate
    * rule-priority selection `:79-81` uses rank, not row_number; W1). */
  def keepTopRanked(df: DataFrame, w: WindowSpec): DataFrame =
    df.withColumn("__rank", rank().over(w))
      .filter(col("__rank") === 1)
      .drop("__rank")

  /** Cumulative sum column (W5; ref: `usage_analysis.py:173-177`). */
  def cumulativeSum(value: Column, partitionBy: Seq[Column], orderBy: Seq[Column]): Column = {
    val base = if (partitionBy.isEmpty) Window.orderBy(orderBy: _*)
               else Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    sum(value).over(base.rowsBetween(Window.unboundedPreceding, Window.currentRow))
  }

  /** Lag-N feature columns (W4; modern form of the reference's 10-way
    * rank-offset self-join, `automl_linearreg_process_stocks.py:100-211`,
    * J6 — one window sort instead of 10 shuffled joins). */
  def lagFeatures(df: DataFrame, value: Column, orderBy: Seq[Column],
                  lags: Seq[Int], prefix: String,
                  partitionBy: Seq[Column] = Nil): DataFrame = {
    val base = if (partitionBy.isEmpty) Window.orderBy(orderBy: _*)
               else Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    lags.foldLeft(df)((d, n) => d.withColumn(s"$prefix$n", lag(value, n).over(base)))
  }

  /** Global row_number WITHOUT a single-task sort: range-partition on the
    * order keys (order-contiguous partitions), rank locally per partition,
    * then add the cumulative row count of earlier partitions — a tiny
    * P-row frame, broadcast back. Exact when `orderBy` is a strict total
    * order (pin a tiebreak column). This is the 100 TB replacement for
    * `Window.orderBy(...)` global ranks, which funnel the whole relation
    * into one task. */
  def globalRowNumber(df: DataFrame, orderBy: Seq[Column],
                      rankCol: String, numParts: Int = 0): DataFrame = {
    val withLocal = localRanked(df, orderBy, resolveParts(df, numParts))
    val counts = withLocal.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
    val cum = Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts // P rows — the global window here is tiny by design
      .withColumn("__off", coalesce(sum(col("__cnt")).over(cum), lit(0L)))
      .select(col("__pid"), col("__off"))
    withLocal.join(broadcast(offsets), "__pid")
      .withColumn(rankCol, col("__lrn") + col("__off"))
      .drop("__pid", "__lrn", "__off")
  }

  private def resolveParts(df: DataFrame, numParts: Int): Int =
    if (numParts > 0) numParts
    else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** Shared scaffold of the global-rank family. ONE shuffle: range
    * partition + in-partition sort. The local rank (`__lrn`, 1-based, per
    * range partition `__pid`) comes from monotonically_increasing_id's
    * documented layout (partition index << 33 | in-partition record
    * offset) instead of a Window.partitionBy(pid), which would re-shuffle
    * the whole relation a second time on pid. */
  private def localRanked(df: DataFrame, orderBy: Seq[Column],
                          parts: Int): DataFrame = {
    val mask = (1L << 33) - 1
    df.repartitionByRange(parts, orderBy: _*)
      .sortWithinPartitions(orderBy: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", call_function("shiftright", col("__mid"), lit(33)))
      .withColumn("__lrn", col("__mid").bitwiseAND(lit(mask)) + 1)
      .drop("__mid")
  }

  /** Global row_number PLUS a running sum of `value` in `orderBy` order,
    * with no unpartitioned window over the relation — the 100 TB form of
    * `sum(v).over(Window.orderBy(...))` cumulative shares (e.g. the
    * vocabulary-coverage curve, where the "frame" is every distinct token
    * of a web corpus — itself hundreds of millions of rows). Same range
    * partition + broadcast offsets scheme as [[globalRowNumber]]; the
    * in-partition prefix sum runs under a window KEYED by the partition
    * id, so the only whole-relation exchanges are the range partition and
    * the pid hash — both bounded at |relation|/P rows per task. Exact when
    * `orderBy` is a strict total order. NULL `value`s count as zero in
    * the running sum (the single-task window form would instead carry
    * NULL until the first non-null — callers needing that distinction
    * should filter or flag nulls first). */
  def globalOrderedCumSum(df: DataFrame, orderBy: Seq[Column], value: Column,
                          rankCol: String, cumCol: String,
                          numParts: Int = 0): DataFrame = {
    val withLocal = localRanked(df, orderBy, resolveParts(df, numParts))
      .withColumn("__val", coalesce(value, lit(0)))
    val counts = withLocal.groupBy(col("__pid"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__val")).as("__vsum"))
    val cum = Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts // P rows — the global window here is tiny by design
      .withColumn("__off", coalesce(sum(col("__cnt")).over(cum), lit(0L)))
      .withColumn("__voff", sum(col("__vsum")).over(cum))
      .select(col("__pid"), col("__off"), col("__voff"))
    val local = Window.partitionBy(col("__pid")).orderBy(col("__lrn"))
      .rowsBetween(Window.unboundedPreceding, 0)
    withLocal.join(broadcast(offsets), "__pid")
      .withColumn(rankCol, col("__lrn") + col("__off"))
      .withColumn(cumCol,
        sum(col("__val")).over(local) + coalesce(col("__voff"), lit(0)))
      .drop("__pid", "__lrn", "__val", "__off", "__voff")
  }

  /** Exact sliding RANGE-frame sum for LOW-CARDINALITY partition keys —
    * the two-level re-aggregation form of
    * `sum(v).over(Window.partitionBy(keys).orderBy(ts).rangeBetween(-w, 0))`.
    *
    * A keyed window's parallelism is min(cores, distinct keys): with 5
    * keys over 100 TB, five tasks would each buffer and scan billions of
    * rows (SCALING.md ×100: the w6b 22.6× row). Here the only
    * whole-relation shuffle is a hash aggregate to per-(key, tick)
    * partial sums — fully parallel — and the keyed RANGE window then runs
    * over that COLLAPSED frame, whose size per key is bounded by distinct
    * time ticks (86 400/day at second granularity), not rows. The per-row
    * result joins back on (key, tick). Exact because frame boundaries lie
    * on tick granularity: a row's [t−w, t] frame contains whole ticks.
    *
    * `tsTickCol` must be an integral tick column (e.g. epoch seconds);
    * `windowTicks` the frame width in the same unit. Use a decimal-image
    * `value` (see [[graft.queries.dec]]) when bit-stable sums matter. */
  def slidingRangeSum(df: DataFrame, keys: Seq[String], tsTickCol: String,
                      value: Column, windowTicks: Long,
                      outCol: String): DataFrame = {
    val gcols = keys :+ tsTickCol
    val perTick = df.groupBy(gcols.map(col): _*).agg(sum(value).as("__v"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsTickCol))
      .rangeBetween(-windowTicks, 0)
    val slid0 = perTick.withColumn(outCol, sum(col("__v")).over(w)).drop("__v")
    // null-safe equi-join: groupBy and Window.partitionBy both treat NULL
    // keys/ticks as a regular group, so the join-back must too — a plain
    // equi-join would silently DROP null-keyed rows the direct window
    // form emits (same shuffle: hash(<=>) co-partitions like hash(=))
    val slid = gcols.foldLeft(slid0) { (d, c) => d.withColumnRenamed(c, s"__r_$c") }
    val cond = gcols.map(c => df(c) <=> slid(s"__r_$c")).reduce(_ && _)
    df.join(slid, cond).drop(gcols.map(c => s"__r_$c"): _*)
  }

  /** Exact sliding RANGE-frame DISTINCT count for LOW-CARDINALITY
    * partition keys — the scalable form of
    * `size(collect_set(x)).over(Window.partitionBy(keys).orderBy(ts).rangeBetween(-w, 0))`
    * (SQL `COUNT(DISTINCT x) OVER (... RANGE BETWEEN w PRECEDING AND
    * CURRENT ROW)`).
    *
    * Distinct counts don't decompose into per-tick partials the way sums
    * do ([[slidingRangeSum]]), so the two-level trick needs a different
    * algebra — COVERAGE intervals. A value x occurring at ticks
    * t₁ < t₂ < … is counted in the window ending at t iff
    * t ∈ ∪ᵢ [tᵢ, tᵢ+w]. Right endpoints increase with i, so interval i's
    * overlap with the union of its predecessors is exactly its overlap
    * with interval i−1, giving an exact delta decomposition:
    *
    *   +1 at tᵢ, −1 at tᵢ+w+1                    for every occurrence
    *   −1 at tᵢ, +1 at tᵢ₋₁+w+1  when tᵢ ≤ tᵢ₋₁+w (the pairwise overlap)
    *
    * and `count_distinct(window ending at t) = Σ deltas at ticks ≤ t`.
    *
    * Cost shape at 100 TB: one whole-relation hash aggregate to distinct
    * (keys, x, tick) occurrences; a window KEYED BY (keys, x) for the
    * `lag` (parallelism = distinct values, not distinct keys — the
    * opposite of the direct form's bottleneck); a hash aggregate of
    * deltas to (keys, tick); a running sum over the COLLAPSED per-tick
    * frame (bounded by distinct ticks/key, 86 400/day at second
    * granularity); one join back per row. Nothing buffers a
    * rows-proportional frame. The direct form measured 26× at ×100
    * twins (SCALING.md) because 5 keyed tasks each re-scan a
    * copy-proportional set frame per row.
    *
    * Semantics matched to the direct form: NULL `x` never counts
    * (collect_set / COUNT(DISTINCT) drop nulls); NULL-tick rows form one
    * peer group per key counting that group's distinct values (SQL RANGE
    * treats NULL ordering values as mutual peers); NULL keys are a
    * regular group (null-safe join-back, as in [[slidingRangeSum]]). */
  def slidingDistinctCount(df: DataFrame, keys: Seq[String], tsTickCol: String,
                           distinctCol: String, windowTicks: Long,
                           outCol: String): DataFrame = {
    val gcols = keys :+ tsTickCol
    val kcols = keys.map(col)
    val wPlus1 = lit(windowTicks + 1L)
    // distinct occurrence ticks per (keys, value) — the only
    // whole-relation aggregate; everything after is occurrence-sized
    val occ = df.filter(col(distinctCol).isNotNull && col(tsTickCol).isNotNull)
      .select((keys :+ distinctCol :+ tsTickCol).map(col): _*)
      .distinct()
      .withColumn("__t", col(tsTickCol).cast("long"))
    val byVal = Window.partitionBy((keys :+ distinctCol).map(col): _*)
      .orderBy(col("__t"))
    val withPrev = occ.withColumn("__prev", lag(col("__t"), 1).over(byVal))
    val baseEvents = array(
      struct(col("__t").as("t"), lit(1L).as("d")),
      struct((col("__t") + wPlus1).as("t"), lit(-1L).as("d")))
    val overlapEvents = when(
      col("__prev").isNotNull && col("__t") <= col("__prev") + lit(windowTicks),
      array(
        struct(col("__t").as("t"), lit(-1L).as("d")),
        struct((col("__prev") + wPlus1).as("t"), lit(1L).as("d"))))
      .otherwise(array().cast("array<struct<t:long,d:long>>"))
    val deltas = withPrev
      .select((kcols :+ explode(concat(baseEvents, overlapEvents)).as("__e")): _*)
      .select((kcols :+ col("__e.t").as("__t") :+ col("__e.d").as("__d")): _*)
    // tick universe must include event ticks with no delta of their own
    // (e.g. all-null values at that tick) so the join-back never drops a
    // row; zero-delta rows union in and the aggregate collapses them
    val evTicks = df.filter(col(tsTickCol).isNotNull)
      .select(gcols.map(col): _*).distinct()
      .select((kcols :+ col(tsTickCol).cast("long").as("__t")): _*)
      .withColumn("__d", lit(0L))
    val perTick = deltas.unionByName(evTicks)
      .groupBy((kcols :+ col("__t")): _*).agg(sum(col("__d")).as("__d"))
    val run = Window.partitionBy(kcols: _*).orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val counted = perTick.withColumn(outCol, sum(col("__d")).over(run))
      .drop("__d")
    // NULL-tick peer group: distinct values among the key's null-tick rows
    val nullTicks = df.filter(col(tsTickCol).isNull)
      .groupBy(kcols: _*)
      .agg(count_distinct(col(distinctCol)).as(outCol))
      .withColumn("__t", lit(null).cast("long"))
      .select((kcols :+ col("__t") :+ col(outCol)): _*)
    val slid0 = counted.unionByName(nullTicks)
    val slid = keys.foldLeft(slid0) { (d, c) => d.withColumnRenamed(c, s"__r_$c") }
    val cond = (keys.map(c => df(c) <=> slid(s"__r_$c")) :+
      (df(tsTickCol).cast("long") <=> slid("__t"))).reduce(_ && _)
    df.join(slid, cond)
      .drop((keys.map(c => s"__r_$c") :+ "__t"): _*)
  }

  /** Exact NTILE(k) built on [[globalRowNumber]] — same tile assignment as
    * `ntile(k).over(Window.orderBy(...))` (first n%k tiles are one row
    * larger), with no single-task global sort. */
  def scalableNtile(df: DataFrame, orderBy: Seq[Column], k: Int,
                    tileCol: String): DataFrame = {
    val ranked = globalRowNumber(df, orderBy, "__grn")
    val total = ranked.agg(count(lit(1)).as("__n"))
    val size = (col("__n") / k).cast("long")
    val rem = col("__n") % k
    val big = size + 1
    val tile = when(lit(true) && size === 0, col("__grn"))
      .when(col("__grn") <= big * rem, ((col("__grn") - 1) / big).cast("long") + 1)
      .otherwise(rem + ((col("__grn") - 1 - big * rem) / size).cast("long") + 1)
    ranked.crossJoin(broadcast(total))
      .withColumn(tileCol, tile.cast("int"))
      .drop("__grn", "__n")
  }

  /** Gaps-and-islands run-group id (W8): a new group starts where
    * `newGroupFlag` is 1; returns df + `groupCol` id assigned per partition
    * key in `orderBy` order (ref: `automl…py:327-375` streaks;
    * `overlap_query…sql:36-108` sweep-line). */
  def runGroups(df: DataFrame, newGroupFlag: Column, groupCol: String,
                partitionBy: Seq[Column], orderBy: Seq[Column]): DataFrame = {
    val base = if (partitionBy.isEmpty) Window.orderBy(orderBy: _*)
               else Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
    df.withColumn(groupCol,
      sum(newGroupFlag).over(base.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }
}
