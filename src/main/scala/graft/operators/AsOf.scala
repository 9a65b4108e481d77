package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join — for each left row, the latest right row
  * with rightTs ≤ leftTs per key (the training-data feature-lookup /
  * pandas merge_asof shape; builder brief "operators Spark lacks").
  *
  * Spark-first composition rather than a range join: tag both sides,
  * union them, sort per key by (ts, side) with right rows first at equal
  * timestamps (inclusive ≤ semantics), and carry the right payload
  * forward with last(ignoreNulls) over the running frame. ONE shuffle on
  * the key, linear scan within partitions — no range-condition join
  * (which Spark would plan as a per-key cartesian) and no candidate
  * explosion at any scale. Right rows must be unique per (key, ts);
  * pre-dedup with [[Windows.dedupLatest]] to pin ties.
  *
  * Nulls follow SQL: a null key equals no key and a null timestamp is
  * at-or-before nothing, so a right row with either can never match and
  * is dropped before the union (kept, a null-key right row would match
  * every null-key left row in the shared null partition, and a null-ts
  * one sorts first and would carry to every left row of its key). A
  * left row with either is kept and gets null payload.
  */
object AsOf {

  /** @param left       probe side
    * @param right      reference side (unique per key+ts)
    * @param keys       equi-key column names present on both sides
    * @param leftTs     left timestamp column name
    * @param rightTs    right timestamp column name
    * @param rightVals  right payload columns to attach (null when no
    *                   right row is at or before the left timestamp)
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String,
               rightVals: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    require(rightVals.intersect(leftCols).isEmpty,
      s"rightVals collide with left columns: ${rightVals.intersect(leftCols).mkString(", ")}" +
        " — rename the right payload before joining")
    // The right payload travels as ONE struct carried by a single
    // last(ignoreNulls): the output row gets all payload columns from the
    // SAME matched right row. Carrying columns independently would let a
    // genuinely-null payload column backfill from an older right row,
    // mixing two right rows in one output row.
    val payType = org.apache.spark.sql.types.StructType(
      rightVals.map(c => right.schema(c).copy(name = c)))
    val l = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1))
      .select((keys.map(col) :+ col("__ts") :+ col("__side")) ++
        leftCols.filterNot(keys.contains).map(col) :+
        lit(null).cast(payType).as("__rpay"): _*)
    val r = right
      .filter((keys :+ rightTs).map(col(_).isNotNull).reduce(_ && _))
      .withColumn("__ts", col(rightTs))
      .withColumn("__side", lit(0))
      .select((keys.map(col) :+ col("__ts") :+ col("__side")) ++
        leftCols.filterNot(keys.contains)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(rightVals.map(col): _*).as("__rpay"): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__rpay", last(col("__rpay"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        rightVals.map(c => col("__rpay")(c).as(c)): _*)
  }
}
