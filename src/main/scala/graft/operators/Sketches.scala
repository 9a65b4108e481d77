package graft.operators

import graft.core.Materialize.MaterializeOps
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Bounded-memory frequency sketches — the "find the hot keys without
  * grouping by the key" family.
  *
  * At 100 TB a `groupBy(key)` over a high-cardinality key shuffles (and
  * spills) one row per distinct key per partition; when the point of the
  * query is only the handful of HEAVY keys (skew diagnosis, stop-word
  * discovery, abuse detection), a Misra-Gries pass bounds executor
  * memory at k counters and the shuffle at partitions·k rows, and a
  * second exact pass over just the candidates makes the answer exact —
  * the sketch never decides the output, only prunes the work.
  */
object Sketches {

  /** Per-partition Misra-Gries summary (capacity k): processes the
    * iterator with at most k counters; any item whose LOCAL count
    * exceeds localN/k survives. mapPartitions is the right tool here —
    * this is genuinely imperative per-partition state (a bounded counter
    * map), not row-at-a-time logic a Column could express. */
  private def mgSummary(it: Iterator[String], k: Int): Iterator[(String, Long)] = {
    val counters = new java.util.HashMap[String, Long](k * 2)
    var localN = 0L
    while (it.hasNext) {
      val x = it.next()
      if (x != null) {
        localN += 1
        val c = counters.get(x)
        if (c != 0L || counters.containsKey(x)) counters.put(x, c + 1)
        else if (counters.size < k) counters.put(x, 1L)
        else {
          // decrement-all, dropping zeros (amortized O(1) per row)
          val iter = counters.entrySet().iterator()
          while (iter.hasNext) {
            val e = iter.next()
            if (e.getValue == 1L) iter.remove() else e.setValue(e.getValue - 1)
          }
        }
      }
    }
    val out = Seq.newBuilder[(String, Long)]
    counters.keySet().forEach(key => out += ((key, 0L)))
    out += ((null, localN)) // one local-total row per partition
    out.result().iterator
  }

  /** EXACT heavy hitters — every key with count·k > total row count
    * (frequency strictly above n/k) — in two passes:
    *
    * 1. candidate pass: per-partition Misra-Gries (capacity k). A
    *    globally heavy key is locally heavy in ≥1 partition (if its
    *    local count were ≤ localN/k everywhere, summing gives global
    *    ≤ n/k), so the union of partition summaries is a SUPERSET of
    *    the answer. Shuffle: ≤ partitions·k candidate rows + one
    *    local-count row per partition.
    * 2. exact pass: count ONLY candidate-keyed rows (broadcast semi
    *    join) and keep those with cnt·k > n — integer arithmetic, no
    *    division, so the threshold is exact in any engine.
    *
    * NULL keys are ignored (a NULL is not a key). Output:
    * (keyCol STRING, cnt LONG), exact — order-of-arrival inside the
    * sketch never affects the result, only which non-answers get
    * pruned early. */
  def heavyHitters(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k > 1, "heavyHitters needs k > 1")
    val spark = df.sparkSession
    import spark.implicits._
    val keys: Dataset[String] =
      df.select(col(keyCol).cast("string")).as[String]
    // materialize the tiny summary (≤ partitions·(k+1) rows) ONCE —
    // candidates and total are two consumers, and without this each
    // re-runs the full sketch scan, making three input passes of the
    // documented two
    val summary = keys.mapPartitions(it => mgSummary(it, k))
      .toDF("__key", "__local_n")
      .materialized(eager = true)
    val candidates = summary.filter(col("__key").isNotNull)
      .select(col("__key").as(keyCol)).distinct()
    val total = summary.filter(col("__key").isNull)
      .agg(sum(col("__local_n")).as("__n"))
    df.select(col(keyCol).cast("string").as(keyCol))
      .filter(col(keyCol).isNotNull)
      .join(broadcast(candidates), keyCol)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") * k > col("__n"))
      .select(col(keyCol), col("cnt"))
  }

  // ---- Count-min sketches (spark-sketch, the same serialized form the
  // SQL `count_min_sketch` aggregate emits): mergeable FREQUENCY
  // sketches — the per-key count complement of HLL (distinct) / KLL
  // (quantiles) / theta (set algebra; Spark's `theta_*` built-ins).
  // Merging is element-wise table addition, so it is exact and
  // order-insensitive; the estimate's
  // guarantee is one-sided (never under the true count, over by at most
  // ε·N with the sketch's confidence — deterministic once the seed is
  // fixed).

  import org.apache.spark.util.sketch.CountMinSketch

  /** Merge two serialized count-min sketches (empty = identity). */
  def cmsMergeBytes(x: Array[Byte], y: Array[Byte]): Array[Byte] =
    if (x == null || x.isEmpty) { if (y == null) Array.emptyByteArray else y }
    else if (y == null || y.isEmpty) x
    else CountMinSketch.readFrom(x)
      .mergeInPlace(CountMinSketch.readFrom(y)).toByteArray

  /** Frequency estimate of a string key in a serialized sketch. */
  def cmsEstimateString(b: Array[Byte], key: String): Long =
    if (b == null || b.isEmpty || key == null) 0L
    else CountMinSketch.readFrom(b).estimateCount(key)

  /** Typed merge Aggregator over serialized count-min sketches. Only
    * ever folds SMALL sketch frames (one row per stored group), never
    * raw rows. */
  private object CmsMergeAgg extends org.apache.spark.sql.expressions.Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    def zero: Array[Byte] = Array.emptyByteArray
    def reduce(b: Array[Byte], a: Array[Byte]): Array[Byte] = cmsMergeBytes(b, a)
    def merge(x: Array[Byte], y: Array[Byte]): Array[Byte] = cmsMergeBytes(x, y)
    def finish(r: Array[Byte]): Array[Byte] = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
  }

  private lazy val cmsMergeUdaf =
    udaf(CmsMergeAgg, org.apache.spark.sql.Encoders.BINARY)

  /** Column aggregate: merge of a binary serialized count-min-sketch
    * column. */
  def cmsMerge(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    cmsMergeUdaf(c)

  /** Column form of [[cmsEstimateString]] for joining a stored sketch
    * against a (small) key frame. */
  lazy val cmsEstimateUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((b: Array[Byte], key: String) => cmsEstimateString(b, key))
}
