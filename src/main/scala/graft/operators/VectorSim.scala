package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`) — the
  * training-data-pipeline ANN operators (builder brief).
  *
  * All math is double precision with sequential left-to-right sums, no
  * UDFs, so results are bit-deterministic. [[cosine]] and
  * [[srpBandKeys]] are native expressions with their own codegen. The
  * `zip_with`/`aggregate`/`transform` forms ([[dotFold]], [[sq8]],
  * [[sq8Cosine]], [[asDouble]]) are Spark higher-order functions, which
  * are `CodegenFallback`: they run interpreted, one lambda call per
  * element. The scale design: the query side is broadcast (it is the
  * small side by construction), and the corpus is never shuffled whole,
  * because top-k is Spark's `WindowGroupLimit` ([[topKPerQuery]]).
  */
object VectorSim {

  /** Cast a float vector column to double for exact, engine-portable math. */
  def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Sequential left-fold dot product over double arrays — the ONE
    * definition of the zip_with+aggregate kernel whose IEEE sum order
    * must bit-match DuckDB's list_dot_product (kmeans distances, rag
    * cosines). Every catalog query needing a plain dot uses this; do
    * not re-inline the lambda form. */
  def dotFold(a: Column, b: Column): Column = aggregate(
    zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity — native single-pass expression (floats widen
    * exactly; identical IEEE result to sequential dot products). See
    * [[graft.functions.CosineSim]] for why not zip_with+aggregate. */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.GraftSql.column(graft.functions.CosineSim(
      org.apache.spark.sql.graft.GraftSql.expression(a),
      org.apache.spark.sql.graft.GraftSql.expression(b)))

  /** Exact top-k per query: `row_number` over (score desc, id) per
    * query, kept where ≤ k. That order is strict within a query, so the
    * output is deterministic. A NULL or NaN score (a null or zero vector
    * has no direction) is nobody's neighbour: it ranks last and is
    * dropped after ranking, because a filter before the window would
    * evaluate the score expression again. Spark's `InferWindowGroupLimit`
    * plans a partial `WindowGroupLimit` before the query-keyed exchange,
    * so each input partition ships at most k rows per query and no task
    * receives a query's whole candidate set. That holds while k is at
    * most `spark.sql.optimizer.windowGroupLimitThreshold` (default 1000);
    * above it the candidates shuffle whole. */
  def topKPerQuery(scored: DataFrame, queryCol: String, scoreCol: String,
                   idCol: String, k: Int): DataFrame = {
    val score = col(scoreCol)
    scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col(queryCol))
        .orderBy(nanvl(score, lit(null)).desc_nulls_last, col(idCol))))
      .filter(col("rnk") <= k && score.isNotNull && !isnan(score))
  }

  /** Brute-force cosine top-k: broadcast the (small) query set against the
    * corpus — a BroadcastNestedLoopJoin, zero corpus shuffle — then
    * [[topKPerQuery]]. Output: (q_id, rnk, nn_id, cos). */
  def bruteForceCosineTopK(corpus: DataFrame, queries: DataFrame,
                           idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
    topKPerQuery(scored, "q_id", "cos", "nn_id", k)
      .select(col("q_id"), col("rnk"), col("nn_id"), col("cos"))
  }

  /** Embedding near-duplicate pairs within IVF cells: all (a < b) pairs
    * in the same cell with cosine ≥ threshold — the cell restriction is
    * the blocking that keeps pairwise work quadratic only within a cell
    * (cells are capacity-bounded in a real IVF index), never across the
    * corpus. Output: (a, b, cos). */
  def cellCosinePairs(corpus: DataFrame, idCol: String, vecCol: String,
                      cellCol: String, threshold: Double): DataFrame = {
    // Exact-dup collapse (TextDedup.collapseExactDups) keyed on
    // (vector, cell) — the full derivation signature of this pipeline:
    // bucketing uses the cell, scoring the vector, so (vector,
    // cell)-identical rows are interchangeable, while equal vectors in
    // different cells are not. A re-crawled corpus (K byte-identical
    // copies per doc) would otherwise pay K² cosines inside every cell
    // (measured: 38× wall at ×30 twins before the collapse). The
    // threshold filter runs AFTER the expansion, so intra-group pairs
    // are filtered on their computed self-cosine exactly like the
    // uncollapsed plan (a zero-norm vector's NaN self-cosine still
    // fails every threshold).
    val v0 = corpus.select(col(idCol), col(cellCol), col(vecCol))
    val c = TextDedup.collapseExactDups(v0, idCol,
      Seq(col(vecCol), col(cellCol)), "cos", cosine(col(vecCol), col(vecCol)))
    val v = c.reps.select(col(idCol).as("__id"), col(cellCol).as("__cell"),
      col(vecCol).as("__v"))
    val repPairs = TextDedup.bucketPairs(v, v, "__id", Seq("__cell"), TextDedup.Lower,
      out = (x, y) => Seq(cosine(x("__v"), y("__v")).as("cos")))
    c.expand(repPairs).filter(col("cos") >= threshold)
  }

  /** IVF-style ANN: the corpus is pre-partitioned into cells (here the
    * `cellCol`, in a real pipeline the nearest-centroid id) and each query
    * probes only its own cell — an equi-join on the cell key that
    * co-partitions queries with their cell (nprobe=1). Exact within the
    * probed cell; the IVF approximation is the cell restriction itself. */
  /** The one cell-blocked scoring kernel: same-cell equi-join of corpus
    * against queries (self-pairs excluded) with the cosine attached;
    * the corpus id column comes out as `outIdAs`. Shared by
    * [[ivfCosineTopK]] and [[ivfHardNegatives]] so join/column hygiene
    * fixes land once. */
  private def cellScored(corpus: DataFrame, queries: DataFrame,
                         idCol: String, vecCol: String, cellCol: String,
                         outIdAs: String): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(cellCol).as("__qcell"),
      col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as(outIdAs), col(cellCol).as("__ccell"),
      col(vecCol).as("__cv"))
    c.join(q, col("__qcell") === col("__ccell") &&
        col(outIdAs) =!= col("q_id"))
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
  }

  def ivfCosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, cellCol: String, k: Int): DataFrame = {
    val scored = cellScored(corpus, queries, idCol, vecCol, cellCol, "nn_id")
    topKPerQuery(scored, "q_id", "cos", "nn_id", k)
      .select(col("q_id"), col("rnk"), col("nn_id"), col("cos"))
  }

  /** Hard-negative mining for contrastive training: per query, the k
    * most-confusable NON-neighbors — vectors in the query's own cell
    * with cosine inside [lo, hi): close enough to teach the margin,
    * below the near-duplicate band so they are genuinely negative.
    * Same scale shape as [[ivfCosineTopK]]: cell-blocked equi-join
    * (never all-pairs), per-query top-k. */
  def ivfHardNegatives(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, cellCol: String, lo: Double,
                       hi: Double, k: Int): DataFrame = {
    val scored = cellScored(corpus, queries, idCol, vecCol, cellCol, "neg_id")
      .filter(col("cos") >= lo && col("cos") < hi)
    topKPerQuery(scored, "q_id", "cos", "neg_id", k)
      .select(col("q_id"), col("rnk"), col("neg_id"), col("cos"))
  }

  /** Element-wise EXACT-integer-micro means per (cell, dim) — the
    * k-means/IVF centroid kernel, in distribution form (posexplode, one
    * keyed shuffle with map-side partials, never a collect_list of
    * vectors). The mean must stay in integer micro domain: decimal sum
    * ×1e6 is an exact long and the single double floor-division is
    * bit-identical in any engine, whereas decimal-QUOTIENT scales
    * differ across engines at half-micro boundaries (measured: a
    * 1-micro cross-engine mismatch). Both centroid catalog queries
    * share this ONE implementation so the expression cannot drift.
    * Output: (cellCol, pos, n, mean_micro). */
  def dimMicroMeans(df: DataFrame, cellCol: String, vecCol: String): DataFrame =
    df.select(col(cellCol),
        posexplode(asDouble(col(vecCol))).as(Seq("pos", "x")))
      .groupBy(col(cellCol), col("pos"))
      .agg(count(lit(1)).as("n"),
        (sum(col("x").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          * lit(1000000)).cast("long").as("__sm"))
      .withColumn("mean_micro",
        floor(col("__sm").cast("double") / col("n")).cast("long"))
      .drop("__sm")

  /** Per-vector max |x| — the SQ8 quantization scale (and the zero-vector
    * guard: a vector with maxAbs 0 has no direction and is excluded). */
  private def maxAbs(v: Column): Column =
    array_max(transform(asDouble(v), x => abs(x)))

  /** SQ8 scalar quantization: symmetric per-vector int8 codes
    * `floor(x·127/max|x| + 0.5)` — `floor(+0.5)` rather than `round` so
    * both engines run the identical IEEE sequence (round() half-away /
    * half-even varies by engine and type). The code array is
    * `array<tinyint>`: 1 byte/element vs 4 for float32 — the compact
    * index a 100 TB ANN pass scans instead of the fat vector column. */
  def sq8(v: Column): Column = {
    val vd = asDouble(v)
    // maxAbs must NOT appear inside the element lambda: HOF lambda bodies
    // evaluate per element (no subexpression elimination), which would
    // rescan the vector per element — O(dim²) per row on the whole-corpus
    // index build. array_repeat evaluates it once per ROW; zip_with then
    // reads it as a plain element — O(dim) total.
    val mxArr = array_repeat(maxAbs(v), size(vd))
    zip_with(vd, mxArr, (x, mx) =>
      floor(x * lit(127.0) / mx + lit(0.5)).cast("byte"))
  }

  /** Cosine over int8 code arrays. Every product and partial sum is an
    * integer ≤ 127²·dim — exact in long AND in double at any association
    * order, so the value is bit-identical across engines by construction
    * (no sequential-sum contract needed, unlike the float path). */
  def sq8Cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column = aggregate(
      zip_with(x, y, (p, q) => p.cast("long") * q.cast("long")),
      lit(0L), (acc, v) => acc + v)
    dot(a, b).cast("double") /
      (sqrt(dot(a, a).cast("double")) * sqrt(dot(b, b).cast("double")))
  }

  /** Quantized-index ANN: candidate generation runs ENTIRELY over the
    * int8 code index (id + dim bytes/row — 4× less data moved than
    * float32, the real 100 TB win), oversamples `oversample·k` candidates
    * per query by quantized cosine, then an equi-join rerank fetches the
    * full float vectors for ONLY those candidates and orders the final
    * top-k by exact cosine. The fat vector column never rides through the
    * candidate join; rerank input is ≤ oversample·k rows per query. */
  def sq8CosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, oversample: Int = 3): DataFrame = {
    val cIdx = corpus.filter(maxAbs(col(vecCol)) > 0)
      .select(col(idCol).as("nn_id"), sq8(col(vecCol)).as("__c8"))
    val qIdx = queries.filter(maxAbs(col(vecCol)) > 0)
      .select(col(idCol).as("q_id"), sq8(col(vecCol)).as("__q8"))
    val cand = cIdx.crossJoin(broadcast(qIdx))
      .filter(col("nn_id") =!= col("q_id"))
      .withColumn("__qcos", sq8Cosine(col("__q8"), col("__c8")))
    val pool = topKPerQuery(cand, "q_id", "__qcos", "nn_id", k * oversample)
      .select(col("q_id"), col("nn_id"))
    val qv = queries.select(col(idCol).as("q_id"), col(vecCol).as("__qv"))
    val cv = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("__cv"))
    val reranked = pool.join(cv, "nn_id").join(broadcast(qv), "q_id")
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
    topKPerQuery(reranked, "q_id", "cos", "nn_id", k)
      .select(col("q_id"), col("rnk"), col("nn_id"), col("cos"))
  }

  /** Multi-probe IVF ANN: each query probes its `nprobe` closest cells
    * instead of only its own — the standard recall knob. Cells are
    * ranked per query by cosine against a per-cell REPRESENTATIVE
    * vector (here the min-id member — deterministic and exactly
    * reproducible by any engine; a real index stores the k-means
    * centroid, same plan shape). The representative table is
    * cells-sized and broadcast; the chosen (query, cell) probe set then
    * equi-joins the corpus on the cell key, so corpus-side work scales
    * with nprobe/cells and the corpus itself never shuffles whole. Exact
    * within the probed cells. Probe choice ranks IEEE cosines with an
    * exact-equality cell tiebreak — the same cross-engine determinism
    * contract as every cosine-ranked catalog row (both engines compute
    * the identical sequential dot product). */
  def ivfCosineTopKMultiProbe(corpus: DataFrame, queries: DataFrame,
                              idCol: String, vecCol: String, cellCol: String,
                              k: Int, nprobe: Int): DataFrame = {
    // min_by aggregates with map-side partials (cells-sized shuffle) — a
    // row_number window here would shuffle AND sort the whole corpus
    val reps = corpus
      .groupBy(col(cellCol).as("__rcell"))
      .agg(min_by(col(vecCol), col(idCol)).as("__rv"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("__qv"))
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("__pcos").desc, col("__rcell"))
    val probes = q.crossJoin(broadcast(reps)) // queries × cells — tiny
      .withColumn("__pcos", cosine(col("__qv"), col("__rv")))
      .withColumn("__prn", row_number().over(probeW))
      .filter(col("__prn") <= nprobe)
      .select(col("q_id"), col("__qv"), col("__rcell").as("__qcell"))
    val c = corpus.select(col(idCol).as("nn_id"), col(cellCol).as("__ccell"),
      col(vecCol).as("__cv"))
    val scored = c.join(probes, col("__qcell") === col("__ccell") &&
        col("nn_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("__qv"), col("__cv")))
    topKPerQuery(scored, "q_id", "cos", "nn_id", k)
      .select(col("q_id"), col("rnk"), col("nn_id"), col("cos"))
  }

  /** SRP-LSH candidate generation (Charikar '02 random hyperplane
    * hashing) — the data-independent alternative to IVF banding: no
    * training pass, so it composes with incremental ingest (new vectors
    * band against a STABLE key space; an IVF index re-clusters).
    *
    * `nPlanes` deterministic hyperplanes → sign bits → `nPlanes /
    * bandBits` bands; vectors sharing any band key pair up via an
    * equi-join on (band_index, band_key) — never all-pairs. Recall is
    * set by (bands, bits): P(band match) = (1 − θ/π)^bandBits per band.
    * Cost is candidate-proportional BY CONTRACT — runtime tracks the
    * number of same-bucket pairs, which tracks near-dup density
    * (SCALING.md "round-9/10" tables carry the measured candidate
    * counts at ×10/×100).
    *
    * Hyperplane components are integer-arithmetic literals
    * (`((j·dims+d)·seedK mod 2001 − 1000)/1000`) that any engine
    * rebuilds bit-for-bit, so an external oracle can replicate the
    * full band chain. All band keys of a vector come from one native
    * expression ([[srpBandKeys]]): it builds the planes once, and each
    * row folds the vector against every plane with [[cosine]]'s
    * sequential dot/norm order, so the sign bit is bit-identical to
    * `cosine(vec, plane) >= 0` (sign(cos) == sign(dot) for nonzero
    * norms). No plane table, cross join or band aggregate is planned,
    * and a null vector yields no band rows. Trade: without the
    * aggregate's exchange for the self-join's two sides to share,
    * `emb` is scanned once per side.
    *
    * PRECONDITION: vectors should have nonzero norm — a zero vector
    * makes the cosine NaN, which SQL ordering ranks above 0, so it sets
    * every bit and collides with every all-ones band key; filter
    * zero-norm rows first (they carry no direction and belong in no
    * angular bucket).
    *
    * @param dedup  deduplicate (a, b) pairs that collide in several
    *               bands (one extra shuffle). Pass false to get the raw
    *               band-join volume — that raw count is the cost driver
    *               a capacity plan needs.
    *
    * CAPACITY RULE (bandBits vs corpus size), IMPLEMENTED AS THE
    * DEFAULT since round 14: a band key has 2^bandBits values, so
    * RANDOM collisions alone contribute ~bands·N²/2^(bandBits+1)
    * candidate pairs — quadratic in N for FIXED bandBits (birthday
    * model; measured on the mutated twin boards: 140k pairs at N=2k,
    * 14.1M at N=20k, 127.2M at N=60k, all at the old fixed 8-bit
    * default, wall flat at ~1-1.6 µs per candidate — the cost curve,
    * not the per-pair cost, was the scale problem). With bandBits and
    * bands left at their -1 defaults the operator SIZES ITSELF:
    *
    *   bandBits = max(8, ceilLog2(N) − 3)   // bucket occupancy O(10)
    *   bands    = max(4, bandBits − 4)      // recall bought back
    *   nPlanes  = bands · bandBits
    *
    * where N is `numVectors` if supplied (pass the PRE-collapse corpus
    * count when banding collapsed representatives, so an external
    * replica that sees the raw table derives the same key space), else
    * one `emb.count()`. Raising bits cuts per-band recall
    * geometrically (P(match) = (1−θ/π)^bandBits), so bands grow with
    * bits: at near-dup similarity (cos ≥ 0.95, p ≈ 0.9) recall holds
    * ≈0.89-0.93 across the ladder (8,4)→(13,9)→(15,11), while random
    * collisions stay ~bands·N·2³ instead of quadratic. ceilLog2 is
    * integer-exact (binary length of N−1) so any engine — see the
    * s_srp_lsh oracle's GREATEST(8, length(bin(n−1)) − 3) — derives
    * bit-identical parameters; both derivation helpers are public
    * ([[srpBandBits]], [[srpBands]]). Explicit nPlanes/bandBits
    * arguments override the derivation (fixture pinning, recall
    * studies).
    * @return (a, b) with a < b — candidate pairs for an exact rerank
    *         (see s_srp_lsh for the native-cosine rerank pattern; on
    *         corpora with exact-duplicate vectors, wrap the whole
    *         candidates+rerank pipeline in
    *         [[TextDedup.collapseExactDups]] keyed on the vector, with
    *         the self-cosine as intra value, so the band join sees only
    *         distinct vectors) */
  def srpCandidates(emb: DataFrame, idCol: String, vecCol: String,
                    dims: Int, nPlanes: Int = -1, bandBits: Int = -1,
                    seedK: Long = 2654435761L,
                    dedup: Boolean = true,
                    numVectors: Long = -1L): DataFrame = {
    val bits =
      if (bandBits > 0) bandBits
      else srpBandBits(if (numVectors >= 0L) numVectors else emb.count())
    val planes = if (nPlanes > 0) nPlanes else srpBands(bits) * bits
    val banded = emb.select(col(idCol),
      posexplode(srpBandKeys(col(vecCol), dims, bits, planes, seedK)).as(Seq("bi", "bk")))
    TextDedup.bucketPairs(banded, banded, idCol, Seq("bi", "bk"), TextDedup.Lower,
      distinct = dedup)
  }

  /** SRP band keys of a vector column as one native expression: band
    * j / bits of `nPlanes` hyperplane sign bits, low bit first — see
    * [[graft.functions.SrpBandKeys]]. */
  def srpBandKeys(vec: Column, dims: Int, bits: Int, nPlanes: Int,
                  seedK: Long): Column =
    org.apache.spark.sql.graft.GraftSql.column(graft.functions.SrpBandKeys(
      org.apache.spark.sql.graft.GraftSql.expression(vec), dims, bits, nPlanes, seedK))

  /** Capacity-safe band width for [[srpCandidates]]: max(8, ⌈log2 N⌉ − 3)
    * keeps expected random-collision bucket occupancy O(10) at any corpus
    * size. Integer-exact (binary length of N−1, no floating log) so an
    * external engine derives the identical value — the s_srp_lsh oracle
    * mirrors it as GREATEST(8, length(bin(n − 1)) − 3). */
  def srpBandBits(n: Long): Int = {
    val ceilLog2 =
      if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1L)
    math.max(8, ceilLog2 - 3)
  }

  /** Band count paired with [[srpBandBits]]: growing bits cuts per-band
    * recall geometrically (p^bits), so bands grow with bits to buy it
    * back — max(4, bits − 4) holds near-dup recall ≈0.9 across the
    * (8,4) → (13,9) → (15,11) ladder (see srpCandidates scaladoc). */
  def srpBands(bandBits: Int): Int = math.max(4, bandBits - 4)

  /** SemDeDup — embedding-level semantic dedup (the builder brief's
    * embedding-cosine near-dup family): assign every vector to its
    * best-cosine centroid cell, rank within the cell by ascending
    * centroid cosine (id tiebreak), and remove any vector that has an
    * earlier-ranked in-cell neighbor with pairwise cosine above
    * `simThreshold`. Output: one row per SURVIVING vector —
    * (cell, idCol, ccos). `centroids` must expose (c_label, c).
    *
    * The in-cell pair scan runs over DISTINCT vector values only:
    * byte-identical vectors are first collapsed to their min-id
    * representative by a single groupBy on the vector. This is
    * output-identical to scanning all copies — not a recall heuristic —
    * because
    *   (a) identical bytes give bit-identical centroid cosines (same
    *       IEEE expression), hence the same cell and, with the id
    *       tiebreak, contiguous ranks led by the min-id copy, so every
    *       non-representative copy is removed by its own representative
    *       (pairwise cos(v,v) ≈ 1 > simThreshold for any nonzero v);
    *   (b) a representative survives iff NO earlier-ranked neighbor
    *       clears the threshold, and "some copy of value u ranks
    *       earlier than rep r" ⇔ "u's own representative ranks earlier
    *       than r" (copies of u occupy contiguous ranks starting at
    *       u's representative), so the existence test over the
    *       collapsed ranking decides identically.
    * The collapse turns the dedup WORST case — a re-crawled corpus
    * where most content is byte-identical — from a quadratic in-cell
    * pair scan into one linear groupBy: measured 91.8 s → ~4 s on the
    * ×10-exact-twins sf1 board (SCALING.md round-10). On a clean corpus
    * it costs one extra vector-keyed shuffle of the (small) distinct
    * set. PRECONDITION (same as [[srpCandidates]]): nonzero vector
    * norms — a zero vector's cosine is NaN in both the collapsed and
    * uncollapsed plans. */
  def semDedup(emb: DataFrame, centroids: DataFrame, idCol: String,
               vecCol: String, simThreshold: Double,
               kPrefix: Int = 8): DataFrame = {
    import graft.core.Materialize.MaterializeOps
    // the collapse's output-identity argument needs cos(v, v) (≈1) to
    // clear the threshold — at simThreshold >= 1 the uncollapsed plan
    // would KEEP exact copies while the collapse removes them
    require(simThreshold < 1.0,
      s"semDedup requires simThreshold < 1.0 (got $simThreshold): the " +
      "exact-duplicate collapse is output-identical only when a copy's " +
      "self-cosine clears the threshold")
    // kPrefix tunes COST only, never output (the two-phase split is
    // output-invariant for every value; the property suite proves
    // kPrefix=0 — the one-phase plan — and small prefixes agree on a
    // corpus built so phase B does real pruning). 0 disables phase A
    // entirely; larger values trade a wider broadcast probe for a
    // smaller phase-B remainder. 8 is right for cells whose members
    // share the centroid direction (near-dup-heavy corpora): the
    // earliest ranks witness almost every removal.
    require(kPrefix >= 0, s"kPrefix must be >= 0 (got $kPrefix)")
    def dot(a: Column, b: Column): Column = dotFold(a, b)
    def cos(a: Column, b: Column): Column =
      dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
    val distinctVecs = emb.groupBy(col(vecCol)).agg(min(col(idCol)).as(idCol))
    // Materialize: assigned feeds three consumers (both prune-join
    // sides and the final anti-join) — without it the broadcast
    // cross-join + two window sorts re-run per consumer
    val assigned = distinctVecs.crossJoin(broadcast(centroids))
      .withColumn("ccos", cos(col(vecCol), col("c")))
      .withColumn("rn", row_number().over(Window.partitionBy(col(idCol))
        .orderBy(col("ccos").desc, col("c_label").asc)))
      .filter(col("rn") === 1)
      .select(col(idCol), col(vecCol), col("c_label").as("cell"), col("ccos"))
      .withColumn("rank", row_number().over(Window.partitionBy(col("cell"))
        .orderBy(col("ccos").asc, col(idCol).asc)))
      .materialized(eager = true)
    val higher = assigned.select(col("cell").as("h_cell"),
      col(vecCol).as("hv"), col("rank").as("h_rank"))
    // Pair test on the NATIVE cosine kernel (same sequential-fold IEEE
    // arithmetic as the dotFold composition — bit-identical value, so
    // the > test decides identically) — the HOF form allocates per pair
    // and dominates the scan on candidate-heavy boards.
    def prunes(v: Column, hv: Column): Column =
      cosine(v, hv) > lit(simThreshold)
    // Existence test "∃ earlier-ranked in-cell neighbor above threshold",
    // split EXACTLY by where the witness ranks — output-invariant, cost
    // no longer quadratic on dedup-heavy corpora:
    //   phase A probes only each cell's kPrefix earliest-ranked rows
    //     (cells × kPrefix rows — broadcastable; O(N·kPrefix) pair tests).
    //     On a near-dup-heavy corpus almost every removed row has a
    //     prefix witness (in-cell members share the centroid direction,
    //     so the earliest ranks prune nearly everything above a loose
    //     threshold), which is exactly the corpus where the full scan
    //     went quadratic (mutated ×10 twin board: output flat 646→643
    //     rows while the one-phase wall grew 18×).
    //   phase B runs the original full earlier-ranked scan over ONLY the
    //     rows phase A left standing — |rest| ≈ survivors + the rows
    //     whose every witness ranks past kPrefix, so its pair volume is
    //     output-shaped, not corpus-shaped. Worst case (nothing prunes in
    //     the prefix, or kPrefix=0) degrades to exactly the one-phase plan.
    val prefix = higher.filter(col("h_rank") <= kPrefix)
    val removedByPrefix = assigned.join(prefix,
        col("cell") === col("h_cell") && col("h_rank") < col("rank") &&
          prunes(col(vecCol), col("hv")), "left_semi")
      .select(col(idCol).as("rm_id"))
      .materialized()
    val rest = assigned.join(removedByPrefix,
        col(idCol) === col("rm_id"), "left_anti")
      .filter(col("rank") > kPrefix) // ranks ≤ kPrefix saw all their
                                     // earlier ranks in phase A already
    val removedByRest = rest.join(higher,
        col("cell") === col("h_cell") && col("h_rank") < col("rank") &&
          prunes(col(vecCol), col("hv")), "left_semi")
      .select(col(idCol).as("rm_id"))
    val removedIds = removedByPrefix.unionAll(removedByRest)
    assigned.join(removedIds, col(idCol) === col("rm_id"), "left_anti")
      .select(col("cell"), col(idCol), col("ccos"))
  }
}
