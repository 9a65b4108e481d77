package graft.operators

import graft.core.Materialize.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSql

/** Near-duplicate text detection for training-data pipelines: MinHash-LSH,
  * SimHash, and blocked exact n-gram Jaccard — all bucket-join designs.
  *
  * Scale contract (the whole point of these): candidate generation is an
  * equi-join on a bucket key (LSH band signature / simhash band / length
  * block), NEVER an all-pairs crossJoin. At 100 TB the bucket join
  * shuffles each doc b times (b = #bands, a constant), bucket sizes stay
  * O(dup-cluster size), and the exact-verify join touches candidate pairs
  * only. Everything is built from codegen'd catalyst expressions
  * (xxhash64 / transform / aggregate) — no UDFs, no driver-side loops.
  */
object TextDedup {

  /** Widen a pathologically NARROW input before per-row-expensive
    * stages (r16): parquet splits only at row-group boundaries, so a
    * small single-row-group table scans as ONE task no matter the core
    * count — and a pipeline that computes heavy per-row signatures on
    * top of that scan runs single-core to its first exchange. When the
    * input's plan parallelism is under half the cluster's, repartition
    * the (skinny, pre-shingle) rows; corpora with real splits — any
    * production table, the twin boards — pass through untouched, so at
    * 100 TB this is a no-op (the check costs one RDD translation, no
    * job).
    *
    * APPLY SPARINGLY — measured per-operator A/B at sf0.1 (r16, min of
    * three timed runs): after the r16 linear-kernel rewrite the
    * char-shingle paths are cheap enough that the repartition's
    * exchange + the .rdd plan translation COST more than the spread
    * saves (blocked ngram 1.20 →
    * 1.51 s widened; minhash 1.22 → 2.39; prefix hi neutral at ~3.3),
    * so only [[simhashPairs]] uses it — its materialized base
    * (word-shingle set + 64-bit signature + hashed shingles per doc,
    * allocation-heavy) measured 3.2 s single-task vs 1.45 s widened.
    *
    * The parallelism probe (`df.rdd.getNumPartitions`) runs ONLY when
    * the optimized plan is scan-shallow (leaves + filter/project): on
    * such plans RDD translation is jobless, which is what makes the
    * check free. On anything deeper — a caller handing in a join or
    * aggregate output — AQE's `.rdd` would EXECUTE the upstream
    * exchange stages at construction time just to read a partition
    * count (review-caught hazard); those inputs skip the probe
    * entirely, which is also the right answer: their parallelism comes
    * from their own exchanges, not from a row-group-bound file scan. */
  private def widened(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, Project}
    val scanShallow = df.queryExecution.optimizedPlan.collectFirst {
      case n if !n.isInstanceOf[LeafNode] && !n.isInstanceOf[Filter] &&
                !n.isInstanceOf[Project] => n
    }.isEmpty
    if (!scanShallow) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= target) df
    else df.repartition(target)
  }

  /** Per-session locks serializing [[ngramJaccardPairs]]' sharded loops —
    * see the conf-toggle comment there. Weak keys: a stopped session's
    * lock entry must not pin the session object. */
  private val shardLoopLocks =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, Object]())

  /** Distinct word n-gram shingles of a whitespace-tokenized text column
    * (native expression — [[graft.functions.WordShingles]]). Empty array
    * when the doc has fewer than n words. */
  def wordShingles(text: Column, n: Int): Column =
    GraftSql.column(graft.functions.WordShingles(GraftSql.expression(text), n))

  /** Distinct character n-gram shingles
    * (native expression — [[graft.functions.CharShingles]]). */
  def charShingles(text: Column, n: Int): Column =
    GraftSql.column(graft.functions.CharShingles(GraftSql.expression(text), n))

  /** Distinct character n-gram shingles as a sorted `array<long>` of
    * 64-bit hashes — the compact verify-side form
    * (native expression — [[graft.functions.CharShingleHashes]]). */
  def charShingleHashes(text: Column, n: Int): Column =
    GraftSql.column(graft.functions.CharShingleHashes(GraftSql.expression(text), n))

  /** Jaccard of two sorted hashed-shingle arrays
    * ([[graft.functions.ArrayJaccardSorted]]): merge pass, no hash set. */
  def jaccardSorted(a: Column, b: Column): Column =
    GraftSql.column(graft.functions.ArrayJaccardSorted(
      GraftSql.expression(a), GraftSql.expression(b)))

  /** Threshold-aware [[jaccardSorted]] for the verify hot paths (r17):
    * exact jaccard while ≥ t is still reachable, -1.0 the moment the
    * merge's remaining-overlap bound proves it is not
    * ([[graft.functions.ArrayJaccardSortedBounded]]) — kept rows carry
    * the identical exact value, so swapping kernels under the
    * immediately-following `>= t` filter is plan-only. The ×100 ngram
    * wall is this merge (SCALING.md "Round 17: the ×100 ngram wall
    * decomposed": the verify is 88% of the wall), and
    * most candidates sit well under t. */
  def jaccardSortedAtLeast(t: Double)(a: Column, b: Column): Column =
    GraftSql.column(graft.functions.ArrayJaccardSortedBounded(
      GraftSql.expression(a), GraftSql.expression(b), t))

  /** 512-bit parity (odd) sketch of a hashed-shingle array — built once
    * per doc on the verify side; see [[paritySketchPasses]]. */
  def paritySketchOf(arr: Column): Column =
    GraftSql.column(graft.functions.ParitySketch(GraftSql.expression(arr)))

  /** The parity-sketch qualification test (r17, the verify pre-filter):
    * h = popcount(sigA XOR sigB) is a deterministic lower bound on
    * |A∆B| ([[graft.functions.NativeEval.paritySketch]] proves it), so
    * J ≤ (S−h)/(S+h) with S = |A|+|B| — a pair can only reach the
    * threshold if (S−h) ≥ t·(S+h). Evaluated in ~10 ns per pair from
    * columns already on the probed verify rows, BEFORE the
    * O(|A|+|B|)-step merge kernel: on candidate-heavy low-precision
    * shapes (the m100 blocked-ngram board: 3.02e9 candidates at mean
    * J 0.282 against t=0.6) it prunes ~99% of candidates for ~1% of
    * the kernel's cost. The same relative (1−1e-12) slack as the
    * positional filter — rounding only ever ADMITS a borderline pair,
    * and the exact kernel still decides every kept pair, so the filter
    * is plan-only: kept rows and their jaccard values are identical. */
  def paritySketchPasses(t: Double)(sigA: Column, sigB: Column,
                                    nA: Column, nB: Column): Column = {
    // (S−h) ≥ t'·(S+h)  ⟺  h ≤ S·(1−t')/(1+t') with t' = t·(1−1e-12):
    // the single-h form evaluates the popcount once in the join
    // condition (the And form appeared twice in codegen). The slack
    // lowers t', which RAISES the admit line (1−t')/(1+t') — rounding
    // only ever admits a borderline pair, same discipline as the
    // positional filter.
    val tp = t * (1 - 1e-12)
    val h = GraftSql.column(graft.functions.XorPopcount(
      GraftSql.expression(sigA), GraftSql.expression(sigB))).cast("double")
    h <= (nA + nB).cast("double") * lit((1 - tp) / (1 + tp))
  }

  /** An `array<string>` hashed element-wise to a sorted `array<long>`
    * ([[graft.functions.ArrayHashesSorted]]) — compact verify-side form
    * when the string shingles are also consumed elsewhere in the plan. */
  def hashedShingles(arr: Column): Column =
    GraftSql.column(graft.functions.ArrayHashesSorted(GraftSql.expression(arr)))

  /** LSH band signatures (shingles → k minhashes → b bands) as one native
    * expression — see [[graft.functions.MinHashBands]] for why this is not
    * a `transform`/`aggregate` composition (interpreted HOFs are ~1000×
    * slower and break codegen). */
  def minhashBands(shingles: Column, k: Int, bands: Int): Column =
    GraftSql.column(graft.functions.MinHashBands(GraftSql.expression(shingles), k, bands))

  /** Exact Jaccard similarity of two shingle-array columns (ints divided
    * in IEEE double — bit-identical across engines). Native one-pass
    * set-probe — see [[graft.functions.ArrayJaccard]]. */
  def jaccard(a: Column, b: Column): Column =
    GraftSql.column(graft.functions.ArrayJaccard(
      GraftSql.expression(a), GraftSql.expression(b)))

  /** A column of one side of [[bucketPairs]]: `X("__len")` is x's `__len`. */
  private[graft] type PairSide = String => Column

  /** How [[bucketPairs]] admits and orients a pair. */
  private[graft] sealed trait PairRule
  /** x.id < y.id, emitted as (x.id, y.id): each unordered pair once per
    * shared bucket of a symmetric join. */
  private[graft] case object Lower extends PairRule
  /** x.id ≠ y.id, emitted as (least, greatest): an asymmetric join whose
    * pair may meet in both orientations (the caller then wants `distinct`). */
  private[graft] case object NotEqual extends PairRule
  /** The caller's exactly-once predicate, emitted as (least, greatest). */
  private[graft] final case class Designated(pred: (PairSide, PairSide) => Column)
    extends PairRule

  /** The ONE candidate-pair join of every pair operator: rows of `x` and
    * `y` equal on every `keys` column meet, and each admitted combo is
    * emitted as (a, b) plus the caller's `out` columns. One shuffle on
    * the keys (or a broadcast of a small side), never a cartesian. The
    * sides are the caller's: asymmetric images, a salt key and its
    * repartition, and join hints are built before the call, so `x` and
    * `y` may be the same frame or two different ones.
    *
    * Shared decisions, made here once:
    *   - NULL IDS are dropped explicitly on both sides. A [[Designated]]
    *     predicate need not touch the ids at all, and a [[NotEqual]]
    *     pair goes through least/greatest, so without the filter a
    *     null-id row could pair and come out as a pair with a null end.
    *     A null key component never matches (SQL equality), so a row
    *     with one reaches no bucket.
    *   - CONDITION ORDER: keys, then [[Lower]]'s id compare (it halves
    *     the combos of a symmetric join), then `residual`, then the
    *     [[NotEqual]] / [[Designated]] test. Conjuncts short-circuit left
    *     to right in codegen.
    *   - `distinct` removes pairs that meet in several buckets behind a
    *     user-origin repartition on (a, b). Without it, the distinct's
    *     planner exchange hashes skinny pair rows and AQE's byte-based
    *     coalesce pins the downstream verify (broadcast probes + kernel,
    *     the CPU-heavy part) to about one task (measured ~5 s single-core
    *     on the prefix path at sf0.1). A user-origin exchange is never
    *     coalesced, and the distinct's aggregate reuses its partitioning,
    *     so it is still exactly one exchange (r16).
    * The combo volume of this join is [[bucketCensus]] of the same
    * sides; DedupPropertySpec pins the join against brute force on
    * degenerate inputs under every rule. */
  private[graft] def bucketPairs(x: DataFrame, y: DataFrame, idCol: String,
      keys: Seq[String], rule: PairRule,
      residual: (PairSide, PairSide) => Column = (_, _) => lit(true),
      distinct: Boolean = false,
      out: (PairSide, PairSide) => Seq[Column] = (_, _) => Nil): DataFrame = {
    val X: PairSide = c => col(s"__bp_x.$c")
    val Y: PairSide = c => col(s"__bp_y.$c")
    val (first, last, a, b) = rule match {
      case Lower => (X(idCol) < Y(idCol), lit(true), X(idCol), Y(idCol))
      case NotEqual => (lit(true), X(idCol) =!= Y(idCol),
        least(X(idCol), Y(idCol)), greatest(X(idCol), Y(idCol)))
      case Designated(pred) => (lit(true), pred(X, Y),
        least(X(idCol), Y(idCol)), greatest(X(idCol), Y(idCol)))
    }
    val keyEq = keys.map(k => X(k) === Y(k)).reduce(_ && _)
    val pairs = x.filter(col(idCol).isNotNull).alias("__bp_x")
      .join(y.filter(col(idCol).isNotNull).alias("__bp_y"),
        keyEq && first && residual(X, Y) && last)
      .select(a.as("a") +: b.as("b") +: out(X, Y): _*)
    if (distinct) pairs.repartition(col("a"), col("b")).distinct() else pairs
  }

  /** Combo census of [[bucketPairs]] over the same sides and keys, a
    * deterministic count on any host. Per bucket of x (a bucket is one
    * value of `keys`; rows with a null id or key reach none, as in the
    * join) nx = |x rows| and ny = |y rows|, left-outer so an x bucket
    * with no y rows counts with ny = 0. One row:
    *   - `buckets`: x buckets;
    *   - `scanCombos`: Σ nx·ny — the combos the merge scan walks before
    *     any id rule or residual, which is exactly the row count of the
    *     keys-only equi-join of the two sides;
    *   - `pairCombosX`: Σ nx(nx−1)/2, the r17 pair-combo metric;
    *   - `maxBucketX`, `maxBucketY`: the skew — whether a wall is a few
    *     straggler tasks (hot buckets are byte-tiny, so AQE's skew split
    *     never fires) or spread volume.
    * A salt splits x rows, but its Σ over salts restores nx·ny per
    * bucket, so census callers pass the sides before any salt. */
  private[graft] def bucketCensus(x: DataFrame, y: DataFrame, idCol: String,
                                  keys: Seq[String]): Row = {
    def by(df: DataFrame, n: String) = df
      .filter((col(idCol) +: keys.map(col)).map(_.isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as(n))
    val ny = coalesce(col("ny"), lit(0L))
    by(x, "nx").join(by(y, "ny"), keys, "left_outer")
      .agg(count(lit(1)).as("buckets"),
        coalesce(sum(col("nx") * ny), lit(0L)).as("scanCombos"),
        coalesce(sum((col("nx") * (col("nx") - 1) / 2).cast("long")), lit(0L))
          .as("pairCombosX"),
        max(col("nx")).as("maxBucketX"), max(ny).as("maxBucketY"))
      .head()
  }

  /** See [[collapseExactDups]]. */
  final case class DupCollapse(reps: DataFrame, dupMembers: DataFrame,
                               expand: DataFrame => DataFrame)

  /** Exact-duplicate collapse for pair-LISTING operators — the ONE
    * collapse of every text and vector pair lister (the twin-board
    * counterpart of [[VectorSim.semDedup]]'s collapse): rows equal on
    * EVERY `groupKeys` component — covering every input the pair
    * pipeline derives from — are collapsed to their min-id
    * representative before candidate generation, and representative
    * pairs are expanded back to the full member pair list afterwards.
    * Output-identical, because for any pair operator here
    *   (a) two rows with equal signatures are interchangeable: banding,
    *       blocking, simhash, jaccard and cosine are pure functions of
    *       the signature, so a cross-group member pair qualifies iff
    *       its representative pair qualifies, with the SAME value; and
    *   (b) an intra-group pair takes `intraValue`, evaluated on the
    *       member's own row: the literal the uncollapsed operator
    *       computes for identical signatures (jaccard s/s = 1.0 in IEEE
    *       double, edit distance 0), or a computed one where that value
    *       is not a literal — cos(v, v) is ≈1 but not 1.0 (sqrt(d)² ≠ d
    *       in IEEE), and members are byte-identical, so every member
    *       carries its representative's self-cosine bit for bit.
    * A threshold on the pair value runs AFTER the expansion: cross
    * pairs inherit the rep value, so the filter commutes, and intra
    * pairs are filtered on their own value (a zero-norm vector's NaN
    * self-cosine fails every threshold, like the uncollapsed rerank).
    * Domain gates (minShingles, length ≥ n) must be applied BEFORE the
    * collapse: they too are signature-determined, so a group is in or
    * out wholesale. Candidate volume drops from quadratic-in-copies to
    * quadratic-in-distinct + output-proportional expansion — on a
    * re-crawled corpus where most content is byte-identical this is the
    * difference between a pair scan and a disaster (measured: d_simhash
    * 51 s → ~5 s on the ×10-twins sf1 board, SCALING.md round-10).
    * Text group keys are md5-based (128-bit): a collision needs ~2^64
    * co-resident distinct signatures — negligible at any corpus size
    * this engine targets (same acceptance as [[charShingleHashes]]).
    *
    * NULLs never collapse: SQL NULL is not equal to NULL, so the
    * uncollapsed pair operators never equi-join a row on a null key
    * component (a null text, vector or cell reaches no bucket). A row
    * with a null in ANY key is therefore its own representative — it
    * partitions alone (secondary window key = its own id, so a corpus
    * of null texts is not a skew hazard either) and contributes no
    * intra expansion. A null-ID row joins no dup group either (the
    * census skips it): it passes through `reps` untouched, and every
    * candidate join drops it. Counting it in a group would let
    * `expand` map it back onto the representative and emit each of
    * the group's cross pairs twice.
    *
    * Plan shape (round-11 rework of the r10 groupBy-census + join):
    * the census is ONE narrow (id, keys, intra value) window — min(id)
    * and count(*) over the key partition, one exchange, shared via
    * ReuseExchange by every reference — and everything downstream
    * consumes only the DUP-GROUP slice (count ≥ 2). On a mostly-clean
    * corpus that slice is tiny, so `reps` is a broadcast ANTI-join
    * against the non-rep dup ids (the base scan is never shuffled) and
    * `expand`'s member joins broadcast instead of reshuffling a
    * corpus-sized membership frame; on a heavily-duplicated corpus the
    * slice grows with the duplicated rows — exactly the rows the
    * collapse exists for — and AQE falls back to shuffled joins with
    * the same asymptotics as before. Still deliberately LAZY — no
    * driver action, no checkpoint: an eager census measured +2 s/row
    * at sf0.1 (NOTES_r10).
    *
    * @return `reps` keeps the original columns, one row per distinct
    *         signature (min id); `expand` maps rep pairs (a, b,
    *         `valueCol`) to the full member pair list, a < b;
    *         `dupMembers` is the dup-group MEMBERSHIP (rep, member) —
    *         what graph consumers need to stay on the collapsed graph
    *         instead of expanding pairs only to re-contract them: one
    *         row per member of each group of ≥ 2 equal signatures, the
    *         rep itself included, singletons absent. `rep` is always
    *         the group's MINIMUM member id — the invariant
    *         [[graft.operators.Components]]' collapsed-graph operators
    *         rely on (a component's label equals its min id, and each
    *         group's min IS its rep, so labels computed on the rep graph
    *         are already the labels of the expanded graph). */
  def collapseExactDups(rows: DataFrame, idCol: String, groupKeys: Seq[Column],
                        valueCol: String = "jaccard",
                        intraValue: Column = lit(1.0)): DupCollapse = {
    import org.apache.spark.sql.expressions.Window
    val keys = groupKeys.indices.map(i => s"__g$i")
    val census = rows.filter(col(idCol).isNotNull)
      .select(col(idCol) +: groupKeys.zip(keys).map { case (k, n) => k.as(n) } :+
        intraValue.as("__iv"): _*)
    // The partition key leads with xxhash64 of the keys, so the window's
    // sort compares longs and reaches the keys themselves only on a hash
    // tie. A float-array key is otherwise compared through the
    // normalizing lambda Spark wraps around it (-0.0 = 0.0, one NaN) in
    // every comparison. xxhash64 hashes -0.0 as 0.0 and every NaN as the
    // canonical NaN, so keys equal under that normalization hash equal
    // and the groups are unchanged.
    val w = Window.partitionBy(xxhash64(keys.map(col): _*) +: keys.map(col) :+
      when(keys.map(col(_).isNull).reduce(_ || _), col(idCol)): _*)
    // members of groups of size >= 2 — the only rows the collapse acts
    // on. Singleton groups (and every null-key row, which partitions
    // alone by its own id) pass through untouched.
    // Materialized (lazily) because FIVE downstream references replan it
    // otherwise — the reps anti-join plus expand's two member joins and
    // its intra self-join — each re-running the corpus scan + window.
    // Narrow (id, rep, intra value) rows, sized by the duplicated subset
    // only.
    val dups = census
      .select(col(idCol), col("__iv"), min(col(idCol)).over(w).as("__rep"),
        count(lit(1)).over(w).as("__cnt"))
      .filter(col("__cnt") >= 2)
      .select(col(idCol), col("__rep"), col("__iv"))
      .materialized()
    val dupNonReps = dups.filter(col(idCol) =!= col("__rep"))
      .select(col(idCol))
    val reps = rows.join(dupNonReps, Seq(idCol), "left_anti")
    def expand(repPairs: DataFrame): DataFrame = {
      // left-outer against the dup members: a rep outside any dup group
      // maps to itself (coalesce), one inside fans out to its members.
      // Groups are disjoint, so member ids may interleave across the
      // rep order — re-orient each expanded pair.
      val ma = dups.select(col("__rep").as("a"), col(idCol).as("__ia"))
      val mb = dups.select(col("__rep").as("b"), col(idCol).as("__ib"))
      val cross = repPairs
        .join(ma, Seq("a"), "left_outer")
        .join(mb, Seq("b"), "left_outer")
        .select(
          least(coalesce(col("__ia"), col("a")),
                coalesce(col("__ib"), col("b"))).as("__a"),
          greatest(coalesce(col("__ia"), col("a")),
                   coalesce(col("__ib"), col("b"))).as("__b"),
          col(valueCol))
        .select(col("__a").as("a"), col("__b").as("b"), col(valueCol))
      val m1 = dups.select(col("__rep"), col(idCol).as("__ia"), col("__iv"))
      val m2 = dups.select(col("__rep"), col(idCol).as("__ib"))
      val intra = m1.join(m2, Seq("__rep"))
        .filter(col("__ia") < col("__ib"))
        .select(col("__ia").as("a"), col("__ib").as("b"), col("__iv").as(valueCol))
      cross.unionAll(intra)
    }
    DupCollapse(reps,
      dups.select(col("__rep").as("rep"), col(idCol).as("member")), expand)
  }

  /** MinHash-LSH near-duplicate pairs with exact-Jaccard verification.
    *
    * Pipeline: shingle → k-minhash → b bands × r rows → bucket equi-join →
    * distinct candidates → exact Jaccard over shingle arrays → threshold.
    * With b=32, r=4 the probability of missing a pair at Jaccard 0.7 is
    * (1-0.7^4)^32 ≈ 1.5e-4 and at 0.9 it is ≈1e-15; false positives are
    * removed exactly. Output: (a, b, jaccard), a < b.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, threshold: Double = 0.7,
                      k: Int = 128, bands: Int = 32,
                      broadcastVerify: Option[Boolean] = None): DataFrame = {
    val c = minhashLshPairsCollapsed(docs, idCol, textCol, shingleN,
      threshold, k, bands, broadcastVerify)
    c.expand(c.repPairs)
  }

  /** The COLLAPSED form of [[minhashLshPairs]]: qualifying pairs over the
    * exact-dup REPRESENTATIVES plus the dup-group membership, NOT yet
    * expanded to the member pair list. The expanded near-dup graph is
    * exactly the blow-up of this one — each dup group a clique (every
    * intra pair has jaccard 1.0), each rep pair a complete bipartite
    * bundle — so graph consumers (components, triangle counts) can run on
    * the small rep graph and map results back through `dupMembers`
    * ([[graft.operators.Components.connectedComponentsCollapsed]] /
    * [[graft.operators.Components.weightedTriangleCounts]]), skipping the
    * quadratic-in-copies pair expansion a re-crawled corpus would pay
    * (measured: d_triangles 111 s → linear at ×100 twins, SCALING.md).
    *
    * @return repPairs (a, b, jaccard) with a < b over reps only;
    *         dupMembers (rep, member) per [[collapseExactDups]];
    *         expand maps rep pairs to the full member pair list — the
    *         identity `expand(repPairs) == minhashLshPairs(...)`. */
  /** `broadcastVerify` (r16 — the ngram verify-budget discipline applied
    * family-wide): Some(true) makes the exact-Jaccard verify two explicit
    * broadcast hash probes — no exchange ever carries a shingle array per
    * candidate — whenever the caller knows the hashed word-shingle side
    * fits [[ngramBroadcastBudgetBytes]] (the catalog derives it from one
    * memoized bounded aggregate). None keeps the planner's threshold
    * behavior (fine under ~50 MB of arrays, where AQE broadcast-converts
    * anyway; past it the plan falls to SMJ with two arrays per candidate —
    * the exact r15 ngram ×100 cliff, measured on the d_simhash ×100 twin
    * as the board's slowest row). */
  def minhashLshPairsCollapsed(docs: DataFrame, idCol: String, textCol: String,
                               shingleN: Int = 3, threshold: Double = 0.7,
                               k: Int = 128, bands: Int = 32,
                               broadcastVerify: Option[Boolean] = None): CollapsedPairs = {
    require(k % bands == 0, "k must divide into bands evenly")
    // the exact-dup collapse emits intra-group pairs at their literal
    // self-jaccard 1.0 unconditionally — sound for any threshold the
    // verify filter could admit them under, so gate the degenerate case
    require(threshold <= 1.0, s"threshold must be <= 1.0 (got $threshold)")
    val r = k / bands
    val sh0 = docs.select(col(idCol), col(textCol),
        wordShingles(col(textCol), shingleN).as("__sh"))
      .filter(size(col("__sh")) > 0)
    // everything downstream (bands, verify jaccard) derives from __sh,
    // which is a pure function of the text — collapse identical texts
    // before banding (see collapseExactDups; keying on md5(text) keeps
    // array serialization out of the census scan, and a text-equal
    // group trivially satisfies the signature-equality contract)
    val c = collapseExactDups(sh0, idCol, Seq(md5(col(textCol))))
    // Rep-level derived frame, materialized ONCE (see the simhashPairs
    // twin comment): the band self-join's two sides and the verify
    // join's two sides otherwise each replan the corpus scan + tokenize
    // + census window — consumer-specific pruning defeats ReuseExchange.
    val base = c.reps.select(col(idCol),
        minhashBands(col("__sh"), k, bands).as("__mb"),
        hashedShingles(col("__sh")).as("__shh"))
      .materialized()
    val banded = base
      .select(col(idCol), posexplode(col("__mb")))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bsig")
    // a pair sharing several bands meets once per band: distinct
    val cand = bucketPairs(banded, banded, idCol, Seq("__band", "__bsig"),
      Lower, distinct = true)
    // verify over hashed shingles: same Jaccard (collision-negligible),
    // far fewer join-shuffle bytes than the string arrays
    val shHashed = base.select(col(idCol), col("__shh").as("__sh"))
    CollapsedPairs(
      verifyJaccard(cand, shHashed, idCol, threshold,
        broadcastShingles = broadcastVerify.getOrElse(false)),
      c.dupMembers, c.expand)
  }

  /** See [[minhashLshPairsCollapsed]]. */
  final case class CollapsedPairs(repPairs: DataFrame, dupMembers: DataFrame,
                                  expand: DataFrame => DataFrame)

  /** Winnowing fingerprints of a text column (rolling-hash k-grams →
    * sliding-window minima; [[graft.functions.WinnowFingerprints]]) as a
    * sorted distinct `array<long>`. */
  def winnowFingerprints(text: Column, k: Int = 5, w: Int = 8): Column =
    GraftSql.column(graft.functions.WinnowFingerprints(
      GraftSql.expression(text), k, w))

  /** Default stop-fingerprint document-frequency cap for [[winnowPairs]]
    * — part of the public contract, not an implementation detail. */
  val WinnowDefaultMaxDocFreq: Int = 10000

  /** Candidate near-dup pairs by shared winnowing fingerprints: explode
    * each doc's fingerprints, equi-join on the fingerprint value, keep
    * pairs sharing at least `minShared`. The winnowing guarantee makes
    * recall structural: any pair sharing a substring of ≥ w+k−1 chars
    * shares a fingerprint.
    *
    * Scale contract — corpus-dependent, like prefix filtering: bucket
    * sizes are the per-fingerprint doc counts, which stay small on
    * natural text (millions of distinct k-grams) but DEGENERATE on
    * low-diversity corpora where winnowing minima concentrate on few
    * values (the graft synthetic docs: 62 distinct fingerprints across
    * 5k docs → 215M candidate pairs). The `maxDocFreq` stop-fingerprint
    * cap makes that degeneration bounded at runtime instead of advisory:
    * fingerprints appearing in more docs than the cap are dropped before
    * the self-join (the direct analogue of stop-words in prefix
    * filtering — a fingerprint shared by thousands of docs is corpus
    * boilerplate and contributes candidate pairs quadratically while
    * carrying no near-dup signal). Consequence: `n_shared` counts only
    * sub-cap fingerprints, and a pair whose every shared fingerprint is
    * boilerplate is not emitted — pass `maxDocFreq = Int.MaxValue` for
    * the exact unguarded semantics. The capped default is a deliberate,
    * contract-pinned choice ([[WinnowDefaultMaxDocFreq]]; SourcesSpec
    * "winnowPairs default is the capped semantics"): a library caller
    * who wants the unguarded quadratic form must say so explicitly. Prefer [[minhashLshPairs]] on
    * low-diversity corpora regardless; its band signatures are selective
    * on any corpus. Output: (a, b, n_shared), a < b. */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 5, w: Int = 8, minShared: Int = 3,
                  maxDocFreq: Int = WinnowDefaultMaxDocFreq): DataFrame = {
    // a null-id row is no document of the pair relation, so it must not
    // count toward a fingerprint's document frequency (and the cap) either
    val all = docs.filter(col(idCol).isNotNull).select(col(idCol),
        explode(winnowFingerprints(col(textCol), k, w)).as("__fp"))
    // document frequencies via groupBy (NOT a window over __fp: map-side
    // partial counts mean one row per fingerprint per mapper crosses the
    // wire, where a window would buffer EVERY row of a hot fingerprint
    // in a single task — the exact blow-up this cap exists to stop);
    // the semi join back keeps only sub-cap fingerprints, bounding the
    // worst self-join bucket at maxDocFreq² per stop value, not corpus²
    val keep = all.groupBy(col("__fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDocFreq)
      .select("__fp")
    val fp = all.join(keep, Seq("__fp"), "left_semi")
    // one combo per shared fingerprint: the count IS n_shared
    bucketPairs(fp, fp, idCol, Seq("__fp"), Lower)
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** MinHash-LSH index of a corpus: one row per doc carrying its banded
    * signatures and sorted hashed shingles — the artifact an incremental
    * pipeline PERSISTS (parquet; at scale partitioned by a band-signature
    * prefix) so each new batch dedups against the standing corpus without
    * re-pairing it. Columns: (idCol, bands array<long>, shingle_hashes
    * sorted array<long>). Docs with no shingles are absent (they cannot
    * near-dup under this measure). */
  def buildMinhashIndex(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, k: Int = 128,
                        bands: Int = 32): DataFrame = {
    require(k % bands == 0, "k must divide into bands evenly")
    docs.select(col(idCol), wordShingles(col(textCol), shingleN).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col(idCol),
        minhashBands(col("__sh"), k, bands).as("bands"),
        hashedShingles(col("__sh")).as("shingle_hashes"))
  }

  /** Incremental near-duplicate detection: a new `batch` of docs against a
    * prebuilt corpus `index` (see [[buildMinhashIndex]] — same shingleN/k/
    * bands MUST be used on both sides). Band signatures equi-join on
    * (band position, signature); candidates verify by exact Jaccard over
    * the stored hashed shingles. Ids are assumed globally unique across
    * batch and corpus; a doc re-ingested under its own id is not its own
    * duplicate. Output: (b = batch id, c = corpus id, jaccard), one row
    * per cross-side pair at or above the threshold.
    *
    * Scale contract: the corpus side ships only (id, band, signature)
    * rows into the join — b rows per doc, b a constant — and the stored
    * shingle arrays are fetched for candidates only; the batch is the
    * small side by construction. Nothing is quadratic in the corpus.
    *
    * VERIFY SHAPE (r16, the [[verifyJaccard]] discipline): no exchange
    * may carry a shingle array PER CANDIDATE. The batch side (bands and
    * arrays) is explicitly broadcast whenever it fits
    * [[ngramBroadcastBudgetBytes]] — by construction it virtually
    * always does (an ingest batch is corpus-small; a 64 GB executor's
    * budget holds a multi-GB batch) — so the band join streams the
    * corpus's skinny band rows map-side with NO corpus shuffle at all,
    * and the verify joins candidates to the CORPUS arrays first (the
    * corpus-side exchange carries each stored array once, not once per
    * candidate) before probing the broadcast batch arrays in the same
    * stage. A batch past the budget (pass `broadcastBatch = Some(false)`
    * or let the estimate decide) falls back to planner-shaped joins in
    * the same order — candidate-proportional array staging then returns
    * on the batch-probe join, so the documented capacity rule is: keep
    * ingest batches under the budget, splitting an oversized ingest
    * into sub-batches (the natural incremental cadence anyway). */
  def dedupAgainstIndex(batch: DataFrame, index: DataFrame, idCol: String,
                        textCol: String, shingleN: Int = 3,
                        threshold: Double = 0.7, k: Int = 128,
                        bands: Int = 32,
                        broadcastBatch: Option[Boolean] = None): DataFrame = {
    // the batch index feeds BOTH the band join and the verify join;
    // without materialization the shingling + k minhashes would compute
    // twice per doc (Spark has no cross-reference subplan reuse). Lazy
    // Materialize: first action materializes it; local-mode blocks are
    // reclaimed by the ContextCleaner when the result is released.
    val bIdx = buildMinhashIndex(batch, idCol, textCol, shingleN, k, bands)
      .select(col(idCol).as("b"), col("bands").as("__bbands"),
        col("shingle_hashes").as("__shb"))
      .materialized()
    // batch-side broadcast decision: callers holding an estimate pass
    // it; otherwise one bounded aggregate over the (materialized) batch
    // index. The estimate covers BOTH broadcast relations the hint
    // reaches: the shingle arrays (~8 bytes per stored hash) and the
    // posexploded band rows (`bands` rows per doc REGARDLESS of doc
    // length — on a short-doc batch the band side dominates, ~48 bytes
    // per hash-relation row; the r16 review caught the original
    // arrays-only estimate under-counting a short-doc batch ~20×).
    val bcast = broadcastBatch.getOrElse {
      val row = bIdx.agg(sum(size(col("__shb"))).cast("long"),
        count(lit(1))).head()
      val shingleBytes = (if (row.isNullAt(0)) 0L else row.getLong(0)) * 8L
      val bandBytes = row.getLong(1) * bands * 48L
      shingleBytes + bandBytes <= ngramBroadcastBudgetBytes
    }
    val hint: DataFrame => DataFrame = if (bcast) broadcast(_) else identity
    val bBands = bIdx.select(col("b"), posexplode(col("__bbands")))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bsig")
    val cBands = index.select(col(idCol).as("c"), posexplode(col("bands")))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bsig")
    val cand = cBands.join(hint(bBands), Seq("__band", "__bsig"))
      .filter(col("b") =!= col("c"))
      .select(col("b"), col("c")).distinct()
    cand
      .join(index.select(col(idCol).as("c"),
        col("shingle_hashes").as("__shc")), "c")
      .join(hint(bIdx.select(col("b"), col("__shb"))), "b")
      .filter(least(size(col("__shb")), size(col("__shc"))) >=
        lit(threshold) * greatest(size(col("__shb")), size(col("__shc"))))
      .withColumn("jaccard",
        jaccardSortedAtLeast(threshold)(col("__shb"), col("__shc")))
      .filter(col("jaccard") >= threshold)
      .select(col("b"), col("c"), col("jaccard"))
  }

  /** 64-bit SimHash of a shingle array (native expression; bit i set when
    * the ±1 sum over shingles of bit i of xxhash64(shingle) is
    * non-negative) — see [[graft.functions.SimHash64]]. */
  def simhash64(shingles: Column): Column =
    GraftSql.column(graft.functions.SimHash64(GraftSql.expression(shingles)))

  /** SimHash near-duplicate pairs: the 64-bit signature is cut into
    * `numBands` equal bands — by pigeonhole every pair with Hamming
    * distance ≤ numBands-1 shares at least one band, so the banded
    * equi-join has guaranteed recall for any `maxHamming < numBands`;
    * the final exact-Jaccard threshold removes hash collisions.
    *
    * Band width trades recall for selectivity: 16×4-bit bands guarantee
    * recall to Hamming 15 but collide more often (short docs put real
    * near-dups at Hamming ~11, so wide tolerance is the default here);
    * a corpus enforcing the classic strict distance ≤ 3 should use
    * 4×16-bit bands for far fewer candidates.
    *
    * CAPACITY RULE (same class as srpCandidates' bandBits): a band key
    * has 2^(64/numBands) values × the log2-size classes, so random
    * collisions contribute ~numBands·N²/2^(width+1) candidate pairs —
    * quadratic in N at fixed width (4-bit bands ⇒ 16 values per band;
    * the mutated ×10/×30 twin boards pay exactly this volume, wall flat
    * per candidate). numBands is therefore a DEPLOYMENT knob: at large N
    * use fewer, wider bands (8×8-bit guarantees Hamming ≤ 7; 4×16-bit
    * Hamming ≤ 3), accepting the tighter Hamming guarantee — or shard
    * the corpus before banding. The 16-band default fits the catalog
    * fixture whose oracle replicates the full band chain. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, maxHamming: Int = 15,
                   threshold: Double = 0.5, numBands: Int = 16,
                   minShingles: Int = 32,
                   broadcastVerify: Option[Boolean] = None): DataFrame = {
    require(64 % numBands == 0, "numBands must divide 64")
    require(maxHamming < numBands, s"banded recall only guaranteed to Hamming ${numBands - 1}")
    require(threshold >= 0.5, "length-block recall requires threshold >= 0.5")
    // collapse-soundness gate — see minhashLshPairs
    require(threshold <= 1.0, s"threshold must be <= 1.0 (got $threshold)")
    // Domain bound, not a heuristic: with k shingles each single-shingle
    // difference perturbs ~32/√k signature bits in expectation, so below
    // ~2 shingles per band (k < 2·numBands) a near-dup pair can exceed
    // any in-band Hamming tolerance (measured: an 8/9-shingle pair at
    // Jaccard 0.53 lands at Hamming 16). Docs under minShingles are OUT
    // OF DOMAIN for simhash — route them through minhashLshPairs, whose
    // recall does not depend on signature concentration.
    val (expand, shHashed, _, _, cand) = simhashInternals(docs, idCol,
      textCol, shingleN, maxHamming, numBands, minShingles)
    expand(verifyJaccard(cand, shHashed, idCol, threshold,
      broadcastShingles = broadcastVerify.getOrElse(false)))
  }

  /** The bucket keys of the simhash band join: band index, band value
    * and log2-size block. */
  private[graft] val SimhashBandKeys = Seq("__band", "__bval", "__lblk")

  /** The simhash path's internal stage frames — (expand, hashed-shingle
    * projection, x-side band rows [both log2-size images], y-side band
    * rows [own log2-size block only], distinct candidate pairs). The
    * sides are exposed so [[bucketCensus]] counts the EXACT frames the
    * shipped plan joins. Not a dedup API — callers want [[simhashPairs]]. */
  private[graft] def simhashInternals(docs: DataFrame, idCol: String,
      textCol: String, shingleN: Int, maxHamming: Int, numBands: Int,
      minShingles: Int)
      : (DataFrame => DataFrame, DataFrame, DataFrame, DataFrame,
         DataFrame) = {
    val width = 64 / numBands
    val mask = (1L << width) - 1
    // widened — the one measured win (see [[widened]]): the rep-level
    // signature materialization below is this family's heaviest
    // per-row compute and otherwise inherits a 1-task fixture scan
    val sh0 = widened(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), col(textCol),
        wordShingles(col(textCol), shingleN).as("__sh"))
      .filter(size(col("__sh")) >= minShingles)
    // simhash, band keys, the log2-size block AND the verify jaccard are
    // all pure functions of __sh, itself a pure function of the text —
    // collapse identical texts before the band join (see
    // collapseExactDups; the minShingles domain gate is
    // signature-determined, so it runs first)
    val c = collapseExactDups(sh0, idCol, Seq(md5(col(textCol))))
    // Rep-level derived frame, materialized ONCE (see [[Materialize]]):
    // the band self-join's two sides and the verify join's two sides
    // otherwise each replan the corpus scan + tokenize + census window —
    // consumer-specific column pruning stops the subtrees canonicalizing
    // equal, so ReuseExchange never merges them (same failure mode as
    // the t_doc_terms r8 regression). One narrow row per rep: id,
    // shingle count, 64-bit signature, hashed shingle array.
    val base = c.reps.select(col(idCol), size(col("__sh")).as("__n"),
        simhash64(col("__sh")).as("__sim"),
        hashedShingles(col("__sh")).as("__shh"))
      .materialized()
    val sims = base.select(col(idCol), col("__n"), col("__sim"))
    // Narrow bands have few distinct values (a 4-bit band: 16), so a band
    // key alone buckets O(N) docs. Compose a log2(shingle-count) block
    // into the key: Jaccard ≥ t ≥ 0.5 forces a size ratio ≥ t, i.e. the
    // two docs' log2 sizes differ by < 1 — so the bigger doc's own block
    // floor(log2 n) is always one of the smaller doc's two images
    // {floor(log2 n), floor(log2 n)+1}. ASYMMETRIC IMAGES (r18): the x
    // side carries both images, the buffered y side its own block only,
    // so every qualifying pair still shares a bucket while the y rows
    // and the within-bucket combo volume of the self-join are half those
    // of two-image sides. An equal-size pair meets once per matching band
    // in BOTH orientations: the NotEqual rule's least/greatest and the
    // distinct absorb that multiplicity.
    def withBands(df: DataFrame): DataFrame = df
      .select(col(idCol), col("__sim"), col("__lblk"),
        posexplode(transform(sequence(lit(0), lit(numBands - 1)),
          j => call_function("shiftright", col("__sim"), j * width).bitwiseAND(lit(mask)))))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bval")
    val bandedX = withBands(sims
      .select(col(idCol), col("__sim"),
        explode(array(floor(log(2.0, col("__n"))),
                      floor(log(2.0, col("__n"))) + 1)).as("__lblk")))
    val bandedOwn = withBands(sims
      .select(col(idCol), col("__sim"),
        floor(log(2.0, col("__n"))).as("__lblk")))
    val cand = bucketPairs(bandedX, bandedOwn, idCol, SimhashBandKeys, NotEqual,
      residual = (x, y) => bit_count(x("__sim").bitwiseXOR(y("__sim"))) <= maxHamming,
      distinct = true)
    val shHashed = base.select(col(idCol), col("__shh").as("__sh"))
    (c.expand, shHashed, bandedX, bandedOwn, cand)
  }

  /** Blocked exact n-gram Jaccard dedup: docs are bucketed by
    * floor(len/blockWidth) and its successor, so every pair within
    * `maxLenDiff ≤ blockWidth/2` shares a bucket; candidates are exactly
    * length-compatible pairs, then exact char-n-gram Jaccard filters.
    * Shingles travel as sorted 64-bit hash arrays ([[charShingleHashes]]):
    * ~3× fewer candidate-join shuffle bytes than string arrays and a
    * zero-allocation merge probe per pair — exact up to xxhash64
    * collisions (~k²/2⁶⁴ per pair, negligible).
    * Output: (a, b, jaccard), a < b.
    *
    * VERIFY SHAPE (r15): candidate staging is governed by whether the
    * shingle-array side fits [[ngramBroadcastBudgetBytes]]. When it does
    * (decided here from the post-collapse Σlen — every board up to the
    * mutated ×100's ~1.1 GB side on this host's heap), the verify runs
    * as two EXPLICIT broadcast hash probes and the candidate stream —
    * emitted unique by construction, no distinct() — flows from the
    * block join through both probes and the Jaccard kernel inside one
    * codegen stage: nothing proportional to candidate count ever
    * touches scratch, so the monolithic plan holds at any pair volume
    * (mutated ×100: 5.1e9 candidates, where the r14 threshold-governed
    * plan fell off the 50 MB AQE broadcast cliff into sort-merge joins
    * whose single-shard staging ENOSPC'd an ~80 GB scratch volume).
    *
    * BOUNDED-SCRATCH SHARDING (`shards` > 1, r14) remains the fallback
    * past the broadcast budget: the pair space partitions by the
    * emitting block's residue (`__blk % S` — each pair is emitted by
    * exactly ONE block under the larger-own-block rule, so residue
    * classes are a true partition), and the driver materializes the
    * shards SEQUENTIALLY through the reliable scratch round trip with
    * per-execution shuffle cleanup, so peak scratch is ~1/S of the
    * total at the cost of S scans of the (small) blocked/shingle
    * tables. Output is the union of the residue classes — identical
    * rows for every S, which DedupPropertySpec asserts. On a real
    * cluster aggregate executor disk and memory usually make S = 1 the
    * right setting; the catalog derives both decisions from one
    * bounded aggregate ([[estimateNgramStats]]). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        lenCol: Column, n: Int = 4, threshold: Double = 0.6,
                        blockWidth: Int = 100, shards: Int = 1,
                        streamParallelism: Int = 1,
                        broadcastVerify: Option[Boolean] = None): DataFrame = {
    // collapse-soundness gate — see minhashLshPairs
    require(threshold <= 1.0, s"threshold must be <= 1.0 (got $threshold)")
    require(shards >= 1, s"shards must be >= 1 (got $shards)")
    require(streamParallelism >= 1,
      s"streamParallelism must be >= 1 (got $streamParallelism)")
    val (base, expand, sh, blocked) =
      ngramBlockedInternals(docs, idCol, textCol, lenCol, n, blockWidth)
    // Broadcast decision (see verifyJaccard's scaladoc for why it
    // dominates staging): callers who already hold a corpus estimate
    // pass it (the catalog memoizes estimateNgramStats — zero extra
    // jobs per call); otherwise decide here from the POST-collapse
    // corpus (what the verify actually probes), ≤ one shingle hash per
    // char ([[verifyBroadcastBytes]]) — one tiny aggregate on the
    // (materialized) rep frame.
    val bcastVerify = broadcastVerify.getOrElse {
      val row = base.agg(sum(col("__len")), count(lit(1))).head()
      verifyBroadcastBytes(if (row.isNullAt(0)) 0L else row.getLong(0),
        row.getLong(1)) <= ngramBroadcastBudgetBytes
    }
    // NO distinct() on the candidates: the larger-own-block rule emits
    // every qualifying pair exactly once (equal own-blocks share one
    // bucket; adjacent own-blocks overlap in exactly one bucket; anything
    // further is outside the band) — re-proven by DedupPropertySpec's
    // brute-force equality. Skipping it removes the largest exchange of
    // the whole plan: with the broadcast verify, candidates then stream
    // from the block join straight through both array probes inside one
    // codegen stage, staging NOTHING.
    def pairsOf(blk: DataFrame): DataFrame =
      verifyJaccard(blockedCandJoin(blk, idCol, blockWidth, streamParallelism),
        sh, idCol, threshold, broadcastShingles = bcastVerify)
    val pairs =
      if (shards <= 1) pairsOf(blocked)
      else {
        // One residue class at a time; the reliable (scratch-parquet)
        // materialization is the sequencing point AND the cleanup hook:
        // each shard's write is a SQL execution, and with
        // shuffleDependency.fileCleanup enabled (scoped to this loop)
        // Spark removes the shard's shuffle files deterministically at
        // that execution's end — peak scratch is genuinely ONE shard's
        // staging, with no reliance on GC timing (the r14 explicit
        // System.gc() full-paused co-resident queries; the r15 45 s
        // periodicGC alone lags the boundary — the mutated ×100 drill
        // accumulated shards to ENOSPC under it).
        // The read-set-restore around the session conf is guarded by a
        // per-session JVM lock (r16): two concurrent sharded calls on
        // one session could otherwise interleave — B reading A's 'true'
        // as the prior value and restoring it after A unsets, leaking
        // the flag on for the session's lifetime. The lock serializes
        // the shard loops (they contend for the same scratch volume
        // anyway, so serializing them is the capacity-correct schedule
        // too); co-resident NON-sharded queries still run under the
        // altered conf during a loop — acceptable, since eager cleanup
        // only affects when shuffle files of COMPLETED executions are
        // removed, never results.
        val sess = docs.sparkSession
        shardLoopLocks.computeIfAbsent(sess, _ => new Object).synchronized {
          val cleanupKey =
            "spark.sql.classic.shuffleDependency.fileCleanup.enabled"
          val prior = sess.conf.getOption(cleanupKey)
          sess.conf.set(cleanupKey, "true")
          try (0 until shards).map { s =>
            graft.core.Materialize.reliable(
              pairsOf(blocked.filter(pmod(col("__blk"), lit(shards)) === s)))
          }.reduce(_ unionAll _)
          finally prior match {
            case Some(v) => sess.conf.set(cleanupKey, v)
            case None => sess.conf.unset(cleanupKey)
          }
        }
      }
    expand(pairs)
  }

  /** The blocked path's internal stage frames — (post-collapse reps,
    * expand, hashed shingles, exploded block rows). The block rows are
    * exposed so [[bucketCensus]] of their [[blockedSides]] counts the
    * EXACT frames the shipped plan joins. Not a dedup API — callers want
    * [[ngramJaccardPairs]]. */
  private[graft] def ngramBlockedInternals(docs: DataFrame, idCol: String,
      textCol: String, lenCol: Column, n: Int, blockWidth: Int)
      : (DataFrame, DataFrame => DataFrame, DataFrame, DataFrame) = {
    // char shingles are empty iff numChars < n — gate on length so the
    // candidate path never materializes shingle arrays (they were being
    // computed per doc just to evaluate a size()>0 filter)
    val base0 = docs.filter(length(col(textCol)) >= n)
      .select(col(idCol), col(textCol), lenCol.as("__len"))
    // shingles derive from the text, blocking from __len — collapse rows
    // identical on BOTH before the block join (see collapseExactDups;
    // the length-domain gate is signature-determined, so it runs first)
    val c = collapseExactDups(base0, idCol,
      Seq(md5(concat(col(textCol), lit("|"), col("__len").cast("string")))))
    val sh = c.reps.select(col(idCol),
      charShingleHashes(col(textCol), n).as("__sh"))
    val blocked = blockImages(c.reps.select(col(idCol), col("__len")), idCol,
      blockWidth)
    (c.reps, c.expand, sh, blocked)
  }

  /** (idCol, __len) rows exploded under their two block images
    * {own, own+1} as `__blk` — the `blk` input of [[blockedCandJoin]]. */
  private def blockImages(rows: DataFrame, idCol: String,
                          blockWidth: Int): DataFrame = {
    val own = (col("__len") / blockWidth).cast("long")
    rows.select(col(idCol), col("__len"), explode(array(own, own + 1)).as("__blk"))
  }

  /** The (x, y) sides of [[blockedCandJoin]] before any salt: x keeps
    * both images of every row, y only each row's own block. */
  private[graft] def blockedSides(blk: DataFrame,
                                  blockWidth: Int): (DataFrame, DataFrame) =
    (blk, blk.filter(col("__blk") === (col("__len") / blockWidth).cast("long")))

  /** The length-blocked candidate join shared by [[ngramJaccardPairs]]
    * and the measurement surface [[ngramBlockedCandidates]]: `blk` holds
    * (idCol, __len, __blk) with each doc exploded under blocks
    * {own, own+1}. Each doc pair within the ±blockWidth/2 band is
    * emitted EXACTLY once, as (least id, greatest id), so uniqueness is
    * by construction — no distinct().
    *
    * ASYMMETRIC IMAGES (r18): the x side keeps both images {own, own+1};
    * the buffered y side carries each doc under its OWN block only and
    * is designated the pair's (len, id)-max. |lenDiff| ≤ blockWidth/2 <
    * blockWidth forces ownMax − ownMin ∈ {0, 1}, so the max side's own
    * block is always one of the min side's two images: every qualifying
    * pair passes the join exactly once, in the max side's own block with
    * the max side as y. Next
    * to two-image sides this halves the y rows (and, at streamSalt > 1,
    * its salt-replicated shuffle bytes) and the within-bucket combo
    * volume the merge scan walks, and the per-combo exactly-once test is
    * two long compares instead of a division-based own-block rule.
    *
    * STREAM PARALLELISM (`streamSalt` > 1, r15): the join's only equi
    * key is `__blk` — a few dozen distinct values — and its shuffle
    * INPUT is skinny doc rows, so the pair-emission stage's parallelism
    * is both capped at the block count and AQE-coalescible to ONE task
    * on input bytes (measured: the mutated ×100 broadcast-verify run
    * streamed 5.1e9 pairs through a single core for 40 min — correct,
    * flat-disk, and 30× slower than the machine). A work-partitioning
    * salt fixes both: the x side carries `hash(id) % streamSalt` as an
    * extra equi key and is EXPLICITLY repartitioned on (block, salt) — a
    * user-specified shuffle AQE will not coalesce — while the y side
    * replicates under every salt value, so each pair still matches
    * exactly once and the pair space spreads over streamSalt×blocks
    * keys. Cost: the y side shuffles streamSalt× its (skinny,
    * corpus-linear) rows — the classic replicate-the-small-side salted
    * join, same family as RuleJoins.saltedJoin. */
  private[graft] def blockedCandJoin(blk: DataFrame, idCol: String,
                                     blockWidth: Int,
                                     streamSalt: Int = 1): DataFrame = {
    val (x, y) = blockedSides(blk, blockWidth)
    val (xs, ys, keys) =
      if (streamSalt <= 1) (x, y, Seq("__blk"))
      else (
        // BOTH sides user-repartitioned on the (block, salt) keys and the
        // join hinted merge: the replicated y side must not be planner-
        // broadcast (a corpus-sized hash relation whose per-pair probe
        // measured ~2x the SMJ group scan — ×30: 112 s vs ~60 s), and
        // user-origin exchanges are what AQE's byte-based coalesce
        // leaves alone (the whole point of the salt — see scaladoc).
        // Merge over shuffle_hash on the same salted shape (r17 m100
        // A/B/A: shuffle_hash 62.9 s vs merge 48.2/53.5 s, identical
        // 3.02e9 candidates): the per-partition hash build + probe costs
        // more than sorting the skinny salted rows.
        x.withColumn("__salt", pmod(xxhash64(col(idCol)), lit(streamSalt.toLong)))
          .repartition(streamSalt, col("__blk"), col("__salt"))
          .hint("merge"),
        y.withColumn("__salt", explode(sequence(lit(0L), lit(streamSalt.toLong - 1L))))
          .repartition(streamSalt, col("__blk"), col("__salt")),
        Seq("__blk", "__salt"))
    // y is the (len, id)-max: exactly-once emission
    bucketPairs(xs, ys, idCol, keys,
      Designated((x, y) => y("__len") > x("__len") ||
        (y("__len") === x("__len") && y(idCol) > x(idCol))),
      residual = (x, y) => abs(x("__len") - y("__len")) <= blockWidth / 2)
  }

  /** Candidate (a, b) pairs of the length-blocked path, PRE-verify and
    * WITHOUT the exact-dup collapse — the raw-corpus candidate volume
    * the blocked join pays, as a measurable frame (SCALING.md "blocked
    * vs prefix" records it against the prefix path's candidates). Dedup
    * callers use [[ngramJaccardPairs]] / [[ngramJaccardPairsPrefix]]. */
  def ngramBlockedCandidates(docs: DataFrame, idCol: String, textCol: String,
                             lenCol: Column, n: Int = 4,
                             blockWidth: Int = 100): DataFrame = {
    val rows = docs.filter(length(col(textCol)) >= n)
      .select(col(idCol), lenCol.as("__len"))
    blockedCandJoin(blockImages(rows, idCol, blockWidth), idCol, blockWidth)
  }

  /** Plan-sizing estimates for the blocked ngram join, from one bounded
    * aggregate over the corpus (one output row per length block, a few
    * dozen rows at any scale), then driver-side arithmetic:
    *   - `candidateBytes` drives the fallback shard count. It estimates
    *     the RAW (uncompressed logical) bytes the [[ngramJaccardPairs]]
    *     candidate verify must stage — the quantity that actually binds
    *     a single host's scratch (r15; the r14 doc-count proxy was
    *     calibrated to one corpus shape and broke silently on any
    *     other). Pairs are emitted at the LARGER doc's own block `b`
    *     (the uniqueness-by-construction rule in [[ngramJaccardPairs]]):
    *     within-block ~(p_b choose 2)·¾ (the ±blockWidth/2 band keeps
    *     ~¾ of same-block pairs under uniform-in-block lengths) plus
    *     cross pairs with block b−1 (~⅛ of the cross product sits
    *     inside the band; doubled to ¼ for safety). Each surviving
    *     candidate row then carries TWO sorted shingle-hash arrays of
    *     ~8·(len−n+1) bytes through the verify join's exchange —
    *     16·meanLen bytes per pair dominates. The estimate is
    *     deliberately RAW: shuffle compression (lz4/zstd) shrinks it
    *     20-30× on repetitive corpora (measured on the mutated boards),
    *     which the BUDGET parameter absorbs — see
    *     [[ngramShardBudgetBytes]];
    *   - `shingleBytes` ([[verifyBroadcastBytes]] of total chars and
    *     docs — an upper bound on the hashed-shingle verify rows,
    *     PRE-collapse so it only overestimates)
    *     predicts whether the verify will run as broadcast probes, in
    *     which case candidates never stage and sharding is pure
    *     overhead;
    *   - `candidatePairs` drives the stream-parallelism salt (CPU work
    *     is pair-proportional even when nothing stages). */
  final case class NgramEstimate(candidateBytes: Long, shingleBytes: Long,
                                 candidatePairs: Long)

  def estimateNgramStats(docs: DataFrame, textCol: String,
                         lenCol: Column, n: Int = 4,
                         blockWidth: Int = 100): NgramEstimate = {
    val rows = docs.filter(length(col(textCol)) >= n)
      .select((lenCol / blockWidth).cast("long").as("__blk"),
        lenCol.cast("double").as("__len"))
      .groupBy(col("__blk"))
      .agg(count(lit(1)).as("p"), avg(col("__len")).as("ml"))
      .collect() // bounded: one row per length block
    val pop = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val (cand, pairsTot) = pop.iterator.map { case (b, (p, ml)) =>
      val prev = pop.get(b - 1).map(_._1).getOrElse(0L)
      val pairs = p.toDouble * (p - 1) / 2 * 0.75 + p.toDouble * prev / 4
      (pairs * 16.0 * ml, pairs)
    }.foldLeft((0.0, 0.0)) { case ((cb, pp), (c, p)) => (cb + c, pp + p) }
    val shingle = verifyBroadcastBytes(
      math.round(pop.valuesIterator.map { case (p, ml) => p * ml }.sum),
      pop.valuesIterator.map(_._1).sum)
    NgramEstimate(cand.toLong, shingle, pairsTot.toLong)
  }

  /** Per-shard staging budget for [[ngramScratchShards]], in RAW
    * candidate bytes (the unit of [[NgramEstimate]]'s `candidateBytes`).
    * Default 1 TiB raw ≈ 25-40 GB of actual lz4/zstd-compressed shuffle
    * scratch on the synthetic corpora (measured: the mutated ×30 board
    * staged ~1 TB raw per rebalanced shard at a flat tens-of-GB disk
    * high-water; ×100 at S=9 — 3.9 TB raw/shard — ENOSPC'd an ~80 GB
    * scratch volume). A cluster deployment with S executors' aggregate
    * disk raises this via SPARK_GRAFT_NGRAM_SHARD_BUDGET_BYTES, usually
    * to the point where S = 1 — the documented right setting when the
    * fleet's scratch exceeds the estimate. */
  def ngramShardBudgetBytes: Long =
    sys.env.get("SPARK_GRAFT_NGRAM_SHARD_BUDGET_BYTES").flatMap(_.toLongOption)
      .getOrElse(1L << 40)

  /** Bounded-scratch shard count for [[ngramJaccardPairs]], derived from
    * the estimated candidate staging bytes vs the per-shard budget (the
    * srpBandBits philosophy: the documented capacity rule IS the default
    * behavior). Every correctness board and the exact-twin ladders
    * estimate far under one budget unit → the historical monolithic
    * plan; the mutated ×30/×100 boards derive the sequential shards that
    * keep peak scratch ~1/S. Capped at 32 — past that the per-shard
    * rescan overhead dominates, and a corpus that still exceeds the
    * budget at S=32 needs a cluster's aggregate disk, not more shards
    * (the cap is reported, not silent: callers can compare
    * `estBytes / budget` against it). */
  def ngramScratchShards(estCandidateBytes: Long,
                         budgetBytes: Long = ngramShardBudgetBytes): Int = {
    require(budgetBytes > 0, s"budgetBytes must be positive (got $budgetBytes)")
    // ceil by division, not by (+budget−1): the additive form overflows
    // Long for estimates near Long.MaxValue and would derive S=1 for
    // exactly the corpora that need S=32
    val ceilDiv = estCandidateBytes / budgetBytes +
      (if (estCandidateBytes % budgetBytes == 0) 0 else 1)
    math.min(32L, math.max(1L, ceilDiv)).toInt
  }

  /** Exact n-gram Jaccard dedup by PREFIX FILTERING (the ssjoin/PPJoin
    * family; public literature, e.g. Bayardo et al. "Scaling Up All
    * Pairs Similarity Search", WWW'07): order every doc's shingles by a
    * global total order (ascending document frequency, tiebreak on the
    * shingle), keep each doc's first |A| − ⌈t·|A|⌉ + 1 shingles — any
    * pair with Jaccard ≥ t must share a shingle inside both prefixes —
    * and bucket-join on those prefix shingles only.
    *
    * THE BAND-FREE PATH: it returns ALL pairs at or above t, whatever
    * their lengths (the d_ngram_jaccard_hi semantics). For the banded
    * contract (pairs within `blockWidth/2` chars) call
    * [[ngramJaccardPairs]]: it is exact at every t, and at t=0.9 it
    * beats this path cut back to the band even on the natural-shape
    * corpus, whose rare-shingle prefixes are prefix filtering's best
    * case. Warm minimum of 3 runs, local[4], same pair set on both:
    *   - sf0.1, blockWidth 20: 0.93 s blocked, 2.61 s prefix (254 pairs);
    *   - natural-shape ×10 (50,000 docs), blockWidth 20: 6.9 s, 54.4 s
    *     (19,135 pairs);
    *   - the same board, blockWidth 100: 14.6 s, 53.0 s (20,484 pairs).
    *
    * All stages are linear scans + two hash shuffles (by shingle for DF,
    * by doc for the prefix window); no N² anywhere. The verify reuses
    * [[verifyJaccard]] with the same broadcast-budget decision as the
    * blocked path.
    *
    * PLAN PARITY WITH THE BLOCKED PATH (this is the engine's only
    * band-free path, so its plan shape must hold where the blocked
    * path's does):
    *   - `broadcastVerify` override, same contract as
    *     [[ngramJaccardPairs]]: a caller holding a memoized corpus
    *     estimate (the catalog's [[estimateNgramStats]]) passes it and
    *     NO construction-time job runs; only a caller passing None pays
    *     one tiny aggregate over the (post-collapse) rep frame.
    *   - wrapped in [[collapseExactDups]] keyed on the text: every
    *     downstream input (df order, prefix, verify jaccard) is a pure
    *     function of the shingle set, itself a pure function of the
    *     text, so the collapse is output-identical by the same argument
    *     as the blocked path — and on a re-crawled corpus candidates
    *     drop from quadratic-in-copies to quadratic-in-distinct. (The
    *     collapse CHANGES document frequencies, hence the prefix order
    *     and the candidate SET — but prefix filtering is
    *     recall-complete under ANY consistent global order, so the
    *     verified output is invariant; DedupPropertySpec proves
    *     brute-force equality through the collapse.)
    * Output: (a, b, jaccard), a < b — ALL pairs at or above threshold. */
  def ngramJaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
                              n: Int = 4, threshold: Double = 0.6,
                              broadcastVerify: Option[Boolean] = None): DataFrame = {
    // collapse-soundness gate — see minhashLshPairs
    require(threshold <= 1.0, s"threshold must be <= 1.0 (got $threshold)")
    // char shingles are empty iff numChars < n — same domain gate as the
    // blocked path, applied BEFORE the collapse (signature-determined)
    val base0 = docs.filter(length(col(textCol)) >= n)
      .select(col(idCol), col(textCol))
    val c = collapseExactDups(base0, idCol, Seq(md5(col(textCol))))
    // hashed shingles throughout (r15, matching ngramJaccardPairs): the
    // global total order PPJoin needs is ANY consistent one — ascending
    // (df, hash64) works exactly like (df, string) — and 64-bit hash
    // arrays are ~3x lighter through every exchange and probe, exact up
    // to xxhash64 collisions (~k²/2^64 per pair, negligible)
    val sh = c.reps.select(col(idCol), charShingleHashes(col(textCol), n).as("__sh"))
    // same broadcast decision as the blocked path — the verify cliff is
    // identical (measured: the natural-shape ×30 board's prefix verify
    // ENOSPC'd through the fat SMJ exchange before this fix)
    val bcast = broadcastVerify.getOrElse {
      val row = c.reps.agg(sum(length(col(textCol))), count(lit(1))).head()
      verifyBroadcastBytes(if (row.isNullAt(0)) 0L else row.getLong(0),
        row.getLong(1)) <= ngramBroadcastBudgetBytes
    }
    val cand = prefixCandidatesFrom(sh, idCol, threshold)
    c.expand(verifyJaccard(cand, sh, idCol, threshold, broadcastShingles = bcast))
  }

  /** The PPJoin candidate stage of [[ngramJaccardPairsPrefix]] (over
    * post-collapse reps): distinct (a, b) pairs. `sh` is (idCol, __sh)
    * with __sh a non-empty hashed-shingle array. The distinct IS
    * load-bearing here, unlike the blocked path: a pair can share several
    * prefix shingles. It runs on skinny (a, b) rows only — the arrays
    * join in AFTER, via the verify's broadcast probes.
    *
    * Two candidate-side prunes beyond the prefix itself, both from the
    * PPJoin literature (Xiao/Wang/Lin/Yu, WWW'08 — public algorithm):
    *   - size filter: J ≥ t forces min/max size ratio ≥ t;
    *   - POSITIONAL filter (r16): J ≥ t ⟺ overlap o ≥ α =
    *     t/(1+t)·(|A|+|B|), and for the pair's FIRST common token (the
    *     one with the minimal rank in the shared global order — minimal
    *     position in BOTH sorted arrays) every common token ranks at or
    *     after it, so o ≤ 1 + min(|A|−pA, |B|−pB). Emissions whose
    *     positional upper bound cannot reach α are pruned; the
    *     first-common-token emission of every qualifying pair always
    *     survives (its bound is ≥ o ≥ α, and PPJoin's prefix lemma puts
    *     that token inside both prefixes), so the distinct'd candidate
    *     set keeps full recall — property-proven against brute force.
    *     The α compare scales by (1 − 1e-12) instead of taking ceil:
    *     float error under ceil would round α UP a full unit and could
    *     prune an exactly-at-threshold pair; the RELATIVE slack only
    *     ever ADMITS a borderline emission (the exact Jaccard verify
    *     decides anyway) and — unlike the r16 absolute 1e-9 — stays
    *     larger than double rounding error at ANY shingle count (an
    *     absolute epsilon is outgrown by ulp(α) once |A|+|B| ≳ 1e8,
    *     where one rounding step could exceed the slack and prune an
    *     exactly-at-threshold pair's first-common-token emission).
    *     Measured effect (token-poor sf0.1 corpus, t=0.85,
    *     where every bucket is mid-df): raw emissions 7.1M → the
    *     mid-prefix tail pruned ~4×. */
  private def prefixCandidatesFrom(sh: DataFrame, idCol: String,
                                   threshold: Double): DataFrame = {
    val tok = sh.select(col(idCol), size(col("__sh")).as("__n"),
      explode(col("__sh")).as("__s"))
    val dfreq = tok.groupBy(col("__s")).agg(count(lit(1)).as("__df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__df"), col("__s"))
    // materialized: the self-join's two sides otherwise replan the
    // whole tok + df + window pipeline (alias-divergent subtrees defeat
    // ReuseExchange — the simhashPairs/base lesson); one narrow row per
    // prefix entry
    val prefix = tok.join(dfreq, "__s")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__n") - ceil(lit(threshold) * col("__n")) + 1)
      .select(col(idCol), col("__n"), col("__rn"), col("__s"))
      .materialized()
    bucketPairs(prefix, prefix, idCol, Seq("__s"), Lower,
      residual = (x, y) =>
        // J ≥ t forces a size ratio ≥ t — prune before the exact check
        least(x("__n"), y("__n")) >= lit(threshold) * greatest(x("__n"), y("__n")) &&
        // positional filter — see scaladoc
        (lit(1) + least(x("__n") - x("__rn"), y("__n") - y("__rn"))) >=
          lit(threshold / (1 + threshold) * (1 - 1e-12)) * (x("__n") + y("__n")),
      distinct = true)
  }

  /** Join candidate (a, b) pairs back to hashed (`array<long>`, sorted)
    * shingle arrays and keep pairs at or above the exact-Jaccard
    * threshold; the kernel is [[jaccardSortedAtLeast]]. Every verify side
    * also carries the 64-byte parity sketch (r17): the bound check below
    * skips the merge kernel on provably-under-threshold pairs.
    *
    * `broadcastShingles` is the scale lever (r15): with it, both array
    * lookups become explicit broadcast hash probes and the candidate
    * stream flows through ONE codegen stage — no exchange ever carries a
    * shingle array, so verify staging is ZERO regardless of candidate
    * count (the same restructure that fixed the r14 SRP rerank). Without
    * it the planner's threshold decides: under ~50 MB of arrays AQE
    * broadcast-converts anyway, but one byte past it the plan falls off
    * a cliff to sort-merge joins whose exchanges carry two arrays per
    * candidate — measured on the mutated ×100 board as a >65 GB
    * single-shard sort spill (QueryMetrics: the same plan under the
    * threshold moves 1.9 GB total). Callers pass true whenever the
    * array side fits [[ngramBroadcastBudgetBytes]]. */
  private def verifyJaccard(cand: DataFrame, shingled: DataFrame,
                            idCol: String, threshold: Double,
                            broadcastShingles: Boolean): DataFrame = {
    // TWO-TIER probe (r17, after the parity filter landed): on a
    // candidate-heavy low-precision stream (m100 blocked ngram: 3.02e9
    // candidates, 99.15% fail t=0.6) the per-candidate cost is random
    // memory LATENCY, not arithmetic — each probe walks a bucket of a
    // multi-hundred-MB hash relation just to read the 64-byte sketch
    // the parity filter needs, and BOTH array-bearing probes complete
    // before any filter can fire. Splitting the verify side into a
    // SKINNY relation (id, |A|, sketch — ~100 B/doc, LLC-resident at
    // m100 scale: ~35 MB vs ~620 MB) probed by ALL candidates and a FAT
    // relation (id, shingle array) probed only by size+parity SURVIVORS
    // moves ~all probe traffic of the 99% into the cache-resident tier.
    // Same inner-join keys, same filter predicates, same kernel on the
    // same surviving pairs: the kept (a, b, jaccard) set is identical —
    // DedupPropertySpec's brute-force pipeline equalities run through
    // this shape, and PlanAuditSpec asserts the 4-probe plan. Everything
    // still fuses into ONE codegen stage (BHJ chains + filters), so
    // candidates stage nothing, exactly as before. Without the broadcast
    // (the shard path) the verify keeps the one-tier shape below.
    //
    // The pre-kernel predicates and the kernel tail, ONCE for both
    // shapes (r18, ADVICE): a threshold or slack change applied to one
    // shape only would silently desynchronize them.
    //   - size filter: Jaccard ≥ t implies min(|a|,|b|)/max(|a|,|b|) ≥ t —
    //     a scalar compare before any array access;
    //   - parity bound next, still before the kernel (see
    //     paritySketchPasses; conjunct order is preserved through
    //     CombineFilters and codegen short-circuits left-to-right).
    def sizeRatioOk(nA: Column, nB: Column): Column =
      least(nA, nB) >= lit(threshold) * greatest(nA, nB)
    def kernelTail(survivors: DataFrame): DataFrame =
      survivors
        .withColumn("jaccard",
          jaccardSortedAtLeast(threshold)(col("__sha"), col("__shb")))
        .filter(col("jaccard") >= threshold)
        .select(col("a"), col("b"), col("jaccard"))
    if (broadcastShingles) {
      val skinny = shingled.select(col(idCol), size(col("__sh")).as("__n"),
        paritySketchOf(col("__sh")).as("__pk"))
      def sk(as: String, n: String, sg: String) = broadcast(skinny.select(
        col(idCol).as(as), col("__n").as(n), col("__pk").as(sg)))
      val pruned = cand.join(sk("a", "__na", "__pka"), "a")
        .join(sk("b", "__nb", "__pkb"), "b")
        .filter(sizeRatioOk(col("__na"), col("__nb")))
        .filter(paritySketchPasses(threshold)(
          col("__pka"), col("__pkb"), col("__na"), col("__nb")))
        .select(col("a"), col("b"))
      def ft(as: String, sh: String) = broadcast(
        shingled.select(col(idCol).as(as), col("__sh").as(sh)))
      kernelTail(pruned.join(ft("a", "__sha"), "a").join(ft("b", "__shb"), "b"))
    } else {
      def side(as: String, sh: String, sg: String) =
        shingled.select(col(idCol).as(as), col("__sh").as(sh))
          .withColumn(sg, paritySketchOf(col(sh)))
      val joined = cand.join(side("a", "__sha", "__pka"), "a")
        .join(side("b", "__shb", "__pkb"), "b")
        .filter(sizeRatioOk(size(col("__sha")), size(col("__shb"))))
      kernelTail(joined.filter(paritySketchPasses(threshold)(
        col("__pka"), col("__pkb"), size(col("__sha")), size(col("__shb")))))
    }
  }

  /** Estimated resident bytes of the verify's broadcast relations for
    * `shingles` hashed shingles over `reps` docs: 8 bytes per shingle
    * hash plus 144 bytes per doc (r18, ADVICE). The 144 counts BOTH tiers
    * of the two-tier verify — the fat array relation's 32 B id+header and
    * the skinny sketch relation's ~112 B (id + size + 64-byte parity
    * sketch + headers); the one-tier shape's constant is at most 112, so
    * 144 upper-bounds both shapes. Compared against
    * [[ngramBroadcastBudgetBytes]]. */
  private[graft] def verifyBroadcastBytes(shingles: Long, reps: Long): Long =
    shingles * 8L + reps * 144L

  /** Broadcast budget for the verify's shingle side: an explicit
    * broadcast must fit comfortably in EVERY executor's heap alongside
    * its working set, so the default derives from this JVM's max heap
    * (max/12 — e.g. 2 GiB on a 24 GiB driver, ~340 MiB on a 4 GiB
    * executor profile; hash-relation overhead over the raw array bytes
    * is within that margin). Overridable via
    * SPARK_GRAFT_NGRAM_BCAST_BUDGET_BYTES. */
  def ngramBroadcastBudgetBytes: Long =
    sys.env.get("SPARK_GRAFT_NGRAM_BCAST_BUDGET_BYTES").flatMap(_.toLongOption)
      .getOrElse(Runtime.getRuntime.maxMemory() / 12)

  /** Cross-document duplicated-passage REMOVAL — CCNet dedups identical
    * lines across a shard, C4 drops repeated three-sentence spans; on
    * whitespace-token corpora the unit is the non-overlapping word-aligned
    * `blockTokens`-token block. A block occurring in ≥ 2 DISTINCT docs is
    * corpus-duplicated: every occurrence except the global first
    * (min (id, block_index)) is removed, and each doc is rebuilt from its
    * surviving blocks plus its sub-block tail.
    *
    * Output: (idCol, n_blocks, n_removed, rb) where `rb` is the rebuilt
    * token array (empty for a fully-scrubbed doc). Docs shorter than one
    * block pass through untouched with n_blocks = 0.
    *
    * Scale contract: TWO corpus passes by design — the count pass and the
    * rewrite pass, exactly how shard-level line dedup runs at 100 TB.
    * Block df + first-occurrence come from ONE groupBy(block) aggregate
    * joined back on the same key — never a window over the block value
    * (hot boilerplate blocks are exactly the keys a window would buffer
    * in one task). The block frame is Materialize-pinned so its two
    * consumers (stats aggregate, occurrence join) share one
    * materialization — their differing column pruning otherwise defeats
    * exchange-reuse canonicalization and re-scans the corpus.
    * Keep-first selection uses `min(struct(id, k))` — lexicographic on
    * (id, block_index) with no arithmetic precondition on id magnitude
    * or block count (the oracle's `id * 1000000 + k` encoding is the
    * same order wherever that encoding is valid).
    *
    * Semantic reference: DedupPropertySpec proves this frame equal to a
    * driver-side reimplementation on randomized corpora with planted
    * copies, shared blocks, and sub-block docs. */
  def passageScrub(docs: DataFrame, idCol: String, textCol: String,
                   blockTokens: Int = 10): DataFrame = {
    val B = blockTokens
    val framed = docs
      .withColumn("__toks", split(coalesce(col(textCol), lit("")), " "))
      .withColumn("__n_tok", size(col("__toks")))
      .withColumn("__nblk", (col("__n_tok") / B).cast("int"))
    val blocks = framed.filter(col("__nblk") > 0)
      .select(col(idCol), col("__toks"), col("__nblk"),
        explode(sequence(lit(0), col("__nblk") - 1)).as("__k"))
      .select(col(idCol), col("__k"),
        array_join(slice(col("__toks"), col("__k") * B + 1, lit(B)), " ")
          .as("__blk"))
      .materialized()
    val stats = blocks.groupBy(col("__blk")).agg(
      countDistinct(col(idCol)).as("__ndocs"),
      min(struct(col(idCol), col("__k"))).as("__first"))
    val occ = blocks.join(stats, "__blk")
      .withColumn("__removed", col("__ndocs") >= 2 &&
        struct(col(idCol), col("__k")) =!= col("__first"))
    val kept = occ.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_blocks"),
      sum(when(col("__removed"), 1L).otherwise(0L)).as("n_removed"),
      sort_array(collect_list(when(!col("__removed"), col("__k"))))
        .as("__kept_ks"))
    framed.join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        concat(
          flatten(transform(coalesce(col("__kept_ks"), array()),
            k => slice(col("__toks"), k * B + 1, lit(B)))),
          slice(col("__toks"), col("__nblk") * B + 1,
            col("__n_tok") - col("__nblk") * B)).as("rb"))
  }

  /** PassJoin pigeonhole candidate generation for edit-distance dedup
    * (Li/Deng/Feng, VLDB'11 — public algorithm; reference workload:
    * near-dup detection over document heads).
    *
    * CONTRACT — this is HEAD edit distance, not full-document edit
    * distance: only the first `headLen` characters of `textCol` are
    * compared. That is what the pigeonhole segment scheme requires (the
    * segment layout is fixed per length), and it is the production
    * semantics for near-dup heads/titles/URLs; a caller needing
    * full-document edit distance at unbounded length wants a different
    * algorithm class entirely (the n-gram/MinHash family above).
    *
    * Scheme: a head splits into `maxEdits + 1` fixed segments (longer
    * segments first, PassJoin's even partition). ed(a, b) <= maxEdits
    * implies b contains at least one segment of a EXACTLY, at a start
    * shifted by at most maxEdits — so candidate generation is an
    * equi-join on (segment_index, substring), content-selective and
    * provably lossless (DedupPropertySpec: 5000 randomized mutation
    * trials, both join orders), conjoined with the |len diff| <=
    * `lengthBand` band. Heads shorter than `headLen` fall back to a
    * length-blocked pool (their partners are within `lengthBand`, so
    * the pool is the short slice of the corpus); the two branches are
    * disjoint and together exhaustive.
    *
    * Scale contract: each doc emits maxEdits+1 segment rows and
    * O(maxEdits²) probe rows — constants — and bucket sizes track
    * near-dup density, not corpus length concentration (the failure
    * mode of length-band-only blocking; 13x fewer candidates at sf0.1,
    * SCALING.md "PassJoin blocking"). Never a cartesian.
    *
    * @param lenCol length column to band on (defaults to
    *               `length(textCol)`); pass the table's own length
    *               column when one exists so the band matches the
    *               caller's documented semantics
    * @return (a, b, head_a, head_b) with a < b — candidate SUPERSET of
    *         the true pairs, possibly with duplicates (a pair can match
    *         on several segments); callers verify with a thresholded
    *         `levenshtein(head_a, head_b, maxEdits)` after a
    *         groupBy(a, b) dedup (one shuffle — see t_edit_distance for
    *         the aggregate-expression pattern that keeps the kernel out
    *         of the join condition). On corpora with heavy exact
    *         duplication, wrap the pipeline in [[collapseExactDups]]
    *         keyed on (head, length) first — pair semantics depend
    *         only on that signature, and the collapse keeps the
    *         segment join quadratic in DISTINCT signatures
    *         (t_edit_distance shows the full pattern; ×100 twins:
    *         457 s uncollapsed → 2.9 s) */
  def passJoinCandidates(docs: DataFrame, idCol: String, textCol: String,
                         maxEdits: Int = 5, headLen: Int = 40,
                         lengthBand: Int = 10,
                         lenCol: Option[String] = None): DataFrame = {
    require(maxEdits >= 1 && headLen > maxEdits + 1,
      "need maxEdits >= 1 and headLen > maxEdits + 1")
    val nSeg = maxEdits + 1
    // even partition, remainder to the FIRST segments: lens then starts
    val segLens = (0 until nSeg).map(i =>
      headLen / nSeg + (if (i < headLen % nSeg) 1 else 0))
    val segStarts = segLens.scanLeft(1)(_ + _).take(nSeg)
    val len = lenCol.map(col).getOrElse(length(col(textCol)))
    val base = docs.select(col(idCol).as("__pj_id"), len.as("__pj_len"),
      substring(col(textCol), 1, headLen).as("__pj_head"))
    val full = base.filter(col("__pj_len") >= headLen)
    val segs = full.select(col("__pj_id"), col("__pj_len"), col("__pj_head"),
      explode(array((0 until nSeg).map(i => struct(lit(i).as("i"),
        substring(col("__pj_head"), segStarts(i), segLens(i)).as("s"))): _*))
        .as("__sg"))
      .select(col("__pj_id"), col("__pj_len"), col("__pj_head"),
        col("__sg.i").as("i"), col("__sg.s").as("s"))
    val probeDefs = for {
      i <- 0 until nSeg; d <- -maxEdits to maxEdits; st = segStarts(i) + d
      if st >= 1 && st <= headLen - segLens(i) + 1
    } yield (i, st, segLens(i))
    val probes = full.select(col("__pj_id"), col("__pj_len"), col("__pj_head"),
      explode(array(probeDefs.map { case (i, st, ln) => struct(lit(i).as("i"),
        substring(col("__pj_head"), st, ln).as("s")) }: _*)).as("__pb"))
      .select(col("__pj_id"), col("__pj_len"), col("__pj_head"),
        col("__pb.i").as("i"), col("__pb.s").as("s"))
    def heads(x: PairSide, y: PairSide) =
      Seq(x("__pj_head").as("head_a"), y("__pj_head").as("head_b"))
    def inBand(x: PairSide, y: PairSide) =
      abs(x("__pj_len") - y("__pj_len")) <= lengthBand
    // segments of the smaller id against probes of the larger
    val candFull = bucketPairs(segs, probes, "__pj_id", Seq("i", "s"), Lower,
      residual = inBand, out = heads)
    // short-head fallback: a doc under headLen chars can only pair with
    // docs under headLen + lengthBand chars — a corpus-small pool,
    // length-blocked so the join stays equi-shaped (each doc in blocks
    // {own, own+1}, pair kept at the larger doc's own block — unique by
    // construction, no distinct needed)
    val bw = 2 * lengthBand
    val shortPool = base.filter(col("__pj_len") <= headLen + lengthBand - 1)
      .withColumn("__blk", explode(array((col("__pj_len") / bw).cast("long"),
        (col("__pj_len") / bw).cast("long") + 1)))
    val candShort = bucketPairs(shortPool, shortPool, "__pj_id", Seq("__blk"), Lower,
      residual = (x, y) => inBand(x, y) &&
        least(x("__pj_len"), y("__pj_len")) < headLen &&
        x("__blk") === greatest((x("__pj_len") / bw).cast("long"),
          (y("__pj_len") / bw).cast("long")),
      out = heads)
    candFull.unionByName(candShort)
  }
}
