package graft.operators

import graft.core.Materialize.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation — turns
  * near-duplicate PAIRS into dedup CLUSTERS (every doc gets its
  * component's minimum id as the canonical representative; keep one row
  * per component to dedup).
  *
  * Each iteration is one neighbor-propagation join + one pointer-jump
  * join (shuffles on the node key). The pointer jump — adopt the label
  * OF your label — roughly doubles the propagated distance per pass
  * (classic PRAM pointer jumping / hash-to-min), so convergence is
  * O(log diameter) iterations rather than O(diameter): the default
  * maxIter=20 covers any realistic graph (diameter ≈ 2^20), not just
  * the 2-4-hop chains of near-dup clusters. The loop stops as soon as a
  * pass changes nothing; the driver only orchestrates.
  */
object Components {

  /** Triangle counts per node over an undirected edge list given as
    * (a, b) pairs with a < b (the near-dup pair-graph convention).
    * Triangles are enumerated once each via the DEGREE-ORDERED wedge
    * join ([[orientedTriangles]]) — three equi-joins on node keys,
    * never an all-pairs step, with wedge volume bounded O(|E|^1.5)
    * even on hub-skewed graphs. Dense triangle participation is the
    * clique signal (template spam shows up as near-dup cliques, not
    * chains). Output: (node, n_triangles), nodes in ≥1 triangle. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // orientedTriangles reads its input twice — materialize so the
    // (possibly expensive) pair-producing plan underneath runs once
    val tri = orientedTriangles(
      edges.select(col("a"), col("b")).materialized())
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).cast("long").as("n_triangles"))
  }

  /** Each triangle of an a<b undirected edge list exactly once, as
    * (x, y, z) — corners in DEGREE-(then id-)rank order, not id order.
    * The standard degree-ordering: every edge is oriented from its
    * lower-(degree, id) endpoint to its higher one, so wedges enumerate
    * only from each node's higher-ranked neighbors — total wedge volume
    * O(|E|^1.5) regardless of skew, where the id-ordered wedge join is
    * Σ deg² and blows up on hubs (a 10^5-degree template hub would
    * otherwise contribute 5·10^9 wedges alone). The enumerated SET of
    * triangles is identical under any orientation — ordering changes
    * which of a triangle's three wedges is the one enumerated, never
    * whether the triangle is found — so consumers that symmetrize over
    * corners ([[triangleCounts]], [[weightedTriangleCounts]]' corner
    * products) are output-unchanged.
    *
    * `edges` is read by the degree census and the orientation, each
    * replicated under the three wedge-join references — callers pass an
    * already-materialized frame so only the cheap census/orientation
    * layer replans (identical subtrees, so ReuseExchange shares the
    * census shuffle); pinning the oriented list too measured SLOWER at
    * sf0.1 (an extra materialization job outweighs three plannings of
    * two small joins). */
  private def orientedTriangles(e0: DataFrame): DataFrame = {
    val deg = e0.select(col("a").as("n")).unionAll(e0.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("__d"))
    val oriented = e0
      .join(deg.select(col("n").as("a"), col("__d").as("__da")), "a")
      .join(deg.select(col("n").as("b"), col("__d").as("__db")), "b")
      .select(when(col("__da") < col("__db")
          || (col("__da") === col("__db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v"))
    oriented.alias("__e1")
      .join(oriented.alias("__e2"), col("__e1.v") === col("__e2.u"))
      .join(oriented.alias("__e3"),
        col("__e3.u") === col("__e1.u") && col("__e3.v") === col("__e2.v"))
      .select(col("__e1.u").as("x"), col("__e1.v").as("y"),
        col("__e2.v").as("z"))
  }

  /** [[triangleCounts]] of the BLOWN-UP near-dup graph, computed on the
    * collapsed rep graph — the scale-safe form for corpora with heavy
    * exact duplication. Exact triangle enumeration on the expanded graph
    * is cubic in duplicate copies: every k-copy dup group is a k-clique
    * in the pair graph, so C(k,3) triangles per group must each be
    * wedge-enumerated (measured 111 s at ×100 byte-identical twins — the
    * only super-linear row of the r11 scale board). Here the enumeration
    * runs on H = (repEdges over exact-dup representatives) with group
    * sizes as node weights, and each member's count is the closed form
    * over its group r and r's H-neighborhood:
    *
    *   T(u ∈ r) = C(w_r−1, 2)                       — both others in r
    *            + (w_r−1) · Σ_{s∈N(r)} w_s           — one in r, one in s
    *            + Σ_{s∈N(r)} C(w_s, 2)               — both in one s
    *            + Σ_{(s,t)∈E(H)∩N(r)²} w_s·w_t       — H-triangle corners
    *
    * (the last term is the ordered H-wedge enumeration, each H-triangle
    * contributing the product of the other two corners' weights to each
    * corner). Every stage is linear in H plus one output-proportional
    * member expansion; nothing scales with copy count. Output-identical
    * to `triangleCounts(expand(repPairs))` because the expanded graph IS
    * the blow-up: each dup group an intra-clique (identical signatures
    * pair at jaccard 1.0 under any admissible threshold), each rep edge a
    * complete bipartite bundle, and every member of a group is
    * graph-automorphic to its rep (DedupPropertySpec proves equality on
    * randomized planted-twin corpora).
    *
    * @param repEdges   (a, b) undirected rep pairs, a < b — the collapsed
    *                   graph H (e.g. `minhashLshPairsCollapsed(...).repPairs`)
    * @param dupMembers (rep, member) dup-group membership, rep = group min
    *                   id, rep itself included, singletons absent
    *                   ([[graft.operators.TextDedup.collapseExactDups]])
    * @return (node, n_triangles) over members AND singleton reps, nodes
    *         in ≥ 1 triangle only — the [[triangleCounts]] contract */
  def weightedTriangleCounts(repEdges: DataFrame,
                             dupMembers: DataFrame): DataFrame = {
    def c2(w: Column): Column = shiftright(w * (w - lit(1L)), 1)
    // H is consumed by the triangle enumeration (2 refs), the neighbor
    // aggregate, and the node universe — materialize the (possibly
    // expensive) pair-producing plan once, same rationale as
    // triangleCounts
    val e = repEdges.select(col("a"), col("b")).materialized()
    val wTab = dupMembers.groupBy(col("rep"))
      .agg(count(lit(1)).cast("long").as("__w"))
    // node universe: H endpoints (weight 1 unless a dup rep) ∪ dup reps —
    // an edge-less dup group of size ≥ 3 is still an expanded clique with
    // C(w−1, 2) triangles per member, so it must not be dropped
    val hNodes = e.select(col("a").as("rep"))
      .unionAll(e.select(col("b").as("rep"))).distinct()
    val base = hNodes.unionAll(wTab.select(col("rep"))).distinct()
      .join(wTab, Seq("rep"), "left")
      .select(col("rep"), coalesce(col("__w"), lit(1L)).as("__w"))
      .materialized()
    val sym = e.select(col("a").as("r"), col("b").as("s"))
      .unionAll(e.select(col("b").as("r"), col("a").as("s")))
    val nbr = sym.join(base.select(col("rep").as("s"), col("__w")), "s")
      .groupBy(col("r"))
      .agg(sum(col("__w")).as("__s1"), sum(c2(col("__w"))).as("__s2"))
    // degree-ordered enumeration; the corner products below symmetrize
    // over (x, y, z), so the rank order of corners is irrelevant
    val tri = orientedTriangles(e)
    val t4 = tri
      .join(base.select(col("rep").as("x"), col("__w").as("__wx")), "x")
      .join(base.select(col("rep").as("y"), col("__w").as("__wy")), "y")
      .join(base.select(col("rep").as("z"), col("__w").as("__wz")), "z")
      .select(explode(array(
        struct(col("x").as("r"), (col("__wy") * col("__wz")).as("__t")),
        struct(col("y").as("r"), (col("__wx") * col("__wz")).as("__t")),
        struct(col("z").as("r"), (col("__wx") * col("__wy")).as("__t"))))
        .as("__c"))
      .groupBy(col("__c.r").as("r")).agg(sum(col("__c.__t")).as("__t4"))
    val perMember = base
      .join(nbr.withColumnRenamed("r", "rep"), Seq("rep"), "left")
      .join(t4.withColumnRenamed("r", "rep"), Seq("rep"), "left")
      .select(col("rep"),
        (c2(col("__w") - 1)
          + (col("__w") - 1) * coalesce(col("__s1"), lit(0L))
          + coalesce(col("__s2"), lit(0L))
          + coalesce(col("__t4"), lit(0L))).cast("long").as("n_triangles"))
      .filter(col("n_triangles") > 0)
    perMember.join(dupMembers, Seq("rep"), "left")
      .select(coalesce(col("member"), col("rep")).as("node"),
        col("n_triangles"))
  }

  /** [[connectedComponents]] of the BLOWN-UP near-dup graph, computed on
    * the collapsed rep graph. Sound because each dup group's rep IS its
    * minimum member id ([[graft.operators.TextDedup.collapseExactDups]]'s
    * contract): a group's members connect only through their rep's
    * H-component, so components(expanded) == expand(components(H)) — the
    * min id of an expanded component is the min REP of its H-component,
    * which is exactly H's own label. Label propagation then runs over H
    * (its size tracks distinct content, not copies) and the result maps
    * back through one membership join; the ×100 twin cost of iterating
    * over a copy-proportional edge list is gone.
    *
    * @param repEdges   (a, b) rep pairs over H
    * @param dupMembers (rep, member) per [[weightedTriangleCounts]]
    * @return (node, component) over exactly the expanded graph's nodes:
    *         all dup-group members plus singleton reps with an H edge */
  def connectedComponentsCollapsed(repEdges: DataFrame,
                                   dupMembers: DataFrame,
                                   maxIter: Int = 20): DataFrame = {
    val compH = connectedComponents(repEdges, maxIter)
    val dupReps = dupMembers.select(col("rep")).distinct()
    // a dup group whose rep has no qualifying H edge is still its own
    // expanded component (the intra clique), labeled by the rep itself
    val repLab = dupReps
      .join(compH.withColumnRenamed("node", "rep"), Seq("rep"), "left")
      .select(col("rep"), coalesce(col("component"), col("rep")).as("component"))
    val members = dupMembers.join(repLab, "rep")
      .select(col("member").as("node"), col("component"))
    val hOnly = compH
      .join(dupReps.withColumnRenamed("rep", "node"), Seq("node"), "left_anti")
    members.unionByName(hOnly)
  }

  /** @param edges (a, b) undirected pairs
    * @return (node, component) — component = min node id reachable.
    *         The result is always Materialize-backed (never a frame
    *         still registered in the session cache: see the note at the
    *         return site); storage is reclaimed by the context cleaner
    *         once the frame is unreachable.
    * @throws IllegalStateException if labels have not converged after
    *         maxIter passes — unconverged labels are silently WRONG
    *         (over-segmented components), never return them. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // the union's two branches are distinct subtrees, so a merely-cached
    // sym still computes the edge-producing plan twice — materialize the
    // edge list once and let both branches read the pinned blocks
    val e = edges.select(col("a"), col("b")).materialized()
    val sym = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .cache()
    // Each iteration references `labels` TWICE (offers + the propagated
    // frame), so building on a merely-cached frame doubles the LOGICAL
    // plan tree per pass — exponential planning/explain cost by
    // iteration ~10 even though the physical work is flat (cache
    // truncates computation, not the plan). Storage strategy: plain
    // cache for the first two passes (shallow dedup graphs converge
    // there and the tree is still ≤4 frames), then lazy Materialize —
    // the per-iteration convergence count is the action that
    // materializes it (local mode), same one-job-per-pass cadence,
    // lineage cut; reliable mode persists each generation durably.
    // Seed with the first propagation round folded into initialization:
    // min(node, min neighbor) is exactly iteration 1 over identity labels,
    // for the same single shuffle the identity init would have cost.
    var labels = sym.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("component"))
      .select(col("src").as("node"), col("component"))
      .cache()
    var labelsIsCached = true
    var iter = 1
    var converged = false
    while (!converged && iter < maxIter) {
      // each node offers its current label to every neighbor
      val offers = labels
        .join(sym, col("node") === col("src"))
        .select(col("dst").as("node"), col("component"))
        .groupBy(col("node")).agg(min(col("component")).as("__offer"))
      // keep the previous label alongside the new one so convergence
      // detection is a filter over this same cached frame — one action per
      // iteration, no extra self-join against the old labels
      val prop = labels.select(col("node"), col("component"))
        .join(offers, Seq("node"), "left")
        .select(col("node"), col("component").as("__old"),
          least(col("component"), coalesce(col("__offer"), col("component")))
            .as("__prop"))
      // pointer jump against the MATERIALIZED previous labels (so the
      // propagation lineage is not computed twice): label(u) ←
      // min(label(u), prevLabel(label(u))). Every candidate label is a
      // node id inside u's component, so the invariant holds; the
      // fixpoint of the neighbor step alone already forces equal labels
      // across every edge, so the jump only accelerates, never changes,
      // the converged answer. Skipped for the first two passes: dedup
      // graphs converge there on propagation alone, and the jump join
      // would be a pure extra shuffle; a graph still unconverged by pass
      // 3 is deep, and jumping from then on is what keeps the total at
      // O(log diameter).
      val jumped =
        if (iter < 3) prop.withColumnRenamed("__prop", "component")
        else {
          val jumpTable = labels
            .select(col("node").as("__jn"), col("component").as("__jc"))
          prop.join(jumpTable, col("__prop") === col("__jn"), "left")
            .select(col("node"), col("__old"),
              least(col("__prop"), coalesce(col("__jc"), col("__prop")))
                .as("component"))
        }
      val next = if (iter < 3) jumped.cache() else jumped.materialized()
      val changed = next.filter(col("component") =!= col("__old")).count()
      if (labelsIsCached) labels.unpersist()
      labels = next
      labelsIsCached = iter < 3
      converged = changed == 0
      iter += 1
    }
    sym.unpersist()
    if (!converged) {
      if (labelsIsCached) labels.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations — " +
          "with pointer jumping that implies diameter beyond ~2^maxIter; " +
          "raise maxIter")
    }
    // Decouple the result from the session cache registry: a returned
    // CACHED frame stays in the CacheManager keyed by its canonical
    // plan, so a later build of the same query (another bench run, or
    // another catalog query over the same pair graph) silently reuses
    // it — measured: warm board runs of the components consumers were
    // skipping the whole pair+propagation computation. An eager
    // checkpoint pins the data under a fresh RDD identity instead;
    // every invocation pays (and times) its own work.
    val out = labels.select(col("node"), col("component"))
    if (labelsIsCached) {
      val pinned = out.materialized(eager = true)
      labels.unpersist()
      pinned
    } else out
  }

  /** Weighted PageRank over an edge list by power iteration through
    * [[FixedPoint.iterateSteps]] (generations pinned through
    * Materialize — bounded lineage, the recursive-CTE substitute of
    * SURVEY §4). Per iteration: one join of ranks to edges + one
    * aggregation — both shuffle on the node key, nothing is quadratic;
    * the driver holds only the node count and the iteration index.
    *
    * Deterministic at any parallelism: per-edge contributions are exact
    * per-row doubles (`(rank * w) / out`, pinned parenthesization) and
    * the per-node sum goes through the engine's decimal-exact image
    * ([[graft.queries.dec]]), so results are bit-reproducible and
    * cross-engine comparable. Simplified model: no dangling-node
    * redistribution (rank leaks from sink nodes) — fine for link
    * analysis over transition graphs where every node has out-edges.
    *
    * @param nodes  one `node` column — passed explicitly so isolated
    *               nodes (no edges) still receive the base rank
    * @param iters  fixed power-iteration count (PageRank converges
    *               geometrically; counts never change, so the fixed-step
    *               [[FixedPoint.iterateSteps]] schedule applies) */
  def pageRank(edges: DataFrame, nodes: DataFrame,
               fromCol: String, toCol: String, weightCol: String,
               damping: Double = 0.85, iters: Int = 10): DataFrame = {
    import graft.queries.dec
    // materialize the (possibly expensive) edge/node plans ONCE — every
    // iteration joins against them, and an unmaterialized lineage would
    // recompute the upstream aggregation per generation. Materialize:
    // local mode's first action pins the blocks (ContextCleaner
    // reclaims them); reliable mode stores them durably.
    val nodesM = nodes.select(col("node")).materialized()
    val nNodes = nodesM.count() // driver scalar — documented boundary
    // reserved internal edge names up front: a caller whose from/to/weight
    // columns are named 'node', 'rank', or '__out' would otherwise hit
    // ambiguous or silently-wrong name resolution in the iteration joins
    val e0 = edges.select(col(fromCol).as("__from"), col(toCol).as("__to"),
      col(weightCol).as("__w"))
    val out = e0.groupBy(col("__from"))
      .agg(sum(col("__w")).as("__out"))
    val e = e0.join(out, "__from").materialized()
    val init = nodesM.select(col("node"), lit(1.0 / nNodes).as("rank"))
    FixedPoint.iterateSteps(init, cur => {
      val contrib = cur.join(e, cur("node") === col("__from"))
        .select(col("__to").as("node"),
          dec((col("rank") * col("__w")) / col("__out")).as("__c"))
        .groupBy(col("node"))
        .agg(sum(col("__c")).cast("double").as("__contrib"))
      nodesM.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit((1.0 - damping) / nNodes) +
            lit(damping) * coalesce(col("__contrib"), lit(0.0))).as("rank"))
    }, numSteps = iters)
  }
}
