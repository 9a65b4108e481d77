package graft.queries

import graft.core.Tables
import graft.operators.TextDedup
import org.apache.spark.sql.functions._

/** Near-duplicate / exact dedup catalog over the `documents` table — the
  * training-data-pipeline operators (builder brief; VERDICT r1 §LLM).
  *
  * Oracle strategy: the LSH/SimHash stages are candidate *generators*; the
  * query output is defined by the exact-Jaccard threshold, which DuckDB
  * computes all-pairs via a shingle inverted-index join. A green row
  * therefore proves both semantics AND recall of the bucketing stage.
  */
object DedupQueries {

  private def scratch(dir: String, leaf: String): String =
    scratchDir("dedup", dir, leaf)

  /** Shared memoization recipe for per-corpus plan-sizing estimates:
    * one bounded aggregate per testdata generation, keyed on (canonical
    * documents.parquet path, source mtime) like SimQueries' embCount
    * and Tables' frame cache — a regenerated dir re-estimates instead
    * of planning from a stale corpus shape. One helper so a future key
    * fix (e.g. missing-source handling) lands once for every estimate. */
  private def memoEstimate[T](
      cache: java.util.concurrent.ConcurrentHashMap[(String, Long), T],
      dir: String)(compute: => T): T = {
    val src = new java.io.File(dir, "documents.parquet")
    cache.computeIfAbsent((src.getCanonicalPath, src.lastModified()),
      _ => compute)
  }

  /** Estimated (candidate staging, shingle-side) bytes per fixture dir
    * (the shard derivation needs them every run). Parameters mirror the
    * d_ngram_jaccard call below. */
  private val ngramEstCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), TextDedup.NgramEstimate]()
  private[graft] def ngramEstStats(s: org.apache.spark.sql.SparkSession,
                                   dir: String): TextDedup.NgramEstimate =
    memoEstimate(ngramEstCache, dir) {
      TextDedup.estimateNgramStats(Tables.documents(s, dir),
        "text", col("n_chars"), n = 4, blockWidth = 20)
    }

  /** Estimated broadcast footprint of the hashed word-shingle verify
    * side for the MinHash-LSH / SimHash rows — drives broadcastVerify
    * (r16: the ngram verify-budget discipline applied family-wide).
    *
    * r17 (verdict item 4 + ADVICE): the estimate is now
    *   2 × (8 bytes per word 3-gram + 144 bytes per doc), POST-collapse —
    * (per-doc r18 = 32 fat id+header + ~112 skinny sketch relation —
    * both tiers of the r17 two-tier verify counted) —
    * computed over DISTINCT texts (md5-grouped, the exact-dup collapse
    * key those operators apply before their verifies), with a per-row
    * constant for id + array header and doubled because verifyJaccard
    * broadcasts TWO projections of the shingle frame. The r16 form was
    * pre-collapse and arrays-only: "only overestimates" — by the copy
    * count itself on exactly the corpus the collapse exists for (a
    * high-duplication re-crawl), where it refuses broadcasts that fit
    * and falls back to the SMJ cliff the override was built to avoid
    * (measured on ×11 exact copies of m100: the post-collapse form flips
    * the decision and the wall — OPTIMIZATION_r17.md §3, SCALING.md
    * "Round 17: lshBcast made post-collapse"); and it under-counted
    * the real footprint on many-tiny-doc corpora, the same class as the
    * r16 dedupAgainstIndex fix. One md5-keyed aggregate per testdata
    * generation (memoized), shuffling one skinny row per distinct text. */
  private val wordBytesCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Long]()
  /** The estimate itself, exposed so the NgramWallSmoke `sim_full`
    * geometry override decides its broadcast with the SAME formula the
    * catalog uses (an inline drill copy would silently drift — the
    * ngramBlockedInternals lesson). */
  private[graft] def lshBcastBytes(s: org.apache.spark.sql.SparkSession,
                                   dir: String): Long =
    memoEstimate(wordBytesCache, dir) {
      val row = Tables.documents(s, dir)
        // members of one md5 group share the text, hence the word count
        .groupBy(md5(col("text")))
        .agg(first(greatest(size(split(col("text"), " ")) - 2, lit(0))
          .cast("long")).as("__w"))
        .agg(sum(col("__w")), count(lit(1))).head()
      val words = if (row.isNullAt(0)) 0L else row.getLong(0)
      val reps = row.getLong(1)
      // Per-doc constant 144 B (r18, ADVICE — skinny tier counted): the
      // tiered verify keeps TWO relation kinds resident per side — the
      // fat array relation (32 B id+header + 8 B/shingle, no sketch) and
      // the skinny sketch relation (~112 B: id + size + 64-byte parity
      // sketch + headers) — so per doc the pair costs 32+112 = 144 B on
      // top of the array bytes. (The one-tier shape's constant is at most
      // 112, so 144 upper-bounds both shapes.)
      java.lang.Long.valueOf(2L * (words * 8L + reps * 144L))
    }
  private def lshBcast(s: org.apache.spark.sql.SparkSession,
                       dir: String): Option[Boolean] =
    Some(lshBcastBytes(s, dir) <= TextDedup.ngramBroadcastBudgetBytes)

  /** (shards, streamParallelism) for d_ngram_jaccard. Shards: when the
    * shingle side fits the broadcast budget the verify stages NOTHING
    * (candidates stream through broadcast probes —
    * TextDedup.verifyJaccard), so the monolithic plan is right at any
    * candidate volume; only past the broadcast budget does the
    * fat-exchange fallback need its staging sharded against the scratch
    * budget. Stream parallelism: probe CPU is candidate-proportional
    * even when nothing stages, and the join's natural key space is the
    * few dozen length blocks — whose partitions AQE's byte-based
    * coalesce can collapse outright on skinny inputs (measured ×100:
    * 2408 s on ONE core unsalted → 442 s salted). The salt's
    * merge-hinted both-sides-repartitioned form costs nothing where it
    * isn't needed (sf0.1: 2.4 s ≈ r14's 2.46; ×30: 66.6 s ≈ the best
    * unsalted run), so it is the default for any non-trivial pair
    * volume: floor 32 tasks, one task per ~2.5e7 pairs, cap 256.
    * Under 1e5 estimated pairs (sf0.01-class fixtures) stay unsalted —
    * a single stream stage is right there and the plan stays
    * byte-identical to r14's shape. */
  private[graft] def ngramPlan(s: org.apache.spark.sql.SparkSession,
                               dir: String): (Boolean, Int, Int) = {
    val est = ngramEstStats(s, dir)
    val bcast = est.shingleBytes <= TextDedup.ngramBroadcastBudgetBytes
    val shards =
      if (bcast) 1
      else TextDedup.ngramScratchShards(est.candidateBytes)
    val stream =
      if (est.candidatePairs < 100000L) 1
      else math.max(32L, math.min(256L, est.candidatePairs / 25000000L)).toInt
    (bcast, shards, stream)
  }

  /** Shared DuckDB CTEs: distinct word-3-gram shingles + per-doc counts. */
  private val shingleCountCte =
    """sh AS (
      |  SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(generate_series(1, len(ws) - 2),
      |                            i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
      |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))),
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  /** …plus the all-pairs (a < b) shingle-intersection counts. */
  private val wordShingleCte =
    s"""$shingleCountCte,
      |inter AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  private def wordJaccardOracle(threshold: Double): String =
    s"""WITH $wordShingleCte
       |SELECT a, b,
       |  CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN cnt ca ON ca.doc_id = a
       |JOIN cnt cb ON cb.doc_id = b
       |WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= $threshold
       |ORDER BY a, b""".stripMargin

  val queries: Map[String, Q] = Map(
    // MinHash + banded LSH near-dup pairs, exact-verified (shingle →
    // 128 minhashes → 32 bands × 4 rows → bucket join → Jaccard ≥ 0.7).
    "d_minhash_lsh" -> { (s, dir) =>
      TextDedup.minhashLshPairs(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, threshold = 0.7, k = 128, bands = 32,
          broadcastVerify = lshBcast(s, dir))
        .orderBy("a", "b")
    },

    // SimHash near-dup pairs: 64-bit signature, 16×4-bit bands with the
    // full Hamming ≤ 15 tolerance the banding guarantees, exact Jaccard
    // ≥ 0.5 as the output contract — over simhash's operating domain,
    // docs with ≥ 32 shingles (2 per band). Below that, signature
    // concentration fails (see TextDedup.simhashPairs doc; erosion is
    // measured in DedupPropertySpec) and the oracle applies the same
    // bound. Tiny docs route through MinHash-LSH, the full-recall
    // operator with no concentration requirement.
    "d_simhash" -> { (s, dir) =>
      TextDedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
          shingleN = 3, maxHamming = 15, threshold = 0.5,
          broadcastVerify = lshBcast(s, dir))
        .orderBy("a", "b")
    },

    // Blocked exact char-4-gram Jaccard: length-band bucketing (pairs
    // within 10 chars share a bucket — near-dup docs have near-equal
    // length, and a tight band keeps candidate counts linear), Jaccard ≥ 0.6.
    // Scale shape (r15): when the shingle side fits the broadcast budget
    // the verify runs as broadcast probes and candidates never stage —
    // monolithic at every board up to the mutated ×100; past the budget,
    // shard count derives from estimated candidate staging bytes vs the
    // scratch budget (see ngramShards above). Output is plan-invariant,
    // so the brute oracle is unchanged.
    "d_ngram_jaccard" -> { (s, dir) =>
      val (bcast, shards, stream) = ngramPlan(s, dir)
      TextDedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          lenCol = col("n_chars"), n = 4, threshold = 0.6, blockWidth = 20,
          shards = shards, streamParallelism = stream,
          broadcastVerify = Some(bcast))
        .orderBy("a", "b")
    },

    // High-threshold exact char-4-gram Jaccard by PREFIX FILTERING
    // (PPJoin family) — the measured routing rule's OTHER branch
    // (SCALING.md "blocked vs prefix": the threshold decides; at
    // t ≥ 0.85 the prefix is genuinely rare shingles and candidates run
    // 4× under length-blocking on hapax-rich text). Note the semantics
    // differ from d_ngram_jaccard beyond the threshold: prefix filtering
    // has NO length band — it returns ALL pairs at or above t — so the
    // oracle drops the band predicate. The broadcast-verify decision
    // comes from the same memoized corpus estimate as the blocked row
    // (shingleBytes is a path-independent upper bound), so no
    // construction-time job runs.
    // (At the catalog's t=0.6 the prefix path loses on ANY corpus shape
    // measured — 2× more candidates than blocking on natural text, 15-30×
    // on this token-poor synthetic corpus — which is why d_ngram_jaccard
    // stays length-blocked; see NOTES_r3.md / SCALING.md r15.)
    "d_ngram_jaccard_hi" -> { (s, dir) =>
      val est = ngramEstStats(s, dir)
      val bcast = est.shingleBytes <= TextDedup.ngramBroadcastBudgetBytes
      TextDedup.ngramJaccardPairsPrefix(Tables.documents(s, dir), "doc_id",
          "text", n = 4, threshold = 0.85, broadcastVerify = Some(bcast))
        .orderBy("a", "b")
    },

    // The ROUTED entry point (r17, verdict item 6), exercised on its
    // prefix branch: banded semantics (same contract as d_ngram_jaccard,
    // |len diff| <= 10) at t=0.9 — above PrefixRouteThreshold, so the
    // plan is prefix filtering + the band post-filter, while the oracle
    // is the same banded brute force as the blocked row at the higher
    // threshold. (The blocked branch at t<0.8 IS d_ngram_jaccard.) A
    // green row proves the routing preserves the banded contract
    // end-to-end, not just on the property corpus.
    "d_ngram_jaccard_auto" -> { (s, dir) =>
      val est = ngramEstStats(s, dir)
      val bcast = est.shingleBytes <= TextDedup.ngramBroadcastBudgetBytes
      TextDedup.ngramJaccardAuto(Tables.documents(s, dir), "doc_id", "text",
          lenCol = col("n_chars"), n = 4, threshold = 0.9, blockWidth = 20,
          broadcastVerify = Some(bcast))
        .orderBy("a", "b")
    },

    // Near-dup CLUSTERS: the MinHash-LSH pair graph collapsed to
    // connected components — each doc labeled with its cluster's minimum
    // id (the canonical survivor); the actual dedup is then "keep rows
    // where doc_id == component".
    // Runs on the COLLAPSED rep graph (minhashLshPairsCollapsed →
    // connectedComponentsCollapsed): propagation cost tracks distinct
    // content, not copy count — on a re-crawled corpus the expanded pair
    // graph is quadratic-in-copies per dup group, and iterating over it
    // was the r11 ×100 board's components-family cost (16-29 s/row).
    "d_dedup_clusters" -> { (s, dir) =>
      val c = TextDedup.minhashLshPairsCollapsed(Tables.documents(s, dir),
        "doc_id", "text", shingleN = 3, threshold = 0.7,
        broadcastVerify = lshBcast(s, dir))
      graft.operators.Components
        .connectedComponentsCollapsed(c.repPairs.select("a", "b"), c.dupMembers)
        .orderBy("node")
    },

    // Canonical-survivor selection: near-dup clusters (MinHash-LSH pairs →
    // connected components, singletons as their own cluster) reduced to ONE
    // kept doc per cluster — the longest member, min doc_id on ties. The
    // survivor pick is a single hash aggregation over a lexicographic
    // struct max (no per-cluster window sort): one shuffle on the cluster
    // key at any corpus size.
    "d_canonical_docs" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val c = TextDedup.minhashLshPairsCollapsed(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.7, broadcastVerify = lshBcast(s, dir))
      val comp = graft.operators.Components
        .connectedComponentsCollapsed(c.repPairs.select("a", "b"), c.dupMembers)
        .withColumnRenamed("node", "doc_id")
      docs.select(col("doc_id"), col("n_chars"))
        .join(comp, Seq("doc_id"), "left")
        .withColumn("component", coalesce(col("component"), col("doc_id")))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          max(struct(col("n_chars").as("c"), (-col("doc_id")).as("nid")))
            .as("__best"))
        .select(col("component"), (-col("__best.nid")).as("keep_doc"),
          col("n_members"), col("total_chars"))
        .orderBy(col("component"))
    },

    // Triangle participation in the near-dup graph: template spam shows
    // up as near-dup CLIQUES (every pair similar), organic duplication
    // as chains — per-doc triangle counts separate the two where
    // component size alone cannot. Weighted closed form on the COLLAPSED
    // rep graph (see Components.weightedTriangleCounts): exact
    // enumeration on the expanded graph is cubic in duplicate copies
    // (C(k,3) wedge triples per k-copy group — 117× wall at ×100 twins,
    // the r11 board's one super-linear row), while this form is linear
    // in the rep graph and output-identical.
    "d_triangles" -> { (s, dir) =>
      val c = TextDedup.minhashLshPairsCollapsed(Tables.documents(s, dir),
        "doc_id", "text", shingleN = 3, threshold = 0.7,
        broadcastVerify = lshBcast(s, dir))
      graft.operators.Components
        .weightedTriangleCounts(c.repPairs.select("a", "b"), c.dupMembers)
        .withColumnRenamed("node", "doc_id")
        .orderBy("doc_id")
    },

    // Leakage-safe train/valid/test split: assignment is BY NEAR-DUP
    // CLUSTER, not by document — near-duplicates can never straddle
    // train and test (the eval-contamination failure mode of naive
    // per-doc splits). Clusters (LSH pairs → connected components,
    // singletons = own id) route by cluster_id % 10 → 8/1/1. The split
    // is a pure function of the cluster key: no sampling state, same
    // assignment at any scale or re-run. No-straddle is readable off
    // the output: per-split n_clusters sums to the global cluster count.
    "d_leakage_safe_split" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val c = TextDedup.minhashLshPairsCollapsed(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.7, broadcastVerify = lshBcast(s, dir))
      val comp = graft.operators.Components
        .connectedComponentsCollapsed(c.repPairs.select("a", "b"), c.dupMembers)
        .withColumnRenamed("node", "doc_id")
      docs.select(col("doc_id"), col("n_chars"))
        .join(comp, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("component"), col("doc_id")))
        .withColumn("split",
          when(col("cluster") % 10 < 8, "train")
            .when(col("cluster") % 10 === 8, "valid")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .orderBy(col("split"))
    },

    // Incremental dedup against a PERSISTED corpus index: the corpus's
    // MinHash band signatures + hashed shingles are built once and stored
    // (parquet round trip here — the artifact a standing pipeline keeps
    // between ingests), then a new batch (doc_id % 10 = 7) joins the index
    // by band signature and exact-verifies — the corpus is never
    // re-paired against itself.
    "d_incremental_dedup" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val batch = docs.filter(col("doc_id") % 10 === 7)
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val path = scratch(dir, "minhash_index")
      rmrf(path)
      TextDedup.buildMinhashIndex(corpus, "doc_id", "text", shingleN = 3)
        .write.mode("overwrite").parquet(path)
      val index = s.read.parquet(path)
      TextDedup.dedupAgainstIndex(batch, index, "doc_id", "text",
          shingleN = 3, threshold = 0.7)
        .orderBy(col("b"), col("c"))
    },

    // Bloom-gated incremental EXACT dedup against a persisted hash
    // index: the corpus's normalized-content hashes are stored once
    // (parquet) together with a Bloom filter over them (built
    // distributed, persisted, broadcast). Each ingest marks its batch
    // map-side — bloom-rejected rows are definitely new and never join;
    // only might-contain candidates take the confirming semi-join
    // against the stored hashes. At 100 TB the expensive path is
    // candidate-proportional (true dups + fpp·batch), not corpus-
    // proportional. Same normalization as d_exact_dedup.
    "d_bloom_incremental" -> { (s, dir) =>
      import graft.operators.BloomIndex
      // NULL-SAFE hash: xxhash64 of a NULL input returns the seed, so
      // an unguarded hash would collide every NULL text onto one value
      // and cross-match them as duplicates; the guard keeps NULL = its
      // own identity (matches nothing), mirroring SQL equality
      val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
      val hashOf = when(col("text").isNotNull, xxhash64(norm))
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      // the ingest batch: the %10=7 slice PLUS re-keyed copies of a
      // corpus slice — guaranteed true duplicates at every sf, so the
      // bloom-candidate → confirming-join path is always exercised
      // (the natural corpora carry few or no exact cross-slice dups)
      val batch = docs.filter(col("doc_id") % 10 === 7)
        .unionByName(corpus.filter(col("doc_id") < 30)
          .withColumn("doc_id", col("doc_id") + 9000000L))
        .withColumn("__h", hashOf)
      val idxPath = scratch(dir, "bloom_hash_index")
      val bloomPath = scratch(dir, "bloom_hash_bits")
      Seq(idxPath, bloomPath).foreach(rmrf)
      corpus.select(col("doc_id"), hashOf.as("__h"))
        .filter(col("__h").isNotNull)
        .write.mode("overwrite").parquet(idxPath)
      val index = s.read.parquet(idxPath)
      val bf = BloomIndex.buildLongBloom(index, "__h", fpp = 0.01)
      BloomIndex.save(s, bf, bloomPath)
      val loaded = BloomIndex.broadcastBloom(s, BloomIndex.load(s, bloomPath))
      BloomIndex.markNewAgainstHashIndex(batch, "doc_id", "__h",
          index, loaded)
        .select(col("doc_id"), col("lang"), col("is_new"))
        .orderBy(col("doc_id"))
    },

    // Exact dedup by normalized-text hash (lower + whitespace-collapse +
    // md5), the hash-groupBy reconciliation form: per lang, total vs
    // distinct normalized docs.
    "d_exact_dedup" -> { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("__norm_h",
          md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(col("__norm_h")).as("n_unique"))
        .orderBy(col("lang"))
    }
  )

  val oracle: Map[String, String] = Map(
    "d_minhash_lsh" -> wordJaccardOracle(0.7),
    // simhash domain bound: both docs must have >= 32 shingles (see the
    // query comment); the oracle enforces the identical restriction so a
    // green row proves recall over the operator's whole stated domain
    "d_simhash" ->
      s"""WITH $wordShingleCte
         |SELECT a, b,
         |  CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN cnt ca ON ca.doc_id = a
         |JOIN cnt cb ON cb.doc_id = b
         |WHERE ca.n >= 32 AND cb.n >= 32
         |  AND CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.5
         |ORDER BY a, b""".stripMargin,

    "d_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(text) - 3),
        |                            i -> substr(text, i, 4))) AS s
        |    FROM documents)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |lens AS (SELECT doc_id, n_chars FROM documents),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
        |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b,
        |  CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN cnt ca ON ca.doc_id = a
        |JOIN cnt cb ON cb.doc_id = b
        |JOIN lens la ON la.doc_id = a
        |JOIN lens lb ON lb.doc_id = b
        |WHERE abs(la.n_chars - lb.n_chars) <= 10
        |  AND CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.6
        |ORDER BY a, b""".stripMargin,

    // brute-force all-pairs char-4-gram Jaccard ≥ 0.85 — NO length band
    // (prefix filtering returns all qualifying pairs); a green row proves
    // both the PPJoin candidate recall (any pair at t must share a
    // prefix shingle under the df total order) and the hashed-shingle
    // verify, end-to-end through the exact-dup collapse
    "d_ngram_jaccard_hi" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(text) - 3),
        |                            i -> substr(text, i, 4))) AS s
        |    FROM documents)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
        |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b,
        |  CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN cnt ca ON ca.doc_id = a
        |JOIN cnt cb ON cb.doc_id = b
        |WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.85
        |ORDER BY a, b""".stripMargin,


    // banded brute force at t=0.9 — the auto route's contract is the
    // BLOCKED row's semantics (length band) at any threshold, so the
    // oracle is d_ngram_jaccard's CTE with the threshold swapped
    "d_ngram_jaccard_auto" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(text) - 3),
        |                            i -> substr(text, i, 4))) AS s
        |    FROM documents)),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |lens AS (SELECT doc_id, n_chars FROM documents),
        |inter AS (
        |  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
        |  FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b,
        |  CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) AS jaccard
        |FROM inter
        |JOIN cnt ca ON ca.doc_id = a
        |JOIN cnt cb ON cb.doc_id = b
        |JOIN lens la ON la.doc_id = a
        |JOIN lens lb ON lb.doc_id = b
        |WHERE abs(la.n_chars - lb.n_chars) <= 10
        |  AND CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.9
        |ORDER BY a, b""".stripMargin,

    "d_dedup_clusters" ->
      s"""WITH RECURSIVE $wordShingleCte,
         |pairs AS (
         |  SELECT a, b FROM inter
         |  JOIN cnt ca ON ca.doc_id = a
         |  JOIN cnt cb ON cb.doc_id = b
         |  WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.7),
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |reach(node, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node)
         |SELECT node, MIN(r) AS component
         |FROM reach GROUP BY node ORDER BY node""".stripMargin,

    // ordered triple self-join over the same exact-Jaccard pair set
    "d_triangles" ->
      s"""WITH $wordShingleCte,
         |pairs AS (
         |  SELECT a, b FROM inter
         |  JOIN cnt ca ON ca.doc_id = a
         |  JOIN cnt cb ON cb.doc_id = b
         |  WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.7),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM pairs e1
         |  JOIN pairs e2 ON e2.a = e1.b
         |  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b),
         |nodes AS (
         |  SELECT x AS node FROM tri
         |  UNION ALL SELECT y FROM tri
         |  UNION ALL SELECT z FROM tri)
         |SELECT node AS doc_id, COUNT(*) AS n_triangles
         |FROM nodes GROUP BY 1 ORDER BY 1""".stripMargin,

    // same recursive-CTE component oracle as d_dedup_clusters, with
    // singleton clusters and the cluster-keyed split routing
    "d_leakage_safe_split" ->
      s"""WITH RECURSIVE $wordShingleCte,
         |pairs AS (
         |  SELECT a, b FROM inter
         |  JOIN cnt ca ON ca.doc_id = a
         |  JOIN cnt cb ON cb.doc_id = b
         |  WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.7),
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |reach(node, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node),
         |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
         |lab AS (
         |  SELECT d.doc_id, d.n_chars, COALESCE(c.component, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
         |SELECT CASE WHEN cluster % 10 < 8 THEN 'train'
         |            WHEN cluster % 10 = 8 THEN 'valid'
         |            ELSE 'test' END AS split,
         |  COUNT(*) AS n_docs,
         |  COUNT(DISTINCT cluster) AS n_clusters,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM lab GROUP BY 1 ORDER BY 1""".stripMargin,

    // same recursive-CTE component oracle as d_dedup_clusters, extended
    // with singleton clusters and a windowed survivor pick
    "d_canonical_docs" ->
      s"""WITH RECURSIVE $wordShingleCte,
         |pairs AS (
         |  SELECT a, b FROM inter
         |  JOIN cnt ca ON ca.doc_id = a
         |  JOIN cnt cb ON cb.doc_id = b
         |  WHERE CAST(i AS DOUBLE) / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.7),
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |reach(node, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node),
         |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
         |lab AS (
         |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, d.n_chars
         |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
         |ranked AS (
         |  SELECT component, doc_id, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY component
         |                       ORDER BY n_chars DESC, doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY component) AS n_members,
         |    SUM(n_chars) OVER (PARTITION BY component) AS total_chars
         |  FROM lab)
         |SELECT component, doc_id AS keep_doc,
         |  CAST(n_members AS BIGINT) AS n_members,
         |  CAST(total_chars AS BIGINT) AS total_chars
         |FROM ranked WHERE rn = 1 ORDER BY component""".stripMargin,

    // cross-side (batch × corpus) exact Jaccard — proves both the pair
    // semantics and the recall of the banded index join
    "d_incremental_dedup" ->
      s"""WITH $shingleCountCte,
         |xinter AS (
         |  SELECT x.doc_id AS b, y.doc_id AS c, COUNT(*) AS i
         |  FROM sh x JOIN sh y ON x.s = y.s
         |  WHERE x.doc_id % 10 = 7 AND y.doc_id % 10 <> 7
         |  GROUP BY 1, 2)
         |SELECT b, c,
         |  CAST(i AS DOUBLE) / CAST(cb.n + cc.n - i AS DOUBLE) AS jaccard
         |FROM xinter
         |JOIN cnt cb ON cb.doc_id = b
         |JOIN cnt cc ON cc.doc_id = c
         |WHERE CAST(i AS DOUBLE) / CAST(cb.n + cc.n - i AS DOUBLE) >= 0.7
         |ORDER BY b, c""".stripMargin,

    // text equality stands in for the engine's xxhash64 equality — they
    // diverge only on a 64-bit hash collision between distinct
    // normalized texts, which the test corpora cannot produce
    "d_bloom_incremental" ->
      """WITH batch AS (
        |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 = 7
        |  UNION ALL
        |  SELECT doc_id + 9000000, lang, text FROM documents
        |  WHERE doc_id % 10 <> 7 AND doc_id < 30)
        |SELECT b.doc_id, b.lang,
        |  NOT EXISTS (
        |    SELECT 1 FROM documents c WHERE c.doc_id % 10 <> 7
        |      AND trim(regexp_replace(lower(c.text), '\s+', ' ', 'g')) =
        |          trim(regexp_replace(lower(b.text), '\s+', ' ', 'g'))
        |  ) AS is_new
        |FROM batch b
        |ORDER BY b.doc_id""".stripMargin,

    "d_exact_dedup" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_unique
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  )
}
