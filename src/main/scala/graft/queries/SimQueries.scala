package graft.queries

import graft.core.Materialize.MaterializeOps
import graft.core.Tables
import graft.operators.{TextDedup, VectorSim}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search catalog over the `embeddings` table (vec_id,
  * embedding array<float>, label).
  *
  * The cosine itself is compared as `floor(cos * 1e6)` — both engines
  * compute the identical IEEE double (sequential dot product), so the
  * floored micro value matches exactly; ranks are additionally safe
  * because adjacent top-k cosines in this data differ by ~2e-4 ≫ any
  * float-association noise.
  */
object SimQueries {

  private def scratch(dir: String, leaf: String): String =
    scratchDir("sim", dir, leaf)

  /** Embeddings row count per fixture dir, memoized: the SRP capacity
    * derivation needs the raw corpus count every run — pay the
    * footer-count job once per testdata generation, not once per bench
    * iteration. The key follows the source mtime, so the derived SRP
    * geometry can never run on a stale N while the DuckDB oracle counts
    * the fresh corpus. */
  private val embCountCache = new MemoCache[java.lang.Long]()
  private def embCount(s: org.apache.spark.sql.SparkSession,
                       dir: String): Long =
    memoEstimate(embCountCache, dir, "embeddings") {
      java.lang.Long.valueOf(Tables.embeddings(s, dir).count())
    }

  /** Per-label centroid vectors rebuilt from the exact-micro per-dim
    * means (shared by the Lloyd step and SemDeDup below): k·dim rows
    * reassembled into k arrays — bit-identical across engines because
    * the mean never leaves the integer micro domain until one final
    * floor-division. */
  private def centroidArrays(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    VectorSim.dimMicroMeans(Tables.embeddings(s, dir), "label", "embedding")
      .withColumn("m", col("mean_micro").cast("double") / lit(1e6))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        e => e("m")).as("c"))
      .select(col("label").as("c_label"), col("c"))

  val queries: Map[String, Q] = Map(
    // Brute-force exact cosine top-10 for 5 query vectors over the whole
    // corpus (broadcast queries, zero corpus shuffle, WindowGroupLimit top-k).
    "s_cosine_topk" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
      VectorSim.bruteForceCosineTopK(emb, queries, "vec_id", "embedding", k = 10)
        .select(col("q_id"), col("rnk"),
          col("nn_id"), floor(col("cos") * 1e6).cast("long").as("cos_micro"))
        .orderBy(col("q_id"), col("rnk"))
    },

    // Embedding near-dup pairs within IVF cells (label-blocked, cosine
    // ≥ 0.4) — the dedup-by-embedding pattern from the builder brief.
    "s_embed_neardup" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      VectorSim.cellCosinePairs(emb, "vec_id", "embedding", "label", 0.4)
        .select(col("a"), col("b"), floor(col("cos") * 1e6).cast("long").as("cos_micro"))
        .orderBy("a", "b")
    },

    // SRP-LSH near-dup pairs (Charikar'02 random hyperplane hashing) —
    // the brief's "LSH-bucketed" alternative to IVF: 32 deterministic
    // hyperplanes → sign bits → 4 bands of 8 bits; vectors sharing any
    // band key become candidates (equi-join, never all-pairs), then the
    // exact cosine reranks. Unlike IVF this needs NO training pass — the
    // hash is data-independent, so it composes with incremental ingest
    // (new vectors band against a STABLE key space; an IVF index
    // re-clusters). Banding math: P(band match) = (1 − θ/π)^8 per band —
    // the operator's contract is candidate-proportional cost with
    // recall set by (bands, bits), NOT exhaustive recall; the oracle
    // therefore replicates the full band chain (the pl_rag_index
    // discipline), so the green row proves the exact banded semantics.
    // Hyperplanes are integer-arithmetic literals both engines rebuild
    // bit-for-bit; the sign threshold compares the same sequential-fold
    // dot both engines compute.
    // PRECONDITION: embeddings should have nonzero norm — a zero vector
    // makes cosine NaN, which Spark ranks above 0 (sign 1; the oracle's
    // dot is 0 >= 0, also 1), so it lands in every all-ones bucket. The
    // embeddings table is verified zero-free; a caller banding arbitrary
    // vectors should filter zero-norm rows first (they carry no
    // direction and belong in no angular bucket).
    "s_srp_lsh" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      // candidate generation lives in the operator library (promoted like
      // passJoinCandidates — library callers get the banded form, this
      // query is its oracle proof): hyperplane sign bits → banded keys →
      // band equi-join. Band GEOMETRY is capacity-DERIVED from the raw
      // corpus count (srpBandBits/srpBands — r14; the fixed 8-bit default
      // measured 127M random-collision pairs at N=60k on the mutated ×30
      // board): at the correctness sfs (N=500/2000) the derivation lands
      // on the historical (bits=8, bands=4, 32 planes), and the oracle
      // SQL derives the SAME values from COUNT(*) via the integer-exact
      // bin-length form, so the full band chain stays bit-replicable at
      // ANY scale the board runs. numVectors passes the PRE-collapse
      // count: the oracle's chain runs over the raw table. All band keys
      // of a vector come from ONE codegen'd native expression
      // (VectorSim.srpBandKeys), which folds the vector against every
      // plane in CosineSim's order — sign(cos) == sign(dot) since norms
      // are positive. The oracle's hyperplane CROSS JOIN and band
      // GROUP BY have no plan counterpart; the codegen'd kernel is what
      // makes the planes-per-vector pass cheap
      // exact-duplicate collapse keyed on the vector before banding
      // (TextDedup.collapseExactDups — the ×10 twin board put the
      // uncollapsed band join at 13 s on ~100× true candidates); intra
      // pairs carry the computed self-cosine and the threshold filter
      // runs AFTER the expansion, exactly like the uncollapsed plan
      val c = TextDedup.collapseExactDups(emb, "vec_id", Seq(col("embedding")),
        "cos", VectorSim.cosine(col("embedding"), col("embedding")))
      val nRaw = embCount(s, dir)
      // RERANK SHAPE (r14): with a broadcastable vector side, rerank the
      // RAW band hits (dedup = false) against broadcast(va)/(vb) and
      // dedup AFTER the threshold filter. Exact-equivalent to the
      // oracle's DISTINCT-then-rerank: cos is a pure function of (a, b),
      // so every duplicate band hit produces an identical row and
      // DISTINCT commutes with the rerank+filter. Why it matters at
      // volume: the pre-filter candidate stream is the big thing here
      // (mutated ×30 board: 109M raw / 64M distinct hits for 988k output
      // pairs), and the old shape paid one full 109M-row exchange for
      // the early distinct plus shuffled sort-merge reranks whose rows
      // carried two 256-byte vectors each (~33 GB through the shuffle).
      // The new shape sends the candidate stream through two broadcast
      // hash probes computed inside one codegen stage — the fat arrays
      // live only in the 15-50 MB broadcast — and the surviving
      // exchange carries ~1% of the rows. Beyond the broadcast budget
      // (N > 500k reps won't fit a 50 MB-class broadcast) the plan
      // falls back to the old order: distinct FIRST (so the shuffled
      // rerank joins see the minimum row count), shuffled joins after.
      val bcastable = nRaw <= 500000L
      val cand = VectorSim.srpCandidates(c.reps, "vec_id", "embedding",
        dims = 64, numVectors = nRaw, dedup = !bcastable)
      val va = c.reps.select(col("vec_id").as("a"), col("embedding").as("__ea"))
      val vb = c.reps.select(col("vec_id").as("b"), col("embedding").as("__eb"))
      // NATIVE cosine kernel, not dotFold over the raw float arrays:
      // zip_with multiplies float32 on float inputs while the oracle
      // multiplies float64 — a 1.5e-8 cos divergence measured across
      // the 140k sf0.1 candidates, zero boundary flips only by luck.
      // CosineSim widens each element exactly and is one codegen'd
      // pass over the rerank, which dominates this row's runtime.
      val reranked = cand
        .join(if (bcastable) broadcast(va) else va, "a")
        .join(if (bcastable) broadcast(vb) else vb, "b")
        .withColumn("cos", VectorSim.cosine(col("__ea"), col("__eb")))
        .select(col("a"), col("b"), col("cos"))
      // the pre-expansion threshold prune is exact for cross pairs (they
      // inherit the rep cosine); the post-expansion filter below still
      // decides intra-group pairs on their computed self-cosine
      val repPairs = {
        val f = reranked.filter(col("cos") >= 0.4)
        if (bcastable) f.distinct() else f
      }
      c.expand(repPairs)
        .filter(col("cos") >= 0.4)
        .select(col("a"), col("b"),
          floor(col("cos") * 1e6).cast("long").as("cos_micro"))
        .orderBy("a", "b")
    },

    // IVF-style ANN: `label` plays the cluster-cell role; 20 query vectors
    // probe their own cell only (nprobe=1), exact top-3 within the cell.
    "s_cosine_ann_ivf" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 20)
      VectorSim.ivfCosineTopK(emb, queries, "vec_id", "embedding", "label", k = 3)
        .select(col("q_id"), col("rnk"),
          col("nn_id"), floor(col("cos") * 1e6).cast("long").as("cos_micro"))
        .orderBy(col("q_id"), col("rnk"))
    },

    // Hard-negative mining for contrastive training: per query, the 3
    // most-confusable NON-neighbors — same-cell vectors with cosine in
    // [0.3, 0.8): close enough to teach the margin, below the near-dup
    // band. Cell-blocked equi-join, never all-pairs — the mining pass a
    // contrastive data pipeline runs at corpus scale.
    "s_hard_negatives" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 20)
      VectorSim.ivfHardNegatives(emb, queries, "vec_id", "embedding",
          "label", lo = 0.3, hi = 0.8, k = 3)
        .select(col("q_id"), col("rnk"),
          col("neg_id"), floor(col("cos") * 1e6).cast("long").as("cos_micro"))
        .orderBy(col("q_id"), col("rnk"))
    },

    // Late-interaction (MaxSim) reranking — the ColBERT scoring shape:
    // score(q, d) = Σ over query tokens of max over doc tokens of
    // cos(qt, dt), so a candidate is judged token-by-token instead of
    // by one pooled vector. Token embeddings are the deterministic
    // md5-bucket arithmetic both engines replicate; per-(q-token, doc)
    // maxes are floored to micro BEFORE the query-level sum so the sum
    // is integer-exact at any parallelism. Scale shape: the query token
    // frame (2 queries × ≤4 tokens) broadcasts against the candidates'
    // token explosion — candidate-proportional, the rerank stage of a
    // retrieve-then-rerank pipeline, never corpus-wide.
    "s_maxsim_rerank" -> { (s, dir) =>
      val B = 1009
      def bucket(c: Column): Column = md5Bucket(c, B)
      def tokvec(b: Column): Column =
        transform(sequence(lit(1), lit(8)),
          d => ((b * d) % B).cast("double") / lit(B.toDouble))
      val docs = Tables.documents(s, dir)
      def tokens(df: org.apache.spark.sql.DataFrame, idAs: String,
                 firstN: Int) = df
        .select(col("doc_id").as(idAs),
          posexplode(slice(split(col("text"), " "), 1, firstN))
            .as(Seq("pos", "tok")))
        .filter(length(col("tok")) > 0)
        .withColumn("b", bucket(col("tok")))
        .filter(col("b") =!= 0) // zero bucket → zero vector → NaN cosine
      val qtok = tokens(docs.filter(col("doc_id").isin(3L, 57L)), "q_id", 4)
        .select(col("q_id"), col("pos").as("qpos"), tokvec(col("b")).as("qv"))
      // duplicate tokens in a candidate are redundant under MAX — dedup
      // per (doc, bucket) before the join so repeated stopwords don't
      // recompute identical cosines (query tokens must NOT dedup: each
      // query token position contributes its own term to the sum)
      val dtok = tokens(docs.filter(col("doc_id") < 30), "d_id", 16)
        .dropDuplicates("d_id", "b")
        .select(col("d_id"), tokvec(col("b")).as("dv"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("maxsim_micro").desc, col("d_id"))
      dtok.crossJoin(broadcast(qtok))
        .withColumn("cos", VectorSim.cosine(col("qv"), col("dv")))
        .groupBy(col("q_id"), col("qpos"), col("d_id"))
        .agg(max(col("cos")).as("mc"))
        .withColumn("mc_micro", floor(col("mc") * 1e6).cast("long"))
        .groupBy(col("q_id"), col("d_id"))
        .agg(sum(col("mc_micro")).as("maxsim_micro"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("q_id", "rnk", "d_id", "maxsim_micro")
        .orderBy("q_id", "rnk")
    },

    // Persisted IVF index: the corpus (vec_id >= 20) is STORED partitioned
    // by its cell id — parquet partitioning IS the IVF inverted-list
    // layout, so a probe's cell equi-join reads only the probed cells'
    // files — and a new query batch (vec_id < 20) probes the stored
    // index with nprobe=2. The artifact a standing vector-search
    // pipeline keeps between batches; at 100 TB the cell count scales
    // with the corpus and per-probe IO stays nprobe/cells of the table.
    "s_ann_index" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val path = scratch(dir, "ivf_index")
      rmrf(path)
      emb.filter(col("vec_id") >= 20)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("label").parquet(path)
      val corpus = s.read.parquet(path)
        .select(col("vec_id"), col("embedding"), col("label"))
      val queries = emb.filter(col("vec_id") < 20)
      VectorSim.ivfCosineTopKMultiProbe(corpus, queries, "vec_id",
          "embedding", "label", k = 3, nprobe = 2)
        .select(col("q_id"), col("rnk"),
          col("nn_id"), floor(col("cos") * 1e6).cast("long").as("cos_micro"))
        .orderBy(col("q_id"), col("rnk"))
    },

    // IVF centroid build: element-wise mean embedding per cell — the
    // k-means update step and the pass that produces a real IVF index's
    // centroids. Element-wise float aggregation is order-sensitive, so
    // the mean runs in DISTRIBUTION form: posexplode to (cell, dim)
    // pairs, decimal-exact mean per pair (one keyed shuffle with
    // map-side partials, deterministic at any parallelism), NO
    // collect_list of vectors anywhere. Output: one row per (cell, dim)
    // — the exploded image of the centroid matrix (k·dim rows, tiny).
    "s_centroids" -> { (s, dir) =>
      VectorSim.dimMicroMeans(Tables.embeddings(s, dir), "label", "embedding")
        .withColumnRenamed("mean_micro", "centroid_micro")
        .orderBy(col("label"), col("pos"))
    },

    // One k-means (Lloyd) iteration at scale: current centroids = the
    // per-label means (s_centroids), each vector re-assigned to its
    // nearest centroid by squared L2 (dot-product form da − 2·dab + db,
    // the identical IEEE sequence in both engines; exact-tie break on
    // centroid id), then the migration matrix (label_from, label_to)
    // with per-pair inertia. The centroid table is k·dim and BROADCAST;
    // the corpus never shuffles for the assignment — the plan shape
    // that holds when the corpus is 100 TB and k is thousands.
    "s_kmeans_step" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          VectorSim.asDouble(col("embedding")).as("v"))
      // the shared exact-micro mean kernel (then /1e6 back to a double):
      // centroids are bit-identical across engines by construction, so
      // d2 inherits only the proven sequential-dot determinism contract
      val cent = centroidArrays(s, dir)
      def dot(a: Column, b: Column): Column = VectorSim.dotFold(a, b)
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("d2").asc, col("c_label").asc)
      emb.crossJoin(broadcast(cent))
        .withColumn("d2", dot(col("v"), col("v"))
          - lit(2.0) * dot(col("v"), col("c")) + dot(col("c"), col("c")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("label").as("label_from"), col("c_label").as("label_to"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("d2") * lit(1e6)).cast("long")).as("inertia_micro"))
        .orderBy(col("label_from"), col("label_to"))
    },

    // SQ8 quantized-index ANN: candidate generation scans only the
    // int8 code index (1 byte/dim vs 4 — the pass that touches the
    // whole corpus moves 4× fewer bytes), takes 3·k candidates per
    // query by quantized cosine, then reranks exactly over the full
    // float vectors fetched by equi-join for just those candidates.
    // Fully deterministic (floor(x·127/mx + 0.5) quantization and
    // integer-exact code dot products), so the oracle replicates the
    // whole quantize→candidate→rerank pipeline bit for bit.
    "s_ann_sq8" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
      VectorSim.sq8CosineTopK(emb, queries, "vec_id", "embedding",
          k = 10, oversample = 3)
        .select(col("q_id"), col("rnk"),
          col("nn_id"), floor(col("cos") * 1e6).cast("long").as("cos_micro"))
        .orderBy(col("q_id"), col("rnk"))
    },

    // SemDeDup-shaped semantic dedup (Abbas et al. 2023, public): embed
    // → cluster (nearest exact-micro centroid by cosine) → within each
    // cluster drop every vector that has cosine > 0.3 to a HIGHER-
    // ranked member, rank = ascending similarity to the centroid (the
    // paper keeps the least-centroid-like member of a duplicate
    // group). The pairwise rule (not the sequential greedy) keeps the
    // decision order-free and fully distributed: centroids broadcast,
    // the assignment is map-only, and the prune join is cell-blocked
    // equi-join — never all-pairs — so the shape survives a corpus
    // that is 100 TB with k scaled to keep cells bounded.
    // SemDeDup survivors — the pair scan runs over DISTINCT vector
    // values (VectorSim.semDedup's exact-duplicate collapse, proven
    // output-identical in its scaladoc + DedupPropertySpec), so a
    // re-crawled corpus of byte-identical copies costs one groupBy,
    // not a quadratic in-cell scan.
    "s_semdedup" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), VectorSim.asDouble(col("embedding")).as("v"))
      VectorSim.semDedup(emb, centroidArrays(s, dir), "vec_id", "v",
          simThreshold = 0.3)
        .select(col("cell"), col("vec_id"),
          floor(col("ccos") * 1e6).cast("long").as("ccos_micro"))
        .orderBy(col("cell"), col("vec_id"))
    },

    // Multi-probe IVF ANN: nprobe=2 — each query ranks the 10 cells by
    // cosine against the cell's min-id representative and probes the
    // best two; exact top-3 within the probed pair of cells. The recall
    // knob the single-probe variant lacks.
    "s_cosine_ann_probes" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 20)
      VectorSim.ivfCosineTopKMultiProbe(emb, queries, "vec_id", "embedding",
          "label", k = 3, nprobe = 2)
        .select(col("q_id"), col("rnk"),
          col("nn_id"), floor(col("cos") * 1e6).cast("long").as("cos_micro"))
        .orderBy(col("q_id"), col("rnk"))
    }
  )

  private val cosSql =
    "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))"

  val oracle: Map[String, String] = Map(
    "s_cosine_topk" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |q AS (SELECT vec_id AS q_id, e AS qv FROM v WHERE vec_id < 5),
         |c AS (
         |  SELECT q_id, v.vec_id AS nn_id, $cosSql AS cos
         |  FROM q, (SELECT vec_id, e AS cv FROM v) v
         |  WHERE v.vec_id <> q_id),
         |r AS (
         |  SELECT q_id, nn_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rnk
         |  FROM c)
         |SELECT q_id, rnk, nn_id, CAST(floor(cos * 1e6) AS BIGINT) AS cos_micro
         |FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,

    // replica of the full SRP band chain — deterministic hyperplane
    // literals, sign bits, band keys, candidate join, exact rerank.
    // Band geometry is capacity-DERIVED from COUNT(*) exactly as the
    // engine derives it (VectorSim.srpBandBits/srpBands): integer-exact
    // ceil-log2 via binary-string length, so both engines compute
    // bit-identical (bits, bands, planes) at ANY corpus size — at the
    // correctness sfs this lands on the historical (8, 4, 32).
    "s_srp_lsh" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |prm AS (
        |  SELECT bits, GREATEST(4, bits - 4) * bits AS np FROM (
        |    SELECT GREATEST(8, length(bin(COUNT(*) - 1)) - 3) AS bits
        |    FROM v)),
        |hp AS (
        |  SELECT j, list_transform(generate_series(0, 63),
        |    d -> CAST((j*64 + d) * 2654435761 % 2001 - 1000 AS DOUBLE) / 1000.0)
        |    AS h
        |  FROM (SELECT unnest(generate_series(0, (SELECT np FROM prm) - 1)) AS j)),
        |pj AS (
        |  SELECT v.vec_id, hp.j // (SELECT bits FROM prm) AS bi,
        |    hp.j % (SELECT bits FROM prm) AS bit,
        |    CASE WHEN list_dot_product(v.e, hp.h) >= 0 THEN 1 ELSE 0 END AS s
        |  FROM v CROSS JOIN hp),
        |bands AS (
        |  SELECT vec_id, bi, SUM(s * (1 << bit)) AS bk FROM pj GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
        |  FROM bands x JOIN bands y
        |    ON x.bi = y.bi AND x.bk = y.bk AND x.vec_id < y.vec_id),
        |p AS (
        |  SELECT a, b, list_dot_product(va.e, vb.e) /
        |    (sqrt(list_dot_product(va.e, va.e)) *
        |     sqrt(list_dot_product(vb.e, vb.e))) AS cos
        |  FROM cand
        |  JOIN v va ON va.vec_id = a
        |  JOIN v vb ON vb.vec_id = b)
        |SELECT a, b, CAST(floor(cos * 1e6) AS BIGINT) AS cos_micro
        |FROM p WHERE cos >= 0.4 ORDER BY a, b""".stripMargin,

    "s_embed_neardup" ->
      """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings)
        |SELECT x.vec_id AS a, y.vec_id AS b,
        |  CAST(floor(list_dot_product(x.e, y.e) /
        |    (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e)))
        |    * 1e6) AS BIGINT) AS cos_micro
        |FROM v x JOIN v y ON x.label = y.label AND x.vec_id < y.vec_id
        |WHERE list_dot_product(x.e, y.e) /
        |  (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))) >= 0.4
        |ORDER BY a, b""".stripMargin,

    // 1-based DuckDB list index vs 0-based posexplode: pos only orders
    // and groups within each engine, so the offset is harmless — but it
    // IS part of the output here, so the oracle subtracts 1
    "s_centroids" ->
      s"""WITH v AS (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
         |pe AS (
         |  SELECT label, unnest(generate_series(1, len(e))) - 1 AS pos,
         |    unnest(e) AS x
         |  FROM v)
         |SELECT label, pos, COUNT(*) AS n,
         |  CAST(floor(
         |    CAST(CAST(SUM(CAST(x AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE)
         |    / COUNT(*)) AS BIGINT) AS centroid_micro
         |FROM pe GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "s_kmeans_step" ->
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
         |pe AS (
         |  SELECT label, unnest(generate_series(1, len(e))) AS pos,
         |    unnest(e) AS x
         |  FROM v),
         |cm AS (
         |  SELECT label, pos,
         |    floor(
         |      CAST(CAST(SUM(CAST(x AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE)
         |      / COUNT(*)) / 1e6 AS m
         |  FROM pe GROUP BY 1, 2),
         |cent AS (
         |  SELECT label AS c_label, list(m ORDER BY pos) AS c FROM cm GROUP BY 1),
         |sc AS (
         |  SELECT v.vec_id, v.label, ct.c_label,
         |    list_dot_product(v.e, v.e) - 2.0 * list_dot_product(v.e, ct.c)
         |      + list_dot_product(ct.c, ct.c) AS d2
         |  FROM v, cent ct),
         |a AS (
         |  SELECT vec_id, label, c_label, d2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_label) AS rn
         |  FROM sc)
         |SELECT label AS label_from, c_label AS label_to, COUNT(*) AS n,
         |  CAST(SUM(CAST(floor(d2 * 1e6) AS BIGINT)) AS BIGINT) AS inertia_micro
         |FROM a WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // replicates quantize (floor(x·127/mx+0.5)) → 30-candidate pool by
    // code cosine → exact float rerank; code dot products are
    // integer-valued doubles, exact at any summation order
    "s_ann_sq8" ->
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |m AS (
         |  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS mx
         |  FROM v),
         |c8 AS (
         |  SELECT vec_id, e,
         |    list_transform(e, x -> floor(x * 127.0 / mx + 0.5)) AS q8
         |  FROM m WHERE mx > 0),
         |q AS (SELECT vec_id AS q_id, e AS qv, q8 AS qq8 FROM c8 WHERE vec_id < 5),
         |cand AS (
         |  SELECT q_id, c.vec_id AS nn_id, qv, c.e AS cv,
         |    list_dot_product(qq8, c.q8) /
         |      (sqrt(list_dot_product(qq8, qq8)) * sqrt(list_dot_product(c.q8, c.q8)))
         |      AS qcos
         |  FROM q, c8 c WHERE c.vec_id <> q_id),
         |pool AS (
         |  SELECT q_id, nn_id, qv, cv,
         |    row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, nn_id) AS prn
         |  FROM cand),
         |r AS (
         |  SELECT q_id, nn_id, $cosSql AS cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY $cosSql DESC, nn_id) AS rnk
         |  FROM pool WHERE prn <= 30)
         |SELECT q_id, rnk, nn_id, CAST(floor(cos * 1e6) AS BIGINT) AS cos_micro
         |FROM r WHERE rnk <= 10 ORDER BY q_id, rnk""".stripMargin,

    // replicates the whole chain: exact-micro centroids → nearest-by-
    // cosine assignment → ascending-ccos rank → pairwise prune at 0.3
    "s_semdedup" ->
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
         |pe AS (
         |  SELECT label, unnest(generate_series(1, len(e))) AS pos,
         |    unnest(e) AS x
         |  FROM v),
         |cm AS (
         |  SELECT label, pos,
         |    floor(
         |      CAST(CAST(SUM(CAST(x AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE)
         |      / COUNT(*)) / 1e6 AS m
         |  FROM pe GROUP BY 1, 2),
         |cent AS (
         |  SELECT label AS c_label, list(m ORDER BY pos) AS c FROM cm GROUP BY 1),
         |sc AS (
         |  SELECT v.vec_id, v.e, ct.c_label,
         |    list_dot_product(v.e, ct.c) /
         |      (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(ct.c, ct.c)))
         |      AS ccos
         |  FROM v, cent ct),
         |asg AS (
         |  SELECT vec_id, e, c_label AS cell, ccos,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_label) AS rn
         |  FROM sc),
         |a1 AS (
         |  SELECT vec_id, e, cell, ccos,
         |    row_number() OVER (PARTITION BY cell ORDER BY ccos, vec_id) AS rank
         |  FROM asg WHERE rn = 1),
         |rem AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM a1 b JOIN a1 a ON a.cell = b.cell AND a.rank < b.rank
         |  WHERE list_dot_product(a.e, b.e) /
         |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
         |    > CAST(0.3 AS DOUBLE))
         |SELECT cell, vec_id, CAST(floor(ccos * 1e6) AS BIGINT) AS ccos_micro
         |FROM a1 WHERE vec_id NOT IN (SELECT vec_id FROM rem)
         |ORDER BY cell, vec_id""".stripMargin,

    "s_cosine_ann_ivf" ->
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
         |q AS (SELECT vec_id AS q_id, label AS qlabel, e AS qv FROM v WHERE vec_id < 20),
         |c AS (
         |  SELECT q_id, v.vec_id AS nn_id, $cosSql AS cos
         |  FROM q JOIN (SELECT vec_id, label AS clabel, e AS cv FROM v) v
         |    ON qlabel = clabel AND v.vec_id <> q_id),
         |r AS (
         |  SELECT q_id, nn_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nn_id) AS rnk
         |  FROM c)
         |SELECT q_id, rnk, nn_id, CAST(floor(cos * 1e6) AS BIGINT) AS cos_micro
         |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,

    // per-(q-token, doc) maxes floored to micro BEFORE the query-level
    // sum — the sum is integer, so aggregation order cannot matter
    "s_maxsim_rerank" ->
      s"""WITH qt AS (
        |  SELECT doc_id AS q_id, i AS qpos,
        |    ${sqlMd5Bucket("string_split(text, ' ')[i]", 1009L)} AS b
        |  FROM documents, unnest(generate_series(1, 4)) AS u(i)
        |  WHERE doc_id IN (3, 57) AND i <= len(string_split(text, ' '))
        |    AND len(string_split(text, ' ')[i]) > 0),
        |qv AS (
        |  SELECT q_id, qpos,
        |    list_transform(generate_series(1, 8),
        |      d -> CAST((b * d) % 1009 AS DOUBLE) / CAST(1009 AS DOUBLE)) AS v
        |  FROM qt WHERE b <> 0),
        |dt AS (
        |  SELECT doc_id AS d_id, i,
        |    ${sqlMd5Bucket("string_split(text, ' ')[i]", 1009L)} AS b
        |  FROM documents, unnest(generate_series(1, 16)) AS u(i)
        |  WHERE doc_id < 30 AND i <= len(string_split(text, ' '))
        |    AND len(string_split(text, ' ')[i]) > 0),
        |dv AS (
        |  SELECT d_id,
        |    list_transform(generate_series(1, 8),
        |      d -> CAST((b * d) % 1009 AS DOUBLE) / CAST(1009 AS DOUBLE)) AS v
        |  FROM dt WHERE b <> 0),
        |mx AS (
        |  SELECT q.q_id, q.qpos, c.d_id,
        |    CAST(floor(MAX(list_dot_product(q.v, c.v) /
        |      (sqrt(list_dot_product(q.v, q.v)) *
        |       sqrt(list_dot_product(c.v, c.v)))) * 1e6) AS BIGINT) AS mc_micro
        |  FROM qv q, dv c GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT q_id, d_id, SUM(mc_micro) AS maxsim_micro
        |  FROM mx GROUP BY 1, 2),
        |r AS (
        |  SELECT q_id, d_id, maxsim_micro,
        |    row_number() OVER (PARTITION BY q_id
        |      ORDER BY maxsim_micro DESC, d_id) AS rnk
        |  FROM sc)
        |SELECT q_id, rnk, d_id, CAST(maxsim_micro AS BIGINT) AS maxsim_micro
        |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,

    // the [lo, hi) band filter runs on the raw double cosine in both
    // engines (identical IEEE sequence), so band membership agrees
    "s_hard_negatives" ->
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
         |q AS (SELECT vec_id AS q_id, label AS qlabel, e AS qv FROM v WHERE vec_id < 20),
         |c AS (
         |  SELECT q_id, v.vec_id AS neg_id, $cosSql AS cos
         |  FROM q JOIN (SELECT vec_id, label AS clabel, e AS cv FROM v) v
         |    ON qlabel = clabel AND v.vec_id <> q_id),
         |b AS (SELECT * FROM c WHERE cos >= 0.3 AND cos < 0.8),
         |r AS (
         |  SELECT q_id, neg_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, neg_id) AS rnk
         |  FROM b)
         |SELECT q_id, rnk, neg_id, CAST(floor(cos * 1e6) AS BIGINT) AS cos_micro
         |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,

    // same probe logic as s_cosine_ann_probes, with the corpus restricted
    // to the stored-index side (vec_id >= 20) and queries to the batch
    "s_ann_index" ->
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
         |corp AS (SELECT * FROM v WHERE vec_id >= 20),
         |reps AS (
         |  SELECT label AS rcell, e AS rv FROM (
         |    SELECT label, e,
         |      row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
         |    FROM corp) WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, e AS qv FROM v WHERE vec_id < 20),
         |pr AS (
         |  SELECT q_id, qv, rcell,
         |    row_number() OVER (PARTITION BY q_id ORDER BY
         |      list_dot_product(qv, rv) /
         |        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(rv, rv)))
         |      DESC, rcell) AS prn
         |  FROM q, reps),
         |probes AS (SELECT q_id, qv, rcell FROM pr WHERE prn <= 2),
         |c AS (
         |  SELECT p.q_id, corp.vec_id AS nn_id, p.qv, corp.e AS cv
         |  FROM probes p JOIN corp ON corp.label = p.rcell AND corp.vec_id <> p.q_id),
         |r AS (
         |  SELECT q_id, nn_id, $cosSql AS cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY $cosSql DESC, nn_id) AS rnk
         |  FROM c)
         |SELECT q_id, rnk, nn_id, CAST(floor(cos * 1e6) AS BIGINT) AS cos_micro
         |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,

    "s_cosine_ann_probes" ->
      s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
         |reps AS (
         |  SELECT label AS rcell, e AS rv FROM (
         |    SELECT label, e,
         |      row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
         |    FROM v) WHERE rn = 1),
         |q AS (SELECT vec_id AS q_id, e AS qv FROM v WHERE vec_id < 20),
         |pr AS (
         |  SELECT q_id, qv, rcell,
         |    row_number() OVER (PARTITION BY q_id ORDER BY
         |      list_dot_product(qv, rv) /
         |        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(rv, rv)))
         |      DESC, rcell) AS prn
         |  FROM q, reps),
         |probes AS (SELECT q_id, qv, rcell FROM pr WHERE prn <= 2),
         |c AS (
         |  SELECT p.q_id, v.vec_id AS nn_id, p.qv, v.e AS cv
         |  FROM probes p JOIN v ON v.label = p.rcell AND v.vec_id <> p.q_id),
         |r AS (
         |  SELECT q_id, nn_id, $cosSql AS cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY $cosSql DESC, nn_id) AS rnk
         |  FROM c)
         |SELECT q_id, rnk, nn_id, CAST(floor(cos * 1e6) AS BIGINT) AS cos_micro
         |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin
  )
}
