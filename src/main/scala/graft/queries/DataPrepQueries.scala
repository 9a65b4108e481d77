package graft.queries

import graft.core.Tables
import graft.operators.Windows
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data preparation catalog: sessionization, deterministic
  * stratified sampling, and sequence packing — the event/document-shaping
  * ops a large-scale data pipeline runs between dedup and training.
  */
object DataPrepQueries {

  private val Knuth = 2654435761L

  /** The event-type transition edge list — shared by `e_transitions`
    * (which publishes it as the matrix) and `e_pagerank` (which ranks
    * over it), so the two rows can never desynchronize. */
  private def transitionEdges(s: SparkSession, dir: String) = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("curr"))
      .agg(count(lit(1)).as("n"))
  }

  val queries: Map[String, Q] = Map(
    // EXACT heavy hitters via a two-pass Misra-Gries sketch: keys with
    // frequency strictly above n/k (k=5 — discriminating on this data:
    // the five event types sit within ±1% of uniform, so some clear the
    // 20% bar and some miss it). The sketch pass bounds executor memory
    // at k counters and the shuffle at partitions·k rows — the 100 TB
    // answer when the key space is huge and only the hot keys matter
    // (skew diagnosis before a join, abuse detection); the second pass
    // exact-counts ONLY the candidates, so the sketch prunes work but
    // never decides the answer. Eviction-path correctness is proven on
    // a 100k-key skewed fixture in OperatorsSpec.
    "e_heavy_hitters" -> { (s, dir) =>
      graft.operators.Sketches.heavyHitters(
          Tables.events(s, dir), "event_type", k = 5)
        .orderBy(col("event_type"))
    },

    // Audience overlap via persisted theta sketches — the set-ALGEBRA
    // sketch HLL can't be: per-day sketches of user_id are built once
    // (Spark's theta_sketch_agg is a partial aggregate, so sketches
    // shuffle, not rows) and STORED; the two half-month audiences are
    // each a theta_union_agg of stored day sketches and their
    // theta_intersection estimates "users active in both halves" in
    // O(k) — no raw rescan, no distinct-distinct join at query time.
    // NULL days and NULL users are dropped first (a NULL is not a key).
    // Below the nominal 4,096 entries the sketch is exact, so this row
    // is deterministic at test scale while the tolerance contract
    // (±5% + 5) is what holds at 100 TB. The exact overlap is computed
    // alongside purely as the proof's reference (two distinct-project
    // semi-sides, one keyed join).
    "e_theta_overlap" -> { (s, dir) =>
      val path = scratchDir("prep", dir, "theta_daily")
      rmrf(path)
      val ev = Tables.events(s, dir)
        .select(to_date(col("ts")).cast("string").as("day"), col("user_id"))
      ev.filter(col("day").isNotNull && col("user_id").isNotNull)
        .groupBy(col("day")).agg(theta_sketch_agg(col("user_id")).as("sk"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
      val daily = s.read.parquet(path)
      val ua = daily.filter(col("day") < "2024-01-16")
        .agg(theta_union_agg(col("sk")).as("ska"),
          count(lit(1)).as("n_days_a"))
      val ub = daily.filter(col("day") >= "2024-01-16")
        .agg(theta_union_agg(col("sk")).as("skb"),
          count(lit(1)).as("n_days_b"))
      val exact = ev.filter(col("day") < "2024-01-16")
        .select(col("user_id")).distinct()
        .join(ev.filter(col("day") >= "2024-01-16")
          .select(col("user_id")).distinct(), "user_id")
        .agg(count(lit(1)).as("exact_overlap"))
      val est = theta_sketch_estimate(theta_intersection(col("ska"), col("skb")))
      ua.crossJoin(ub).crossJoin(broadcast(exact))
        .select(col("n_days_a"), col("n_days_b"), col("exact_overlap"),
          (abs(est - col("exact_overlap").cast("double"))
            <= col("exact_overlap").cast("double") * 0.05 + lit(5.0))
            .as("theta_ok"))
    },

    // Sessionization: per-user sessions split on >30 min inactivity
    // (gaps-and-islands over event time, one shuffle on user_id).
    "e_sessionize" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select("user_id", "ts", "event_id")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // exact integer microseconds on both engines (cast-to-seconds would
      // truncate differently than DuckDB's fractional epoch())
      val flagged = ev.withColumn("__new_session",
        when(lag(col("ts"), 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) >
            1800L * 1000000L, 1)
          .otherwise(0))
      Windows.runGroups(flagged, col("__new_session"), "session_id",
          Seq(col("user_id")), Seq(col("ts"), col("event_id")))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
             min(col("ts")).as("session_start"),
             max(col("ts")).as("session_end"))
        .orderBy(col("user_id"), col("session_id"))
    },

    // Funnel conversion: per user, the first occurrence of each stage;
    // a stage converts only if its first occurrence is strictly after
    // the previous stage's — ONE conditional aggregation over the fact,
    // no per-stage self-joins (the naive form shuffles the fact once
    // per stage; this shuffles once total).
    "e_funnel" -> { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
        .agg(
          count(lit(1)).as("n_users"),
          count(col("t_view")).as("n_view"),
          sum(when(col("t_click") > col("t_view"), 1).otherwise(0))
            .cast("long").as("n_view_click"),
          sum(when(col("t_click") > col("t_view") &&
                   col("t_purchase") > col("t_click"), 1).otherwise(0))
            .cast("long").as("n_full_funnel"))
    },

    // Cohort retention: users bucketed by first-active day; per (cohort,
    // day-offset) distinct-user counts — the agg-join-back shape (A11)
    // applied to event analytics. Distinct (user, day) first, so the
    // cohort join and the final rollup both run on the compacted
    // activity set, not the raw event stream.
    "e_retention" -> { (s, dir) =>
      val act = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val cohorts = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      act.join(cohorts, "user_id")
        .groupBy(col("cohort"), datediff(col("day"), col("cohort")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort"), col("day_offset"))
    },

    // Event-transition matrix: consecutive event-type pairs per user
    // (one lag window, one rollup — never a self-join on the stream).
    "e_transitions" -> { (s, dir) =>
      transitionEdges(s, dir).orderBy(col("prev"), col("curr"))
    },

    // PageRank over the event-type transition graph (edges shared with
    // e_transitions via transitionEdges) — the fixed-point/recursive-CTE
    // substitute of SURVEY §4 as a GREEN row: 8 power iterations through
    // FixedPoint.iterateSteps, which pins every 4th generation and the
    // last through Materialize. The oracle unrolls the identical 8
    // iterations as chained CTEs with the same decimal-exact per-node
    // sums and explicit DOUBLE casts on every constant, so both engines
    // execute the same IEEE operation sequence.
    "e_pagerank" -> { (s, dir) =>
      val nodes = Tables.events(s, dir)
        .select(col("event_type").as("node")).distinct()
      graft.operators.Components.pageRank(transitionEdges(s, dir), nodes,
          "prev", "curr", "n", damping = 0.85, iters = 8)
        .orderBy("node")
    },

    // Deterministic stratified sampling: arithmetic hash on the id (both
    // engines reproduce it exactly — no rand()), per-lang rates. The
    // sampling decision is a pure per-row expression: fully distributed,
    // restartable, and stable across runs — the property a training-data
    // pipeline needs for reproducible corpus cuts.
    "t_stratified_sample" -> { (s, dir) =>
      val rate = when(col("lang") === "en", 10).otherwise(50)
      Tables.documents(s, dir)
        .filter((col("doc_id") * Knuth) % 100 < rate)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("chars"))
        .orderBy(col("lang"))
    },

    // Chunking: split each doc into overlapping token windows (W=128,
    // stride 96) — the doc→sample explosion before tokenization. Chunk
    // boundaries are pure per-row arithmetic (sequence + explode, no
    // shuffle until the rollup); each chunk's content hash supports
    // chunk-level dedup downstream. Output: per-lang chunk counts,
    // distinct-hash counts, token totals.
    "t_chunk_windows" -> { (s, dir) =>
      val w = 128; val stride = 96
      Tables.documents(s, dir)
        .withColumn("__w", split(col("text"), " "))
        .withColumn("n_tok", size(col("__w")))
        .withColumn("__k",
          explode(sequence(lit(0), floor((col("n_tok") - 1) / stride).cast("int"))))
        .withColumn("__start", col("__k") * stride + 1)
        .filter(col("__start") <= col("n_tok"))
        .withColumn("chunk_len",
          least(lit(w), col("n_tok") - col("__start") + 1))
        .withColumn("chunk_hash",
          md5(concat_ws(" ", slice(col("__w"), col("__start"), col("chunk_len")))))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("chunk_hash")).as("n_distinct_chunks"),
          sum(col("chunk_len")).cast("long").as("chunk_tok_sum"),
          max(col("chunk_len")).as("max_chunk_len"))
        .orderBy(col("lang"))
    },

    // Mixture rebalancing: downsample every language to the smallest
    // language's doc count so the training mix is uniform — rank docs
    // per lang by a deterministic hash (reproducible cut, no rand()),
    // keep the first `min_count`. The per-lang counts are a tiny
    // broadcast; ranking is one partitioned window (shuffle by lang —
    // a skewed lang is an AQE-skew case, not a plan change).
    "t_mix_rebalance" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val target = docs.groupBy(col("lang")).agg(count(lit(1)).as("__n"))
        .agg(min(col("__n")).as("__target"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(((col("doc_id") * Knuth) % 1000000L).as("__h"), col("doc_id"))
      docs
        .withColumn("__rnk", row_number().over(w))
        .crossJoin(broadcast(target))
        .filter(col("__rnk") <= col("__target"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).cast("long").as("tok_sum"),
          sum(col("n_chars")).cast("long").as("char_sum"))
        .orderBy(col("lang"))
    },

    // End-to-end training-data mixture: quality filter (type-token ratio ≥
    // 0.35) → repetition filter (duplicate-trigram fraction ≤ 0.10) →
    // exact dedup (keep the lowest doc_id per normalized-text hash) →
    // per-lang corpus stats. The whole funnel is per-row expressions plus
    // ONE dedup shuffle on the content hash and one rollup — the shape
    // that holds at 100 TB (filters run before the only wide exchange, so
    // the dedup shuffles the kept subset, not the raw corpus).
    "t_training_mix" -> { (s, dir) =>
      val scored = Tables.documents(s, dir)
        .withColumn("__w", split(col("text"), " "))
        .withColumn("n_tok", size(col("__w")))
        .filter(col("n_tok") >= 3)
        .withColumn("ttr_micro",
          floor(size(array_distinct(col("__w"))).cast("double") /
            col("n_tok").cast("double") * 1e6).cast("long"))
        .withColumn("rep_micro",
          floor((lit(1.0) -
            size(graft.operators.TextDedup.wordShingles(col("text"), 3))
              .cast("double") / (col("n_tok") - 2).cast("double")) * 1e6)
            .cast("long"))
        .filter(col("ttr_micro") >= 350000L && col("rep_micro") <= 100000L)
      val w = Window
        .partitionBy(md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))))
        .orderBy(col("doc_id"))
      scored
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("tok_sum"),
          sum(col("n_chars")).cast("long").as("char_sum"))
        .orderBy(col("lang"))
    },

    // Temperature-scaled mixture allocation — the multilingual
    // α-sampling standard (w_l ∝ n_l^α, α=0.5): high-resource languages
    // are damped, low-resource boosted. A 10 000-doc epoch budget is
    // allocated by LARGEST-REMAINDER rounding so the parts sum exactly
    // to the budget — integer-exact end to end (sqrt is correctly
    // rounded IEEE in both engines; its micro-floor is the only
    // transcendental step, after which everything is long arithmetic
    // on a 5-row frame). The per-lang counting scan is the only
    // data-sized work; allocation happens on the aggregated frame.
    "t_temperature_mix" -> { (s, dir) =>
      val budget = 10000L
      val counts = Tables.documents(s, dir)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .withColumn("w_micro",
          floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
      val tot = counts.agg(sum(col("w_micro")).as("__sumw"),
        count(lit(1)).as("__nl"))
      val based = counts.crossJoin(broadcast(tot))
        // integer `div`, never `/`: long / long is DOUBLE division in
        // Spark and its floor can straddle the exact quotient
        .withColumn("base", expr(s"($budget * w_micro) div __sumw"))
        .withColumn("__rem",
          lit(budget) * col("w_micro") - col("base") * col("__sumw"))
      // leftover = budget − Σ base, handed to the largest remainders
      // (ties by lang); window over the ≤|langs| aggregated frame
      val wR = org.apache.spark.sql.expressions.Window
        .orderBy(col("__rem").desc, col("lang"))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
      based
        .withColumn("__rnk", row_number().over(wR))
        .withColumn("__left", lit(budget) - sum(col("base")).over(wAll))
        .withColumn("alloc",
          col("base") + when(col("__rnk") <= col("__left"), 1L).otherwise(0L))
        .select("lang", "n_docs", "w_micro", "alloc")
        .orderBy("lang")
    },

    // Sequence packing: greedy token-budget binning per lang — docs in
    // doc_id order accumulate whitespace-token counts; a doc starts in
    // bin floor(exclusive-cumsum / budget). One window per lang
    // partition; bins then roll up.
    "t_pack_sequences" -> { (s, dir) =>
      val budget = 512
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("n_tok"))
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      docs
        .withColumn("bin",
          (coalesce(sum(col("n_tok")).over(w), lit(0L)) / budget).cast("long"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"))
        .orderBy(col("lang"), col("bin"))
    },

    // Deterministic corpus shard + training-order assignment — the
    // export step after packing: every doc gets a shard (dual-engine
    // md5 bucket of its id — reshard-stable, data-independent) and a
    // pseudorandom within-shard position (md5 order — THE training
    // shuffle; restartable because it's pure arithmetic, no rand()).
    // Shard-balance and order-determinism are what the oracle pins:
    // per-shard doc counts, token sums, and the first/last doc in
    // shuffle order. One map-only projection + one keyed window bounded
    // by shard size (shards are sized to executors at 100 TB, so the
    // within-shard sort IS the per-output-file sort) + one rollup.
    "t_shard_export" -> { (s, dir) =>
      val shards = 16
      // coalesce(text,''): same NULL discipline as t_passage_scrub —
      // Spark's size(split(NULL))=-1 vs DuckDB's NULL would silently
      // split the engines on a future NULL-text fixture
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        size(split(coalesce(col("text"), lit("")), " ")).as("n_tok"),
        md5Bucket(concat(lit("shard:"), col("doc_id").cast("string")), shards).as("shard"),
        md5(concat(lit("order:"), col("doc_id").cast("string"))).as("ord"))
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("ord"), col("doc_id"))
      docs.withColumn("pos", row_number().over(w))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("tok_sum"),
          min(struct(col("pos"), col("doc_id"))).getField("doc_id")
            .as("first_doc"),
          max(struct(col("pos"), col("doc_id"))).getField("doc_id")
            .as("last_doc"))
        .orderBy(col("shard"))
    }
  )

  val oracle: Map[String, String] = Map(
    // exact heavy-hitter definition — cnt·k > n in integer arithmetic
    // the theta tolerance holds by construction (exact mode below k);
    // the oracle pins the day counts and exact overlap, verdict literal
    "e_theta_overlap" ->
      """SELECT
        |  (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) FROM events
        |   WHERE CAST(ts AS DATE) < DATE '2024-01-16') AS n_days_a,
        |  (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) FROM events
        |   WHERE CAST(ts AS DATE) >= DATE '2024-01-16') AS n_days_b,
        |  (SELECT COUNT(*) FROM
        |    (SELECT DISTINCT user_id FROM events
        |     WHERE CAST(ts AS DATE) < DATE '2024-01-16') a
        |    JOIN
        |    (SELECT DISTINCT user_id FROM events
        |     WHERE CAST(ts AS DATE) >= DATE '2024-01-16') b
        |    USING (user_id)) AS exact_overlap,
        |  TRUE AS theta_ok""".stripMargin,

    // NULL keys excluded from BOTH the groups and the total n — the
    // operator's contract (a NULL is not a key); without the filter the
    // two engines' thresholds diverge on corpora with NULL event_type
    "e_heavy_hitters" ->
      """WITH c AS (SELECT event_type, COUNT(*) AS cnt FROM events
        |           WHERE event_type IS NOT NULL GROUP BY 1),
        |n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM c)
        |SELECT event_type, cnt FROM c, n
        |WHERE cnt * 5 > n ORDER BY event_type""".stripMargin,
    "e_funnel" ->
      """WITH firsts AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events GROUP BY user_id)
        |SELECT COUNT(*) AS n_users,
        |  COUNT(t_view) AS n_view,
        |  CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
        |  CAST(SUM(CASE WHEN t_click > t_view AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
        |FROM firsts""".stripMargin,

    "e_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "e_retention" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort FROM a GROUP BY 1)
        |SELECT f.cohort, a.day - f.cohort AS day_offset,
        |  COUNT(DISTINCT a.user_id) AS n_users
        |FROM a JOIN f ON a.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "e_transitions" ->
      """WITH lagged AS (
        |  SELECT user_id, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT prev, event_type AS curr, COUNT(*) AS n
        |FROM lagged WHERE prev IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the same 8 power iterations unrolled as chained CTEs. Every
    // numeric constant is CAST to DOUBLE explicitly: DuckDB otherwise
    // treats literals as DECIMAL and computes 1.0 - 0.85 exactly (0.15),
    // while Scala's IEEE subtraction gives 0.15000000000000002 — an
    // ulp-level divergence that would ride on the driver's 6-significant-
    // digit rounding instead of genuine operation-sequence parity. The
    // subtraction itself is spelled out (not 0.15) to mirror Scala's
    // (1.0 - damping).
    "e_pagerank" -> {
      val head =
        """WITH lagged AS (
          |  SELECT user_id, event_type,
          |    LAG(event_type) OVER (PARTITION BY user_id
          |                          ORDER BY ts, event_id) AS prev
          |  FROM events),
          |edges AS (
          |  SELECT prev, event_type AS curr, COUNT(*) AS n
          |  FROM lagged WHERE prev IS NOT NULL GROUP BY 1, 2),
          |nodes AS (SELECT DISTINCT event_type AS node FROM events),
          |nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
          |outd AS (SELECT prev, SUM(n) AS out FROM edges GROUP BY 1),
          |e AS (SELECT edges.prev, edges.curr, edges.n, outd.out
          |      FROM edges JOIN outd USING (prev)),
          |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n_nodes FROM nn) AS rank
          |       FROM nodes)""".stripMargin
      val steps = (1 to 8).map { k =>
        s"""r$k AS (
           |  SELECT n.node,
           |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n_nodes FROM nn)
           |      + CAST(0.85 AS DOUBLE) * COALESCE(c.contrib, CAST(0.0 AS DOUBLE)) AS rank
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.curr AS node,
           |      CAST(SUM(CAST((r.rank * e.n) / e.out AS DECIMAL(18,6))) AS DOUBLE) AS contrib
           |    FROM r${k - 1} r JOIN e ON e.prev = r.node
           |    GROUP BY 1) c ON c.node = n.node)""".stripMargin
      }.mkString(",\n")
      head + ",\n" + steps + "\nSELECT node, rank FROM r8 ORDER BY node"
    },

    "t_stratified_sample" ->
      s"""SELECT lang, COUNT(*) AS n_sampled, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE ${sqlWrapMul64("doc_id", Knuth)} % 100 <
        |      CASE WHEN lang = 'en' THEN 10 ELSE 50 END
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "t_chunk_windows" ->
      """WITH d AS (SELECT lang, string_split(text, ' ') AS ws FROM documents),
        |ex AS (
        |  SELECT lang, ws,
        |    unnest(generate_series(0, CAST(floor((len(ws) - 1) / 96) AS INT))) AS k
        |  FROM d),
        |ch AS (
        |  SELECT lang,
        |    least(128, len(ws) - (k * 96 + 1) + 1) AS chunk_len,
        |    md5(array_to_string(
        |      ws[(k * 96 + 1):(k * 96 + least(128, len(ws) - (k * 96 + 1) + 1))],
        |      ' ')) AS chunk_hash
        |  FROM ex WHERE k * 96 + 1 <= len(ws))
        |SELECT lang, COUNT(*) AS n_chunks,
        |  COUNT(DISTINCT chunk_hash) AS n_distinct_chunks,
        |  CAST(SUM(chunk_len) AS BIGINT) AS chunk_tok_sum,
        |  MAX(chunk_len) AS max_chunk_len
        |FROM ch GROUP BY lang ORDER BY lang""".stripMargin,

    "t_mix_rebalance" ->
      s"""WITH t AS (
        |  SELECT MIN(n) AS target FROM (
        |    SELECT COUNT(*) AS n FROM documents GROUP BY lang)),
        |ranked AS (
        |  SELECT lang, text, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY ${sqlWrapMul64("doc_id", Knuth)} % 1000000, doc_id) AS rnk
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok_sum,
        |  CAST(SUM(n_chars) AS BIGINT) AS char_sum
        |FROM ranked, t WHERE rnk <= t.target
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "t_training_mix" ->
      """WITH scored AS (
        |  SELECT doc_id, lang, n_chars, text,
        |    len(string_split(text, ' ')) AS n_tok,
        |    CAST(floor(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / CAST(len(string_split(text, ' ')) AS DOUBLE) * 1e6) AS BIGINT) AS ttr_micro,
        |    CAST(floor((1.0 -
        |      CAST(len(list_distinct(list_transform(
        |        generate_series(1, len(string_split(text, ' ')) - 2),
        |        i -> string_split(text, ' ')[i] || ' ' ||
        |             string_split(text, ' ')[i+1] || ' ' ||
        |             string_split(text, ' ')[i+2]))) AS DOUBLE)
        |      / CAST(len(string_split(text, ' ')) - 2 AS DOUBLE)) * 1e6) AS BIGINT) AS rep_micro
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |kept AS (
        |  SELECT lang, n_tok, n_chars,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |      ORDER BY doc_id) AS rn
        |  FROM scored
        |  WHERE ttr_micro >= 350000 AND rep_micro <= 100000)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS tok_sum,
        |  CAST(SUM(n_chars) AS BIGINT) AS char_sum
        |FROM kept WHERE rn = 1 GROUP BY lang ORDER BY lang""".stripMargin,

    // sqrt is correctly-rounded IEEE in both engines; after its
    // micro-floor everything is BIGINT arithmetic (// is integer div)
    "t_temperature_mix" ->
      """WITH c AS (
        |  SELECT lang, COUNT(*) AS n_docs,
        |    CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1e6) AS BIGINT)
        |      AS w_micro
        |  FROM documents GROUP BY lang),
        |t AS (SELECT SUM(w_micro) AS sumw FROM c),
        |b AS (
        |  SELECT lang, n_docs, w_micro,
        |    (10000 * w_micro) // sumw AS base,
        |    10000 * w_micro - ((10000 * w_micro) // sumw) * sumw AS rem
        |  FROM c, t),
        |r AS (
        |  SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rnk,
        |    10000 - SUM(base) OVER () AS leftover
        |  FROM b)
        |SELECT lang, n_docs, w_micro,
        |  CAST(base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc
        |FROM r ORDER BY lang""".stripMargin,

    "t_pack_sequences" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
        |  FROM documents),
        |binned AS (
        |  SELECT lang, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT) AS bin
        |  FROM toks)
        |SELECT lang, bin, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_sum
        |FROM binned GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,

    "t_shard_export" ->
      s"""WITH d AS (
         |  SELECT doc_id, len(string_split(COALESCE(text, ''), ' ')) AS n_tok,
         |    ${sqlMd5Bucket("'shard:' || CAST(doc_id AS VARCHAR)", 16)} AS shard,
         |    md5('order:' || CAST(doc_id AS VARCHAR)) AS ord
         |  FROM documents),
         |p AS (
         |  SELECT d.*, row_number() OVER
         |    (PARTITION BY shard ORDER BY ord, doc_id) AS pos
         |  FROM d)
         |SELECT shard, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS tok_sum,
         |  arg_min(doc_id, pos) AS first_doc,
         |  arg_max(doc_id, pos) AS last_doc
         |FROM p GROUP BY shard ORDER BY shard""".stripMargin
  )
}
