package graft

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}

/** Physical-plan audits: the scale properties the engine promises are
  * asserted on the actual executedPlan strings, so a regression that
  * un-broadcasts a dim, drops a pushed filter, or reintroduces an
  * all-pairs join fails CI — not just a benchmark eyeball. */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan.toString

  /** A catalog row's physical plan as AQE first plans it (nothing run). */
  private def physical(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] =
    p.collect { case e: ShuffleExchangeExec => e }

  test("a1: filters push into the parquet scan and unused columns are pruned") {
    val p = plan("a1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"))
    assert(!p.contains("l_partkey"), "scan reads columns the query never uses")
    assert(p.contains("partial_sum"), "no map-side partial aggregation")
  }

  test("j1: dims broadcast — no shuffle of the fact side for nation/region") {
    val p = plan("j1_star_revenue")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2)
    assert(p.contains("BroadcastHashJoin"))
  }

  test("near-dup pipelines never plan an all-pairs join") {
    for (q <- Seq("d_minhash_lsh", "d_simhash", "d_ngram_jaccard",
                  "d_incremental_dedup", "s_srp_lsh")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans an NLJ")
    }
    // SRP band keys come from one native expression, not a vector ×
    // hyperplane cross join
    assert(plan("s_srp_lsh").contains("graft_srp_band_keys("))
  }

  test("tiered verify: parity prune probes the skinny sketch relation, arrays join survivors only") {
    // r17 two-tier broadcast verify (TextDedup.verifyJaccard): ALL
    // candidates probe a skinny (id, |A|, sketch) relation and the
    // size+parity filters run on those precomputed columns; only
    // survivors probe the fat array relation for the exact kernel. The
    // plan must show ≥4 broadcast hash probes (2 skinny + 2 fat), the
    // parity filter over the skinny columns (__na/__pka — NOT
    // size(__sha), the one-tier form), and the bounded kernel on the
    // fat columns. A regression that collapses the tiers puts every
    // candidate's probe back into the multi-hundred-MB array relation
    // (the m100 ngram verify wall).
    val p = plan("d_minhash_lsh")
    // count INNER BroadcastHashJoins only (r18, ADVICE): the full plan
    // carries several unrelated LeftOuter BHJs (collapseExactDups'
    // expand joins), which the unscoped r17 count would keep satisfying
    // after a tier collapse
    val innerBhj = p.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") && l.contains("Inner"))
    assert(innerBhj >= 4,
      s"two-tier verify should probe skinny sketch + fat array relations " +
        s"(4 inner BHJs), found $innerBhj")
    assert(p.contains("graft_parity_sketch"), "skinny sketch projection missing")
    assert(p.contains("graft_xor_popcount"), "parity pre-filter missing")
    assert(p.contains("__na"), "size/parity filters should read the " +
      "precomputed skinny columns")
    // the negative half of the claim (r18, ADVICE): no filter conjunct
    // may recompute sizes from the fat arrays — the one-tier form
    assert(!p.contains("size(__sha"),
      "size/parity filters must not read size(__sha) — one-tier regression")
    assert(p.contains("graft_array_jaccard_sorted_bounded"),
      "bounded kernel missing from the survivor verify")
  }

  test("s_cosine_topk: query side broadcast, corpus not shuffled by a join") {
    val qp = physical("s_cosine_topk")
    val p = qp.toString
    assert(p.contains("BroadcastNestedLoopJoin"),
      "query vectors should broadcast against the corpus")
    assert(!p.contains("SortMergeJoin"), "corpus must not shuffle for the join")
    // two shuffles: the top-k's exchange on the query id and the
    // output orderBy's range exchange
    assert(shuffles(qp).size == 2, s"expected two shuffle exchanges, plan:\n$p")
  }

  test("top-k rows: a partial WindowGroupLimit below the query-keyed exchange") {
    // the top-k ranks per query only; Spark's InferWindowGroupLimit keeps
    // k rows per query and input partition before the exchange
    for (name <- Seq("s_cosine_topk", "s_cosine_ann_ivf", "s_hard_negatives",
        "s_ann_index", "s_ann_sq8", "s_cosine_ann_probes", "t_hybrid_rrf")) {
      val p = physical(name)
      assert(!p.toString.toUpperCase.contains("SPARK_PARTITION_ID"),
        s"$name ranks within input partitions, plan:\n$p")
      val byQuery = shuffles(p).filter(_.outputPartitioning match {
        case h: HashPartitioning => h.references.toSeq.map(_.name) == Seq("q_id")
        case _ => false
      })
      assert(byQuery.nonEmpty, s"$name: no exchange on q_id, plan:\n$p")
      byQuery.foreach(e => assert(e.child match {
          case w: WindowGroupLimitExec => w.mode == Partial
          case _ => false
        }, s"$name: exchange without a partial WindowGroupLimit below it:\n$e"))
    }
  }

  test("s_cosine_ann_probes: probe set broadcast, corpus joined on the cell key") {
    val p = plan("s_cosine_ann_probes")
    // the probe-selection crossJoin is queries × cell-representatives
    // (tiny, broadcast); the corpus-side join must be an equi-join on
    // the cell key, so the corpus itself is never replicated per query
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "corpus must join the probe set on the cell key (equi-join)")
    assert(!p.contains("CartesianProduct"), "corpus-side cartesian")
  }

  test("round-8 ops: sq8 rerank equi-joins, kmeans broadcasts centroids, MG exact pass hash-joins") {
    val sq8 = plan("s_ann_sq8")
    // candidate gen: queries broadcast against the code index (NLJ is the
    // intended shape, same as s_cosine_topk); the rerank vector fetch
    // must be an EQUI-join — re-scoring via a second nested loop would
    // re-touch the fat corpus per query
    assert(sq8.contains("BroadcastNestedLoopJoin"))
    assert(sq8.contains("BroadcastHashJoin") || sq8.contains("SortMergeJoin"),
      "sq8 rerank should fetch full vectors by equi-join on the candidate ids")
    val km = plan("s_kmeans_step")
    assert(km.contains("BroadcastNestedLoopJoin"),
      "centroid table must broadcast — the corpus never shuffles for assignment")
    assert(!km.contains("CartesianProduct"))
    val hh = plan("e_heavy_hitters")
    assert(hh.contains("BroadcastHashJoin"),
      "the exact pass must count candidate keys via a broadcast equi-join")
  }

  test("t_decontaminate: benchmark phrases broadcast, corpus equi-joined") {
    val p = plan("t_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      "phrase set should broadcast into a hash equi-join on the shingle")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "decontamination must never scan corpus × phrases")
  }

  test("w7: global ntile runs without a whole-relation Window sort") {
    val p = plan("w7_ntile_quartiles")
    assert(!p.contains("row_number() windowspecdefinition"),
      "scalableNtile must not fall back to a row_number window")
    assert(p.contains("rangepartitioning"), "expected a range repartition")
    // the relation is exchanged only by the range repartition (repeated
    // subtrees in the static plan are one reused exchange at runtime); a
    // hash exchange on relation columns would mean a second full shuffle
    assert(!p.contains("Exchange hashpartitioning(c_"),
      s"unexpected second full-relation shuffle, plan:\n$p")
  }

  test("bucketed tables co-locate: join plans with zero exchanges") {
    import org.apache.spark.sql.functions._
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    spark.conf.set(thresholdKey, "-1") // force a non-broadcast join
    try {
      graft.core.Tables.orders(spark, sf001).write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable("graft_orders_bkt")
      graft.core.Tables.customer(spark, sf001).write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable("graft_cust_bkt")
      val j = spark.table("graft_orders_bkt")
        .join(spark.table("graft_cust_bkt"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).count()
      val p = j.queryExecution.executedPlan.toString
      val joinIdx = p.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected a sort-merge join over buckets:\n$p")
      assert(!p.substring(joinIdx).contains("Exchange"),
        s"bucketed join should not shuffle either side:\n$p")
      assert(j.count() > 0)
    } finally {
      spark.conf.set(thresholdKey, prev)
      spark.sql("DROP TABLE IF EXISTS graft_orders_bkt")
      spark.sql("DROP TABLE IF EXISTS graft_cust_bkt")
    }
  }

  test("io_dpp_prune: runtime partition pruning fires on the fact scan") {
    val p = SparkEntry.queries("io_dpp_prune")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"fact scan is not dynamically pruned by the dim filter:\n$p")
  }

  test("q2: correlated scalar subquery decorrelates into an aggregate join") {
    val p = plan("q2_min_price_line")
    assert(!p.contains("Subquery"),
      "correlated MIN must be rewritten, not executed per row")
    assert(p.contains("partial_min"), "expected the decorrelated min aggregate")
    // the outer filter must be pushed into BOTH the outer scan and the
    // decorrelated subquery scan
    assert("LessThan\\(l_partkey,2000\\)".r.findAllIn(p).size >= 2,
      s"l_partkey filter not pushed into both scans:\n$p")
  }

  test("AQE skew-join mitigation fires on a skewed shuffle join") {
    // The modern answer to the reference's 16-way manual salt (J13,
    // sas_conversion…sql): AQE detects the hot key at runtime and splits
    // its partition. Thresholds are lowered so the sf0.001 fixture
    // triggers the same code path a hot key would at production scale.
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64b",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64b",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // the split adds a shuffle ahead of the downstream agg, which the
      // cost check would veto on this tiny fixture
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // skew the fact: ~99% of lineitem lands on ONE join key (the
      // expression must not be foldable, or Catalyst rewrites the join
      // into filter + cartesian and there is no shuffle to skew-split).
      // repartition(8) first: the fixture is a single parquet file = one
      // map task, and a skewed reduce partition is split by MAP BLOCK —
      // one block is unsplittable no matter the thresholds.
      val fact = graft.core.Tables.lineitem(spark, sf001)
        .repartition(8)
        .withColumn("k",
          when(col("l_orderkey") % 100 < 99, lit(7L))
            .otherwise(col("l_orderkey") % 100))
      val dim = spark.range(100).select(col("id").as("k"),
        (col("id") * 2).as("v"))
      val j = fact.join(dim, "k").groupBy("v").count()
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("isSkew=true") || p.contains("skewed"),
        s"AQE did not split the skewed partition:\n$p")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("native expressions stay inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    import graft.operators.{TextDedup, VectorSim}
    val docs = graft.core.Tables.documents(spark, sf001)
      .select(TextDedup.simhash64(TextDedup.wordShingles(col("text"), 3)).as("sh"),
        TextDedup.minhashBands(TextDedup.wordShingles(col("text"), 3), 128, 32).as("mb"))
    val emb = graft.core.Tables.embeddings(spark, sf001)
      .select(VectorSim.cosine(col("embedding"), col("embedding")).as("c"))
    for (df <- Seq(docs, emb)) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("*("), s"projection fell out of whole-stage codegen:\n$p")
      assert(df.count() > 0) // and the generated code actually compiles/runs
    }
    assert(emb.filter(col("c") < 0.999999).count() == 0) // self-cosine == 1
  }

  test("optimizer rule fuses size(intersect)/size(union) into graft_array_jaccard") {
    import org.apache.spark.sql.functions._
    // parquet-backed input so constant folding can't pre-evaluate the rows
    val docs = graft.core.Tables.documents(spark, sf001).limit(50)
      .select(col("doc_id"),
        split(col("text"), " ").as("l"),
        reverse(split(col("text"), " ")).as("r"))
      .withColumn("j", size(array_intersect(col("l"), col("r"))).cast("double") /
        size(array_union(col("l"), col("r"))).cast("double"))
    assert(docs.queryExecution.optimizedPlan.toString.contains("graft_array_jaccard"),
      "fusion rule did not fire")
    // same word multiset reversed → identical distinct sets → Jaccard 1
    assert(docs.select("j").collect().forall(_.getDouble(0) == 1.0))
  }

  test("fused jaccard matches the composed form on edge inputs (empty arrays)") {
    import org.apache.spark.sql.functions._
    // 0/0 is NULL with ANSI off — the fused expression must agree, and
    // the SQL-registered hash functions must tolerate null elements
    val df = spark.range(1).select(
      expr("array()").cast("array<string>").as("e"),
      expr("array('a', cast(null as string), 'b')").as("n"))
    import org.apache.spark.sql.graft.GraftSql
    val r = df.select(
      GraftSql.column(graft.functions.ArrayJaccard(
        GraftSql.expression(col("e")), GraftSql.expression(col("e")))).as("j"),
      expr("size(array_intersect(e, e)) / size(array_union(e, e))").as("composed"),
      expr("graft_simhash64(n)").as("sh"),
      expr("graft_minhash_bands(n, 16, 4)").as("mb")).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))     // both NULL: rule is value-preserving
    assert(!r.isNullAt(2) && !r.isNullAt(3))   // null elements skipped, no NPE
  }

  test("whole catalog: no cartesian products; global Windows only post-aggregation") {
    // ONE catalog sweep, two blanket scale rules (constructing some
    // queries runs real Spark work — pl_dag_run's whole DAG — so the
    // catalog is executed once, not once per rule):
    // 1. No query ever plans a non-broadcast cartesian product.
    // 2. A Window with no partitionBy funnels its whole input into ONE
    //    task; that is only acceptable over a frame aggregation has
    //    already collapsed (daily revenue, per-partition offsets — rows
    //    bounded by group count, not data size). Every unpartitioned
    //    logical Window must have an Aggregate beneath it.
    // io_/st_ queries run real writes when constructed — their plans are
    // simple scans/aggs over their own output; skip the side effects here
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val pure = SparkEntry.queries.keys.filterNot(n =>
      n.startsWith("io_") || n.startsWith("st_"))
    val badWindows = Seq.newBuilder[String]
    for (name <- pure) {
      val qe = SparkEntry.queries(name)(spark, sf001).queryExecution
      assert(!qe.executedPlan.toString.contains("CartesianProduct"),
        s"$name plans a CartesianProduct — an all-pairs shuffle at scale")
      val bare = qe.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
          w.child.collectFirst { case a: Aggregate => a }.isEmpty => w
      }
      if (bare.nonEmpty) badWindows += name
    }
    val bad = badWindows.result()
    assert(bad.isEmpty,
      s"unpartitioned Window over a non-aggregated frame in: ${bad.distinct.sorted.mkString(", ")}")
  }

  test("j13: salted join replicates only the dim side, fact scans once") {
    val p = plan("j13_salted_join")
    assert("FileScan parquet".r.findAllIn(p).size == 2,
      "fact or dim scanned more than once")
  }

  test("round-9 rewrites hold: doc_terms explodes once, edit-distance joins equi") {
    // t_doc_terms r8 regression root cause was a SECOND corpus explode
    // (separate distinct()+groupBy for df). Plain plan sharing does NOT
    // fix it: Catalyst prunes the unused count from the df branch, the
    // subtrees stop canonicalizing equal, and exchange reuse never fires
    // — so the tf aggregate is localCheckpointed and the query plan
    // proper must contain NO corpus explode at all (it reads the
    // materialized frame); the one real explode runs inside the
    // checkpoint's own materialization job, so the structural property
    // is visible on the plan without executing the query
    val dt = plan("t_doc_terms")
    assert("Generate explode".r.findAllIn(dt).isEmpty &&
           !dt.contains("FileScan parquet"),
      "t_doc_terms must consume the single materialized tf frame")
    // t_edit_distance candidate generation must stay an equi-join on the
    // PassJoin (segment, substring) key — never NLJ/cartesian — and the
    // thresholded levenshtein must not be pushed into the join condition
    // (it would run per raw bucket co-occurrence, before the cheap
    // id/length predicates)
    val ed = plan("t_edit_distance")
    assert(!ed.contains("CartesianProduct") &&
           !ed.contains("BroadcastNestedLoopJoin"),
      "edit-distance candidate generation is not an equi-join")
    val joinLines = ed.linesIterator.filter(l =>
      l.contains("Join") && l.contains("levenshtein"))
    assert(joinLines.isEmpty,
      "levenshtein leaked into a join condition")
  }

  test("round-10 rewrite holds: semDedup pair scan reads the collapsed frame") {
    // VectorSim.semDedup collapses byte-identical vectors to a min-id
    // representative and materializes the cell assignment BEFORE the
    // in-cell pair scan (the sf1 twin board took the uncollapsed scan
    // from 2.3 s to 91.8 s). Structurally: the query plan proper must
    // contain no embeddings scan at all — both pair-join sides and the
    // final anti-join consume the one materialized collapsed frame
    // (the t_doc_terms pin pattern).
    val p = plan("s_semdedup")
    val mode = spark.conf.getOption(graft.core.Materialize.ModeKey)
      .getOrElse("local")
    if (mode == "reliable")
      // reliable materialization IS a parquet round trip, so the plan
      // legitimately contains FileScans — of the scratch copy. The pin
      // then becomes: no scan of the embeddings SOURCE table (the
      // collapsed assignment is still the only thing the query reads).
      assert(!p.contains("embeddings.parquet"),
        "s_semdedup must not rescan the embeddings source in reliable mode")
    else
      assert(!p.contains("FileScan parquet"),
        "s_semdedup must consume only the materialized collapsed assignment")
  }

  test("saltedJoin splits the hot key across reducers (skew balance gate)") {
    // deterministic skew gate (a wall-time gate at x10 volume held in 1
    // of 7 runs on a 4-core host, so skew is judged by rows per reducer,
    // not by time): one key owns 20% of the fact, so
    // with AQE and broadcast off the plain join hash-routes all hot rows
    // to ONE of 32 shuffle partitions; saltedJoin(n=16) must spread them
    // ~16 ways. Asserted on actual post-join partition row counts
    // (spark_partition_id), which are a pure function of the hash — no
    // timing flake.
    import org.apache.spark.sql.functions._
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "32")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.range(100000).select(
        when(col("id") % 5 === 0, 0L).otherwise(col("id") % 999 + 1L).as("k"),
        (col("id") % 97).as("v"))
      val dim = spark.range(1000).select(col("id").as("k"),
        (col("id") % 10).as("dval"))
      def maxPart(j: org.apache.spark.sql.DataFrame): Long =
        j.select(spark_partition_id().as("p")).groupBy("p").count()
          .agg(max("count")).head().getLong(0)
      val plainMax = maxPart(fact.join(dim, "k"))
      val saltedMax = maxPart(
        graft.operators.RuleJoins.saltedJoin(fact, dim, "k", "k", 16))
      // hot partition: 20k hot rows + ~2.5k uniform; salted: hot rows
      // split ~1.25k per (0, salt) bucket — well under a third
      assert(plainMax >= 20000,
        s"fixture lost its skew: plain max partition $plainMax")
      assert(saltedMax * 3 <= plainMax,
        s"salting did not split the hot key: $saltedMax vs $plainMax")
      // same join result either way
      val a = fact.join(dim, "k").agg(sum(col("v") * col("dval"))).head().getLong(0)
      val b = graft.operators.RuleJoins.saltedJoin(fact, dim, "k", "k", 16)
        .agg(sum(col("v") * col("dval"))).head().getLong(0)
      assert(a == b)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("try_cast rewrites: value-identical over the adversarial battery; rule fires") {
    // r16 TryCastNoThrowRule contract. Truth = the UNREWRITTEN TRY-mode
    // Cast evaluated at the expression level (the optimizer never sees
    // it); got = the same cast through the session SQL path, which runs
    // the rule + whole-stage codegen. Identical for every (input, type).
    // The input MUST come through a real scan: a Seq-built LocalRelation
    // is constant-folded WITH the original TRY cast before injected
    // optimizer rules run, making the battery vacuous \u2014 the first
    // version of this test passed that way while the rewrite silently
    // truncated '5.7' (lenient-parser bug, caught in review). Hence the
    // parquet round trip.
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    import spark.implicits._
    val inputs = Seq(
      "5", " 5 ", "\t5\n", "+7", "-3", "5.7", "-5.9", ".5", "5.", "0",
      "5..7", "5.7.8", ".", "-.", " 5.7 ", "5.0", "0.0", "5.999",
      "2147483647", "2147483648", "-2147483648", "-2147483649",
      "9223372036854775807", "9223372036854775808",
      "32767", "32768", "127", "128", "-129",
      "1e3", "1E-2", "0x10", "abc", "", " ", "NaN", "Infinity",
      "-Infinity", "nan", "5d", "\u00bd", "12345678901234567890123456789",
      "3.4028236e38", "1.8e308", "true", "false", "t", "yes", null)
    val types: Seq[(String, DataType)] = Seq(
      "tinyint" -> ByteType, "smallint" -> ShortType, "int" -> IntegerType,
      "bigint" -> LongType, "float" -> FloatType, "double" -> DoubleType,
      "decimal(10,2)" -> DecimalType(10, 2), "boolean" -> BooleanType)
    val tmp = java.nio.file.Files.createTempDirectory("trycast_battery")
    val path = tmp.resolve("in.parquet").toString
    inputs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "s")
      .write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    // guard against the vacuity mode itself: the battery plan must keep
    // a scan (not fold to a LocalRelation) and must show the rewrite
    val batteryPlan = df.selectExpr("try_cast(s AS int) AS v")
      .queryExecution.executedPlan.toString
    assert(batteryPlan.contains("graft_try_parse_integral"),
      "battery source folded away \u2014 the rule path is not being exercised")
    def sameValue(a: Any, b: Any): Boolean = (a, b) match {
      case (null, null) => true
      case (x: Double, y: Double) => (x.isNaN && y.isNaN) || x == y
      case (x: Float, y: Float) => (x.isNaN && y.isNaN) || x == y
      case (x, y) => x == y
    }
    types.foreach { case (sqlType, dt) =>
      val got = df.selectExpr("i", s"try_cast(s AS $sqlType) AS v")
        .collect().map(r => r.get(0).asInstanceOf[Int] -> r.get(1)).toMap
      inputs.zipWithIndex.foreach { case (in, i) =>
        val lit = Literal(if (in == null) null else UTF8String.fromString(in),
          StringType)
        val want = Cast(lit, dt, Some("UTC"), EvalMode.TRY).eval(null)
        val wantExt = want match {
          case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
          case other => other
        }
        assert(sameValue(got(i), wantExt),
          s"try_cast($in AS $sqlType): rule path ${got(i)} != TRY truth $wantExt")
      }
    }
    // and the rule actually FIRES: integral targets plan the native
    // parse, double/decimal lose the TRY mode
    val p = spark.range(1).selectExpr("concat('x', id) AS s")
      .selectExpr("try_cast(s AS int)", "try_cast(s AS double)")
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_try_parse_integral"),
      "integral try_cast should rewrite to the native no-throw parse")
    assert(!p.toLowerCase.contains("try_cast"),
      "no TRY-mode cast should survive the rewrite for these targets")
  }

  test("try_cast temporal: TRY == LEGACY over the adversarial battery (rewrite licensed but refuted)") {
    // r17 (r16 verdict item 2), adoption gate honored by MEASUREMENT:
    // this battery proves TRY and LEGACY string→temporal casts are
    // value-identical — the fact that would LICENSE rewriting them like
    // the numeric family above — but the rewrite is deliberately NOT
    // adopted: the rule on/off tax A/B (OPTIMIZATION_r17.md §4) showed
    // Spark 4.1's temporal TRY cast pays no per-failing-row exception
    // (date/timestamp 1.1× vs int 16.1× on the same scan), so the rule would add
    // surface for no measured benefit. The battery stays as the
    // licensing proof should a future Spark regress the temporal path.
    // Same scan-backed protocol as the numeric battery (LocalRelation
    // batteries are vacuous under constant folding).
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    import spark.implicits._
    val inputs = Seq(
      // clean + partial dates (Spark accepts yyyy / yyyy-MM prefixes)
      "2024-02-29", "2023-02-29", "2024-1-3", "2024-01-3", "2024", "2024-02",
      "0001-01-01", "9999-12-31", "1970-01-01", "2024-13-01", "2024-00-10",
      "2024-02-30", "2024-04-31", " 2024-01-03", "2024-01-03 ", "2024/01/03",
      "01-03-2024", "20240103", "2024-01-03T", "-0001-01-01", "+2024-01-03",
      // timestamps: space/T separators, fractions, zone suffixes
      "2024-01-02 10:11:12", "2024-01-02T10:11:12", "2024-01-02 10:11:12.5",
      "2024-01-02 10:11:12.123456", "2024-01-02 10:11:12.1234567890",
      "2024-01-02 10:11:12Z", "2024-01-02 10:11:12+05:30",
      "2024-01-02 10:11:12 UTC", "2024-01-02 10:11:12 America/Los_Angeles",
      "2024-01-02 10:11:12+0530", "2024-01-02 10:11:12 GMT+8",
      "2024-01-02 24:00:00", "2024-01-02 23:59:60", "2024-01-02 10:61:00",
      "T10:11:12", "10:11:12", "2024-01-02T10", "2024-01-02 10:11",
      // special values cast must NOT accept (typed-literal-only in Spark)
      "now", "today", "yesterday", "tomorrow", "epoch", "NOW", " now ",
      // overflow years + junk
      "294247-01-10", "99999-12-31", "+294247-01-10", "1e3", "abc", "",
      " ", "null", "∞", null)
    val types: Seq[(String, DataType)] = Seq(
      "date" -> DateType, "timestamp" -> TimestampType,
      "timestamp_ntz" -> TimestampNTZType)
    val tmp = java.nio.file.Files.createTempDirectory("trycast_temporal")
    val path = tmp.resolve("in.parquet").toString
    inputs.zipWithIndex.map { case (v, i) => (i, v) }.toDF("i", "s")
      .write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    // the non-adoption is itself asserted: the TRY cast must SURVIVE
    // the optimizer untouched (this flips if someone adopts the rewrite
    // without re-running the tax measurement)
    val batteryPlan = df.selectExpr("try_cast(s AS date) AS v")
      .queryExecution.executedPlan.toString
    assert(batteryPlan.toLowerCase.contains("try_cast"),
      s"temporal try_cast was rewritten — repeat the rule on/off tax A/B " +
        s"of OPTIMIZATION_r17.md §4 before adopting:\n$batteryPlan")
    types.foreach { case (sqlType, dt) =>
      val conv = CatalystTypeConverters.createToScalaConverter(dt)
      // the engine path: TRY casts through scan + codegen
      val got = df.selectExpr("i", s"try_cast(s AS $sqlType) AS v")
        .collect().map(r => r.get(0).asInstanceOf[Int] -> r.get(1)).toMap
      inputs.zipWithIndex.foreach { case (in, i) =>
        val lit = Literal(if (in == null) null else UTF8String.fromString(in),
          StringType)
        val tryTruth = conv(Cast(lit, dt, Some("UTC"), EvalMode.TRY).eval(null))
        val legacyTruth =
          conv(Cast(lit, dt, Some("UTC"), EvalMode.LEGACY).eval(null))
        // the licensing fact: TRY ≡ LEGACY for every adversarial input
        assert((tryTruth == null && legacyTruth == null) ||
          (tryTruth != null && tryTruth == legacyTruth),
          s"cast($in AS $sqlType): TRY $tryTruth != LEGACY $legacyTruth")
        // and the engine path agrees with both
        assert((got(i) == null && tryTruth == null) ||
          (got(i) != null && got(i) == tryTruth),
          s"try_cast($in AS $sqlType): engine ${got(i)} != truth $tryTruth")
      }
    }
  }
}
