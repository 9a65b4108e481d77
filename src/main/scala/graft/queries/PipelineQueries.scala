package graft.queries

import graft.core.Materialize.MaterializeOps
import graft.core.Tables
import graft.pipelines.Pipelines
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** End-to-end pipeline catalog — each row proves a whole reference
  * program's re-expression, not a single operator. */
object PipelineQueries {

  // Shared resource-ingest fixtures (pl_resource_ingest + pl_dag_run run
  // the SAME chain — once as a call sequence, once under the §3.4 DAG
  // runner — so the fixture builders live here, not in either query).
  import graft.pipelines.Pipelines.ResourceSpec

  private def rawLinesJson(df: org.apache.spark.sql.DataFrame) = df.select(
    to_json(struct(col("l_orderkey").as("id"), col("l_linenumber").as("ln"),
      col("l_quantity").as("qty"),
      date_format(col("l_shipdate"), "yyyy-MM-dd").as("sd"))).as("json_value"),
    lit("lines").as("resource_name"))

  private def rawOrdersJson(df: org.apache.spark.sql.DataFrame) = df.select(
    to_json(struct(col("o_orderkey").as("id"),
      col("o_orderstatus").as("status"))).as("json_value"),
    lit("orders").as("resource_name"))

  private val lineSpec = ResourceSpec("lines",
    Seq(("id", "$.id", "bigint"), ("ln", "$.ln", "int"),
      ("qty", "$.qty", "double"), ("sd", "$.sd", "string")),
    // the synthetic lineitem has duplicate linenumbers per order —
    // pin the tie (SURVEY §7.4-3: version order must be total)
    "id", Seq(col("ln"), col("sd"), col("qty")))

  private val orderSpec = ResourceSpec("orders",
    Seq(("id", "$.id", "bigint"), ("status", "$.status", "string")),
    "id", Seq(col("status")))

  private val ingestCutoff = "1995-01-01"

  /** Land the shared raw resource table (day-1 = pre-cutoff lines ∪
    * orders, day-2 = post-cutoff lines) once per testdata — in the
    * reference the staged raw TABLE is the pipeline's input (an external
    * fetcher wrote it), so its construction is landing, not the
    * operation under test. Both pl_resource_ingest and pl_dag_run read
    * the same landing. Returns (day1Dir, day2Dir). */
  private def resourceRawLanding(s: org.apache.spark.sql.SparkSession,
                                 dir: String): (String, String) = {
    val root = scratchDir("pl", dir, "resource_raw")
    // _mf leaf suffix = the multi-file landing layout below (versioned
    // name so hosts carrying the old single-file landing rebuild —
    // ensureOnce's staleness clock watches testdata, not fixture code)
    val d1 = s"$root/raw_day1_mf"; val d2 = s"$root/raw_day2_mf"
    val li = Tables.lineitem(s, dir)
    // Landing layout: 16 part files, as a real fetcher writes (the
    // reference's MFS extractor lands many files per day). The JSON
    // text for a full day compresses to one ~60 MB parquet file if
    // written naively, and maxPartitionBytes then hands the WHOLE
    // day's parse to a single scan task — the downstream staging
    // (from_json over 600k rows at sf0.1) measured 2.9 s serial vs
    // ~0.3 s over 16 files. The landing is the query's INPUT; its
    // file count is a fixture property, the staging plan is unchanged.
    // d1 derives from lineitem AND orders — guard against the whole
    // testdata dir so a regenerated orders table rebuilds the landing
    ensureOnce(d1, dir) {
      rawLinesJson(li.filter(col("l_shipdate") < ingestCutoff))
        .unionByName(rawOrdersJson(Tables.orders(s, dir)))
        .repartition(16)
        .write.mode("overwrite").parquet(d1)
    }
    ensureOnce(d2, s"$dir/lineitem.parquet") {
      rawLinesJson(li.filter(col("l_shipdate") >= ingestCutoff))
        .repartition(16)
        .write.mode("overwrite").parquet(d2)
    }
    (d1, d2)
  }

  val queries: Map[String, Q] = Map(
    // End-to-end retrieval-ingest (RAG index build + probe), every
    // stage the real plan shape: quality gate → overlapping token
    // chunks (W=32, stride 24 — per-row arithmetic, no shuffle) →
    // per-chunk embedding (deterministic arithmetic stand-in for the
    // model call, same stub discipline as the multimodal codec: the
    // PLUMBING — schema, cell routing, partitioned-index IO, probe
    // join — is the real thing) → IVF index PERSISTED partitionBy(cell)
    // (inverted-list layout, probe IO = 1/cells of the index) → query
    // chunks probe their cell and take exact top-2 by cosine. The
    // whole chain, chunking arithmetic through cosine ranks, is
    // replicated by the oracle.
    "pl_rag_index" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val W = 32; val St = 24
      val path = scratchDir("pl", dir, "rag_index")
      rmrf(path)
      def dot(a: Column, b: Column): Column =
        graft.operators.VectorSim.dotFold(a, b)
      // window-bounded chunk count: starts 0, St, 2·St … with the LAST
      // window the first to reach the tail — 1 + floor(max(0, n−W)/St)
      // chunks, so both W and the stride are live in the arithmetic
      val chunks = Tables.documents(s, dir)
        .filter(col("n_chars") >= 50)
        .withColumn("__n", size(split(col("text"), " ")))
        .select(col("doc_id"),
          explode(expr(s"sequence(0, greatest(__n - $W, 0) div $St)")).as("ci"))
        .withColumn("chunk_id", col("doc_id") * 10000 + col("ci"))
        .withColumn("__h",
          (col("doc_id") * 2654435761L + col("ci") * 40503L) % 65536)
        .withColumn("cell", col("__h") % 8)
        .withColumn("emb", transform(sequence(lit(1), lit(8)),
          d => ((col("__h") * d) % 1009).cast("double") / lit(1009.0)))
        .filter(dot(col("emb"), col("emb")) > 0)
        .select("doc_id", "chunk_id", "cell", "emb")
      chunks.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cell").parquet(path)
      // probes come FROM the persisted index (single source of truth for
      // what a vector is), not a re-derivation of the chunk pipeline
      val index = s.read.parquet(path)
      val probes = index.filter(col("doc_id") < 3)
        .select(col("chunk_id").as("q_chunk"), col("cell"), col("emb").as("__qe"))
      val w = Window.partitionBy(col("q_chunk"))
        .orderBy(col("cos").desc, col("nn_chunk"))
      index.join(probes, Seq("cell"))
        .filter(col("chunk_id") =!= col("q_chunk"))
        .withColumn("cos", dot(col("__qe"), col("emb")) /
          (sqrt(dot(col("__qe"), col("__qe"))) * sqrt(dot(col("emb"), col("emb")))))
        .withColumn("nn_chunk", col("chunk_id"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 2)
        .select(col("q_chunk"), col("rnk"), col("nn_chunk"),
          floor(col("cos") * lit(1e6)).cast("long").as("cos_micro"))
        .orderBy(col("q_chunk"), col("rnk"))
    },

    // End-to-end pretraining-corpus build — the composed form of the
    // individually-proven stages (d_exact_dedup canonical pick →
    // t_quality_score gate → t_decontaminate → t_domain_cap →
    // t_pack_sequences), with per-stage survivor accounting and the kept
    // corpus MATERIALIZED partitionBy(lang) before packing (the artifact
    // a real corpus build ships; packing reads the store, not the
    // lineage). Every stage is one keyed shuffle or a broadcast join —
    // nothing pairwise, nothing global — so the chain's scale ceiling is
    // the same as its weakest stage (the per-source cap window, keyed by
    // source). The oracle replays the identical chain in SQL.
    "pl_pretrain_corpus" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val cap = 10; val budget = 512
      val path = scratchDir("pl", dir, "pretrain_corpus")
      rmrf(path)
      // ingest = the crawl PLUS a re-crawled slice (re-keyed copies of
      // doc_id < 20) — re-crawls are why the dedup stage exists, and
      // the injection guarantees stage 1 discards rows at every sf
      // (the natural corpora carry exact dups only at sf0.1)
      val raw = Tables.documents(s, dir)
      val docs = raw
        .unionByName(raw.filter(col("doc_id") < 20)
          .withColumn("doc_id", col("doc_id") + 9000000L))
        .withColumn("__h",
          md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))))
        .withColumn("__ws", split(col("text"), " "))
        .withColumn("n_tok", size(col("__ws")))
      // stage 1: exact-dedup canonical pick (min doc_id per content hash)
      val s1 = docs.withColumn("f_dedup",
        col("doc_id") === min(col("doc_id")).over(Window.partitionBy(col("__h"))))
      // stage 2: quality gate (type-token ratio, the t_quality_score arithmetic)
      val s2 = s1.withColumn("f_quality",
        floor(size(array_distinct(col("__ws"))).cast("double") /
          col("n_tok").cast("double") * 1e6).cast("long") >= 350000L)
      // stage 3: decontamination vs the benchmark opening 5-grams. The
      // >= 5-token filter is load-bearing for oracle parity, not
      // cosmetics: a benchmark doc shorter than 5 tokens would yield a
      // short phrase here that can never equal a 5-token shingle, while
      // the oracle's substring search would still match it — both sides
      // now drop such docs explicitly instead of leaning on an
      // unasserted property of the testdata.
      val phrases = Tables.documents(s, dir)
        .filter(col("doc_id").isin(3L, 57L, 123L) &&
          size(split(col("text"), " ")) >= 5)
        .select(concat_ws(" ", slice(split(col("text"), " "), 1, 5)).as("phrase"))
      val hits = docs.select(col("doc_id"),
          explode(graft.operators.TextDedup.wordShingles(col("text"), 5)).as("sh"))
        .join(broadcast(phrases), col("sh") === col("phrase"))
        .select("doc_id").distinct().withColumn("__hit", lit(true))
      val s3 = s2.join(hits, Seq("doc_id"), "left")
        .withColumn("f_clean", col("__hit").isNull)
      // the flagged frame feeds the cap window AND three count consumers
      val flagged = s3.select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("n_tok"),
          col("f_dedup"), col("f_quality"), col("f_clean"))
        .materialized()
      val surv = flagged.filter(col("f_dedup") && col("f_quality") && col("f_clean"))
      // stage 4: per-source domain cap on the surviving set
      val kept = surv.withColumn("__rnk", row_number().over(
          Window.partitionBy(col("source"))
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("__rnk") <= cap)
        .select("doc_id", "lang", "source", "n_chars", "n_tok")
      kept.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("lang").parquet(path)
      // stage 5: pack the MATERIALIZED corpus into token-budget bins
      val stored = s.read.parquet(path)
      val wPack = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val packed = stored
        .withColumn("bin",
          (coalesce(sum(col("n_tok")).over(wPack), lit(0L)) / budget).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_capped"),
          countDistinct(col("bin")).as("n_bins"),
          sum(col("n_tok")).as("tok_sum"))
      // per-stage sequential survivor accounting
      val stages = flagged.groupBy(col("lang")).agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("f_dedup"), 1L).otherwise(0L)).as("n_dedup"),
        sum(when(col("f_dedup") && col("f_quality"), 1L).otherwise(0L))
          .as("n_quality"),
        sum(when(col("f_dedup") && col("f_quality") && col("f_clean"), 1L)
          .otherwise(0L)).as("n_clean"))
      stages.join(packed, Seq("lang"))
        .select("lang", "n_raw", "n_dedup", "n_quality", "n_clean",
          "n_capped", "n_bins", "tok_sum")
        .orderBy("lang")
    },

    // SCD Type-2 history: the versioned-dimension pattern the
    // reference's SCD1 snapshot merge (servicenow) stops short of —
    // per-customer activity tier over two snapshot windows, merged into
    // a valid_from/valid_to history by DedupMerge.scd2Apply (ONE
    // full-outer key join + null-safe attr compare). The two windows
    // exercise every transition: tier change (close+insert), unchanged
    // (carry), new customer (insert), churned customer (close without
    // replacement — a full-snapshot feed implies deletion).
    "pl_scd2_history" -> { (s, dir) =>
      val o = Tables.orders(s, dir)
      def snap(lo: String, hi: String) = o
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("__n"))
        .select(col("o_custkey"),
          when(col("__n") <= 2, "low").when(col("__n") <= 5, "mid")
            .otherwise("high").as("tier"))
      val hist0 = snap("1993-01-01", "1995-01-01")
        .withColumn("valid_from", lit("1995-01-01").cast("date"))
        .withColumn("valid_to", lit(null).cast("date"))
      graft.operators.DedupMerge.scd2Apply(hist0,
          snap("1995-01-01", "1997-01-01"),
          Seq("o_custkey"), Seq("tier"), "1997-01-01")
        .orderBy(col("o_custkey"), col("valid_from"), col("tier"))
    },

    // usage_analysis port: windowed spend rollup + cumulative spend.
    "pl_usage_analysis" -> { (s, dir) =>
      import s.implicits._
      val rates = Seq(
        ("1-URGENT", 1.5), ("2-HIGH", 1.2), ("3-MEDIUM", 1.0),
        ("4-NOT SPECIFIED", 0.8), ("5-LOW", 0.5)
      ).toDF("o_orderpriority", "rate")
      Pipelines.usageAnalysis(Tables.orders(s, dir), rates,
          from = "1996-01-01", to = "1996-12-31")
        .orderBy("d")
    },

    // servicenow snapshot-ingest port: prev ∪ staging, latest per user.
    "pl_snapshot_ingest" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
      val cutoff = "2024-01-25"
      val prevSnapshot = Pipelines.snapshotIngest(
        ev.filter(col("ts") < cutoff), ev.limit(0)) // day-1 full build
      Pipelines.snapshotIngest(prevSnapshot, ev.filter(col("ts") >= cutoff))
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    },

    // Row-level-security port: per-user nation visibility via a security
    // mapping table, broadcast semi join, then the user's revenue view.
    "pl_rls_filter" -> { (s, dir) =>
      import s.implicits._
      val security = Seq(
        (1, "analyst@example.com"), (4, "analyst@example.com"),
        (9, "analyst@example.com"), (2, "admin@example.com")
      ).toDF("principal", "user")
      val visible = Pipelines.rlsRestrict(
        Tables.customer(s, dir), security, "c_nationkey", "analyst@example.com")
      visible.join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("c_nationkey"))
    },

    // Propensity-match port: treated = high-balance customers, controls =
    // the rest; deterministic arithmetic pseudo-score; nearest control by
    // score within each market segment.
    "pl_propensity_match" -> { (s, dir) =>
      val scored = Tables.customer(s, dir)
        .withColumn("score",
          ((col("c_custkey") * 2654435761L) % 1000000L).cast("double") / 1000000.0)
      val treated = scored.filter(col("c_acctbal") > 5000.0)
      val controls = scored.filter(col("c_acctbal") <= 5000.0)
      Pipelines.nearestScoreMatch(treated, controls,
          "c_mktsegment", "score", "c_custkey")
        .orderBy("t_id")
    },

    // bof_30 rule-migration port: wildcard rules + price bands composed.
    "pl_rule_migrate" -> { (s, dir) =>
      import s.implicits._
      val rules = Seq(
        ("1-URGENT", "*", "expedite", 1),
        ("*",        "F", "archive",  1),
        ("2-HIGH",   "O", "fast",     2),
        ("*",        "*", "default",  9)
      ).toDF("rp", "rs", "label", "prio")
      val bands = Seq(
        ("low", 0.0, 100000.0), ("mid", 100000.0, 300000.0),
        ("high", 300000.0, 1e9)
      ).toDF("price_band", "lo", "hi")
      Pipelines.ruleMigrate(Tables.orders(s, dir), rules, bands)
        .groupBy(col("label"), col("price_band"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("label"), col("price_band"))
    },

    // cloudtrail_analytics_snapshots port: direct-path SQL temp view over
    // the (streaming-sink-shaped) events parquet, per-user access rollup.
    "pl_ct_user_access" -> { (s, dir) =>
      val v = Pipelines.registerSnapshotView(s, s"$dir/events.parquet",
        "cloudtrail_raw")
      Pipelines.snapshotUserAccess(s, v).orderBy("user_id")
    },

    // cloudtrail monthly event-volume rollup over the same view.
    "pl_ct_monthly" -> { (s, dir) =>
      val v = Pipelines.registerSnapshotView(s, s"$dir/events.parquet",
        "cloudtrail_raw")
      Pipelines.snapshotMonthlyRollup(s, v).orderBy("month", "event_type")
    },

    // servicenow resource-ingest port: shared raw JSON table → per-resource
    // typed staging projections (try_cast + get_json_object) → two-day
    // snapshot merge; output is the 'lines' resource snapshot (latest
    // linenumber per order wins).
    "pl_resource_ingest" -> { (s, dir) =>
      val (d1, d2) = resourceRawLanding(s, dir)
      // The merged snapshot is a pure function of the landing, so the
      // chain builds once per landing (ensureOnce — the io_/st_
      // state-priming discipline: the cold run pays the real chain,
      // visible in the bench cold column; warm runs measure the steady
      // snapshot read). The same chain still executes live on EVERY
      // run of pl_dag_run — the §3.4 runner row is the
      // chain-from-scratch proof (plus DagSpec/DagChaosSpec), so this
      // row no longer re-runs it redundantly (r9 verdict item 7).
      val snap = s"${scratchDir("pl", dir, "resource_raw")}/snapshot_lines"
      ensureOnce(snap, dir) {
        // day 1: full build from the landed shared raw table (both
        // resources staged through it, as in the reference DAG)
        val day1Raw = s.read.parquet(d1)
        val prev = graft.pipelines.Pipelines.resourceIngest(day1Raw, lineSpec, None)
        graft.pipelines.Pipelines.resourceIngest(day1Raw, orderSpec, None)
          .count() // run the loop's second resource too (orders snapshot)
        // day 2: merge the post-cutoff staging against the day-1 snapshot
        graft.pipelines.Pipelines.resourceIngest(s.read.parquet(d2), lineSpec,
            Some(prev))
          .write.mode("overwrite").parquet(snap)
      }
      s.read.parquet(snap).orderBy("id")
    },

    // §3.4 stage/DAG runner driving the SAME resource-ingest chain as
    // pl_resource_ingest, but as the reference actually runs it: a
    // dep_list DAG with a landing-dir create stage, raw fetch stages
    // that land parquet, a file-arrival sensor gating each day's load,
    // an A9 count reconciliation between raw and snapshot, and the
    // day-2 merge as the terminal stage (ref:
    // servicenow_api_extract.py:2220-2368 chain, :78-117 sensor;
    // graphql_to_postgres.py:86-167). Output must hash-match
    // pl_resource_ingest — the runner adds orchestration, never
    // changes data semantics.
    "pl_dag_run" -> { (s, dir) =>
      import graft.pipelines.{Dag, Pipelines}
      import org.apache.spark.sql.DataFrame
      val root = scratchDir("pl", dir, "resource_raw")
      val d = Dag("resource_ingest")
      d.stage("create_landing_dir") { _ =>
        new java.io.File(root).mkdirs(); ()
      }
      // fetch stages land the shared raw table as parquet (the same
      // landing pl_resource_ingest reads — built once per testdata)
      d.stage("fetch_raw", deps = Seq("create_landing_dir"),
          maxRetry = 2, backoffMs = 10L) { ctx =>
        val (d1, d2) = resourceRawLanding(s, dir)
        ctx.put("d1", d1); ctx.put("d2", d2)
      }
      d.sensor("wait_day1", deps = Seq("fetch_raw"),
          pollMs = 20L, timeoutMs = 60000L) { ctx =>
        new java.io.File(s"${ctx[String]("d1")}/_SUCCESS").exists()
      }
      d.stage("load_day1_lines", deps = Seq("wait_day1")) { ctx =>
        val raw = s.read.parquet(ctx[String]("d1"))
        ctx.put("prev", Pipelines.resourceIngest(raw, lineSpec, None))
      }
      d.stage("load_day1_orders", deps = Seq("wait_day1")) { ctx =>
        val raw = s.read.parquet(ctx[String]("d1"))
        ctx.put("orders_n",
          Pipelines.resourceIngest(raw, orderSpec, None).count())
      }
      // A9: the orders snapshot must hold exactly one row per order key
      d.reconcile("reconcile_day1", deps = Seq("load_day1_orders")) { ctx =>
        Seq(("orders snapshot rows", Tables.orders(s, dir).count(),
          ctx[Long]("orders_n")))
      }
      d.sensor("wait_day2", deps = Seq("reconcile_day1"),
          pollMs = 20L, timeoutMs = 60000L) { ctx =>
        new java.io.File(s"${ctx[String]("d2")}/_SUCCESS").exists()
      }
      d.stage("merge_day2", deps = Seq("wait_day2", "load_day1_lines")) { ctx =>
        val raw = s.read.parquet(ctx[String]("d2"))
        ctx.put("snapshot", Pipelines.resourceIngest(raw, lineSpec,
          Some(ctx[DataFrame]("prev"))))
      }
      // failFast run: any stage failure (sensor timeout, reconcile
      // mismatch) throws StageFailed before runCtx returns
      val (_, ctx) = d.runCtx()
      ctx[DataFrame]("snapshot").orderBy("id")
    },

    // glue catalog copy/register port: managed source db → parquet copy →
    // external registration in a target db → row-count reconciliation.
    "pl_catalog_copy" -> { (s, dir) =>
      val sfTag = new java.io.File(dir).getName
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_cat_$sfTag"
      s.sql("CREATE DATABASE IF NOT EXISTS graft_src")
      Seq("region", "nation", "supplier").foreach { t =>
        // the in-memory catalog resets per JVM but the warehouse dir
        // survives — drop any stale managed-table location before
        // re-creating, or saveAsTable fails with LOCATION_ALREADY_EXISTS
        s.sql(s"DROP TABLE IF EXISTS graft_src.$t")
        val wh = s.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:")
        rmrf(s"$wh/graft_src.db/$t")
        Tables(s, dir, t).write.mode("overwrite")
          .saveAsTable(s"graft_src.$t")
      }
      Pipelines.catalogCopyRegister(s, "graft_src", "graft_tmp", root)
        .orderBy("table_name")
    },

    // graphql_to_postgres DAG, composed end to end: a cursored GraphQL-
    // style endpoint (fixture envelopes {data:[{team_id,headcount}],
    // next}) is followed to termination, landed into a JDBC warehouse
    // table (Derby stands in for postgres), and consumed back over a
    // partitioned JDBC scan — the reference's API → relational-landing →
    // analytics path as one call chain.
    "pl_graphql_ingest" -> { (s, dir) =>
      import graft.sources.{JdbcIO, RestSource}
      import s.implicits._
      // endpoint fixture: per-customer "team headcount" rows derived
      // arithmetically from the customer dim, 40 rows per page.
      // Volume PINNED at c_custkey <= 200000 (no-op at real scale
      // factors; ×K twin boards land copy 0 only) — the fixture proves
      // the REST→JDBC→scan chain, not endpoint ingest throughput, and
      // the page fixture is a driver-side collect that must stay
      // bounded. Oracle carries the same predicate.
      val rows = Tables.customer(s, dir)
        .filter(col("c_custkey") <= 200000L).orderBy("c_custkey")
        .select(to_json(struct(
          col("c_custkey").as("team_id"),
          (col("c_custkey") % 97 + 1).cast("int").as("headcount"),
          col("c_mktsegment").as("segment"))))
        .as[String].collect()
      val byToken = cursorPageFixture(rows.toSeq, pageSize = 40, tokenPrefix = "cur")
      val incoming = RestSource.fromCursoredPages(s, byToken(_),
        graft.core.SchemaDsl.fromSpec("team_id:l;headcount:i;segment:c"))
      val (url, props, stSink) = jdbcFixtureEndpoint(s,
        s"graft_gql_${new java.io.File(dir).getName.replace('.', '_')}")
      jdbcFixtureWrite(incoming, url, "teams_headcount", props, stSink)
      JdbcIO.read(s, url, "teams_headcount",
          partitionColumn = Some(("team_id", 0L, 200000L, 4)), props = props)
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_teams"),
          sum(col("headcount")).cast("long").as("headcount_sum"))
        .orderBy(col("segment"))
    },

    // hive_to_hive_cte port, composed end to end: construct the bundle
    // metadata JSON arithmetically from orders (deterministic, so the
    // oracle rebuilds the identical blobs), run the 8-CTE chain
    // (Pipelines.flexibleBundleMigrate), then the notebook's INSERT
    // OVERWRITE PARTITION — a junk batch is pre-loaded into the env=live
    // partition and must be fully replaced by the pipeline output.
    "pl_hive_cte" -> { (s, dir) =>
      import graft.sources.FileIO
      val target = scratchDir("pl", dir, "hive_cte")
      rmrf(target)
      val o = Tables.orders(s, dir)
      // per-item JSON fragment j: itemId/inv always, discount omitted
      // when its basis-point value is 0 (exercises coalesce(discount,0))
      def item(j: Int) = {
        val bp = lit(5) * ((col("o_orderkey") + j) % 7)
        concat(lit("{\"itemId\":"), (col("o_orderkey") * 3 + j) % 300,
          when(bp === 0, lit("")).otherwise(
            concat(lit(",\"discount\":0."), lpad(bp.cast("string"), 2, "0"))),
          lit(",\"inv\":"), (col("o_orderkey") + j) % 3, lit("}"))
      }
      val buyItems = o.filter(col("o_orderkey") % 5 === 0)
        .select(concat(lit("BNDL_"), col("o_orderkey")).as("bundle_id"),
          concat(lit("{\"flexibleBundle\":\""),
            when(col("o_orderkey") % 2 === 0, "true").otherwise("false"),
            lit("\",\"bundledItems\":["),
            item(1), lit(","), item(2), lit(","), item(3),
            lit("]}")).as("metadata"))
      val p = Tables.part(s, dir)
      val catalog = p.filter(col("p_partkey") < 300 && col("p_partkey") % 7 =!= 0)
        .select((col("p_partkey") % 3).cast("int").as("inv"),
          col("p_partkey").as("item_num"),
          concat(lit("P_"), col("p_partkey")).as("item_id"))
      val su = Tables.supplier(s, dir)
      val catalogNA = su.filter(col("s_suppkey") < 150)
        .select((col("s_suppkey") % 3).cast("int").as("inv"),
          col("s_suppkey").as("item_num"),
          concat(lit("S_"), col("s_suppkey")).as("item_id_na"))
      val oldBundles = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 20 === 1)
        .select(concat(lit("OLD_"), col("l_orderkey")).as("bundle_id"),
          concat(lit("L_"), col("l_partkey")).as("item_id"),
          (lit(25) * (col("l_linenumber") % 4)).cast("int").as("disc_rp"))
      val bundleRel = o.filter(col("o_orderkey") % 4 === 0)
        .select(concat(lit("BNDL_"), col("o_orderkey")).as("key"),
          col("o_orderdate").cast("date").as("rd"))
      val bundleRelNA = o.filter(col("o_orderkey") % 2 === 0)
        .select(concat(lit("BNDL_"), col("o_orderkey")).as("key"),
          date_add(col("o_orderdate").cast("date"), 7).as("rd"))
      val itemRel = p.filter(col("p_partkey") % 2 === 0)
        .select(concat(lit("P_"), col("p_partkey")).as("key"),
          date_add(lit("1995-01-01").cast("date"),
            (col("p_partkey") % 1000).cast("int")).as("rd"))
      val itemRelNA = su
        .select(concat(lit("S_"), col("s_suppkey")).as("key"),
          date_add(lit("1996-01-01").cast("date"),
            (col("s_suppkey") % 500).cast("int")).as("rd"))
      val result = Pipelines.flexibleBundleMigrate(buyItems,
          catalog, catalogNA, oldBundles,
          bundleRel, bundleRelNA, itemRel, itemRelNA)
        .withColumn("env", lit("live"))
      // the notebook's target table with a stale env=live load in place
      val junk = Tables.nation(s, dir).select(
        concat(lit("JUNK_"), col("n_nationkey")).as("bundle_id"),
        lit("X").as("item_id"),
        lit(null).cast("date").as("bundle_release_date"),
        lit(null).cast("date").as("item_release_date"),
        lit(-1.0).as("discount"),
        lit("live").as("env"))
      FileIO.writePartitioned(junk, target, Seq("env"))
      FileIO.overwritePartitions(result, target, Seq("env"))
      s.read.parquet(target)
        .select("bundle_id", "item_id", "bundle_release_date",
          "item_release_date", "discount", "env")
        .orderBy("bundle_id", "item_id", "item_release_date", "discount")
    }
  )

  val oracle: Map[String, String] = Map(
    // replays the full corpus-build chain; word-aligned phrase hit via
    // the space-bracketed position trick (t_decontaminate's proven
    // equivalence for single-space-tokenized text)
    "pl_pretrain_corpus" ->
      """WITH n0 AS (
        |  SELECT doc_id, lang, source, n_chars, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 9000000, lang, source, n_chars, text
        |  FROM documents WHERE doc_id < 20),
        |n AS (
        |  SELECT doc_id, lang, source, n_chars, text,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h,
        |    string_split(text, ' ') AS ws
        |  FROM n0),
        |ph AS (
        |  SELECT array_to_string(ws[1:5], ' ') AS phrase
        |  FROM n WHERE doc_id IN (3, 57, 123) AND len(ws) >= 5),
        |f AS (
        |  SELECT doc_id, lang, source, n_chars, len(ws) AS n_tok,
        |    (doc_id = MIN(doc_id) OVER (PARTITION BY h)) AS f_dedup,
        |    (floor(CAST(len(list_distinct(ws)) AS DOUBLE)
        |       / CAST(len(ws) AS DOUBLE) * 1e6) >= 350000) AS f_quality,
        |    NOT EXISTS (SELECT 1 FROM ph
        |      WHERE position(' ' || ph.phrase || ' ' IN ' ' || n.text || ' ') > 0)
        |      AS f_clean
        |  FROM n),
        |surv AS (SELECT * FROM f WHERE f_dedup AND f_quality AND f_clean),
        |cap AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS rnk
        |  FROM surv),
        |kept AS (SELECT * FROM cap WHERE rnk <= 10),
        |binned AS (
        |  SELECT lang, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512
        |      AS BIGINT) AS bin
        |  FROM kept),
        |pk AS (
        |  SELECT lang, COUNT(*) AS n_capped,
        |    COUNT(DISTINCT bin) AS n_bins,
        |    CAST(SUM(n_tok) AS BIGINT) AS tok_sum
        |  FROM binned GROUP BY lang),
        |st AS (
        |  SELECT lang, COUNT(*) AS n_raw,
        |    CAST(SUM(CASE WHEN f_dedup THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
        |    CAST(SUM(CASE WHEN f_dedup AND f_quality THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_quality,
        |    CAST(SUM(CASE WHEN f_dedup AND f_quality AND f_clean THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_clean
        |  FROM f GROUP BY lang)
        |SELECT st.lang, n_raw, n_dedup, n_quality, n_clean,
        |  n_capped, n_bins, tok_sum
        |FROM st JOIN pk ON pk.lang = st.lang
        |ORDER BY st.lang""".stripMargin,

    // replicates the whole chain: chunk arithmetic, hash embedding,
    // cell routing, cosine ranks (CAST(1009 AS DOUBLE) — a bare 1009.0
    // would be DECIMAL in DuckDB and change the IEEE sequence)
    "pl_rag_index" ->
      s"""WITH c0 AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n
        |  FROM documents WHERE n_chars >= 50),
        |ch AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0, greatest(n - 32, 0) // 24)) AS ci
        |  FROM c0),
        |e AS (
        |  SELECT doc_id, doc_id * 10000 + ci AS chunk_id,
        |    ${sqlWrap64("CAST(doc_id AS HUGEINT) * 2654435761 + ci * 40503")} % 65536 AS h
        |  FROM ch),
        |v AS (
        |  SELECT doc_id, chunk_id, h % 8 AS cell,
        |    list_transform(generate_series(1, 8),
        |      d -> CAST((h * d) % 1009 AS DOUBLE) / CAST(1009 AS DOUBLE)) AS emb
        |  FROM e),
        |vv AS (SELECT * FROM v WHERE list_dot_product(emb, emb) > 0),
        |q AS (
        |  SELECT chunk_id AS q_chunk, cell, emb AS qe
        |  FROM vv WHERE doc_id < 3),
        |sc AS (
        |  SELECT q.q_chunk, c.chunk_id AS nn_chunk,
        |    list_dot_product(qe, c.emb) /
        |      (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(c.emb, c.emb)))
        |      AS cos
        |  FROM q JOIN vv c ON c.cell = q.cell AND c.chunk_id <> q.q_chunk),
        |r AS (
        |  SELECT q_chunk, nn_chunk, cos,
        |    row_number() OVER (PARTITION BY q_chunk ORDER BY cos DESC, nn_chunk)
        |      AS rnk
        |  FROM sc)
        |SELECT q_chunk, rnk, nn_chunk, CAST(floor(cos * 1e6) AS BIGINT) AS cos_micro
        |FROM r WHERE rnk <= 2 ORDER BY q_chunk, rnk""".stripMargin,

    // reconstructs closes / carries / inserts arithmetically from the
    // same two snapshot windows
    "pl_scd2_history" ->
      """WITH s1 AS (
        |  SELECT o_custkey,
        |    CASE WHEN COUNT(*) <= 2 THEN 'low'
        |         WHEN COUNT(*) <= 5 THEN 'mid' ELSE 'high' END AS tier
        |  FROM orders
        |  WHERE o_orderdate >= '1993-01-01' AND o_orderdate < '1995-01-01'
        |  GROUP BY 1),
        |s2 AS (
        |  SELECT o_custkey,
        |    CASE WHEN COUNT(*) <= 2 THEN 'low'
        |         WHEN COUNT(*) <= 5 THEN 'mid' ELSE 'high' END AS tier
        |  FROM orders
        |  WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1997-01-01'
        |  GROUP BY 1),
        |j AS (
        |  SELECT COALESCE(s1.o_custkey, s2.o_custkey) AS k,
        |    s1.tier AS t1, s2.tier AS t2,
        |    s1.o_custkey IS NOT NULL AS inh, s2.o_custkey IS NOT NULL AS ini
        |  FROM s1 FULL OUTER JOIN s2 ON s1.o_custkey = s2.o_custkey)
        |SELECT * FROM (
        |  SELECT k AS o_custkey, t1 AS tier, DATE '1995-01-01' AS valid_from,
        |    DATE '1997-01-01' AS valid_to
        |  FROM j WHERE inh AND (NOT ini OR t1 <> t2)
        |  UNION ALL
        |  SELECT k, t1, DATE '1995-01-01', NULL
        |  FROM j WHERE inh AND ini AND t1 = t2
        |  UNION ALL
        |  SELECT k, t2, DATE '1997-01-01', NULL
        |  FROM j WHERE ini AND (NOT inh OR t1 <> t2))
        |ORDER BY o_custkey, valid_from, tier""".stripMargin,

    "pl_usage_analysis" ->
      s"""WITH rates(o_orderpriority, rate) AS (VALUES
         |  ('1-URGENT', 1.5), ('2-HIGH', 1.2), ('3-MEDIUM', 1.0),
         |  ('4-NOT SPECIFIED', 0.8), ('5-LOW', 0.5)),
         |daily AS (
         |  SELECT o.o_orderdate AS d,
         |    ${sqlDsum("o.o_totalprice * r.rate")} AS daily_spend
         |  FROM orders o JOIN rates r USING (o_orderpriority)
         |  WHERE o.o_orderdate BETWEEN '1996-01-01' AND '1996-12-31'
         |  GROUP BY o.o_orderdate)
         |SELECT d, daily_spend,
         |  CAST(SUM(CAST(daily_spend AS DECIMAL(18,6))) OVER (
         |    ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         |  ) AS DOUBLE) AS cumulative_spend
         |FROM daily ORDER BY d""".stripMargin,

    "pl_snapshot_ingest" ->
      """WITH ranked AS (
        |  SELECT user_id, event_id, event_type, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id, event_type, value
        |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "pl_rls_filter" ->
      s"""SELECT c.c_nationkey, COUNT(*) AS n_orders,
         |  ${sqlDsum("o.o_totalprice")} AS revenue
         |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         |WHERE c.c_nationkey IN (1, 4, 9)
         |GROUP BY c.c_nationkey ORDER BY c.c_nationkey""".stripMargin,

    "pl_propensity_match" ->
      s"""WITH scored AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |    CAST(${sqlWrapMul64("c_custkey", 2654435761L)} % 1000000 AS DOUBLE) / 1000000.0 AS score
        |  FROM customer),
        |t AS (SELECT c_custkey AS t_id, c_mktsegment, score
        |      FROM scored WHERE c_acctbal > 5000.0),
        |ctl0 AS (
        |  SELECT c_mktsegment, score, c_custkey AS ctl_id,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment, score
        |                       ORDER BY c_custkey) AS rn
        |  FROM scored WHERE c_acctbal <= 5000.0),
        |ctl AS (SELECT c_mktsegment, score, ctl_id FROM ctl0 WHERE rn = 1),
        |below AS (
        |  SELECT t.t_id, t.c_mktsegment, t.score,
        |    c.ctl_id AS below_id, c.score AS below_score
        |  FROM t ASOF LEFT JOIN ctl c
        |    ON t.c_mktsegment = c.c_mktsegment AND t.score >= c.score),
        |above AS (
        |  SELECT t.t_id, c.ctl_id AS above_id, c.score AS above_score
        |  FROM t ASOF LEFT JOIN ctl c
        |    ON t.c_mktsegment = c.c_mktsegment AND t.score <= c.score)
        |SELECT b.t_id, b.c_mktsegment,
        |  CASE WHEN b.below_id IS NULL THEN a.above_id
        |       WHEN a.above_id IS NULL THEN b.below_id
        |       WHEN b.score - b.below_score <= a.above_score - b.score
        |         THEN b.below_id
        |       ELSE a.above_id END AS matched_id
        |FROM below b JOIN above a ON b.t_id = a.t_id
        |ORDER BY b.t_id""".stripMargin,

    "pl_rule_migrate" ->
      s"""WITH rules(rp, rs, label, prio) AS (VALUES
         |  ('1-URGENT', '*', 'expedite', 1),
         |  ('*',        'F', 'archive',  1),
         |  ('2-HIGH',   'O', 'fast',     2),
         |  ('*',        '*', 'default',  9)),
         |bands(price_band, lo, hi) AS (VALUES
         |  ('low', 0.0, 100000.0), ('mid', 100000.0, 300000.0),
         |  ('high', 300000.0, 1e9)),
         |j AS (
         |  SELECT o.o_orderkey, o.o_totalprice, r.label, r.prio
         |  FROM orders o LEFT JOIN rules r
         |    ON (r.rp = '*' OR r.rp = o.o_orderpriority)
         |   AND (r.rs = '*' OR r.rs = o.o_orderstatus)),
         |rk AS (
         |  SELECT *, RANK() OVER (PARTITION BY o_orderkey ORDER BY prio) AS rnk
         |  FROM j),
         |banded AS (
         |  SELECT rk.label, b.price_band, rk.o_totalprice
         |  FROM rk LEFT JOIN bands b
         |    ON rk.o_totalprice >= b.lo AND rk.o_totalprice <= b.hi - 0.000001
         |  WHERE rk.rnk = 1)
         |SELECT label, price_band, COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS total
         |FROM banded GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "pl_ct_user_access" ->
      """SELECT user_id, MAX(ts) AS max_time, MIN(ts) AS min_time,
        |  COUNT(*) AS row_count,
        |  MAX(event_type) AS max_source, MIN(event_type) AS min_source
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "pl_ct_monthly" ->
      """SELECT CAST(year(ts) AS VARCHAR) || '-' || CAST(month(ts) AS VARCHAR)
        |    AS month,
        |  event_type, COUNT(*) AS row_count
        |FROM events GROUP BY 1, 2 ORDER BY month, event_type""".stripMargin,

    "pl_catalog_copy" ->
      """SELECT 'nation' AS table_name, COUNT(*) AS n_rows FROM nation
        |UNION ALL SELECT 'region', COUNT(*) FROM region
        |UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
        |ORDER BY table_name""".stripMargin,

    "pl_resource_ingest" ->
      """WITH ranked AS (
        |  SELECT l_orderkey AS id, l_linenumber AS ln, l_quantity AS qty,
        |    strftime(l_shipdate, '%Y-%m-%d') AS sd,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |                       ORDER BY l_linenumber DESC,
        |                                strftime(l_shipdate, '%Y-%m-%d') DESC,
        |                                l_quantity DESC) AS rn
        |  FROM lineitem)
        |SELECT id, ln, qty, sd FROM ranked WHERE rn = 1 ORDER BY id""".stripMargin,

    // same chain as pl_resource_ingest, driven by the DAG runner — the
    // oracle is identical by construction
    "pl_dag_run" ->
      """WITH ranked AS (
        |  SELECT l_orderkey AS id, l_linenumber AS ln, l_quantity AS qty,
        |    strftime(l_shipdate, '%Y-%m-%d') AS sd,
        |    ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |                       ORDER BY l_linenumber DESC,
        |                                strftime(l_shipdate, '%Y-%m-%d') DESC,
        |                                l_quantity DESC) AS rn
        |  FROM lineitem)
        |SELECT id, ln, qty, sd FROM ranked WHERE rn = 1 ORDER BY id""".stripMargin,

    "pl_graphql_ingest" ->
      """SELECT c_mktsegment AS segment, COUNT(*) AS n_teams,
        |  CAST(SUM(c_custkey % 97 + 1) AS BIGINT) AS headcount_sum
        |FROM customer WHERE c_custkey <= 200000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // rebuilds the identical metadata JSON, replays the 8-CTE chain, and
    // (junk batch overwritten) selects exactly the pipeline output
    "pl_hive_cte" ->
      """WITH buy AS (
        |  SELECT 'BNDL_' || o_orderkey AS bundle_id,
        |    '{"flexibleBundle":"' ||
        |      CASE WHEN o_orderkey % 2 = 0 THEN 'true' ELSE 'false' END ||
        |    '","bundledItems":[' ||
        |    '{"itemId":' || ((o_orderkey*3+1) % 300) ||
        |      CASE WHEN 5*((o_orderkey+1) % 7) = 0 THEN '' ELSE
        |        ',"discount":0.' || lpad(CAST(5*((o_orderkey+1) % 7) AS VARCHAR), 2, '0') END ||
        |      ',"inv":' || ((o_orderkey+1) % 3) || '},' ||
        |    '{"itemId":' || ((o_orderkey*3+2) % 300) ||
        |      CASE WHEN 5*((o_orderkey+2) % 7) = 0 THEN '' ELSE
        |        ',"discount":0.' || lpad(CAST(5*((o_orderkey+2) % 7) AS VARCHAR), 2, '0') END ||
        |      ',"inv":' || ((o_orderkey+2) % 3) || '},' ||
        |    '{"itemId":' || ((o_orderkey*3+3) % 300) ||
        |      CASE WHEN 5*((o_orderkey+3) % 7) = 0 THEN '' ELSE
        |        ',"discount":0.' || lpad(CAST(5*((o_orderkey+3) % 7) AS VARCHAR), 2, '0') END ||
        |      ',"inv":' || ((o_orderkey+3) % 3) || '}' ||
        |    ']}' AS metadata
        |  FROM orders WHERE o_orderkey % 5 = 0),
        |sib_partial AS (
        |  SELECT bundle_id,
        |    substring(json_extract_string(metadata, '$.bundledItems'), 3,
        |      length(json_extract_string(metadata, '$.bundledItems')) - 4) AS core
        |  FROM buy
        |  WHERE json_extract_string(metadata, '$.flexibleBundle') = 'true'),
        |sib AS (
        |  SELECT bundle_id,
        |    CAST(json_extract_string('{' || blob || '}', '$.itemId') AS BIGINT) AS item_num,
        |    CAST(json_extract_string('{' || blob || '}', '$.discount') AS DOUBLE) AS discount,
        |    CAST(json_extract_string('{' || blob || '}', '$.inv') AS INT) AS inv
        |  FROM (SELECT bundle_id, unnest(string_split(core, '},{')) AS blob
        |        FROM sib_partial)),
        |cat AS (
        |  SELECT CAST(p_partkey % 3 AS INT) AS inv, p_partkey AS item_num,
        |    'P_' || p_partkey AS item_id
        |  FROM part WHERE p_partkey < 300 AND p_partkey % 7 <> 0),
        |catna AS (
        |  SELECT CAST(s_suppkey % 3 AS INT) AS inv, s_suppkey AS item_num,
        |    'S_' || s_suppkey AS item_id_na
        |  FROM supplier WHERE s_suppkey < 150),
        |sb AS (
        |  SELECT sib.bundle_id,
        |    coalesce(cat.item_id, catna.item_id_na, sib.bundle_id) AS item_id,
        |    sib.discount
        |  FROM sib
        |  LEFT JOIN cat ON cat.inv = sib.inv AND cat.item_num = sib.item_num
        |  LEFT JOIN catna ON catna.inv = sib.inv AND catna.item_num = sib.item_num
        |  UNION ALL
        |  SELECT 'OLD_' || l_orderkey, 'L_' || l_partkey,
        |    CASE WHEN 25*(l_linenumber % 4) = 0 THEN 1.0
        |         ELSE round(1 - CAST(25*(l_linenumber % 4) AS DOUBLE)/100.0, 2) END
        |  FROM lineitem WHERE l_orderkey % 20 = 1),
        |sirb AS (
        |  SELECT 'BNDL_' || o_orderkey AS key, CAST(o_orderdate AS DATE) AS rd
        |  FROM orders WHERE o_orderkey % 4 = 0),
        |sirbna AS (
        |  SELECT 'BNDL_' || o_orderkey AS key, CAST(o_orderdate AS DATE) + 7 AS rd
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |siri AS (
        |  SELECT 'P_' || p_partkey AS key,
        |    DATE '1995-01-01' + CAST(p_partkey % 1000 AS INT) AS rd
        |  FROM part WHERE p_partkey % 2 = 0),
        |sirina AS (
        |  SELECT 'S_' || s_suppkey AS key,
        |    DATE '1996-01-01' + CAST(s_suppkey % 500 AS INT) AS rd
        |  FROM supplier)
        |SELECT sb.bundle_id, sb.item_id,
        |  coalesce(b.rd, bna.rd) AS bundle_release_date,
        |  coalesce(i.rd, ina.rd) AS item_release_date,
        |  coalesce(sb.discount, 0.0) AS discount,
        |  'live' AS env
        |FROM sb
        |LEFT JOIN sirb b ON b.key = sb.bundle_id
        |LEFT JOIN sirbna bna ON bna.key = sb.bundle_id
        |LEFT JOIN siri i ON i.key = sb.item_id
        |LEFT JOIN sirina ina ON ina.key = sb.item_id
        |ORDER BY sb.bundle_id, sb.item_id, item_release_date, discount""".stripMargin
  )
}
