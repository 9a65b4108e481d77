package graft.queries

import graft.core.Materialize.MaterializeOps
import graft.core.Tables
import graft.operators.{VectorSim, Windows}
import org.apache.spark.sql.functions._

/** Text-analysis catalog over `documents` — language-ID heuristic, quality
  * scoring, token counting, document fingerprinting (builder brief).
  *
  * Determinism rules: every ratio that feeds a group key or an aggregate is
  * either exact integer arithmetic or `floor(ratio * 1e6)` (exact IEEE
  * division then exact floor), never a rounded double — so Spark and DuckDB
  * agree bit-for-bit.
  */
object TextQueries {

  /** BM25 (Robertson/Sparck-Jones idf with the +1 floor, k1=1.2,
    * b=0.75) over whitespace tokens, restricted to `terms`: returns
    * (doc_id, n_hit, score_micro) for every doc containing ≥1 term.
    * Corpus stats (dl, avgdl, df) are map-side-combinable aggregates;
    * the token stream is filtered to the query terms BEFORE the tf
    * aggregate, so per-query work is proportional to postings, not
    * corpus; idf (≤|terms| rows) and the two scalar stats broadcast.
    * The only transcendental (ln) is floored to micro-units at the
    * TERM level (≤|terms| values); per-(doc,term) contributions are
    * pure double arithmetic in a fixed op order, floored to micro,
    * then summed as exact integers — bit-stable at any parallelism. */
  private def bm25Scores(s: org.apache.spark.sql.SparkSession, dir: String,
      terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val stats = dl.agg(sum(col("dl")).as("tok_total"))
      .crossJoin(broadcast(nDocs))
    val tf = toks.filter(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_micro",
        floor(log((col("n_docs").cast("double") - col("df").cast("double")
            + lit(0.5))
          / (col("df").cast("double") + lit(0.5)) + lit(1.0)) * lit(1e6))
          .cast("long"))
      .select(col("tok"), col("idf_micro"))
    val avgdl = col("tok_total").cast("double") / col("n_docs").cast("double")
    val tfnorm = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + lit(1.2) *
        (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
    tf.join(dl, "doc_id") // both aggregated on doc_id — co-partitioned
      .join(broadcast(idf), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("c_micro",
        floor(col("idf_micro").cast("double") / lit(1e6) * tfnorm * lit(1e6))
          .cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("c_micro")).as("score_micro"))
  }

  val queries: Map[String, Q] = Map(
    // Token counting: whitespace tokens + a word-regex token count per
    // doc, aggregated per lang (integer stats only).
    "t_token_stats" -> { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("n_tok", size(split(col("text"), " ")))
        .withColumn("n_word_tok", size(expr("regexp_extract_all(text, '[a-z]+', 0)")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(col("n_tok")).as("tok_sum"),
             sum(col("n_word_tok")).as("word_tok_sum"),
             max(col("n_tok")).as("max_tok"),
             sum(col("n_chars")).as("char_sum"))
        .orderBy(col("lang"))
    },

    // BPE-style pre-tokenization (the GPT-2 pre-tokenizer shape, the
    // brief's "BPE-ish regex" token counter): split text into
    // contraction suffixes, space-prefixed letter runs, digit runs, and
    // punctuation runs via leftmost-first alternation — the exact class
    // structure tiktoken/GPT-2 uses, minus the lookahead (RE2, which
    // the oracle engine embeds, has no lookahead; Java and RE2 agree on
    // character classes + alternation, which is why this subset is the
    // cross-engine-safe form). The corpus is bare lowercase words, so
    // deterministic punctuation/digits/contractions are injected per
    // doc to make every branch live. Per-lang piece counts and
    // fertility (pieces per whitespace word, floored micro) — the
    // tokenizer-budget planning number. Pure per-row regex (codegen'd)
    // + one rollup shuffle.
    "t_bpe_pretokenize" -> { (s, dir) =>
      val pat = "'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ']+"
      Tables.documents(s, dir)
        // coalesce: NULL text must not NULL the whole augmented row
        // (t_passage_scrub's cross-engine NULL discipline)
        .withColumn("__aug", concat(coalesce(col("text"), lit("")),
          lit(" it's "), (col("doc_id") % 100).cast("string"), lit("-x!")))
        .withColumn("n_piece",
          size(expr(s"regexp_extract_all(__aug, \"$pat\", 0)")))
        .withColumn("n_word", size(split(col("__aug"), " ")))
        .withColumn("fert_micro",
          floor(col("n_piece").cast("double") /
                col("n_word").cast("double") * 1e6).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_piece")).cast("long").as("piece_sum"),
          sum(col("n_word")).cast("long").as("word_sum"),
          sum(col("fert_micro")).as("fert_micro_sum"),
          max(col("n_piece")).as("max_piece"))
        .orderBy(col("lang"))
    },

    // Quality scoring: type-token ratio + stopword ratio + mean word
    // length, bucketed; per (source, bucket) counts.
    "t_quality_score" -> { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("__w", split(col("text"), " "))
        .withColumn("n_tok", size(col("__w")))
        .withColumn("ttr_micro",
          floor(size(array_distinct(col("__w"))).cast("double") /
                col("n_tok").cast("double") * 1e6).cast("long"))
        .withColumn("stop_micro",
          floor(size(expr("filter(__w, w -> w IN ('the', 'a', 'of', 'and', 'in', 'to', 'is'))"))
              .cast("double") / col("n_tok").cast("double") * 1e6).cast("long"))
        .withColumn("quality_bucket",
          when(col("ttr_micro") >= 600000L, "high")
            .when(col("ttr_micro") >= 350000L, "mid")
            .otherwise("low"))
        .groupBy(col("source"), col("quality_bucket"))
        .agg(count(lit(1)).as("n"),
             sum(col("ttr_micro")).as("ttr_micro_sum"),
             sum(col("stop_micro")).as("stop_micro_sum"))
        .orderBy(col("source"), col("quality_bucket"))
    },

    // Feature-hashed linear classifier scoring (the fasttext-shape
    // quality gate): every token maps to one of 4096 weight buckets by
    // content hash — the hashing trick, so scoring needs NO vocabulary
    // or embedding broadcast at all, the defining property at 100 TB —
    // and the doc's score is the integer sum of its bucket weights
    // (synthetic deterministic model: w(b) = (b·Knuth) mod 2001 − 1000).
    // Pure per-row map (explode → md5 bucket → weight) + one keyed agg;
    // integer-exact end to end, so both engines reproduce it bit for
    // bit. Docs with no tokens score 0 via the join-back.
    "t_hash_classifier" -> { (s, dir) =>
      val knuth = 2654435761L
      val docs = Tables.documents(s, dir)
      val scored = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .withColumn("__b", md5Bucket(col("tok"), 4096L))
        .withColumn("__w", (col("__b") * knuth) % 2001L - 1000L)
        .groupBy(col("doc_id"))
        .agg(sum(col("__w")).as("score"), count(lit(1)).as("n_tok"))
      docs.select(col("doc_id"), col("lang"))
        .join(scored, Seq("doc_id"), "left")
        .withColumn("score", coalesce(col("score"), lit(0L)))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score") > 0, 1L).otherwise(0L)).as("n_pos"),
          sum(col("score")).as("score_sum"),
          max(col("score")).as("score_max"),
          min(col("score")).as("score_min"))
        .orderBy(col("lang"))
    },

    // Language-ID n-gram/marker heuristic: occurrence counts of per-lang
    // marker words, argmax with a fixed priority tie-break; confusion
    // matrix (true lang × predicted) as the output.
    "t_langid" -> { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("__w", split(col("text"), " "))
        .withColumn("c_en", size(expr("filter(__w, w -> w IN ('the', 'and', 'is'))")))
        .withColumn("c_fr", size(expr("filter(__w, w -> w IN ('le', 'la', 'et'))")))
        .withColumn("c_es", size(expr("filter(__w, w -> w IN ('el', 'los', 'y'))")))
        .withColumn("c_de", size(expr("filter(__w, w -> w IN ('der', 'und', 'die'))")))
        .withColumn("predicted",
          when(col("c_en") >= col("c_fr") && col("c_en") >= col("c_es") &&
               col("c_en") >= col("c_de"), "en")
            .when(col("c_fr") >= col("c_es") && col("c_fr") >= col("c_de"), "fr")
            .when(col("c_es") >= col("c_de"), "es")
            .otherwise("de"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("predicted"))
    },

    // Corpus n-gram profile: top-5 word bigrams per lang by frequency
    // (explode → count → ranked window, total-order tie-break).
    "t_top_ngrams" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documents(s, dir)
        .select(col("lang"), explode(
          graft.operators.TextDedup.wordShingles(col("text"), 2)).as("bigram"))
        .groupBy(col("lang"), col("bigram")).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc, col("bigram"))
      counts.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .orderBy(col("lang"), col("rnk"))
    },

    // Per-doc salient terms: top-2 tokens by term frequency, rarity
    // (document frequency ascending) as tie-break — integer-only TF-IDF
    // stand-in, exact in both engines. The corpus is exploded ONCE: the
    // tf aggregate already holds one row per distinct (doc_id, tok), so
    // document frequency is a re-aggregation of tf, not a second scan.
    "t_doc_terms" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tokens = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      // tf feeds BOTH the df aggregate and the join; without the
      // checkpoint Catalyst prunes the unused count from the df branch,
      // the two subtrees stop canonicalizing equal, exchange reuse can't
      // fire, and the corpus is scanned+exploded twice at runtime (seen
      // live in the executed plan). Materializing the (doc, tok)
      // aggregate once is the 100 TB contract: one corpus pass, both
      // consumers read the shuffle-sized frame (heavyHitters precedent;
      // lifecycle: lazy checkpoint blocks are reclaimed by the
      // ContextCleaner once the plan is unreferenced — bounded across a
      // long bench loop, same contract as every checkpoint in the repo).
      val tf = tokens.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf")).materialized()
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("tok"))
      tf.join(df, "tok")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 2)
        .select(col("doc_id"), col("rnk"), col("tok"), col("tf"), col("df"))
        .orderBy(col("doc_id"), col("rnk"))
    },

    // Vocabulary coverage curve — the tokenizer-design question "how many
    // distinct tokens cover 50/90/99% of all token occurrences": rank
    // tokens by corpus frequency, cumulative share, smallest rank at each
    // coverage level. The vocabulary frame of a web corpus is itself
    // hundreds of millions of rows (typos, URLs, numerals), so the rank
    // and running sum come from Windows.globalOrderedCumSum (range
    // partition + broadcast offsets — no unpartitioned WindowExec ever
    // touches the vocabulary), and the corpus total is a one-row
    // broadcast, not a partitionBy() window.
    "t_vocab_coverage" -> { (s, dir) =>
      val counts = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("total"))
      Windows.globalOrderedCumSum(counts,
          Seq(col("cnt").desc, col("tok")), col("cnt"), "rnk", "cum")
        .crossJoin(broadcast(total))
        .withColumn("share", col("cum").cast("double") / col("total"))
        .agg(
          min(when(col("share") >= 0.5, col("rnk"))).as("k50"),
          min(when(col("share") >= 0.9, col("rnk"))).as("k90"),
          min(when(col("share") >= 0.99, col("rnk"))).as("k99"),
          count(lit(1)).as("vocab_size"),
          max(col("total")).as("total_tokens"))
    },

    // Unigram log-probability scoring — the cheap LM-free perplexity
    // proxy every corpus-quality pipeline runs: per-token
    // ln(count/total) from the corpus's own unigram distribution,
    // summed per document, rolled up per lang. The unigram table joins
    // back onto the token stream on the SAME key the count shuffled on
    // (exchange-reusable; AQE broadcasts it when it fits — a web
    // corpus's vocab can be hundreds of millions of rows, so it is NOT
    // force-broadcast); per-token
    // log-probs are floored to integer micro-units at the vocab level,
    // so every downstream sum is exact integer arithmetic — no
    // float-association hazard at any parallelism.
    "t_unigram_logprob" -> { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      val uni = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val total = uni.agg(sum(col("cnt")).as("total"))
      val lp = uni.crossJoin(broadcast(total))
        .withColumn("logp_micro",
          floor(log(col("cnt").cast("double") / col("total").cast("double"))
            * lit(1e6)).cast("long"))
        .select(col("tok"), col("logp_micro"))
      toks.join(lp, "tok")
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("logp_micro")).as("doc_logp"),
          count(lit(1)).as("n_tok"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("tok_sum"),
          sum(col("doc_logp")).as("logp_micro_sum"),
          min(col("doc_logp")).as("min_doc_logp"),
          max(col("doc_logp")).as("max_doc_logp"))
        .orderBy(col("lang"))
    },

    // Cross-document duplicated-passage fraction: for each doc, the share
    // of its distinct word 4-grams that also appear in ANOTHER document —
    // the corpus-level quality signal behind passage-dedup filters
    // (within-doc repetition is t_repetition; this is the cross-doc
    // complement, the "duplicate n-gram fraction" family of web-corpus
    // filters). Plan: shingle explode → df count → join back on the same
    // shingle key (co-partitioned) → per-doc ratio → per-source rollup;
    // nothing is pairwise, so it scales as two keyed shuffles at any
    // corpus size.
    "t_boilerplate" -> { (s, dir) =>
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), explode(
          graft.operators.TextDedup.wordShingles(col("text"), 4)).as("sh"))
      // wordShingles is distinct-per-doc, so count(*) IS doc frequency.
      // Deliberately groupBy + join-back (two scans of the table) rather
      // than a window over sh: at web scale boilerplate shingles are
      // exactly the hot keys a window would buffer in one task, while
      // re-scanning parquet streams; the df aggregate gets map-side
      // partials and the join is AQE-skew-splittable.
      val df = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      sh.join(df, "sh")
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_sh")).cast("long").as("shingles_sum"),
          sum(col("n_shared")).cast("long").as("shared_sum"),
          davg(col("n_shared").cast("double") / col("n_sh")).as("shared_frac"))
        .orderBy(col("source"))
    },

    // Per-domain quota cap: keep the K best docs per source so one crawl
    // domain cannot dominate the training mixture — a partitioned window
    // (one shuffle on source, no global sort; a pathologically heavy
    // domain is an AQE-skew case, not a plan change).
    "t_domain_cap" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 10)
        .select(col("source"), col("rnk"), col("doc_id"), col("n_chars"))
        .orderBy(col("source"), col("rnk"))
    },

    // PII redaction: scrub emails/phones before training. The corpus has
    // no PII, so deterministic synthetic PII is injected first (varying
    // counts per doc), then redacted with regexes shared verbatim with
    // the oracle — all codegen'd regexp ops, no shuffle before the final
    // per-source rollup.
    "t_pii_scrub" -> { (s, dir) =>
      val emailRe = "[a-z0-9]+@[a-z0-9]+\\.com"
      val phoneRe = "555-[0-9]{4}"
      val pii = Tables.documents(s, dir)
        .withColumn("text2", concat(
          col("text"),
          when(col("doc_id") % 3 === 0, concat(
            lit(" contact u"), col("doc_id").cast("string"),
            lit("@mail"), (col("doc_id") % 7).cast("string"), lit(".com")))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, concat(
            lit(" alt p"), col("doc_id").cast("string"),
            lit("@x"), (col("doc_id") % 5).cast("string"), lit(".com")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0, concat(
            lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))))
        .withColumn("n_email", regexp_count(col("text2"), lit(emailRe)))
        .withColumn("n_phone", regexp_count(col("text2"), lit(phoneRe)))
        .withColumn("clean", regexp_replace(
          regexp_replace(col("text2"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"))
      pii.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_email")).cast("long").as("emails_redacted"),
          sum(col("n_phone")).cast("long").as("phones_redacted"),
          sum(length(col("clean"))).cast("long").as("clean_chars"))
        .orderBy(col("source"))
    },

    // Repetition quality signal: fraction of word 3-grams that are
    // within-doc duplicates (exact micro-units) — the classic filter for
    // boilerplate/template spam in web corpora. Pure per-row expressions
    // over the native shingle kernel; one rollup shuffle.
    "t_repetition" -> { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("n_tok", size(split(col("text"), " ")))
        .filter(col("n_tok") >= 3)
        .withColumn("total_tri", (col("n_tok") - 2).cast("long"))
        .withColumn("dist_tri", size(
          graft.operators.TextDedup.wordShingles(col("text"), 3)).cast("long"))
        .withColumn("rep_micro",
          floor((lit(1.0) - col("dist_tri").cast("double") /
            col("total_tri").cast("double")) * 1e6).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("rep_micro")).cast("long").as("rep_micro_sum"),
          max(col("rep_micro")).as("max_rep_micro"),
          sum(when(col("rep_micro") > 100000L, 1).otherwise(0)).cast("long")
            .as("n_repetitive"))
        .orderBy(col("source"))
    },

    // Benchmark decontamination: flag documents containing any benchmark
    // phrase as an exact word-aligned 5-gram — a shingle EQUI-join
    // against the (tiny, broadcast) benchmark set, never a contains()
    // nested loop over the corpus; at 100 TB the only corpus-side cost
    // is the explode, and the join stays broadcast at any corpus size.
    // The "benchmark" here is the opening 5-grams of three fixed docs,
    // so contamination is guaranteed non-empty and oracle-derivable.
    "t_decontaminate" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val phrases = docs.filter(col("doc_id").isin(3L, 57L, 123L))
        .select(concat_ws(" ", slice(split(col("text"), " "), 1, 5))
          .as("phrase"))
      val hits = docs
        .select(col("doc_id"), explode(
          graft.operators.TextDedup.wordShingles(col("text"), 5)).as("sh"))
        .join(broadcast(phrases), col("sh") === col("phrase"))
        .select("doc_id").distinct()
        .withColumn("hit", lit(1L))
      docs.join(hits, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
        .orderBy(col("source"))
    },

    // URL parsing/normalization — crawl-metadata hygiene: host and path
    // extracted with the native parse_url expression, per-host rollup
    // (distinct paths + query-params presence). Deterministic URLs are
    // synthesized from source/doc_id since the corpus carries none.
    "t_url_parse" -> { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("__url", concat(
          lit("https://"), col("source"), lit(".example.com/d/"),
          (col("doc_id") % 50).cast("string"),
          when(col("doc_id") % 3 === 0, lit("?ref=graft&x=1")).otherwise(lit(""))))
        .withColumn("host", expr("parse_url(__url, 'HOST')"))
        .withColumn("path", expr("parse_url(__url, 'PATH')"))
        .withColumn("has_query",
          expr("parse_url(__url, 'QUERY')").isNotNull)
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("path")).as("n_paths"),
          sum(when(col("has_query"), 1).otherwise(0)).cast("long")
            .as("n_with_query"))
        .orderBy(col("host"))
    },

    // HTML boilerplate stripping — the web-crawl → text stage: tags out,
    // entities decoded, whitespace collapsed, all as codegen'd regexp
    // expressions (no parser, no UDF — the 99% case for crawl text;
    // documents get deterministic markup injected since the corpus is
    // plain text). One rollup shuffle.
    "t_html_strip" -> { (s, dir) =>
      val html = concat(
        lit("<html><body><p class=\"c"), (col("doc_id") % 7).cast("string"),
        lit("\">"), col("text"),
        lit("</p><br/><div id=\"f\">footer&amp;nav &lt;keep&gt;</div></body></html>"))
      val clean = trim(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(html,
          "<[^>]*>", " "), "&amp;", "&"), "&lt;", "<"), "&gt;", ">"),
        "\\s+", " "))
      Tables.documents(s, dir)
        .select(col("source"), clean.as("clean"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("clean"))).cast("long").as("clean_chars"),
          sum(size(split(col("clean"), " "))).cast("long").as("clean_toks"))
        .orderBy(col("source"))
    },

    // Edit-distance near-dup pairs: docs whose 40-char heads are within
    // Levenshtein 5. Candidate generation is PassJoin-style pigeonhole
    // blocking (Li/Deng/Feng, VLDB'11 — public algorithm): a 40-char
    // head is split into tau+1 = 6 fixed segments; ed(a,b) <= 5 implies
    // b contains at least one segment of a EXACTLY, at a start shifted
    // by at most 5. So the candidate join is an equi-join on
    // (segment_index, substring) — content-selective AND provably
    // lossless — conjoined with the |n_chars| <= 10 length band. This
    // replaces the r8 length-band-only blocking, which degenerated
    // toward O(N²/bands) on length-concentrated corpora (13x fewer
    // candidates at sf0.1: 39,323 vs 518,076 — see SCALING.md). Heads
    // shorter than 40 chars (doc < 40 chars; their partners must be
    // < 50 by the length band) fall back to the length-band pool —
    // the two branches are disjoint and together exhaustive.
    "t_edit_distance" -> { (s, dir) =>
      // candidate generation is the library operator (round-10
      // promotion — this query is its oracle proof); the lossless
      // combinatorics are property-tested in DedupPropertySpec.
      // The pair semantics depend ONLY on (head-40, n_chars), so rows
      // identical on both collapse to a representative before the
      // segment join (collapseExactDups — twin pairs expand back with
      // dist 0 = lev(h, h); the dist >= 0 threshold commutes with the
      // expansion because cross pairs inherit the rep distance)
      val c = graft.operators.TextDedup.collapseExactDups(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("text"), col("n_chars")),
        "doc_id",
        Seq(md5(concat(substring(col("text"), 1, 40), lit("|"),
          col("n_chars").cast("string")))),
        valueCol = "dist", intraValue = lit(0))
      val cand = graft.operators.TextDedup.passJoinCandidates(
        c.reps, "doc_id", "text",
        maxEdits = 5, headLen = 40, lengthBand = 10,
        lenCol = Some("n_chars"))
      // thresholded kernel: the banded DP abandons a pair the moment its
      // distance exceeds 5 (O(len·threshold) per pair) and returns -1.
      // The distance is computed over aggregate expressions (max(head)
      // per pair — heads are functionally determined by the ids), NOT
      // grouping columns: a levenshtein filter over grouping columns
      // gets pushed below the aggregate INTO the join condition, where
      // Catalyst ordered it before the cheap id/length predicates and
      // re-evaluated it per raw segment-bucket co-occurrence (measured
      // 4.5 s vs 1.3 s at sf0.1).
      val repPairs = cand
        .groupBy(col("a"), col("b"))
        .agg(max(col("head_a")).as("__ha"), max(col("head_b")).as("__hb"))
        .withColumn("dist", levenshtein(col("__ha"), col("__hb"), 5))
        .filter(col("dist") >= 0)
        .select(col("a"), col("b"), col("dist"))
      c.expand(repPairs)
        .orderBy(col("a"), col("b"))
    },

    // Winnowing fingerprints (rolling-hash document fingerprinting): per
    // doc, the count/min/max/sum of its winnowed k-gram hash minima —
    // proves the whole rolling-hash + window-minima computation against
    // an engine-portable arithmetic replica. The fingerprint PAIR join
    // (TextDedup.winnowPairs) is property-proven on a diverse corpus and
    // deliberately not cataloged here: this synthetic corpus has only 62
    // distinct fingerprints across 5k docs (see the winnowPairs scaladoc),
    // so the equi-join degenerates the same way prefix filtering does.
    "t_winnow_fingerprint" -> { (s, dir) =>
      val fp = graft.operators.TextDedup.winnowFingerprints(col("text"), 5, 8)
      Tables.documents(s, dir)
        .filter(length(col("text")) >= 5)
        .select(col("doc_id"), fp.as("__fp"))
        .select(col("doc_id"),
          size(col("__fp")).cast("long").as("n_fp"),
          array_min(col("__fp")).as("fp_min"),
          array_max(col("__fp")).as("fp_max"),
          aggregate(col("__fp"), lit(0L), (acc, x) => acc + x).as("fp_sum"))
        .orderBy(col("doc_id"))
    },

    // BM25 keyword retrieval — the lexical ranker every RAG/eval
    // pipeline pairs with dense ANN (s_cosine_*): Robertson/Sparck-
    // Jones idf with the +1 floor, k1=1.2, b=0.75. Corpus stats (doc
    // length, avgdl, df) are map-side-combinable aggregates; the token
    // stream is filtered to the query terms BEFORE the tf aggregate,
    // so the per-query work is proportional to postings, not corpus;
    // idf (≤|terms| rows) and the two scalar stats broadcast. The only
    // transcendental (ln) is floored to micro-units at the TERM level
    // (≤4 values); per-(doc,term) contributions are pure double
    // arithmetic in a fixed op order, floored to micro, then summed as
    // exact integers — bit-stable at any parallelism.
    "t_bm25_search" -> { (s, dir) =>
      bm25Scores(s, dir, Seq("hash", "join", "vector", "stream"))
        .orderBy(col("score_micro").desc, col("doc_id"))
        .limit(20)
    },

    // Hybrid retrieval: BM25 lexical top-50 fused with dense cosine
    // top-50 (query = doc 0's embedding; doc_id ≡ vec_id in the
    // testdata) by reciprocal-rank fusion, 1/(60+rank) per arm — the
    // standard RAG first-stage. Ranks are exact integers (BM25 scores
    // are integer micro; the cosine rank comes from the audited
    // top-k), so the fused score is two IEEE divisions and
    // one add in a fixed order — bit-stable. Both arms are bounded
    // (postings-proportional / broadcast-query), and the fusion joins
    // two ≤50-row frames.
    "t_hybrid_rrf" -> { (s, dir) =>
      // rank via the range-partitioned global form — the BM25 frame is
      // postings-proportional (every doc matching a common term), so an
      // unpartitioned Window here would be a single-task funnel
      val lex = Windows.globalRowNumber(
          bm25Scores(s, dir, Seq("hash", "join", "vector", "stream")),
          Seq(col("score_micro").desc, col("doc_id").asc), "lex_rank")
        .filter(col("lex_rank") <= 50)
        .select(col("doc_id"), col("lex_rank"))
      val emb = Tables.embeddings(s, dir)
      val dense = VectorSim.bruteForceCosineTopK(emb,
          emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 50)
        .select(col("nn_id").as("doc_id"), col("rnk").as("dense_rank"))
      val rrf =
        coalesce(lit(1.0) / (lit(60.0) + col("lex_rank").cast("double")),
          lit(0.0)) +
        coalesce(lit(1.0) / (lit(60.0) + col("dense_rank").cast("double")),
          lit(0.0))
      lex.join(dense, Seq("doc_id"), "full_outer")
        .withColumn("rrf_micro", floor(rrf * lit(1e9)).cast("long"))
        .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
          col("rrf_micro"))
        .orderBy(col("rrf_micro").desc, col("doc_id"))
        .limit(20)
    },

    // Document fingerprinting: bag-of-words-normalized md5 (order
    // independent — reordered near-dups collide; appended text does not).
    "t_fingerprint" -> { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " ")))))
            .as("fp"),
          size(array_distinct(split(col("text"), " "))).as("n_distinct_tok"))
        .orderBy(col("doc_id"))
    },

    // Cross-document duplicated-passage REMOVAL (the scrub counterpart of
    // t_boilerplate's measurement): CCNet dedups identical lines across a
    // shard and C4 drops repeated three-sentence spans; the corpus here
    // is word streams, so "lines" are non-overlapping word-aligned
    // 10-token blocks. A block occurring in >= 2 DISTINCT docs is
    // corpus-duplicated; every occurrence except the global first
    // (min (doc_id, block_index)) is removed and the doc is REBUILT from
    // its surviving blocks + its sub-block tail, proven exactly by the
    // rebuilt text's md5. The synthetic corpus has no natural cross-doc
    // blocks (sf0.01 has zero exact dups), so the scrub path is made
    // live at every sf the same way d_bloom_incremental does it:
    // deterministic re-keyed full-doc copies (doc_id % 7 == 3 →
    // +9000000, the d_bloom_incremental offset precedent — far above
    // any real doc_id so copies can never collide) plus a fixed
    // 10-token nav banner prepended to every 5th doc (the classic hot
    // boilerplate block; 10 tokens = exactly one block, so the rest of
    // the doc stays block-aligned).
    //
    // Plan shape (the 100 TB contract): TWO corpus passes by design —
    // the count pass and the rewrite pass, exactly how shard-level line
    // dedup runs at scale (the block frame is Materialize-pinned so its
    // two consumers share one materialization instead of re-scanning).
    // Block df + first-occurrence via ONE groupBy(blk) aggregate joined
    // back on the same key — never a window over blk (hot boilerplate
    // blocks are exactly the keys a window would buffer in one task;
    // same reasoning as t_boilerplate). The per-doc rebuild is a
    // collect_list bounded by doc length — the same per-doc bound every
    // chunker in the catalog carries.
    "t_passage_scrub" -> { (s, dir) =>
      val banner = (0 until 10).map(i => s"nav$i").mkString(" ")
      // NULL text must rebuild like the oracle's COALESCE(text, '')
      // (size(NULL)/md5(NULL) would diverge as -1/NULL on the Spark side)
      val base = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
            concat(lit(banner + " "), coalesce(col("text"), lit(""))))
          .otherwise(coalesce(col("text"), lit(""))).as("text"))
      val docs = base.unionByName(
        base.filter(col("doc_id") % 7 === 3)
          .withColumn("doc_id", col("doc_id") + 9000000L))
      graft.operators.TextDedup.passageScrub(docs, "doc_id", "text", 10)
        .select(col("doc_id"), col("n_blocks"), col("n_removed"),
          size(col("rb")).cast("long").as("kept_tok"),
          md5(array_join(col("rb"), " ")).as("scrub_md5"))
        .orderBy(col("doc_id"))
    }
  )

  val oracle: Map[String, String] = Map(
    // ln() differs across libm implementations by ≤1 ulp; the floored
    // micro value is vocab-level (one boundary flip chance ~1e-9 per
    // distinct token), and every sum after it is exact integer math
    "t_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, tok FROM (
        |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) WHERE len(tok) > 0),
        |uni AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM uni),
        |lp AS (
        |  SELECT tok,
        |    CAST(floor(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1e6)
        |      AS BIGINT) AS logp_micro
        |  FROM uni, t),
        |pd AS (
        |  SELECT doc_id, lang,
        |    CAST(SUM(logp_micro) AS BIGINT) AS doc_logp, COUNT(*) AS n_tok
        |  FROM toks JOIN lp USING (tok) GROUP BY 1, 2)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS tok_sum,
        |  CAST(SUM(doc_logp) AS BIGINT) AS logp_micro_sum,
        |  MIN(doc_logp) AS min_doc_logp,
        |  MAX(doc_logp) AS max_doc_logp
        |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin,

    // every float op in the same order as the Spark side; constants
    // CAST to DOUBLE (DuckDB bare literals are DECIMAL)
    "t_bm25_search" ->
      """WITH toks AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) WHERE len(tok) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        |stats AS (
        |  SELECT CAST(SUM(dl) AS BIGINT) AS tok_total,
        |         (SELECT COUNT(*) FROM documents) AS n_docs FROM dl),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        |       WHERE tok IN ('hash', 'join', 'vector', 'stream')
        |       GROUP BY 1, 2),
        |idf AS (
        |  SELECT tok,
        |    CAST(floor(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)
        |        + CAST(0.5 AS DOUBLE))
        |      / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |      + CAST(1.0 AS DOUBLE)) * 1e6) AS BIGINT) AS idf_micro
        |  FROM (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1), stats),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(floor(CAST(idf_micro AS DOUBLE) / 1e6 *
        |      ((CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
        |       (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
        |        (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
        |         (CAST(dl.dl AS DOUBLE) /
        |          (CAST(tok_total AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
        |      * 1e6) AS BIGINT) AS c_micro
        |  FROM tf JOIN dl USING (doc_id) JOIN idf USING (tok), stats)
        |SELECT doc_id, COUNT(*) AS n_hit,
        |  CAST(SUM(c_micro) AS BIGINT) AS score_micro
        |FROM sc GROUP BY 1
        |ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin,

    // same BM25 chain through bm, then RRF against the dense cosine
    // arm; every constant CAST to DOUBLE, fusion adds lex then dense
    "t_hybrid_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) WHERE len(tok) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
        |stats AS (
        |  SELECT CAST(SUM(dl) AS BIGINT) AS tok_total,
        |         (SELECT COUNT(*) FROM documents) AS n_docs FROM dl),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        |       WHERE tok IN ('hash', 'join', 'vector', 'stream')
        |       GROUP BY 1, 2),
        |idf AS (
        |  SELECT tok,
        |    CAST(floor(ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)
        |        + CAST(0.5 AS DOUBLE))
        |      / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |      + CAST(1.0 AS DOUBLE)) * 1e6) AS BIGINT) AS idf_micro
        |  FROM (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1), stats),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(floor(CAST(idf_micro AS DOUBLE) / 1e6 *
        |      ((CAST(tf.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)) /
        |       (CAST(tf.tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
        |        (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
        |         (CAST(dl.dl AS DOUBLE) /
        |          (CAST(tok_total AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
        |      * 1e6) AS BIGINT) AS c_micro
        |  FROM tf JOIN dl USING (doc_id) JOIN idf USING (tok), stats),
        |bm AS (SELECT doc_id, CAST(SUM(c_micro) AS BIGINT) AS score_micro
        |       FROM sc GROUP BY 1),
        |lex AS (
        |  SELECT doc_id, lex_rank FROM (
        |    SELECT doc_id,
        |      row_number() OVER (ORDER BY score_micro DESC, doc_id) AS lex_rank
        |    FROM bm) WHERE lex_rank <= 50),
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |q AS (SELECT e AS qv FROM v WHERE vec_id = 0),
        |dense AS (
        |  SELECT doc_id, dense_rank FROM (
        |    SELECT v.vec_id AS doc_id,
        |      row_number() OVER (ORDER BY
        |        list_dot_product(qv, v.e) /
        |          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v.e, v.e)))
        |        DESC, v.vec_id) AS dense_rank
        |    FROM v, q WHERE v.vec_id <> 0) WHERE dense_rank <= 50)
        |SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
        |  lex_rank, dense_rank,
        |  CAST(floor((
        |    COALESCE(CAST(1.0 AS DOUBLE) /
        |      (CAST(60.0 AS DOUBLE) + CAST(lex_rank AS DOUBLE)), CAST(0.0 AS DOUBLE)) +
        |    COALESCE(CAST(1.0 AS DOUBLE) /
        |      (CAST(60.0 AS DOUBLE) + CAST(dense_rank AS DOUBLE)), CAST(0.0 AS DOUBLE))
        |    ) * 1e9) AS BIGINT) AS rrf_micro
        |FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
        |ORDER BY rrf_micro DESC, doc_id LIMIT 20""".stripMargin,

    "t_token_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok_sum,
        |  CAST(SUM(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS word_tok_sum,
        |  MAX(len(string_split(text, ' '))) AS max_tok,
        |  CAST(SUM(n_chars) AS BIGINT) AS char_sum
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "t_quality_score" ->
      """WITH q AS (
        |  SELECT source,
        |    CAST(floor(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |         / CAST(len(string_split(text, ' ')) AS DOUBLE) * 1e6) AS BIGINT) AS ttr_micro,
        |    CAST(floor(CAST(len(list_filter(string_split(text, ' '),
        |           w -> w IN ('the', 'a', 'of', 'and', 'in', 'to', 'is'))) AS DOUBLE)
        |         / CAST(len(string_split(text, ' ')) AS DOUBLE) * 1e6) AS BIGINT) AS stop_micro
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN ttr_micro >= 600000 THEN 'high'
        |       WHEN ttr_micro >= 350000 THEN 'mid'
        |       ELSE 'low' END AS quality_bucket,
        |  COUNT(*) AS n, CAST(SUM(ttr_micro) AS BIGINT) AS ttr_micro_sum,
        |  CAST(SUM(stop_micro) AS BIGINT) AS stop_micro_sum
        |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "t_hash_classifier" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, ${sqlMd5Bucket("tok", 4096L)} AS b
        |  FROM toks WHERE len(tok) > 0),
        |sc AS (
        |  SELECT doc_id, SUM((b * 2654435761) % 2001 - 1000) AS score
        |  FROM w GROUP BY doc_id),
        |d AS (
        |  SELECT x.lang, COALESCE(sc.score, 0) AS score
        |  FROM documents x LEFT JOIN sc ON sc.doc_id = x.doc_id)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(SUM(score) AS BIGINT) AS score_sum,
        |  CAST(MAX(score) AS BIGINT) AS score_max,
        |  CAST(MIN(score) AS BIGINT) AS score_min
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "t_langid" ->
      """WITH c AS (
        |  SELECT lang,
        |    len(list_filter(string_split(text, ' '), w -> w IN ('the', 'and', 'is'))) AS c_en,
        |    len(list_filter(string_split(text, ' '), w -> w IN ('le', 'la', 'et'))) AS c_fr,
        |    len(list_filter(string_split(text, ' '), w -> w IN ('el', 'los', 'y'))) AS c_es,
        |    len(list_filter(string_split(text, ' '), w -> w IN ('der', 'und', 'die'))) AS c_de
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN c_en >= c_fr AND c_en >= c_es AND c_en >= c_de THEN 'en'
        |       WHEN c_fr >= c_es AND c_fr >= c_de THEN 'fr'
        |       WHEN c_es >= c_de THEN 'es'
        |       ELSE 'de' END AS predicted,
        |  COUNT(*) AS n
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "t_top_ngrams" ->
      """WITH bg AS (
        |  SELECT lang,
        |    unnest(list_distinct(list_transform(generate_series(1, len(ws) - 1),
        |      i -> ws[i] || ' ' || ws[i+1]))) AS bigram
        |  FROM (SELECT lang, string_split(text, ' ') AS ws FROM documents)),
        |counts AS (SELECT lang, bigram, COUNT(*) AS n FROM bg GROUP BY 1, 2),
        |ranked AS (
        |  SELECT lang, bigram, n,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rnk
        |  FROM counts)
        |SELECT lang, bigram, n, rnk FROM ranked WHERE rnk <= 5
        |ORDER BY lang, rnk""".stripMargin,

    "t_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |counts AS (
        |  SELECT tok, COUNT(*) AS cnt FROM toks
        |  WHERE length(tok) > 0 GROUP BY 1),
        |ranked AS (
        |  SELECT cnt,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rnk,
        |    SUM(cnt) OVER (ORDER BY cnt DESC, tok
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cnt) OVER () AS total
        |  FROM counts)
        |SELECT
        |  MIN(CASE WHEN CAST(cum AS DOUBLE) / total >= 0.5 THEN rnk END) AS k50,
        |  MIN(CASE WHEN CAST(cum AS DOUBLE) / total >= 0.9 THEN rnk END) AS k90,
        |  MIN(CASE WHEN CAST(cum AS DOUBLE) / total >= 0.99 THEN rnk END) AS k99,
        |  COUNT(*) AS vocab_size,
        |  CAST(MAX(total) AS BIGINT) AS total_tokens
        |FROM ranked""".stripMargin,

    // same distinct 4-gram construction as the Spark side (wordShingles
    // parity with string_split is already proven by t_top_ngrams)
    "t_boilerplate" ->
      s"""WITH sh AS (
         |  SELECT doc_id, source,
         |    unnest(list_distinct(list_transform(generate_series(1, len(ws) - 3),
         |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]))) AS sh
         |  FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents)),
         |df AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY 1),
         |per_doc AS (
         |  SELECT s.doc_id, s.source, COUNT(*) AS n_sh,
         |    SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS n_shared
         |  FROM sh s JOIN df USING (sh) GROUP BY 1, 2)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_sh) AS BIGINT) AS shingles_sum,
         |  CAST(SUM(n_shared) AS BIGINT) AS shared_sum,
         |  ${sqlDavg("CAST(n_shared AS DOUBLE) / n_sh")} AS shared_frac
         |FROM per_doc GROUP BY source ORDER BY source""".stripMargin,

    "t_doc_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |ranked AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
        |                       ORDER BY tf.tf DESC, df.df ASC, tf.tok) AS rnk
        |  FROM tf JOIN df ON tf.tok = df.tok)
        |SELECT doc_id, rnk, tok, tf, df FROM ranked WHERE rnk <= 2
        |ORDER BY doc_id, rnk""".stripMargin,

    "t_domain_cap" ->
      """WITH ranked AS (
        |  SELECT source, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rnk
        |  FROM documents)
        |SELECT source, rnk, doc_id, n_chars FROM ranked WHERE rnk <= 10
        |ORDER BY source, rnk""".stripMargin,

    "t_pii_scrub" ->
      """WITH pii AS (
        |  SELECT source,
        |    text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || doc_id || '@mail' || (doc_id % 7) || '.com' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' alt p' || doc_id || '@x' || (doc_id % 5) || '.com' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    AS text2
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(text2, '[a-z0-9]+@[a-z0-9]+\.com'))) AS BIGINT) AS emails_redacted,
        |  CAST(SUM(len(regexp_extract_all(text2, '555-[0-9]{4}'))) AS BIGINT) AS phones_redacted,
        |  CAST(SUM(len(regexp_replace(regexp_replace(text2, '[a-z0-9]+@[a-z0-9]+\.com', '<EMAIL>', 'g'), '555-[0-9]{4}', '<PHONE>', 'g'))) AS BIGINT) AS clean_chars
        |FROM pii GROUP BY source ORDER BY source""".stripMargin,

    "t_repetition" ->
      """WITH tri AS (
        |  SELECT source,
        |    len(ws) - 2 AS total_tri,
        |    len(list_distinct(list_transform(generate_series(1, len(ws) - 2),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS dist_tri
        |  FROM (SELECT source, string_split(text, ' ') AS ws FROM documents)
        |  WHERE len(ws) >= 3),
        |r AS (
        |  SELECT source,
        |    CAST(floor((1.0 - CAST(dist_tri AS DOUBLE) / CAST(total_tri AS DOUBLE)) * 1e6) AS BIGINT) AS rep_micro
        |  FROM tri)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(rep_micro) AS BIGINT) AS rep_micro_sum,
        |  MAX(rep_micro) AS max_rep_micro,
        |  CAST(SUM(CASE WHEN rep_micro > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    "t_decontaminate" ->
      """WITH ph AS (
        |  SELECT array_to_string(string_split(text, ' ')[1:5], ' ') AS phrase
        |  FROM documents WHERE doc_id IN (3, 57, 123)),
        |f AS (
        |  SELECT d.source,
        |    CASE WHEN EXISTS (SELECT 1 FROM ph
        |      WHERE position(' ' || ph.phrase || ' ' IN ' ' || d.text || ' ') > 0)
        |    THEN 1 ELSE 0 END AS hit
        |  FROM documents d)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(hit) AS BIGINT) AS n_contaminated
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    // the oracle re-derives host/path/query arithmetically (DuckDB has no
    // parse_url) — a green row proves the parse agrees with the
    // construction
    "t_url_parse" ->
      """WITH u AS (
        |  SELECT source || '.example.com' AS host,
        |    '/d/' || (doc_id % 50) AS path,
        |    (doc_id % 3 = 0) AS has_query
        |  FROM documents)
        |SELECT host, COUNT(*) AS n_urls,
        |  COUNT(DISTINCT path) AS n_paths,
        |  CAST(SUM(CASE WHEN has_query THEN 1 ELSE 0 END) AS BIGINT) AS n_with_query
        |FROM u GROUP BY host ORDER BY host""".stripMargin,

    // DuckDB regexp_replace needs the 'g' flag for replace-all parity
    "t_html_strip" ->
      """WITH h AS (
        |  SELECT source,
        |    '<html><body><p class="c' || (doc_id % 7) || '">' || text ||
        |    '</p><br/><div id="f">footer&amp;nav &lt;keep&gt;</div></body></html>'
        |    AS html
        |  FROM documents),
        |c AS (
        |  SELECT source, trim(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(html,
        |      '<[^>]*>', ' ', 'g'), '&amp;', '&', 'g'), '&lt;', '<', 'g'),
        |    '&gt;', '>', 'g'), '\s+', ' ', 'g')) AS clean
        |  FROM h)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(clean)) AS BIGINT) AS clean_chars,
        |  CAST(SUM(len(string_split(clean, ' '))) AS BIGINT) AS clean_toks
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "t_edit_distance" ->
      """SELECT x.doc_id AS a, y.doc_id AS b,
        |  levenshtein(substr(x.text, 1, 40), substr(y.text, 1, 40)) AS dist
        |FROM documents x JOIN documents y
        |  ON x.doc_id < y.doc_id AND abs(x.n_chars - y.n_chars) <= 10
        |WHERE levenshtein(substr(x.text, 1, 40), substr(y.text, 1, 40)) <= 5
        |ORDER BY a, b""".stripMargin,

    // arithmetic replica of NativeEval.winnowFingerprints: Horner base-31
    // rolling hash mod 2^31-1 (mod after every multiply-add, matching the
    // kernel's operation order exactly), window-of-8 minima, distinct
    "t_winnow_fingerprint" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, len(text) - 5 + 1),
        |      i -> (((((((unicode(text[i]) * 31 + unicode(text[i+1])) % 2147483647)
        |             * 31 + unicode(text[i+2])) % 2147483647)
        |             * 31 + unicode(text[i+3])) % 2147483647)
        |             * 31 + unicode(text[i+4])) % 2147483647) AS hs
        |  FROM documents WHERE len(text) >= 5),
        |fp AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(hs) - 8 + 1, 1)),
        |      j -> list_min(hs[j:least(j + 8 - 1, len(hs))]))) AS fps
        |  FROM h)
        |SELECT doc_id,
        |  CAST(len(fps) AS BIGINT) AS n_fp,
        |  CAST(list_min(fps) AS BIGINT) AS fp_min,
        |  CAST(list_max(fps) AS BIGINT) AS fp_max,
        |  CAST(list_aggregate(fps, 'sum') AS BIGINT) AS fp_sum
        |FROM fp ORDER BY doc_id""".stripMargin,

    "t_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct_tok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t_bpe_pretokenize" ->
      """WITH aug AS (
        |  SELECT lang,
        |    COALESCE(text, '') || ' it''s ' || CAST(doc_id % 100 AS VARCHAR) || '-x!' AS a
        |  FROM documents),
        |p AS (
        |  SELECT lang,
        |    len(regexp_extract_all(a, '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 '']+')) AS n_piece,
        |    len(string_split(a, ' ')) AS n_word
        |  FROM aug)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_piece) AS BIGINT) AS piece_sum,
        |  CAST(SUM(n_word) AS BIGINT) AS word_sum,
        |  CAST(SUM(CAST(FLOOR(CAST(n_piece AS DOUBLE) / CAST(n_word AS DOUBLE)
        |    * 1e6) AS BIGINT)) AS BIGINT) AS fert_micro_sum,
        |  CAST(MAX(n_piece) AS BIGINT) AS max_piece
        |FROM p GROUP BY lang ORDER BY lang""".stripMargin,

    // replica of the scrub chain: same injected copies/banner, same
    // keep-first rule, same block arithmetic (1-based inclusive list
    // slices mirror Spark's slice(start, length) exactly)
    "t_passage_scrub" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN 'nav0 nav1 nav2 nav3 nav4 nav5 nav6 nav7 nav8 nav9 '
        |           || COALESCE(text, '')
        |      ELSE COALESCE(text, '') END AS text
        |  FROM documents),
        |inj AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 9000000, text FROM base WHERE doc_id % 7 = 3),
        |d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n_tok,
        |    len(string_split(text, ' ')) // 10 AS nblk
        |  FROM inj),
        |b AS (
        |  SELECT doc_id, unnest(generate_series(0, nblk - 1)) AS k, toks
        |  FROM d WHERE nblk > 0),
        |blocks AS (
        |  SELECT doc_id, k,
        |    array_to_string(toks[k*10+1 : k*10+10], ' ') AS blk
        |  FROM b),
        |stats AS (
        |  SELECT blk, COUNT(DISTINCT doc_id) AS ndocs,
        |    MIN(doc_id * 1000000 + k) AS firstkey
        |  FROM blocks GROUP BY blk),
        |occ AS (
        |  SELECT blocks.doc_id, blocks.k,
        |    (ndocs >= 2 AND blocks.doc_id * 1000000 + blocks.k <> firstkey)
        |      AS removed
        |  FROM blocks JOIN stats USING (blk)),
        |kp AS (
        |  SELECT doc_id, COUNT(*) AS n_blocks,
        |    CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_removed,
        |    list(k ORDER BY k) FILTER (WHERE NOT removed) AS kept_ks
        |  FROM occ GROUP BY doc_id),
        |rebuilt AS (
        |  SELECT d.doc_id,
        |    COALESCE(n_blocks, 0) AS n_blocks,
        |    COALESCE(n_removed, 0) AS n_removed,
        |    flatten(list_transform(COALESCE(kept_ks, []),
        |      k -> toks[k*10+1 : k*10+10])) || toks[nblk*10+1 : n_tok] AS rb
        |  FROM d LEFT JOIN kp USING (doc_id))
        |SELECT doc_id, n_blocks, n_removed,
        |  CAST(len(rb) AS BIGINT) AS kept_tok,
        |  -- array_to_string([]) is NULL in DuckDB where Spark's
        |  -- array_join gives '' — a fully-scrubbed doc must hash as ''
        |  md5(COALESCE(array_to_string(rb, ' '), '')) AS scrub_md5
        |FROM rebuilt ORDER BY doc_id""".stripMargin
  )
}
