package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up smoke: materializes a ×K copy of an sf dir (FK-consistent —
  * every key column shifts by the same per-copy offset, so joins produce
  * K disjoint images of the original join graph; dims stay single-copy)
  * and times representative heavy queries at 1× and K×. A design that
  * "would survive 100×" should scale ≈ linearly here; anything
  * super-linear (candidate-pair blowup, global-sort bottleneck, driver
  * loop) shows up as ratio >> K.
  *
  * Note the duplication is itself a stress: documents/embeddings copies
  * are byte-identical, so every doc gains K−1 exact near-dups — the
  * dedup paths see K× docs AND K²-ish intra-cluster pair volume, the
  * worst realistic shape for web-scale dedup.
  *
  * `mutate` flips that adversarial axis: byte-identical copies are
  * absorbed by the exact-dup collapse (every rep graph H stays 1×-sized,
  * so the collapsed-graph machinery is never stressed), so the mutated
  * board perturbs each copy i>0 deterministically — ~3% of tokens
  * substituted per document, ±0.1% relative noise per embedding
  * component — making the copies NEAR-dups instead. H itself then grows
  * ×K and minhash/simhash/ngram/edit/semdedup/components/triangles pay
  * full candidate volume. Mutations are seeded by CONTENT hash (not
  * doc_id), so the base data's exact-dup groups still mutate identically
  * within one copy — the collapse path keeps real work too. Jaccard of a
  * mutated copy vs its source ≈ (1−p)/(1+p) ≈ 0.94 at p=0.03, inside
  * every near-dup threshold the catalog uses, so the pair family still
  * FINDS the twins (candidate volume is paid, not skipped). Copy 0 is
  * unmutated.
  *
  * Usage: runMain graft.ScaleSmoke [srcSfDir] [K] [query,query,...]
  *          [nowarm] [mutate] [shape]
  *
  * `nowarm` skips the untimed JIT warm-up run per (query, dir): for
  * multi-minute ×100 rows the warm-up doubles a long measurement to
  * shave noise that is already <1% of it. `shape` (implies `mutate`)
  * regenerates documents as the natural-shape Zipf corpus — see
  * [[shapeText]] and SCALING.md "The natural-shape twin board".
  */
object ScaleSmoke {

  private val Offset = 1000000000L // > any key in sf0.1

  /** key columns to shift per table; all other columns copy through */
  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val dims = Seq("region", "nation")

  /** splitmix64 finalizer — the deterministic per-(content, copy, pos)
    * stream driving the mutated-twin builder. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def pctLt(h: Long, pct: Int): Boolean =
    java.lang.Long.remainderUnsigned(h, 100L) < pct

  /** ~3% of space-separated tokens replaced by a hash-derived token.
    * Seeded by text CONTENT + copy index: identical texts mutate
    * identically within a copy (exact-dup groups survive per-copy),
    * while each copy mutates differently (copies are near-, not exact-,
    * dups of each other). Pure function — twin boards are reproducible. */
  private[graft] def mutateText(text: String, copy: Int): String = {
    if (text == null || copy == 0) return text
    val base = mix64(text.hashCode.toLong * 0x100000001B3L + copy)
    val toks = text.split(" ", -1)
    var j = 0
    while (j < toks.length) {
      val h = mix64(base + j)
      if (pctLt(h, 3))
        toks(j) = "mt" + java.lang.Long.remainderUnsigned(mix64(h), 99991L)
      j += 1
    }
    toks.mkString(" ")
  }

  /** Natural-shape text generator (r15, verdict item 3): replaces a base
    * doc's text with Zipf-distributed tokens and a lognormal-ish length,
    * seeded by the BASE doc id — the corpus shape where the prefix
    * filter's "rare tokens exist" premise holds, unlike the synthetic
    * documents table (~1k distinct char-4-grams, no rare token
    * anywhere). Combined with the ×K near-dup mutator this builds the
    * natural-shape twin board: copies of one base doc are near-dups of
    * each other, unrelated base docs share only Zipf-head tokens.
    *
    * Token ranks draw from P(r) ∝ 1/r over V=50k (inverse-CDF r = V^u:
    * the head token covers ~6% of positions, like "the" in English);
    * token count is exp(4 + 1.2·z) with z ≈ N(0,1) via Irwin-Hall —
    * median ~55 tokens (~300 chars, the synthetic corpus's center) with
    * a realistic spread of ~30 to ~30k chars. Tokens render as
    * hash-derived ALPHABETIC strings, frequent ranks shorter (Zipf's
    * abbreviation law) — so the CHAR n-gram vocabulary is itself
    * Zipf-diverse like real text (the first draft used "w<rank>"
    * digit tokens, whose ~15-character alphabet collapsed the 4-gram
    * space to a few thousand grams and made every gram common — the
    * exact degeneracy of the synthetic corpus this shaper exists to
    * escape). Pure function. */
  /** Dup-cluster size on the shaped board: copies of one base doc get a
    * FRESH shaped text every `ShapeClusterSize` copies, so near-dup
    * clusters are small (web-realistic — a handful of mirrors per page,
    * not K) and shingle document frequencies aren't floored at K by the
    * copy structure. Measured consequence (×30 board): with one shape
    * per base doc (clusters of 30), every "rare" shingle has df ≥ 30
    * and prefix-filter buckets inflate to 4.5e8 candidates — an
    * artifact of the board, not of natural text. */
  private[graft] val ShapeClusterSize = 3

  private[graft] def shapeText(baseId: Long, shapeGroup: Int): String = {
    // V sized so the Zipf tail contains genuine hapax-class tokens at
    // this corpus's scale (Heaps' law): at V=50k every token — even
    // rank 50k — landed in ~28 docs of a 150k-doc board (15M token
    // draws / V floor the df), so NO rare shingle existed and prefix
    // buckets stayed inflated (measured: 4.6e8 candidates). Real text
    // keeps minting new words as the corpus grows; V=5M restores that.
    val V = 5000000.0
    def unif(x: Long): Double = (mix64(x) >>> 11).toDouble / (1L << 53).toDouble
    val h0 = mix64((baseId + shapeGroup * 0x51ED2701L) * 0x100000001B3L + 0x5EED)
    val z = ((1 to 4).map(i => unif(h0 + i)).sum - 2.0) * 1.732
    val nTok = math.min(5000, math.max(8, math.exp(4.0 + 1.2 * z).toInt))
    val sb = new java.lang.StringBuilder(nTok * 7)
    var j = 0
    while (j < nTok) {
      val r = math.pow(V, unif(h0 + 100 + j)).toLong.max(1L)
      if (j > 0) sb.append(' ')
      // rank -> letters: length 2 + log4(r) (head ranks short), content
      // a deterministic hash of the rank alone so every occurrence of a
      // rank is the same "word"
      val len = 2 + (64 - java.lang.Long.numberOfLeadingZeros(r)) / 2
      var x = mix64(r * 0x9E3779B97F4A7C15L + 7)
      var c = 0
      while (c < len) {
        sb.append(('a' + java.lang.Long.remainderUnsigned(x, 26L)).toChar)
        x = mix64(x)
        c += 1
      }
      j += 1
    }
    sb.toString
  }

  /** ±0.1% relative noise per component, content-seeded like
    * [[mutateText]]: cosine(mutated, source) ≈ 0.9999997 — firmly inside
    * every embedding near-dup threshold, but no longer bit-equal, so the
    * exact-vector collapse cannot absorb the copies. */
  private[graft] def mutateVec(v: Seq[Float], copy: Int): Seq[Float] = {
    if (v == null || copy == 0) return v
    val base = mix64(v.hashCode.toLong + copy * 0x9E3779B9L)
    v.zipWithIndex.map { case (x, j) =>
      val eps = (java.lang.Long.remainderUnsigned(mix64(base + j), 2001L)
        .toInt - 1000) * 1e-6f
      x * (1f + eps)
    }
  }

  def build(spark: SparkSession, src: String, out: String, k: Int,
            mutate: Boolean = false, shape: Boolean = false): Unit = {
    val done = new java.io.File(s"$out/_DONE_$k")
    if (done.exists()) return
    // tooling-only UDFs (twin-board construction, not an engine path)
    val mutTextUdf = udf(mutateText _)
    val mutVecUdf = udf(mutateVec _)
    val shapeTextUdf = udf(shapeText _)
    dims.foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    keyCols.foreach { case (t, keys) =>
      val base = spark.read.parquet(s"$src/$t.parquet")
      val copies = (0 until k).map { i =>
        val shifted0 = keys.foldLeft(base) { (df, c) =>
          df.withColumn(c, col(c) + lit(i * Offset))
        }
        // natural-shape board: regenerate documents text from the BASE
        // id (pre-shift) and the copy's shape group — copies within one
        // group share a shaped text (then diverge under the ×K mutator
        // into near-dups), so dup clusters have ShapeClusterSize
        // members; n_chars re-derived below
        val shifted =
          if (shape && t == "documents")
            shifted0.withColumn("text",
              shapeTextUdf(col("doc_id") - lit(i * Offset),
                lit(i / ShapeClusterSize)))
              // n_chars = length(text) must hold in THIS branch too —
              // main() always pairs shape with mutate (which also
              // re-derives), but build() is callable with mutate=false
              .withColumn("n_chars", length(col("text")).cast("long"))
          else shifted0
        if (!mutate) shifted
        else t match {
          case "documents" => shifted
            .withColumn("text", mutTextUdf(col("text"), lit(i)))
            // n_chars = length(text) in the generated data; keep the
            // invariant on mutated rows or length-blocked operators
            // (PassJoin, quality scores) would read stale lengths
            .withColumn("n_chars", length(col("text")).cast("long"))
          case "embeddings" => shifted
            .withColumn("embedding", mutVecUdf(col("embedding"), lit(i)))
          case _ => shifted
        }
      }
      copies.reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    done.createNewFile()
  }

  private def time(fn: => Unit): Double = {
    val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9
  }

  /** The near-dup pair family — the operators whose candidate volume the
    * mutated board exists to stress (collapsed rep graph H grows ×K). */
  private val mutFamily = Seq(
    "d_exact_dedup", "d_minhash_lsh", "d_simhash", "d_ngram_jaccard",
    "d_dedup_clusters", "d_canonical_docs", "d_leakage_safe_split",
    "d_triangles", "d_incremental_dedup", "d_bloom_incremental",
    "s_embed_neardup", "s_semdedup", "s_srp_lsh", "t_edit_distance",
    "t_winnow_fingerprint", "t_fingerprint", "t_passage_scrub",
    "t_decontaminate")

  def main(args: Array[String]): Unit = {
    val flags = args.drop(3).toSet
    // `shape` (natural-shape Zipf corpus, r15) implies the near-dup
    // mutator — a shaped board without near-dup structure measures
    // nothing the pair family cares about
    val shape = flags.contains("shape")
    val mutate = shape || flags.contains("mutate")
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val k = if (args.length > 1) args(1).toInt else 10
    val names: Seq[String] =
      if (args.length > 2 && args(2) != "-") args(2).split(",").toSeq
      else if (mutate) mutFamily
      else Seq("a1_pricing_summary", "j1_star_revenue", "w2_dedup_latest_event",
        "e_sessionize", "w8_interval_collapse", "w6b_sliding_range_sum",
        "d_exact_dedup", "d_minhash_lsh", "s_cosine_ann_ivf", "t_token_stats")
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_scale_" +
      (if (shape) "z" else if (mutate) "m" else "x") + k
    val spark = graft.core.GraftSession.local(appName = "graft-scale-smoke")
    build(spark, src, out, k, mutate, shape)
    val warmup = !flags.contains("nowarm")
    def run(name: String, dir: String): Double = {
      def once() = org.apache.spark.sql.graft.GraftSql
        .stripTrailingSort(SparkEntry.queries(name)(spark, dir))
        .write.format("noop").mode("overwrite").save()
      // reliable-mode scratch stays bounded by ONE run's
      // materializations (the sink write fully consumed them)
      if (warmup) { // warm (codegen/JIT)
        once(); graft.core.Materialize.releaseScratch(spark)
      }
      try time(once()) finally graft.core.Materialize.releaseScratch(spark)
    }
    println(f"${"query"}%-26s ${"1x_sec"}%8s ${s"${k}x_sec"}%8s ${"ratio"}%6s")
    names.foreach { n =>
      val t1 = run(n, src)
      val tk = run(n, out)
      println(f"$n%-26s $t1%8.2f $tk%8.2f ${tk / t1}%6.1f")
    }
    spark.stop()
  }
}
