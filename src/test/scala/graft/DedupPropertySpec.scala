package graft

import graft.operators.{TextDedup, Windows}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Property tests: the bucketed operators must equal their brute-force /
  * single-task definitions on randomized corpora (fixed seeds — the
  * corpus is deterministic, so these are stable). */
class DedupPropertySpec extends SparkSpec {

  /** 200 random docs + 20 planted near-dup pairs (1-word edits of 60-120
    * word docs → Jaccard ≳ 0.9). Docs are deliberately NOT shorter:
    * simhash's Hamming ≤ 12 recall guarantee erodes below ~0.85 Jaccard
    * (a 1-word edit of a 30-word doc can land at Hamming 13+), which is
    * exactly why d_simhash ships with the widest banded tolerance. */
  private lazy val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(11)
    val vocab = Vector.tabulate(60)(i => s"w$i")
    def doc(len: Int) = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0L until 200L).map(i => i -> doc(60 + rnd.nextInt(60)))
    val dups = (0 until 20).map { i =>
      val (_, text) = base(rnd.nextInt(base.size))
      val words = text.split(" ").toBuffer
      words(rnd.nextInt(words.size)) = vocab(rnd.nextInt(vocab.size)) // 1-word edit
      (200L + i) -> words.mkString(" ")
    }
    // exact twins: byte-identical copies at new ids — a copy of the
    // min-id doc, a TRIPLE group (7 twice), and 12 random copies. They
    // route every pair operator below through the collapseExactDups
    // path while the brute-force references keep scanning all copies.
    val twins = (Seq(0, 7, 7) ++ Seq.fill(12)(rnd.nextInt(base.size)))
      .zipWithIndex.map { case (src, i) => (300L + i) -> base(src)._2 }
    base ++ dups ++ twins
  }

  private def exactPairs(threshold: Double): Set[(Long, Long)] = {
    def shingles(t: String): Set[Seq[String]] =
      t.split(" ").sliding(3).map(_.toSeq).toSet
    val sh = corpus.map { case (id, t) => id -> shingles(t) }
    (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      inter = (sa & sb).size
      if inter > 0 && inter.toDouble / (sa | sb).size >= threshold
    } yield (a, b)).toSet
  }

  test("null-id rows are dropped by the asymmetric candidate joins (r18)") {
    // the symmetric forms' id< condition was null-rejecting by itself;
    // the asymmetric (len, id)-max designation's first branch never
    // touches the ids, so the operators drop null-id rows explicitly —
    // a null-id doc must neither pair nor corrupt least/greatest output
    import org.apache.spark.sql.{Row, types => T}
    val schema = T.StructType(Seq(
      T.StructField("doc_id", T.LongType, nullable = true),
      T.StructField("text", T.StringType, nullable = true)))
    // slice keeps qualifying pairs: base docs 0-39 plus every planted
    // near-dup (200+) and exact twin (300+) whose source lands < 40
    val base = corpus.filter { case (i, _) => i < 40 || i >= 200 }
    def df(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
    val clean = df(base.map { case (i, t) => Row(i, t) })
    // the null-id text is a NEAR-dup (not an exact twin — a twin would
    // drag collapseExactDups' separately-specified null handling into
    // this test) of doc 0, inside the length band: exactly the row the
    // asym join's first branch would otherwise pair and corrupt
    val withNull = df(base.map { case (i, t) => Row(i, t) } :+
      Row(null, base.head._2 + " zz9"))
    def key(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ng = key(TextDedup.ngramJaccardPairs(clean, "doc_id", "text",
      lenCol = length(col("text")), n = 4, threshold = 0.6, blockWidth = 20))
    val ngNull = key(TextDedup.ngramJaccardPairs(withNull, "doc_id", "text",
      lenCol = length(col("text")), n = 4, threshold = 0.6, blockWidth = 20))
    assert(ng == ngNull && ng.nonEmpty)
    val sh = key(TextDedup.simhashPairs(clean, "doc_id", "text",
      shingleN = 3, maxHamming = 15, threshold = 0.5, minShingles = 16))
    val shNull = key(TextDedup.simhashPairs(withNull, "doc_id", "text",
      shingleN = 3, maxHamming = 15, threshold = 0.5, minShingles = 16))
    assert(sh == shNull && sh.nonEmpty)
  }

  /** A null-id row inside an exact-dup group must not change the pair
    * list: min(id) skipped the null, so the group's rep stood in for it
    * in `expand` and every cross pair of the group came out twice. The
    * collapse now keeps null ids out of every dup group, and the
    * candidate joins drop them. */
  test("null-id row in an exact-dup group: each pair emitted once") {
    import org.apache.spark.sql.{DataFrame, Row, types => T}
    import graft.operators.VectorSim
    val t1 = corpus.head._2
    val t2 = t1 + " zz9"
    val docSchema = T.StructType(Seq(
      T.StructField("doc_id", T.LongType, nullable = true),
      T.StructField("text", T.StringType, nullable = true)))
    def docs(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), docSchema)
    val clean = Seq(Row(5L, t1), Row(7L, t1), Row(9L, t2))
    val want = Seq((5L, 7L), (5L, 9L), (7L, 9L))
    def pairs(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    def check(name: String, op: DataFrame => DataFrame,
              rows: Seq[Row] => DataFrame): Unit = {
      assert(pairs(op(rows(clean))) == want, s"$name without the null id")
      assert(pairs(op(rows(Row(null, t1) +: clean))) == want,
        s"$name with a null id in the dup group")
    }
    check("ngramJaccardPairs", d => TextDedup.ngramJaccardPairs(d, "doc_id",
      "text", lenCol = length(col("text")), n = 4, threshold = 0.6), docs)
    check("minhashLshPairs", d => TextDedup.minhashLshPairs(d, "doc_id",
      "text", shingleN = 3, threshold = 0.7), docs)
    check("simhashPairs", d => TextDedup.simhashPairs(d, "doc_id", "text",
      shingleN = 3, maxHamming = 15, threshold = 0.5, minShingles = 16), docs)
    check("ngramJaccardPairsPrefix", d => TextDedup.ngramJaccardPairsPrefix(
      d, "doc_id", "text", n = 4, threshold = 0.85), docs)
    // the vector pair listers: v2 is a small perturbation of v1
    val rnd = new scala.util.Random(71)
    val v1 = Seq.fill(16)((rnd.nextDouble() * 2 - 1).toFloat)
    val v2 = v1.updated(0, v1.head + 0.01f)
    val vecSchema = T.StructType(Seq(
      T.StructField("vec_id", T.LongType, nullable = true),
      T.StructField("label", T.StringType, nullable = true),
      T.StructField("embedding", T.ArrayType(T.FloatType), nullable = true)))
    def vecs(rows: Seq[Row]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map {
        case Row(id, t) => Row(id, "c0", if (t == t1) v1 else v2)
      }, 2), vecSchema)
    check("cellCosinePairs", e => VectorSim.cellCosinePairs(e, "vec_id",
      "embedding", "label", 0.4), vecs)
    check("srp collapse+expand", { e =>
      val c = TextDedup.collapseExactDups(e, "vec_id", Seq(col("embedding")),
        "cos", VectorSim.cosine(col("embedding"), col("embedding")))
      val va = c.reps.select(col("vec_id").as("a"), col("embedding").as("__ea"))
      val vb = c.reps.select(col("vec_id").as("b"), col("embedding").as("__eb"))
      c.expand(VectorSim.srpCandidates(c.reps, "vec_id", "embedding", dims = 16)
        .join(va, "a").join(vb, "b")
        .select(col("a"), col("b"),
          VectorSim.cosine(col("__ea"), col("__eb")).as("cos")))
    }, vecs)
  }

  /** The collapse on degenerate inputs: expand(pairs over reps) must
    * equal the same pair relation brute-forced over the UNCOLLAPSED
    * rows — no duplicate row, no pair with a null id — under single and
    * two-component keys, with a literal and a computed intra value.
    * The pair relation is signature-determined, as the collapse
    * requires: rows pair when their k1 share a first letter, and the
    * value is a function of both rows' keys. */
  test("collapseExactDups degenerate inputs == brute-force pairs over all rows") {
    import org.apache.spark.sql.{DataFrame, Row, types => T}
    type R = (Option[Long], Option[String], Option[String])
    val schema = T.StructType(Seq(
      T.StructField("id", T.LongType, nullable = true),
      T.StructField("k1", T.StringType, nullable = true),
      T.StructField("k2", T.StringType, nullable = true)))
    def r(id: java.lang.Long, k1: String, k2: String): R =
      (Option(id).map(_.longValue), Option(k1), Option(k2))
    val singles = Seq(r(20L, "ac", "y"), r(21L, "ad", "x"), r(22L, "b1", "x"),
      r(23L, "ae", null))
    val cases: Seq[(String, Seq[R])] = Seq(
      "empty" -> Nil,
      "single row" -> Seq(r(1L, "ab", "x")),
      "all identical" -> (1L to 6L).map(i => r(i, "ab", "x")),
      "hot key next to singletons" -> ((1L to 8L).map(i => r(i, "ab", "x")) ++ singles),
      "null key" -> (Seq(r(1L, null, "x"), r(2L, null, "x"), r(3L, "ab", "x"),
        r(4L, "ab", "x")) ++ singles),
      "null keys in a multi-key group" -> (Seq(r(1L, "ab", null), r(2L, "ab", null),
        r(3L, "ab", "x"), r(4L, "ab", "x"), r(5L, "ab", "y")) ++ singles),
      "null id alone" -> (Seq(r(null, "zz", "x"), r(3L, "ab", "x"),
        r(4L, "ab", "x")) ++ singles),
      "null id in a dup group" -> (Seq(r(null, "ab", "x"), r(5L, "ab", "x"),
        r(7L, "ab", "x"), r(9L, "ac", "x")) ++ singles))
    for ((name, rows) <- cases; keys <- Seq(Seq("k1"), Seq("k1", "k2"));
         computed <- Seq(false, true)) {
      val label = s"$name, keys ${keys.mkString("+")}, ${if (computed) "computed" else "literal"}"
      // driver-side relation over every row
      def ks(x: R): Seq[Option[String]] = keys.map(k => if (k == "k1") x._2 else x._3)
      def f(x: R): Double = ks(x).map(_.fold(0)(_.length)).sum.toDouble
      def value(x: R, y: R): Double =
        if (computed) f(x) * f(y) + 0.25
        else if (ks(x).zip(ks(y)).forall { case (p, q) => p.isDefined && p == q }) 1.0
        else 0.5
      val brute = (for {
        x <- rows; y <- rows
        if x._1.isDefined && y._1.isDefined && x._1.get < y._1.get
        if x._2.isDefined && y._2.isDefined && x._2.get.head == y._2.get.head
      } yield (x._1.get, y._1.get, value(x, y))).sorted
      // the same relation in Spark, over the representatives only
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        rows.map(x => Row(x._1.orNull, x._2.orNull, x._3.orNull)), 2), schema)
      def fc(p: String): org.apache.spark.sql.Column = keys
        .map(k => coalesce(length(col(s"$p$k")), lit(0))).reduce(_ + _).cast("double")
      val c = TextDedup.collapseExactDups(df, "id", keys.map(col), "v",
        if (computed) fc("") * fc("") + 0.25 else lit(1.0))
      val x = c.reps.select(col("id").as("xid") +: keys.map(k => col(k).as(s"x$k")): _*)
      val y = c.reps.select(col("id").as("yid") +: keys.map(k => col(k).as(s"y$k")): _*)
      val same = keys.map(k => col(s"x$k") === col(s"y$k")).reduce(_ && _)
      val repPairs = x.join(y, substring(col("xk1"), 1, 1) === substring(col("yk1"), 1, 1) &&
          col("xid") < col("yid"))
        .select(col("xid").as("a"), col("yid").as("b"),
          (if (computed) fc("x") * fc("y") + 0.25
           else when(same, lit(1.0)).otherwise(lit(0.5))).as("v"))
      val got = c.expand(repPairs).collect().map(r => (r.get(0), r.get(1), r.getDouble(2)))
      assert(got.forall { case (a, b, _) => a != null && b != null }, s"$label: null id")
      val gotPairs = got.toSeq
        .map { case (a, b, v) => (a.asInstanceOf[Long], b.asInstanceOf[Long], v) }.sorted
      assert(gotPairs == brute, s"$label: got $gotPairs, want $brute")
      // every dup group's rep is its minimum member, and no null id is a member
      val members = c.dupMembers.collect().map(r => (r.get(0), r.get(1)))
      assert(members.forall { case (rep, m) => rep != null && m != null }, s"$label: null member")
      members.groupBy(_._1).foreach { case (rep, ms) =>
        assert(ms.map(_._2.asInstanceOf[Long]).min == rep, s"$label: rep $rep is not the group min")
      }
    }
  }

  /** Float-array keys group under Spark's normalized float equality:
    * -0.0 equals 0.0 and every NaN bit pattern equals every other. The
    * collapse's window key leads with xxhash64 of the keys, which must
    * hash such keys equal or it would split their group. */
  test("collapseExactDups: -0.0/0.0 and NaN payloads group as under normalized equality") {
    import org.apache.spark.sql.{Row, types => T}
    // one vector list per element type: num boxes a number, nan(i) the
    // i-th NaN bit pattern (quiet, quiet with payload, negative, signaling)
    def vectors(num: Double => AnyRef, nan: Int => AnyRef): Seq[(Long, Seq[AnyRef])] = Seq(
      1L -> Seq(num(0.0), num(1.0)), 2L -> Seq(num(-0.0), num(1.0)),      // {1, 2}
      3L -> Seq(nan(0), num(2.0)), 4L -> Seq(nan(1), num(2.0)),
      5L -> Seq(nan(2), num(2.0)), 6L -> Seq(nan(3), num(2.0)),          // {3, 4, 5, 6}
      7L -> Seq(num(-0.0), nan(1)), 8L -> Seq(num(0.0), nan(2)),         // {7, 8}
      9L -> Seq(null, num(3.0)), 10L -> Seq(null, num(3.0)),             // {9, 10}
      11L -> Seq(num(1.0), num(1.0)), 12L -> Seq(num(1.0), num(1.5)),
      13L -> Seq(num(3.0), null))
    val want = Map(1L -> Set(1L, 2L), 3L -> Set(3L, 4L, 5L, 6L), 7L -> Set(7L, 8L),
      9L -> Set(9L, 10L))
    val floatNaN = Seq(0x7fc00000, 0x7fc00001, 0xffc00000, 0x7f800001)
    val doubleNaN = Seq(0x7ff8000000000000L, 0x7ff8000000000001L,
      0xfff8000000000000L, 0x7ff0000000000001L)
    val types: Seq[(T.DataType, Double => AnyRef, Int => AnyRef, Any => Long)] = Seq(
      (T.FloatType, d => Float.box(d.toFloat),
        i => Float.box(java.lang.Float.intBitsToFloat(floatNaN(i))),
        x => java.lang.Float.floatToRawIntBits(x.asInstanceOf[Float]).toLong),
      (T.DoubleType, d => Double.box(d),
        i => Double.box(java.lang.Double.longBitsToDouble(doubleNaN(i))),
        x => java.lang.Double.doubleToRawLongBits(x.asInstanceOf[Double])))
    for ((elem, num, nan, rawBits) <- types) {
      val schema = T.StructType(Seq(T.StructField("id", T.LongType),
        T.StructField("v", T.ArrayType(elem, containsNull = true))))
      // a local relation: Java serialization (an RDD of Rows) would
      // canonicalize the NaNs before Spark ever saw them
      import scala.jdk.CollectionConverters._
      val df = spark.createDataFrame(
        vectors(num, nan).map { case (id, v) => Row(id, v) }.asJava, schema)
      // the four NaN patterns reach the operator unnormalized
      val bits = df.filter(col("id").between(3L, 6L)).collect()
        .map(r => rawBits(r.getSeq[Any](1).head)).toSet
      assert(bits.size == 4, s"$elem: NaN payloads were normalized on the way in: $bits")
      val c = TextDedup.collapseExactDups(df, "id", Seq(col("v")))
      val got = c.dupMembers.collect().map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (rep, ms) => rep -> ms.map(_._2).toSet }
      assert(got == want, s"$elem: groups $got, want $want")
      assert(c.reps.count() == 13 - want.values.map(_.size - 1).sum, s"$elem: reps")
    }
  }


  test("minhashLshPairs == driver-side brute-force exact Jaccard") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val got = TextDedup.minhashLshPairs(docs, "doc_id", "text",
        shingleN = 3, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exactPairs(0.7) && got.nonEmpty)
    // r16: the broadcastVerify override (family-wide verify-budget
    // discipline) is plan-only — both values produce the same pair set
    Seq(true, false).foreach { b =>
      val o = TextDedup.minhashLshPairs(docs, "doc_id", "text",
          shingleN = 3, threshold = 0.7, broadcastVerify = Some(b))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(o == got, s"broadcastVerify=Some($b) changed the pair set")
    }
  }

  test("simhashPairs == { pairs with Hamming <= maxHamming AND Jaccard >= t }") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val got = TextDedup.simhashPairs(docs, "doc_id", "text",
        shingleN = 3, maxHamming = 12, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the operator's exact contract: banded recall is guaranteed for
    // Hamming <= maxHamming (pigeonhole), then the exact-Jaccard filter
    val sims = docs
      .select(col("doc_id"),
        TextDedup.simhash64(TextDedup.wordShingles(col("text"), 3)).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = exactPairs(0.5).filter { case (a, b) =>
      java.lang.Long.bitCount(sims(a) ^ sims(b)) <= 12
    }
    assert(got == want && got.nonEmpty)
  }

  test("prefix-filter ngram join == brute-force exact pairs (recall proof)") {
    import spark.implicits._
    // char-4-gram ground truth over the word corpus
    def charShingles(t: String): Set[String] =
      t.sliding(4).toSet
    val want = (for {
      (a, ta) <- corpus; (b, tb) <- corpus if a < b
      sa = charShingles(ta); sb = charShingles(tb)
      inter = (sa & sb).size
      if inter > 0 && inter.toDouble / (sa ++ sb).size >= 0.6
    } yield (a, b)).toSet
    val got = TextDedup.ngramJaccardPairsPrefix(
        corpus.toDF("doc_id", "text"), "doc_id", "text", n = 4, threshold = 0.6)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("ngramJaccardPairsPrefix t=0.85: broadcast override is plan-only; collapse expands twins") {
    // r16 parity contract (VERDICT r15 #3/#4): the prefix path is the
    // documented route for t >= 0.85, wrapped in collapseExactDups and
    // carrying the same broadcastVerify override as the blocked path.
    // Both override values must produce the identical pair set (the
    // override changes plan shape only), equal to brute force — and the
    // corpus's exact-twin groups must surface as jaccard-1.0 pairs
    // through the collapse expansion.
    import spark.implicits._
    def charShingles(t: String): Set[String] = t.sliding(4).toSet
    val want = (for {
      (a, ta) <- corpus; (b, tb) <- corpus if a < b
      sa = charShingles(ta); sb = charShingles(tb)
      inter = (sa & sb).size
      if inter > 0 && inter.toDouble / (sa ++ sb).size >= 0.85
    } yield (a, b)).toSet
    val docs = corpus.toDF("doc_id", "text")
    def run(bcast: Boolean) = TextDedup.ngramJaccardPairsPrefix(
        docs, "doc_id", "text", n = 4, threshold = 0.85,
        broadcastVerify = Some(bcast))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val onB = run(bcast = true)
    val offB = run(bcast = false)
    assert(onB.map(r => (r._1, r._2)).toSet == want && want.nonEmpty)
    assert(onB.sortBy(r => (r._1, r._2)).toSeq ==
      offB.sortBy(r => (r._1, r._2)).toSeq)
    // the exact-twin pairs (0, 300) and (7's triple group) ride the
    // collapse's intra expansion at literal 1.0
    val byPair = onB.map(r => (r._1, r._2) -> r._3).toMap
    assert(byPair.get((0L, 300L)).contains(1.0))
    assert(byPair.get((301L, 302L)).contains(1.0))
  }

  test("asofJoin == brute-force latest-at-or-before on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // ~40% of right payloads null to stress atomic struct carry; right
    // rows unique per (key, ts) by construction
    val left = Seq.fill(400)((rnd.nextInt(20).toLong, rnd.nextInt(1000)))
      .zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      .toDF("lid", "k", "t")
    val right = rnd.shuffle((0 until 1000).toList).take(300)
      .map { t =>
        (rnd.nextInt(20).toLong, t,
          if (rnd.nextBoolean()) s"p$t" else null,
          if (rnd.nextDouble() < 0.4) null else s"q$t")
      }.distinct.toDF("k", "rt", "rv1", "rv2")
        .dropDuplicates("k", "rt")
    val got = graft.operators.AsOf
      .asofJoin(left, right, Seq("k"), "t", "rt", Seq("rv1", "rv2"))
      .select("lid", "rv1", "rv2").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2))))
      .toSet
    // brute force: for each left row take the max rt <= t, both payloads
    // from THAT row (nulls stay null — no backfill)
    val rightRows = right.collect()
      .map(r => (r.getLong(0), r.getInt(1), Option(r.getString(2)), Option(r.getString(3))))
    val want = left.collect().map { lr =>
      val (lid, k, t) = (lr.getLong(0), lr.getLong(1), lr.getInt(2))
      val m = rightRows.filter(rr => rr._1 == k && rr._2 <= t)
        .sortBy(_._2).lastOption
      (lid, m.flatMap(_._3), m.flatMap(_._4))
    }.toSet
    assert(got == want)
  }

  test("hashed-shingle jaccard == string-shingle jaccard on every pair") {
    // the round-4 verify path carries sorted 64-bit hash arrays instead
    // of string arrays; absent collisions (~k²/2⁶⁴) the Jaccard values
    // must be IDENTICAL doubles on every candidate pair
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val a = docs.alias("a"); val b = docs.alias("b")
    val pairs = a.join(b, col("a.doc_id") < col("b.doc_id"))
      .select(
        TextDedup.jaccard(
          TextDedup.charShingles(col("a.text"), 4),
          TextDedup.charShingles(col("b.text"), 4)).as("js"),
        TextDedup.jaccardSorted(
          TextDedup.charShingleHashes(col("a.text"), 4),
          TextDedup.charShingleHashes(col("b.text"), 4)).as("jh"),
        TextDedup.jaccardSorted(
          TextDedup.hashedShingles(TextDedup.wordShingles(col("a.text"), 3)),
          TextDedup.hashedShingles(TextDedup.wordShingles(col("b.text"), 3))).as("jw"),
        TextDedup.jaccard(
          TextDedup.wordShingles(col("a.text"), 3),
          TextDedup.wordShingles(col("b.text"), 3)).as("jws"))
    assert(pairs.filter(col("js") =!= col("jh") ||
      col("jw") =!= col("jws")).count() == 0)
    assert(pairs.filter(col("js") > 0.1).count() > 0) // non-degenerate
  }

  test("multi-probe IVF with nprobe = #cells == brute force (exhaustive probe)") {
    import graft.operators.VectorSim
    val emb = graft.core.Tables.embeddings(spark, sf001)
    val q = emb.filter(col("vec_id") < 5)
    def key(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
      df.select("q_id", "rnk", "nn_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val exhaustive = key(VectorSim.ivfCosineTopKMultiProbe(
      emb, q, "vec_id", "embedding", "label", k = 5, nprobe = 10))
    val brute = key(VectorSim.bruteForceCosineTopK(
      emb, q, "vec_id", "embedding", k = 5))
    assert(exhaustive == brute && brute.nonEmpty)
  }

  test("sq8 ANN recall vs brute force is monotone in oversample") {
    import graft.operators.VectorSim
    val emb = graft.core.Tables.embeddings(spark, sf001)
    val q = emb.filter(col("vec_id") < 10)
    val brute = VectorSim.bruteForceCosineTopK(emb, q, "vec_id", "embedding", 5)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalls = Seq(1, 2, 4).map { os =>
      val got = VectorSim.sq8CosineTopK(emb, q, "vec_id", "embedding", 5, os)
        .select("q_id", "nn_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & brute).size.toDouble / brute.size
    }
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall not monotone in oversample: $recalls")
    assert(recalls.head > 0.5, s"sq8 candidate quality floor broken: $recalls")
    assert(recalls.last > 0.9, s"oversample=4 should be near-exhaustive: $recalls")
  }

  /** Reference reimplementation of NativeEval.winnowFingerprints. */
  private def bruteWinnow(text: String, k: Int = 5, w: Int = 8): Seq[Long] = {
    val cps = text.codePoints().toArray
    if (cps.length < k) return Seq.empty
    val M = 2147483647L
    val hs = (0 to cps.length - k).map { i =>
      (i until i + k).foldLeft(0L)((acc, j) => (acc * 31 + cps(j)) % M)
    }
    val nw = math.max(hs.length - w + 1, 1)
    (0 until nw).map(j => hs.slice(j, math.min(j + w, hs.length)).min)
      .distinct.sorted
  }

  test("winnowing: expression == reimplementation, pair join == shared-fp sets") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        TextDedup.winnowFingerprints(col("text"), 5, 8).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val want = corpus.map { case (id, t) => id -> bruteWinnow(t) }.toMap
    assert(got == want)

    val fpSets = want.view.mapValues(_.toSet).toMap
    val wantPairs = (for {
      (a, sa) <- fpSets; (b, sb) <- fpSets if a < b
      shared = (sa & sb).size if shared >= 3
    } yield (a, b, shared.toLong)).toSet
    val gotPairs = TextDedup.winnowPairs(docs, "doc_id", "text",
        k = 5, w = 8, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotPairs == wantPairs && gotPairs.nonEmpty)

    // the winnowing guarantee: a shared substring of >= w+k-1 = 12 chars
    // forces at least one shared fingerprint
    val shared = "the quick brown fox jumps"
    val g = Seq((1L, s"aaaa $shared zzzz"), (2L, s"qqqq $shared mmmm"))
      .toDF("doc_id", "text")
    assert(TextDedup.winnowPairs(g, "doc_id", "text", minShared = 1)
      .count() == 1)
  }

  test("dedupAgainstIndex == cross-side restriction of the all-pairs join") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val batchIds = corpus.map(_._1).filter(_ % 10 == 3).toSet
    val batch = docs.filter(col("doc_id") % 10 === 3)
    val index = TextDedup.buildMinhashIndex(
      docs.filter(col("doc_id") % 10 =!= 3), "doc_id", "text", shingleN = 3)
    def run(bcast: Option[Boolean]) = TextDedup.dedupAgainstIndex(batch, index,
        "doc_id", "text", shingleN = 3, threshold = 0.7,
        broadcastBatch = bcast)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = run(Some(true))
    // ground truth: exact pairs with exactly one endpoint in the batch,
    // oriented (batch, corpus)
    val want = exactPairs(0.7).collect {
      case (a, b) if batchIds(a) && !batchIds(b) => (a, b)
      case (a, b) if !batchIds(a) && batchIds(b) => (b, a)
    }
    assert(got == want && got.nonEmpty)
    // r16: the broadcastBatch override is plan-only — the planner-shaped
    // fallback AND the default estimate path (None: a construction-time
    // bounded aggregate derives the decision) must produce the identical
    // pair set
    assert(run(Some(false)) == want)
    assert(run(None) == want)
  }

  test("multi-probe IVF recall vs brute force is monotone in nprobe") {
    import graft.operators.VectorSim
    val emb = graft.core.Tables.embeddings(spark, sf001)
    val q = emb.filter(col("vec_id") < 20)
    def keys(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "nn_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = keys(VectorSim.bruteForceCosineTopK(
      emb, q, "vec_id", "embedding", k = 10))
    val recalls = Seq(1, 2, 4).map { np =>
      val ann = keys(VectorSim.ivfCosineTopKMultiProbe(
        emb, q, "vec_id", "embedding", "label", k = 10, nprobe = np))
      np -> (ann & brute).size.toDouble / brute.size
    }
    // a true top-k neighbor found under a smaller probe set cannot leave
    // the top-k under a wider one (anything outranking it has higher
    // cosine, and globally only k-1 such items exist), so recall is
    // monotone in nprobe. The synthetic embeddings are label-uniform
    // (cells carry no semantic locality — measured own-cell recall
    // ≈ 0.13), so the curve should track ~nprobe/cells: assert monotone,
    // a sane floor, and strict growth by nprobe=4.
    recalls.sliding(2).foreach { case Seq((_, r1), (_, r2)) =>
      assert(r1 <= r2 + 1e-12, s"recall not monotone: $recalls")
    }
    assert(recalls.head._2 > 0.02 && recalls.last._2 > recalls.head._2,
      s"recall curve degenerate: $recalls")
  }

  /** The top-k family on degenerate corpora, each operator against a
    * driver-side brute reference: fewer than k candidates, tied scores
    * (the id decides), a zero vector (NaN cosine), a null vector and an
    * empty query set. A vector without a direction (zero or null) has
    * no defined cosine, so it is nobody's neighbour and has none; the
    * multi-probe probe choice ranks cells as Spark orders doubles
    * (NaN above every value, NULL last, then the cell). */
  test("top-k degenerate inputs == driver-side brute reference") {
    import org.apache.spark.sql.{DataFrame, Row, types => T}
    import graft.operators.VectorSim
    import Ordering.Double.TotalOrdering
    type Vec = (Long, Int, Seq[Float]) // (vec_id, label, embedding or null)
    val schema = T.StructType(Seq(
      T.StructField("vec_id", T.LongType),
      T.StructField("label", T.IntegerType),
      T.StructField("embedding", T.ArrayType(T.FloatType))))
    def frame(vs: Seq[Vec]): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(vs.map { case (i, c, v) => Row(i, c, v) }, 2), schema)
    val rnd = new scala.util.Random(73)
    def vec(): Seq[Float] = Seq.fill(4)((rnd.nextDouble() * 2 - 1).toFloat)
    def rand(ids: Range): Seq[Vec] = ids.map(i => (i.toLong, i % 3, vec()))
    val same = vec()
    val zero = Seq.fill(4)(0.0f)
    // NativeEval.cosine's sequential fold, so scores are bit-identical
    def cosine(a: Seq[Float], b: Seq[Float]): Option[Double] =
      if (a == null || b == null) None
      else {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        a.zip(b).foreach { case (x, y) =>
          dot += x.toDouble * y; na += x.toDouble * x; nb += y.toDouble * y }
        Some(dot / (math.sqrt(na) * math.sqrt(nb)))
      }
    def defined(s: Option[Double]): Option[Double] = s.filterNot(_.isNaN)
    type Out = (Long, Int, Long, Long) // (q_id, rnk, nn_id, cos bits)
    // score desc (signed zeros equal), then id
    def rank(cands: Seq[(Long, Double)]): Seq[(Long, Double)] =
      cands.sortBy { case (id, s) => (0.0 - s, id) }
    def topK(qs: Seq[Vec], k: Int)(cands: Vec => Seq[(Long, Double)]): Seq[Out] =
      qs.flatMap { q =>
        rank(cands(q)).take(k).zipWithIndex.map { case ((id, s), i) =>
          (q._1, i + 1, id, java.lang.Double.doubleToLongBits(s)) }
      }.sorted
    def scored(q: Vec, cs: Seq[Vec]): Seq[(Long, Double)] =
      cs.filter(_._1 != q._1).flatMap(c => defined(cosine(q._3, c._3)).map(c._1 -> _))
    def brute(cs: Seq[Vec], qs: Seq[Vec], k: Int): Seq[Out] =
      topK(qs, k)(q => scored(q, cs))
    def ivf(cs: Seq[Vec], qs: Seq[Vec], k: Int): Seq[Out] =
      topK(qs, k)(q => scored(q, cs.filter(_._2 == q._2)))
    def multiProbe(cs: Seq[Vec], qs: Seq[Vec], k: Int, nprobe: Int): Seq[Out] = {
      val reps = cs.groupBy(_._2).toSeq.map { case (cell, m) => cell -> m.minBy(_._1)._3 }
      def sparkDesc(s: Option[Double]): (Int, Double) = s match {
        case None => (2, 0.0)
        case Some(x) if x.isNaN => (0, 0.0)
        case Some(x) => (1, 0.0 - x)
      }
      topK(qs, k) { q =>
        val probed = reps.sortBy { case (cell, r) => (sparkDesc(cosine(q._3, r)), cell) }
          .take(nprobe).map(_._1).toSet
        scored(q, cs.filter(c => probed(c._2)))
      }
    }
    def sq8(cs: Seq[Vec], qs: Seq[Vec], k: Int, oversample: Int): Seq[Out] = {
      def hasDirection(v: Vec) = v._3 != null && v._3.exists(_ != 0.0f)
      def codes(v: Seq[Float]): Seq[Long] = {
        val mx = v.map(x => math.abs(x.toDouble)).max
        v.map(x => math.floor(x.toDouble * 127.0 / mx + 0.5).toLong.toByte.toLong)
      }
      def dot(a: Seq[Long], b: Seq[Long]): Long = a.zip(b).map { case (x, y) => x * y }.sum
      def qcos(a: Seq[Long], b: Seq[Long]): Double =
        dot(a, b).toDouble / (math.sqrt(dot(a, a).toDouble) * math.sqrt(dot(b, b).toDouble))
      val idx = cs.filter(hasDirection)
      topK(qs.filter(hasDirection), k) { q =>
        val pool = rank(idx.filter(_._1 != q._1).map(c => c._1 -> qcos(codes(q._3), codes(c._3))))
          .take(k * oversample).map(_._1).toSet
        scored(q, cs.filter(c => pool(c._1)))
      }
    }
    def got(df: DataFrame): Seq[Out] =
      df.select("q_id", "rnk", "nn_id", "cos").collect().map { r =>
        assert(!r.anyNull, s"output row with a null: $r")
        (r.getLong(0), r.getInt(1), r.getLong(2), java.lang.Double.doubleToLongBits(r.getDouble(3)))
      }.toSeq.sorted
    val few = rand(0 until 3)
    val tied = (0L until 6L).map(i => (i, (i % 2).toInt, same)) ++ rand(6 until 10)
    val withZero = Seq((0L, 0, zero)) ++ rand(1 until 8) :+ ((8L, 2, zero))
    val withNull = rand(0 until 8).map(v => if (v._1 == 1L) (1L, 1, null) else v) :+
      ((8L, 1, null: Seq[Float]))
    // (corpus, queries, k)
    val cases: Seq[(String, Seq[Vec], Seq[Vec], Int)] = Seq(
      ("fewer than k candidates", few, Seq(few.head, (50L, 0, vec())), 5),
      ("tied scores", tied, Seq(tied.head, (60L, 1, same), (61L, 2, vec())), 3),
      ("zero vector", withZero, Seq(withZero(1), (70L, 0, zero), withZero(8)), 3),
      ("null vector", withNull, Seq(withNull(2), (80L, 1, null), withNull(8)), 3),
      ("empty query set", rand(0 until 10), Seq.empty, 3))
    for ((name, cs, qs, k) <- cases) {
      val (c, q) = (frame(cs), frame(qs))
      def check(op: String, df: DataFrame, want: Seq[Out]): Unit = {
        val g = got(df)
        assert(g == want, s"$name, $op:\n got  $g\n want $want")
      }
      check("bruteForceCosineTopK",
        VectorSim.bruteForceCosineTopK(c, q, "vec_id", "embedding", k), brute(cs, qs, k))
      check("ivfCosineTopK",
        VectorSim.ivfCosineTopK(c, q, "vec_id", "embedding", "label", k), ivf(cs, qs, k))
      for (os <- Seq(1, 3)) check(s"sq8CosineTopK oversample=$os",
        VectorSim.sq8CosineTopK(c, q, "vec_id", "embedding", k, os), sq8(cs, qs, k, os))
      for (np <- Seq(1, 3)) check(s"ivfCosineTopKMultiProbe nprobe=$np",
        VectorSim.ivfCosineTopKMultiProbe(c, q, "vec_id", "embedding", "label", k, np),
        multiProbe(cs, qs, k, np))
      if (name == "tied scores") // the id decides among the five equal copies
        assert(brute(cs, qs, k).filter(_._1 == 60L).map(_._3) == Seq(0L, 1L, 2L))
    }
  }

  test("globalRowNumber / scalableNtile == single-task window equivalents") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val df = Seq.fill(5000)((rnd.nextInt(1000), rnd.nextLong())).zipWithIndex
      .map { case ((v, salt), i) => (i.toLong, v, salt) }
      .toDF("id", "v", "salt")
    val order = Seq(col("v"), col("id"))

    val gotRank = Windows.globalRowNumber(df, order, "rn")
      .select("id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val wantRank = df.withColumn("rn",
        row_number().over(Window.orderBy(order: _*)).cast("long"))
      .select("id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gotRank == wantRank)

    // k=1 (degenerate single tile) and k=6000 > n (size==0 branch:
    // every row is its own tile) are the arithmetic edge cases
    for (k <- Seq(1, 3, 4, 7, 16, 6000)) {
      val got = Windows.scalableNtile(df, order, k, "tile")
        .select("id", "tile").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      val want = df.withColumn("tile", ntile(k).over(Window.orderBy(order: _*)))
        .select("id", "tile").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(got == want, s"ntile($k) mismatch")
    }

    // duplicate ORDER keys (ties): per-row assignment is engine-choice,
    // but rows of equal v occupy a contiguous index range under any
    // stable order, so the per-KEY histogram of (v, tile) counts is
    // fully determined — compare it, not just tile sizes (tile sizes
    // alone are a function of n and k and would pass a ntile that
    // routes the wrong keys into each tile)
    val dup = Seq.tabulate(997)(i => (i.toLong, i % 7)).toDF("id", "v")
    for (k <- Seq(2, 5, 32)) {
      def hist(df: org.apache.spark.sql.DataFrame) = df
        .groupBy("v", "tile").count().collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      val got = hist(Windows.scalableNtile(dup, Seq(col("v")), k, "tile"))
      val want = hist(dup.withColumn("tile",
        ntile(k).over(Window.orderBy(col("v")))))
      assert(got == want, s"tie-case ntile($k) (v, tile) histogram mismatch")
    }
  }

  test("bloom-gated markNew == brute-force set membership on random corpora") {
    import graft.operators.BloomIndex
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // 5 randomized rounds, varying sizes and overlap rates, incl. an
    // empty batch and a fully-duplicated batch
    val shapes = Seq((500, 100, 0.3), (50, 200, 0.0), (300, 0, 0.5),
      (120, 120, 1.0), (1, 1, 1.0))
    for (((nCorpus, nBatch, dupRate), round) <- shapes.zipWithIndex) {
      val corpusTexts = (0 until nCorpus).map(i => s"r$round corpus $i ${rnd.nextInt(1000)}")
      val batchTexts = (0 until nBatch).map { i =>
        if (rnd.nextDouble() < dupRate && corpusTexts.nonEmpty)
          corpusTexts(rnd.nextInt(corpusTexts.size))
        else s"r$round fresh $i ${rnd.nextInt(1000)}"
      }
      val hashOf = when(col("text").isNotNull, xxhash64(col("text")))
      val idx = corpusTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text").withColumn("__h", hashOf).select("id", "__h")
      val batch = batchTexts.zipWithIndex.map { case (t, i) => (10000L + i, t) }
        .toDF("id", "text").withColumn("__h", hashOf)
      val bf = BloomIndex.buildLongBloom(idx, "__h", fpp = 0.05)
      val marked = BloomIndex.markNewAgainstHashIndex(batch, "id", "__h",
          idx, BloomIndex.broadcastBloom(spark, bf))
        .select("id", "is_new").as[(Long, Boolean)].collect().toMap
      val corpusSet = corpusTexts.toSet
      batchTexts.zipWithIndex.foreach { case (t, i) =>
        val want = !corpusSet.contains(t)
        assert(marked(10000L + i) == want,
          s"round $round: '$t' marked ${marked(10000L + i)}, want $want")
      }
    }
  }

  test("passageScrub == driver-side reference on randomized planted corpora") {
    // semantic proof independent of the DuckDB replica: random docs
    // (incl. sub-block and empty), planted block-aligned shared passages,
    // and exact copies — the scrubbed frame must equal a straightforward
    // driver-side reimplementation of keep-first block dedup, token for
    // token
    import spark.implicits._
    val B = 10
    val rnd = new scala.util.Random(77)
    val vocab = Vector.tabulate(30)(i => s"v$i")
    def doc(len: Int) = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0L until 120L).map(i => i -> doc(rnd.nextInt(46)))
    val shared = doc(B) // one 10-token passage planted at aligned offsets
    val planted = (0 until 15).map { i =>
      val pre = doc(B * rnd.nextInt(3)) // 0/10/20 tokens -> stays aligned
      val post = doc(rnd.nextInt(25))
      (200L + i) -> Seq(pre, shared, post).filter(_.nonEmpty).mkString(" ")
    }
    val copies = (0 until 10).map(i => (300L + i) -> base(rnd.nextInt(base.size))._2)
    val corpus = base ++ planted ++ copies

    // driver-side reference
    val occ = for {
      (id, t) <- corpus
      toks = t.split(" ")
      k <- 0 until toks.length / B
    } yield (id, k, toks.slice(k * B, k * B + B).mkString(" "))
    val removed: Set[(Long, Int)] = occ.groupBy(_._3).values.flatMap { os =>
      if (os.map(_._1).distinct.size >= 2) {
        val first = os.minBy(o => o._1 * 1000000L + o._2)
        os.filterNot(o => (o._1, o._2) == ((first._1, first._2)))
          .map(o => (o._1, o._2))
      } else Nil
    }.toSet
    val expected = corpus.map { case (id, t) =>
      val toks = t.split(" ")
      val nblk = toks.length / B
      val keptBlocks = (0 until nblk).filterNot(k => removed((id, k)))
        .flatMap(k => toks.slice(k * B, k * B + B))
      val tail = toks.drop(nblk * B).toSeq
      id -> ((nblk.toLong, (0 until nblk).count(k => removed((id, k))).toLong,
        keptBlocks ++ tail))
    }.toMap

    val got = TextDedup.passageScrub(corpus.toDF("doc_id", "text"),
        "doc_id", "text", B)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getSeq[String](3)))).toMap
    assert(got.keySet == expected.keySet)
    for ((id, exp) <- expected)
      assert(got(id) == exp, s"doc $id: got ${got(id)}, want $exp")
    // the planted passage must survive exactly once across the corpus
    val survivors = got.values.map(_._3.mkString(" "))
      .count(_.contains(shared))
    assert(removed.nonEmpty && survivors >= 1)
  }

  test("PassJoin pigeonhole blocking is lossless for ed<=5 head pairs") {
    // randomized replica of t_edit_distance's candidate generation
    // (TextQueries "t_edit_distance"): any doc pair inside the oracle's
    // semantics (|n_chars diff| <= 10, levenshtein of 40-char heads <= 5)
    // must be admitted by segments(a) ⋈ probes(b) (both heads full) or by
    // the short-head fallback pool (min length < 40, both <= 49).
    // Pure-driver property: the claim is about the blocking scheme's
    // combinatorics, not the Spark plan (the plan is oracle-hash-proven).
    val segStarts = Seq(1, 8, 15, 22, 29, 35)
    val segLens = Seq(7, 7, 7, 7, 6, 6)
    def head(s: String) = s.take(40)
    def segments(h: String): Set[(Int, String)] =
      (0 until 6).map(i =>
        i -> h.slice(segStarts(i) - 1, segStarts(i) - 1 + segLens(i))).toSet
    def probes(h: String): Set[(Int, String)] =
      (for {
        i <- 0 until 6; d <- -5 to 5; st = segStarts(i) + d
        if st >= 1 && st <= 40 - segLens(i) + 1
      } yield (i, h.slice(st - 1, st - 1 + segLens(i)))).toSet
    def ed(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = dp(0); dp(0) = j
        for (i <- 1 to a.length) {
          val cur = dp(i)
          dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      dp(a.length)
    }
    def admitted(la: Int, ha: String, lb: Int, hb: String): Boolean = {
      val full = la >= 40 && lb >= 40 &&
        (segments(ha) & probes(hb)).nonEmpty
      val short = math.min(la, lb) < 40 && la <= 49 && lb <= 49
      full || short
    }
    val rnd = new scala.util.Random(4242)
    val alpha = "abcde" // small alphabet: edits often collide/cancel
    var tested = 0
    for (trial <- 0 until 5000) {
      val la = 35 + rnd.nextInt(26) // 35..60
      val sa = Seq.fill(la)(alpha(rnd.nextInt(alpha.length))).mkString
      // mutate with up to 5 random edits (ins/del/sub anywhere)
      var t = sa
      for (_ <- 0 until rnd.nextInt(6)) {
        val p = rnd.nextInt(t.length + 1)
        rnd.nextInt(3) match {
          case 0 if p < t.length => // substitute
            t = t.updated(p, alpha(rnd.nextInt(alpha.length)))
          case 1 => // insert
            t = t.take(p) + alpha(rnd.nextInt(alpha.length)) + t.drop(p)
          case _ if t.length > 1 && p < t.length => // delete
            t = t.take(p) + t.drop(p + 1)
          case _ => ()
        }
      }
      val (lb, sb) = (t.length, t)
      val d = ed(head(sa), head(sb))
      if (math.abs(la - lb) <= 10 && d <= 5) {
        tested += 1
        assert(admitted(la, head(sa), lb, head(sb)),
          s"trial $trial: missed pair ed=$d la=$la lb=$lb\n a=$sa\n b=$sb")
        assert(admitted(lb, head(sb), la, head(sa)), // either join order
          s"trial $trial (swapped): missed pair ed=$d la=$la lb=$lb")
      }
    }
    assert(tested > 2000, s"only $tested in-threshold pairs generated")

    // the OPERATOR (TextDedup.passJoinCandidates, the round-10 library
    // promotion t_edit_distance is the oracle proof of) must admit every
    // in-band, in-threshold pair end-to-end on a randomized corpus —
    // the Spark plan, not just the driver-side combinatorics above
    import spark.implicits._
    val rnd2 = new scala.util.Random(777)
    val alpha2 = "abcde"
    val docs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    for (i <- 0 until 150) {
      val la = 30 + rnd2.nextInt(36) // 30..65: spans the short-head branch
      val sa = Seq.fill(la)(alpha2(rnd2.nextInt(alpha2.length))).mkString
      docs += ((i.toLong * 2, sa))
      var t = sa
      for (_ <- 0 until rnd2.nextInt(6)) {
        val p = rnd2.nextInt(t.length + 1)
        rnd2.nextInt(3) match {
          case 0 if p < t.length =>
            t = t.updated(p, alpha2(rnd2.nextInt(alpha2.length)))
          case 1 => t = t.take(p) + alpha2(rnd2.nextInt(alpha2.length)) + t.drop(p)
          case _ if t.length > 1 && p < t.length => t = t.take(p) + t.drop(p + 1)
          case _ => ()
        }
      }
      docs += ((i.toLong * 2 + 1, t))
    }
    val want2 = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      if math.abs(ta.length - tb.length) <= 10
      d = ed(head(ta), head(tb)) if d <= 5
    } yield (ia, ib, d)).toSet
    val got2 = TextDedup.passJoinCandidates(
        docs.toSeq.toDF("doc_id", "text"), "doc_id", "text",
        maxEdits = 5, headLen = 40, lengthBand = 10)
      .groupBy(col("a"), col("b"))
      .agg(max(col("head_a")).as("ha"), max(col("head_b")).as("hb"))
      .withColumn("d", levenshtein(col("ha"), col("hb"), 5))
      .filter(col("d") >= 0)
      .select("a", "b", "d").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got2 == want2, s"operator recall mismatch: " +
      s"missing=${(want2 -- got2).take(3)} extra=${(got2 -- want2).take(3)}")
    assert(want2.size > 100, s"only ${want2.size} true pairs in fixture")
  }

  test("bounded jaccard kernel: never prunes a qualifying pair, exact at the boundary") {
    // r17 verify kernel (the ×100 ngram wall): bounded(a,b,t) must equal
    // the plain kernel whenever the plain value is >= t (kept rows are
    // value-identical), and may return the sentinel -1.0 ONLY when the
    // plain value is < t. Randomized + exactly-at-threshold fixtures.
    import graft.functions.NativeEval
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(xs: Array[Long]) = new GenericArrayData(xs)
    val rnd = new scala.util.Random(7)
    val thresholds = Seq(0.3, 0.5, 0.6, 0.85, 1.0)
    (0 until 5000).foreach { k =>
      def gen() = Array.fill(1 + rnd.nextInt(60))(rnd.nextInt(80).toLong)
        .distinct.sorted
      val (a, b) = (gen(), gen())
      val t = thresholds(k % thresholds.size)
      val exact = NativeEval.arrayJaccardSortedLong(arr(a), arr(b))
      val bounded = NativeEval.arrayJaccardSortedLongBounded(arr(a), arr(b), t)
      if (exact >= t)
        assert(bounded == exact, s"false prune: j=$exact t=$t got $bounded")
      else
        assert(bounded == -1.0 || bounded == exact,
          s"corrupted value under t: j=$exact t=$t got $bounded")
    }
    // exactly-at-threshold pairs (J == t bit-for-bit): |A|=|B|=n with
    // intersection i gives J = i/(2n−i); (i=3,n=4) → 0.6, (i=2,n=3) → 0.5
    val a6 = Array(1L, 2L, 3L, 10L); val b6 = Array(1L, 2L, 3L, 20L)
    assert(NativeEval.arrayJaccardSortedLongBounded(arr(a6), arr(b6), 0.6) == 0.6)
    val a5 = Array(1L, 2L, 10L); val b5 = Array(1L, 2L, 20L)
    assert(NativeEval.arrayJaccardSortedLongBounded(arr(a5), arr(b5), 0.5) == 0.5)
    // identical arrays at t = 1.0 must survive
    assert(NativeEval.arrayJaccardSortedLongBounded(arr(a6), arr(a6), 1.0) == 1.0)
  }

  test("parity sketch: h <= |A∆B|, and the verify pre-filter never prunes a qualifying pair") {
    // r17 verify pre-filter: h = popcount(sigA^sigB) must lower-bound
    // the symmetric difference (parity: shared elements cancel, each ∆
    // element flips one bucket, collisions only cancel), so the bound
    // J <= (S−h)/(S+h) can never reject a pair whose exact jaccard is
    // >= t. Randomized + exactly-at-threshold fixtures + a live-prune
    // fixture (the filter must actually fire on a hopeless pair).
    import graft.functions.NativeEval
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def arr(xs: Array[Long]) = new GenericArrayData(xs)
    def passes(a: Array[Long], b: Array[Long], t: Double): Boolean = {
      // the production predicate's arithmetic (TextDedup.paritySketchPasses):
      // h ≤ S·(1−t')/(1+t'), t' = t·(1−1e-12)
      val h = NativeEval.xorPopcount(
        NativeEval.paritySketch(arr(a)), NativeEval.paritySketch(arr(b)))
      val s = (a.length + b.length).toDouble
      val tp = t * (1 - 1e-12)
      h.toDouble <= s * ((1 - tp) / (1 + tp))
    }
    val rnd = new scala.util.Random(13)
    val thresholds = Seq(0.3, 0.5, 0.6, 0.85, 1.0)
    (0 until 5000).foreach { k =>
      def gen() = Array.fill(1 + rnd.nextInt(60))(rnd.nextInt(120).toLong)
        .distinct.sorted
      val (a, b) = (gen(), gen())
      val t = thresholds(k % thresholds.size)
      val h = NativeEval.xorPopcount(
        NativeEval.paritySketch(arr(a)), NativeEval.paritySketch(arr(b)))
      val delta = ((a.toSet diff b.toSet) ++ (b.toSet diff a.toSet)).size
      assert(h <= delta, s"parity bound broken: h=$h > |∆|=$delta")
      val exact = NativeEval.arrayJaccardSortedLong(arr(a), arr(b))
      if (exact >= t)
        assert(passes(a, b, t), s"false prune: j=$exact t=$t h=$h")
    }
    // exactly-at-threshold pairs must pass the filter (the kernel then
    // computes their exact value): J == t bit-for-bit fixtures from the
    // bounded-kernel test
    val a6 = Array(1L, 2L, 3L, 10L); val b6 = Array(1L, 2L, 3L, 20L)
    assert(passes(a6, b6, 0.6), "at-threshold pair pruned (t=0.6)")
    val a5 = Array(1L, 2L, 10L); val b5 = Array(1L, 2L, 20L)
    assert(passes(a5, b5, 0.5), "at-threshold pair pruned (t=0.5)")
    assert(passes(a6, a6, 1.0), "identical pair pruned (t=1.0)")
    // ... and the filter is LIVE: two disjoint 40-element docs at t=0.6
    // (deterministic inputs — the parity popcount is a fixed value far
    // over the prune line, so this asserts the filter actually fires)
    val da = Array.tabulate(40)(i => i * 7919L + 1)
    val db = Array.tabulate(40)(i => i * 7919L + 1000000L)
    assert(!passes(da.sorted, db.sorted, 0.6),
      "filter failed to prune disjoint docs — sketch is dead weight")
  }

  test("ngramJaccardPairs at t=0.6 and t=0.9 == brute-force banded jaccard") {
    // the banded contract holds at every threshold, including the
    // high-threshold regime d_ngram_jaccard_auto runs at
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    def shing(t: String): Set[String] = t.sliding(4).toSet
    def brute(t: Double): Map[(Long, Long), Double] = (for {
      (a, ta) <- corpus; (b, tb) <- corpus
      if a < b && ta.length >= 4 && tb.length >= 4 &&
        math.abs(ta.length - tb.length) <= 10
      sa = shing(ta); sb = shing(tb)
      j = (sa & sb).size.toDouble / (sa | sb).size if j >= t
    } yield (a, b) -> j).toMap
    for (t <- Seq(0.6, 0.9)) {
      val got = TextDedup.ngramJaccardPairs(docs, "doc_id", "text",
          lenCol = length(col("text")), n = 4, threshold = t, blockWidth = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got == brute(t), s"blocked join at t=$t diverges from brute: " +
        s"missing=${(brute(t).keySet -- got.keySet).take(3)} " +
        s"extra=${(got.keySet -- brute(t).keySet).take(3)}")
      assert(got.nonEmpty, s"vacuous fixture at t=$t")
    }
  }

  /** The length-blocked char-n-gram operator (its oracle can't run on
    * the ×K twin boards — DuckDB's brute CTE exceeds local scratch), so
    * its collapse path gets a dedicated driver-side proof: ids must
    * match the brute-force length-banded jaccard over ALL copies, and
    * every twin pair must carry jaccard exactly 1.0. */
  test("ngramJaccardPairs with exact twins == brute-force banded jaccard") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    def shing(t: String): Set[String] = t.sliding(4).toSet
    val want = (for {
      (a, ta) <- corpus; (b, tb) <- corpus
      if a < b && ta.length >= 4 && tb.length >= 4 &&
        math.abs(ta.length - tb.length) <= 10
      sa = shing(ta); sb = shing(tb)
      if (sa & sb).size.toDouble / (sa | sb).size >= 0.6
    } yield (a, b)).toSet
    def triples(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // exactly-once emission: the candidate join has no distinct(), so
    // the (len, id)-max rule alone must keep every pair to one row — a
    // set comparison would hide a duplicate
    def assertOnce(name: String, r: Seq[(Long, Long, Double)]): Unit = {
      val keys = r.map(t => (t._1, t._2))
      assert(keys.size == keys.distinct.size, s"$name emits a pair twice: " +
        s"${keys.diff(keys.distinct).take(3)}")
    }
    val rows = triples(TextDedup.ngramJaccardPairs(docs, "doc_id", "text",
        lenCol = length(col("text")), n = 4, threshold = 0.6,
        blockWidth = 20))
    assertOnce("base", rows)
    val got = rows.map(t => (t._1, t._2)).toSet
    assert(got == want, s"pair mismatch: missing=${(want -- got).take(3)} " +
      s"extra=${(got -- want).take(3)}")
    val byId = corpus.toMap
    val twinPairs = rows.filter { case (a, b, _) => byId(a) == byId(b) }
    assert(twinPairs.nonEmpty && twinPairs.forall(_._3 == 1.0),
      "twin pairs must be present with jaccard exactly 1.0")
    // r14 bounded-scratch sharding: the residue partition of the pair
    // space must be invisible — every shard count yields the same rows
    // (values included), because each pair is emitted by exactly one
    // block and each block lives in exactly one residue class
    val shardedRows = triples(TextDedup.ngramJaccardPairs(docs, "doc_id",
        "text", lenCol = length(col("text")), n = 4, threshold = 0.6,
        blockWidth = 20, shards = 3))
    assertOnce("shards=3", shardedRows)
    val sharded = shardedRows.toSet
    assert(sharded == rows.toSet, s"shards=3 diverges: " +
      s"missing=${(rows.toSet -- sharded).take(3)} " +
      s"extra=${(sharded -- rows.toSet).take(3)}")
    // r15 stream-parallelism salt: the (block, hash(a) % R) key space is
    // a true partition of the pair space — every R yields the same rows
    val saltedRows = triples(TextDedup.ngramJaccardPairs(docs, "doc_id",
        "text", lenCol = length(col("text")), n = 4, threshold = 0.6,
        blockWidth = 20, streamParallelism = 5))
    assertOnce("streamParallelism=5", saltedRows)
    val salted = saltedRows.toSet
    assert(salted == rows.toSet, s"streamParallelism=5 diverges: " +
      s"missing=${(rows.toSet -- salted).take(3)} " +
      s"extra=${(salted -- rows.toSet).take(3)}")
    // the raw candidate join, as a MULTISET: every length-band pair
    // (a < b, |Δlen| ≤ blockWidth/2) exactly once, nothing else. Lengths
    // sit just below, on, and just above each block boundary, with
    // equal-length ties (the id tie-break) and pairs at exactly
    // blockWidth/2 and one past it; ids run against length order, and
    // a text shorter than n is excluded by the length gate.
    val lens = (1 to 5).flatMap(k =>
      Seq(-10, -1, 0, 1, 9, 10).map(d => k * 20 + d)) ++ Seq(3, 30, 61)
    val lenDocs = (lens ++ lens.take(12)).zipWithIndex
      .map { case (len, i) => ((997L * i) % 1000L, "x" * len) }
    Seq(20, 7).foreach { bw =>
      val candWant = (for {
        (a, ta) <- lenDocs; (b, tb) <- lenDocs
        if a < b && ta.length >= 4 && tb.length >= 4 &&
          math.abs(ta.length - tb.length) <= bw / 2
      } yield (a, b)).sorted
      val candGot = TextDedup.ngramBlockedCandidates(
          lenDocs.toDF("doc_id", "text"), "doc_id", "text",
          lenCol = length(col("text")), n = 4, blockWidth = bw)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(candWant.nonEmpty && candGot == candWant,
        s"blockWidth=$bw candidates: got ${candGot.size} want " +
          s"${candWant.size}; extra=${candGot.diff(candWant).take(3)} " +
          s"missing=${candWant.diff(candGot).take(3)}")
    }
    // derivation ladder for the catalog's shard count (r15: derived from
    // estimated candidate staging bytes vs a per-shard budget, not a
    // doc-count proxy): ceil-divide, floor 1, cap 32
    val B = 1L << 40
    assert(TextDedup.ngramScratchShards(0, B) == 1 &&
      TextDedup.ngramScratchShards(B, B) == 1 &&
      TextDedup.ngramScratchShards(B + 1, B) == 2 &&
      TextDedup.ngramScratchShards(3 * B + 1, B) == 4 &&
      TextDedup.ngramScratchShards(Long.MaxValue, B) == 32)
    // the estimator itself: within-block pair arithmetic on a corpus
    // with two known length blocks. Block math at blockWidth=10:
    // 4 docs of len 12 (block 1) and 2 docs of len 25 (block 2) →
    // within-block pairs (4·3/2)·0.75 + (2·1/2)·0.75; block-2 docs also
    // see block-1's 4 docs as cross candidates at weight /4.
    val estCorpus = spark.createDataFrame(
      (1 to 4).map(i => (i.toLong, "x" * 12)) ++
        (5 to 6).map(i => (i.toLong, "y" * 25))).toDF("doc_id", "text")
    val est = TextDedup.estimateNgramStats(estCorpus, "text",
      length(col("text")), n = 4, blockWidth = 10).candidateBytes
    val estWant = ((4.0 * 3 / 2 * 0.75) * 16 * 12 +
      (2.0 * 1 / 2 * 0.75 + 2.0 * 4 / 4) * 16 * 25).toLong
    assert(est == estWant, s"estimator arithmetic: got $est want $estWant")
  }

  /** The combo census is arithmetic over a join's buckets; it must
    * equal the row count of the shipped x/y sides equi-joined on the
    * bucket keys alone, so it cannot drift from the join it counts. */
  test("candidate-join censuses == equi-join row counts of the shipped sides") {
    import spark.implicits._
    val docs = corpus.toDF("doc_id", "text")
    val (_, _, _, blocked) = TextDedup.ngramBlockedInternals(docs, "doc_id",
      "text", length(col("text")), 4, 20)
    val (x, y) = TextDedup.blockedSides(blocked, 20)
    val ngramJoin = x.join(y, "__blk").count()
    val ngram = TextDedup.bucketCensus(x, y, "doc_id", Seq("__blk"))
      .getAs[Long]("scanCombos")
    assert(ngramJoin > 0 && ngram == ngramJoin,
      s"ngram census $ngram != blocked join $ngramJoin")
    val (_, _, bandedX, bandedOwn, _) = TextDedup.simhashInternals(docs,
      "doc_id", "text", 3, 15, 16, 32)
    val simJoin = bandedX.join(bandedOwn, TextDedup.SimhashBandKeys).count()
    val sim = TextDedup.bucketCensus(bandedX, bandedOwn, "doc_id",
      TextDedup.SimhashBandKeys).getAs[Long]("scanCombos")
    assert(simJoin > 0 && sim == simJoin,
      s"simhash census $sim != banded join $simJoin")
  }

  /** The deterministic counts an image-scheme change to the two hot
    * candidate joins is judged by: scanCombos of d_ngram_jaccard's
    * blocked join (n=4, blockWidth 20) and of d_simhash's band join
    * (16 bands, Hamming 15) on the sf0.01 documents. A change that
    * lowers a count updates its pin; one that raises a count must say
    * why. */
  test("census pins: sf0.01 scanCombos of the d_ngram_jaccard and d_simhash joins") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
    val (_, _, _, blocked) = TextDedup.ngramBlockedInternals(docs, "doc_id",
      "text", col("n_chars"), 4, 20)
    val (x, y) = TextDedup.blockedSides(blocked, 20)
    val ngram = TextDedup.bucketCensus(x, y, "doc_id", Seq("__blk"))
    assert(ngram.getAs[Long]("scanCombos") == 20384L, s"ngram census: $ngram")
    val (_, _, bandedX, bandedOwn, _) = TextDedup.simhashInternals(docs,
      "doc_id", "text", 3, 15, 16, 32)
    val sim = TextDedup.bucketCensus(bandedX, bandedOwn, "doc_id",
      TextDedup.SimhashBandKeys)
    assert(sim.getAs[Long]("scanCombos") == 106322L, s"simhash census: $sim")
  }

  /** The one candidate-pair join on degenerate inputs, under every rule,
    * with and without a residual and `distinct`: the exact pair list
    * (sorted, so a duplicate row fails) of a driver-side brute force
    * over every (x, y) combo. Rows are (id, k1, k2, len); both keys
    * must be non-null and equal, and the residual is a length band. */
  test("bucketPairs degenerate inputs == brute-force pairs under every rule") {
    import org.apache.spark.sql.{Row, types => T}
    type R = (Option[Long], Option[String], Option[String], Int)
    val schema = T.StructType(Seq(
      T.StructField("id", T.LongType, nullable = true),
      T.StructField("k1", T.StringType, nullable = true),
      T.StructField("k2", T.StringType, nullable = true),
      T.StructField("len", T.IntegerType, nullable = false)))
    def r(id: java.lang.Long, k1: String, k2: String, len: Int): R =
      (Option(id).map(_.longValue), Option(k1), Option(k2), len)
    val some = Seq(r(1L, "a", "p", 10), r(2L, "a", "p", 12), r(3L, "a", "q", 10),
      r(4L, "b", "p", 11), r(5L, "a", "p", 10))
    val cases: Seq[(String, Seq[R], Seq[R])] = Seq(
      ("empty x", Nil, some),
      ("empty y", some, Nil),
      ("empty both", Nil, Nil),
      ("single row", Seq(r(1L, "a", "p", 10)), Seq(r(1L, "a", "p", 10))),
      ("null id on x", some :+ r(null, "a", "p", 11), some),
      ("null id on y", some, some :+ r(null, "a", "p", 11)),
      ("null key component", some ++ Seq(r(6L, "a", null, 10), r(7L, "a", null, 10),
        r(8L, null, "p", 10)), some ++ Seq(r(6L, "a", null, 10), r(7L, "a", null, 10),
        r(8L, null, "p", 10))),
      ("hot key, an id under two rows", (1L to 8L).map(i => r(i, "h", "h", 10 + (i % 3).toInt)) :+
        r(3L, "h", "h", 10), (1L to 8L).map(i => r(i, "h", "h", 10 + (i % 3).toInt))),
      ("same row on both sides of an asymmetric join",
        Seq(r(1L, "a", "p", 10), r(2L, "a", "p", 10)), Seq(r(1L, "a", "p", 10))))
    def yMax(x: R, y: R) = y._4 > x._4 || (y._4 == x._4 && y._1.get > x._1.get)
    val rules: Seq[(String, TextDedup.PairRule, (R, R) => Boolean)] = Seq(
      ("Lower", TextDedup.Lower, (x, y) => x._1.get < y._1.get),
      ("NotEqual", TextDedup.NotEqual, (x, y) => x._1.get != y._1.get),
      ("Designated", TextDedup.Designated((x, y) => y("len") > x("len") ||
        (y("len") === x("len") && y("id") > x("id"))), yMax))
    def df(rows: Seq[R]) = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(x => Row(x._1.orNull, x._2.orNull, x._3.orNull, x._4)), 2), schema)
    val admitted = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    for ((name, xs, ys) <- cases; (ruleName, rule, admits) <- rules;
         banded <- Seq(false, true); distinct <- Seq(false, true)) {
      val label = s"$name, $ruleName, banded=$banded, distinct=$distinct"
      val brute0 = for {
        x <- xs; y <- ys
        if x._1.isDefined && y._1.isDefined
        if x._2.isDefined && x._3.isDefined && x._2 == y._2 && x._3 == y._3
        if !banded || math.abs(x._4 - y._4) <= 1
        if admits(x, y)
        (a, b) = (x._1.get, y._1.get)
      } yield if (ruleName == "Lower") (a, b) else (a min b, a max b)
      val brute = (if (distinct) brute0.distinct else brute0).sorted
      val pairs = TextDedup.bucketPairs(df(xs), df(ys), "id", Seq("k1", "k2"), rule,
          residual = (x, y) => if (banded) abs(x("len") - y("len")) <= 1 else lit(true),
          distinct = distinct)
        .collect().map(p => (p.get(0), p.get(1))).toSeq
      assert(pairs.forall { case (a, b) => a != null && b != null }, s"$label: null id")
      val got = pairs.map { case (a, b) => (a.asInstanceOf[Long], b.asInstanceOf[Long]) }.sorted
      assert(got.forall { case (a, b) => a != b }, s"$label: self-pair in $got")
      assert(got == brute, s"$label: got $got, want $brute")
      admitted(ruleName) += brute.size
    }
    assert(admitted.size == rules.size && admitted.values.forall(_ > 0),
      s"vacuous battery: $admitted")
  }

  /** The public pair operators that list pairs through [[TextDedup.bucketPairs]]
    * on degenerate corpora: no exception, no pair with a null end, and
    * the brute-force pair list — a null-id row is no document of the
    * pair relation (it can never be reported), so it must not change
    * which pairs of other documents are. */
  test("winnowPairs / passJoinCandidates / dedupAgainstIndex degenerate inputs == brute force") {
    import org.apache.spark.sql.{DataFrame, Row, types => T}
    type D = (Option[Long], Option[String])
    val schema = T.StructType(Seq(
      T.StructField("doc_id", T.LongType, nullable = true),
      T.StructField("text", T.StringType, nullable = true)))
    def d(id: java.lang.Long, t: String): D = (Option(id).map(_.longValue), Option(t))
    val t1 = corpus.head._2
    val t2 = t1.split(" ").updated(3, "zz9").mkString(" ") // 1-word edit
    val hot = corpus(1)._2.split(" ").take(50).mkString(" ")
    val cases: Seq[(String, Seq[D])] = Seq(
      "empty" -> Nil,
      "single row" -> Seq(d(1L, t1)),
      "null id" -> Seq(d(1L, t1), d(null, t1), d(2L, t2), d(3L, corpus(2)._2)),
      "null text" -> Seq(d(1L, t1), d(2L, null), d(3L, t2)),
      "all identical" -> (1L to 5L).map(i => d(i, t1)),
      "hot key" -> (1L to 6L).map(i => d(i, s"$hot tail$i ${corpus(2 + i.toInt)._2.take(30)}")))
    def df(rows: Seq[D]) = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map(x => Row(x._1.orNull, x._2.orNull)), 2), schema)
    def ids(p: DataFrame) = {
      val rows = p.collect().map(r => (r.get(0), r.get(1))).toSeq
      assert(rows.forall { case (a, b) => a != null && b != null }, "null id in a pair")
      rows.map { case (a, b) => (a.asInstanceOf[Long], b.asInstanceOf[Long]) }.sorted
    }
    def valid(rows: Seq[D]) = rows.collect { case (Some(i), Some(t)) => (i, t) }
    // operators whose brute-force list was non-empty in some case
    val exercised = scala.collection.mutable.Set[String]()
    for ((name, rows) <- cases) {
      val docs = valid(rows)
      // winnow, uncapped and at a cap the hot fingerprints reach
      for (cap <- Seq(Int.MaxValue, 2)) {
        val fps = docs.map { case (i, t) => i -> bruteWinnow(t).toSet }
        val df0 = fps.flatMap(_._2.toSeq).groupBy(identity).map { case (f, v) => f -> v.size }
        val want = (for {
          (a, fa) <- fps; (b, fb) <- fps if a < b
          if (fa & fb).count(df0(_) <= cap) >= 1
        } yield (a, b)).sorted
        val got = ids(TextDedup.winnowPairs(df(rows), "doc_id", "text", minShared = 1,
          maxDocFreq = cap))
        assert(got == want, s"$name, winnow cap=$cap: got $got, want $want")
        if (want.nonEmpty) exercised += s"winnow cap=$cap"
      }
      // PassJoin: candidates, deduplicated and verified, == brute head edit distance
      def ed(a: String, b: String) = {
        val dp = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
          if (i == 0) j else if (j == 0) i else 0)
        for (i <- 1 to a.length; j <- 1 to b.length)
          dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
            dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        dp(a.length)(b.length)
      }
      val pjWant = (for {
        (a, ta) <- docs; (b, tb) <- docs if a < b
        if math.abs(ta.length - tb.length) <= 10 && ed(ta.take(40), tb.take(40)) <= 5
      } yield (a, b)).sorted
      val pjGot = ids(TextDedup.passJoinCandidates(df(rows), "doc_id", "text")
        .groupBy(col("a"), col("b"))
        .agg(max(col("head_a")).as("ha"), max(col("head_b")).as("hb"))
        .filter(levenshtein(col("ha"), col("hb"), 5) >= 0)
        .select("a", "b"))
      assert(pjGot == pjWant, s"$name, passJoin: got $pjGot, want $pjWant")
      if (pjWant.nonEmpty) exercised += "passJoin"
      // index: odd ids are the corpus, even ids the batch, null ids on both
      def shingles(t: String) = t.split(" ").sliding(3).map(_.toSeq).toSet
      val nulls = rows.filter(_._1.isEmpty)
      val idxRows = rows.filter(_._1.exists(_ % 2 == 1)) ++ nulls
      val batchRows = rows.filter(_._1.exists(_ % 2 == 0)) ++ nulls
      val ixWant = (for {
        (b, tb) <- valid(batchRows); (c, tc) <- valid(idxRows)
        sb = shingles(tb); sc = shingles(tc)
        if (sb & sc).size.toDouble / (sb | sc).size >= 0.7
      } yield (b, c)).sorted
      val index = TextDedup.buildMinhashIndex(df(idxRows), "doc_id", "text", shingleN = 3)
      val ixGot = ids(TextDedup.dedupAgainstIndex(df(batchRows), index, "doc_id", "text",
          shingleN = 3, threshold = 0.7).select("b", "c"))
      assert(ixGot == ixWant, s"$name, dedupAgainstIndex: got $ixGot, want $ixWant")
      if (ixWant.nonEmpty) exercised += "dedupAgainstIndex"
    }
    assert(exercised == Set(s"winnow cap=${Int.MaxValue}", "winnow cap=2", "passJoin",
      "dedupAgainstIndex"), s"vacuous battery: only $exercised")
  }

  /** The SRP pair lister's collapse+expand must equal the uncollapsed
    * band-join pipeline bit-for-bit on a corpus with byte-identical
    * twin vectors — including the micro-floored cosine values (intra
    * pairs carry the COMPUTED self-cosine, not a literal 1.0). */
  test("srp collapse+expand == uncollapsed band-join pipeline on twins") {
    import spark.implicits._
    import graft.operators.VectorSim
    import org.apache.spark.sql.DataFrame
    val rnd = new scala.util.Random(31)
    val dim = 16
    def vec() = Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
    val base = (0L until 150L).map(i => (i, vec()))
    val twins = (Seq(base(0)) ++ Seq.fill(20)(base(rnd.nextInt(base.size))) ++
        Seq(base(3), base(3)))
      .zipWithIndex.map { case ((_, v), k) => (500L + k, v) }
    val emb = (base ++ twins).toDF("vec_id", "embedding")
    def rerank(e: DataFrame, cand: DataFrame): DataFrame = {
      val va = e.select(col("vec_id").as("a"), col("embedding").as("__ea"))
      val vb = e.select(col("vec_id").as("b"), col("embedding").as("__eb"))
      cand.join(va, "a").join(vb, "b")
        .withColumn("cos", VectorSim.cosine(col("__ea"), col("__eb")))
        .select(col("a"), col("b"), col("cos"))
    }
    def toSet(df: DataFrame) = df.filter(col("cos") >= 0.4)
      .select(col("a"), col("b"), floor(col("cos") * 1e6).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val plain = toSet(rerank(emb,
      VectorSim.srpCandidates(emb, "vec_id", "embedding", dims = dim)))
    val c = TextDedup.collapseExactDups(emb, "vec_id", Seq(col("embedding")), "cos",
      VectorSim.cosine(col("embedding"), col("embedding")))
    val collapsed = toSet(c.expand(rerank(c.reps,
      VectorSim.srpCandidates(c.reps, "vec_id", "embedding", dims = dim))))
    assert(collapsed == plain, s"mismatch: missing=${(plain -- collapsed).take(3)} " +
      s"extra=${(collapsed -- plain).take(3)}")
    assert(plain.exists { case (a, b, _) => a >= 500 || b >= 500 },
      "fixture must produce twin pairs")
  }

  /** r14 capacity-safe SRP defaults: the band geometry derives from the
    * corpus count by an integer-exact rule (no floating log — the
    * oracle's GREATEST(8, length(bin(n−1)) − 3) must land on the SAME
    * integers), and the derivation reproduces the historical fixture
    * geometry below 2^11 vectors so every green board is unchanged. */
  test("srpBandBits/srpBands derivation ladder (integer-exact, fixture-stable)") {
    import graft.operators.VectorSim.{srpBandBits, srpBands}
    // values cross-checked against DuckDB's bin-length form this round
    val ladder = Seq(1L -> 8, 2L -> 8, 500L -> 8, 2000L -> 8,
      2048L -> 8, 2049L -> 9, 20000L -> 12, 60000L -> 13,
      65536L -> 13, 65537L -> 14, 200000L -> 15, 1000000000L -> 27)
    ladder.foreach { case (n, want) =>
      assert(srpBandBits(n) == want, s"srpBandBits($n)")
    }
    assert(srpBands(8) == 4 && srpBands(13) == 9 && srpBands(15) == 11)
    // exact powers of two must NOT wobble (a floating log2 would):
    // ceilLog2(2^k) == k because we take the binary length of n−1
    assert(srpBandBits(1L << 20) == 17 && srpBandBits((1L << 20) + 1) == 18)
  }

  test("srp derived defaults == explicit (32, 8) below the 2^11 threshold") {
    import spark.implicits._
    import graft.operators.VectorSim
    val rnd = new scala.util.Random(83)
    val dim = 8
    val emb = (0L until 120L)
      .map(i => (i, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)))
      .toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val derived = pairs(VectorSim.srpCandidates(emb, "vec_id", "embedding", dims = dim))
    val pinned = pairs(VectorSim.srpCandidates(emb, "vec_id", "embedding",
      dims = dim, nPlanes = 32, bandBits = 8))
    assert(derived == pinned,
      "derived geometry must reproduce the historical fixture chain at small N")
    // numVectors short-circuits the count and drives the SAME derivation
    val viaN = pairs(VectorSim.srpCandidates(emb, "vec_id", "embedding",
      dims = dim, numVectors = 120L))
    assert(viaN == pinned)
  }

  /** Band keys by the definition SrpBandKeys replaced: the plane
    * literals as a table, SQL's `cosine(vec as double[], plane) >= 0` per
    * plane ([[graft.functions.NativeEval.cosine]], compared in Spark's
    * double ordering, which ranks NaN above 0), and Σ bit << (j % bits)
    * summed per band j / bits. */
  private def srpRefKeys(vec: Seq[Double], dims: Int, bits: Int,
                         nPlanes: Int): Seq[Long] = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val v = new GenericArrayData(vec.toArray)
    (0 until nPlanes).groupBy(_ / bits).toSeq.sortBy(_._1).map { case (_, js) =>
      js.map { j =>
        val h = Array.tabulate(dims)(d =>
          ((j.toLong * dims + d) * 2654435761L % 2001L - 1000L) / 1000.0)
        val s = graft.functions.NativeEval.cosine(v, new GenericArrayData(h), false, false)
        val ge = org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(s, 0.0) >= 0
        if (ge) 1L << (j % bits) else 0L
      }.sum
    }
  }

  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("SrpBandKeys == brute-force plane/cosine/band-sum reference (codegen and interpreted)") {
    import spark.implicits._
    import graft.operators.VectorSim
    val rnd = new scala.util.Random(59)
    val dims = 12
    def vec(len: Int) = Seq.fill(len)(rnd.nextDouble() * 2 - 1)
    // full-width vectors plus one shorter and one longer than dims, a
    // zero vector and an empty one (NaN cosines: all bits set)
    val vecs = (0L until 40L).map(i => i -> vec(dims)) ++ Seq(
      40L -> vec(5), 41L -> vec(dims + 4), 42L -> Seq.fill(dims)(0.0), 43L -> Seq.empty[Double])
    val flt = vecs.map { case (i, v) => i -> v.map(_.toFloat) }
    val inputs = Seq( // frame, and its vectors as the cast to double[] sees them
      spark.sparkContext.parallelize(vecs, 2).toDF("id", "v") -> vecs.toMap,
      spark.sparkContext.parallelize(flt, 2).toDF("id", "v") ->
        flt.map { case (i, v) => i -> v.map(_.toDouble) }.toMap)
    // (8, 32) is the derived correctness-board geometry; 23 planes of 5
    // bits end in a 3-bit partial band
    for ((bits, nPlanes) <- Seq((8, 32), (5, 23)); codegen <- Seq(true, false)) {
      val confs = if (codegen) Seq("spark.sql.codegen.wholeStage" -> "true")
        else Seq("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      withConfs(confs: _*) {
        for ((df, asDouble) <- inputs) {
          val keyed = df.select(col("id"),
            VectorSim.srpBandKeys(col("v"), dims, bits, nPlanes, 2654435761L).as("k"))
          val p = keyed.queryExecution.executedPlan.toString
          assert(p.contains("graft_srp_band_keys") && p.contains("*(") == codegen, p)
          keyed.collect().foreach { r =>
            val id = r.getLong(0)
            assert(r.getSeq[Long](1) == srpRefKeys(asDouble(id), dims, bits, nPlanes),
              s"id $id, ${df.schema("v").dataType}, bits $bits, planes $nPlanes, codegen $codegen")
          }
        }
      }
    }
    // the NaN vectors really are all-ones keys
    assert(srpRefKeys(vecs(42)._2, dims, 8, 32).forall(_ == 255L))
  }

  test("srpCandidates degenerate inputs == brute-force band-collision pairs") {
    import org.apache.spark.sql.{Row, types => T}
    import graft.operators.VectorSim
    val dims = 8
    val schema = T.StructType(Seq(
      T.StructField("vec_id", T.LongType, nullable = true),
      T.StructField("embedding", T.ArrayType(T.FloatType), nullable = true)))
    val rnd = new scala.util.Random(67)
    def vec(): Seq[Float] = Seq.fill(dims)((rnd.nextDouble() * 2 - 1).toFloat)
    val same = vec()
    val zero = Seq.fill(dims)(0.0f)
    // a vector with an all-zero band key: what a null vector banded as
    // "no bits set" would collide with
    val zeroKey = Iterator.continually(vec())
      .find(v => srpRefKeys(v.map(_.toDouble), dims, 8, 32).contains(0L)).get
    val mixed = (0L until 30L).map(i => Row(i, vec())) ++ Seq(
      Row(30L, null), Row(31L, same), Row(32L, same), Row(33L, zero), Row(34L, zeroKey),
      Row(null, same), Row(null, vec()), Row(null, null))
    val cases = Seq(
      "empty" -> Seq.empty[Row],
      "single row" -> Seq(Row(1L, vec())),
      "all identical" -> (0L until 6L).map(i => Row(i, same)),
      "null vector, null id, zero vector, zero band key" -> mixed)
    for ((name, rows) <- cases) {
      // derived geometry below 2^11 vectors: 4 bands of 8 bits
      val keyed = rows.collect { case Row(id: Long, v: Seq[Float @unchecked]) =>
        id -> srpRefKeys(v.map(_.toDouble), dims, 8, 32) }
      val brute = for {
        (a, ka) <- keyed; (b, kb) <- keyed if a < b
        bi <- ka.indices if ka(bi) == kb(bi)
      } yield (a, b)
      val emb = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      for (dedup <- Seq(true, false)) {
        val got = VectorSim.srpCandidates(emb, "vec_id", "embedding", dims = dims,
            dedup = dedup)
          .collect().map(r => (r.get(0), r.get(1)))
        assert(got.forall { case (a, b) => a != null && b != null }, s"$name: null id")
        val pairs = got.toSeq.map { case (a, b) => (a.asInstanceOf[Long], b.asInstanceOf[Long]) }
        assert(!pairs.exists { case (a, b) => a == 30L || b == 30L }, s"$name: null vector paired")
        val want = if (dedup) brute.distinct else brute
        assert(pairs.sorted == want.sorted, s"$name dedup=$dedup: got ${pairs.sorted.take(5)}, " +
          s"want ${want.sorted.take(5)}")
      }
      if (name == "all identical") assert(brute.size == 15 * 4)
    }
  }

  test("cellCosinePairs collapse == uncollapsed within-cell join on twins") {
    import spark.implicits._
    import graft.operators.VectorSim
    import org.apache.spark.sql.DataFrame
    val rnd = new scala.util.Random(47)
    val dim = 16
    def vec() = Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
    // base corpus over 3 cells; twins duplicate (vector, cell) rows —
    // PLUS the adversarial cases the (vector, cell) group key exists
    // for: the same vector planted in a DIFFERENT cell (must NOT
    // collapse with its same-cell twins) and a NULL cell (must stay a
    // singleton — NULL never equi-joins in the uncollapsed plan)
    val base = (0L until 90L).map(i => (i, s"c${i % 3}", vec()))
    val twins = Seq.fill(25)(base(rnd.nextInt(base.size)))
      .zipWithIndex.map { case ((_, c, v), k) => (500L + k, c, v) }
    val crossCell = (600L, "c1", base(0)._3) // base(0) lives in c0
    val nullCell = (601L, null.asInstanceOf[String], base(1)._3)
    val emb = (base ++ twins :+ crossCell :+ nullCell)
      .toDF("vec_id", "label", "embedding")
    def plainPairs(e: DataFrame): DataFrame = {
      val v = e.select(col("vec_id").as("__id"), col("label").as("__cell"),
        col("embedding").as("__v"))
      val x = v.alias("__px"); val y = v.alias("__py")
      x.join(y, col("__px.__cell") === col("__py.__cell") &&
          col("__px.__id") < col("__py.__id"))
        .withColumn("cos", VectorSim.cosine(col("__px.__v"), col("__py.__v")))
        .filter(col("cos") >= 0.4)
        .select(col("__px.__id").as("a"), col("__py.__id").as("b"), col("cos"))
    }
    def toSet(df: DataFrame) = df
      .select(col("a"), col("b"), floor(col("cos") * 1e6).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val plain = toSet(plainPairs(emb))
    val collapsed = toSet(VectorSim.cellCosinePairs(
      emb, "vec_id", "embedding", "label", 0.4))
    assert(collapsed == plain, s"mismatch: missing=${(plain -- collapsed).take(3)} " +
      s"extra=${(collapsed -- plain).take(3)}")
    assert(plain.exists { case (a, b, _) => (a >= 500 && a < 600) || (b >= 500 && b < 600) },
      "fixture must produce twin pairs")
    assert(!plain.exists { case (a, b, _) => b == 600L && a == 0L },
      "cross-cell planted row must not pair with its same-vector origin")
  }

  /** The round-12 rep-graph operators must equal the expanded-graph
    * composition bit-for-bit on the twin corpus: the blown-up pair graph
    * (what minhashLshPairs emits) fed to the ENUMERATING operators vs
    * the collapsed rep graph fed to the closed-form/label-expansion
    * ones. The corpus's triple twin group (7,301,302) plus twins of
    * near-dup endpoints exercise intra-clique, bipartite-bundle, and
    * H-triangle corner terms at once. */
  test("rep-graph triangles + components == expanded-graph composition on twins") {
    import spark.implicits._
    import graft.operators.Components
    import org.apache.spark.sql.DataFrame
    val docs = corpus.toDF("doc_id", "text")
    val c = TextDedup.minhashLshPairsCollapsed(docs, "doc_id", "text",
      shingleN = 3, threshold = 0.7)
    val expanded = c.expand(c.repPairs).select("a", "b")
    def keyed(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantTri = keyed(Components.triangleCounts(expanded))
    val gotTri = keyed(Components.weightedTriangleCounts(
      c.repPairs.select("a", "b"), c.dupMembers))
    assert(gotTri == wantTri, s"triangle mismatch: " +
      s"missing=${(wantTri -- gotTri).take(3)} extra=${(gotTri -- wantTri).take(3)}")
    assert(gotTri.nonEmpty, "fixture must produce triangles")
    val wantComp = keyed(Components.connectedComponents(expanded))
    val gotComp = keyed(Components.connectedComponentsCollapsed(
      c.repPairs.select("a", "b"), c.dupMembers))
    assert(gotComp == wantComp, s"component mismatch: " +
      s"missing=${(wantComp -- gotComp).take(3)} extra=${(gotComp -- wantComp).take(3)}")
    // the twin groups must actually be present as dup members (else this
    // test silently degenerates to the w=1 case)
    assert(c.dupMembers.count() >= 15)
  }

  /** VectorSim.semDedup's exact-duplicate collapse must be invisible:
    * the survivors on a corpus WITH byte-identical twins must equal a
    * driver-side reference that scans every copy (the uncollapsed
    * spec). The reference uses the same left-fold double arithmetic as
    * dotFold, so comparisons are bit-identical. */
  test("semDedup with exact twins == uncollapsed driver-side reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val dim = 8
    def vec() = Array.fill(dim)(rnd.nextDouble() * 2 - 1)
    val base = (0L until 120L).map(i => (i, vec()))
    // twins: copies of random rows at new higher ids (incl. a triple
    // copy and a twin of the min-id row — the contiguous-rank edge)
    val twinSrc = Seq(base(0)) ++ Seq.fill(18)(base(rnd.nextInt(base.size))) ++
      Seq(base(7), base(7))
    val twins = twinSrc.zipWithIndex.map { case ((_, v), k) => (200L + k, v) }
    val all = base ++ twins
    val cents = (0 until 3).map(c => (s"c$c", vec()))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    // uncollapsed reference over ALL copies
    val assigned = all.map { case (id, v) =>
      val (lbl, cc) = cents.map { case (l, c) => (l, cos(v, c)) }
        .minBy { case (l, cc) => (-cc, l) }
      (id, v, lbl, cc)
    }
    val want = assigned.groupBy(_._3).flatMap { case (_, cell) =>
      val ranked = cell.sortBy { case (id, _, _, cc) => (cc, id) }
      ranked.zipWithIndex.collect { case ((id, v, lbl, cc), r)
        if !ranked.take(r).exists { case (_, hv, _, _) => cos(v, hv) > 0.3 } =>
          (lbl, id, math.floor(cc * 1e6).toLong)
      }
    }.toSet
    val emb = all.toDF("vec_id", "v")
    val cdf = cents.map { case (l, c) => (l, c) }.toDF("c_label", "c")
    val got = graft.operators.VectorSim
      .semDedup(emb, cdf, "vec_id", "v", simThreshold = 0.3)
      .select(col("cell"), col("vec_id"),
        floor(col("ccos") * 1e6).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"survivor mismatch: missing=${(want -- got).take(3)} " +
      s"extra=${(got -- want).take(3)}")
    // every twin id must be gone, and no twin may have displaced its rep
    assert(twins.map(_._1).forall(id => !got.exists(_._2 == id)))
    assert(got.size < all.size && got.nonEmpty)
  }

  /** The r13 two-phase witness search (prefix-kPrefix probe + full scan
    * over the remainder) must be invisible on a NEAR-dup corpus — the
    * shape where the exact collapse does nothing and the split carries
    * all the work. Same driver-side uncollapsed reference as the
    * exact-twins test; the corpus is built so phase B is provably
    * exercised (some removed row's every witness ranks past the
    * prefix). */
  test("semDedup near-dup corpus == uncollapsed reference (two-phase split)") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val dim = 8
    def vec() = Array.fill(dim)(rnd.nextDouble() * 2 - 1)
    val base = (0L until 150L).map(i => (i, vec()))
    // near-dup twins: ±0.1% perturbed copies (distinct bytes — the
    // collapse sees nothing) of random rows at higher ids
    val twins = (0 until 40).map { k =>
      val (_, v) = base(rnd.nextInt(base.size))
      (300L + k, v.map(x => x * (1.0 + (rnd.nextDouble() - 0.5) * 2e-3)))
    }
    val all = base ++ twins
    val cents = (0 until 3).map(c => (s"c$c", vec()))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val thr = 0.3
    val assigned = all.map { case (id, v) =>
      val (lbl, cc) = cents.map { case (l, c) => (l, cos(v, c)) }
        .minBy { case (l, cc) => (-cc, l) }
      (id, v, lbl, cc)
    }
    val byCell = assigned.groupBy(_._3).map { case (lbl, cell) =>
      lbl -> cell.sortBy { case (id, _, _, cc) => (cc, id) }
    }
    val want = byCell.values.flatten.collect {
      case (id, v, lbl, cc) if !byCell(lbl).takeWhile(_._1 != id)
        .exists { case (_, hv, _, _) => cos(v, hv) > thr } =>
        (lbl, id, math.floor(cc * 1e6).toLong)
    }.toSet
    // phase-B coverage proof: at least one REMOVED row must have no
    // witness inside the prefix the production code probes (kPrefix=8)
    // but a witness beyond it — without such a row this test would pass
    // on a phase-A-only implementation
    val phaseBRows = byCell.values.flatMap { ranked =>
      ranked.zipWithIndex.collect { case ((id, v, _, _), r) if r >= 8 &&
        !ranked.take(8).exists { case (_, hv, _, _) => cos(v, hv) > thr } &&
        ranked.slice(8, r).exists { case (_, hv, _, _) => cos(v, hv) > thr } =>
          id
      }
    }
    assert(phaseBRows.nonEmpty,
      "corpus does not exercise phase B — regenerate with another seed")
    val emb = all.toDF("vec_id", "v")
    val cdf = cents.toDF("c_label", "c")
    val got = graft.operators.VectorSim
      .semDedup(emb, cdf, "vec_id", "v", simThreshold = thr)
      .select(col("cell"), col("vec_id"),
        floor(col("ccos") * 1e6).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"survivor mismatch: missing=${(want -- got).take(3)} " +
      s"extra=${(got -- want).take(3)}")
  }

  /** r14: the DESIGNED worst case for the two-phase split — a corpus
    * where NO removal has a witness inside the prefix (every pruning
    * neighbor ranks past kPrefix), so phase A prunes NOTHING and phase
    * B must reproduce the one-phase plan's output exactly. Construction:
    * kPrefix+4 mutually-near-orthogonal "decoy" vectors with tiny
    * centroid affinity occupy the earliest ranks (ccos ranks ascending,
    * so low-affinity rows rank FIRST) and prune nothing; a tight
    * near-dup cluster sits entirely past the prefix, where each member's
    * only witnesses are other cluster members. kPrefix=0 IS the
    * one-phase plan (empty prefix, full scan over everything), giving an
    * in-engine equivalence oracle on top of the driver-side model. */
  test("semDedup worst case: all witnesses past the prefix — phase B == one-phase plan") {
    import spark.implicits._
    val kp = 8
    val dim = kp + 6
    val thr = 0.9
    // decoys fill ranks 1..kp+4: near-orthogonal (pairwise cos ≈ 0.0025),
    // centroid affinity ≈ 0.05 — lowest in the cell, so they rank first
    val decoys = (0 until kp + 4).map { j =>
      val v = Array.fill(dim)(0.0)
      v(0) = 0.05; v(1 + j) = 1.0
      (j.toLong, v)
    }
    // cluster past the prefix: pairwise cos ≈ 1 > thr; distinct bytes
    // (no exact collapse) and distinct ccos (no rank ties beyond id)
    val cluster = (0 until 20).map { k =>
      val v = Array.fill(dim)(0.0)
      v(0) = 1.0; v(dim - 1) = 1e-3 * (k + 1)
      (100L + k, v)
    }
    val all = decoys ++ cluster
    // two centroids so cell assignment is a real argmax: everything has
    // positive e0-affinity, so all rows land in c0
    val cents = Seq(("c0", Array.fill(dim)(0.0).updated(0, 1.0)),
      ("c1", Array.fill(dim)(0.0).updated(0, -1.0)))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    def cos(a: Array[Double], b: Array[Double]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val assigned = all.map { case (id, v) =>
      val (lbl, cc) = cents.map { case (l, c) => (l, cos(v, c)) }
        .minBy { case (l, cc) => (-cc, l) }
      (id, v, lbl, cc)
    }
    val ranked = assigned.sortBy { case (id, _, _, cc) => (cc, id) }
    val want = ranked.zipWithIndex.collect { case ((id, v, lbl, cc), r)
      if !ranked.take(r).exists { case (_, hv, _, _) => cos(v, hv) > thr } =>
        (lbl, id, math.floor(cc * 1e6).toLong)
    }.toSet
    // the DESIGN assertions: decoys occupy the full prefix, removals
    // exist, and EVERY removal's earliest witness ranks past the prefix
    assert(ranked.take(kp).forall(_._1 < 100L), "prefix must be all decoys")
    val removals = ranked.zipWithIndex.filter { case ((id, v, _, _), r) =>
      ranked.take(r).exists { case (_, hv, _, _) => cos(v, hv) > thr } }
    assert(removals.size == cluster.size - 1, "cluster must collapse to one")
    assert(removals.forall { case ((_, v, _, _), r) =>
      val firstWitness = ranked.take(r).indexWhere {
        case (_, hv, _, _) => cos(v, hv) > thr }
      firstWitness >= kp
    }, "worst case broken: some witness ranks inside the prefix")
    val emb = all.toDF("vec_id", "v")
    val cdf = cents.toDF("c_label", "c")
    def run(kPrefix: Int) = graft.operators.VectorSim
      .semDedup(emb, cdf, "vec_id", "v", simThreshold = thr, kPrefix = kPrefix)
      .select(col("cell"), col("vec_id"),
        floor(col("ccos") * 1e6).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val onePhase = run(0)          // kPrefix=0 disables phase A entirely
    val twoPhase = run(kp)         // production default geometry
    val midPhase = run(2)          // partial prefix, still all-phase-B
    assert(onePhase == want, "one-phase plan diverges from driver model")
    assert(twoPhase == want, s"two-phase diverges: missing=" +
      s"${(want -- twoPhase).take(3)} extra=${(twoPhase -- want).take(3)}")
    assert(midPhase == want)
  }

  /** ScaleSmoke's mutated-twin builder must be a pure function (twin
    * boards are reproducible) with the documented invariants: copy 0
    * untouched, identical texts mutate identically within a copy,
    * different copies diverge, substitution rate near the nominal 3%. */
  test("ScaleSmoke mutators: deterministic, content-seeded, copy-0 identity") {
    val text = (1 to 400).map(i => s"tok$i").mkString(" ")
    assert(ScaleSmoke.mutateText(text, 0) == text)
    val m1 = ScaleSmoke.mutateText(text, 1)
    assert(m1 == ScaleSmoke.mutateText(text, 1)) // deterministic
    assert(m1 != ScaleSmoke.mutateText(text, 2)) // copies diverge
    val changed = text.split(" ").zip(m1.split(" ")).count { case (a, b) => a != b }
    assert(changed > 0 && changed < 40, s"substitution rate off: $changed/400")
    val v = Seq.tabulate(64)(i => (i + 1) * 0.125f)
    assert(ScaleSmoke.mutateVec(v, 0) == v)
    val mv = ScaleSmoke.mutateVec(v, 3)
    assert(mv == ScaleSmoke.mutateVec(v, 3) && mv != v)
    assert(v.zip(mv).forall { case (a, b) => math.abs(b / a - 1.0) <= 1.001e-3 })
  }

  /** sqlLiteral renders every fixture-travelling type as parseable SQL:
    * ANSI '' quote doubling, string-cast forms for non-finite floats
    * (bare NaN/Infinity tokens are not valid SQL anywhere). */
  test("JdbcIO.sqlLiteral: quote doubling and non-finite floats") {
    import graft.sources.JdbcIO.sqlLiteral
    assert(sqlLiteral("don't") == "'don''t'")
    // backslash handling is dialect-threaded: doubled for Spark/hive2
    // endpoints (escape-parsing), literal for ANSI endpoints (Derby)
    assert(sqlLiteral("a\\b", backslashEscapes = true) == "'a\\\\b'")
    assert(sqlLiteral("a\\b", backslashEscapes = false) == "'a\\b'")
    // dialect detection: escape-parsing endpoints (hive2, mysql,
    // mariadb) and UNKNOWN urls double (a trailing '\' must never
    // swallow the closing quote); known-ANSI endpoints take it literal
    import graft.sources.JdbcIO.backslashEscapesFor
    assert(backslashEscapesFor("jdbc:hive2://h:10000/db"))
    assert(backslashEscapesFor("jdbc:mysql://h:3306/db"))
    assert(backslashEscapesFor("jdbc:mariadb://h:3306/db"))
    assert(backslashEscapesFor("jdbc:unknown_endpoint://h/db"))
    assert(!backslashEscapesFor("jdbc:derby:memory:x;create=true"))
    assert(!backslashEscapesFor("jdbc:postgresql://h:5432/db"))
    // r16: common ANSI-literal endpoints joined the allowlist — these
    // previously defaulted to doubling and silently landed 'a\b' as 'a\\b'
    assert(!backslashEscapesFor("jdbc:sqlserver://h:1433;databaseName=db"))
    assert(!backslashEscapesFor("jdbc:oracle:thin:@h:1521:orcl"))
    assert(!backslashEscapesFor("jdbc:sqlite:/tmp/x.db"))
    assert(!backslashEscapesFor("jdbc:h2:mem:x"))
    assert(!backslashEscapesFor("jdbc:db2://h:50000/db"))
    assert(sqlLiteral(Double.NaN) == "CAST('NaN' AS DOUBLE)")
    assert(sqlLiteral(Double.PositiveInfinity) == "CAST('Infinity' AS DOUBLE)")
    assert(sqlLiteral(Float.NegativeInfinity) == "CAST('-Infinity' AS FLOAT)")
    assert(sqlLiteral(null) == "NULL")
    assert(sqlLiteral(1.5) == "CAST(1.5 AS DOUBLE)")
    // the doubled-quote form must parse back to the original on this
    // engine (Spark accepts '' under both parser modes)
    val got = spark.sql(s"SELECT ${sqlLiteral("don't")} AS s")
      .collect().head.getString(0)
    assert(got == "don't")
  }
}
