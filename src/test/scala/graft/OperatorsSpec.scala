package graft

import graft.operators.{DedupMerge, RuleJoins, SetOps, Windows}
import org.apache.spark.sql.functions._

/** Operator-helper unit tests over small in-memory frames plus the
  * sf0.001 testdata where a real table shape matters. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin with identical key names on both sides (internal rename path)") {
    val fact = Seq((1, "a"), (1, "b"), (2, "c"), (3, "d")).toDF("k", "v")
    val dim  = Seq((1, "x"), (2, "y")).toDF("k", "w")
    val got = RuleJoins.saltedJoin(fact, dim, "k", "k", n = 4, seed = 1L)
      .select("k", "v", "w").orderBy("k", "v").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq((1, "a", "x"), (1, "b", "x"), (2, "c", "y")))
  }

  test("saltedJoin equals the plain equi-join on testdata") {
    val li = graft.core.Tables.lineitem(spark, sf001).select("l_orderkey", "l_quantity")
    val o  = graft.core.Tables.orders(spark, sf001).select("o_orderkey", "o_orderpriority")
    val salted = RuleJoins.saltedJoin(li, o, "l_orderkey", "o_orderkey", 16)
      .groupBy("o_orderpriority").count()
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority").count()
    assert(salted.except(plain).count() == 0 && plain.except(salted).count() == 0)
  }

  private def multiset(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("saltedJoin degenerate battery: == the plain join; right/full rejected") {
    def fact(rows: (Option[Long], Int)*) = rows.toDF("fk", "fv")
    def dim(rows: (Option[Long], String)*) = rows.toDF("dk", "dv")
    val f3 = fact((Some(1L), 10), (Some(1L), 11), (Some(2L), 20))
    val d2 = dim((Some(1L), "a"), (Some(3L), "c"))
    val cases = Seq(
      "base" -> (f3, d2),
      "empty fact" -> (fact(), d2),
      "empty dim" -> (f3, dim()),
      "single row" -> (fact((Some(1L), 10)), dim((Some(1L), "a"))),
      "null fact key" -> (fact((None, 10), (Some(1L), 11)), d2),
      "null dim key" -> (f3, dim((None, "n"), (Some(1L), "a"))),
      "one hot key" -> ((1 to 200).map(i => (Option(1L), i)).toDF("fk", "fv"),
        dim((Some(1L), "a"), (Some(2L), "b"))))
    for ((label, (f, d)) <- cases; jt <- Seq("inner", "left", "left_semi", "left_anti");
         n <- Seq(1, 4, 16)) {
      val r = d.withColumnRenamed("dk", "__d")
      val want = multiset(f.join(r, f("fk") === r("__d"), jt).drop("__d"))
      val got = multiset(RuleJoins.saltedJoin(f, d, "fk", "dk", n, joinType = jt))
      assert(got == want, s"$label, $jt, n=$n")
    }
    for (jt <- Seq("right", "right_outer", "full", "outer", "full_outer")) {
      val e = intercept[IllegalArgumentException](
        RuleJoins.saltedJoin(f3, d2, "fk", "dk", 4, joinType = jt))
      assert(e.getMessage.contains("once per salt replica"), s"$jt: ${e.getMessage}")
    }
  }

  test("rangeJoin degenerate battery: null value/lo/hi match nothing") {
    import org.apache.spark.sql.Row
    val facts: Seq[(Int, Option[Double])] = Seq((1, Some(5.0)), (2, None), (3, Some(50.0)), (4, Some(10.0)))
    val bands: Seq[(Option[Double], Option[Double], String)] = Seq((Some(0.0), Some(10.0), "a"), (Some(10.0), Some(20.0), "b"),
      (None, Some(100.0), "lo_null"), (Some(0.0), None, "hi_null"), (None, None, "both_null"))
    val cases = Seq(
      ("base", facts, bands), ("empty fact", Nil, bands), ("empty bands", facts, Nil),
      ("single row", facts.take(1), bands.take(1)))
    def box(v: Option[Double]): java.lang.Double = v.map(Double.box).orNull
    for ((label, fs, bs) <- cases; jt <- Seq("left", "inner")) {
      // brute force with SQL's three-valued compare: a null bound never matches
      val want = fs.flatMap { case (id, v) =>
        val hits = bs.filter { case (lo, hi, _) =>
          (for (x <- v; l <- lo; h <- hi) yield l <= x && x <= h).getOrElse(false)
        }.map { case (lo, hi, b) => Row(id, box(v), box(lo), box(hi), b) }
        if (hits.isEmpty && jt == "left") Seq(Row(id, box(v), null, null, null)) else hits
      }.map(_.toString).sorted
      val got = multiset(RuleJoins.rangeJoin(fs.toDF("id", "v"), bs.toDF("lo", "hi", "band"),
        col("v"), col("lo"), col("hi"), jt))
      assert(got == want, s"$label, $jt")
    }
  }

  test("outerCoalesceMerge: incoming wins on shared keys, unmatched rows kept") {
    val existing = Seq((1, "old", 10), (2, "keep", 20)).toDF("k", "name", "a")
    val incoming = Seq((1, "new"), (3, "ins")).toDF("k", "name")
    val got = RuleJoins.outerCoalesceMerge(existing, incoming, Seq("k"))
      .orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1), Option(r.get(2)))).toSeq
    assert(got == Seq((1, "new", Some(10)), (2, "keep", Some(20)), (3, "ins", None)))
  }

  test("outerCoalesceMerge on shared-lineage inputs (the ambiguity crash case)") {
    val o = graft.core.Tables.orders(spark, sf001)
    val a = o.filter(col("o_orderstatus") =!= "F").select("o_custkey", "o_totalprice")
      .groupBy("o_custkey").agg(sum("o_totalprice").as("pa"))
    val b = o.filter(col("o_orderstatus") === "F").select("o_custkey", "o_totalprice")
      .groupBy("o_custkey").agg(sum("o_totalprice").as("pb"))
    // must not throw AMBIGUOUS_COLUMN
    val merged = RuleJoins.outerCoalesceMerge(a, b, Seq("o_custkey"))
    assert(merged.count() > 0)
    assert(merged.columns.toSeq == Seq("o_custkey", "pa", "pb"))
  }

  test("snapshotMerge is idempotent and newest-version wins") {
    val prev = Seq((1, 1, "v1"), (2, 1, "v1")).toDF("id", "ver", "payload")
    val stag = Seq((1, 2, "v2"), (3, 1, "v1")).toDF("id", "ver", "payload")
    val m1 = DedupMerge.snapshotMerge(prev, stag, Seq("id"), Seq(col("ver")))
    val got = m1.orderBy("id").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq
    assert(got == Seq((1, 2, "v2"), (2, 1, "v1"), (3, 1, "v1")))
    // merging the merge with the same staging changes nothing
    val m2 = DedupMerge.snapshotMerge(m1, stag, Seq("id"), Seq(col("ver")))
    assert(m2.except(m1).count() == 0 && m1.except(m2).count() == 0)
  }

  test("latestByAggJoin == dedupLatest when version is unique per key") {
    val df = Seq((1, 10, "a"), (1, 20, "b"), (2, 5, "c")).toDF("id", "ver", "p")
    val viaAgg = DedupMerge.latestByAggJoin(df, Seq("id"), "ver")
      .select("id", "ver", "p").orderBy("id")
    val viaWin = Windows.dedupLatest(df, Seq("id"), Seq(col("ver")))
      .select("id", "ver", "p").orderBy("id")
    assert(viaAgg.collect().toSeq == viaWin.collect().toSeq)
  }

  test("unionByNameAll null-fills missing columns") {
    val a = Seq((1, "x")).toDF("id", "only_a")
    val b = Seq((2, 9L)).toDF("id", "only_b")
    val u = SetOps.unionByNameAll(Seq(a, b)).orderBy("id").collect()
    assert(u.length == 2)
    assert(u(0).getString(1) == "x" && u(0).isNullAt(2))
    assert(u(1).isNullAt(1) && u(1).getLong(2) == 9L)
  }

  test("wildcardRuleJoin: '*' matches all, rank==1 keeps ties") {
    val fact = Seq(("US", "gold"), ("US", "silver"), ("DE", "gold")).toDF("ctry", "tier")
    val rules = Seq(
      ("US", "*", 1, "us-any"),
      ("*", "gold", 1, "any-gold"),   // ties with us-any on (US, gold)
      ("*", "*", 9, "fallback")
    ).toDF("r_ctry", "r_tier", "prio", "rule")
    val cond = RuleJoins.wildcardMatch(col("r_ctry"), fact("ctry")) &&
      RuleJoins.wildcardMatch(col("r_tier"), fact("tier"))
    val got = RuleJoins.wildcardRuleJoin(fact, rules, cond,
        Seq("ctry", "tier"), col("prio"))
      .select("ctry", "tier", "rule").orderBy("ctry", "tier", "rule").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq(
      ("DE", "gold", "any-gold"),
      ("US", "gold", "any-gold"), ("US", "gold", "us-any"), // tie kept
      ("US", "silver", "us-any")))
  }

  test("asofJoin: latest right at-or-before left ts; null when none; inclusive ties") {
    import graft.operators.AsOf
    val left = Seq((1, 10, "p1"), (1, 5, "p0"), (1, 20, "p2"), (2, 7, "q0"))
      .toDF("k", "t", "tag")
    val right = Seq((1, 10, "r10"), (1, 15, "r15"), (3, 1, "zzz"))
      .toDF("k", "rt", "rv")
    val got = AsOf.asofJoin(left, right, Seq("k"), "t", "rt", Seq("rv"))
      .select("k", "t", "tag", "rv").orderBy("k", "t").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getString(2), Option(r.getString(3)))).toSeq
    assert(got == Seq(
      (1, 5, "p0", None),          // no right row yet
      (1, 10, "p1", Some("r10")),  // equal ts is inclusive
      (1, 20, "p2", Some("r15")),  // latest prior wins
      (2, 7, "q0", None)))         // key with no right side
  }

  test("asofJoin: payload columns come atomically from the matched row") {
    import graft.operators.AsOf
    // the matched (latest ≤ t) right row has rv2 = NULL: that null must
    // NOT be backfilled from the older right row's rv2
    val left = Seq((1, 20)).toDF("k", "t")
    val right = Seq((1, 5, Some("old1"), Some("old2")),
                    (1, 10, Some("new1"), None))
      .toDF("k", "rt", "rv1", "rv2")
    val got = AsOf.asofJoin(left, right, Seq("k"), "t", "rt", Seq("rv1", "rv2"))
      .select("rv1", "rv2").collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)))).toSeq
    assert(got == Seq((Some("new1"), None)))
    // payload names colliding with left columns are rejected up front
    intercept[IllegalArgumentException] {
      AsOf.asofJoin(left, right.withColumnRenamed("rv1", "t"),
        Seq("k"), "t", "rt", Seq("t"))
    }
  }

  // the degenerate batteries' row types (a TypeTag, which toDF needs,
  // cannot see a type alias local to a test body)
  private type L = (Int, Option[Long], Option[Long])                     // (id, k, t)
  private type R = (Option[Long], Option[Long], String)                  // (k, rt, rv)
  private type E = (Option[Long], Option[String], Option[Long], Option[Long]) // (id, k, t, v)

  test("asofJoin degenerate battery: == brute point-in-time lookup") {
    import graft.operators.AsOf
    val l3: Seq[L] = Seq((1, Some(1L), Some(10L)), (2, Some(1L), Some(5L)), (3, Some(2L), Some(7L)))
    val r3: Seq[R] = Seq((Some(1L), Some(10L), "r10"), (Some(1L), Some(4L), "r4"),
      (Some(2L), Some(7L), "s7"))
    val cases: Seq[(String, Seq[L], Seq[R])] = Seq(
      ("base", l3, r3),
      ("empty left", Nil, r3),
      ("empty right", l3, Nil),
      ("single row", l3.take(1), r3.take(1)),
      ("null left key", l3 :+ ((4, None, Some(10L))), r3 :+ ((None, Some(1L), "n1"))),
      ("null right key", l3, r3 :+ ((None, Some(1L), "n1"))),
      ("null left ts", l3 :+ ((4, Some(1L), None)), r3),
      ("null right ts", l3, r3 :+ ((Some(1L), None, "nt"))),
      ("null right ts only", l3.take(1), Seq((Some(1L), None, "nt"))),
      ("all identical", Seq.fill(5)((1, Some(1L), Some(10L))), Seq((Some(1L), Some(3L), "r3"))),
      ("one hot key", (1 to 200).map(i => (i, Some(1L), Some(i.toLong))),
        (0 until 50).map(j => (Some(1L), Some(4L * j), s"h$j")) :+ ((Some(2L), Some(1L), "c"))))
    for ((label, ls, rs) <- cases) {
      // SQL semantics: a null key equals nothing, a null ts orders nothing
      val want = ls.map { case (id, k, t) =>
        val hit = rs.filter { case (rk, rt, _) =>
          (for (a <- k; b <- rk; x <- t; y <- rt) yield a == b && y <= x).getOrElse(false)
        }.sortBy(_._2.get).lastOption.map(_._3)
        org.apache.spark.sql.Row(id, k.getOrElse(null), t.getOrElse(null), hit.orNull).toString
      }.sorted
      val got = multiset(AsOf.asofJoin(ls.toDF("id", "k", "t"), rs.toDF("k", "rt", "rv"),
        Seq("k"), "t", "rt", Seq("rv")))
      assert(got == want, s"$label: got $got, want $want")
    }
  }

  test("FixedPoint.iterate: converges on count, throws past maxIter") {
    import graft.operators.FixedPoint
    // transitive-closure-flavored step: keep rows whose parent survives;
    // converges when the dangling chain has been fully trimmed
    val df = Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 99L), (5L, 4L), (6L, 5L))
      .toDF("id", "parent")
    def step(cur: org.apache.spark.sql.DataFrame) = {
      val ids = cur.select(col("id").as("parent"))
      cur.join(ids, Seq("parent"), "left_semi")
        .unionByName(cur.filter(col("id") === col("parent")))
        .distinct()
    }
    for (mode <- Seq("local", "reliable")) {
      spark.conf.set(graft.core.Materialize.ModeKey, mode)
      try {
        val got = FixedPoint.iterate(df, step, maxIter = 10)
        assert(got.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L),
          mode)
        intercept[IllegalStateException] {
          FixedPoint.iterate(df, step, maxIter = 1)
        }
      } finally {
        graft.core.Materialize.releaseScratch(spark)
        spark.conf.unset(graft.core.Materialize.ModeKey)
      }
    }
  }

  test("connectedComponents: converges on chains; throws when maxIter too low") {
    import graft.operators.Components
    // a 5-node chain 0-1-2-3-4 → one component labeled 0
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val labels = Components.connectedComponents(edges)
    assert(labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
    labels.unpersist()
    intercept[IllegalStateException] {
      Components.connectedComponents(edges, maxIter = 1)
    }
  }

  test("connectedComponents: pointer jumping converges a 500-node chain in maxIter=20") {
    import graft.operators.Components
    // diameter 499: plain min-propagation would need ~499 passes; the
    // pointer jump gets there in O(log n)
    val n = 500
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Components.connectedComponents(edges)
    assert(labels.count() == n)
    assert(labels.filter(col("component") =!= 0L).count() == 0)
    labels.unpersist()
  }

  test("connectedComponents leaves no entry in the session cache registry") {
    import graft.operators.Components
    // Regression pin for the cache-leak class: a returned frame still
    // registered in the CacheManager is served to ANY later build of a
    // canonically-equal plan (another bench run, another query over the
    // same pair graph) — warm board runs were skipping the whole
    // pair+propagation computation. The operator must release every
    // internal cache before returning.
    import org.apache.spark.sql.graft.GraftSql.isCacheRegistered
    val edges = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("a", "b")
    val labels = Components.connectedComponents(edges)
    labels.count()
    assert(!isCacheRegistered(labels),
      "returned components frame must not be cache-registered")
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
    assert(!isCacheRegistered(sym),
      "internal sym cache must be released before returning")
  }

  test("Multimodal: typed frame decode + resize plumbing (stub codec)") {
    import graft.operators.Multimodal
    val docs = graft.core.Tables.documents(spark, sf001).limit(20)
    val assets = Multimodal.assets(docs, "doc_id", "source", "text",
      Seq("lang", "n_chars"))
    val frames = Multimodal.decodeFrames(assets, nFrames = 4,
      decoder = Multimodal.stubDecode)
    // fixed schema, nFrames per asset, payload projected away
    assert(frames.columns.toSeq ==
      Seq("asset_id", "frame_idx", "width", "height", "pixels"))
    assert(frames.count() == 80)
    assert(frames.groupBy("asset_id").count()
      .filter(col("count") =!= 4).count() == 0)
    // deterministic: same input → same total pixel bytes
    val bytes1 = frames.select(sum(length(col("pixels")))).head().getLong(0)
    val bytes2 = Multimodal.decodeFrames(assets, 4, Multimodal.stubDecode)
      .select(sum(length(col("pixels")))).head().getLong(0)
    assert(bytes1 == bytes2 && bytes1 > 0)
    // resize caps both dims and shrinks the buffer
    val thumbs = Multimodal.resizeFrames(frames, side = 8)
    val t = thumbs.collect()
    assert(t.forall(f => f.width <= 8 + 8 && f.pixels.length == f.width * f.height))
    assert(t.map(_.pixels.length).sum < bytes1)
  }

  test("Multimodal: imageioDecode golden pixels + resize on a real PNG") {
    import graft.operators.Multimodal
    // deterministic 16x8 RGB gradient, PNG-encoded in memory
    def pngBytes(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, ((x * 16) << 16) | ((y * 32) << 8) | 7)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def luma(x: Int, y: Int): Byte =
      (((x * 16) * 299 + (y * 32) * 587 + 7 * 114) / 1000).toByte
    // direct codec check against computed BT.601 luma
    val direct = Multimodal.imageioDecode(1L, pngBytes(16, 8), 4)
    assert(direct.size == 1) // still image → exactly one frame
    val f = direct.head
    assert(f.width == 16 && f.height == 8 && f.frame_idx == 0)
    for (y <- 0 until 8; x <- 0 until 16)
      assert(f.pixels(y * 16 + x) == luma(x, y), s"pixel ($x,$y)")
    // undecodable payload → zero frames, no exception
    assert(Multimodal.imageioDecode(2L, "not an image".getBytes, 4).isEmpty)
    // distributed path: default decoder through decodeFrames, mixed
    // good/bad payloads; resize stride-samples the decoded buffer
    val assets = Seq(
      (1L, "image", pngBytes(16, 8)),
      (2L, "image", "corrupt!".getBytes)
    ).toDF("asset_id", "kind", "payload")
    val frames = Multimodal.decodeFrames(assets, nFrames = 4).collect()
    assert(frames.length == 1 && frames.head.asset_id == 1L)
    assert(frames.head.pixels.toSeq == f.pixels.toSeq)
    val thumb = Multimodal.resizeFrames(
      Multimodal.decodeFrames(assets, 4), side = 4).collect().head
    assert(thumb.width == 4 && thumb.height == 4)
    // stride sampling: thumb(x,y) = full(x*4, y*2)
    for (y <- 0 until 4; x <- 0 until 4)
      assert(thumb.pixels(y * 4 + x) == luma(x * 4, y * 2), s"thumb ($x,$y)")
  }

  test("Multimodal: wavDecode PCM16 golden envelope, corrupt quarantine") {
    import graft.operators.Multimodal
    // deterministic PCM16 mono WAV assembled in memory
    def wav16(samples: Array[Short]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44 + samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + samples.length * 2)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000)
        .putShort(2).putShort(16)
      bb.put("data".getBytes("US-ASCII")).putInt(samples.length * 2)
      samples.foreach(bb.putShort)
      bb.array()
    }
    val samples = Array.tabulate(80)(i =>
      (math.sin(i * 0.2) * 30000).toShort)
    val frames = Multimodal.wavDecode(7L, wav16(samples), 4)
    assert(frames.size == 4)
    assert(frames.map(_.width).sum == 80) // every sample covered once
    assert(frames.forall(f => f.height == 1 && f.asset_id == 7L))
    // golden envelope: high byte of each 16-bit sample, offset unsigned
    val env = frames.flatMap(_.pixels)
    samples.indices.foreach { i =>
      assert(env(i) == ((samples(i) >> 8) + 128).toByte, s"sample $i")
    }
    // quarantine contract: non-WAV, truncated, non-PCM, and a chunk size
    // near Int.MaxValue (Long-bounds check, no AIOOBE) → zero frames
    assert(Multimodal.wavDecode(8L, "nope".getBytes, 4).isEmpty)
    assert(Multimodal.wavDecode(9L, wav16(samples).take(50), 4).isEmpty)
    val nonPcm = wav16(samples); nonPcm(20) = 3 // audioFormat=3 (float)
    assert(Multimodal.wavDecode(10L, nonPcm, 4).isEmpty)
    val hugeChunk = wav16(samples)
    hugeChunk(16) = -11; hugeChunk(17) = -1 // fmt size = 0x7FFF_FFF5
    hugeChunk(18) = -1; hugeChunk(19) = 127
    assert(Multimodal.wavDecode(11L, hugeChunk, 4).isEmpty)
    // distributed path: wavDecode as the injectable decoder through the
    // same frame pipeline the image codec uses, mixed good/bad payloads
    val assets = Seq(
      (7L, "audio", wav16(samples)),
      (8L, "audio", "static noise".getBytes)
    ).toDF("asset_id", "kind", "payload")
    val dist = Multimodal.decodeFrames(assets, 4, Multimodal.wavDecode).collect()
    assert(dist.length == 4 && dist.forall(_.asset_id == 7L))
    assert(dist.sortBy(_.frame_idx).flatMap(_.pixels).toSeq == env.toSeq)
  }

  test("Quantiles.distQuantiles == sorted-multiset definition, NULLs excluded") {
    import graft.operators.Quantiles
    val rnd = new scala.util.Random(23)
    val rows = Seq.fill(3000)((rnd.nextInt(4), rnd.nextInt(50).toDouble))
    val df = rows.toDF("g", "v").unionByName(
      Seq(0, 1, 2).toDF("g").withColumn("v", lit(null).cast("double")))
    val got = Quantiles.distQuantiles(df, "g", "v",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p95" -> 0.95), countName = Some("n"))
      .collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    // brute force: element at index ceil(q*n)-1 of the sorted multiset is
    // exactly the lowest value whose cumulative count reaches ceil(q*n)
    val byG = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toVector).toMap
    def q(vs: Vector[Double], p: Double): Double =
      vs(math.ceil(p * vs.size).toInt - 1)
    byG.foreach { case (g, vs) =>
      val (n, p25, p50, p95) = got(g)
      assert(n == vs.size, s"group $g count (nulls must not count)")
      assert(p25 == q(vs, 0.25) && p50 == q(vs, 0.5) && p95 == q(vs, 0.95),
        s"group $g quantiles")
    }
  }

  test("sq8CosineTopK: oversampled rerank recovers exact top-k; codes are int8") {
    import graft.operators.VectorSim
    val emb = graft.core.Tables.embeddings(spark, sf001)
    val queries = emb.filter(col("vec_id") < 3)
    // codes really are tinyint in [-127, 127]
    val codes = emb.select(VectorSim.sq8(col("embedding")).as("c"))
    assert(codes.schema("c").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = true))
    val bounds = codes.select(explode(col("c")).as("x"))
      .agg(min("x"), max("x")).head()
    assert(bounds.getByte(0) >= -127 && bounds.getByte(1) <= 127)
    // with generous oversampling the quantized candidate pool contains the
    // true top-k, so rerank output equals the exact brute force
    val sq = VectorSim.sq8CosineTopK(emb, queries, "vec_id", "embedding",
      k = 5, oversample = 6)
    val bf = VectorSim.bruteForceCosineTopK(emb, queries, "vec_id", "embedding",
      k = 5)
    assert(sq.select("q_id", "rnk", "nn_id")
      .except(bf.select("q_id", "rnk", "nn_id")).count() == 0)
    assert(sq.count() == bf.count())
  }

  test("expectationSuite: one row per expectation, booleans reflect the data") {
    import graft.operators.DataQuality
    import graft.operators.DataQuality.Expectation._
    val df = Seq((1, "a", 5.0), (2, "b", 7.0), (3, null, 9.0), (3, "a", 11.0))
      .toDF("id", "tag", "v")
    val got = DataQuality.expectationSuite(df, Seq(
        notNull("tag", 0.5),   // 3/4 non-null → pass
        unique("id"),          // id 3 repeats → fail
        minAtLeast("v", 0.0),  // min 5.0 → pass
        maxAtMost("v", 10.0),  // max 11.0 → fail
        rowCountAtLeast(4)))   // exactly 4 → pass
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getBoolean(2))))
      .toMap
    assert(got("not_null:tag") == (0.75, true))
    assert(got("unique:id")._2 == false)
    assert(got("min:v") == (5.0, true))
    assert(got("max:v") == (11.0, false))
    assert(got("row_count") == (4.0, true))
    // empty input: every verdict must be a definite FAIL, never NULL
    val empty = DataQuality.expectationSuite(df.limit(0), Seq(
        notNull("tag"), unique("id"), minAtLeast("v", 0.0)))
      .collect().map(r => (r.isNullAt(1), r.getBoolean(2)))
    assert(empty.toSeq == Seq((true, false), (true, false), (true, false)))
  }

  test("triangleCounts: K4 gives 3 per node; chains and isolated edges give none") {
    import graft.operators.Components
    // K4 on {1,2,3,4} (all 6 ordered edges) + a chain 5-6-7 + edge 8-9
    val edges = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (5, 6), (6, 7), (8, 9)).toDF("a", "b")
    val got = Components.triangleCounts(edges)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    // K4 has C(3,2)=3 triangles through each node; chain/edge nodes absent
    assert(got == Map(1 -> 3L, 2 -> 3L, 3 -> 3L, 4 -> 3L))
  }

  test("triangleCounts: hub-skewed star — degree ordering finds the same set") {
    import graft.operators.Components
    // node 1 is a degree-12 hub: 10 pendant leaves (100..109, no
    // triangles through them) plus two triangles sharing the hub,
    // (1,2,3) and (1,4,5), with no edge between the triangle pairs.
    // Under id-ordered wedges the hub would enumerate C(12,2)=66
    // wedges; degree ordering points every hub edge AT the hub, so the
    // hub contributes zero wedges — same triangles found either way.
    val edges = ((2 to 5).map(x => (1, x)) ++ (100 to 109).map(x => (1, x)) ++
        Seq((2, 3), (4, 5))).toDF("a", "b")
    val got = Components.triangleCounts(edges)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(got == Map(1 -> 2L, 2 -> 1L, 3 -> 1L, 4 -> 1L, 5 -> 1L))
  }

  test("weightedTriangleCounts: hand-computed blow-up cases, all four terms") {
    import graft.operators.Components
    def run(edges: Seq[(Long, Long)], members: Seq[(Long, Long)]) = {
      val e = if (edges.isEmpty)
        Seq((0L, 0L)).toDF("a", "b").filter(lit(false))
      else edges.toDF("a", "b")
      Components.weightedTriangleCounts(e, members.toDF("rep", "member"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    // edge-less dup group of size 4 = expanded K4: 3 per member (the
    // intra-clique C(w-1, 2) term alone; the group must not be dropped
    // just because its rep has no H edge)
    assert(run(Nil, Seq((1L, 1L), (1L, 2L), (1L, 3L), (1L, 4L))) ==
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // H path 1-10-20 with w(1)=3 {1,2,3}: expanded = clique{1,2,3} +
    // {1,2,3}x{10} + (10,20). Exercises intra, rep-edge, neighbor-clique
    // terms; 20 is in no triangle and must be absent.
    assert(run(Seq((1L, 10L), (10L, 20L)),
      Seq((1L, 1L), (1L, 2L), (1L, 3L))) ==
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 10L -> 3L))
    // H triangle (1,10,20) with w(1)=2 {1,2}: exercises the fourth
    // (H-triangle corner product) term — node 10 counts 1 neighbor-clique
    // triangle (1,2,10) plus w1*w20 = 2 corner triangles
    assert(run(Seq((1L, 10L), (1L, 20L), (10L, 20L)),
      Seq((1L, 1L), (1L, 2L))) ==
      Map(1L -> 3L, 2L -> 3L, 10L -> 3L, 20L -> 3L))
  }

  test("connectedComponentsCollapsed: members inherit H labels; edge-less groups self-label") {
    import graft.operators.Components
    // H edge (1,3) where group 3 = {3,4}; group 5 = {5,6,7} has no H edge
    val edges = Seq((1L, 3L)).toDF("a", "b")
    val members = Seq((3L, 3L), (3L, 4L), (5L, 5L), (5L, 6L), (5L, 7L))
      .toDF("rep", "member")
    val got = Components.connectedComponentsCollapsed(edges, members)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("scd2Apply: change/carry/insert/delete transitions; closed rows pass through") {
    import java.sql.Date
    val d0 = Date.valueOf("2020-01-01"); val d1 = Date.valueOf("2021-01-01")
    val history = Seq(
      (1, "a", d0, Option(d1)),   // already-closed version: untouched
      (1, "b", d1, Option.empty[Date]), // current, attr changes → close+insert
      (2, "x", d0, Option.empty[Date]), // current, unchanged → carry
      (3, "y", d0, Option.empty[Date])  // current, key churns → close
    ).toDF("k", "attr", "valid_from", "valid_to")
    val incoming = Seq((1, "c"), (2, "x"), (4, "n")).toDF("k", "attr")
    val got = DedupMerge.scd2Apply(history, incoming, Seq("k"), Seq("attr"),
        "2022-01-01")
      .collect()
      .map(r => (r.getInt(0), r.getString(1),
        r.getDate(2).toString, Option(r.getDate(3)).map(_.toString)))
      .toSet
    assert(got == Set(
      (1, "a", "2020-01-01", Some("2021-01-01")),
      (1, "b", "2021-01-01", Some("2022-01-01")),
      (1, "c", "2022-01-01", None),
      (2, "x", "2020-01-01", None),
      (3, "y", "2020-01-01", Some("2022-01-01")),
      (4, "n", "2022-01-01", None)))
    // a NULL business key is a real key under the null-safe join: its
    // current version must close on churn, never silently vanish
    val nullKeyHist = Seq((Option.empty[Int], "z", d0, Option.empty[Date]))
      .toDF("k", "attr", "valid_from", "valid_to")
    val afterChurn = DedupMerge.scd2Apply(nullKeyHist,
        Seq((Option(9), "w")).toDF("k", "attr"),
        Seq("k"), Seq("attr"), "2022-01-01")
      .collect().map(r => (Option(r.get(0)), r.getString(1),
        Option(r.getDate(3)).map(_.toString))).toSet
    assert(afterChurn == Set(
      (None, "z", Some("2022-01-01")),   // closed, not dropped
      (Some(9), "w", None)))
  }

  test("heavyHitters: exact on a skewed 100k-key stream (eviction-heavy)") {
    import graft.operators.Sketches
    // 3 hot keys at 15% each + a 55% tail of ~55k UNIQUE keys: every
    // tail arrival evicts (capacity 10 ≪ distinct keys), so the MG
    // decrement path runs constantly; the answer must still be exactly
    // the keys with cnt·k > n
    val df = spark.range(100000).select(
      when(col("id") % 100 < 15, lit("hot1"))
        .when(col("id") % 100 < 30, lit("hot2"))
        .when(col("id") % 100 < 45, lit("hot3"))
        .otherwise(concat(lit("t"), col("id"))).as("key"))
    val got = Sketches.heavyHitters(df, "key", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("hot1", 15000L), ("hot2", 15000L), ("hot3", 15000L)))
    // NULL keys are ignored, not counted into n
    import spark.implicits._
    val withNulls = Seq(Some("x"), Some("x"), Some("x"), None, Some("y"))
      .toDF("key")
    val hh = Sketches.heavyHitters(withNulls, "key", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(hh == Set(("x", 3L))) // 3·2 > 4 (n excludes the NULL); y: 1·2 < 4
  }

  test("thetaSketches: exact below k, partition-invariant, set algebra") {
    import graft.operators.Sketches
    import spark.implicits._
    // two groups sharing 100 of 300/200 members; NULL keys and NULL
    // groups ignored
    val rows =
      (0 until 300).map(i => (Option("a"), Option(s"u$i"))) ++
      (200 until 400).map(i => (Option("b"), Option(s"u$i"))) ++
      Seq((Option("a"), Option.empty[String]), (Option.empty[String], Option("u0")))
    def sketch(parts: Int): Map[String, Array[Byte]] =
      Sketches.thetaSketches(
          rows.toDF("g", "k").repartition(parts), "g", "k")
        .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    val sk = sketch(7)
    // below nominal k the sketch is exact
    assert(Sketches.thetaEstimate(sk("a")) == 300.0)
    assert(Sketches.thetaEstimate(sk("b")) == 200.0)
    // intersection and union are exact too at this size
    assert(Sketches.thetaIntersectEstimate(sk("a"), sk("b")) == 100.0)
    assert(Sketches.thetaEstimate(
      Sketches.thetaUnionBytes(sk("a"), sk("b"))) == 400.0)
    // the stored bytes are partition-count-invariant in ESTIMATE (the
    // fold order differs; the retained hash set does not)
    val sk1 = sketch(1)
    assert(Sketches.thetaEstimate(sk1("a")) == 300.0)
    assert(Sketches.thetaIntersectEstimate(sk1("a"), sk1("b")) == 100.0)
    // empty identity
    assert(Sketches.thetaEstimate(Array.emptyByteArray) == 0.0)
    assert(Sketches.thetaUnionBytes(Array.emptyByteArray, sk("a"))
      .sameElements(sk("a")))
  }

  test("cmsMerge: split-and-merge == single-pass sketch; one-sided bound") {
    import graft.operators.Sketches
    import spark.implicits._
    // a skewed key distribution split across two day-frames
    val keys = (0 until 2000).flatMap { i =>
      val reps = if (i < 5) 200 else 1
      Seq.fill(reps)(s"k$i")
    }
    val (d1, d2) = keys.splitAt(keys.length / 3)
    def sketchOf(xs: Seq[String]): Array[Byte] =
      xs.toDF("k").agg(expr("count_min_sketch(k, 0.001d, 0.99d, 42)"))
        .head().getAs[Array[Byte]](0)
    val merged = Sketches.cmsMergeBytes(sketchOf(d1), sketchOf(d2))
    val whole = sketchOf(keys)
    // CMS merge is element-wise table addition — byte-identical to the
    // single-pass sketch of the concatenated stream
    assert(merged.sameElements(whole), "merge must equal single-pass sketch")
    // one-sided guarantee on every key: never below the true count,
    // never above it by more than ε·N (ε=0.001 → width 2000; N=2195)
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val slack = math.ceil(keys.length * 0.001).toLong
    for ((k, c) <- exact) {
      val est = Sketches.cmsEstimateString(merged, k)
      assert(est >= c, s"$k underestimated: $est < $c")
      assert(est <= c + slack, s"$k overestimated past the bound: $est > $c+$slack")
    }
    // empty identity and null-key estimate
    assert(Sketches.cmsMergeBytes(Array.emptyByteArray, whole)
      .sameElements(whole))
    assert(Sketches.cmsEstimateString(whole, null) == 0L)
  }

  test("Sampling: deterministic, without replacement, weight-proportional, top-k plan") {
    import graft.operators.Sampling
    import spark.implicits._
    val rows = (0L until 500L).map(i => (i, if (i == 0) 9.0 else 1.0))
    val df = rows.toDF("id", "w")
    // determinism: identical salt → identical sample; different salt → a
    // different draw (with 500 ids the overlap being total is ~impossible)
    def ids(salt: Long, k: Int) = Sampling
      .weightedSample(df, "id", col("w"), k, salt)
      .select("id").as[Long].collect().toSet
    val a = ids(7L, 20); val b = ids(7L, 20); val c = ids(8L, 20)
    assert(a == b, "same salt must reproduce the same sample")
    assert(a != c, "different salt must draw differently")
    assert(a.size == 20, "without replacement: k distinct rows")
    // weight proportionality: item 0 carries weight 9 vs 1 for the other
    // 499; with k=1 it should win ≈ 9/(9+499) of draws. 2000 re-draws
    // run as ONE query (salt as a column): per salt, the winner is the
    // max A-ES key. The count is deterministic — the band is ±4σ of the
    // binomial, so the assertion is about proportionality, not noise.
    val p = 9.0 / (9.0 + 499.0)
    val nS = 2000
    val study = df.crossJoin(spark.range(nS).toDF("salt"))
      .withColumn("__ares",
        Sampling.aresKey(col("id"), col("w"), col("salt")))
    val wSpec = org.apache.spark.sql.expressions.Window
      .partitionBy(col("salt")).orderBy(col("__ares").desc, col("id"))
    val winners = study
      .withColumn("__rnk", row_number().over(wSpec))
      .filter(col("__rnk") === 1)
    val wins = winners.filter(col("id") === 0L).count().toDouble
    val mean = nS * p; val sd = math.sqrt(nS * p * (1 - p))
    assert(wins > mean - 4 * sd && wins < mean + 4 * sd,
      s"heavy item won $wins of $nS; expected ≈${mean.toInt} ± ${(4 * sd).toInt}")
    // zero/NULL/NaN weights never sampled (NaN would otherwise WIN:
    // Spark evaluates NaN > 0.0 as true and sorts NaN above any double)
    val withZero = (0L until 10L).map(i =>
        (i, if (i < 5) 1.0 else if (i < 8) 0.0 else Double.NaN))
      .toDF("id", "w")
    assert(Sampling.weightedSample(withZero, "id", col("w"), 10, 1L)
      .select("id").as[Long].collect().forall(_ < 5))
    // scale shape: global form plans as TakeOrderedAndProject (partial
    // per-partition top-k), not a global sort
    val plan = Sampling.weightedSample(df, "id", col("w"), 5, 3L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan, got:\n$plan")
    // per-group form: k per group, deterministic
    val g = (0L until 100L).map(i => (i, s"g${i % 4}", 1.0 + (i % 3)))
      .toDF("id", "grp", "w")
    val per = Sampling.weightedSamplePerGroup(g, Seq("grp"), "id", col("w"), 3, 11L)
    val cnt = per.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(cnt.values.forall(_ == 3L) && cnt.size == 4)
  }

  test("BloomIndex: no false negatives, candidate pruning, disk round-trip") {
    import graft.operators.BloomIndex
    import spark.implicits._
    // null-SAFE hash, as the catalog row computes it: xxhash64(NULL)
    // returns the SEED (not NULL), so an unguarded hash would collide
    // every NULL text onto one value and cross-match them as dups
    def hashOf = when(col("text").isNotNull, xxhash64(col("text")))
    val corpus = ((0L until 5000L).map(i => (i, Option(s"doc body $i"))) :+
        (5000L, Option.empty[String]))
      .toDF("id", "text").withColumn("__h", hashOf)
    // batch: 40 true dups of the corpus + 400 genuinely new + a NULL
    // text (must NOT match the corpus's NULL text — SQL equality)
    val batch = (
      (0L until 40L).map(i => (10000L + i, Option(s"doc body ${i * 100}"))) ++
      (0L until 400L).map(i => (20000L + i, Option(s"fresh $i"))) ++
      Seq((30000L, Option.empty[String]))
    ).toDF("id", "text").withColumn("__h", hashOf)
    val idx = corpus.select("id", "__h")
    val bf = BloomIndex.buildLongBloom(idx, "__h", fpp = 0.01)
    // disk round-trip preserves the filter verbatim
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_test_io/bloom_rt"
    BloomIndex.save(spark, bf, path)
    val loadedBf = BloomIndex.load(spark, path)
    assert(loadedBf.bitSize() == bf.bitSize())
    val loaded = BloomIndex.broadcastBloom(spark, loadedBf)
    val marked = BloomIndex.markNewAgainstHashIndex(batch, "id", "__h", idx, loaded)
      .select("id", "is_new").as[(Long, Boolean)].collect().toMap
    // no false negatives: every true dup is flagged
    for (i <- 0L until 40L) assert(!marked(10000L + i), s"dup ${10000 + i} marked new")
    // the confirming join makes false positives impossible in the OUTPUT
    for (i <- 0L until 400L) assert(marked(20000L + i), s"fresh ${20000 + i} marked dup")
    // a NULL hash is its own identity — comes back new even though the
    // CORPUS also carries a NULL text (SQL equality: NULL matches nothing)
    assert(marked(30000L))
    // the bloom actually prunes: candidates ≈ dups + fpp·batch, far
    // under the batch size
    val nCand = batch
      .filter(BloomIndex.mightContainLong(loaded, col("__h")))
      .count()
    assert(nCand >= 40 && nCand <= 40 + 40,
      s"bloom candidate count $nCand outside [40, 80] at fpp=0.01 over 441 rows")
  }

  test("slidingRangeSum == direct keyed RANGE window, including NULL keys/ticks") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq[(Option[String], Option[Long], Long)](
      (Some("a"), Some(10L), 1), (Some("a"), Some(15L), 2),
      (Some("a"), Some(15L), 4), (Some("a"), Some(100L), 8),
      (Some("b"), Some(10L), 16),
      (None, Some(12L), 32), (None, Some(13L), 64),   // null key group
      (Some("a"), None, 128), (None, None, 256)       // null ticks
    ).toDF("k", "t", "v")
    val direct = df.withColumn("s",
      sum(col("v")).over(Window.partitionBy(col("k")).orderBy(col("t"))
        .rangeBetween(-5, 0)))
    val two = Windows.slidingRangeSum(df, Seq("k"), "t", col("v"), 5L, "s")
    assert(direct.count() == 9 && two.count() == 9,
      "two-level form dropped rows (null join keys?)")
    assert(direct.except(two).count() == 0 && two.except(direct).count() == 0)
  }

  test("slidingDistinctCount == direct collect_set RANGE window, incl. NULL key/tick/value") {
    import org.apache.spark.sql.expressions.Window
    // hand-built adversarial slice: repeated values inside one window
    // (must count once), a value re-appearing after expiry (counts
    // again), interval-chain overlaps (t2 <= t1+w), ties on (k, t),
    // NULL values (never counted), a NULL key group, NULL ticks (peer
    // group), and a tick whose only value is NULL (zero-delta tick)
    val df = Seq[(Option[String], Option[Long], Option[Long])](
      (Some("a"), Some(10L), Some(1L)), (Some("a"), Some(12L), Some(1L)),
      (Some("a"), Some(13L), Some(2L)), (Some("a"), Some(15L), Some(1L)),
      (Some("a"), Some(15L), Some(3L)), (Some("a"), Some(30L), Some(1L)),
      (Some("a"), Some(17L), None),     // null value at live tick
      (Some("a"), Some(40L), None),     // tick with ONLY a null value
      (Some("b"), Some(10L), Some(1L)), (Some("b"), Some(16L), Some(9L)),
      (None, Some(12L), Some(5L)), (None, Some(13L), Some(5L)),
      (Some("a"), None, Some(7L)), (Some("a"), None, Some(7L)),
      (None, None, None)
    ).toDF("k", "t", "v")
    val direct = df.withColumn("c",
      size(collect_set(col("v")).over(Window.partitionBy(col("k"))
        .orderBy(col("t")).rangeBetween(-5, 0))).cast("long"))
    val two = Windows.slidingDistinctCount(df, Seq("k"), "t", "v", 5L, "c")
    assert(direct.count() == 15 && two.count() == 15,
      "two-level form dropped rows (null join keys?)")
    assert(direct.except(two).count() == 0 && two.except(direct).count() == 0,
      s"mismatch: direct=${direct.orderBy("k", "t").collect().mkString(";")} " +
        s"two=${two.orderBy("k", "t").collect().mkString(";")}")
    // randomized cross-check: dense tick collisions + heavy value reuse
    val rnd = new scala.util.Random(1234)
    val rand = Seq.fill(400)((
      Some(s"k${rnd.nextInt(3)}"): Option[String],
      Some(rnd.nextInt(60).toLong): Option[Long],
      Some(rnd.nextInt(8).toLong): Option[Long])).toDF("k", "t", "v")
    val d2 = rand.withColumn("c",
      size(collect_set(col("v")).over(Window.partitionBy(col("k"))
        .orderBy(col("t")).rangeBetween(-7, 0))).cast("long"))
    val t2 = Windows.slidingDistinctCount(rand, Seq("k"), "t", "v", 7L, "c")
    assert(d2.except(t2).count() == 0 && t2.except(d2).count() == 0)
    assert(t2.count() == 400)
  }

  test("Windows degenerate battery: == the single-window definitions") {
    import org.apache.spark.sql.expressions.Window
    val base: Seq[E] = Seq((Some(1L), Some("a"), Some(10L), Some(1L)),
      (Some(2L), Some("a"), Some(12L), Some(2L)), (Some(3L), Some("b"), Some(10L), Some(4L)))
    val cases: Seq[(String, Seq[E])] = Seq(
      "empty" -> Nil,
      "single row" -> base.take(1),
      "all identical" -> Seq.fill(6)(base.head),
      "null ids and keys" -> (base ++ Seq((None, Some("a"), Some(11L), Some(8L)),
        (None, None, Some(10L), Some(16L)), (Some(4L), None, Some(13L), Some(32L)),
        (Some(5L), None, Some(13L), None), (Some(6L), Some("a"), None, Some(64L)))),
      "one hot key" -> ((1L to 120L).map(i => (Some(i), Some("hot"), Some(i % 7), Some(i))) ++
        base))
    // (t, id, v, k) ties only between identical rows, so a global rank is
    // determined up to swapping identical rows, which the multiset hides
    val order = Seq(col("t"), col("id"), col("v"), col("k"))
    val global = Window.orderBy(order: _*)
    val running = global.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keyed = Window.partitionBy(col("k")).orderBy(col("t")).rangeBetween(-2, 0)
    for ((label, rows) <- cases) {
      val df = rows.toDF("id", "k", "t", "v")
      def same(what: String, got: org.apache.spark.sql.DataFrame,
               want: org.apache.spark.sql.DataFrame): Unit = {
        val (g, w) = (multiset(got), multiset(want))
        assert(g == w, s"$label, $what: got $g, want $w")
      }
      same("globalRowNumber", Windows.globalRowNumber(df, order, "rn", numParts = 3),
        df.withColumn("rn", row_number().over(global).cast("long")))
      same("globalOrderedCumSum",
        Windows.globalOrderedCumSum(df, order, col("v"), "rn", "cs", numParts = 3),
        df.withColumn("rn", row_number().over(global).cast("long"))
          .withColumn("cs", sum(coalesce(col("v"), lit(0L))).over(running)))
      for (k <- Seq(1, 4, 200))
        same(s"scalableNtile($k)", Windows.scalableNtile(df, order, k, "tile"),
          df.withColumn("tile", ntile(k).over(global)))
      same("slidingRangeSum", Windows.slidingRangeSum(df, Seq("k"), "t", col("v"), 2L, "s"),
        df.withColumn("s", sum(col("v")).over(keyed)))
      same("slidingDistinctCount", Windows.slidingDistinctCount(df, Seq("k"), "t", "v", 2L, "c"),
        df.withColumn("c", size(collect_set(col("v")).over(keyed)).cast("long")))
      // driver-side definitions: the latest row per key (a null key is one
      // group, as in GROUP BY) and a running count of new-group flags
      val latest = rows.groupBy(_._2).values.map(_.maxBy(e => (e._3, e._1))).toSeq
      same("dedupLatest", Windows.dedupLatest(df, Seq("k"), Seq(col("t"), col("id"))),
        latest.toDF("id", "k", "t", "v"))
      val groups = rows.groupBy(_._2).values.toSeq.flatMap { g =>
        g.sortBy(e => (e._3, e._1, e._4)).scanLeft((null: E, 0L)) { case ((_, n), e) =>
          (e, n + (if (e._4.exists(_ % 2 == 0)) 1L else 0L))
        }.tail
      }.map { case (e, n) => (e._1, e._2, e._3, e._4, n) }
      same("runGroups", Windows.runGroups(df, when(col("v") % 2 === 0, 1L).otherwise(0L),
        "g", Seq(col("k")), Seq(col("t"), col("id"), col("v"))),
        groups.toDF("id", "k", "t", "v", "g"))
    }
  }

  test("Normalize: nullIfBlank / blankIfNull / isBlank") {
    import graft.operators.Normalize
    val df = Seq(("a"), (""), ("  "), (null: String)).toDF("v")
      .select(
        Normalize.nullIfBlank(col("v")).as("nb"),
        Normalize.blankIfNull(col("v")).as("bn"),
        Normalize.isBlank(col("v")).as("ib"))
    val rows = df.collect().map(r => (Option(r.getString(0)), r.getString(1), r.getBoolean(2)))
    assert(rows.toSeq == Seq(
      (Some("a"), "a", false),
      (None, "", true),
      (None, "  ", true),
      (None, "", true)))
  }
}
