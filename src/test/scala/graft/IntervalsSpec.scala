package graft

import graft.core.Materialize
import graft.operators.Intervals
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Interval-collapse correctness.
  *
  * The golden pair is the reference's own fixture
  * (`/root/reference/resources/collapsed_data_pre.csv` →
  * `collapsed_data_post.csv`, produced by
  * `slow_temp_table_write_in_palce_of_recursive_cte.py:189-202`): 199
  * per-member eligibility intervals collapse to 87 when merged across
  * overlaps and ≤1-day gaps. The post file's date-format quirk —
  * `eligeff_coll` ISO, `eligend_coll` MM/dd/yyyy — is reproduced, not
  * fixed (SURVEY.md §7.4-7).
  */
class IntervalsSpec extends SparkSpec {

  private val preSchema = StructType(Seq(
    StructField("memnum", StringType),
    StructField("begindt", DateType),
    StructField("enddt", DateType)))

  private def golden = {
    val pre = spark.read.option("header", "true").schema(preSchema)
      .csv("/root/reference/resources/collapsed_data_pre.csv")
    Intervals.collapse(pre, Seq("memnum"), "begindt", "enddt", gapDays = 1)
  }

  test("golden fixture: collapse(pre) == post, byte-for-byte incl. format quirk") {
    val got = golden
      .select(col("memnum"),
        date_format(col("begindt"), "yyyy-MM-dd").as("eligeff_coll"),
        date_format(col("enddt"), "MM/dd/yyyy").as("eligend_coll"))
      .orderBy("memnum", "eligeff_coll")
      .collect()
      .map(r => s"${r.getString(0)},${r.getString(1)},${r.getString(2)}")
    val want = spark.read.option("header", "true")
      .csv("/root/reference/resources/collapsed_data_post.csv")
      .orderBy("memnum", "eligeff_coll")
      .collect()
      .map(r => s"${r.getString(0)},${r.getString(1)},${r.getString(2)}")
    assert(want.length == 87)
    assert(got.toSeq == want.toSeq)
  }

  test("collapseFixedPoint reaches the same result as the sweep-line collapse") {
    val pre = spark.read.option("header", "true").schema(preSchema)
      .csv("/root/reference/resources/collapsed_data_pre.csv")
    val a = golden.orderBy("memnum", "begindt")
      .collect().map(_.toSeq).toSeq
    val b = Intervals.collapseFixedPoint(pre, Seq("memnum"), "begindt", "enddt",
        gapDays = 1).orderBy("memnum", "begindt")
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("collapse invariants on random intervals: disjoint-with-gap, covering, idempotent") {
    val rnd = new scala.util.Random(7)
    import spark.implicits._
    val rows = Seq.fill(300) {
      val key = s"k${rnd.nextInt(12)}"
      val b = rnd.nextInt(300)
      (key, b, b + rnd.nextInt(40))
    }
    val df = rows.toDF("k", "bi", "ei")
      .select(col("k"),
        expr("date_add(DATE '2020-01-01', bi)").as("b"),
        expr("date_add(DATE '2020-01-01', ei)").as("e"))
    val out = Intervals.collapse(df, Seq("k"), "b", "e", gapDays = 1)

    // 1. per-key output intervals are separated by > gapDays
    val perKey = out.orderBy("k", "b").collect()
      .groupBy(_.getString(0)).values
    perKey.foreach { ivs =>
      ivs.sliding(2).foreach {
        case Array(x, y) =>
          assert(y.getDate(1).toLocalDate.isAfter(
            x.getDate(2).toLocalDate.plusDays(1)),
            s"intervals not gap-separated: $x $y")
        case _ =>
      }
    }
    // 2. every input interval is covered by exactly one output interval
    val uncovered = df.as("i").join(out.as("o"),
      col("i.k") === col("o.k") &&
        col("i.b") >= col("o.b") && col("i.e") <= col("o.e"),
      "left_anti")
    assert(uncovered.count() == 0)
    // 3. idempotent: collapsing the output changes nothing
    val again = Intervals.collapse(out, Seq("k"), "b", "e", gapDays = 1)
    assert(again.count() == out.count())
    assert(again.except(out).count() == 0)
  }

  test("collapse and collapseFixedPoint == brute day-expansion oracle") {
    // Generated per key: random overlapping runs, single-day intervals,
    // intervals contained in a neighbour, successors starting exactly 1
    // and exactly 2 days after a predecessor's end, and rows with a
    // null begin, a null end or both. The oracle expands every interval
    // into its days (a row with a null bound covers no known day), then
    // cuts each key's sorted days wherever two consecutive covered days
    // lie more than gapDays apart.
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows: Seq[(String, Option[Int], Option[Int])] = (0 until 12).flatMap { k =>
      val key = s"k$k"
      var at = rnd.nextInt(20)
      val chain = (0 until 8).flatMap { _ =>
        val b = at
        val e = b + (if (rnd.nextInt(4) == 0) 0 else rnd.nextInt(9))
        at = e + 1 + rnd.nextInt(3) // next begin: 1, 2 or 3 days on
        val contained =
          if (e - b >= 2 && rnd.nextBoolean()) Seq((key, Some(b + 1), Some(e - 1)))
          else Nil
        val overlap =
          if (rnd.nextInt(3) == 0) Seq((key, Some(b + rnd.nextInt(e - b + 1)),
            Some(e + rnd.nextInt(5))))
          else Nil
        (key, Some(b), Some(e)) +: (contained ++ overlap)
      }
      val nulls = Seq[(String, Option[Int], Option[Int])](
        (key, None, Some(at + 40)), (key, Some(0), None),
        (key, None, None)).filter(_ => rnd.nextBoolean())
      rnd.shuffle(chain ++ nulls)
    } ++ Seq(("only_nulls", None, Some(5)), ("only_nulls", Some(3), None))
    val gaps = rows.collect { case (k, Some(b), Some(e)) => (k, b, e) }
      .groupBy(_._1).values.flatMap { ivs =>
        val sorted = ivs.sortBy(_._2)
        sorted.zip(sorted.tail).map { case (x, y) => y._2 - x._3 }
      }.toSet
    assert(gaps.contains(1) && gaps.contains(2), s"generator lost a gap case: $gaps")
    def oracle(gapDays: Int): Set[(String, Int, Int)] =
      rows.collect { case (k, Some(b), Some(e)) => (k, b, e) }
        .groupBy(_._1).toSeq.flatMap { case (k, ivs) =>
          val days = ivs.flatMap { case (_, b, e) => b to e }.distinct.sorted
          days.tail.foldLeft(List((days.head, days.head))) {
            case ((s0, e0) :: done, d) =>
              if (d - e0 <= gapDays) (s0, d) :: done else (d, d) :: (s0, e0) :: done
            case (Nil, _) => Nil
          }.map { case (b, e) => (k, b, e) }
        }.toSet
    val df = rows.toDF("k", "bi", "ei")
      .select(col("k"),
        expr("date_add(DATE '2020-01-01', bi)").as("b"),
        expr("date_add(DATE '2020-01-01', ei)").as("e"))
    val day0 = java.time.LocalDate.of(2020, 1, 1)
    def offsets(out: org.apache.spark.sql.DataFrame): Seq[(String, Int, Int)] =
      out.collect().toSeq.map { r =>
        def off(i: Int) = Option(r.getDate(i)).map(d =>
          java.time.temporal.ChronoUnit.DAYS.between(day0, d.toLocalDate).toInt)
        (r.getString(0), off(1).getOrElse(Int.MinValue), off(2).getOrElse(Int.MinValue))
      }
    def check(name: String, got: Seq[(String, Int, Int)], want: Set[(String, Int, Int)]) =
      assert(got.size == got.distinct.size && got.toSet == want,
        s"$name: missing=${(want -- got).take(4)} extra=${(got.toSet -- want).take(4)}")
    Seq(1, 2).foreach { g =>
      check(s"collapse gapDays=$g",
        offsets(Intervals.collapse(df, Seq("k"), "b", "e", gapDays = g)), oracle(g))
    }
    check("collapseFixedPoint gapDays=1",
      offsets(Intervals.collapseFixedPoint(df, Seq("k"), "b", "e", gapDays = 1)),
      oracle(1))
    // the cluster default: every generation a ledgered parquet round trip
    spark.conf.set(Materialize.ModeKey, "reliable")
    try check("collapseFixedPoint gapDays=1, reliable materialization",
      offsets(Intervals.collapseFixedPoint(df, Seq("k"), "b", "e", gapDays = 1)),
      oracle(1))
    finally {
      Materialize.releaseScratch(spark)
      spark.conf.unset(Materialize.ModeKey)
    }
  }
}
