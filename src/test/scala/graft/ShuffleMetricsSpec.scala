package graft

import graft.core.{QueryMetrics, Tables}

/** Measured-data-movement audits. PlanAuditSpec pins plan SHAPE (broadcast
  * nodes present, no cartesians); these pin the actual task-metric flow —
  * catching regressions the plan string can't show, e.g. a broadcast that
  * falls back to a shuffled join at runtime, or a partial aggregate that
  * stops combining and ships the full fact through the exchange.
  * Thresholds are orders-of-magnitude gates (fact tables at sf0.001 are
  * thousands of rows; the audited exchanges must stay at tens), not exact
  * counts — partition-count and AQE changes shouldn't flake them. */
class ShuffleMetricsSpec extends SparkSpec {

  /** Metrics of one query run, measured as Bench measures a row. */
  private def measure(name: String): QueryMetrics =
    Bench.measureRow(spark, sf001, name)._2

  test("j1: broadcast star — the fact side never rides an exchange") {
    val m = measure("j1_star_revenue")
    // only the agg partial->final hop shuffles: group rows, not lineitem
    assert(m.shuffleWriteRecords < 1000,
      s"j1 shuffled ${m.shuffleWriteRecords} records — a dim stopped broadcasting")
    // the dims are built as broadcasts in the AQE final plan, not only
    // planned as ones
    assert(m.broadcastBytes.exists(_ > 0),
      s"j1 broadcast builds (dataSize bytes): ${m.broadcastBytes}")
    // a build's row count is the same on any host (its dataSize is
    // allocated hash-relation pages, which scale with heap and cores):
    // each build holds exactly its broadcast dim's rows. Besides the
    // hinted nation and region, customer (150 rows at sf0.001) is under
    // the auto-broadcast threshold, so it is built as one too.
    val dims = Seq(Tables.customer(spark, sf001), Tables.nation(spark, sf001),
      Tables.region(spark, sf001)).map(_.count())
    assert(m.broadcastRows.sorted == dims.sorted,
      s"j1 broadcast build rows ${m.broadcastRows}, dims $dims")
  }

  test("a1: map-side combine holds — shuffle carries group rows only") {
    val m = measure("a1_pricing_summary")
    assert(m.shuffleWriteRecords < 200,
      s"a1 shuffled ${m.shuffleWriteRecords} records — partial aggregation lost")
    // the listener sees the run's jobs and stages, not only its tasks
    assert(m.jobs >= 1 && m.stages >= 1, s"a1 jobs ${m.jobs}, stages ${m.stages}")
  }

  test("j13: salted join replicates the dim, never shuffles the fact") {
    val m = measure("j13_salted_join")
    assert(m.shuffleWriteRecords < 1000,
      s"j13 shuffled ${m.shuffleWriteRecords} records — salt fell back to exchange")
  }

  test("s_cosine_topk: corpus is scanned, not shuffled, for the join") {
    val m = measure("s_cosine_topk")
    assert(m.shuffleWriteRecords < 1000,
      s"topk shuffled ${m.shuffleWriteRecords} records — queries stopped broadcasting")
  }

  test("pair-dedup family: no spill at test scale") {
    for (q <- Seq("d_minhash_lsh", "d_simhash", "t_edit_distance")) {
      val m = measure(q)
      assert(m.spillBytes == 0, s"$q spilled ${m.spillBytes} bytes")
    }
  }

  test("Bench.measureRow: rows observed on the cold run == count()") {
    for (q <- Seq("a1_pricing_summary", "d_simhash")) {
      val (_, m, rows) = Bench.measureRow(spark, sf001, q, countRows = true)
      val want = SparkEntry.queries(q)(spark, sf001).count()
      assert(rows.contains(want), s"$q: observed $rows rows, count() $want")
      assert(m.jobs >= 1 && m.stages >= 1 && m.tasks >= 1,
        s"$q jobs ${m.jobs}, stages ${m.stages}, tasks ${m.tasks}")
    }
  }
}
