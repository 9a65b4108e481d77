package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Materialize, QueryMetrics, Tables}
import graft.operators.{Components, FixedPoint, Intervals}

/** FixedPoint keeps no storage of its own: both loops pin generations
  * through [[graft.core.Materialize]]. Pinned here: the job counts of its
  * two callers in local mode, no file read behind a converged result, no
  * directory left behind in either mode, and degenerate input (empty, one
  * row) in both modes. */
class FixedPointSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` once per materialization mode, releasing scratch after. */
  private def inBothModes(body: String => Unit): Unit =
    Seq("local", "reliable").foreach { mode =>
      spark.conf.set(Materialize.ModeKey, mode)
      try body(mode)
      finally {
        Materialize.releaseScratch(spark)
        spark.conf.unset(Materialize.ModeKey)
      }
    }

  /** w8_interval_collapse's frame: one [date, date+3] interval per order. */
  private def orderIntervals: DataFrame =
    Tables.orders(spark, sf001).select(col("o_custkey"),
      to_date(col("o_orderdate")).as("begin_dt"),
      date_add(to_date(col("o_orderdate")), 3).as("end_dt"))

  private def collapseOrders: DataFrame = Intervals.collapseFixedPoint(
    orderIntervals, Seq("o_custkey"), "begin_dt", "end_dt", gapDays = 1)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toSeq: _*)
      .collect().map(_.toString).toSeq.sorted

  /** Jobs of a warm build-and-collect (the warm-up absorbs one-time scan
    * jobs such as the table repack). */
  private def warmJobs(build: => DataFrame): Int = {
    sortedRows(build)
    Materialize.releaseScratch(spark)
    QueryMetrics.measure(spark)(sortedRows(build))._2.jobs
  }

  // Local mode, local[4] at sf0.001; the same counts were read at 2 cores.
  // A generation costs one pin plus its count, and iterateSteps pins
  // every 4th step. A parquet write+read per pin in place of Materialize
  // runs 38 jobs for e_pagerank and 13 for the collapse.
  test("job counts: e_pagerank and collapseFixedPoint over orders intervals") {
    val pagerank = warmJobs(SparkEntry.queries("e_pagerank")(spark, sf001))
    assert(pagerank <= 33, s"e_pagerank ran $pagerank jobs")
    val collapse = warmJobs(collapseOrders)
    assert(collapse <= 9, s"collapseFixedPoint ran $collapse jobs")
  }

  test("collapseFixedPoint's result reads no file") {
    val plan = collapseOrders.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan"), plan)
  }

  test("local mode: collapseFixedPoint creates no directory under java.io.tmpdir") {
    def fixpointDirs(): Set[String] =
      Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
        .map(_.filter(_.startsWith("graft-fixpoint")).toSet).getOrElse(Set.empty)
    val before = fixpointDirs()
    spark.conf.set(Materialize.ModeKey, "local")
    try collapseOrders.collect()
    finally spark.conf.unset(Materialize.ModeKey)
    assert(fixpointDirs() -- before == Set.empty)
  }

  test("reliable mode: releaseScratch removes every generation the call wrote") {
    val root = java.nio.file.Files.createTempDirectory("graft-fp-scratch").toFile
    def entries(): Seq[String] = Option(root.list()).map(_.toSeq).getOrElse(Nil)
    spark.conf.set(Materialize.ModeKey, "reliable")
    spark.conf.set(Materialize.ScratchKey, root.getPath)
    try {
      collapseOrders.collect()
      assert(entries().nonEmpty, "reliable generations were not written under the root")
      Materialize.releaseScratch(spark)
      assert(entries().isEmpty, s"left under the scratch root: ${entries()}")
    } finally {
      spark.conf.unset(Materialize.ModeKey)
      spark.conf.unset(Materialize.ScratchKey)
      root.delete()
    }
  }

  test("iterate: empty input and a single row, both modes") {
    inBothModes { mode =>
      val empty = Seq.empty[Long].toDF("id")
      assert(FixedPoint.iterate(empty, _.filter(col("id") > 0), maxIter = 3)
        .collect().isEmpty, mode)
      val one = Seq(7L).toDF("id")
      assert(FixedPoint.iterate(one, _.filter(col("id") > 0), maxIter = 3)
        .collect().map(_.getLong(0)).toSeq == Seq(7L), mode)
    }
  }

  test("collapseFixedPoint: empty input and a single row, both modes") {
    val day = java.sql.Date.valueOf("2020-01-01")
    val later = java.sql.Date.valueOf("2020-01-04")
    inBothModes { mode =>
      val empty = Seq.empty[(String, java.sql.Date, java.sql.Date)].toDF("k", "b", "e")
      assert(Intervals.collapseFixedPoint(empty, Seq("k"), "b", "e")
        .collect().isEmpty, mode)
      val one = Seq(("a", day, later)).toDF("k", "b", "e")
      val got = Intervals.collapseFixedPoint(one, Seq("k"), "b", "e").collect()
        .map(r => (r.getString(0), r.getDate(1), r.getDate(2))).toSeq
      assert(got == Seq(("a", day, later)), mode)
    }
  }

  test("pageRank: empty graph, one isolated node and one self-loop, both modes") {
    inBothModes { mode =>
      def rank(edges: Seq[(String, String, Double)], nodes: Seq[String]) =
        Components.pageRank(edges.toDF("f", "t", "w"), nodes.toDF("node"),
          "f", "t", "w", iters = 5)
          .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(rank(Nil, Nil).isEmpty, mode)
      // no in-edges: the base rank only
      assert(rank(Nil, Seq("a")) == Seq(("a", (1.0 - 0.85) / 1)), mode)
      // a self-loop keeps all the mass
      val Seq((node, r)) = rank(Seq(("a", "a", 2.0)), Seq("a"))
      assert(node == "a" && math.abs(r - 1.0) < 1e-12, s"$mode: $r")
    }
  }
}
