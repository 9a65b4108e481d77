package graft

import graft.core.Materialize

/** The cluster-safe materialization gate: every query whose plan pins an
  * intermediate through [[graft.core.Materialize]] must produce IDENTICAL
  * values under `reliable` mode (scratch-parquet round trip — the mode a
  * real cluster runs, where executors can be lost) as under the default
  * `local` mode (lazy localCheckpoint). The query list below covers all
  * nine migrated call sites:
  *
  *   - t_doc_terms            → TextQueries (tf frame, 2 consumers)
  *   - d_dedup_clusters       → Components.connectedComponents (loop)
  *   - e_pagerank             → Components.pageRank (edge/node pins) and
  *                              FixedPoint.iterateSteps (generations)
  *   - e_heavy_hitters        → Sketches.heavyHitters (MG summary)
  *   - d_incremental_dedup    → TextDedup.dedupAgainstIndex (batch index)
  *   - t_passage_scrub        → TextDedup.passageScrub (block frame)
  *   - io_delete_propagation  → FileIO.propagateDeletes (survivor pin)
  *   - pl_pretrain_corpus     → PipelineQueries (flagged frame)
  *   - s_semdedup             → SimQueries (cell assignment)
  *
  * FixedPoint.iterate's generations have no catalog row: IntervalsSpec's
  * day-expansion oracle runs `collapseFixedPoint` in both modes.
  */
class MaterializeSpec extends SparkSpec {

  private val covered = Seq(
    "t_doc_terms", "d_dedup_clusters", "e_pagerank", "e_heavy_hitters",
    "d_incremental_dedup", "t_passage_scrub", "io_delete_propagation",
    "pl_pretrain_corpus", "s_semdedup")

  private def values(name: String): Seq[String] = {
    val df = SparkEntry.queries(name)(spark, sf001)
    // compare by sorted column name so nullability / field order noise
    // can't mask a value diff (same discipline as the driver's oracle)
    val cols = df.columns.sorted.map(org.apache.spark.sql.functions.col)
    df.select(cols.toSeq: _*).collect().map(_.toString).sorted.toSeq
  }

  test("reliable mode (scratch-parquet) values == local mode values") {
    covered.foreach { name =>
      val local = values(name)
      spark.conf.set(Materialize.ModeKey, "reliable")
      val reliable =
        try values(name)
        finally spark.conf.unset(Materialize.ModeKey)
      assert(reliable == local, s"$name diverged under reliable materialization")
      assert(local.nonEmpty, s"$name returned no rows")
    }
  }

  test("unknown mode throws; reliable writes under the scratch root") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x")
    spark.conf.set(Materialize.ModeKey, "bogus")
    try {
      intercept[IllegalArgumentException](Materialize(df))
    } finally spark.conf.unset(Materialize.ModeKey)

    val root = java.nio.file.Files
      .createTempDirectory("graft-mat-spec").toString
    spark.conf.set(Materialize.ModeKey, "reliable")
    spark.conf.set(Materialize.ScratchKey, root)
    try {
      val m = Materialize(df)
      assert(m.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
      // lineage is cut: the materialized frame reads scratch parquet,
      // not the original local relation
      assert(m.inputFiles.nonEmpty && m.inputFiles.forall(_.contains(root)))
      val files = new java.io.File(root).listFiles()
      assert(files != null && files.exists(_.getName.startsWith("mat_")))
    } finally {
      spark.conf.unset(Materialize.ModeKey)
      spark.conf.unset(Materialize.ScratchKey)
    }
  }

  test("releaseScratch keeps a long board run's scratch bounded") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-mat-release").toString
    spark.conf.set(Materialize.ModeKey, "reliable")
    spark.conf.set(Materialize.ScratchKey, root)
    def matDirs(): Seq[String] = {
      val fs = new java.io.File(root).listFiles()
      if (fs == null) Seq.empty
      else fs.map(_.getName).filter(_.startsWith("mat_")).toSeq
    }
    try {
      // a "board": every query materializes, consumes, then releases —
      // the scratch root must never hold more than one query's worth
      (1 to 5).foreach { i =>
        val m = Materialize(Seq(i, i + 1).toDF("x"))
        assert(m.count() == 2) // full consumption
        assert(matDirs().size == 1, s"query $i left prior scratch behind")
        Materialize.releaseScratch(spark)
        assert(matDirs().isEmpty, s"release after query $i left files")
      }
      // release is per-ledger, not rm -rf root: a file some OTHER
      // process put under the root survives
      val foreign = new java.io.File(root, "mat_foreign")
      assert(foreign.mkdir())
      Materialize(Seq(1).toDF("x")).count()
      Materialize.releaseScratch(spark)
      assert(matDirs() == Seq("mat_foreign"))
    } finally {
      spark.conf.unset(Materialize.ModeKey)
      spark.conf.unset(Materialize.ScratchKey)
    }
  }

  test("losing the blocks: local mode fails, reliable mode recounts") {
    // The in-process stand-in for losing the executor that held a
    // materialization's blocks: unpersist the RDDs the materialization
    // added, then recount. localCheckpoint truncated the lineage, so
    // local mode has no recompute path; the reliable round trip pins no
    // RDD and rereads its scratch parquet. Only RDDs this test added are
    // unpersisted — the session is shared.
    import org.apache.spark.sql.functions._
    val sc = spark.sparkContext
    def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def loseBlocks(mode: String): (Set[Int], Either[Throwable, Long]) = {
      spark.conf.set(Materialize.ModeKey, mode)
      try {
        val before = persisted
        val m = Materialize(spark.range(0, 20000, 1, 4)
          .groupBy(pmod(col("id"), lit(1000)).as("k")).agg(count(lit(1)).as("n")),
          eager = true)
        val added = persisted -- before
        added.foreach(id => sc.getPersistentRDDs(id).unpersist(blocking = true))
        (added, try Right(m.count()) catch { case e: Throwable => Left(e) })
      } finally {
        spark.conf.unset(Materialize.ModeKey)
        Materialize.releaseScratch(spark)
      }
    }
    val (localAdded, local) = loseBlocks("local")
    assert(localAdded.nonEmpty, "local mode pinned no RDD")
    local match {
      case Right(n) => fail(s"local mode recounted n=$n after losing its blocks")
      case Left(e) =>
        val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        assert(msgs.exists(m => m != null && m.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")), e)
    }
    val (reliableAdded, reliable) = loseBlocks("reliable")
    assert(reliableAdded.isEmpty, s"reliable mode pinned RDDs $reliableAdded")
    assert(reliable == Right(1000L), reliable)
  }
}
