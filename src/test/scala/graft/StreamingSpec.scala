package graft

import graft.core.{SchemaDsl, Tables}
import graft.streaming.FileStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming correctness by batch equivalence (ST1-ST4, ST7, custom
  * state): streaming is not DuckDB-oracleable, so each test drains a
  * bounded file stream with Trigger.AvailableNow and asserts the result
  * equals the same transform run as a plain batch query on the same
  * input. */
class StreamingSpec extends SparkSpec {

  private def tmp(leaf: String) = {
    val p = s"${System.getProperty("java.io.tmpdir")}/graft_test_stream/$leaf"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    p
  }

  private val eventsSpec = "event_id:l;ts:timestamp;user_id:l;event_type:c;value:d;props:c"

  /** events testdata serialized as 3 JSON chunk files (the stream input). */
  private def writeChunks(dir: String): Unit = {
    val ev = Tables.events(spark, sf001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    (0 until 3).foreach { i =>
      ev.filter(col("event_id") % 3 === i).coalesce(1)
        .write.mode("append").json(dir)
    }
  }

  /** ST2 transform shape: nested-payload parse + explode + flatten. */
  private def st2Transform(df: org.apache.spark.sql.DataFrame) =
    df.filter(col("event_type") =!= "error")
      .withColumn("event_date", to_date(col("ts")))
      .select(col("*"), explode(from_json(col("props"),
        org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.IntegerType))).as(Seq("prop_key", "prop_val")))
      .drop("props")

  test("ST1-ST4: json file stream -> transform -> partitioned parquet sink == batch") {
    val src = tmp("etl_src"); val out = tmp("etl_out"); val ckpt = tmp("etl_ckpt")
    writeChunks(src)
    val schema = SchemaDsl.fromSpec(eventsSpec)
    val stream = st2Transform(
      FileStreams.jsonFileStream(spark, src, schema, maxFilesPerTrigger = 1))
    val q = FileStreams.startPartitionedParquetSink(stream, out, ckpt, Seq("event_date"))
    q.awaitTermination()

    val got = spark.read.parquet(out)
      .groupBy("event_type").agg(count(lit(1)).as("n"), sum(col("prop_val")).as("pv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = st2Transform(spark.read.schema(schema).json(src))
      .groupBy("event_type").agg(count(lit(1)).as("n"), sum(col("prop_val")).as("pv"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty)
    // ST4: the streaming output is a normal queryable partitioned table
    assert(spark.read.parquet(out).filter(col("event_date") === "2024-01-05").count() > 0)
  }

  test("ST7: watermarked tumbling-window counts == batch windowed agg") {
    val src = tmp("win_src")
    writeChunks(src)
    val schema = SchemaDsl.fromSpec(eventsSpec)
    val stream = FileStreams.tumblingCounts(
      FileStreams.jsonFileStream(spark, src, schema),
      "ts", "event_type", "1 day", "2 hours")
    val q = stream.writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Complete()).trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val got = spark.table("win_counts")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val want = spark.read.schema(schema).json(src)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("ST7: session windows (30 min gap) == batch session_window agg") {
    val src = tmp("sess_src")
    writeChunks(src)
    val schema = SchemaDsl.fromSpec(eventsSpec)
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s"), col("user_id"), col("n"))
    // one microbatch: the chunk files interleave event time, so a
    // multi-batch drain would legitimately drop whole files as late —
    // session semantics are what's under test here, not lateness
    val q = agg(FileStreams.jsonFileStream(spark, src, schema, maxFilesPerTrigger = 10))
      .writeStream.format("memory").queryName("sess_counts")
      .outputMode(OutputMode.Complete()).trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("sess_counts")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    val want = spark.read.schema(schema).json(src)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s"), col("user_id"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("ST7: dropDuplicatesWithinWatermark dedups replayed ids") {
    val src = tmp("ddw_src")
    // write the SAME chunk twice: every event is duplicated across files
    val ev = Tables.events(spark, sf001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .filter(col("event_id") < 500)
    ev.coalesce(1).write.mode("append").json(src)
    ev.coalesce(1).write.mode("append").json(src)
    val schema = SchemaDsl.fromSpec(eventsSpec)
    val q = FileStreams.jsonFileStream(spark, src, schema, maxFilesPerTrigger = 1)
      .withWatermark("ts", "100 days") // replay arrives within the watermark
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("ddw_out")
      .outputMode(OutputMode.Append()).trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val n = spark.table("ddw_out").count()
    assert(n == ev.count(), s"expected exactly-once ids, got $n")
  }

  test("custom state: mapGroupsWithState per-user aggregate == batch groupBy") {
    import spark.implicits._
    val src = tmp("state_src")
    writeChunks(src)
    val schema = SchemaDsl.fromSpec(eventsSpec)
    val typed = FileStreams.jsonFileStream(spark, src, schema)
      .select(col("user_id"), col("event_id"))
      .as[(Long, Long)]
    val counted = typed.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0L))
          var n = n0; var s = s0
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          (user, n, s)
      }.toDF("user_id", "n", "id_sum")
    val q = counted.writeStream.format("memory").queryName("user_state")
      .outputMode(OutputMode.Update()).trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    // update-mode memory sink keeps every emitted version; counts are
    // monotone so the final state per user is the max
    val got = spark.table("user_state")
      .groupBy("user_id").agg(max(col("n")).as("n"), max(col("id_sum")).as("id_sum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = spark.read.schema(schema).json(src)
      .groupBy("user_id").agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("Upsert: missing target bootstraps; corrupt target FAILS the batch") {
    import graft.streaming.Upsert
    import spark.implicits._
    val schema = SchemaDsl.fromSpec("id:l;v:c;ver:l")
    // happy path: no target dir yet → first batch bootstraps it
    val in1 = tmp("ups_in_ok"); val tg1 = tmp("ups_tg_ok"); val ck1 = tmp("ups_ck_ok")
    Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ver").write.parquet(in1)
    Upsert.startParquetUpsert(
      spark.readStream.schema(schema).parquet(in1), tg1, ck1,
      Seq("id"), Seq("ver", "id")).awaitTermination()
    assert(spark.read.parquet(tg1).count() == 2)
    // corrupt target (exists but unreadable — e.g. a crashed swap left
    // garbage): the batch must FAIL, not silently rebuild the table
    // from the current batch and discard previously merged keys
    val in2 = tmp("ups_in_bad"); val tg2 = tmp("ups_tg_bad"); val ck2 = tmp("ups_ck_bad")
    Seq((3L, "c", 1L)).toDF("id", "v", "ver").write.parquet(in2)
    new java.io.File(tg2).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(tg2, "part-0000.parquet"), "not a parquet file")
    val q = Upsert.startParquetUpsert(
      spark.readStream.schema(schema).parquet(in2), tg2, ck2,
      Seq("id"), Seq("ver", "id"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
  }

  test("Upsert: a crash between the swap renames loses no merged key") {
    import graft.streaming.Upsert
    import spark.implicits._
    val schema = SchemaDsl.fromSpec("id:l;v:c;ver:l")
    val in = tmp("ups_in_crash"); val tg = tmp("ups_tg_crash"); val ck = tmp("ups_ck_crash")
    val bak = new java.io.File(tg + "__old")
    org.apache.commons.io.FileUtils.deleteQuietly(bak)
    def drain(): Unit = Upsert.startParquetUpsert(
      spark.readStream.schema(schema).parquet(in), tg, ck,
      Seq("id"), Seq("ver", "id")).awaitTermination()
    def rows() = spark.read.parquet(tg).as[(Long, String, Long)].collect().toSet
    Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ver").write.parquet(in)
    drain()
    assert(rows() == Set((1L, "a", 1L), (2L, "b", 1L)))
    // the mid-swap state: the table was moved aside and the JVM died
    // before the fresh copy was renamed in — no target directory
    assert(new java.io.File(tg).renameTo(bak) && !new java.io.File(tg).exists())
    Seq((2L, "B", 2L), (3L, "c", 1L)).toDF("id", "v", "ver")
      .write.mode("append").parquet(in)
    drain()
    assert(rows() == Set((1L, "a", 1L), (2L, "B", 2L), (3L, "c", 1L)))
    assert(!bak.exists())
  }
}
