package graft

import java.io.File
import java.nio.file.Files

/** Recurring work compiles each generated class once per JVM. Spark's
  * codegen cache is an LRU, and a cycle of plans that generates more
  * distinct classes than it holds evicts each class before its next use,
  * so every cycle recompiles it
  * ([[graft.core.GraftSession.CodegenCacheEntries]] sizes the cache).
  *
  * The cycle runs in a fresh JVM ([[CodegenCycle]]): in the shared test
  * session the cache already holds classes that earlier suites compiled,
  * so the first cycle's count would depend on which suites ran before
  * (81 in a full run). */
class CodegenCacheSpec extends SparkSpec {

  test("a second cycle of catalog rows compiles at most 10% of the first") {
    import scala.jdk.CollectionConverters._
    val work = Files.createTempDirectory("graft_codegen_cycle").toFile
    val (out, err) = (new File(work, "out"), new File(work, "err"))
    // a fresh temp dir too: the streaming rows compile less when they
    // resume from a checkpoint an earlier run left under java.io.tmpdir
    val cmd = ForkedJvm.command("1g", "graft.CodegenCycle", sf001)
    val p = new ProcessBuilder((cmd.head +: s"-Djava.io.tmpdir=$work" +: cmd.tail).asJava)
      .directory(work).redirectOutput(out).redirectError(err).start()
    val exit =
      if (p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)) p.exitValue()
      else { p.destroyForcibly().waitFor(); -1 }
    assert(exit == 0, s"cycle exit $exit: ${Files.readString(err.toPath).takeRight(2000)}")
    val Seq(first, second) = Files.readAllLines(out.toPath).asScala
      .collectFirst { case l if l.startsWith("CYCLE ") => l.split(" ").toSeq.tail.map(_.toLong) }
      .getOrElse(fail(s"no CYCLE line in ${Files.readString(out.toPath)}"))
    org.apache.commons.io.FileUtils.deleteDirectory(work)
    info(s"compiled: first cycle $first, second cycle $second")
    // the cycle must outgrow Spark's default 100-entry cache to gate it
    assert(first > 100, s"first cycle compiled only $first classes")
    // AQE may vary a plan between cycles, which compiles a few classes
    assert(second * 10 <= first,
      s"second cycle recompiled $second of the first cycle's $first classes")
  }
}

/** CodegenCacheSpec's cycle: perfbench's board_mix rows plus two
  * streaming rows, run twice in one session as Bench measures a row.
  * Prints `CYCLE <first> <second>`, the classes each cycle compiled.
  *
  * Usage: CodegenCycle <sfDir>
  */
object CodegenCycle {
  private val rows = Seq("q3_shipping_priority", "j19_asof_events",
    "w8_interval_collapse", "f_udf_scalar", "ml_feature_covariance",
    "io_csv_roundtrip", "io_overwrite_partition", "st_stream_enrich",
    "pl_scd2_history", "dq_expectations", "st_session_window",
    "st_tumbling_watermark")

  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(4, "graft-codegen-cycle")
    def cycle(): Long = rows.map(Bench.measureRow(spark, args(0), _)._2.codegenCompiles).sum
    val first = cycle()
    println(s"CYCLE $first ${cycle()}")
    spark.stop()
  }
}
