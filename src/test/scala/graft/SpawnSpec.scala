package graft

/** The engine's file IO starts no processes. Without Hadoop's native
  * library, the stock `file://` filesystem runs `chmod` for every
  * permission it sets and `readlink` for every FileContext rename, and
  * `ls -ld` loads a listed file's permission;
  * [[graft.core.NioLocalFs]] makes those calls through `java.nio.file`.
  *
  * The cycle runs in a fresh JVM ([[SpawnCycle]]) with a fresh temp dir,
  * so its streaming rows start from empty checkpoints and Hadoop's
  * FileSystem cache holds only what the session put there. */
class SpawnSpec extends SparkSpec {

  test("a cycle of file-writing rows starts no chmod, readlink, ls or stat") {
    val out = ForkedJvm.output("1g", "graft.SpawnCycle", sf001)
    val census = out.linesIterator.collectFirst {
      case l if l.startsWith("SPAWNS") =>
        l.split(" ").toSeq.tail.map { kv =>
          val Array(cmd, n) = kv.split("=", 2); cmd -> n.toInt
        }.toMap
    }.getOrElse(fail(s"no SPAWNS line in $out"))
    info(s"processes started, by command: ${census.toSeq.sorted.mkString(" ")}")
    val shellOuts = census.filter { case (cmd, _) => Set("chmod", "readlink", "ls", "stat")(cmd) }
    assert(shellOuts.isEmpty, s"file IO started processes: $shellOuts")
  }
}

/** SpawnSpec's cycle: streaming, partition-overwrite, CSV and
  * footer-count rows, each run once as Bench measures a row, under a JFR
  * recording of `jdk.ProcessStart`. Prints `SPAWNS <command>=<n> ...`,
  * the processes started during the cycle by the file name of their
  * executable.
  *
  * Usage: SpawnCycle <sfDir>
  */
object SpawnCycle {
  private val rows = Seq("st_stream_enrich", "st_session_window",
    "io_overwrite_partition", "io_csv_roundtrip", "io_footer_count")

  def main(args: Array[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val spark = graft.core.GraftSession.local(4, "graft-spawn-cycle")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    rows.foreach(Bench.measureRow(spark, args(0), _))
    rec.stop()
    val file = java.nio.file.Files.createTempFile("spawns", ".jfr")
    rec.dump(file)
    rec.close()
    val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(e => new java.io.File(e.getString("command").split(" ").head).getName)
    println(("SPAWNS" +: commands.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (cmd, es) => s"$cmd=${es.size}" }).mkString(" "))
    spark.stop()
  }
}
