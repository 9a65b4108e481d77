package graft

import java.io.File
import java.nio.file.Files

/** A main of the test classpath run in a fresh JVM, for tests that need
  * more than the shared test JVM gives: two processes racing
  * (RepackSpec), or JVM-global state, such as Spark's codegen cache or
  * Hadoop's FileSystem cache, that no earlier suite has touched
  * (CodegenCacheSpec, SpawnSpec). */
object ForkedJvm {

  /** `java -Xmx<heap>` with this JVM's `--add-opens` set and classpath. */
  def command(heap: String, main: String, args: String*): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    // this JVM's --add-opens set, in either the joined or the two-token form
    val opens = jvmArgs.zipWithIndex.flatMap {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case ("--add-opens", i) => Seq("--add-opens", jvmArgs(i + 1))
      case _ => Nil
    }
    Seq(s"${System.getProperty("java.home")}/bin/java", s"-Xmx$heap",
      "-Dspark.ui.enabled=false") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), main) ++ args
  }

  /** Runs `main` in a fresh JVM whose working directory and
    * `java.io.tmpdir` are a new directory, deleted afterwards, and returns
    * its stdout. A fresh temp dir because rows that resume from what an
    * earlier run left under the JVM's temp dir (a streaming checkpoint)
    * do less work. Throws with the tail of its stderr unless it exits 0
    * within 300 s. */
  def output(heap: String, main: String, args: String*): String = {
    import scala.jdk.CollectionConverters._
    val work = Files.createTempDirectory("graft_forked").toFile
    try {
      val (out, err) = (new File(work, "out"), new File(work, "err"))
      val cmd = command(heap, main, args: _*)
      val p = new ProcessBuilder((cmd.head +: s"-Djava.io.tmpdir=$work" +: cmd.tail).asJava)
        .directory(work).redirectOutput(out).redirectError(err).start()
      val exit =
        if (p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)) p.exitValue()
        else { p.destroyForcibly().waitFor(); -1 }
      if (exit != 0) throw new AssertionError(
        s"$main exit $exit: ${Files.readString(err.toPath).takeRight(2000)}")
      Files.readString(out.toPath)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(work)
  }
}
