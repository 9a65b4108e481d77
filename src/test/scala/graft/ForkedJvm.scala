package graft

/** A main of the test classpath run in a fresh JVM, for tests that need
  * more than the shared test JVM gives: two processes racing
  * (RepackSpec), or JVM-global state, such as Spark's codegen cache,
  * that no earlier suite has touched (CodegenCacheSpec). */
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
}
