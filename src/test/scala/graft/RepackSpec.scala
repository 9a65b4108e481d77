package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Concurrency + crash-safety contract of the scan-layout repack
  * ([[graft.core.Tables.repackInto]]): the served version dir appears
  * only via an atomic rename of a complete staging write, so concurrent
  * repackers (threads here, standing in for the cross-process race —
  * repackInto is called BELOW Tables' JVM-local lock, so these threads
  * race exactly where two JVMs would) all resolve a complete,
  * value-identical dir; crash remnants (.tmp_* orphans) are never
  * served and get swept. The cross-JVM leg forks two [[RepackRacer]]
  * processes onto one fresh repack root. */
class RepackSpec extends SparkSpec {

  private def freshBase(): File = {
    val d = Files.createTempDirectory("graft_repack_spec").toFile
    d.deleteOnExit(); d
  }

  // a single-file source big enough to clear RepackMinBytes is what the
  // repack path needs; fake `bytes` instead of shipping a 4 MB fixture —
  // repackInto takes the measured size as an argument
  private def writeSrc(dir: File, rows: Int): File = {
    val src = new File(dir, "t.parquet")
    val one = new File(dir, "stage")
    spark.range(rows).select(col("id"), (col("id") * 7 % 97).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(one.getPath)
    val part = Option(one.listFiles()).toSeq.flatten
      .find(_.getName.endsWith(".parquet")).get
    Files.move(part.toPath, src.toPath)
    src
  }

  test("concurrent repackInto: all racers read one complete version, no tmp orphans") {
    val base = freshBase()
    val srcDir = Files.createTempDirectory("graft_repack_src").toFile
    val src = writeSrc(srcDir, 50000)
    val want = spark.read.parquet(src.getPath)
      .agg(count(lit(1)), sum(col("v"))).head()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[File]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { _ =>
      new Thread(() =>
        try results.add(graft.core.Tables.repackInto(
          spark, src, new File(base, "x"), "t", bytes = 8L << 20))
        catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"racer failed: ${errors.peek()}")
    import scala.jdk.CollectionConverters._
    val dirs = results.asScala.toSeq
    assert(dirs.size == 4 && dirs.map(_.getPath).distinct.size == 1,
      "racers resolved different version dirs")
    assert(new File(dirs.head, "_SUCCESS").exists())
    // complete + value-identical to the source
    assert(spark.read.parquet(dirs.head.getPath)
      .agg(count(lit(1)), sum(col("v"))).head() == want)
    // losers' staging dirs discarded
    val leftovers = Option(new File(base, "x").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith(".tmp_"))
    assert(leftovers.isEmpty, s"staging orphans survived: $leftovers")
  }

  test("mtime move publishes a NEW version; stale one survives a grace, then sweeps") {
    val base = freshBase()
    val srcDir = Files.createTempDirectory("graft_repack_src2").toFile
    val src = writeSrc(srcDir, 20000)
    val b = new File(base, "x")
    val v1 = graft.core.Tables.repackInto(spark, src, b, "t", 8L << 20)
    assert(src.setLastModified(src.lastModified() + 5000))
    val v2 = graft.core.Tables.repackInto(spark, src, b, "t", 8L << 20)
    assert(v1.getPath != v2.getPath, "mtime move must version the repack")
    assert(new File(v2, "_SUCCESS").exists())
    // superseded version is NOT deleted immediately — an in-flight query
    // (this JVM or another process) may still be scanning it; the sweep
    // tombstones it and deletes only after the grace elapses
    val tomb = new File(v1, ".superseded")
    assert(v1.exists() && tomb.exists(),
      "superseded version should be tombstoned, not deleted, inside the grace")
    assert(spark.read.parquet(v1.getPath).count() == 20000,
      "superseded version must stay readable during the grace " +
        "(the tombstone is a hidden file Spark's listing skips)")
    assert(tomb.setLastModified(
      System.currentTimeMillis() - graft.core.Tables.SweepGraceMillis - 60000))
    val v3 = graft.core.Tables.repackInto(spark, src, b, "t", 8L << 20)
    assert(v3.getPath == v2.getPath)
    assert(!v1.exists(), "superseded version should sweep once the tombstone ages out")
  }

  test("re-kept version clears its stale tombstone; re-supersession starts a fresh grace") {
    // r16 (ADVICE): a version dir superseded and later re-kept (source
    // mtime restored — e.g. a testdata dir copied back) must not retain
    // its aged .superseded tombstone, or the NEXT real supersession
    // would delete it immediately under any in-flight reader.
    val base = freshBase()
    val srcDir = Files.createTempDirectory("graft_repack_src5").toFile
    val src = writeSrc(srcDir, 20000)
    val b = new File(base, "x")
    val m1 = src.lastModified()
    val v1 = graft.core.Tables.repackInto(spark, src, b, "t", 8L << 20)
    assert(src.setLastModified(m1 + 5000))
    graft.core.Tables.repackInto(spark, src, b, "t", 8L << 20)
    val tomb = new File(v1, ".superseded")
    assert(tomb.exists())
    // age the tombstone past the grace, then make v1 the keep target again
    assert(tomb.setLastModified(
      System.currentTimeMillis() - graft.core.Tables.SweepGraceMillis - 60000))
    assert(src.setLastModified(m1))
    val vKept = graft.core.Tables.repackInto(spark, src, b, "t", 8L << 20)
    assert(vKept.getPath == v1.getPath)
    assert(!tomb.exists(), "re-kept version must shed its stale tombstone")
    // supersede AGAIN: v1 must get a fresh tombstone and survive the sweep
    assert(src.setLastModified(m1 + 5000))
    graft.core.Tables.repackInto(spark, src, b, "t", 8L << 20)
    assert(v1.exists() && tomb.exists(),
      "re-superseded version must start a fresh grace, not inherit the aged tombstone")
  }

  test("crash remnant (.tmp orphan) is never served and is swept when old") {
    val base = freshBase()
    val srcDir = Files.createTempDirectory("graft_repack_src3").toFile
    val src = writeSrc(srcDir, 20000)
    val b = new File(base, "x"); b.mkdirs()
    val orphan = new File(b, ".tmp_t_99999_1")
    orphan.mkdirs()
    Files.writeString(new File(orphan, "part-zzz.parquet").toPath, "junk")
    assert(orphan.setLastModified(System.currentTimeMillis() - 2 * 3600L * 1000))
    val v = graft.core.Tables.repackInto(spark, src, b, "t", 8L << 20)
    assert(spark.read.parquet(v.getPath).count() == 20000)
    assert(!orphan.exists(), "hour-old crash remnant should be swept")
  }

  test("two racing JVMs on one fresh repack root: identical fingerprints, no tmp orphans") {
    import scala.jdk.CollectionConverters._
    val root = freshBase()
    val work = freshBase()
    // sf0.1 lineitem (one 10.8 MB file) clears RepackMinBytes, so both
    // JVMs race the stage + atomic-rename publish
    val sf = new File(new File(sf001).getParentFile, "sf0.1").getPath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    // this JVM's --add-opens set, in either the joined or the two-token form
    val opens = jvmArgs.zipWithIndex.flatMap {
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case ("--add-opens", i) => Seq("--add-opens", jvmArgs(i + 1))
      case _ => Nil
    }
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g",
      "-Dspark.ui.enabled=false") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.RepackRacer", sf,
        "lineitem,orders,documents")
    val racers = Seq("a", "b").map { tag =>
      val (out, err) = (new File(work, s"$tag.out"), new File(work, s"$tag.err"))
      val pb = new ProcessBuilder(cmd.asJava).directory(work)
        .redirectOutput(out).redirectError(err)
      pb.environment().put("SPARK_GRAFT_REPACK_DIR", root.getPath)
      (pb.start(), out, err)
    }
    // wait for both before asserting, so a failed racer leaves no live sibling
    val exits = racers.map { case (p, _, _) =>
      if (p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)) p.exitValue()
      else { p.destroyForcibly().waitFor(); -1 }
    }
    val prints = racers.zip(exits).map { case ((_, out, err), exit) =>
      assert(exit == 0, s"racer exit $exit: ${Files.readString(err.toPath).takeRight(2000)}")
      Files.readAllLines(out.toPath).asScala.filter(_.startsWith("RACE ")).toSeq
    }
    assert(prints.head.size == 3 && prints.head == prints(1),
      s"fingerprints differ:\n${prints.head}\n${prints(1)}")
    def walk(f: File): Seq[File] =
      f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    val all = walk(root)
    assert(all.exists(f => f.getName.startsWith("lineitem.parquet.v") &&
      new File(f, "_SUCCESS").exists()), "no published lineitem repack")
    val orphans = all.filter(_.getName.startsWith(".tmp_"))
    assert(orphans.isEmpty, s"staging orphans survived: $orphans")
    Seq(root, work).foreach(org.apache.commons.io.FileUtils.deleteDirectory)
  }
}

/** One racer of RepackSpec's cross-JVM test: resolves each named table
  * through [[graft.core.Tables]] (on the `SPARK_GRAFT_REPACK_DIR` root)
  * and prints `RACE <table> <rows> <hash>`, where the hash is the
  * order-insensitive sum of every row's xxhash64 over all columns.
  *
  * Usage: RepackRacer <sfDir> <table,table,...>
  */
object RepackRacer {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(2, "graft-repack-race")
    args(1).split(",").foreach { t =>
      val df = graft.core.Tables(spark, args(0), t)
      val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col).toSeq: _*))).head()
      println(s"RACE $t ${r.get(0)} ${r.get(1)}")
    }
    spark.stop()
  }
}
