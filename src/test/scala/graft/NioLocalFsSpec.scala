package graft

import java.io.File
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission

import graft.core.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** [[NioLocalFs]] against stock Hadoop: every call leaves the same mode
  * bits and returns the same statuses as the stock local filesystem
  * does, through the FileSystem and the FileContext API. Each case runs
  * the same steps on both in two fresh directories and compares them. */
class NioLocalFsSpec extends SparkSpec {

  private val LocalUri = URI.create("file:///")

  /** (stock, NIO) configurations with Hadoop's umask set to `umask`. */
  private def confs(umask: String): (Configuration, Configuration) = {
    def conf(fs: Class[_], afs: Class[_]) = {
      val c = new Configuration()
      c.set("fs.permissions.umask-mode", umask)
      c.set("fs.file.impl", fs.getName)
      c.set("fs.AbstractFileSystem.file.impl", afs.getName)
      c
    }
    (conf(classOf[LocalFileSystem], classOf[LocalFs]),
      conf(classOf[NioLocalFileSystem], classOf[NioLocalFs]))
  }

  private def fileSystem(conf: Configuration): FileSystem = FileSystem.newInstance(LocalUri, conf)
  private def fileContext(conf: Configuration): FileContext = FileContext.getFileContext(LocalUri, conf)

  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort
  private def mode(f: File): Int = Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every path under `root`, relative, with its full mode (setuid, setgid
    * and sticky bits included) and, for files, its bytes. */
  private def tree(root: File): Map[String, (String, String)] = {
    def walk(f: File): Seq[File] = f +: Option(f.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(walk)
    walk(root).map { f =>
      root.toPath.relativize(f.toPath).toString ->
        (Integer.toOctalString(mode(f)),
          if (f.isFile) new String(Files.readAllBytes(f.toPath), "ISO-8859-1") else "")
    }.toMap
  }

  /** Runs `steps` on the stock and the NIO side, each in its own fresh
    * directory, and asserts the two trees are equal; returns the tree. */
  private def sameTree(umask: String)(steps: (Configuration, File) => Unit)
      : Map[String, (String, String)] = {
    val (stock, nio) = confs(umask)
    val Seq(a, b) = Seq(stock, nio).map { conf =>
      val root = Files.createTempDirectory("graft_niofs").toFile
      try { steps(conf, root); tree(root) }
      finally org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
    assert(b == a, s"umask $umask: NIO tree differs from stock")
    a
  }

  private def write(out: org.apache.hadoop.fs.FSDataOutputStream, s: String): Unit =
    try out.write(s.getBytes("UTF-8")) finally out.close()

  test("FileSystem create and mkdirs set the stock mode bits under umask 022 and 077") {
    val trees = Seq("022", "077").map { umask =>
      sameTree(umask) { (conf, root) =>
        val fs = fileSystem(conf)
        write(fs.create(new Path(root.getPath, "a/b/part-0")), "rows")
        write(fs.create(new Path(root.getPath, "a/part-1"), new FsPermission(octal("640")),
          true, 4096, 1.toShort, 1L << 25, null), "more")
        assert(fs.mkdirs(new Path(root.getPath, "d1/d2")))
        assert(fs.mkdirs(new Path(root.getPath, "d3"), new FsPermission(octal("750"))))
        fs.close()
      }
    }
    // the umask reaches the bits, so both sides were compared on it
    assert(trees(0)("a/b/part-0")._1 == "644" && trees(1)("a/b/part-0")._1 == "600")
    assert(trees(0)("a/b/.part-0.crc")._1 == "644" && trees(0)("d1/d2")._1 == "755")
  }

  test("FileContext create and mkdir set the stock mode bits under umask 022 and 077") {
    val trees = Seq("022", "077").map { umask =>
      sameTree(umask) { (conf, root) =>
        val fc = fileContext(conf)
        write(fc.create(new Path(root.getPath, "c/offsets/0"),
          java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent()), "v1")
        write(fc.create(new Path(root.getPath, "c/state"),
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.perms(new FsPermission(octal("664")))), "s")
        fc.mkdir(new Path(root.getPath, "m1/m2"), FsPermission.getDirDefault, true)
        fc.mkdir(new Path(root.getPath, "m3"), new FsPermission(octal("711")), false)
      }
    }
    assert(trees(0)("c/offsets/0")._1 == "644" && trees(1)("c/offsets/0")._1 == "600")
    assert(trees(0)("m1/m2")._1 == "755" && trees(1)("m1/m2")._1 == "700")
  }

  test("setPermission sets the stock bits, sticky and setuid/setgid paths included") {
    val t = sameTree("022") { (conf, root) =>
      val fs = fileSystem(conf)
      def path(name: String) = new Path(root.getPath, name)
      // a path that already has setid bits, as a parent with g+s leaves its
      // children
      def setMode(name: String, mode: String) =
        Files.setAttribute(new File(root, name).toPath, "unix:mode", octal(mode).toInt)
      Seq("f", "suid_f", "sgid_f").foreach(n => write(fs.create(path(n)), "x"))
      Seq("sticky", "sgid", "sgid_sticky", "suid").foreach(n => assert(fs.mkdirs(path(n))))
      setMode("suid_f", "6755"); setMode("sgid_f", "2755")
      setMode("sgid", "2755"); setMode("sgid_sticky", "2755"); setMode("suid", "4700")
      fs.setPermission(path("f"), new FsPermission(octal("604")))
      fs.setPermission(path("suid_f"), new FsPermission(octal("755")))
      fs.setPermission(path("sgid_f"), new FsPermission(octal("1644")))
      fs.setPermission(path("sticky"), new FsPermission(octal("1777")))
      fs.setPermission(path("sgid"), new FsPermission(octal("750")))
      fs.setPermission(path("sgid_sticky"), new FsPermission(octal("1777")))
      fs.setPermission(path("suid"), new FsPermission(octal("755")))
      fs.close()
    }
    assert(t("f")._1 == "604" && t("sticky")._1 == "1777")
    // an octal chmod clears a file's setid bits and keeps a directory's
    assert(t("suid_f")._1 == "755" && t("sgid_f")._1 == "1644")
    assert(t("sgid")._1 == "2750" && t("sgid_sticky")._1 == "3777" && t("suid")._1 == "4755")
  }

  /** What a status says, field by field (`FileStatus.equals` compares
    * paths only). */
  private def fields(s: FileStatus): Seq[Any] =
    Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime,
      s.getAccessTime, s.getPermission, s.getOwner, s.getGroup, s.getReplication,
      s.getBlockSize)

  private def outcome(call: => FileStatus): Either[String, Seq[Any]] =
    try Right(fields(call))
    catch { case e: java.io.IOException => Left(s"${e.getClass.getName}: ${e.getMessage}") }

  test("getFileLinkStatus returns the stock status for files, directories, links and missing paths") {
    val root = Files.createTempDirectory("graft_niofs_links").toFile
    try {
      val file = new File(root, "file"); Files.writeString(file.toPath, "abc")
      val dir = new File(root, "dir"); assert(dir.mkdir())
      val link = new File(root, "link")
      Files.createSymbolicLink(link.toPath, file.toPath)
      val relLink = new File(root, "rel_link")
      Files.createSymbolicLink(relLink.toPath, java.nio.file.Paths.get("dir"))
      val dangling = new File(root, "dangling")
      Files.createSymbolicLink(dangling.toPath, new File(root, "gone").toPath)
      val (stockConf, nioConf) = confs("022")
      val stock = new RawLocalFileSystem; stock.initialize(LocalUri, stockConf)
      val nio = new NioRawLocalFileSystem; nio.initialize(LocalUri, nioConf)
      val (stockFc, nioFc) = (fileContext(stockConf), fileContext(nioConf))
      val paths = Seq(file, dir, link, relLink, dangling, new File(root, "missing"))
        .flatMap { f => val p = new Path(f.getPath); Seq(p, stock.makeQualified(p)) }
      paths.foreach { p =>
        val want = outcome(stock.getFileLinkStatus(p))
        assert(outcome(nio.getFileLinkStatus(p)) == want, s"FileSystem, $p")
        assert(outcome(nioFc.getFileLinkStatus(p)) == outcome(stockFc.getFileLinkStatus(p)),
          s"FileContext, $p")
      }
      // the cases the comparison covers: an unqualified link is a link
      // (its target qualified), and a missing path throws
      val l = nio.getFileLinkStatus(new Path(link.getPath))
      assert(l.isSymlink && l.getSymlink.toString == s"file:${file.getPath}")
      assert(nio.getFileLinkStatus(new Path(dangling.getPath)).isSymlink)
      assert(outcome(nio.getFileLinkStatus(new Path(root.getPath, "missing"))).isLeft)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("FileContext rename with NONE and OVERWRITE matches stock") {
    val t = sameTree("022") { (conf, root) =>
      val fc = fileContext(conf)
      def file(name: String, body: String): Path = {
        val p = new Path(root.getPath, name)
        write(fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent()), body)
        p
      }
      val (src, dst, next) = (file("src", "new"), file("dst", "old"), new Path(root.getPath, "moved"))
      fc.rename(src, next, Options.Rename.NONE)
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException](
        fc.rename(next, dst, Options.Rename.NONE))
      fc.rename(next, dst, Options.Rename.OVERWRITE)
    }
    assert(t.keySet == Set("", "dst", ".dst.crc") && t("dst")._2 == "new")
  }

  test("the engine's session resolves file:// to the NIO filesystem") {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    // Hadoop caches FileSystems by scheme and authority, not by class: the
    // first file:// instance made in this JVM is what every caller gets
    assert(FileSystem.get(LocalUri, conf).isInstanceOf[NioLocalFileSystem])
    assert(AbstractFileSystem.get(LocalUri, conf).isInstanceOf[NioLocalFs])
  }
}
