package graft.core

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with permissions set and links read through
  * `java.nio.file` instead of a `chmod` or `readlink` process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` starts one
  * `chmod` per file it creates (data and checksum file) and per directory
  * it makes, and one `readlink` per path a `FileContext` rename checks.
  * Each is a process of a few milliseconds (see [[GraftSession.local]]).
  * The two overrides below keep the stock class's results and only
  * replace the mechanism. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** `chmod <octal mode>` as one `unix:mode` write. An octal `chmod`
    * keeps a directory's setuid and setgid bits and sets a file's mode
    * outright, so a directory's current setid bits are kept here too. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    val mode = permission.toShort.toInt
    val cur = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
    Files.setAttribute(path, "unix:mode",
      if ((cur & TypeBits) == DirType) mode | (cur & SetIdBits) else mode)
  }

  /** The stock method's steps, with the link read by
    * `Files.readSymbolicLink`. Like the stock method, it reads the link at
    * `new File(f.toString)`, so a qualified `file:` path is never seen as a
    * link, and a symlink's status carries its target's length, times and
    * permission. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target = readLink(new File(f.toString))
    val st =
      try {
        val s = getFileStatus(f)
        if (target.isEmpty) s
        else new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize,
          s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner,
          s.getGroup, new Path(target), f)
      } catch {
        // a dangling link: its target does not exist
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
            new Path(target), f)
      }
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }
}

object NioRawLocalFileSystem {
  private val SetIdBits = 0xc00 // 06000
  private val TypeBits = 0xf000 // S_IFMT
  private val DirType = 0x4000 // S_IFDIR

  /** The link's target, or "" when `f` is not a link (what the stock
    * `FileUtil.readLink` returns when its `readlink` process fails). */
  private def readLink(f: File): String =
    try {
      val p = f.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString else ""
    } catch { case _: IOException | _: InvalidPathException => "" }
}

/** `LocalFileSystem` (checksummed) over [[NioRawLocalFileSystem]]: the
  * FileSystem API's `file://` implementation (`fs.file.impl`). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]] (its constructors
  * are package-private, so its overrides are repeated here). */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` over [[NioRawLocalFs]]: the FileContext API's
  * `file://` implementation (`fs.AbstractFileSystem.file.impl`), which
  * streaming checkpoints, offset and commit logs and the state store
  * write through. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
