package graft.lake

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The checksummed local filesystem over [[NioRawLocalFileSystem]]: what
  * `file://` resolves to for a write that selects it through
  * [[NioLocalFileSystem.writerOptions]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Without `libhadoop`, `RawLocalFileSystem.setPermission` forks a
  * `chmod` process for every file, `.crc` and directory a write creates.
  * This override sets the same nine rwx bits with
  * `Files.setPosixFilePermissions`, i.e. the same `chmod(2)` without the
  * fork. A mode with bits beyond rwx (sticky, setuid, setgid) or a store
  * that is not POSIX takes the stock path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // beyond 0777
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioLocalFileSystem.posix(mode))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}

object NioLocalFileSystem {
  /** Writer options that route one DataFrame write's `file://` paths
    * through [[NioLocalFileSystem]]. Spark merges them into that write's
    * own Hadoop conf, which both the job commit and the task writers
    * use. The FileSystem cache is keyed by scheme, authority
    * and user, not by conf, so the cache is bypassed for these writes;
    * otherwise the already-cached stock instance would answer. Other
    * schemes ignore both keys. */
  val writerOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  private[lake] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // declared from owner read (mode bit 8) down to others execute (bit 0)
    PosixFilePermission.values().zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (1 << (8 - i))) != 0) s.add(perm)
    }
    s
  }
}
