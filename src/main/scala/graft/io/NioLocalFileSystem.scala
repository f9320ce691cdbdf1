package graft.io

import java.nio.file.{Files, FileSystems}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system with one change: its raw layer
  * sets permissions through `java.nio` instead of forking `chmod`.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * runs `chmod` in a child process for every file, every `.crc` file and
  * every directory a write creates; a partitioned parquet write pays one
  * fork per file, serialized inside its task. `Files.setPosixFilePermissions`
  * makes the same chmod(2) call in-process. Any mode it cannot express
  * exactly (a sticky bit requested, set-id or sticky bits already on the
  * target, a file system without POSIX attributes) goes to Hadoop's own
  * `setPermission`, so the resulting modes are the same bits either way.
  *
  * The engine selects it per write through `WriteOptions`, never for the
  * session: only its own local file writes change.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** DataFrameWriter options that route the `file` scheme of one write to
    * this class. Hadoop caches one file system per scheme, and the session's
    * stock one is already cached, so the cache is bypassed for that write. */
  val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  private val SpecialBits = 0xe00 // 07000: set-user-id, set-group-id, sticky

  private[io] final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      if (!posix || permission.getStickyBit ||
          (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & SpecialBits) != 0)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(
        Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
          .map(_.SYMBOL).mkString))
    }
  }
}
