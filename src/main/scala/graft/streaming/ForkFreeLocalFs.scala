package graft.streaming

import java.net.URI
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with permissions set and link status
  * read in-process. Without the native Hadoop library, the stock class
  * runs `chmod` as a child process for every directory, data file and
  * `.crc` it creates (6–8 ms per bucket file against well under 1 ms in
  * process), and `readlink` for every link-status lookup, which
  * `FileContext.rename` makes four times per manifest commit.
  *
  * Only the nine `rwx` bits are set in process. A mode with any other
  * bit (sticky, for one) or a store without POSIX attributes takes the
  * stock path, as does the link status of a path that really is a
  * symbolic link, so every result equals the stock class's.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, ForkFreeLocalFs.posixOf(mode))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** [[ForkFreeRawLocalFileSystem]] under Hadoop's checksum layer, so
  * `.crc` files are written and verified exactly as by the stock
  * `LocalFileSystem`. Named by `fs.file.impl` in a store write's options
  * ([[BucketState.writeOptions]]).
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` side (`AbstractFileSystem`) of the same filesystem,
  * used for the store's rename-over commits. An overwriting rename of a
  * file is one `rename(2)`: the stock local implementation deletes the
  * destination first and renames after, so a crash between the two
  * leaves no file at all where the manifest was.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(uri, conf))

object ForkFreeLocalFs {
  private val bits = Seq(
    0x100 -> PosixFilePermission.OWNER_READ, 0x80 -> PosixFilePermission.OWNER_WRITE,
    0x40 -> PosixFilePermission.OWNER_EXECUTE, 0x20 -> PosixFilePermission.GROUP_READ,
    0x10 -> PosixFilePermission.GROUP_WRITE, 0x8 -> PosixFilePermission.GROUP_EXECUTE,
    0x4 -> PosixFilePermission.OTHERS_READ, 0x2 -> PosixFilePermission.OTHERS_WRITE,
    0x1 -> PosixFilePermission.OTHERS_EXECUTE)

  private[streaming] def posixOf(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (bit, perm) => if ((mode & bit) != 0) s.add(perm) }
    s
  }

  /** The raw `AbstractFileSystem`: what Hadoop's `RawLocalFs` is over
    * the stock raw filesystem (whose constructors are package-private).
    */
  final class Raw private (uri: URI, conf: Configuration, raw: ForkFreeRawLocalFileSystem)
      extends DelegateToFileSystem(uri, raw, conf, "file", false) {
    def this(uri: URI, conf: Configuration) = this(uri, conf, new ForkFreeRawLocalFileSystem)

    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true

    override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit = {
      val s = raw.pathToFile(src).toPath
      val d = raw.pathToFile(dst).toPath
      if (overwrite && Files.isRegularFile(s, java.nio.file.LinkOption.NOFOLLOW_LINKS) &&
          !Files.isDirectory(d))
        Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
      else super.renameInternal(src, dst, overwrite)
    }
  }
}
