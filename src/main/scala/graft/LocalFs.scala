package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local filesystem without child processes. Without `libhadoop`,
  * Hadoop's `RawLocalFileSystem` runs `chmod` through a shell for every file
  * and directory it creates, and `readlink` for every `FileContext` rename
  * (on a `file:`-prefixed path, so it always fails and returns ""). A
  * streaming micro-batch creates and renames dozens of checkpoint, state
  * and sink files, so the archiver forked ~100 processes per batch. Here
  * both run in-process:
  *
  *  - `setPermission` sets the rwx triplets with NIO; only a sticky bit,
  *    which NIO cannot set and nothing in the engine asks for, goes to
  *    Hadoop's shell `chmod`;
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus`, which is what Hadoop returns once `readlink` fails;
  *    real symlinks still go through Hadoop.
  *
  * `.crc` checksums, atomic renames and file modes are unchanged.
  * `GraftSession.tuning` registers the two wrappers below for `file:`.
  */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
    catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getFile) }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  /** The rwx bits of `p.toShort` (what Hadoop's shell `chmod` gets); NIO
    * lists them owner-read first, the order of the mode's bits from 0400.
    */
  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for ((perm, i) <- PosixFilePermission.values.zipWithIndex
         if (p.toShort & (0x100 >> i)) != 0) s.add(perm)
    s
  }
}

/** `fs.file.impl`: the FileSystem API (sink writes, compaction, source
  * listing) with `LocalFileSystem`'s `.crc` checksums.
  */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the FileContext API that Spark's
  * checkpoint manager uses (offset and commit logs, state-store deltas and
  * snapshots), built as Hadoop's `LocalFs` is: a `ChecksumFs` over the raw
  * filesystem. `RawLocalFs` cannot be subclassed (package-private
  * constructors), so its three overrides are repeated here.
  */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessRawLocalFs(uri, conf))

class InProcessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new InProcessRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
