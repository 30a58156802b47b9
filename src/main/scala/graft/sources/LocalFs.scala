package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem without a process per file.
  *
  * Without libhadoop (`NativeIO` unavailable, as in tarball and pip
  * Spark installs) `RawLocalFileSystem` runs `chmod` for every file and
  * directory it creates and `readlink` for every `getFileLinkStatus`,
  * which FileContext calls on each rename: 9 process starts per 4CE CSV
  * output and about 150 per stream drain, 3–4 ms each. The two
  * overrides do the same through `java.nio.file`; everything else,
  * including the checksummed wrappers below, is Hadoop's. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through `Files.setPosixFilePermissions`, which follows a
    * symlink as `chmod` does. The sticky bit has no nio form, and a
    * store without POSIX attributes rejects the call: both keep
    * Hadoop's shell path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val rwx = permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(rwx))
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }
    }

  /** A path that is not a symlink has its own status as its link status,
    * which is what Hadoop returns once `readlink` finds no link; a
    * missing path throws `getFileStatus`'s FileNotFoundException, as
    * Hadoop's does. Real (and dangling) symlinks keep Hadoop's answer. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` (the `.crc`
  * side files and read verification) over [[ForkFreeRawLocalFileSystem]].
  * The FileSystem API behind the CSV/parquet sinks and sources. */
class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The FileContext face of [[ForkFreeRawLocalFileSystem]]: Hadoop's
  * `RawLocalFs` with the raw filesystem swapped (its constructors are
  * package-private, so its four overrides are repeated here). */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (checksummed)
  * over [[ForkFreeRawLocalFs]]; the FileContext API behind Spark's
  * `FileContextBasedCheckpointFileManager`, which writes every stream
  * checkpoint file through create-temp-then-rename. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
