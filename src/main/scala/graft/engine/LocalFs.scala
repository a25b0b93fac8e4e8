package graft.engine

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop `AbstractFileSystem` for `file:` that commits streaming
  * checkpoints without forking a process: Hadoop's own [[ChecksumFs]]
  * (CRC side files, checksum verification, rename of the pair) over the
  * same delegate as Hadoop's `org.apache.hadoop.fs.local.LocalFs`, whose
  * raw file system replaces only its two forking methods
  * ([[LocalFs.NoForkRawLocalFileSystem]]). [[SessionDefaults]] registers it as
  * `fs.AbstractFileSystem.file.impl`.
  *
  * Why: Spark writes offsets, commits, file source and sink logs and
  * state-store files through `FileContext`. Without the native Hadoop
  * library (Spark's distribution ships none) Hadoop's `RawLocalFileSystem`
  * forks `chmod` for every `setPermission` (each created file) and
  * `readlink` for every `getFileLinkStatus` (each rename checks both
  * ends): over a hundred processes per trigger of a deduplicating query.
  * Hadoop instantiates this class reflectively through the
  * `(URI, Configuration)` constructor; like Hadoop's `LocalFs` it ignores
  * the URI and serves `file:///`. */
final class LocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalFs.RawFs(conf))

object LocalFs {

  /** Hadoop's `RawLocalFs` with the no-fork raw file system: the same
    * `DelegateToFileSystem` and the same four overrides (its constructors
    * are package-private, so it cannot be subclassed). */
  private final class RawFs(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
        new NoForkRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  // declared OWNER_READ … OTHERS_EXECUTE: mode bits 8 … 0
  private val byBit = PosixFilePermission.values.reverse

  /** The POSIX permission set of the low nine mode bits (`bits & 0777`).
    * From the bits, not `FsPermission.toString`: the create-time
    * `FsCreateModes` prints both its masked and unmasked modes. */
  private[engine] def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- byBit.indices if (bits & (1 << i)) != 0) s.add(byBit(i))
    s
  }

  /** `RawLocalFileSystem` minus its process forks. Everything else —
    * create, rename, mkdirs, listing, file status — is Hadoop's code. */
  private final class NoForkRawLocalFileSystem extends RawLocalFileSystem {

    /** `chmod` through java.nio instead of `Shell.execCommand("chmod")`.
      * Like chmod it follows symlinks. Falls back to Hadoop's fork for the
      * sticky bit (java.nio cannot set it) and on a non-POSIX store. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort.toInt
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(bits))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

    /** Hadoop's version forks `readlink` to tell a symlink from a file or
      * directory and otherwise returns [[getFileStatus]]; this one asks
      * java.nio and leaves only real symlinks to Hadoop. A missing path
      * still throws `FileNotFoundException` from `getFileStatus`. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }
}
