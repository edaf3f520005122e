package graft.sources

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystems, Files}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSDataInputStream,
  FSLinkResolver, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` `AbstractFileSystem` of graft sessions: Hadoop's own
  * `LocalFs` (a `ChecksumFs` over a `RawLocalFileSystem`) with the two
  * calls that fork a process done in process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` runs `chmod`
  * for every file and directory it creates (`setPermission`) and
  * `readlink` for every `getFileLinkStatus`, which
  * `AbstractFileSystem.rename` asks for both ends of every rename.
  * Structured Streaming's `FileContextBasedCheckpointFileManager`
  * writes each offset-log, commit-log, state-store and sink-metadata
  * file as a create plus a rename, so every micro-batch forked dozens
  * of processes (a few milliseconds of JVM CPU each, against well
  * under one for the write itself).
  *
  * Bound to `file` by `fs.AbstractFileSystem.file.impl` in
  * [[graft.GraftRuntime.sessionConfs]], so every `FileContext` built
  * from a session's Hadoop conf uses it. Code on the `FileSystem` API
  * is unaffected. `LocalFsSpec` pins parity with `LocalFs`.
  *
  * One deliberate difference from `LocalFs`: `open(path)` verifies
  * the `.crc` beside the file. `LocalFs` inherits `FilterFs.open(path)`,
  * which reads the raw file, and only `open(path, bufferSize)` reaches
  * `ChecksumFs`'s verifying reader; Spark's checkpoint manager calls
  * the one-argument form, so under `LocalFs` a corrupted offset log or
  * state file is read back without error.
  *
  * `(URI, Configuration)` is the constructor `AbstractFileSystem`
  * instantiates; like `LocalFs`, it ignores the URI.
  */
final class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftLocalFs.Raw(conf)) {

  /** `AbstractFileSystem.open(path)`: the server-default buffer size. */
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

object GraftLocalFs {

  /** Hadoop's `RawLocalFs` over [[InProcess]]; the overrides are
    * `RawLocalFs`'s own.
    */
  private final class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new InProcess, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  private val unixModes = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  private val TypeBits = 0xf000 // S_IFMT
  private val DirType = 0x4000 // S_IFDIR
  private val SetIdBits = 0xc00 // S_ISUID | S_ISGID

  private final class InProcess extends RawLocalFileSystem {

    /** `chmod <%04o>` through NIO: a file gets exactly the mode, sticky
      * bit included; a directory also keeps the set-user-ID and
      * set-group-ID bits it has, as GNU chmod does for a numeric mode
      * of fewer than five digits.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!unixModes) super.setPermission(p, permission)
      else {
        val file = pathToFile(p).toPath
        val old = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
        val kept = if ((old & TypeBits) == DirType) old & SetIdBits else 0
        Files.setAttribute(file, "unix:mode", Integer.valueOf(permission.toShort | kept))
      }

    /** `RawLocalFileSystem.getFileLinkStatus` on [[linkStatus]]. */
    override def getFileLinkStatus(f: Path): FileStatus = {
      val fi = linkStatus(f)
      if (fi.isSymlink) {
        fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
      }
      fi
    }

    override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

    /** `deprecatedGetFileLinkStatusInternal` with its `readlink` read
      * through NIO, on the same path string `readlink` is given.
      */
    private def linkStatus(f: Path): FileStatus = {
      val link = new File(f.toString).toPath
      val target = if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString else ""
      try {
        val st = getFileStatus(f)
        if (target.isEmpty) st
        else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
          st.getGroup, new Path(target), f)
      } catch {
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
      }
    }
  }
}
