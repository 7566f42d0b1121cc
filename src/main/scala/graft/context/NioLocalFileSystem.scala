package graft.context

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without child processes. Without
  * libhadoop (`NativeIO.isAvailable` false, as in a stock Spark
  * distribution) the stock class forks a `chmod` for every file and
  * directory it creates, and `FileUtil.readLink` forks a `readlink` for
  * every `getFileLinkStatus` — each `FileContext` rename of a streaming
  * offset, commit or state file asks twice. Here both are JDK calls,
  * with or without libhadoop, giving the stock results: the mode bits
  * from the `FsAction` triples, and the link read from the same file
  * stock hands to `readlink` (a `file:`-qualified `Path` names a relative
  * file there, so neither sees a link through one). Stock's path stays
  * only where the JDK cannot say the result: the sticky bit in
  * `setPermission`, and a non-POSIX default filesystem.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem.Posix

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!Posix || permission.getStickyBit)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(Seq(permission.getUserAction,
        permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL).mkString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (!Posix) super.getFileLinkStatus(f)
    else (try Some(new Path(Files.readSymbolicLink(new File(f.toString).toPath).toString))
          catch { case _: IOException => None }) match {
      case None => getFileStatus(f)
      case Some(target) =>
        val st = try {
          val s = getFileStatus(f)
          new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize,
            s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner,
            s.getGroup, target, f)
        } catch { // a dangling link: stock's placeholder status
          case _: FileNotFoundException =>
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
        }
        st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, f, target))
        st
    }
}

object NioRawLocalFileSystem {
  private val Posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** `LocalFileSystem` (`.crc` checksums and all) over [[NioRawLocalFileSystem]]:
  * the `fs.file.impl` of every `SessionContext.local` session. Still a
  * `LocalFileSystem`, so `FileSystem.getLocal` keeps working.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` side (`fs.AbstractFileSystem.file.impl`), which
  * Spark's streaming checkpoint manager writes through: Hadoop's `LocalFs`
  * (`ChecksumFs` over `RawLocalFs`) with [[NioRawLocalFileSystem]] inside.
  * Like `LocalFs` it binds to `file:///` whatever URI `AbstractFileSystem`
  * creates it for.
  */
class NioLocalFs(@annotation.unused uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
      // RawLocalFs's overrides
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
