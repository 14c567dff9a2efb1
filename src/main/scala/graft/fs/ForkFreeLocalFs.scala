package graft.fs

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.atomic.AtomicBoolean

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileContext, FileStatus,
  FileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` without child processes, with the same on-disk result.
  *
  * Without the libhadoop native library, stock `RawLocalFileSystem`
  * forks `chmod` for every directory and file it creates (a Spark write
  * commit makes 9) and `readlink` for every `getFileLinkStatus` (each
  * `FileContext` rename of a streaming checkpoint makes several). One
  * fork costs ~2.6 ms against ~0.013 ms for the NIO call. This class does
  * both in-process and hands every case NIO cannot reproduce exactly to
  * the stock code.
  *
  * Installed for every `Configuration` in the JVM by the classpath
  * `core-site.xml` (`fs.file.impl`, `fs.AbstractFileSystem.file.impl`);
  * an explicit `fs.file.impl` in a job's conf still wins.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through NIO. The stock shell path runs `chmod %04o`, which
    * GNU chmod applies to the file's rwx and sticky bits while keeping a
    * directory's setuid/setgid bits. NIO can set neither the sticky bit
    * nor keep the other two, so a sticky request or a target that
    * carries setuid/setgid goes to the stock path, as does any error
    * (a missing file then fails with the stock exception).
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val done = !permission.getStickyBit && (try {
      val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      (mode & 0xc00) == 0 && { // neither S_ISUID nor S_ISGID
        Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(
          Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
            .map(_.SYMBOL).mkString))
        true
      }
    } catch {
      case _: IOException | _: UnsupportedOperationException | _: IllegalArgumentException => false
    })
    if (!done) super.setPermission(p, permission)
  }

  /** The stock path runs `readlink` on `new File(f.toString)` and, when
    * that prints nothing, returns `getFileStatus(f)` (a missing path
    * throws its `FileNotFoundException`). `readlink` prints nothing
    * exactly when that same path is not a symbolic link, so only a real
    * link pays the fork. A qualified `file:/...` path names a relative
    * `file:` directory here, as it does for the stock `readlink`.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = try Files.isSymbolicLink(new File(f.toString).toPath)
      catch { case _: InvalidPathException => true }
    if (link) super.getFileLinkStatus(f) else getFileStatus(f)
  }
}

/** `FileSystem` API (`fs.file.impl`): checksummed local FS over the
  * fork-free raw one. Conversions, Parquet writes and manifests use it.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `FileContext` API raw layer: stock `RawLocalFs` with the fork-free
  * raw filesystem underneath.
  */
class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local file systems validate names themselves, as RawLocalFileSystem does
  override def isValidName(src: String): Boolean = true
}

/** `FileContext` API (`fs.AbstractFileSystem.file.impl`): stock `LocalFs`
  * (which also ignores the URI) over [[ForkFreeRawLocalFs]]. Streaming
  * checkpoints and the RocksDB state store use it.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

object ForkFreeLocalFs {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val reported = new AtomicBoolean(false)

  /** The `file:` classes `conf` resolves to: the (possibly cached)
    * `FileSystem` and the `FileContext` default filesystem.
    */
  def effective(conf: Configuration): (Class[_], Class[_]) = (
    FileSystem.get(FsConstants.LOCAL_FS_URI, conf).getClass,
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf).getDefaultFileSystem.getClass)

  /** Logs the `file:` classes `conf` resolves to: INFO when they are
    * graft's, WARN otherwise (e.g. another `core-site.xml` earlier on the
    * classpath shadows graft's), since stock Hadoop then forks per local
    * write. Returns whether they are graft's. Never throws: a failed
    * check is itself logged as a WARN.
    */
  def report(conf: Configuration): Boolean = try {
    val (fs, afs) = effective(conf)
    val msg = s"file: resolves to FileSystem ${fs.getName}, AbstractFileSystem ${afs.getName}"
    val forkFree = fs == classOf[ForkFreeLocalFileSystem] && afs == classOf[ForkFreeLocalFs]
    if (forkFree) log.info(msg)
    else log.warn(s"$msg, not graft's fork-free classes: Hadoop will fork chmod/readlink " +
      "for local writes (is another core-site.xml earlier on the classpath?)")
    forkFree
  } catch {
    case NonFatal(e) =>
      log.warn(s"could not resolve the file: filesystem classes: $e")
      false
  }

  /** [[report]], the first time it is called in this JVM. */
  def reportOnce(conf: Configuration): Unit =
    if (reported.compareAndSet(false, true)) report(conf)
}
