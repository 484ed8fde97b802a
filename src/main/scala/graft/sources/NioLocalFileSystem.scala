package graft.sources

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without child processes.
  *
  * The Hadoop jars ship without the native library, so stock
  * `RawLocalFileSystem.setPermission` forks `chmod` for every file,
  * `.crc` file and directory Spark writes, and `getFileLinkStatus`
  * forks `readlink` on every `FileContext` rename (the streaming
  * checkpoint's commit). Each fork is an unbounded wait on the Spark driver
  * or a task. These two overrides do the same work in-process; every
  * other method, the checksum layer and the on-disk layout are stock.
  *
  * `src/main/resources/core-site.xml` installs the classes through
  * Hadoop's own `fs.file.impl` and `fs.AbstractFileSystem.file.impl`
  * keys, so every `Configuration` the JVM builds uses them: sessions
  * built with or without the engine's settings, and bare
  * `new Configuration()` readers alike. A deployment whose own
  * `core-site.xml` comes first on the classpath gets stock Hadoop.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine mode bits through NIO; NIO cannot express the sticky
    * bit, so a mode with it keeps stock's `chmod`.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission lists OWNER_READ … OTHERS_EXECUTE, bits 8 … 0
      PosixFilePermission.values.foreach { b =>
        if ((mode & (1 << (8 - b.ordinal))) != 0) perms.add(b)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  /** Stock runs `readlink` on `new File(f.toString)`, which finds a link
    * only for an unqualified path (a qualified `file:/…` string names no
    * file); so stock's answer is `getFileStatus(f)` unless that string
    * names a symlink, and only then is stock asked.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(Paths.get(f.toString))) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: stock's checksummed local filesystem over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]], with its three
  * overrides: its constructors are package-private and build a stock
  * `RawLocalFileSystem`, so it cannot be reused.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` side (Spark's
  * streaming checkpoint manager), checksummed as stock `LocalFs` is.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
