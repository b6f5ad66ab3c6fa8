package graft.sinks

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsServerDefaults,
  FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, Files, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}
import scala.jdk.CollectionConverters._

/** The filesystem behind `file:` paths: Hadoop's `LocalFileSystem` (its
  * checksum layer and `.crc` sidecars unchanged) over [[LocalFs.Raw]], a raw
  * layer that does permissions and links through java.nio.
  *
  * Without the native `libhadoop`, Hadoop's raw local filesystem starts a child
  * process for each of these: `chmod` for every file and directory it creates,
  * `ls -ld` for every status whose permission, owner or group is read (a
  * listing's `LocatedFileStatus` copies all three), and `readlink` for every
  * link status (each `FileContext` rename asks for one). On a 4-CPU host in a
  * 3 GB JVM one `create` cost 7.3-8.5 ms and one status read 3.6-4.4 ms that
  * way, against 0.03-0.08 ms through java.nio.
  *
  * [[graft.plans.GraftExtensions]] installs it for the `file` scheme
  * ([[LocalFs.install]]); `FileContext` users, Spark's streaming checkpoint
  * among them, get [[LocalFs.Context]] over the same raw layer. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** `RawLocalFileSystem` with its process-starting calls replaced. As in
    * Hadoop's statuses, a link's status describes what it points at. The
    * sticky bit, which java.nio does not expose, is neither read nor set. */
  class Raw extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit =
      try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
      catch { case e: NoSuchFileException => throw notFound(p, e) }

    override def getFileStatus(p: Path): FileStatus = {
      val a = readOrNotFound(p)(Files.readAttributes(_, classOf[PosixFileAttributes]))
      new FileStatus(a.size, a.isDirectory, 1, getDefaultBlockSize(p), a.lastModifiedTime.toMillis,
        a.lastAccessTime.toMillis, mode(a), a.owner.getName, a.group.getName,
        new Path(pathToFile(p).getPath).makeQualified(getUri, getWorkingDirectory))
    }

    /** Hadoop lists a directory through `getFileStatus`, but builds a plain
      * file's status itself. */
    override def listStatus(p: Path): Array[FileStatus] =
      if (pathToFile(p).isDirectory) super.listStatus(p) else Array(getFileStatus(p))

    override def getFileLinkStatus(p: Path): FileStatus = {
      val s = linkStatus(p)
      if (s.isSymlink) s.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, s.getPath, s.getSymlink))
      s
    }

    override def getLinkTarget(p: Path): Path = linkStatus(p).getSymlink

    /** A link's status with its target as written; `getFileStatus` otherwise. */
    private def linkStatus(p: Path): FileStatus =
      if (!Files.isSymbolicLink(pathToFile(p).toPath)) getFileStatus(p)
      else {
        val target = new Path(readOrNotFound(p)(Files.readSymbolicLink).toString)
        try {
          val s = getFileStatus(p)
          new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize, s.getModificationTime,
            s.getAccessTime, s.getPermission, s.getOwner, s.getGroup, target, p)
        } catch { // a dangling link
          case _: FileNotFoundException =>
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, p)
        }
      }

    /** Hadoop reports a path `java.io.File.exists` denies (missing, under a
      * plain file, a dangling link, unreadable) as not found. */
    private def readOrNotFound[T](p: Path)(read: java.nio.file.Path => T): T =
      try read(pathToFile(p).toPath)
      catch { case e: FileSystemException => throw notFound(p, e) }
  }

  private def notFound(p: Path, cause: Throwable): FileNotFoundException = {
    val e = new FileNotFoundException(s"File $p does not exist")
    e.initCause(cause)
    e
  }

  /** Owner read first, others execute last: bit 8 down to bit 0 of a mode. */
  private val Bits = PosixFilePermission.values.toSeq

  private def mode(a: PosixFileAttributes): FsPermission = {
    val set = a.permissions
    new FsPermission(Bits.foldLeft(0)((m, b) => m << 1 | (if (set.contains(b)) 1 else 0)).toShort)
  }

  private def posix(mode: Short): java.util.Set[PosixFilePermission] =
    Bits.zipWithIndex.collect { case (b, i) if (mode >> (8 - i) & 1) == 1 => b }.toSet.asJava

  /** The raw layer as an `AbstractFileSystem`, the counterpart of Hadoop's
    * `org.apache.hadoop.fs.local.RawLocalFs`. */
  class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext` view,
    * the counterpart of Hadoop's `org.apache.hadoop.fs.local.LocalFs`. */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(uri, conf))

  private val Impls = Map("fs.file.impl" -> classOf[LocalFs].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[Context].getName)

  /** Route the session's `file:` paths through [[LocalFs]]. Sets both
    * implementations on the SparkContext's Hadoop conf and on the copy of it
    * the session's shared state already took (every Spark job, writer and
    * streaming checkpoint derives its conf from that copy), and replaces a
    * `file:` instance already in Hadoop's JVM-wide `FileSystem` cache, whose
    * key ignores the conf. Idempotent; other schemes are untouched. */
  def install(session: SparkSession): Unit = synchronized {
    val sc = session.sparkContext
    Seq(sc.hadoopConfiguration, org.apache.spark.sql.graft.SessionBridge.sharedHadoopConf(session))
      .foreach(c => Impls.foreach { case (k, v) => c.set(k, v) })
    val cached = FileSystem.getLocal(sc.hadoopConfiguration)
    if (!cached.isInstanceOf[LocalFs]) {
      cached.close() // drops it from the cache; the next get builds a LocalFs
      FileSystem.getLocal(sc.hadoopConfiguration)
    }
  }
}
