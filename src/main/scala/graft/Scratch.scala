package graft

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystemException, Files, LinkOption, NotLinkException}
import java.util.concurrent.ConcurrentHashMap

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{SparkSession, classic}

/** The engine's own local scratch space: stream checkpoints and state,
  * stream-face sinks, staged waves, landed results and the edge cache.
  *
  * A scratch dir is a fresh local temp dir, addressed as a
  * `graftscratch:///...` URI. That scheme is the stock checksummed local
  * file system (`.crc` files, atomic rename, the same permissions), with
  * one difference: without the native Hadoop library, the stock `file:`
  * class starts a `chmod` process for every file it creates and every
  * dir it makes, four `readlink` processes for every `FileContext`
  * rename (Spark renames every offset, commit, state-delta and sink-log
  * file that way) and an `ls -ld` whenever a permission is read. The
  * scratch classes answer those calls with `java.nio`, so a stream's
  * micro-batches and a staged wave start no process.
  *
  * Both the `FileSystem` and the `FileContext` (`AbstractFileSystem`)
  * forms are registered on the session's Hadoop conf when the session's
  * first scratch dir is made; Spark's checkpoint manager needs the
  * second. User inputs keep reading through `file:`. A Spark Connect
  * session gets a plain local path instead, since its client cannot
  * reach the server's Hadoop conf.
  *
  * Cleanup contract: every dir is registered for deletion at JVM exit
  * when it is made; [[reclaim]] deletes it at once, and [[using]] does
  * so in a `finally`, so a failing operator leaves nothing behind. */
object Scratch {
  val scheme = "graftscratch"
  private[graft] val root: URI = URI.create(s"$scheme:///")

  /** A fresh scratch dir, as a scheme URI on a classic session. */
  def dir(spark: SparkSession, prefix: String): String = {
    val local = localDir(prefix)
    spark match {
      case s: classic.SparkSession =>
        register(s.sparkContext.hadoopConfiguration)
        s"$scheme://$local"
      case _ => local
    }
  }

  /** A fresh local temp dir as a plain path, registered with the exit
    * hook: for what needs a dir before a session exists. */
  private[graft] def localDir(prefix: String): String = {
    val local = Files.createTempDirectory(prefix).toString
    exitHook
    live.add(local)
    local
  }

  /** Delete a dir made by [[dir]] now, and drop it from the exit hook. */
  def reclaim(dir: String): Unit = {
    val local = new Path(dir).toUri.getPath
    FileUtils.deleteQuietly(new File(local))
    live.remove(local)
  }

  /** Run `body` on a fresh scratch dir and reclaim the dir afterwards,
    * whether or not `body` fails. */
  def using[T](spark: SparkSession, prefix: String)(body: String => T): T = {
    val d = dir(spark, prefix)
    try body(d) finally reclaim(d)
  }

  /** One landed-result dir per key. The returned frame of a landed
    * query reads its dir lazily, so the dir cannot go at return time;
    * instead the next landing under the same key reclaims the previous
    * one. Contract: re-running a landed query invalidates the previous
    * run's unread handle, as an overwrite of a shared output path
    * would. */
  def landing(spark: SparkSession, key: String): String = {
    val fresh = dir(spark, "graft-landed")
    Option(landings.put(key, fresh)).foreach(reclaim)
    fresh
  }

  private val live = ConcurrentHashMap.newKeySet[String]()
  private val landings = new ConcurrentHashMap[String, String]()
  private lazy val exitHook: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() =>
    live.forEach(d => FileUtils.deleteQuietly(new File(d)))))

  private def register(conf: Configuration): Unit =
    if (conf.get(s"fs.$scheme.impl") == null) {
      conf.set(s"fs.$scheme.impl", classOf[ScratchFileSystem].getName)
      conf.set(s"fs.AbstractFileSystem.$scheme.impl", classOf[ScratchFs].getName)
    }
}

/** `RawLocalFileSystem` under the scratch scheme, answering
  * `setPermission`, `getFileStatus` and `getFileLinkStatus` (and the
  * listing and link-target calls built on them) with `java.nio` where
  * the stock class starts `chmod`, `ls -ld` or `readlink`. The answers
  * are the stock ones: a status follows symlinks (the stock class runs
  * `ls -ld` on the canonical path), and a link status reports the link
  * with its target's length, times, mode and owner. */
class RawScratchFileSystem extends RawLocalFileSystem {
  import RawScratchFileSystem._

  override def getUri: URI = Scratch.root
  override def getScheme: String = Scratch.scheme

  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort & ModeBits))

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val a =
      try Files.readAttributes(file.toPath, Attributes)
      catch {
        case _: FileSystemException if !file.exists =>
          throw new FileNotFoundException(s"File $f does not exist")
      }
    def time(k: String) = a.get(k).asInstanceOf[java.nio.file.attribute.FileTime].toMillis
    def name(k: String) = a.get(k).asInstanceOf[java.security.Principal].getName
    new FileStatus(a.get("size").asInstanceOf[Long], a.get("isDirectory") == true, 1,
      getDefaultBlockSize(f), time("lastModifiedTime"), time("lastAccessTime"),
      new FsPermission((a.get("mode").asInstanceOf[Int] & ModeBits).toShort),
      name("owner"), name("group"),
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (!Files.isSymbolicLink(pathToFile(f).toPath)) getFileStatus(f)
    else {
      val target = getLinkTarget(f)
      val st = try getFileStatus(f) catch { case _: FileNotFoundException => null }
      val link =
        if (st == null) new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
        else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner, st.getGroup,
          target, f)
      link.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, f, target))
      link
    }

  override def getLinkTarget(f: Path): Path = {
    val file = pathToFile(f)
    try new Path(Files.readSymbolicLink(file.toPath).toString)
    catch {
      case _: NotLinkException => throw new IOException(s"Path $f is not a symbolic link")
      case _: FileSystemException if !Files.exists(file.toPath, LinkOption.NOFOLLOW_LINKS) =>
        throw new FileNotFoundException(s"File $f does not exist")
    }
  }

  // the stock call answers a plain file with its own status class, whose
  // permission getters start `ls -ld`; a dir's entries go through
  // getFileStatus above
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f) else Array(getFileStatus(f))
}

object RawScratchFileSystem {
  /** Permission bits Hadoop models: rwx for user, group and other, and
    * the sticky bit (octal 1777). */
  private val ModeBits = 0x3ff
  private val Attributes =
    "unix:size,lastModifiedTime,lastAccessTime,isDirectory,mode,owner,group"
}

/** The checksummed scratch `FileSystem`, as `LocalFileSystem` is for `file:`. */
class ScratchFileSystem extends LocalFileSystem(new RawScratchFileSystem) {
  override def getScheme: String = Scratch.scheme
}

/** The scratch scheme for `FileContext`, as `RawLocalFs` is for `file:`. */
class RawScratchFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawScratchFileSystem, conf, Scratch.scheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local names are checked by the OS, as RawLocalFs leaves them
  override def isValidName(src: String): Boolean = true
}

/** The checksummed scratch scheme for `FileContext`, as `LocalFs` is for `file:`. */
class ScratchFs(uri: URI, conf: Configuration) extends ChecksumFs(new RawScratchFs(uri, conf))
