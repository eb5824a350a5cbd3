package graft

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream,
  FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** Test-only Hadoop filesystem, scheme `crashfs`: the local filesystem, with
  * every mutating call (create, append, rename, delete, mkdirs) on a path
  * under a watched local root counted and handed to that root's hook
  * BEFORE it touches the disk. A hook that throws fails the call; the
  * [[CrashFs.crashAt]] hook is a process that dies at call N: that call and
  * every later one under the root fail, so the durable state stays what it
  * was just before call N. `crashfs:///a/b` is the local path `/a/b`.
  */
class CrashFs extends FileSystem {
  private val local = new LocalFileSystem()
  private var workDir: Path = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    local.initialize(URI.create("file:///"), conf)
    workDir = toCrash(local.getWorkingDirectory)
  }

  override def getScheme: String = CrashFs.Scheme
  override def getUri: URI = URI.create(s"${CrashFs.Scheme}:///")

  private def toLocal(p: Path): Path =
    new Path("file", null, makeQualified(p).toUri.getPath)
  private def toCrash(p: Path): Path = new Path(CrashFs.Scheme, null, p.toUri.getPath)
  private def status(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, toCrash(st.getPath))

  private def mutate[T](op: String, p: Path)(call: Path => T): T = {
    val lp = toLocal(p)
    CrashFs.before(op, lp.toUri.getPath)
    call(lp)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    local.open(toLocal(f), bufferSize)
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    mutate("create", f)(local.create(_, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream =
    mutate("append", f)(local.append(_, bufferSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    mutate("rename", src)(local.rename(_, toLocal(dst)))
  override def delete(f: Path, recursive: Boolean): Boolean =
    mutate("delete", f)(local.delete(_, recursive))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    mutate("mkdirs", f)(local.mkdirs(_, permission))
  override def listStatus(f: Path): Array[FileStatus] =
    local.listStatus(toLocal(f)).map(status)
  override def getFileStatus(f: Path): FileStatus =
    status(local.getFileStatus(toLocal(f)))
  override def setWorkingDirectory(dir: Path): Unit = workDir = makeQualified(dir)
  override def getWorkingDirectory: Path = workDir
}

/** [[CrashFs]] for `FileContext` (the ledger's CAS rename goes through it). */
class CrashAbstractFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CrashFs, conf, CrashFs.Scheme, false)

object CrashFs {
  val Scheme = "crashfs"

  /** A hook's input: the 1-based number of the mutating call under the
    * watched root, the operation, and its local path. */
  type Hook = (Int, String, String) => Unit

  /** The failure a crashed call throws. */
  final class Crash(msg: String) extends java.io.IOException(msg)

  /** Dies at call `n`: it and every later call fail. */
  def crashAt(n: Int): Hook = (i, op, p) =>
    if (i >= n) throw new Crash(s"crash at mutating call $i ($op $p)")

  /** Mutating calls under one local root, counted while it is watched. */
  final class Watch private[CrashFs] (root: String, hook: Hook) {
    private val n = new AtomicInteger()
    @volatile private var fired = false
    def calls: Int = n.get
    /** Did the hook throw? */
    def crashed: Boolean = fired
    private[CrashFs] def apply(op: String, p: String): Unit =
      try hook(n.incrementAndGet(), op, p)
      catch { case e: Throwable => fired = true; throw e }
    def close(): Unit = watches.remove(root, this)
  }

  private val watches = new ConcurrentHashMap[String, Watch]()

  /** Watch the mutating calls under local dir `root` until `close()`. */
  def watch(root: String)(hook: Hook): Watch = {
    val w = new Watch(root, hook)
    require(watches.putIfAbsent(root, w) == null, s"$root is already watched")
    w
  }

  private def before(op: String, path: String): Unit =
    watches.forEach { (root, w) =>
      if (path == root || path.startsWith(root + "/")) w(op, path)
    }

  /** Register the scheme with the session's Hadoop configuration. */
  def install(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.$Scheme.impl", classOf[CrashFs].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[CrashAbstractFs].getName)
  }

  /** The `crashfs` URI of local dir `dir`. */
  def path(dir: String): String = s"$Scheme://$dir"
}
