package perfbench

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, DelegateToFileSystem, FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local FileSystem with per-call counters. The traced run installs it
  * as `fs.file.impl` (the FileSystem API) and, through [[CountingFs]], as
  * `fs.AbstractFileSystem.file.impl` (the FileContext API that streaming
  * checkpoints use). Bytes moved come from Hadoop's own per-scheme
  * statistics, which both APIs already keep.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def listStatus(f: Path): Array[FileStatus] =
    counted(lists)(super.listStatus(f))
  override def listStatusIterator(p: Path): org.apache.hadoop.fs.RemoteIterator[FileStatus] =
    counted(lists)(super.listStatusIterator(p))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(opens)(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(creates)(super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted(creates)(super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress))
  // the FileContext API creates through here
  override protected def primitiveCreate(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable, checksumOpt: Options.ChecksumOpt): FSDataOutputStream =
    counted(creates)(super.primitiveCreate(f, permission, flags, bufferSize, replication,
      blockSize, progress, checksumOpt))
  override def rename(src: Path, dst: Path): Boolean = counted(renames)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean = counted(deletes)(super.delete(f, recursive))
}

object CountingFileSystem {
  /** Nesting depth of counted calls on this thread: one call that goes
    * through several overloads counts once.
    */
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  private def counted[A](counter: AtomicLong)(body: => A): A = {
    val d = depth.get
    if (d == 0) counter.incrementAndGet()
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  val lists = new AtomicLong
  val opens = new AtomicLong
  val creates = new AtomicLong
  val renames = new AtomicLong
  val deletes = new AtomicLong

  final case class Counts(list: Long, open: Long, create: Long, rename: Long,
      delete: Long, bytesRead: Long, bytesWritten: Long) {
    def -(o: Counts): Counts = Counts(list - o.list, open - o.open,
      create - o.create, rename - o.rename, delete - o.delete,
      bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  }

  def snapshot(): Counts = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    def stat(k: String): Long =
      Option(st).flatMap(s => Option(s.getLong(k))).map(_.longValue).getOrElse(0L)
    Counts(lists.get, opens.get, creates.get, renames.get, deletes.get,
      stat("bytesRead"), stat("bytesWritten"))
  }

  /** Routes the `file` scheme of every Hadoop Configuration made from now
    * on through the counters (the resource sets `fs.file.impl` and
    * `fs.AbstractFileSystem.file.impl`). Call before anything opens the
    * local file system: Hadoop caches the first instance per scheme.
    */
  def install(): Unit = Configuration.addDefaultResource("perfbench-counting-fs.xml")
}

/** FileContext binding of [[CountingFileSystem]]. */
class CountingFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CountingFileSystem, conf, "file", false)
