package perfbench

import java.net.URI
import java.util.concurrent.atomic.LongAdder
import org.apache.hadoop.fs.{
  CreateFlag, FSDataInputStream, FSDataOutputStream, FSInputStream, FileStatus, Path,
  RawLocalFileSystem
}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/**
 * Local filesystem that counts storage requests the way an object store
 * bills them, and optionally charges each one a fixed delay. Every table the
 * benchmark times lives under the `pbfs://` scheme.
 *
 * Charging rule (the same as `graft.sources.DelaySimFileSystem`): one request
 * per open, stat or list, and one per non-contiguous read on an open stream
 * (a read that starts where the previous one ended streams for free).
 * Creates, renames, deletes and bytes moved are counted but never charged.
 * Every count is keyed by file kind.
 *
 * The charge is [[CountingFs.chargeMs]], set by the benchmark per workload
 * and phase; executors run in the driver JVM (`local[n]`), so one static
 * value reaches every task.
 */
object CountingFs {
  val Scheme = "pbfs"
  /** A non-empty authority keeps every rendering of a path identical
    * (`pbfs://bench/x`); an empty one renders both as `pbfs:///x` and as
    * `pbfs:/x`. */
  val Authority = "bench"

  @volatile var chargeMs: Long = 0L

  val Kinds: Vector[String] = Vector("metadata", "manifest", "parquet", "puffin", "other")
  val Ops: Vector[String] =
    Vector("open", "stat", "list", "read", "create", "rename", "delete", "bytes_read", "bytes_written")
  private val cells = Array.fill(Ops.size * Kinds.size)(new LongAdder)

  /** metadata.json (and the version hint), Avro manifest or manifest list,
    * parquet data or delete file, puffin deletion vectors. */
  def kindOf(name: String): Int =
    if (name.endsWith(".metadata.json") || name.startsWith("version-hint")) 0
    else if (name.endsWith(".avro")) 1
    else if (name.endsWith(".parquet")) 2
    else if (name.endsWith(".puffin")) 3
    else 4

  private[perfbench] def add(op: Int, f: Path, n: Long = 1L): Unit =
    cells(op * Kinds.size + kindOf(f.getName)).add(n)

  /** A point-in-time copy of every counter, indexed `op * Kinds.size + kind`. */
  def snapshot(): Array[Long] = cells.map(_.sum)

  def get(snap: Array[Long], op: String, kind: String): Long =
    snap(Ops.indexOf(op) * Kinds.size + Kinds.indexOf(kind))

  def sumOp(snap: Array[Long], op: String): Long =
    Kinds.indices.map(k => snap(Ops.indexOf(op) * Kinds.size + k)).sum

  /** Charged requests (open + stat + list + non-contiguous read) on one kind. */
  def requests(snap: Array[Long], kind: String): Long =
    Seq("open", "stat", "list", "read").map(get(snap, _, kind)).sum

  def uri(localDir: String): String = s"$Scheme://$Authority" + new java.io.File(localDir).getAbsolutePath

  private[perfbench] val Open = 0
  private[perfbench] val Stat = 1
  private[perfbench] val List = 2
  private[perfbench] val Read = 3
  private[perfbench] val Create = 4
  private[perfbench] val Rename = 5
  private[perfbench] val Delete = 6
  private[perfbench] val BytesRead = 7
  private[perfbench] val BytesWritten = 8

  private[perfbench] def charge(): Unit = {
    val ms = chargeMs
    if (ms > 0) Thread.sleep(ms)
  }
}

class CountingFs extends RawLocalFileSystem {
  import CountingFs._

  override def getScheme: String = Scheme
  override def getUri: URI = URI.create(s"$Scheme://$Authority/")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    charge(); add(Open, f)
    new FSDataInputStream(new CountingStream(super.open(f, bufferSize), f))
  }

  override def getFileStatus(f: Path): FileStatus = {
    charge(); add(Stat, f); plain(super.getFileStatus(f))
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    charge(); add(List, f); super.listStatus(f).map(plain)
  }

  /** The local status type loads permissions through `new File(uri)`, which
    * rejects any scheme but `file:`; callers here need no permissions. */
  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted(f, super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted(f, super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted(f, super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean = {
    add(Rename, dst); super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    add(Delete, f); super.delete(f, recursive)
  }

  private def counted(f: Path, out: FSDataOutputStream): FSDataOutputStream = {
    add(Create, f)
    val sink = new java.io.OutputStream {
      override def write(b: Int): Unit = { out.write(b); add(BytesWritten, f) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        out.write(b, off, len); add(BytesWritten, f, len.toLong)
      }
      override def flush(): Unit = out.flush()
      override def close(): Unit = out.close()
    }
    new FSDataOutputStream(sink, null)
  }

  /** Charges a request on the first read and on every position jump. */
  private final class CountingStream(in: FSDataInputStream, f: Path) extends FSInputStream {
    private var next = -1L
    private def request(pos: Long): Unit = if (pos != next) { charge(); add(Read, f) }
    private def advance(pos: Long, n: Int): Unit =
      if (n > 0) { next = pos + n; add(BytesRead, f, n.toLong) } else next = pos

    override def read(): Int = {
      val p = in.getPos; request(p)
      val r = in.read()
      advance(p, if (r >= 0) 1 else 0)
      r
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val p = in.getPos; request(p)
      val r = in.read(b, off, len)
      advance(p, r)
      r
    }
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
      request(pos)
      val r = in.read(pos, b, off, len)
      advance(pos, r)
      r
    }
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
    override def available(): Int = in.available()
    override def close(): Unit = in.close()
  }
}
