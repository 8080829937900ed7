package perfbench

import java.io.{FileNotFoundException, OutputStream}
import java.util.EnumSet

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** `rgw-model`: the local file system with one fixed delay per metadata or
  * open call, standing in for the round trip every such call costs on Ceph
  * RGW. Semantics stay those of [[LocalFileSystem]]; only time is added.
  *
  * Charged (one delay per outermost call on a thread): list, stat, open,
  * create, rename, delete, mkdirs. A call the file system makes to itself
  * while serving another (create's parent mkdirs, rename's stat) is not
  * charged again. Reads and writes on open streams are not charged; they are
  * counted when tracing is on. The delay comes from the JVM property
  * `perfbench.rgw.delay_us`.
  */
class RgwModelFileSystem extends LocalFileSystem {
  import RgwModelFileSystem._

  override def listStatus(f: Path): Array[FileStatus] = charged(Op.List)(super.listStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    charged(Op.List)(super.listStatusIterator(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    charged(Op.List)(super.listLocatedStatus(f))

  override def getFileStatus(f: Path): FileStatus = charged(Op.Stat)(super.getFileStatus(f))
  override def getFileLinkStatus(f: Path): FileStatus = charged(Op.Stat)(super.getFileLinkStatus(f))

  override def open(f: Path, bufferSize: Int): FSDataInputStream = charged(Op.Open) {
    val in = super.open(f, bufferSize)
    if (Trace.enabled) new FSDataInputStream(new CountingInput(in)) else in
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    charged(Op.Create)(counting(
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)))
  override def create(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable,
      checksumOpt: Options.ChecksumOpt): FSDataOutputStream =
    charged(Op.Create)(counting(super.create(f, permission, flags, bufferSize, replication,
      blockSize, progress, checksumOpt)))
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    charged(Op.Create)(counting(super.createNonRecursive(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)))
  override def createNonRecursive(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    charged(Op.Create)(counting(super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress)))

  override def rename(src: Path, dst: Path): Boolean = charged(Op.Rename)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    charged(Op.Delete)(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = charged(Op.Mkdirs)(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    charged(Op.Mkdirs)(super.mkdirs(f, permission))

  private def counting(out: FSDataOutputStream): FSDataOutputStream =
    if (Trace.enabled) new FSDataOutputStream(new CountingOutput(out), null) else out
}

object RgwModelFileSystem {
  /** The charged primitives, plus the stream-level read and write. */
  object Op extends Enumeration {
    val List, Stat, Open, Read, Create, Write, Mkdirs, Rename, Delete = Value
  }

  val DelayNanos: Long = java.lang.Long.getLong("perfbench.rgw.delay_us", 1000L) * 1000L

  private val depth = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = Array(0)
  }

  /** Round-trip stand-in: parks the calling thread, as a remote call would. */
  private def roundTrip(): Unit = {
    val end = System.nanoTime() + DelayNanos
    var left = DelayNanos
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = end - System.nanoTime()
    }
  }

  private def charged[T](op: Op.Value)(body: => T): T = {
    val d = depth.get()
    if (d(0) > 0) return body
    d(0) += 1
    val t0 = System.nanoTime()
    var found = true
    try {
      roundTrip()
      body
    } catch {
      case e: FileNotFoundException => found = false; throw e
    } finally {
      d(0) -= 1
      if (Trace.enabled) Trace.fsCall(op, t0, System.nanoTime(), found)
    }
  }

  private final class CountingInput(in: FSDataInputStream)
      extends FSInputStream {
    private def timed[T](body: => T)(bytes: T => Long): T = {
      val t0 = System.nanoTime()
      val r = body
      Trace.fsStream(Op.Read, System.nanoTime() - t0, bytes(r))
      r
    }
    private def n(r: Int): Long = math.max(r, 0).toLong
    override def read(): Int = timed(in.read())(r => if (r >= 0) 1L else 0L)
    override def read(b: Array[Byte], off: Int, len: Int): Int = timed(in.read(b, off, len))(n)
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int =
      timed(in.read(pos, b, off, len))(n)
    override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit =
      timed(in.readFully(pos, b, off, len))(_ => len.toLong)
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
    override def available(): Int = in.available()
    override def skip(n: Long): Long = in.skip(n)
    override def close(): Unit = in.close()
  }

  private final class CountingOutput(out: FSDataOutputStream) extends OutputStream {
    private def timed(bytes: Long)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      Trace.fsStream(Op.Write, System.nanoTime() - t0, bytes)
    }
    override def write(b: Int): Unit = timed(1L)(out.write(b))
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      timed(len.toLong)(out.write(b, off, len))
    override def flush(): Unit = out.flush()
    override def close(): Unit = out.close()
  }
}
