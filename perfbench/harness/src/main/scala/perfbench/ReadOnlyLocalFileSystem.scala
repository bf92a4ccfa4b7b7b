package perfbench

import java.io.IOException

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The `file:` filesystem of a benchmark run: reads as usual, refuses
  * every write. Benchmark runs are write-free by design (Hadoop's local
  * writes fork `chmod` when native IO is absent), so a query that writes
  * through Hadoop fails loudly and counts as failed instead of timing the
  * write. Spark's own shuffle and block files do not go through Hadoop. */
class ReadOnlyLocalFileSystem extends LocalFileSystem {
  private def refuse(op: String, p: Path): Nothing =
    throw new IOException(s"benchmark runs are write-free: $op $p")

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = refuse("create", f)
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = refuse("create", f)
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    refuse("append", f)
  override def mkdirs(f: Path, permission: FsPermission): Boolean = refuse("mkdirs", f)
  override def rename(src: Path, dst: Path): Boolean = refuse("rename", src)
  override def delete(f: Path, recursive: Boolean): Boolean = refuse("delete", f)
  override def setPermission(p: Path, permission: FsPermission): Unit =
    refuse("setPermission", p)
}
