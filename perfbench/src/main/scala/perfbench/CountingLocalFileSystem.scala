package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}

/** The local file system with directory-listing and file-open counts.
  * Traced runs install it as `fs.file.impl`; untraced runs keep
  * Hadoop's own class.
  */
class CountingLocalFileSystem extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFileSystem.lists.incrementAndGet()
    super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFileSystem.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingLocalFileSystem {
  val lists = new AtomicLong(0L)
  val opens = new AtomicLong(0L)
}
