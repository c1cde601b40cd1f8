package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}

/** The local file system with a count of directory listings. Hadoop's
  * local file system keeps no operation counts, so traced runs install this
  * as `fs.file.impl` to report `fs.list_ops`. */
class CountingLocalFileSystem extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFileSystem.lists.incrementAndGet()
    super.listStatus(f)
  }
}

object CountingLocalFileSystem {
  val lists = new AtomicLong()
}
