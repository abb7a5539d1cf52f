package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path}

/** The local file system with call counters, installed as the `file:`
  * implementation in traced runs (`spark.hadoop.fs.file.impl`), so the
  * catalog I/O of a trigger can be counted: directory listings and file
  * opens. The Hadoop client's own statistics do not count either for the
  * local file system. */
class CountingFs extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.lists.incrementAndGet()
    super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingFs {
  val lists = new AtomicLong()
  val opens = new AtomicLong()
}
