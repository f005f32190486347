package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, LocalFileSystem, Path, RawLocalFileSystem}

/** The local file system, counting the bytes read from N-Triples files
  * (`*.nt`): the traced run's measure of how often the input is scanned,
  * apart from parquet and cache reads. Installed for the traced run only,
  * through `spark.hadoop.fs.file.impl`.
  */
class CountingLocalFs extends LocalFileSystem(new CountingLocalFs.Raw)

object CountingLocalFs {
  val ntBytesRead = new AtomicLong()

  final class Raw extends RawLocalFileSystem {
    override def open(f: Path, bufferSize: Int): FSDataInputStream = {
      val in = super.open(f, bufferSize)
      if (f.getName.endsWith(".nt")) new FSDataInputStream(new Counting(in)) else in
    }
  }

  private final class Counting(in: FSDataInputStream) extends FSInputStream {
    private def count(n: Int): Int = { if (n > 0) ntBytesRead.addAndGet(n); n }
    override def read(): Int = { val b = in.read(); if (b >= 0) ntBytesRead.incrementAndGet(); b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = count(in.read(b, off, len))
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = count(in.read(pos, b, off, len))
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
    override def available(): Int = in.available()
    override def close(): Unit = in.close()
  }
}
