package graft.perfbench

import java.nio.file.{Files => JFiles, Path, Paths}

import scala.jdk.CollectionConverters._

/** Local-disk helpers for the benchmark's scratch directories. */
object Files {
  private def walk[T](dir: String)(f: Iterator[Path] => T): T = {
    val s = JFiles.walk(Paths.get(dir))
    try f(s.iterator().asScala)
    finally s.close()
  }

  def deleteTree(dir: String): Unit =
    if (JFiles.exists(Paths.get(dir)))
      walk(dir)(_.toSeq.sortBy(-_.getNameCount).foreach(p => JFiles.deleteIfExists(p)))

  /** Bytes of every regular file under `dir`. */
  def bytes(dir: String): Long =
    if (!JFiles.exists(Paths.get(dir))) 0L
    else walk(dir)(_.filter(JFiles.isRegularFile(_)).map(JFiles.size).sum)

  /** Parquet data files under `dir`. */
  def parquetFiles(dir: String): Int =
    if (!JFiles.exists(Paths.get(dir))) 0
    else walk(dir)(_.count(p => JFiles.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")))
}
