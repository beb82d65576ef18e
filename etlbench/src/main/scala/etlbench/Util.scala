package etlbench

import java.nio.file.{Files, Path}

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil else {
      val s = Files.walk(p)
      try { import scala.jdk.CollectionConverters._; s.iterator.asScala.filter(Files.isRegularFile(_)).toList }
      finally s.close()
    }

  /** Bytes of the regular files under `p`, ignoring Hadoop `.crc` side files. */
  def treeBytes(p: Path): Long =
    files(p).filterNot(_.getFileName.toString.endsWith(".crc")).map(Files.size).sum

  def treeFiles(p: Path): Int =
    files(p).count(!_.getFileName.toString.endsWith(".crc"))

  /** SHA-256 over the relative paths and contents of the files under `p`,
    * skipping the top-level directories in `skip`. A parquet file counts by
    * its rows in file order (`rows`): the parquet writer lists a column's
    * encodings in hash-set order, so its footer bytes vary between JVMs. */
  def treeDigest(p: Path, skip: Set[String], rows: Path => Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files(p).map(f => p.relativize(f)).filterNot(r => skip(r.getName(0).toString))
      .filterNot(_.getFileName.toString.endsWith(".crc")).map(_.toString).sorted.foreach { r =>
        md.update(r.getBytes("UTF-8"))
        if (r.endsWith(".parquet")) rows(p.resolve(r)).foreach(l => md.update(l.getBytes("UTF-8")))
        else md.update(Files.readAllBytes(p.resolve(r)))
      }
    md.digest().map(b => f"$b%02x").mkString
  }

  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long = System.nanoTime()): Double = (t1 - t0) / 1e9

  /** Percentile by linear interpolation between closest ranks (as
    * numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) Double.NaN else {
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt; val hi = math.ceil(h).toInt
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }
}
