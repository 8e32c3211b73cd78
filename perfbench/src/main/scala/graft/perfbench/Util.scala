package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}

object Digest {
  /** Order-insensitive digest of a DataFrame's rows: row count and the
    * exact sum of per-row 64-bit hashes over `cols` (summed as decimals,
    * so it cannot overflow). */
  def of(df: DataFrame, cols: Seq[String]): String = {
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")))
      .collect().head
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }
}

object Disk {
  def bytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)

  def mb(p: String): Double = bytes(new File(p)) / (1024.0 * 1024.0)

  /** Every regular file under `dir`: path -> (bytes, last-modified ms). */
  def files(dir: File): Map[String, (Long, Long)] =
    if (dir.isFile) Map(dir.getPath -> ((dir.length(), dir.lastModified())))
    else Option(dir.listFiles()).map(_.flatMap(f => files(f)).toMap).getOrElse(Map.empty)

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }
}

/** Timing helpers. */
object Clock {
  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
