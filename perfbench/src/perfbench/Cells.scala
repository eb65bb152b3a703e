package perfbench

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The seeded closed-form cell value every cube of the benchmark is built
  * from: v(t, j, i) = ((a·j + b·i + c·t + d) mod 4096) / 64.
  *
  * Every value is a multiple of 1/64 below 64, so any sum, mean of 4^k
  * cells or median of an even count is exact in doubles: the checks below
  * recompute results in plain Scala and compare them bit for bit.
  */
final case class Cells(a: Long, b: Long, c: Long, d: Long) {
  def v(t: Int, j: Int, i: Int): Double = ((a * j + b * i + c * t + d) % 4096) / 64.0

  /** The same formula as a Spark column over integer index columns. */
  def col(t: Column, j: Column, i: Column): Column =
    ((lit(a) * j + lit(b) * i + lit(c) * t + lit(d)) % 4096) / 64.0

  /** Mean of the 2^level × 2^level block of level-0 cells under level
    * cell (bj, bi) of time step t, with `f` the level-0 value. */
  def blockMean(level: Int, bj: Int, bi: Int)(f: (Int, Int) => Double): Double = {
    val k = 1 << level
    var s = 0.0
    var j = bj * k
    while (j < (bj + 1) * k) {
      var i = bi * k
      while (i < (bi + 1) * k) { s += f(j, i); i += 1 }
      j += 1
    }
    s / (k * k)
  }
}

object Cells {
  /** A smooth field (neighbouring cells differ by 1/64 or 3/64) whose
    * offset the seed picks. The slopes stay fixed: they set how well the
    * chunks compress, and with them the decode and IO work per request,
    * which must not change from seed to seed. */
  def apply(seed: Long): Cells = Cells(3, 1, 97, new scala.util.Random(seed).nextInt(4096))

  /** Median of an even-sized sample: the mean of its two middle values. */
  def median(xs: Array[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Decode throughput in MB/s of decoded bytes: the median of `reps`
    * passes of `decode` over every chunk in `chunks`. */
  def decodeMbPerS(chunks: Seq[Array[Byte]], reps: Int)(decode: Array[Byte] => Int): Double = {
    val rates = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val bytes = chunks.map(c => decode(c).toLong).sum
      bytes / 1e6 / ((System.nanoTime() - t0) / 1e9)
    }
    Stats.pct(rates, 0.5)
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()

  def files(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(files)
    else Seq(f)
}
