package perfbench

import java.io.File
import java.nio.file.Files

object Stats {
  /** Linear-interpolated quantile of sorted values; 0 when empty. */
  def quantile(sorted: IndexedSeq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def median(xs: Iterable[Double]): Double = quantile(xs.toVector.sorted, 0.5)
}

object Host {
  /** CPU-seconds the hypervisor has taken from this machine's CPUs since
    * boot (the steal column of /proc/stat, in USER_HZ = 100 ticks); 0 where
    * it is not reported. */
  def stealS(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try f.getLines().next().trim.split("\\s+").lift(8).fold(0.0)(_.toDouble / 100)
      finally f.close()
    } catch { case _: Exception => 0.0 }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON number with all its digits; non-finite values become null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Fs {
  def delete(f: File): Unit = org.apache.commons.io.FileUtils.deleteQuietly(f)

  /** Total size of the regular files under `f`. */
  def bytes(f: File): Long =
    if (!f.exists()) 0L else org.apache.commons.io.FileUtils.sizeOfDirectory(f)

  def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    Files.writeString(f.toPath, s)
  }
}
