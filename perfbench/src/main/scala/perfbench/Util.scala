package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Files => JFiles}
import scala.jdk.CollectionConverters._

/** Minimal JSON writing for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A measured value with all its digits; non-finite values become 0. */
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Files {
  def bytesUnder(p: Path): Long =
    if (!JFiles.exists(p)) 0L
    else {
      val s = JFiles.walk(p)
      try s.iterator().asScala.filter(JFiles.isRegularFile(_)).map(JFiles.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (JFiles.exists(p)) {
      val s = JFiles.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(JFiles.deleteIfExists)
      finally s.close()
    }
}

/** Process-level meters. In local mode the executors share this JVM, so
  * process CPU and GC time cover every task. */
object Meter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  /** Peak resident set size (VmHWM) in MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
