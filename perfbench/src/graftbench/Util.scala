package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

object Util {
  def list(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toVector.sortBy(_.getFileName.toString) finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete) finally s.close()
    }

  def log(msg: String): Unit = System.err.println(f"[graftbench] ${now() - t0}%8.2f s $msg")
  private val t0 = System.nanoTime() / 1e9

  def now(): Double = System.nanoTime() / 1e9

  def procCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set of this process (`VmHWM`), MB. */
  def rssPeakMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def load1(): Double =
    Files.readString(Path.of("/proc/loadavg")).split(" ")(0).toDouble

  def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  def gcS(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3

  /** Minimal JSON rendering for the result lines. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}

/** Percentiles as the benchmark reports them: the median and the
  * highest percentile with at least ten samples beyond it. */
object Stats {
  val Ladder: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  /** Nearest-rank percentile of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }

  /** Samples strictly above the nearest-rank position of `p`. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p / 100 * n).toInt)

  /** Highest ladder percentile with at least `minBeyond` samples above
    * it, or None when even the median lacks them. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    Ladder.filter(p => beyond(n, p) >= minBeyond).lastOption

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
