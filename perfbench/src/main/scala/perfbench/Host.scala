package perfbench

import java.lang.management.ManagementFactory

/** Run conditions read from the host: CPU steal, process CPU, peak RSS. */
object Host {

  /** (busy, steal) jiffies from the aggregate `cpu` line of /proc/stat;
    * busy = user + nice + system + irq + softirq. */
  def jiffies(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")
      (f(1).toLong + f(2).toLong + f(3).toLong + f(6).toLong + f(7).toLong,
        f(8).toLong)
    } finally src.close()
  } catch { case _: Throwable => (0L, 0L) }

  def stealPct(before: (Long, Long), after: (Long, Long)): Double = {
    val busy = after._1 - before._1
    val steal = after._2 - before._2
    if (busy + steal <= 0) 0.0 else 100.0 * steal / (busy + steal)
  }

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  } catch { case _: Throwable => 0.0 }

  /** JIT compiler seconds so far (summed over compiler threads). */
  def jitS(): Double = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime / 1e3 else 0.0
  }

  /** Garbage-collection seconds so far, over all collectors. */
  def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Wall seconds, process CPU seconds, steal %, and JIT and GC seconds
    * of one window. */
  final case class Window(wallS: Double, cpuS: Double, stealPct: Double,
                          jitS: Double, gcS: Double)

  final class Meter {
    private val t0 = System.nanoTime()
    private val c0 = processCpuS()
    private val j0 = jiffies()
    private val jit0 = Host.jitS()
    private val gc0 = Host.gcS()
    def stop(): Window = Window((System.nanoTime() - t0) / 1e9,
      processCpuS() - c0, Host.stealPct(j0, jiffies()), Host.jitS() - jit0, Host.gcS() - gc0)
  }
}

/** Order statistics over one run's samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    // linear interpolation between closest ranks (numpy's default)
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON writer for the result record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
}
