package agentbench

/** Host-load witnesses over a window: the share of the machine's CPU time
  * spent by other processes, and this JVM's own CPU seconds. A run whose
  * external share is high ran on a loaded host and its timings are
  * suspect; a slow run whose own CPU seconds are flat was descheduled
  * rather than doing more work.
  */
final class Witness {
  private val host0 = Witness.hostJiffies()
  private val self0 = Witness.selfCpuNs()

  /** (external CPU fraction, this JVM's CPU seconds); the fraction is -1
    * where /proc/stat is not readable.
    */
  def close(): (Double, Double) = {
    val (busy1, total1) = Witness.hostJiffies()
    val selfS = (Witness.selfCpuNs() - self0) / 1e9
    val (busy0, total0) = host0
    val ext =
      if (busy0 < 0 || busy1 < 0 || total1 <= total0) -1.0
      else math.max(0.0, ((busy1 - busy0) / Witness.UserHz - selfS) /
        ((total1 - total0) / Witness.UserHz))
    (ext, selfS)
  }
}

object Witness {
  /** Above this external-CPU fraction a run is flagged as loaded. */
  val LoadedFraction = 0.10
  private val UserHz = 100.0

  /** (busy, total) jiffies summed over all CPUs, or (-1, -1). */
  private def hostJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        // user nice system idle iowait irq softirq steal
        val total = f.take(8).sum
        (total - f(3) - f(4), total)
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => (-1L, -1L) }

  private def selfCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
}
