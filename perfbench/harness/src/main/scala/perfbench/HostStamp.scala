package perfbench

/** Prints the host's cumulative steal and iowait jiffies, as sampled by the
  * program's own `graft.tools.ProcStat`, and the 1-minute load average:
  * `steal iowait load1`, or `-1 -1 load1` when /proc/stat is unreadable. */
object HostStamp {
  def main(args: Array[String]): Unit = {
    val (steal, iowait) = graft.tools.ProcStat.stealIowait().getOrElse((-1L, -1L))
    val load1 = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    println(s"$steal $iowait $load1")
  }
}
