package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Run provenance and contention evidence taken from outside the program:
  * load average, machine-wide CPU jiffies (busy and steal) and this
  * process's CPU time. */
object Host {

  final case class Sample(loadavg: Double, busyJiffies: Long, stealJiffies: Long, totalJiffies: Long)

  private def lines(path: String): Seq[String] =
    try Files.readAllLines(Paths.get(path)).asScala.toSeq catch { case _: java.io.IOException => Nil }

  def sample(): Sample = {
    val load = lines("/proc/loadavg").headOption.flatMap(_.split("\\s+").headOption).map(_.toDouble).getOrElse(-1.0)
    // cpu user nice system idle iowait irq softirq steal ...
    val cpu = lines("/proc/stat").find(_.startsWith("cpu ")).map(_.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty)
    if (cpu.length < 8) Sample(load, 0, 0, 0)
    else {
      val idle = cpu(3) + cpu(4)
      val total = cpu.take(8).sum
      Sample(load, total - idle - cpu(7), cpu(7), total)
    }
  }

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** VmHWM: the process's peak resident set, in kB. */
  def peakRssKb(): Double =
    lines("/proc/self/status").find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  val ClkTck = 100.0

  /** Contention over the timed loop. `cpu_util` is this process's CPU over
    * wall x cores; `others_util` is the CPU every other process on the
    * machine used over the same window (busy jiffies minus ours); `steal`
    * is the hypervisor's share. A loop is flagged contended when others used
    * more than a quarter of the cores, steal exceeded 5%, or its wall time
    * exceeded twice its CPU time over the cores (`cpu_util` below 0.5): the
    * wall times it reports then likely include waiting for CPU the program
    * did not get. */
  def contention(a: Sample, b: Sample, loopCpuS: Double, wallS: Double, cores: Int): Seq[(String, Any)] = {
    val cap = wallS * cores
    val busyS = (b.busyJiffies - a.busyJiffies) / ClkTck
    val others = if (a.totalJiffies == 0) 0.0 else math.max(0.0, busyS - loopCpuS) / cap
    val steal = if (b.totalJiffies > a.totalJiffies)
      (b.stealJiffies - a.stealJiffies).toDouble / (b.totalJiffies - a.totalJiffies) else 0.0
    Seq("cpu_util" -> loopCpuS / cap, "others_util" -> others, "steal_share" -> steal,
      "contended" -> (others > 0.25 || steal > 0.05 || loopCpuS / cap < 0.5))
  }
}
