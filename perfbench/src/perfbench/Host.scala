package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Host and process readings taken next to wall time. */
object Host {
  private val ClockTicks = 100.0 // USER_HZ on Linux

  /** Cumulative CPU time stolen from this host by its hypervisor, seconds
    * (`/proc/stat`, aggregate line, 8th field). 0 where unreadable. */
  def stealS(): Double =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu ")).map(_.trim.split("\\s+")).get
      if (cpu.length > 8) cpu(8).toDouble / ClockTicks else 0.0
    } catch { case _: Exception => 0.0 }

  /** Peak resident set size of this process, MiB (`VmHWM`). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("VmHWM not readable"))

  /** CPU time of the whole JVM (driver, executor threads, GC, JIT), seconds. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Seconds since this JVM started. */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}
