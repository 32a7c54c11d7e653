package perfbench

import java.lang.management.ManagementFactory

/** Process-level readings taken around each run. */
object Probes {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  /** Seconds of CPU the hypervisor gave to other tenants, summed over all
    * CPUs (the `steal` column of /proc/stat); 0 where that file is absent. */
  def stealSecs: Double = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists()) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("cpu ")).map { l =>
        val cols = l.trim.split("\\s+")
        if (cols.length > 8) cols(8).toDouble / 100.0 else 0.0
      }.getOrElse(0.0)
      finally src.close()
    }
  }

  /** Heap still in use after a full collection: what the run left live. */
  def liveHeapMb: Double = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def jvmVersion: String = System.getProperty("java.runtime.version")

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
}
