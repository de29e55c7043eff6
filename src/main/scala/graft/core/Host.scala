package graft.core

/** Host-contention readings stamped into the bench records. */
object Host {
  /** 1-minute load average (/proc/loadavg) as printed there; "-1"
    * off-Linux. */
  def loadavg1(): String =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0)
    catch { case _: Throwable => "-1" }

  /** Cumulative hypervisor CPU-steal jiffies (/proc/stat cpu col 8,
    * USER_HZ = 100); -1 off-Linux. Loadavg only sees THIS VM's run
    * queue — a noisy host neighbor inflates wall times while loadavg
    * reads idle, and the steal delta is the only forensic that
    * catches it (observed: a loadavg-0.36 capture with 100+ stolen
    * CPU-seconds and 3× spikes on deterministic queries). */
  def stealJiffies(): Long =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
      .linesIterator.next().trim.split("\\s+")(8).toLong
    catch { case _: Throwable => -1L }
}
