package graft.perfbench

import java.lang.management.ManagementFactory

/** Host-speed probe: a fixed CPU and memory job on `threads` threads that
  * shares no code with the engine, so its time moves with the host's load
  * and with nothing a change to the program does. Each thread fills its
  * own array with xorshift values and sorts it. Its CPU time per thread
  * grows when other tenants share the cores and caches. Its wall time is
  * not used: it also grows with whatever else this JVM runs at the moment.
  */
final class Probe(threads: Int) {
  private val arrays = Array.fill(threads)(new Array[Long](1 << 20))
  private val bean = ManagementFactory.getThreadMXBean

  /** Mean CPU seconds per thread of one run. */
  private def once(): Double = {
    val cpuNs = new Array[Long](threads)
    val ts = arrays.indices.map { k =>
      new Thread(() => {
        val c0 = bean.getCurrentThreadCpuTime
        val a = arrays(k)
        var x = 0x9E3779B97F4A7C15L * (k + 1)
        var i = 0
        while (i < a.length) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          a(i) = x
          i += 1
        }
        java.util.Arrays.sort(a)
        cpuNs(k) = bean.getCurrentThreadCpuTime - c0
      })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    cpuNs.sum / 1e9 / threads
  }

  /** Median of three runs. */
  def sample(): Double = Seq.fill(3)(once()).sorted.apply(1)
}

object Probe {
  /** Normalised times are scaled to a host on which a probe thread takes
    * this much CPU time, so that they read as seconds there.
    */
  val RefS = 0.125

  /** `seconds` as it would read on the reference host, given the probe's
    * CPU time per thread `probeS` on this one.
    */
  def normalise(seconds: Double, probeS: Double): Double = seconds * RefS / probeS
}
