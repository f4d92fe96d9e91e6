package perfbench

/** CPU time the hypervisor took from this machine, from the kernel's
  * all-CPU counters in /proc/stat. On a shared VM host a runnable vCPU is
  * sometimes not run (steal); an op's wall time then stretches by the
  * stolen share of its runnable time. Timings are reported as
  * wall × (1 − stolen share): the wall time on the same machine without
  * steal. With no steal the correction is 1. */
object CpuTicks {
  final case class Ticks(busy: Long, steal: Long)

  def read(): Ticks = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      // cpu user nice system idle iowait irq softirq steal ...
      val x = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      Ticks(x(0) + x(1) + x(2) + x(5) + x(6), x(7))
    } finally f.close()
  }

  /** share of runnable CPU time between two readings that was stolen */
  def stolenShare(a: Ticks, b: Ticks): Double = {
    val busy = b.busy - a.busy
    val steal = b.steal - a.steal
    if (busy + steal <= 0) 0.0 else steal.toDouble / (busy + steal)
  }
}
