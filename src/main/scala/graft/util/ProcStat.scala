package graft.util

/** CPU steal-time reader for noise forensics on shared VMs.
  *
  * This sandbox runs on a multi-tenant host with intermittent neighbor
  * activity: identical code benches 2-10x slower for minutes at a time
  * (BASELINE.md documents three full bench runs eaten whole). The guest
  * kernel exposes the host's paravirt steal accounting as column 9 of the
  * aggregate `cpu` line in /proc/stat (units of USER_HZ = 100 ticks/sec on
  * every mainstream Linux build). Steal accrues ONLY while this VM demands
  * CPU the host hands to a neighbor, so a delta taken around a timed
  * section measures exactly the noise that inflated that section — idle
  * load averages cannot see it.
  *
  * Evidence-grade, not control-flow-grade: callers record deltas next to
  * their timings so a reader can separate window records from code
  * records; on non-Linux (or a kernel without steal accounting) every
  * reading is 0.0 and the derived "clean" views coincide with the raw ones.
  */
object ProcStat {
  private val UserHz = 100.0

  /** Cumulative steal seconds since boot; 0.0 when unavailable. */
  def stealSec(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().find(_.startsWith("cpu ")) finally src.close()
      line.map(_.trim.split("\\s+")(8).toDouble / UserHz).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }

  /** Run `f`, returning (result, wallSec, stealSecDelta). */
  def timedWithSteal[A](f: => A): (A, Double, Double) = {
    val s0 = stealSec()
    val t0 = System.nanoTime()
    val a = f
    val wall = (System.nanoTime() - t0) / 1e9
    (a, wall, stealSec() - s0)
  }
}
