package graftbench

import java.nio.file.{Files, Paths}

/** CPU accounting from /proc over a window: how much of the machine was
  * stolen by the hypervisor, and how much went to processes other than
  * this one. Both annotate a run; neither is used to drop it. */
final case class HostSample(total: Long, steal: Long, busy: Long, self: Long)

object Host {
  /** USER_HZ: the unit of the CPU times in /proc. */
  val TicksPerSecond = 100.0

  private def read(p: String): Option[String] =
    scala.util.Try(new String(Files.readAllBytes(Paths.get(p)), "UTF-8")).toOption

  def sample(): Option[HostSample] = for {
    stat <- read("/proc/stat")
    self <- read("/proc/self/stat")
  } yield {
    // cpu user nice system idle iowait irq softirq steal [guest guest_nice]
    val f = stat.linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    val total = f.take(8).sum
    val idle = f(3) + f(4)
    val steal = if (f.length > 7) f(7) else 0L
    // fields after the parenthesised command name; utime and stime are
    // the 14th and 15th fields of the whole line
    val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
    HostSample(total, steal, total - idle - steal, rest(11).toLong + rest(12).toLong)
  }

  /** (steal %, other-process CPU %) of all CPU time between two samples. */
  def shares(a: HostSample, b: HostSample): (Double, Double) = {
    val dt = math.max(1L, b.total - a.total).toDouble
    val other = math.max(0L, (b.busy - a.busy) - (b.self - a.self))
    (100.0 * (b.steal - a.steal) / dt, 100.0 * other / dt)
  }
}
