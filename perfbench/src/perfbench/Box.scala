package perfbench

import java.nio.file.{Files, Paths}

/** Process and box readings taken around each timed iteration.
  *
  * The three noise sentinels say whether an inflated iteration was the
  * box's doing rather than the code's: the 1-minute load average, the
  * share of the box's CPU ticks spent by other processes, and the time
  * this process's threads sat runnable without a core. All read `/proc`
  * and return -1 where it is missing. */
object Box {

  private def read(path: String): Option[String] =
    try Some(Files.readString(Paths.get(path)))
    catch { case _: Exception => None }

  def loadAvg1(): Double =
    read("/proc/loadavg").map(_.split(' ')(0).toDouble).getOrElse(-1.0)

  /** (busy ticks, all ticks) of the whole box. Only the first eight
    * fields (through steal) count: guest time is already inside user. */
  def boxTicks(): (Long, Long) =
    read("/proc/stat").map { s =>
      val n = s.linesIterator.next().trim.split("\\s+").drop(1).take(8)
        .map(_.toLong)
      val idle = n(3) + n(4)
      (n.sum - idle, n.sum)
    }.getOrElse((-1L, -1L))

  /** utime + stime of this process in clock ticks. */
  def selfTicks(): Long =
    read("/proc/self/stat").map { s =>
      // the command name may hold spaces; fields resume after the last ')'
      val rest = s.substring(s.lastIndexOf(')') + 2).split(' ')
      rest(11).toLong + rest(12).toLong
    }.getOrElse(-1L)

  /** Sum over this process's threads of the time spent runnable but not
    * running (schedstat field 2), in ns. */
  def runDelayNs(): Long =
    try {
      val stream = Files.list(Paths.get("/proc/self/task"))
      try {
        var sum = 0L
        stream.forEach { t =>
          read(t.resolve("schedstat").toString).foreach { s =>
            val f = s.trim.split("\\s+")
            if (f.length >= 2) sum += f(1).toLong
          }
        }
        sum
      } finally stream.close()
    } catch { case _: Exception => -1L }

  /** Process CPU time in seconds (all threads). */
  def cpuSeconds(): Double = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    os.getProcessCpuTime / 1e9
  }

  def rssKb(): Long =
    read("/proc/self/status").flatMap(_.linesIterator
      .find(_.startsWith("VmRSS:"))
      .map(_.split("\\s+")(1).toLong)).getOrElse(-1L)

  /** A sentinel window: open before an iteration, close after it. */
  final class Window {
    private val load0 = loadAvg1()
    private val (busy0, all0) = boxTicks()
    private val self0 = selfTicks()
    private val delay0 = runDelayNs()

    /** (loadavg at start, co-tenant CPU %, run-queue delay ms). */
    def close(): (Double, Double, Double) = {
      val (busy1, all1) = boxTicks()
      val self1 = selfTicks()
      val delay1 = runDelayNs()
      val other =
        if (busy0 < 0 || self0 < 0 || all1 <= all0) -1.0
        else 100.0 * math.max(0L, (busy1 - busy0) - (self1 - self0)) /
          (all1 - all0)
      val delayMs =
        if (delay0 < 0 || delay1 < 0) -1.0
        else math.max(0L, delay1 - delay0) / 1e6
      (load0, other, delayMs)
    }
  }

  /** Samples VmRSS every `periodMs` on a daemon thread; `stop()` returns
    * the highest reading in MB. */
  final class RssPeak(periodMs: Long = 20L) {
    @volatile private var running = true
    @volatile private var peakKb = rssKb()
    private val thread = new Thread(() => {
      while (running) {
        val kb = rssKb()
        if (kb > peakKb) peakKb = kb
        Thread.sleep(periodMs)
      }
    }, "perfbench-rss")
    thread.setDaemon(true)
    thread.start()

    def stop(): Double = {
      running = false
      thread.join()
      math.max(peakKb, rssKb()) / 1024.0
    }
  }
}
