package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Host context carried by every record, so that two runs can be checked
  * for being a same-host, same-load pair: core count, heap, load average,
  * the busy share of the machine's CPUs not spent by this process, and a
  * fixed single-thread canary.
  */
object Host {
  final case class CpuSample(busyTicks: Long, totalTicks: Long, ownTicks: Long)

  private def read(p: String): String = new String(Files.readAllBytes(Paths.get(p)))

  def loadavg(): Double = read("/proc/loadavg").trim.split("\\s+")(0).toDouble

  def cpu(): CpuSample = {
    val f = read("/proc/stat").linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    val idle = f(3) + (if (f.length > 4) f(4) else 0L)
    val total = f.take(8).sum
    // utime and stime follow the parenthesised command name
    val own = read("/proc/self/stat")
    val fields = own.substring(own.lastIndexOf(')') + 2).split(" ")
    CpuSample(total - idle, total, fields(11).toLong + fields(12).toLong)
  }

  /** Share of all CPUs busy with work other than this process's. */
  def externalBusy(a: CpuSample, b: CpuSample): Double = {
    val total = b.totalTicks - a.totalTicks
    if (total <= 0) 0.0
    else math.max(0.0, (b.busyTicks - a.busyTicks - (b.ownTicks - a.ownTicks)).toDouble / total)
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Fixed single-thread work (integer hashing and float math over a
    * 4 MB array), median of three, in ms.
    */
  def canaryMs(): Double = {
    val a = new Array[Float](1 << 20)
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var acc = 0.0
      var r = 0
      while (r < 12) {
        var i = 0
        while (i < a.length) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17
          a(i) = a(i) * 0.5f + (x & 0xffff).toFloat
          acc += math.sqrt(a(i).toDouble)
          i += 1
        }
        r += 1
      }
      if (acc < 0) println(acc)
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(Seq(once(), once(), once()))
  }
}
