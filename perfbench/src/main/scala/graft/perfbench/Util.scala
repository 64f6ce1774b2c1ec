package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Util {
  /** Linear-interpolated percentile, `q` in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Bytes of every regular file under `p` (0 when absent). */
  def treeBytes(p: Path): Long = files(p).map(Files.size).sum

  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def delete(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  /** CPU seconds this JVM process has used so far. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double =
    procField("/proc/self/status", "VmHWM:").map(_ / 1024.0).getOrElse(0.0)

  private def procField(file: String, key: String): Option[Double] =
    scala.util.Try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().find(_.startsWith(key))
        .map(_.split("\\s+")(1).toDouble)
      finally src.close()
    }.toOption.flatten

  /** Host-wide CPU steal so far, in seconds (the `/proc/stat` steal field,
    * in USER_HZ ticks of 1/100 s).
    */
  def stealS(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+")(8).toDouble / 100.0).getOrElse(0.0)
      finally src.close()
    }.getOrElse(0.0)

  /** A wall-clock instant with the host's steal counter at that instant. */
  final case class Stamp(ms: Long, steal: Double)

  def stamp(): Stamp = Stamp(System.currentTimeMillis(), stealS())

  private val cpus = Runtime.getRuntime.availableProcessors()

  /** Wall seconds from `a` to `b`, net of host steal: the CPU time the
    * hypervisor withheld from this VM over the interval, spread over its
    * CPUs. On a shared host steal varies from run to run by tens of
    * seconds and moves every wall-clock figure with it.
    */
  def netS(a: Stamp, b: Stamp): Double = {
    val wall = (b.ms - a.ms) / 1000.0
    math.max(0.1 * wall, wall - (b.steal - a.steal) / cpus)
  }

  /** Runs `body`; returns its result and its wall seconds net of steal. */
  def timed[T](body: => T): (T, Double) = {
    val a = stamp()
    val r = body
    (r, netS(a, stamp()))
  }

  /** Poll `cond` every few ms until it holds; false on timeout. */
  def await(timeoutMs: Long, everyMs: Long = 5)(cond: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > end) return false
      Thread.sleep(everyMs)
    }
    true
  }
}
