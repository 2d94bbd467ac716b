package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Host and process telemetry recorded with every run, so a number taken
  * on a disturbed host can be told apart from a regression. */
object Host {
  @volatile private var sink = 0L // keeps the calibration loop from being elided

  /** Fixed single-thread CPU workload: 2^27 xorshift steps. Seconds taken
    * are a machine-speed index; the same loop, same count, on every run. */
  def calibCpu(): Double = {
    val t0 = System.nanoTime
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 27)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink = x
    (System.nanoTime - t0) / 1e9
  }

  def nproc: Int = Runtime.getRuntime.availableProcessors

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: Throwable => "unavailable" }

  /** Peak resident set of this process (VmHWM), in MB. The whole engine
    * runs in this process in local mode. */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    catch { case _: Throwable => Double.NaN }

  /** Process start, epoch milliseconds. */
  def processStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Total JVM garbage-collection time so far, seconds. */
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Bytes of all regular files under `dir`. */
  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  /** Number of parquet data files under `dir`. */
  def parquetFiles(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala
        .count(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .toLong
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}

/** Order statistics over measured samples. */
object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples strictly above the q-quantile: a percentile is reported as
    * a tail only when at least ten samples lie beyond it. */
  def beyond(xs: Seq[Double], q: Double): Int = {
    val v = quantile(xs, q)
    xs.count(_ > v)
  }
}
