package perfbench

import java.io.File
import java.nio.file.Files

/** Percentiles, disk usage, environment stamp. */
object Support {

  /** Nearest-rank percentile of `xs` (q in [0, 1]). */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest of p95/p90/p75/p50 that `n` samples support (at least
    * 20/10/4/1 samples), as (label, value). */
  def highPct(xs: Seq[Double]): (String, Double) = {
    val n = xs.size
    val q = if (n >= 20) 0.95 else if (n >= 10) 0.90 else if (n >= 4) 0.75 else 0.5
    (f"p${(q * 100).toInt}%d", pct(xs, q))
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Note on stderr how far into the run a phase ended. */
  def phase(name: String): Unit =
    System.err.println(f"perfbench: $name done at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")

  def duBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(duBytes).sum

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rmTree)
    f.delete(): Unit
  }

  def freshDir(f: File): File = { rmTree(f); Files.createDirectories(f.toPath); f }

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  private def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (xs.sum, if (xs.length > 7) xs(7) else 0L)
    } finally f.close()
  }

  /** Fixed single-thread CPU work, timed: a slow box or a noisy
    * neighbour shows as a larger number at equal code. */
  def canaryMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    if (acc == 42L) print("")
    (System.nanoTime() - t0) / 1e6
  }

  /** Environment of one run, stamped at its start and end. */
  final class EnvStamp {
    private def loadavg: String = {
      val f = scala.io.Source.fromFile("/proc/loadavg")
      try f.getLines().next().split(" ").take(3).mkString(" ") finally f.close()
    }
    val nproc: Int = Runtime.getRuntime.availableProcessors
    val loadStart: String = loadavg
    private val (tot0, steal0) = cpuTicks()
    val canaryStartMs: Double = canaryMs()

    /** JSON object with the start values, the end values and the
      * steal share of all cpu ticks over the run. */
    def finish(): String = {
      val canaryEnd = canaryMs()
      val (tot1, steal1) = cpuTicks()
      val steal = if (tot1 > tot0) (steal1 - steal0).toDouble / (tot1 - tot0) else 0.0
      f"""{"nproc":$nproc,"loadavg_start":"$loadStart","loadavg_end":"$loadavg",""" +
        f""""steal_share":$steal%.4f,"canary_start_ms":$canaryStartMs%.1f,""" +
        f""""canary_end_ms":$canaryEnd%.1f}"""
    }
  }
}
