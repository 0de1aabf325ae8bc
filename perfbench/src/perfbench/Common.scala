package perfbench

import scala.collection.mutable

/** Wall clock with sub-millisecond resolution on the epoch scale that
  * Spark's listener events use (`System.currentTimeMillis`), so the
  * benchmark's own spans and Spark's job/phase times share one axis. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** JSON for the result file, through the Jackson Scala module Spark ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The tail rule: the highest of p99, p95, p90, p75 that has at least
    * ten samples beyond it; p50 when the sample is too small for any.
    * Returns (value, percentile, samples beyond it). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    val q = Seq(0.99, 0.95, 0.90, 0.75).find(q => n * (1 - q) >= 10).getOrElse(0.5)
    (pct(xs, q), q * 100, (n * (1 - q)).floor.toInt)
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def clip(iv: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(i => i._2 > i._1)
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, out: String, cores: Int)

object Args {
  def parse(a: Array[String]): Args = {
    val m = mutable.Map.empty[String, String]
    a.grouped(2).foreach {
      case Array(k, v) if k.startsWith("--") => m(k.drop(2)) = v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("out"), need("cores").toInt)
  }
}

/** Host facts recorded with every result, so runs on different or busy
  * hosts are not compared silently. */
object Host {
  def loadAvg1m(): Double =
    scala.util.Try(scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble)
      .getOrElse(-1.0)

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024
      finally src.close()
    }.getOrElse(Double.NaN)

  /** A fixed single-threaded CPU task (integer hashing over a fixed
    * array); best of three, in ms. Compares host speed across runs. */
  def calibrationMs(): Double = {
    val data = Array.tabulate(1 << 16)(i => i * 2654435761L)
    def once(): Double = {
      val t0 = System.nanoTime()
      var h = 17L
      var r = 0
      while (r < 300) {
        var i = 0
        while (i < data.length) { h = (h ^ data(i)) * 0x100000001b3L; h ^= h >>> 29; i += 1 }
        r += 1
      }
      if (h == 42L) println("")
      (System.nanoTime() - t0) / 1e6
    }
    Seq.fill(3)(once()).min
  }
}

object Files {
  def dirBytes(f: java.io.File): Long =
    if (f.exists()) org.apache.commons.io.FileUtils.sizeOfDirectory(f) else 0L

  def writeString(path: String, s: String): Unit =
    org.apache.commons.io.FileUtils.writeStringToFile(new java.io.File(path), s, "UTF-8")

  def delete(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
}
