package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** STREAM-style triad a = b + s·c over arrays at least four times the size
  * of the last two cache levels, one slice per thread. Reports the best of
  * several passes in GB/s, counting 24 bytes per element as STREAM does. */
object MemBw {
  /** L2 + L3 bytes of cpu0, read from sysfs (L2 counted once per core). */
  def cacheBytes(): Long = {
    val dir = Paths.get("/sys/devices/system/cpu/cpu0/cache")
    val cores = Runtime.getRuntime.availableProcessors()
    val levels = Try {
      val idx = Files.list(dir)
      try idx.iterator().asScala.toSeq finally idx.close()
    }.getOrElse(Nil).flatMap { p =>
      Try {
        val level = Files.readString(p.resolve("level")).trim.toInt
        val kind = Files.readString(p.resolve("type")).trim
        val size = Files.readString(p.resolve("size")).trim
        val bytes = if (size.endsWith("K")) size.dropRight(1).toLong << 10
          else if (size.endsWith("M")) size.dropRight(1).toLong << 20 else size.toLong
        (level, kind, bytes)
      }.toOption
    }
    val l2 = levels.collect { case (2, k, b) if k != "Instruction" => b }.sum * cores
    val l3 = levels.collect { case (3, k, b) if k != "Instruction" => b }.sum
    math.max(l2 + l3, 64L << 20)
  }

  def triadGBps(threads: Int = 4, passes: Int = 5): Double = {
    val n = ((4 * cacheBytes()) / 8).toInt
    val a = new Array[Double](n); val b = new Array[Double](n); val c = new Array[Double](n)
    def parallel(body: (Int, Int) => Unit): Unit = {
      val ts = (0 until threads).map { t =>
        val lo = (n.toLong * t / threads).toInt; val hi = (n.toLong * (t + 1) / threads).toInt
        new Thread(() => body(lo, hi))
      }
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    parallel { (lo, hi) => var i = lo; while (i < hi) { b(i) = 1.0; c(i) = 2.0; a(i) = 0.0; i += 1 } }
    var best = Double.MaxValue
    for (_ <- 1 to passes) {
      val t0 = System.nanoTime()
      parallel { (lo, hi) => var i = lo; while (i < hi) { a(i) = b(i) + 3.0 * c(i); i += 1 } }
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    require(a(n - 1) == 7.0, "triad result")
    24.0 * n / best / 1e9
  }
}
