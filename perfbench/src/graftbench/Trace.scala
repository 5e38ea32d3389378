package graftbench

import java.lang.management.ManagementFactory
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{GraftBenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Everything the listener saw for one job group (one span instance). */
final class GroupStats {
  var jobs = 0
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]() // epoch ms
  var tasks = 0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val stageTaskMs = mutable.LinkedHashMap[Int, mutable.ArrayBuffer[Long]]()
}

/** Files every Spark job, stage and task under the job group that was set
  * when its job was submitted. The benchmark sets one group per span. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, (String, Long)]()
  private val groups = mutable.HashMap[String, GroupStats]()

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { id =>
      e.stageIds.foreach(stageGroup(_) = id)
      jobStart(e.jobId) = (id, e.time)
      stats(id).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (id, t0) => stats(id).jobIntervals += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { id =>
      val s = stats(id)
      s.tasks += 1
      s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.diskBytesSpilled
      }
    }
  }

  def get(group: String): GroupStats = synchronized(groups.getOrElse(group, new GroupStats))
}

/** One closed span. Times are epoch milliseconds (as a double, from the
  * monotonic clock) so they line up with the listener's job times. */
final case class Span(id: Int, run: String, rep: Int, name: String, parent: Int,
                      startMs: Double, endMs: Double, gcMs: Long) {
  def group: String = s"$run/$name#$id"
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Times calls into graft's layers. A span always records its duration for
  * the end-to-end metrics. While `active` (only possible when the tracer is
  * `enabled`), it also sets a Spark job group, so the listener can attribute
  * jobs, tasks, shuffle bytes and spill to it, and reads the JVM's collector
  * time around it. Spans are kept in memory and summarised or written out
  * after the timed region. */
final class Tracer(sc: SparkContext, enabled: Boolean, val run: String) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private val listener = new GroupListener
  if (enabled) sc.addSparkListener(listener)

  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[(Int, String)] // (span id, job group)
  private var nextId = 0
  var rep = 0
  private var on = false
  def active: Boolean = on
  def active_=(v: Boolean): Unit = on = enabled && v
  /** Seconds per span name in the current repetition (tracing on or off). */
  val repSeconds = mutable.LinkedHashMap[String, Double]()

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    val group = s"$run/$name#$id"
    val traced = on
    if (traced) { sc.setJobGroup(group, name, interruptOnCancel = false); stack = (id, group) :: stack }
    val gc0 = if (traced) gcMs else 0L
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      repSeconds.synchronized(repSeconds(name) = repSeconds.getOrElse(name, 0.0) + (t1 - t0) / 1e3)
      if (traced) {
        spans += Span(id, run, rep, name, parent, t0, t1, gcMs - gc0)
        stack = stack.tail
        stack.headOption match {
          case Some((_, g)) => sc.setJobGroup(g, g, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
  }

  /** Waits for the listener to see every finished job. */
  def drain(): Unit = if (enabled) GraftBenchBus.drain(sc)

  /** Per-span fields of every span instance, in span order. */
  def rows(): Seq[(Span, Map[String, Double])] = {
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil)
      val self = math.max(0.0, s.seconds - kids.map(_.seconds).sum)
      val g = listener.get(s.group)
      val jobSec = unionSeconds(g.jobIntervals.toSeq, s.startMs, s.endMs)
      val medians = g.stageTaskMs.values.filter(_.nonEmpty).map(ts => Stats.median(ts.map(_.toDouble).toSeq))
      val maxes = g.stageTaskMs.values.filter(_.nonEmpty).map(_.max.toDouble)
      val skew = if (medians.sum > 0) maxes.sum / medians.sum else 1.0
      val mb = 1024.0 * 1024.0
      s -> ListMap(
        "s" -> self,
        "driver_s" -> math.max(0.0, self - jobSec),
        "jobs" -> g.jobs.toDouble,
        "tasks" -> g.tasks.toDouble,
        "task_skew" -> skew,
        "shuffle_write_mb" -> g.shuffleWrite / mb,
        "shuffle_read_mb" -> g.shuffleRead / mb,
        "spill_mb" -> g.spill / mb,
        "gc_s" -> math.max(0L, s.gcMs - kids.map(_.gcMs).sum) / 1e3)
    }
  }

  /** Length of the union of `intervals` clipped to [lo, hi], in seconds. */
  private def unionSeconds(intervals: Seq[(Long, Long)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curEnd = Double.NegativeInfinity
    intervals.map { case (a, b) => (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, curEnd)
        if (b > from) total += b - from
        curEnd = math.max(curEnd, b)
      }
    total / 1e3
  }

  /** "<span>.<field>" → median over repetitions of the per-repetition sum. */
  def summary(): Map[String, Double] = {
    val perRep = rows().groupBy(_._1.rep).values.map { rs =>
      rs.groupBy(_._1.name).map { case (name, xs) =>
        name -> xs.map(_._2).reduce((a, b) => a.map { case (k, v) => k -> (if (k == "task_skew") math.max(v, b(k)) else v + b(k)) })
      }
    }.toSeq
    val names = perRep.flatMap(_.keys).distinct
    names.flatMap { n =>
      val reps = perRep.flatMap(_.get(n))
      reps.head.keys.map(f => s"$n.$f" -> Stats.median(reps.map(_(f))))
    }.toMap
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
