package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checkpoint.{Snapshot, SnapshotStore}
import graft.graph.{Dictionary, RMat, WebGraph}
import graft.kernels._
import graft.linalg.PlusTimes
import graft.operators.MatrixOps
import graft.pages.{Extract, PageGen}
import graft.util.Sentinel

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      toy: Boolean, perturb: Boolean, work: String)

/** A SnapshotStore that times each commit and measures what it wrote. */
final class TimedStore(root: String) extends SnapshotStore(root) {
  var commitSeconds = 0.0
  var commits = 0
  override def commit(df: DataFrame, iteration: Int, nnz: Long, flops: Long): Long = {
    val t0 = System.nanoTime()
    val id = super.commit(df, iteration, nnz, flops)
    commitSeconds += (System.nanoTime() - t0) / 1e9
    commits += 1
    id
  }
  def bytesWritten: Long = {
    val files = Files.walk(Paths.get(root))
    try files.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally files.close()
  }
}

/** A workload's input at one size, generated from the seed and persisted. */
final case class Input(frames: Seq[DataFrame], edges: DataFrame, vertices: DataFrame,
                       pages: Option[DataFrame], nPages: Int) {
  def release(): Unit = frames.foreach(_.unpersist(true))
}

/** One repetition of a workload's chain: seconds per span name and the
  * collected answers, checked after the timed region. */
final case class Rep(traced: Boolean, rounds: Rounds, seconds: Map[String, Double], wall: Double,
                     answers: Map[String, Any], stealFrac: Double)

/** Iterations of PageRank (plain and checkpointed) and rounds of label
  * propagation in one chain; `concurrent` runs the chain's independent
  * kernel calls at the same time (the warm-up only). */
final case class Rounds(iters: Int, lp: Int, concurrent: Boolean = false)

object Main {
  val Cores = 4
  /** One partition per core: at these sizes per-task and per-file costs
    * dominate, and the scaling pair holds the count fixed across legs. */
  val Partitions = 4
  /** Iteration counts are kept low because each iteration costs a fixed
    * ~0.5 s of Spark jobs at these sizes (1.5 s with a snapshot commit),
    * and a run must fit about a minute. crawl commits every iteration. */
  val CrawlRounds = Rounds(2, 0)
  /** The scaling pair runs its chain twice per run; efficiency is a ratio
    * of per-iteration costs, so it needs few iterations. */
  val PairRounds = Rounds(2, 1)
  val PairKernels = Seq("pagerank", "pagerank_array", "cc", "labelprop")
  /** The warm-up runs every entry point once on a small slice, the
    * independent ones concurrently: most of its time is first-use class
    * loading and compilation, which overlaps well. */
  val Warm = Rounds(1, 1, concurrent = true)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv.getOrElse("trace", "0") == "1",
      kv.getOrElse("size", "full") == "toy", kv.getOrElse("perturb", "0") == "1", kv("work"))
    require(Set("crawl", "scale_pair")(o.workload), s"unknown workload ${o.workload}")
    val line = new Bench(o).run()
    println(line)
    System.out.flush()
    System.exit(0)
  }
}

final class Bench(o: Opts) {
  import Main._

  private var attempted = 0
  private var failed = 0
  private def fail(what: String): Unit = {
    synchronized(failed += 1)
    System.err.println(s"graftbench: FAILED $what")
  }

  /** Runs one call into graft; a throw counts as a failed operation. */
  private def op[T](name: String)(body: => T): Option[T] = {
    synchronized(attempted += 1)
    try Some(body) catch { case NonFatal(e) =>
      fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      e.printStackTrace()
      None
    }
  }

  /** Checks an answer an earlier `op` returned; a mismatch counts as failed. */
  private def verify(name: String, ok: Boolean): Unit = if (!ok) fail(s"$name: wrong answer")

  /** Runs independent calls one after another, or all at once. */
  private def calls(concurrent: Boolean)(cs: (() => Unit)*): Unit =
    if (!concurrent) cs.foreach(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cs.length)
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(Future.traverse(cs)(c => Future(c())), Duration.Inf)
      } finally pool.shutdown()
    }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  private val traceRows = mutable.ArrayBuffer[String]()

  // ---------------------------------------------------------------- session

  private def session(cores: Int): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .appName(s"graftbench-${o.workload}")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", Partitions)
      .config("spark.default.parallelism", Partitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${o.work}/spark")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.range(Partitions).count()
    val sec = (System.nanoTime() - t0) / 1e9
    System.err.println(f"graftbench: local[$cores] session $sec%.2f s")
    (spark, sec)
  }

  // ------------------------------------------------------------------ inputs

  private def crawlInput(spark: SparkSession, logPages: Int): Input = {
    val n = 1 << logPages
    val pages = PageGen.pages(spark, n.toLong, o.seed).persist()
    pages.count()
    Input(Seq(pages), null, null, Some(pages), n)
  }

  private def rmatInput(spark: SparkSession, scale: Int): Input = {
    val edges = RMat.symmetricGraph(spark, scale, 8, o.seed).persist()
    val vertices = edges.select(col("src").as("v")).distinct().persist()
    edges.count(); vertices.count()
    Input(Seq(edges, vertices), edges, vertices, None, 0)
  }

  /** Setup: one warm-up chain on a small slice (when `warm` is given), then
    * the full input built `builds` times; setup time is the warm-up plus
    * the median build. The warm-up's answers are checked like any other. */
  private def setUp(build: () => Input, warm: Option[() => Input], chain: (Input, Tracer, Rounds) => Rep,
                    tr: Tracer, check: (Input, Seq[Rep]) => Unit, builds: Int = 3): (Input, Double) = {
    var t0 = System.nanoTime()
    val warmed = warm.map { w =>
      val in = w()
      (in, chain(in, tr, Warm))
    }
    val warmSec = (System.nanoTime() - t0) / 1e9
    warmed.foreach { case (in, r) => check(in, Seq(r)); in.release() }
    val buildSec = mutable.ArrayBuffer[Double]()
    var in: Input = null
    for (_ <- 1 to builds) {
      if (in != null) in.release()
      t0 = System.nanoTime()
      in = build()
      buildSec += (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"graftbench: ${tr.run} warm-up $warmSec%.2f s, builds " + buildSec.map(b => f"$b%.2f").mkString(" "))
    (in, warmSec + Stats.median(buildSec.toSeq))
  }

  /** Repeats `chain` until `seconds` have passed, at least `minReps` times.
    * A traced run alternates traced and untraced repetitions, starting with
    * a traced one. */
  private def timed(in: Input, tr: Tracer, seconds: Double, chain: (Input, Tracer, Rounds) => Rep,
                    rounds: Rounds, minReps: Int): Seq[Rep] = {
    val reps = mutable.ArrayBuffer[Rep]()
    val t0 = System.nanoTime()
    while (reps.length < minReps || (System.nanoTime() - t0) / 1e9 < seconds) {
      tr.active = o.trace && reps.length % 2 == 0
      tr.rep = reps.length
      reps += chain(in, tr, rounds)
    }
    tr.active = false
    tr.drain()
    reps.toSeq
  }

  private def rep(tr: Tracer, rounds: Rounds, top: Seq[String])(body: mutable.Map[String, Any] => Unit): Rep = {
    tr.repSeconds.clear()
    val answers = TrieMap[String, Any]()
    val cpu0 = cpuTicks()
    body(answers)
    val cpu1 = cpuTicks()
    val steal = (cpu1._2 - cpu0._2).toDouble / math.max(1L, cpu1._1 - cpu0._1)
    val secs = tr.repSeconds.toMap
    System.err.println(f"graftbench: ${tr.run} rep ${tr.rep} traced=${tr.active} steal=$steal%.3f " +
      secs.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
    Rep(tr.active, rounds, secs, top.flatMap(secs.get).sum, answers.toMap, steal)
  }

  /** (all ticks, stolen ticks) of the machine, from /proc/stat's cpu line:
    * time the hypervisor gave this machine's CPUs to other guests. */
  private def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
    (f.take(8).sum, if (f.length > 7) f(7) else 0L)
  }

  // ------------------------------------------------------------ answer forms

  private def graphOf(edges: DataFrame, vertices: DataFrame): IntGraph = {
    val e = edges.select(col("src").cast("int"), col("dst").cast("int")).collect()
    val v = vertices.select(col(vertices.columns.head).cast("int")).collect().map(_.getInt(0)).sorted
    val pairs = e.map(r => (r.getInt(0).toLong << 32) | r.getInt(1).toLong).sorted
    IntGraph(v, pairs.map(p => (p >>> 32).toInt), pairs.map(p => (p & 0xffffffffL).toInt))
  }

  private def vec(df: DataFrame): Array[(Long, Double)] =
    df.select(col(df.columns(0)).cast("long"), col(df.columns(1)).cast("double")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))

  private def labels(df: DataFrame): Array[(Long, Long)] =
    df.select(col(df.columns(0)).cast("long"), col(df.columns(1)).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  /** One row per vertex, each within `tol` of the reference. */
  private def vecOk(got: Array[(Long, Double)], ref: Array[Double], g: IntGraph, tol: Double): Boolean = {
    val isVertex = new Array[Boolean](g.idSpace)
    g.vertices.foreach(isVertex(_) = true)
    got.length == g.vertices.length && got.map(_._1).distinct.length == got.length &&
      got.forall { case (v, x) => v >= 0 && v < g.idSpace && isVertex(v.toInt) && math.abs(x - ref(v.toInt)) <= tol }
  }

  private def labelsOk(got: Array[(Long, Long)], ref: Array[Int], g: IntGraph): Boolean = {
    val m = got.toMap
    got.length == g.vertices.length && m.size == got.length &&
      g.vertices.forall(v => m.get(v.toLong).contains(ref(v).toLong))
  }

  private def perturbed(x: Array[(Long, Double)]): Array[(Long, Double)] =
    if (o.perturb && x.nonEmpty) x.updated(0, (x(0)._1, x(0)._2 + 1e-3)) else x

  // --------------------------------------------------------------- workloads

  def run(): String = {
    val sentinel = if (o.trace) Some(new Sentinel(periodMs = 1000)) else None
    sentinel.foreach(_.start())
    o.workload match {
      case "crawl" => crawl()
      case "scale_pair" => scalePair()
    }
    put("peak_rss_mb", peakRssMb(), "MB")
    sentinel.foreach(s => put("host.ext_cpu_cores", s.stop().extMean, "cores"))
    // After the workload and the RSS reading: the probe's arrays are large.
    if (o.trace) bandwidth(MemBw.triadGBps())
    if (o.trace) writeTrace()
    render()
  }

  private val (crawlLog, crawlWarmLog) = if (o.toy) (9, 8) else (13, 9)
  private val (pairScale, pairWarmScale) = if (o.toy) (8, 7) else (13, 9)

  /** crawl: pages → ingest → checkpointed PageRank, CC, triangles, SpGEMM. */
  private def crawl(): Unit = {
    val (spark, sessionSec) = session(Cores)
    val tr = new Tracer(spark.sparkContext, o.trace, "crawl")
    val check = (in: Input, reps: Seq[Rep]) => checkCrawl(Reference.crawlGraph(in.nPages, o.seed), reps)
    val (in, setupSec) = setUp(() => crawlInput(spark, crawlLog),
      Some(() => crawlInput(spark, crawlWarmLog)), crawlChain, tr, check)
    val reps = timed(in, tr, o.seconds, crawlChain, CrawlRounds, if (o.trace) 2 else 1)
    val g = Reference.crawlGraph(in.nPages, o.seed)
    checkCrawl(g, reps)
    common(sessionSec + setupSec, reps, g, CrawlRounds, Seq(tr))
    val plain = reps.filterNot(_.traced)
    put("ingest_pages_per_s", in.nPages / median(plain, "graph.edges"), "pages/s")
    put("tricnt_s", median(plain, "kernels.tricnt"), "s")
    put("spgemm_s", median(plain, "operators.spgemm"), "s")
    reps.last.answers.get("spgemm").foreach(x => put("spgemm.flops", 2 * x.asInstanceOf[(Long, Double)]._2, "count"))
    val commits = reps.filter(_.traced).flatMap(_.answers.get("store")).map(_.asInstanceOf[(Double, Int, Long)])
    if (commits.nonEmpty) {
      put("checkpoint.commit_s", Stats.median(commits.map(_._1)), "s")
      put("checkpoint.commits", Stats.median(commits.map(_._2.toDouble)), "count")
      put("checkpoint.mb_written", Stats.median(commits.map(_._3 / 1048576.0)), "MB")
    }
    spark.stop()
  }

  private def crawlChain(in: Input, tr: Tracer, rounds: Rounds): Rep =
    rep(tr, rounds, Seq("graph.edges", "kernels.pagerank", "kernels.cc", "kernels.tricnt", "operators.spgemm")) { ans =>
      val pages = in.pages.get
      val built = op("ingest") {
        tr.span("graph.edges") {
          if (tr.active) {
            // Traced only: the two stages WebGraph.build runs internally,
            // each materialized as its own span.
            val links = tr.span("pages.extract") {
              val l = Extract.linkTable(pages); noop(l); l
            }
            tr.span("graph.dictionary") {
              noop(Dictionary.encode(pages.select(col("url")).union(links.select(col("dstUrl").as("url"))), "url"))
            }
          }
          val b = WebGraph.build(pages)
          val edges = b.edges.persist()
          edges.count()
          b.copy(edges = edges)
        }
      }
      built.foreach { b =>
        ans("graph") = graphOf(b.edges, b.vertices)
        calls(rounds.concurrent)(
          () => {
            val dir = s"${o.work}/snapshots-${tr.run}-${System.nanoTime()}"
            val store = new TimedStore(dir)
            op("pagerank") {
              tr.span("kernels.pagerank") {
                val pr = PageRank.resumable(b.edges, b.vertices, store, rounds.iters); noop(pr); pr
              }
            }.foreach { pr =>
              ans("pagerank") = vec(pr)
              ans("snapshots") = store.snapshots()
              ans("store") = (store.commitSeconds, store.commits, store.bytesWritten)
            }
            deleteTree(new File(dir))
          },
          () => op("cc") {
            tr.span("kernels.cc") {
              val cc = ConnectedComponents.run(WebGraph.symmetrize(b.edges), b.vertices); noop(cc); cc
            }
          }.foreach(cc => ans("cc") = labels(cc)),
          () => op("tricnt") {
            tr.span("kernels.tricnt") { Triangles.count(WebGraph.symmetrize(b.edges)).first().getLong(0) }
          }.foreach(t => ans("tricnt") = t),
          () => op("spgemm") {
            tr.span("operators.spgemm") {
              MatrixOps.spgemm(b.edges, b.edges, PlusTimes).agg(count(lit(1)), coalesce(sum(col("w")), lit(0.0))).first()
            }
          }.foreach(r => ans("spgemm") = (r.getLong(0), r.getDouble(1))))
        b.edges.unpersist(true); b.dict.unpersist(true)
      }
    }

  private def checkCrawl(g: IntGraph, reps: Seq[Rep]): Unit = {
    val pr = mutable.HashMap[Int, Array[Double]]()
    lazy val cc = Reference.components(g)
    lazy val tri = Reference.triangles(g.symmetric)
    lazy val twoHop = Reference.twoHop(g)
    reps.foreach { r =>
      val iters = r.rounds.iters
      r.answers.get("graph").foreach { x =>
        val got = x.asInstanceOf[IntGraph]
        verify("ingest", got.vertices.sameElements(g.vertices) && got.src.sameElements(g.src) && got.dst.sameElements(g.dst))
      }
      r.answers.get("pagerank").foreach { x =>
        val snaps = r.answers("snapshots").asInstanceOf[Seq[Snapshot]]
        val lineage = snaps.map(_.snapshotId) == (0 to iters).map(_.toLong) &&
          snaps.forall(s => s.parentId == s.snapshotId - 1 && s.iteration == s.snapshotId &&
            s.rows == g.vertices.length && s.nnz == g.nnz &&
            s.flops == (if (s.iteration == 0) 0L else 2L * g.nnz))
        val ref = pr.getOrElseUpdate(iters, Reference.pagerank(g, iters))
        verify("pagerank", vecOk(perturbed(x.asInstanceOf[Array[(Long, Double)]]), ref, g, 1e-6) && lineage)
      }
      r.answers.get("cc").foreach(x => verify("cc", labelsOk(x.asInstanceOf[Array[(Long, Long)]], cc, g)))
      r.answers.get("tricnt").foreach(x => verify("tricnt", x.asInstanceOf[Long] == tri))
      r.answers.get("spgemm").foreach { x =>
        val (n, w) = x.asInstanceOf[(Long, Double)]
        verify("spgemm", n == twoHop._1 && w == twoHop._2.toDouble)
      }
    }
  }

  /** The scaling pair's chain: relational PageRank, array PageRank,
    * relational (FastSV) CC and label propagation over a symmetric R-MAT. */
  private def pairChain(in: Input, tr: Tracer, rounds: Rounds): Rep =
    rep(tr, rounds, PairKernels.map(k => s"kernels.$k")) { ans =>
      val (e, v) = (in.edges, in.vertices)
      calls(rounds.concurrent)(
        () => op("pagerank") {
          tr.span("kernels.pagerank") { val pr = PageRank.run(e, v, rounds.iters); noop(pr); pr }
        }.foreach(pr => ans("pagerank") = vec(pr)),
        () => op("pagerank_array") {
          tr.span("kernels.pagerank_array") { val pr = PageRankArray.run(e, v, rounds.iters); noop(pr); pr }
        }.foreach(pr => ans("pagerank_array") = vec(pr)),
        () => op("cc") {
          tr.span("kernels.cc") { val cc = ConnectedComponents.run(e, v, arrayMax = 0L); noop(cc); cc }
        }.foreach(cc => ans("cc") = labels(cc)),
        () => op("labelprop") {
          tr.span("kernels.labelprop") { val lp = LabelPropagation.run(e, v, rounds.lp); noop(lp); lp }
        }.foreach(lp => ans("labelprop") = labels(lp)))
    }

  /** Checks every repetition's answers on `in`; returns the collected graph. */
  private def checkPair(in: Input, reps: Seq[Rep]): IntGraph = {
    val g = graphOf(in.edges, in.vertices)
    val pr = mutable.HashMap[Int, Array[Double]]()
    val lp = mutable.HashMap[Int, Array[Int]]()
    lazy val cc = Reference.components(g)
    reps.foreach { r =>
      lazy val prRef = pr.getOrElseUpdate(r.rounds.iters, Reference.pagerank(g, r.rounds.iters))
      r.answers.get("pagerank").foreach(x => verify("pagerank", vecOk(perturbed(x.asInstanceOf[Array[(Long, Double)]]), prRef, g, 1e-6)))
      r.answers.get("pagerank_array").foreach(x => verify("pagerank_array", vecOk(x.asInstanceOf[Array[(Long, Double)]], prRef, g, 1e-6)))
      r.answers.get("cc").foreach(x => verify("cc", labelsOk(x.asInstanceOf[Array[(Long, Long)]], cc, g)))
      r.answers.get("labelprop").foreach { x =>
        val ref = lp.getOrElseUpdate(r.rounds.lp, Reference.labelprop(g, r.rounds.lp))
        verify("labelprop", labelsOk(x.asInstanceOf[Array[(Long, Long)]], ref, g))
      }
    }
    g
  }

  /** scale_pair: the same chain at local[4], then at local[1], partitions
    * held fixed. The first leg's warm-up also warms the JVM for the second;
    * a traced run measures tracing overhead on the local[4] leg only. */
  private def scalePair(): Unit = {
    val legs = Seq(Cores, 1).map { cores =>
      val (spark, sessionSec) = session(cores)
      val tr = new Tracer(spark.sparkContext, o.trace, s"scale_pair.local$cores")
      val warm = if (cores == Cores) Some(() => rmatInput(spark, pairWarmScale)) else None
      // The second leg builds its input once: its first leg already gave
      // the median of several builds, and a run must stay near a minute.
      val (in, setupSec) = setUp(() => rmatInput(spark, pairScale), warm, pairChain, tr, checkPair,
        builds = if (cores == Cores) 3 else 1)
      val reps = timed(in, tr, o.seconds / 2, pairChain, PairRounds, if (o.trace && cores == Cores) 2 else 1)
      val g = checkPair(in, reps)
      spark.stop()
      (sessionSec + setupSec, reps, g, tr)
    }
    val Seq((setup4, reps4, g4, tr4), (setup1, reps1, g1, tr1)) = legs
    // The two legs must give the same answers.
    val (last1, last4) = (reps1.last.answers, reps4.last.answers)
    for (k <- PairKernels) {
      attempted += 1
      val same = (last1.get(k), last4.get(k)) match {
        case (Some(a: Array[(Long, Double)] @unchecked), Some(b: Array[(Long, Double)] @unchecked)) if k.startsWith("pagerank") =>
          val bm = b.toMap
          a.length == b.length && a.forall { case (v, x) => bm.get(v).exists(y => math.abs(x - y) <= 1e-9) }
        case (Some(a: Array[(Long, Long)] @unchecked), Some(b: Array[(Long, Long)] @unchecked)) =>
          a.sorted.sameElements(b.sorted)
        case _ => false
      }
      verify(s"$k local[1] vs local[$Cores]", same && g1.nnz == g4.nnz)
    }
    common(setup4 + setup1, reps4, g4, PairRounds, Seq(tr4, tr1))
    // Untraced repetitions when a leg has them, else the traced ones.
    def measured(reps: Seq[Rep]) = if (reps.exists(!_.traced)) reps.filterNot(_.traced) else reps
    val (p1, p4) = (measured(reps1), measured(reps4))
    put("wall_s", Stats.median(p1.map(_.wall)) + Stats.median(p4.map(_.wall)), "s")
    def eff(r1: Seq[Rep], r4: Seq[Rep], f: Rep => Double) =
      Stats.median(r1.map(f)) / (Cores * Stats.median(r4.map(f)))
    put("scaling_eff", eff(p1, p4, _.wall), "ratio")
    put("pagerank_array_s", median(p4, "kernels.pagerank_array"), "s")
    put("labelprop_s", median(p4, "kernels.labelprop"), "s")
    if (o.trace) {
      val (t1, t4) = (reps1.filter(_.traced), reps4.filter(_.traced))
      for (k <- PairKernels)
        put(s"kernels.$k.eff", eff(t1, t4, _.seconds(s"kernels.$k")), "ratio")
    }
  }

  // ----------------------------------------------------------------- metrics

  private def median(reps: Seq[Rep], span: String): Double = Stats.median(reps.map(_.seconds(span)))

  /** Metrics every workload reports, from the local[4] repetitions `reps`.
    * Per-layer span metrics come from the first tracer; every tracer's
    * spans go to the trace file. */
  private def common(setupSec: Double, reps: Seq[Rep], g: IntGraph, rounds: Rounds, trs: Seq[Tracer]): Unit = {
    val plain = reps.filterNot(_.traced)
    put("setup_s", setupSec, "s")
    put("wall_s", Stats.median(plain.map(_.wall)), "s")
    val prSec = median(plain, "kernels.pagerank")
    put("pagerank_s", prSec, "s")
    put("pagerank_eps", rounds.iters.toDouble * g.nnz / prSec, "edges/s")
    put("cc_s", median(plain, "kernels.cc"), "s")
    put("host.steal_frac", Stats.median(reps.map(_.stealFrac)), "ratio")
    put("graph.nnz", g.nnz, "count")
    put("graph.vertices", g.vertices.length, "count")
    val last = reps.last.answers
    last.get("cc").foreach(x => put("cc.components", x.asInstanceOf[Array[(Long, Long)]].map(_._2).distinct.length, "count"))
    last.get("labelprop").foreach(x => put("lp.labels", x.asInstanceOf[Array[(Long, Long)]].map(_._2).distinct.length, "count"))
    last.get("tricnt").foreach(x => put("tricnt.triangles", x.asInstanceOf[Long].toDouble, "count"))
    if (o.trace) {
      trs.foreach { tr =>
        tr.rows().foreach { case (s, f) =>
          traceRows += Json.obj(Seq("type" -> "span", "run" -> s.run, "rep" -> s.rep, "id" -> s.id,
            "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ f.toSeq)
        }
      }
      trs.head.summary().foreach { case (k, v) => put(k, v, unitOf(k)) }
      val traced = reps.filter(_.traced)
      // The traced crawl chain repeats extract and dictionary on purpose;
      // that work is not tracing overhead.
      val repeated = Seq("pages.extract", "graph.dictionary")
      val tracedWall = Stats.median(traced.map(r => r.wall - repeated.flatMap(r.seconds.get).sum))
      put("trace.overhead_frac", tracedWall / Stats.median(plain.map(_.wall)) - 1, "ratio")
      val prBytes = 12.0 * g.nnz + 48.0 * g.vertices.length
      val praBytes = 20.0 * g.nnz + 16.0 * g.idSpace
      put("kernels.pagerank.bytes_per_iter", prBytes, "B")
      put("kernels.pagerank_array.bytes_per_iter", praBytes, "B")
    }
  }

  private def unitOf(k: String): String = k.substring(k.lastIndexOf('.') + 1) match {
    case "s" | "driver_s" | "gc_s" => "s"
    case "jobs" | "tasks" => "count"
    case "task_skew" => "ratio"
    case _ => "MB"
  }

  /** Computed bytes per second of each PageRank kernel as a share of the
    * measured triad bandwidth. */
  private def bandwidth(gbps: Double): Unit = {
    put("host.membw_gbps", gbps, "GB/s")
    val iters = if (o.workload == "crawl") CrawlRounds.iters else PairRounds.iters
    for (k <- Seq("pagerank", "pagerank_array")) {
      val bytes = metrics.get(s"kernels.$k.bytes_per_iter").map(_._1).getOrElse(0.0)
      val sec = metrics.get(s"kernels.$k.s").map(_._1).getOrElse(0.0)
      put(s"kernels.$k.bw_frac", if (sec > 0) bytes * iters / sec / (gbps * 1e9) else 0.0, "ratio")
    }
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def writeTrace(): Unit = {
    val dir = Paths.get(o.work).getParent.resolve("traces")
    Files.createDirectories(dir)
    val path = dir.resolve(s"${o.workload}-seed${o.seed}.jsonl")
    val summary = Json.obj(Seq("type" -> "summary", "workload" -> o.workload, "seed" -> o.seed) ++
      metrics.toSeq.map { case (k, (v, _)) => k -> v })
    Files.writeString(path, (traceRows :+ summary).mkString("", "\n", "\n"))
    System.err.println(s"graftbench: trace written to $path")
  }

  private def render(): String = {
    put("error_rate", failed.toDouble / math.max(1, attempted), "ratio")
    Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) }))))
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }
}

object Json {
  final case class Raw(s: String)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case x => str(x.toString)
  }
  def obj(kvs: Seq[(String, Any)]): String = kvs.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
