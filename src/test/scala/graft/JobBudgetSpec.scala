package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.{TestBus, TestCodegen}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.checkpoint.SnapshotStore
import graft.graph.WebGraph
import graft.kernels.{ConnectedComponents, LabelPropagation, PageRank, Triangles}
import graft.pages.PageGen

/** Upper bounds on the Spark jobs and the generated-class compiles one
  * kernel or ingest call runs on a fixed input. A kernel's fixed cost per
  * call is mostly its setup actions and the classes its plans compile, and
  * at small and medium sizes that cost is most of its time, so a new count,
  * checkpoint or distinct plan shows here first. Each call runs under its
  * own job group and only that group's jobs are counted. Compiles are
  * counted from an emptied codegen cache: the cache is JVM-wide, so
  * without that the count would depend on which specs ran before. Every
  * distinct whole-stage plan compiles twice, once on the driver and once
  * under the executor's class loader. */
class JobBudgetSpec extends AnyFunSuite {
  import TestSpark._

  private val pairs = RefKernels.randomGraph(300, 500, seed = 23L)
  private lazy val e = undirected(pairs)
  /** The edge endpoints plus five isolated vertices. */
  private lazy val v = {
    val s = spark
    import s.implicits._
    verticesOf(pairs).union((1000L to 1004L).toDF("v"))
  }

  /** Jobs started in `group` (a job group is a thread-local property, so
    * concurrent specs never count here). */
  private final class GroupJobs(group: String) extends SparkListener {
    val jobs = new AtomicInteger()
    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
        jobs.incrementAndGet()
  }

  /** Jobs and generated-class compiles of `call` and the collect of its
    * result. */
  private def costOf(name: String)(call: => DataFrame): (Int, Long) = {
    val sc = spark.sparkContext
    val group = s"job-budget-$name"
    val listener = new GroupJobs(group)
    sc.addSparkListener(listener)
    TestCodegen.clearCache()
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.setJobGroup(group, name, interruptOnCancel = false)
    try call.collect()
    finally sc.clearJobGroup()
    TestBus.drain(sc)
    sc.removeSparkListener(listener)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    info(s"$name: ${listener.jobs.get} jobs, $compiles generated-class compiles")
    (listener.jobs.get, compiles)
  }

  private def store(): SnapshotStore =
    new SnapshotStore(Files.createTempDirectory("graft-budget").toString)

  test("PageRank.run (2 iterations) stays within its job budget") {
    val (n, c) = costOf("pagerank")(PageRank.run(e, v, iters = 2))
    assert(n <= 16, s"PageRank.run ran $n jobs")
    assert(c <= 42, s"PageRank.run compiled $c classes")
  }

  test("PageRank.resumable (2 iterations) stays within its job budget") {
    val (n, c) = costOf("pagerank-resumable")(PageRank.resumable(e, v, store(), iters = 2))
    assert(n <= 19, s"PageRank.resumable ran $n jobs")
    assert(c <= 41, s"PageRank.resumable compiled $c classes")
  }

  test("relational ConnectedComponents.run stays within its job budget") {
    val (n, c) = costOf("cc")(ConnectedComponents.run(e, v, arrayMax = 0L))
    assert(n <= 37, s"ConnectedComponents.run ran $n jobs")
    assert(c <= 34, s"ConnectedComponents.run compiled $c classes")
  }

  test("LabelPropagation.run (1 round) stays within its job budget") {
    val (n, c) = costOf("labelprop")(LabelPropagation.run(e, v, rounds = 1))
    assert(n <= 7, s"LabelPropagation.run ran $n jobs")
    assert(c <= 22, s"LabelPropagation.run compiled $c classes")
  }

  test("WebGraph.build (edges counted) stays within its job budget") {
    val pages = PageGen.pages(spark, 200).persist()
    pages.count()
    var built: WebGraph.Built = null
    val (n, c) = costOf("ingest") { built = WebGraph.build(pages); built.edges }
    built.dict.unpersist(false)
    pages.unpersist(false)
    assert(n <= 10, s"WebGraph.build ran $n jobs")
    assert(c <= 36, s"WebGraph.build compiled $c classes")
  }

  test("Triangles.count stays within its job budget") {
    val (n, c) = costOf("tricnt")(Triangles.count(e))
    assert(n <= 3, s"Triangles.count ran $n jobs")
    assert(c <= 3, s"Triangles.count compiled $c classes")
  }

  test("array-path ConnectedComponents.run stays within its job budget") {
    val (n, c) = costOf("cc-array")(ConnectedComponents.run(e, v))
    assert(n <= 10, s"ConnectedComponents.run ran $n jobs")
    assert(c <= 17, s"ConnectedComponents.run compiled $c classes")
  }
}
