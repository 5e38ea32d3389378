package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.TestBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.checkpoint.SnapshotStore
import graft.kernels.{ConnectedComponents, LabelPropagation, PageRank}

/** Upper bounds on the Spark jobs one relational kernel call runs on a
  * fixed graph. A kernel's fixed cost per call is mostly its setup
  * actions, and at small and medium sizes that cost is most of its time,
  * so a new count or checkpoint in setup shows here first. Each call runs
  * under its own job group and only that group's jobs are counted.
  * Generated-class compiles are logged, not asserted: the codegen cache is
  * JVM-wide, so they depend on which specs ran before. */
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

  /** Jobs run by `call` and the collect of its result. */
  private def jobsOf(name: String)(call: => DataFrame): Int = {
    val sc = spark.sparkContext
    val group = s"job-budget-$name"
    val listener = new GroupJobs(group)
    sc.addSparkListener(listener)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.setJobGroup(group, name, interruptOnCancel = false)
    try call.collect()
    finally sc.clearJobGroup()
    TestBus.drain(sc)
    sc.removeSparkListener(listener)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    info(s"$name: ${listener.jobs.get} jobs, $compiles generated-class compiles")
    listener.jobs.get
  }

  private def store(): SnapshotStore =
    new SnapshotStore(Files.createTempDirectory("graft-budget").toString)

  test("PageRank.run (2 iterations) stays within its job budget") {
    val n = jobsOf("pagerank")(PageRank.run(e, v, iters = 2))
    assert(n <= 20, s"PageRank.run ran $n jobs")
  }

  test("PageRank.resumable (2 iterations) stays within its job budget") {
    val n = jobsOf("pagerank-resumable")(PageRank.resumable(e, v, store(), iters = 2))
    assert(n <= 26, s"PageRank.resumable ran $n jobs")
  }

  test("relational ConnectedComponents.run stays within its job budget") {
    val n = jobsOf("cc")(ConnectedComponents.run(e, v, arrayMax = 0L))
    assert(n <= 49, s"ConnectedComponents.run ran $n jobs")
  }

  test("LabelPropagation.run (1 round) stays within its job budget") {
    val n = jobsOf("labelprop")(LabelPropagation.run(e, v, rounds = 1))
    assert(n <= 11, s"LabelPropagation.run ran $n jobs")
  }
}
