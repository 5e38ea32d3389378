package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.checkpoint.SnapshotStore
import graft.kernels.PageRank

/** Kill-and-resume semantics (SURVEY.md §7 step 4; BASELINE.md
  * resumability row): a run interrupted mid-iteration resumes from the
  * latest snapshot and produces BIT-IDENTICAL results to an uninterrupted
  * run; manifests carry lineage + metrics; garbage manifests are ignored. */
class CheckpointSpec extends AnyFunSuite {
  import TestSpark._

  val pairs = RefKernels.randomGraph(60, 200, seed = 3L)
  lazy val e = undirected(pairs)
  lazy val v = verticesOf(pairs)

  private def tmpdir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  test("kill-and-resume reproduces the uninterrupted run (≤1e-12)") {
    val full = PageRank.runExact(e, v, 10, 0.85).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val root = tmpdir("resume")
    val store = new SnapshotStore(root)
    // crash after 4 iterations
    PageRank.resumable(e, v, store, iters = 10, stopAfter = Some(4))
    assert(store.latest().get.iteration == 4)
    // resume in a "new process" (fresh store handle) and finish
    val store2 = new SnapshotStore(root)
    val resumed = PageRank.resumable(e, v, store2, iters = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(resumed.keySet == full.keySet)
    for ((k, x) <- resumed)
      assert(math.abs(x - full(k)) < 1e-12, s"$k: $x vs ${full(k)}")
    assert(store2.latest().get.iteration == 10)
  }

  test("manifests carry lineage chain and nnz/flop metrics") {
    val root = tmpdir("lineage")
    val store = new SnapshotStore(root)
    PageRank.resumable(e, v, store, iters = 3)
    val snaps = store.snapshots()
    assert(snaps.length == 4) // init + 3 iterations
    assert(snaps.map(_.iteration) == Seq(0, 1, 2, 3))
    assert(snaps.sliding(2).forall { case Seq(a, b) => b.parentId == a.snapshotId })
    val nnz = e.count()
    assert(snaps.last.nnz == nnz)
    assert(snaps.last.flops == 2 * nnz)
    assert(snaps.last.rows == v.count())
    // per-partition lineage sidecar: one row per written part file (keyed
    // by the write task's partition), summing to the row count
    val ps = store.partitionStats(spark, snaps.last).collect()
      .map(r => r.getInt(0) -> r.getLong(1))
    val parts = Files.list(Paths.get(snaps.last.dataPath))
    val partIds = try parts.iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith("part-")).map(_.slice(5, 10).toInt).toSeq.sorted
      finally parts.close()
    assert(partIds.nonEmpty)
    assert(ps.map(_._1).toSeq.sorted == partIds)
    assert(ps.map(_._2).sum == snaps.last.rows)
    // an uninterrupted checkpointed run takes exactly runExact's steps
    def bits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
    assert(bits(PageRank.resumable(e, v, new SnapshotStore(tmpdir("fresh")), iters = 3)) ==
      bits(PageRank.runExact(e, v, 3, 0.85)))
  }

  test("CC kill-and-resume is bit-identical to the uninterrupted run") {
    import graft.kernels.ConnectedComponents
    // arrayMax=0 forces the relational FastSV path — the one resumable()
    // always takes (same labels either way, asserted by KernelSpec).
    val full = ConnectedComponents.run(e, v, arrayMax = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val root = tmpdir("cc-resume")
    ConnectedComponents.resumable(e, v, new SnapshotStore(root),
      stopAfter = Some(2))
    val store2 = new SnapshotStore(root)
    assert(store2.latest().get.iteration == 2)
    val resumed = ConnectedComponents.resumable(e, v, store2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == full, "resumed CC differs from uninterrupted run")
    // resuming an already-converged run is a no-op round, same labels
    val again = ConnectedComponents.resumable(e, v, new SnapshotStore(root))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == full, "resume-at-convergence changed labels")
    val snaps = store2.snapshots()
    assert(snaps.map(_.iteration) == (0 until snaps.length))
    assert(snaps.sliding(2).forall { case Seq(a, b) => b.parentId == a.snapshotId })
    assert(snaps.last.flops == 2 * e.count())
  }

  test("label propagation kill-and-resume is bit-identical") {
    import graft.kernels.LabelPropagation
    val full = LabelPropagation.run(e, v, rounds = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val root = tmpdir("lp-resume")
    LabelPropagation.resumable(e, v, new SnapshotStore(root), rounds = 5,
      stopAfter = Some(3))
    val store2 = new SnapshotStore(root)
    assert(store2.latest().get.iteration == 3)
    val resumed = LabelPropagation.resumable(e, v, store2, rounds = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed == full, "resumed LP differs from uninterrupted run")
    assert(store2.snapshots().map(_.iteration) == Seq(0, 1, 2, 3, 4, 5))
  }

  test("garbage and torn manifests are ignored on resume") {
    val root = tmpdir("garbage")
    val store = new SnapshotStore(root)
    PageRank.resumable(e, v, store, iters = 2)
    Files.writeString(Paths.get(root, "manifest-999999.json"), "{ torn garbage")
    Files.writeString(Paths.get(root, ".manifest-7.tmp"), "{}")
    val store2 = new SnapshotStore(root)
    assert(store2.latest().get.iteration == 2)
  }
}
