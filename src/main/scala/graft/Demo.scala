package graft

import org.apache.spark.sql.functions._
import graft.checkpoint.SnapshotStore
import graft.graph.LinkGraph
import graft.kernels.{BlockBuild, PageRank, PageRankArray}
import graft.linalg.BlockMatrix

/** CLI driver: builds the block-CSR matrix, runs the array + resumable
  * PageRank paths end-to-end on a testdata dir and prints a comparison
  * summary. Usage:
  *   runMain graft.Demo <sfDir> <snapshotDir>
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val snapDir = if (args.length > 1) args(1) else
      java.nio.file.Files.createTempDirectory("graft-demo").toString
    val conf = Conf.fromEnv()
    val spark = conf.session(conf.parts.getOrElse(conf.cpus))

    val edges = LinkGraph.edges(spark, sfDir).persist()
    val verts = LinkGraph.vertices(spark, sfDir).persist()
    println(s"[demo] graph: ${verts.count()} vertices, ${edges.count()} directed edges")

    val blocks = BlockBuild.csrValBlocks(edges.withColumn("w", lit(1.0)), 256,
      Seq(col("rb"), col("cb")))
    val stats = BlockMatrix.blockStats(blocks)
      .agg(count(lit(1)).as("blocks"), sum("nnz").as("nnz")).first()
    println(s"[demo] block-CSR: ${stats.getLong(0)} blocks, nnz=${stats.getLong(1)}")

    val relational = PageRank.runExact(edges, verts, 10, 0.85)
    val exact = relational.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val plain = relational.select(col("v"), round(col("r"), 6))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val array = PageRankArray.run(edges, verts, blockSize = 256)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val maxDiff = exact.map { case (k, v) => math.abs(v - array(k)) }.max
    println(f"[demo] array-vs-relational pagerank max|Δ| = $maxDiff%.2e over ${exact.size} vertices")

    val store = new SnapshotStore(snapDir)
    PageRank.resumable(edges, verts, store, iters = 10, stopAfter = Some(4))
    println(s"[demo] simulated crash at iteration ${store.latest().get.iteration}; resuming")
    val resumed = new SnapshotStore(snapDir)
    val rr = PageRank.resumable(edges, verts, resumed, iters = 10)
      .select(col("v"), round(col("r"), 6).as("pr"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val maxDiff2 = plain.map { case (k, v) => math.abs(v - rr(k)) }.max
    val snaps = resumed.snapshots()
    println(f"[demo] resumed-vs-plain max|Δ| = $maxDiff2%.2e; " +
      s"${snaps.length} snapshots, lineage ${snaps.map(_.iteration).mkString("→")}, " +
      s"last nnz=${snaps.last.nnz} flops=${snaps.last.flops}")
    // Array and relational sums agree to ulps, not bits (PageRankArray).
    val ok = maxDiff < 1e-9 && maxDiff2 == 0.0
    println(s"[demo] ${if (ok) "PASS" else "DIVERGENCE"}")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
