package graft.kernels

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Single-source shortest paths — iterated SpMSpV over the (min, +)
  * semiring (reference Semirings.h:235-255 MinPlusSRing; the TDSP
  * application family drives the same relaxation loop).
  *
  * Frontier-driven Bellman-Ford: after k rounds dist(v) = min over paths of
  * ≤ k edges of the path-weight sum, exactly as in full Bellman-Ford, but
  * only vertices whose distance IMPROVED last round relax their out-edges —
  * the sparse-fringe SpMSpV shape (reference ParFriends.h:1738-1895), so
  * late rounds touch a vanishing slice of the graph.
  *
  * Scale design mirrors [[BFS]]/[[PageRank]]:
  *  - the edge table is persisted once; per round only the fringe moves;
  *  - the fringe side broadcasts below `broadcastMax`, else shuffle-hash —
  *    never an unconditional collect of an O(V) fringe;
  *  - the relax aggregate (min of d+w per dst) is map-side combined;
  *  - `localCheckpoint` truncates lineage per round.
  *
  * Determinism: path sums accumulate left-to-right one edge per round, and
  * min over an identical value set is order-free — so results are exact and
  * engine-neutral (the DuckDB oracle unrolls the same recurrence).
  */
object SSSP {

  /** Distances from `root`; unreachable vertices omitted.
    * @param edges weighted (src, dst, w), w ≥ 0
    * @param maxIters relaxation-round cap (dist after round k = min over
    *                 ≤ k-edge paths, so a cap short of the fixpoint still
    *                 has exact bounded-hop semantics)
    * @param init  the root's starting label (0 for plain SSSP; the
    *              departure time for [[TDSP]])
    * @param relax label propagated over an edge as a function of
    *              (source label, edge weight). Must be ≥ the source label
    *              and non-decreasing in it (the FIFO property) for the
    *              label-correcting loop to converge — (d, w) => d + w is
    *              the MinPlus default, [[TDSP.arrive]] the time-dependent
    *              variant.
    * @return (vid: long, dist: double) */
  def run(edges: DataFrame, root: Long, maxIters: Int = 30,
          broadcastMax: Long = BFS.BroadcastMax, init: Double = 0.0,
          relax: (Column, Column) => Column = (d, w) => d + w): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val cp = new graft.util.Checkpoints(spark)
    val e = cp.cache(edges.select("src", "dst", "w"))
    e.count()
    var dist = cp(Seq((root, init)).toDF("v", "d"))
    var frontier = dist
    var frontierSize = 1L
    var it = 0
    while (frontierSize > 0 && it < maxIters) {
      it += 1
      val fsrc = frontier.select(col("v").as("src"), col("d"))
      val fx = if (frontierSize < broadcastMax) broadcast(fsrc)
               else fsrc.hint("shuffle_hash")
      val relaxed = e.join(fx, "src")
        .groupBy(col("dst").as("v"))
        .agg(min(relax(col("d"), col("w"))).as("nd"))
      val improved = cp(relaxed.join(dist.withColumnRenamed("d", "od"), Seq("v"), "left")
        .where(col("od").isNull || col("nd") < col("od"))
        .select(col("v"), col("nd").as("d")))
      frontierSize = improved.count()
      if (frontierSize > 0) {
        val prev = dist
        dist = cp(dist.join(improved.select("v"), Seq("v"), "left_anti")
          .unionByName(improved))
        cp.free(prev); cp.free(frontier)
        frontier = improved
      } else cp.free(improved)
    }
    cp.freeAllExcept(dist)
    dist.select(col("v").as("vid"), col("d").as("dist"))
  }
}
