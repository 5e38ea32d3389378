package graft.kernels

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.linalg.MatrixBlock

/** PageRank with an in-memory rank vector — the third member of the
  * array-kernel family ([[BlockBFS]], [[BlockCC]]), for the regime where
  * |V| doubles fit in driver/executor memory (32 MB at 2^22 — the
  * FullyDistVec dense-vector analog; CombBLAS allgathers exactly this
  * array down the processor column per SpMV, ParFriends.h:1938-2010).
  *
  * Per iteration: broadcast the rank array, ONE job scans the persisted
  * value-carrying CSR blocks (w = 1/outdeg folded in at build, so the
  * matrix is column-stochastic over non-dangling sources) and emits
  * per-rowBlock partial contribution segments, which the driver collects
  * and merges in-process: ONE stage per iteration (a two-stage executor
  * merge was a measured 0.2 s/iter of pure scheduling at scale-22). The
  * partials are at most colSplits × |V| doubles — 2 × 8 B × |V| at the
  * default, 32 MB at 2^21 ids. The driver then recovers the dangling mass
  * as Σx − Σy: y = Aᵀx with w = 1/outdeg(src), so each non-dangling
  * source passes on exactly its rank and Σy is Σx minus the rank held by
  * dangling sources. It then applies the teleport formula in a flat array
  * pass. The relational path's 2 keyed per-edge exchanges become one
  * collect of partial segments.
  *
  * Determinism: per-row columns are sorted at build
  * ([[BlockBuild.csrValBlocks]]), blocks emit in (rb, cb) order, and the
  * driver adds partial segments in (rb, partitionId) order — the FP sum
  * order is fixed for a fixed shuffle-partition count. Across DIFFERENT
  * partition counts (or vs the relational path's hash aggregation) sums
  * agree to ulps, not bits — so the gate's exact-hash pagerank query
  * stays on the relational kernel and this one is differential-tested
  * against it at 1e-9 (tighter than the north rule's 1e-6 allclose).
  *
  * Beyond ~2^27 vertices the rank array outgrows sensible broadcast
  * sizes and the relational kernel (vector-only movement, keyed joins)
  * is the path that scales on executors — same regime split as the other
  * array kernels.
  */
object PageRankArray {

  /** Cumulative per-phase seconds of the last [[runOn]] call — broadcast
    * (serialize + torrent write of the rank array), job (the SpMV stages
    * through collect of partial segments), driver (merge/teleport array
    * passes). Read by ScalingBench's pr_array mode so the scaling-pair
    * analysis attributes the Amdahl term to a measured phase instead of a
    * guess. Not thread-safe — bench-only. */
  @volatile var lastPhases: (Double, Double, Double) = (0.0, 0.0, 0.0)

  /** Value-carrying CSR blocks of the column-stochastic matrix (w =
    * 1/outdeg(src)), hash-partitioned by (rowBlock, colBlock mod
    * `colSplits`) — the build half of [[run]].
    * @param colSplits column sub-splits per rowBlock: build-time balance
    *        vs per-iteration partial-segment volume (≤ colSplits × |V|
    *        doubles — 2 measured best at scale-22: 64 MB/iter vs 8-split's
    *        256 MB for identical build time) */
  def buildBlocks(edges: DataFrame, blockSize: Int,
                  colSplits: Int = 2): RDD[MatrixBlock] = {
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edgesNorm = edges.join(outdeg, "src")
      .select(col("src"), col("dst"), (lit(1.0) / col("outdeg")).as("w"))
    BlockBuild.csrValBlocks(edgesNorm, blockSize,
      Seq(col("rb"), pmod(col("cb"), lit(colSplits)))).rdd
  }

  /** @param edges (src, dst); @param vertices (v) — dense ids ≤ maxId
    * @param colSplits see [[buildBlocks]]
    * @return (vid, pr) UNROUNDED, one row per vertex (differential specs
    *         compare against [[PageRank.runExact]] at 1e-9) */
  def run(edges: DataFrame, vertices: DataFrame, iters: Int = 10,
          d: Double = 0.85, blockSize: Int = 65536,
          colSplits: Int = 2): DataFrame = {
    // The vertex ids, collected once on the driver, give the vertex count
    // and their id range; the edges' largest id is read off the persisted
    // blocks, whose build already rejects negative ids.
    val (verts, vs) = vertexIds(vertices)
    require(vs.forall(_ >= 0), "array path requires non-negative ids")
    BlockStep.persisted(buildBlocks(edges, blockSize, colSplits)) { blocks =>
      val maxId = blocks.map(_.maxId(blockSize))
        .fold(if (vs.isEmpty) -1L else vs.max)(math.max)
      require(maxId >= 0 && maxId + 1 <= Int.MaxValue.toLong,
        "array path requires V < 2^31")
      iterate(blocks, verts, vs, (maxId + 1).toInt, vs.length.toLong, iters, d, blockSize)
    }
  }

  private def vertexIds(vertices: DataFrame): (Dataset[Long], Array[Long]) = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val verts = vertices.select(col("v").cast("long")).as[Long]
    (verts, verts.collect())
  }

  /** Iterations over pre-built persisted blocks (bench kernel-2 boundary).
    * @param nIds  size of the id space (maxId + 1)
    * @param nVerts |vertices| — the PageRank n in the teleport formula */
  def runOn(blocks: RDD[MatrixBlock], vertices: DataFrame,
            nIds: Int, nVerts: Long, iters: Int, d: Double,
            blockSize: Int): DataFrame = {
    val (verts, vs) = vertexIds(vertices)
    iterate(blocks, verts, vs, nIds, nVerts, iters, d, blockSize)
  }

  private def iterate(blocks: RDD[MatrixBlock], verts: Dataset[Long], vs: Array[Long],
                      nIds: Int, nVerts: Long, iters: Int, d: Double,
                      blockSize: Int): DataFrame = {
    val spark = verts.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val bs = blockSize
    var pr = new Array[Double](nIds)
    // init 1/n on actual vertices only (id space may be sparse)
    val isVertex = new Array[Boolean](nIds)
    vs.foreach(v => isVertex(v.toInt) = true)
    val init = 1.0 / nVerts
    var v0 = 0
    while (v0 < nIds) { if (isVertex(v0)) pr(v0) = init; v0 += 1 }

    var tBcast = 0.0; var tJob = 0.0; var tDriver = 0.0
    for (_ <- 1 to iters) {
      val tb0 = System.nanoTime()
      val bcX = sc.broadcast(pr)
      tBcast += (System.nanoTime() - tb0) / 1e9
      val tj0 = System.nanoTime()
      val segs = BlockStep.rowSegments(blocks, bcX, bs, nIds,
          () => new Array[Double](bs)) { (x, blk, seg, rMax) =>
        val cbase = blk.colBlock * bs
        var r = 0
        while (r < rMax) {
          var p = blk.rowPtr(r)
          val end = blk.rowPtr(r + 1)
          var s = seg(r)
          while (p < end) {
            s += blk.values(p) * x(cbase + blk.colIdx(p))
            p += 1
          }
          seg(r) = s
          r += 1
        }
      }
      tJob += (System.nanoTime() - tj0) / 1e9
      val td0 = System.nanoTime()

      // Partial segments arrive partition by partition, so each row adds
      // its partials in partitionId order — a fixed FP order for a fixed
      // partition count.
      val y = new Array[Double](nIds)
      segs.foreach { case (rb, _, seg) =>
        val rbase = rb * bs
        val rMax = math.min(bs, nIds - rbase)
        var r = 0
        while (r < rMax) { y(rbase + r) += seg(r); r += 1 }
      }
      var sx = 0.0; var sy = 0.0
      var i = 0
      while (i < nIds) { sx += pr(i); sy += y(i); i += 1 }
      val sink = sx - sy // dangling mass (columns of A sum to 1 or 0)
      val next = new Array[Double](nIds)
      val tele = (1 - d) / nVerts
      i = 0
      while (i < nIds) {
        if (isVertex(i)) next(i) = tele + d * (y(i) + sink / nVerts)
        i += 1
      }
      pr = next
      tDriver += (System.nanoTime() - td0) / 1e9
    }
    lastPhases = (tBcast, tJob, tDriver)

    BlockStep.toFrame(verts, pr, "vid", "pr")((p, ids) =>
      ids.map(v => (v, p(v.toInt))))
  }
}
