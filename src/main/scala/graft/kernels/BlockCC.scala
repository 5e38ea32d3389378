package graft.kernels

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Block-level connected components with an in-memory label vector — the
  * same regime split as [[BlockBFS]]: while the |V|-sized label array fits
  * on the driver (an Int per vertex — 16 MB at 2^22, the FullyDistVec
  * analog of the reference's dense `father` vector, FastSV.h:335-374),
  * each min-label SpMV round is ONE Spark job over the persisted CSR
  * blocks, and hooking + FULL pointer compression run at memory speed on
  * the driver array between rounds.
  *
  * Full per-round compression is what the relational FastSV cannot afford
  * (each extra pointer jump is another keyed join + materialization —
  * measured SLOWER at scale-22 in round 2); on the array it is O(V·α) and
  * free, so the round count drops from ~14 to ~4 on RMAT graphs. The
  * rounds that remain are compute-bound block scans that parallelize with
  * cores — what the N→4N efficiency criterion wants to see.
  *
  * Exchange volume per round: blocks are partitioned BY ROW BLOCK, so
  * each task emits min-label segments only for its own row range —
  * pairwise disjoint, collected without a merge step. That is |V| Ints
  * per round on the wire (16 MB at 2^22), the same O(V) a CombBLAS
  * process-column reduce moves, NOT partitions × |V| (the first cut of
  * this kernel shipped 32 full-width accumulators per round and measured
  * 0.74 pair efficiency at scale-22; the segmented layout removes that
  * serial term).
  *
  * Beyond [[ConnectedComponents.ArrayMax]] vertices (10^12-vertex tier:
  * a label array would be TBs) [[ConnectedComponents.run]] keeps the
  * fully-distributed relational FastSV path.
  *
  * Fixpoint = exact min vertex id per component (LACC `LabelCC`
  * semantics) — identical output to the relational kernel, so the
  * `cc_fastsv` oracle is unchanged.
  */
object BlockCC {

  /** Round count of the most recent [[runOn]] — bench introspection only. */
  @volatile var lastRounds: Int = 0

  /** CSR blocks hash-partitioned by (rowBlock, colBlock mod `colSplits`).
    * Pure rowBlock partitioning stalls on RMAT/web hubs (the dense low-id
    * row blocks put ~30% of all edges in one task — measured 45% slower
    * at scale-22); the colBlock-modulo salt splits a hub row range across
    * `colSplits` tasks while keeping per-rb segment fan-in bounded at
    * `colSplits` (each partial segment hooks independently — a partial
    * neighbor-min is still a same-component label, so no merge step is
    * needed). */
  def buildRowBlocks(edges: DataFrame, blockSize: Int,
                     colSplits: Int = 8): RDD[AdjBlock] =
    BlockBuild.csrBlocks(edges, blockSize,
      Seq(col("rb"), pmod(col("cb"), lit(colSplits))))

  /** @param edges symmetric (src, dst), dense non-negative vids ≤ maxId
    * @param vertices (v) — output carries exactly these rows; one outside
    *        0..maxId has no edge and is its own component
    * @return (vid, component) — component = min vid of the component */
  def run(edges: DataFrame, vertices: DataFrame, maxId: Long,
          blockSize: Int = 65536, maxIters: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    require(maxId + 1 <= Int.MaxValue.toLong, "array path requires V < 2^31")
    val n = (maxId + 1).toInt

    BlockStep.persisted(buildRowBlocks(edges, blockSize)) { blocks =>
      runOn(spark, blocks, vertices, n, blockSize, maxIters)
    }
  }

  /** Label rounds over pre-built row-partitioned persisted blocks. */
  def runOn(spark: SparkSession, blocks: RDD[AdjBlock], vertices: DataFrame,
            n: Int, blockSize: Int, maxIters: Int): DataFrame = {
    val sc = spark.sparkContext
    import spark.implicits._
    val f = Array.tabulate(n)(i => i) // f(v) = current component label

    val bs = blockSize
    val noLabel = () => { val a = new Array[Int](bs); java.util.Arrays.fill(a, Int.MaxValue); a }
    var changed = true
    var it = 0
    while (changed && it < maxIters) {
      it += 1
      // mngp segments: min over neighbors u of f(u), per (row block ×
      // partition) — the Select2ndMin SpMV as ONE job; ≤ colSplits
      // partial segments per rb come back (each hooks independently), so
      // the wire volume is O(colSplits · V) Ints per round.
      val segs = BlockStep.rowSegments(blocks, sc.broadcast(f), bs, n,
          noLabel) { (lab, blk, seg, rMax) =>
        val cbase = blk.colBlock * bs
        var r = 0
        while (r < rMax) {
          var p = blk.rowPtr(r)
          val end = blk.rowPtr(r + 1)
          var m = seg(r)
          while (p < end) {
            val l = lab(cbase + blk.colIdx(p))
            if (l < m) m = l
            p += 1
          }
          seg(r) = m
          r += 1
        }
      }
      // hook + FULL pointer compression on the driver array (FastSV's
      // hook/shortcut collapsed to union-find-style passes — O(V·α)).
      changed = false
      for ((rb, _, seg) <- segs) {
        val rbase = rb * bs
        val rMax = math.min(bs, n - rbase)
        var r = 0
        while (r < rMax) {
          val m = seg(r)
          val v = rbase + r
          if (m < f(v)) {
            // hook: the tree root of v adopts the smaller label; links
            // always point to a strictly smaller id -> acyclic. Any
            // trigger means v's label shrinks this round (either the
            // root re-hooks, or an earlier hook already lowered it and
            // compression will propagate) -> not yet at fixpoint.
            var root = v
            while (f(root) != root) root = f(root)
            if (m < f(root)) f(root) = m
            changed = true
          }
          r += 1
        }
      }
      if (changed) {
        // full compression: point every vertex at its root
        var i = 0
        while (i < n) {
          var r = i
          while (f(r) != r) r = f(r)
          var c = i
          while (f(c) != r) { val nxt = f(c); f(c) = r; c = nxt }
          i += 1
        }
      }
    }

    lastRounds = it
    BlockStep.toFrame(vertices.select(col("v").cast("long")).as[Long], f,
      "vid", "component")((lab, ids) =>
        ids.map(v => (v, if (v >= 0 && v < lab.length) lab(v.toInt).toLong else v)))
  }
}
