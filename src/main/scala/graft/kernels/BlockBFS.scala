package graft.kernels

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.linalg.CsrBlock

/** Adjacency-only CSR block (no values — BFS needs structure, not
  * weights): rows are DESTINATION vertices, columns sources, exactly the
  * [[graft.linalg.MatrixBlock]] layout minus the 8-bytes-per-edge value
  * array. */
case class AdjBlock(rowBlock: Int, colBlock: Int,
                    rowPtr: Array[Int], colIdx: Array[Int]) extends CsrBlock

/** Block-level bitmap BFS — the reference's Graph500 kernel shape
  * (BFSFriends.h:458-565 bottom-up over BitMapFringe.h bitmaps;
  * BitMapCarousel.h for the rotating frontier slices).
  *
  * The round-2 measurement showed the relational BFS is floored by the
  * per-level Spark job count (3-4 jobs of row-level join machinery per
  * level ≈ 1 MTEPS at local[8] regardless of |E|). This kernel runs ONE
  * single-stage job per level: the frontier and visited sets live as bit
  * arrays (|V| bits — the FullyDistVec/BitMapFringe analog, where CombBLAS
  * allgathers exactly this bitmap down the processor column,
  * BFSFriends.h:267-330), shipped as ONE combined broadcast; each task
  * scans its CSR blocks and returns only the NONZERO candidate words
  * (sparse (wordIdx, bits) pairs, dense only near the peak level), merged
  * on the driver. The round-3 shape (two broadcasts + a dense two-stage
  * treeAggregate per level) paid ~0.3 s/level in fixed costs at scale-23
  * ef8 (~25 levels deep), flattening the N→4N pair to 0.28; this rework
  * exists to shrink exactly that constant.
  *
  * Direction-optimization (Beamer; reference DirOptBFS.cpp): the input is
  * symmetric (A = Aᵀ — both directions of every edge are present, the
  * [[BFS.levels]] contract), so a task can also walk top-down — scan the
  * adjacency of frontier ROWS and mark unvisited column neighbors — which
  * costs O(Σ deg(frontier)) instead of the bottom-up
  * O(unvisited rows + edges until hit). The driver picks per level:
  * top-down when |F|·avgDeg < 4·|U| (cheap at the shallow and tail levels
  * where the frontier is thin), bottom-up around the peak. Both scans
  * compute the identical candidate set N(frontier)∖visited, so the switch
  * is invisible in the output (KernelSpec pins equivalence).
  *
  * Regime: |V| bits (plus a byte-per-vertex level array) must fit on the
  * driver — 2^27 vertices = 16 MB of bitmap, far under any real driver.
  * At 10^12 vertices (the 100 TB tier) this does NOT fit, exactly as one
  * MPI rank's share wouldn't; [[BFS.levels]] dispatches here only below
  * [[BFS.BitmapMax]] and keeps the fully-distributed relational path
  * beyond it. On a cluster the broadcast is a torrent to executors — the
  * same O(V/8)-byte allgather volume as the reference's bitmap exchange.
  */
object BlockBFS {

  /** Lean CSR block build (the triples→DCSC build of reference
    * SpParMat.cpp:2893-2973, sans values) — packed-long shuffle + sort-free
    * counting-sort assembly, see [[BlockBuild.csrBlocks]]. */
  def buildBlocks(edges: DataFrame, blockSize: Int): RDD[AdjBlock] =
    BlockBuild.csrBlocks(edges, blockSize, Seq(col("rb"), col("cb")))

  /** @param edges symmetric (src, dst) with dense non-negative vids
    * @return (vid, dist) — identical semantics to [[BFS.levels]] */
  def levels(edges: DataFrame, root: Long, maxDepth: Int = 10,
             blockSize: Int = 65536, dirThreshold: Double = 4.0): DataFrame = {
    val spark = edges.sparkSession
    val maxId = math.max(root, IdRange.of(edges, "src", "dst").max)
    BlockStep.persisted(buildBlocks(edges, blockSize)) { blocks =>
      levelsOn(spark, blocks, maxId + 1, root, maxDepth, blockSize,
        dirThreshold)
    }
  }

  /** Sparse-or-dense encoding of one partition's candidate words:
    * header 1L = sparse pairs (wordIdx, bits)…; 0L = dense nWords longs.
    * Sparse wins below nWords/3 nonzero words (16 B/word vs 8 B/word). */
  private def encode(acc: Array[Long], nWords: Int): Array[Long] = {
    var nz = 0
    var i = 0
    while (i < nWords) { if (acc(i) != 0L) nz += 1; i += 1 }
    if (3 * nz < nWords) {
      val out = new Array[Long](1 + 2 * nz)
      out(0) = 1L
      var o = 1; i = 0
      while (i < nWords) {
        if (acc(i) != 0L) { out(o) = i.toLong; out(o + 1) = acc(i); o += 2 }
        i += 1
      }
      out
    } else {
      val out = new Array[Long](1 + nWords)
      out(0) = 0L
      System.arraycopy(acc, 0, out, 1, nWords)
      out
    }
  }

  /** Traversal only, over pre-built persisted blocks — the Graph500
    * "kernel 2" timing boundary (construction is kernel 1).
    *
    * @param dirThreshold top-down when |F|·avgDeg < dirThreshold·|U|;
    *   0 forces bottom-up, Double.MaxValue forces top-down (spec hooks —
    *   both directions compute the identical candidate set). */
  def levelsOn(spark: org.apache.spark.sql.SparkSession, blocks: RDD[AdjBlock],
               n: Long, root: Long, maxDepth: Int,
               blockSize: Int, dirThreshold: Double = 4.0): DataFrame = {
    require(maxDepth <= 127, "bitmap path stores levels as bytes")
    require(n <= Int.MaxValue.toLong, "bitmap path requires V < 2^31")
    require(blockSize % 64 == 0, "block rows must be bitmap-word aligned")
    val sc = spark.sparkContext
    import spark.implicits._
    val words = ((n + 63) >>> 6).toInt

    // one cheap metadata job: avg degree for the direction heuristic
    val nnz = blocks.map(_.colIdx.length.toLong).sum()
    val avgDeg = math.max(1.0, nnz / math.max(1.0, n.toDouble))

    val visited = new Array[Long](words)
    val frontier = new Array[Long](words)
    @inline def set(a: Array[Long], i: Long): Unit =
      a((i >>> 6).toInt) |= 1L << (i & 63)
    set(visited, root); set(frontier, root)
    val dist = new Array[Byte](n.toInt)
    java.util.Arrays.fill(dist, -1: Byte)
    dist(root.toInt) = 0

    val bs = blockSize
    val nn = n
    val nWords = words
    var frontierBits = 1L
    var visitedBits = 1L
    var depth = 0
    var more = true
    while (more && depth < maxDepth) {
      depth += 1
      // one broadcast per level: frontier words, then visited words
      val fv = new Array[Long](2 * nWords)
      System.arraycopy(frontier, 0, fv, 0, nWords)
      System.arraycopy(visited, 0, fv, nWords, nWords)
      val bcFV = sc.broadcast(fv)
      val unvisitedBits = nn - visitedBits
      val topDown = frontierBits * avgDeg < dirThreshold * unvisitedBits
      val parts = blocks.mapPartitions { it =>
        val a = bcFV.value
        val acc = new Array[Long](nWords)
        while (it.hasNext) {
          val blk = it.next()
          val cbase = blk.colBlock.toLong * bs
          val rbase = blk.rowBlock.toLong * bs // word-aligned (bs % 64 == 0)
          val rMax = math.min(bs.toLong, nn - rbase).toInt
          val wBase = (rbase >>> 6).toInt
          val wCount = (rMax + 63) >>> 6
          if (topDown) {
            // walk the frontier rows of this block; mark their unvisited
            // column neighbors — O(Σ deg(frontier ∩ rows)) work
            var wi = 0
            while (wi < wCount) {
              var fw = a(wBase + wi)
              if (wi == wCount - 1 && (rMax & 63) != 0)
                fw &= (1L << (rMax & 63)) - 1
              while (fw != 0L) {
                val b = java.lang.Long.numberOfTrailingZeros(fw)
                fw &= fw - 1
                val r = (wi << 6) + b
                var p = blk.rowPtr(r)
                val end = blk.rowPtr(r + 1)
                while (p < end) {
                  val s = cbase + blk.colIdx(p)
                  val sw = (s >>> 6).toInt
                  val sb = 1L << (s & 63)
                  if ((a(nWords + sw) & sb) == 0L) acc(sw) |= sb
                  p += 1
                }
              }
              wi += 1
            }
          } else {
            // bottom-up: quick reject blocks whose column range holds no
            // frontier bit, then walk UNVISITED rows word-by-word with
            // per-row early exit on the first frontier neighbor
            var w = (cbase >>> 6).toInt
            val wEnd = math.min(nWords, ((cbase + bs + 63) >>> 6).toInt)
            var any = false
            while (!any && w < wEnd) { if (a(w) != 0L) any = true; w += 1 }
            if (any) {
              var wi = 0
              while (wi < wCount) {
                var clear = ~a(nWords + wBase + wi)
                if (wi == wCount - 1 && (rMax & 63) != 0)
                  clear &= (1L << (rMax & 63)) - 1 // mask rows past rMax
                while (clear != 0L) {
                  val b = java.lang.Long.numberOfTrailingZeros(clear)
                  clear &= clear - 1
                  val r = (wi << 6) + b
                  var p = blk.rowPtr(r)
                  val end = blk.rowPtr(r + 1)
                  var hit = false
                  while (!hit && p < end) {
                    val s = cbase + blk.colIdx(p)
                    if ((a((s >>> 6).toInt) & (1L << (s & 63))) != 0L) hit = true
                    p += 1
                  }
                  if (hit) acc(wBase + wi) |= 1L << b
                }
                wi += 1
              }
            }
          }
        }
        Iterator.single(encode(acc, nWords))
      }.collect()
      bcFV.destroy()

      val cand = new Array[Long](nWords)
      parts.foreach { enc =>
        if (enc(0) == 1L) {
          var o = 1
          while (o < enc.length) { cand(enc(o).toInt) |= enc(o + 1); o += 2 }
        } else {
          var i = 0
          while (i < nWords) { cand(i) |= enc(1 + i); i += 1 }
        }
      }

      more = false
      frontierBits = 0L
      var i = 0
      while (i < nWords) {
        val nf = cand(i) & ~visited(i)
        frontier(i) = nf
        if (nf != 0L) {
          more = true
          visited(i) |= nf
          val c = java.lang.Long.bitCount(nf)
          frontierBits += c
          visitedBits += c
          var bits = nf
          while (bits != 0L) {
            val b = java.lang.Long.numberOfTrailingZeros(bits)
            dist(i * 64 + b) = depth.toByte
            bits &= bits - 1
          }
        }
        i += 1
      }
    }

    BlockStep.toFrame(spark.range(n).as[Long], dist, "vid", "dist")((d, ids) =>
      ids.flatMap { v =>
        val dv = d(v.toInt)
        if (dv >= 0) Iterator((v, dv.toLong)) else Iterator.empty
      })
  }
}
