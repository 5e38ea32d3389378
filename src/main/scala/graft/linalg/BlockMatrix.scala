package graft.linalg

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The CSR structure every block format shares — what
  * [[graft.kernels.BlockStep.rowSegments]] reads. */
trait CsrBlock {
  def rowBlock: Int
  def colBlock: Int
  def rowPtr: Array[Int]
  def colIdx: Array[Int]

  /** The largest vertex id stored here, as a row (dst) or a column
    * (src) of a `blockSize` block; -1 for an empty block. */
  def maxId(blockSize: Int): Long = {
    var r = rowPtr.length - 2
    while (r >= 0 && rowPtr(r + 1) == rowPtr(r)) r -= 1
    if (r < 0) -1L
    else math.max(rowBlock.toLong * blockSize + r, colBlock.toLong * blockSize + colIdx.max)
  }
}

/** One 2D block of the sparse adjacency matrix, CSR over the block's local
  * rows. Rows are DESTINATION vertices (we store Aᵀ so SpMV accumulates
  * into contiguous local rows), columns are sources.
  *
  * The Spark analog of CombBLAS's per-process sequential sparse matrix
  * inside the √p×√p grid (reference SpParMat.h:59-74 HAS-A `spSeq`;
  * storage dcsc.h:120-131). Hypersparse blocks cost nothing: an empty
  * block is simply an absent row of the Dataset (the concern DCSC solves,
  * dcsc.h:129-131).
  */
case class MatrixBlock(rowBlock: Int, colBlock: Int,
                       rowPtr: Array[Int], colIdx: Array[Int],
                       values: Array[Double]) extends CsrBlock {
  def nnz: Int = colIdx.length
}

/** 2D block-partitioned CSR operations: block SpGEMM and its phased form.
  *
  * Blocks are built ONCE from the edge relation by
  * [[graft.kernels.BlockBuild.csrValBlocks]] (the analog of the
  * triples→DCSC build, reference SpParMat.cpp:2893-2973 SparseCommon:
  * route triples to 2D owners, sort, compress), then persisted and reused.
  */
object BlockMatrix {

  def numBlocks(nVerts: Long, blockSize: Int): Int =
    ((nVerts + blockSize - 1) / blockSize).toInt

  /** Row-wise SPA (sparse accumulator): a dense value array + a
    * generation-stamped mark array + a touched-index list, reset in O(nnz)
    * per row by bumping the generation — the hash/heap local kernel family
    * of the reference (LocalHybridSpGEMM, mtSpGEMM.h:213-460). Work and
    * touched memory are O(flops), NEVER O(blockSize²): hypersparse blocks
    * — the regime DCSC exists for (dcsc.h:129-131) and where a 100×
    * scale-up lives — cost only their nonzeros. */
  private final class Spa(blockSize: Int, zero: Double) {
    val vals = new Array[Double](blockSize)
    private val mark = new Array[Int](blockSize)
    private val touched = new Array[Int](blockSize)
    private var nTouched = 0
    private var gen = 0
    def startRow(): Unit = { gen += 1; nTouched = 0 }
    def accumulate(j: Int, v: Double, add: (Double, Double) => Double): Unit =
      if (mark(j) == gen) vals(j) = add(vals(j), v)
      else { mark(j) = gen; vals(j) = v; touched(nTouched) = j; nTouched += 1 }
    /** Sorted touched columns for deterministic CSR order. */
    def sortedTouched(): Array[Int] = {
      val t = java.util.Arrays.copyOf(touched, nTouched)
      java.util.Arrays.sort(t)
      t
    }
  }

  /** Block SpGEMM: C = A · B over (zero, add, mult) — the SUMMA dataflow
    * (reference Mult_AnXBn_Synch, ParFriends.h:1018-1123): join block pairs
    * on the inner block index (their √p broadcast stages), multiply each
    * pair with a local CSR×CSR SPA kernel, and merge partial CSR blocks by
    * (rowBlock, colBlock) (their multiway merge, MultiwayMerge.h:411-760).
    * SPA scratch is allocated once per task, not per pair.
    *
    * A is stored rows=dst per [[graft.kernels.BlockBuild.csrValBlocks]]; for C = A·B interpret row/col
    * generically: C(i,j) = Σ_k A(i,k)·B(k,j) with i = A.rowBlock local
    * rows, k = inner, j = B's local columns. */
  def spgemm(a: Dataset[MatrixBlock], b: Dataset[MatrixBlock], blockSize: Int,
             zero: Double, add: (Double, Double) => Double,
             mult: (Double, Double) => Double): Dataset[MatrixBlock] = {
    val spark = a.sparkSession
    import spark.implicits._
    a.as("A").joinWith(b.as("B"), col("A.colBlock") === col("B.rowBlock"))
      .mapPartitions { pairs =>
        val spa = new Spa(blockSize, zero)
        pairs.map { case (ab, bb) =>
          val rowPtr = new Array[Int](blockSize + 1)
          val cols = collection.mutable.ArrayBuffer[Int]()
          val vals = collection.mutable.ArrayBuffer[Double]()
          var i = 0
          while (i < blockSize) {
            spa.startRow()
            var p = ab.rowPtr(i)
            val pEnd = ab.rowPtr(i + 1)
            while (p < pEnd) {
              val k = ab.colIdx(p); val av = ab.values(p)
              var q = bb.rowPtr(k)
              val qEnd = bb.rowPtr(k + 1)
              while (q < qEnd) {
                spa.accumulate(bb.colIdx(q), mult(av, bb.values(q)), add)
                q += 1
              }
              p += 1
            }
            for (j <- spa.sortedTouched()) { cols += j; vals += spa.vals(j) }
            rowPtr(i + 1) = cols.length
            i += 1
          }
          MatrixBlock(ab.rowBlock, bb.colBlock, rowPtr, cols.toArray, vals.toArray)
        }
      }
      .groupByKey(blk => (blk.rowBlock, blk.colBlock))
      .mapGroups { (key: (Int, Int), it: Iterator[MatrixBlock]) =>
        val (rb, cb) = key
        val parts = it.toArray
        val spa = new Spa(blockSize, zero)
        val rowPtr = new Array[Int](blockSize + 1)
        val cols = collection.mutable.ArrayBuffer[Int]()
        val vals = collection.mutable.ArrayBuffer[Double]()
        var i = 0
        while (i < blockSize) {
          spa.startRow()
          var pi = 0
          while (pi < parts.length) {
            val part = parts(pi)
            var p = part.rowPtr(i)
            val pEnd = part.rowPtr(i + 1)
            while (p < pEnd) {
              spa.accumulate(part.colIdx(p), part.values(p), add)
              p += 1
            }
            pi += 1
          }
          // drop entries that summed to the identity (structural zeros)
          for (j <- spa.sortedTouched()) {
            val v = spa.vals(j)
            if (v != zero) { cols += j; vals += v }
          }
          rowPtr(i + 1) = cols.length
          i += 1
        }
        MatrixBlock(rb, cb, rowPtr, cols.toArray, vals.toArray)
      }
  }

  /** Memory-bounded phased SpGEMM — the reference's MemEfficientSpGEMM
    * (ParFriends.h:452-745) runs SUMMA in column phases so no single stage
    * materializes all partial products. The column-block ranges of C are
    * disjoint, so phase results concatenate without a merge; `phases` plays
    * the role of the reference's memory-estimate-derived phase count. */
  def spgemmPhased(a: Dataset[MatrixBlock], b: Dataset[MatrixBlock],
                   blockSize: Int, nBlocks: Int, phases: Int,
                   zero: Double, add: (Double, Double) => Double,
                   mult: (Double, Double) => Double): Dataset[MatrixBlock] = {
    val per = math.max(1, (nBlocks + phases - 1) / phases)
    (0 until nBlocks by per).map { lo =>
      val slice = b.filter(blk => blk.colBlock >= lo && blk.colBlock < lo + per)
      spgemm(a, slice, blockSize, zero, add, mult)
    }.reduce(_ union _)
  }

  /** Blocks → COO relation (src=col, dst=row per the transposed build
    * layout) for differential checks. */
  def toCoo(blocks: Dataset[MatrixBlock], blockSize: Int): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.flatMap { b =>
      (0 until blockSize).iterator.flatMap { lr =>
        (b.rowPtr(lr) until b.rowPtr(lr + 1)).iterator.map { p =>
          (b.colBlock.toLong * blockSize + b.colIdx(p),
            b.rowBlock.toLong * blockSize + lr, b.values(p))
        }
      }
    }.toDF("src", "dst", "w")
  }

  /** Per-block (rowBlock, colBlock, nnz) — the nnz bookkeeping the
    * checkpoint manifests carry (reference EstimateFLOP-style metrics,
    * ParFriends.h:358-444). */
  def blockStats(blocks: Dataset[MatrixBlock]): DataFrame = {
    val spark = blocks.sparkSession
    import spark.implicits._
    blocks.map(b => (b.rowBlock, b.colBlock, b.nnz.toLong))
      .toDF("rowBlock", "colBlock", "nnz")
  }
}
