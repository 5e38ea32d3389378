package graft.kernels

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.linalg.MatrixBlock

/** Fast CSR-block construction for the in-memory graph kernels.
  *
  * The first-cut builder (repartition + sortWithinPartitions + typed
  * Tuple4 rows + boxed ArrayBuffer appends) measured 59 s of the 61 s
  * scale-22 CC run — the sort and the per-row boxing dwarfed the actual
  * kernel. This builder:
  *  - packs each edge into ONE long (rb:16 | cb:16 | lr:16 | lc:16), so
  *    the shuffle moves primitive longs through the codegen'd exchange
  *    and deserialization is a primitive-encoder read;
  *  - skips the sort entirely: blocks are assembled per partition with a
  *    hash map of primitive growable arrays, then CSR-ified by counting
  *    sort on the local row (O(nnz + blockSize) per block, no comparison
  *    sort anywhere);
  *  - lets the caller pick the shuffle keys (pure (rb, cb) for BFS;
  *    (rb, cb mod k) hub-salted for CC's row-segment emission).
  *
  * Capacity: blockSize ≤ 2^16 and < 2^15 blocks per side (V ≤ 2^31 at
  * the default 65536 block size) — exactly the in-memory regime the
  * bitmap/array kernels serve; the relational kernels cover the rest.
  */
object BlockBuild {

  /** The packed-long layout holds block coordinates in 16-bit fields
    * (< 2^15 blocks per side once the sign bit is excluded). Enforced
    * INLINE in the packing expression — a small blockSize with a large id
    * space (or a negative id) raises instead of silently truncating. The
    * guard is a branch on already-computed integers, so it stays inside
    * whole-stage codegen at negligible cost (no extra probe job). */
  private def packedExpr(bs: Int): String =
    s"CASE WHEN src >= 0 AND dst >= 0 AND src DIV $bs < 32768 AND dst DIV $bs < 32768 " +
      s"THEN CAST((dst DIV $bs) * ${1L << 48} + (src DIV $bs) * ${1L << 32} + " +
      s"(dst % $bs) * ${1L << 16} + (src % $bs) AS BIGINT) " +
      "ELSE CAST(raise_error(CONCAT('BlockBuild capacity: edge (', src, ',', dst, " +
      s"') needs block coords < 32768 at blockSize $bs and non-negative ids')) AS BIGINT) END"

  def csrBlocks(edges: DataFrame, blockSize: Int,
                keys: Seq[Column]): RDD[AdjBlock] = {
    require(blockSize > 0 && (blockSize & (blockSize - 1)) == 0 &&
      blockSize <= 65536, "blockSize must be a power of two <= 2^16")
    val spark = edges.sparkSession
    import spark.implicits._
    val bs = blockSize
    val packed = edges.select(
      expr(packedExpr(bs)).as("p"),
      expr(s"CAST(dst DIV $bs AS INT)").as("rb"),
      expr(s"CAST(src DIV $bs AS INT)").as("cb"))
      .repartition(keys: _*)
      .select("p").as[Long]
    packed.mapPartitions { it =>
      val groups = collection.mutable.LinkedHashMap[
        Long, (collection.mutable.ArrayBuilder.ofInt,
               collection.mutable.ArrayBuilder.ofInt)]()
      it.foreach { p =>
        val g = groups.getOrElseUpdate(p >>> 32,
          (new collection.mutable.ArrayBuilder.ofInt,
           new collection.mutable.ArrayBuilder.ofInt))
        g._1 += ((p >>> 16) & 0xFFFF).toInt // lr
        g._2 += (p & 0xFFFF).toInt          // lc
      }
      groups.iterator.map { case (rbcb, (lrB, lcB)) =>
        val lr = lrB.result(); val lc = lcB.result()
        val rowPtr = new Array[Int](bs + 1)
        var i = 0
        while (i < lr.length) { rowPtr(lr(i) + 1) += 1; i += 1 }
        i = 0
        while (i < bs) { rowPtr(i + 1) += rowPtr(i); i += 1 }
        val colIdx = new Array[Int](lc.length)
        val cursor = java.util.Arrays.copyOf(rowPtr, bs)
        i = 0
        while (i < lr.length) {
          val r = lr(i); colIdx(cursor(r)) = lc(i); cursor(r) += 1; i += 1
        }
        AdjBlock((rbcb >>> 16).toInt, (rbcb & 0xFFFF).toInt, rowPtr, colIdx)
      }
    }.rdd
  }

  /** Value-carrying variant — the one builder of [[MatrixBlock]], for the
    * numeric array kernels and the block SpGEMM. Reads (src, dst, w).
    * Determinism guarantees the structure-only build does not need:
    *  - each row's (colIdx, value) pairs are SORTED by column (a primitive
    *    long sort over (lr|lc|arrival-index) — no boxing), so the per-row
    *    FP sum order is fixed regardless of shuffle arrival order;
    *  - blocks emit in (rowBlock, colBlock) order within each partition,
    *    so cross-block accumulation order is fixed too. */
  def csrValBlocks(edges: DataFrame, blockSize: Int,
                   keys: Seq[Column]): Dataset[MatrixBlock] = {
    require(blockSize > 0 && (blockSize & (blockSize - 1)) == 0 &&
      blockSize <= 65536, "blockSize must be a power of two <= 2^16")
    val spark = edges.sparkSession
    import spark.implicits._
    val bs = blockSize
    val packed = edges.select(
      expr(packedExpr(bs)).as("p"),
      col("w").cast("double").as("w"),
      expr(s"CAST(dst DIV $bs AS INT)").as("rb"),
      expr(s"CAST(src DIV $bs AS INT)").as("cb"))
      .repartition(keys: _*)
      .select("p", "w").as[(Long, Double)]
    packed.mapPartitions { it =>
      val groups = collection.mutable.LinkedHashMap[
        Long, (collection.mutable.ArrayBuilder.ofLong,
               collection.mutable.ArrayBuilder.ofDouble)]()
      it.foreach { case (p, w) =>
        val g = groups.getOrElseUpdate(p >>> 32,
          (new collection.mutable.ArrayBuilder.ofLong,
           new collection.mutable.ArrayBuilder.ofDouble))
        val idx = g._2.length
        // (lr|lc) in bits 62..31 (sign bit clear — a plain long sort is
        // (lr, lc, arrival) ascending), arrival idx in bits 30..0
        g._1 += ((p & 0xFFFFFFFFL) << 31) | idx.toLong
        g._2 += w
      }
      groups.toSeq.sortBy(_._1).iterator.map { case (rbcb, (pkB, wB)) =>
        val pk = pkB.result(); val wArr = wB.result()
        java.util.Arrays.sort(pk) // (lr, lc) ascending; idx breaks exact dups
        val n = pk.length
        val rowPtr = new Array[Int](bs + 1)
        val colIdx = new Array[Int](n)
        val values = new Array[Double](n)
        var i = 0
        while (i < n) {
          val lr = ((pk(i) >>> 47) & 0xFFFF).toInt
          rowPtr(lr + 1) += 1
          colIdx(i) = ((pk(i) >>> 31) & 0xFFFF).toInt
          values(i) = wArr((pk(i) & 0x7FFFFFFFL).toInt)
          i += 1
        }
        i = 0
        while (i < bs) { rowPtr(i + 1) += rowPtr(i); i += 1 }
        MatrixBlock((rbcb >>> 16).toInt, (rbcb & 0xFFFF).toInt, rowPtr, colIdx, values)
      }
    }
  }
}
