package graft.kernels

import scala.reflect.ClassTag
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.storage.StorageLevel
import graft.linalg.CsrBlock

/** The block step the array kernels ([[PageRankArray]], [[BlockCC]],
  * [[BlockBFS]]) share — the driver-vector form of the reference's one
  * semiring-templated SpMV (ParFriends.h:1938-2010): persisted CSR blocks,
  * a broadcast driver vector, one scan job per step, a driver merge, and
  * the final vector turned back into a frame.
  *
  * The per-edge inner loop stays in each kernel's closure (called once per
  * block), so the scan is monomorphic and unboxed; only the scaffolding
  * around it lives here. */
object BlockStep {

  /** Persist `blocks` (MEMORY_AND_DISK), materialize them with one `count`,
    * run `body` over them, and unpersist when it ends. */
  def persisted[B, T](blocks: RDD[B])(body: RDD[B] => T): T = {
    blocks.persist(StorageLevel.MEMORY_AND_DISK)
    try { blocks.count(); body(blocks) }
    finally blocks.unpersist(blocking = false)
  }

  /** One job over `blocks`: per partition, one segment (`newSeg()`) per row
    * block, handed to `scan(x, block, segment, rowCount)` for every block
    * of that row block, where `x` is the broadcast value and `rowCount` the
    * block's rows below `nRows`. Collects `(rowBlock, partitionId,
    * segment)` in partition order, then row-block first-seen order within a
    * partition — a fixed merge order for a fixed partition count — and
    * destroys `bc`. */
  def rowSegments[X, B <: CsrBlock, S](blocks: RDD[B], bc: Broadcast[X],
      blockSize: Int, nRows: Int, newSeg: () => S)(
      scan: (X, B, S, Int) => Unit): Array[(Int, Int, S)] = {
    val bs = blockSize
    val out = blocks.mapPartitionsWithIndex { (pid, it) =>
      val x = bc.value
      val perRb = collection.mutable.LinkedHashMap[Int, S]()
      it.foreach { blk =>
        val seg = perRb.getOrElseUpdate(blk.rowBlock, newSeg())
        scan(x, blk, seg, math.min(bs, nRows - blk.rowBlock * bs))
      }
      perRb.iterator.map { case (rb, seg) => (rb, pid, seg) }
    }.collect()
    bc.destroy() // public destroy() is non-blocking in Spark 4
    out
  }

  /** Broadcast the driver vector `vec`, map the `ids` through
    * `rows(vec, partitionIds)` into a frame with columns `names`,
    * materialize it with `localCheckpoint`, and destroy the broadcast. */
  def toFrame[X: ClassTag, R: Encoder](ids: Dataset[Long], vec: X,
      names: String*)(rows: (X, Iterator[Long]) => Iterator[R]): DataFrame = {
    val bc = ids.sparkSession.sparkContext.broadcast(vec)
    val out = ids.mapPartitions(it => rows(bc.value, it))
      .toDF(names: _*).localCheckpoint()
    bc.destroy()
    out
  }
}
