package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.LongType

/** Scalable global dense ranking — the engine behind [[Dictionary]] and the
  * vector sort/permutation operators (reference FullyDistVec::sort,
  * FullyDistVec.cpp:746-782, which uses a sample-based parallel sort
  * exactly like this: range-partition, sort locally, offset by prefix sums).
  *
  * Never uses a global single-partition window: the rows are
  * range-partitioned and sorted within each partition, and `zipWithIndex`
  * numbers them — one job counts each partition's rows (a P-long driver
  * collect, P = shuffle partitions) and a narrow map adds the prefix sum.
  * The size job and the rank pass read one shuffle dependency, whose range
  * boundaries were sampled once, so every read of the result sees the same
  * ranks, with no checkpoint: a lost shuffle block is recomputed alike.
  *
  * The rank is deterministic iff the sort key chain is a total order over
  * the rows — callers must include a tiebreaker column.
  */
object Ranking {

  /** Adds a dense 0-based `rankCol` ordered by `sortCols`. */
  def globalRank(df: DataFrame, sortCols: Seq[Column], rankCol: String,
                 parts: Int = 0): DataFrame =
    rank(df, sortCols, rankCol, parts, distinct = false)

  /** [[globalRank]] over `df`'s distinct rows, which must be their own
    * sort key: equal rows share a range partition and sort next to each
    * other, so each partition skips its repeats as it is numbered — no
    * aggregate and no shuffle of its own. */
  private[graph] def rank(df: DataFrame, sortCols: Seq[Column], rankCol: String,
                          parts: Int, distinct: Boolean): DataFrame = {
    val spark = df.sparkSession
    val p = if (parts > 0) parts else spark.sessionState.conf.numShufflePartitions
    val sorted = df.repartitionByRange(p, sortCols: _*).sortWithinPartitions(sortCols: _*)
    val rows = if (!distinct) sorted.rdd else sorted.rdd.mapPartitions { it =>
      var prev: Row = null
      it.filter { r => val first = r != prev; prev = r; first }
    }
    val ranked = rows.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    spark.createDataFrame(ranked, sorted.schema.add(rankCol, LongType, nullable = false))
  }
}
