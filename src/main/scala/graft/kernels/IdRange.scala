package graft.kernels

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Smallest and largest vertex id of a table; an empty table gives
  * (0, -1). The array kernels size their id space from `max` and fall
  * back to the relational path on negative ids, which would mis-bucket in
  * the packed-long block build. */
final case class IdRange(min: Long, max: Long) {
  def union(o: IdRange): IdRange =
    IdRange(math.min(min, o.min), math.max(max, o.max))

  /** Every id fits a non-negative Int (int-packed edge caches). */
  def fitsInt: Boolean = min >= 0 && max < Int.MaxValue.toLong
}

object IdRange {
  /** One Spark job over the id columns `cols` of `df`, e.g.
    * `IdRange.of(edges, "src", "dst")`. */
  def of(df: DataFrame, cols: String*): IdRange = {
    def across(xs: Seq[Column], f: Seq[Column] => Column): Column =
      if (xs.size == 1) xs.head else f(xs)
    val lo = across(cols.map(c => min(col(c))), least(_: _*))
    val hi = across(cols.map(c => max(col(c))), greatest(_: _*))
    val r = df.agg(coalesce(lo, lit(0L)), coalesce(hi, lit(-1L))).first()
    IdRange(r.getLong(0), r.getLong(1))
  }
}
