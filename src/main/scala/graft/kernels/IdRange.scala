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
    * `IdRange.of(edges, "src", "dst")`. Only min and max: they ignore
    * duplicates, so Spark drops a `distinct()` under `df` from the plan. */
  def of(df: DataFrame, cols: String*): IdRange = {
    val Seq(lo, hi) = bounds(cols)
    val r = df.agg(lo, hi).first()
    IdRange(r.getLong(0), r.getLong(1))
  }

  /** [[of]] and the row count of `df`, from the same one job. */
  def counted(df: DataFrame, cols: String*): (Long, IdRange) = {
    val r = df.agg(count(lit(1)), bounds(cols): _*).first()
    (r.getLong(0), IdRange(r.getLong(1), r.getLong(2)))
  }

  private def bounds(cols: Seq[String]): Seq[Column] = {
    def across(xs: Seq[Column], f: Seq[Column] => Column): Column =
      if (xs.size == 1) xs.head else f(xs)
    Seq(coalesce(across(cols.map(c => min(col(c))), least(_: _*)), lit(0L)),
      coalesce(across(cols.map(c => max(col(c))), greatest(_: _*)), lit(-1L)))
  }
}
