package graft.kernels

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Smallest and largest vertex id of a table; an empty table gives
  * (0, -1). The array kernels size their id space from `max` and fall
  * back to the relational path on negative ids, which would mis-bucket in
  * the packed-long block build. */
final case class IdRange(min: Long, max: Long) {
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

  /** `df` observing its row count and [[of]]'s range in the first action
    * run on it, and a reader of both that waits for that action: no job
    * and no plan of its own. */
  def observed(df: DataFrame, cols: String*): (DataFrame, () => (Long, IdRange)) = {
    val o = new Observation()
    val Seq(lo, hi) = bounds(cols)
    (df.observe(o, count(lit(1)).as("n"), lo.as("lo"), hi.as("hi")), { () =>
      val m = o.get
      (m("n").asInstanceOf[Long], IdRange(m("lo").asInstanceOf[Long], m("hi").asInstanceOf[Long]))
    })
  }

  private def bounds(cols: Seq[String]): Seq[Column] = {
    def across(xs: Seq[Column], f: Seq[Column] => Column): Column =
      if (xs.size == 1) xs.head else f(xs)
    Seq(coalesce(across(cols.map(c => min(col(c))), least(_: _*)), lit(0L)),
      coalesce(across(cols.map(c => max(col(c))), greatest(_: _*)), lit(-1L)))
  }
}
