package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** String-key → dense Long id dictionary encoding — the Spark analog of
  * `ReadGeneralizedTuples` (reference SpParMat.cpp:3882-3971), which
  * exchanges unique labels, builds a global permutation, and returns the
  * id↔label mapper alongside the matrix.
  *
  * vid = global rank of the key in lexicographic order (dense 0..V-1,
  * deterministic, parallelism-independent), computed by [[Ranking]]'s
  * range-partitioned rank — no global single-partition window, so the
  * encoding survives 10^12 keys. Repeated keys sort next to each other in
  * one range partition, where the numbering skips them: no distinct
  * aggregate runs first, so the range exchange's sampling job and its
  * shuffle each compute `keys` (cache an expensive key plan around the
  * call). The ranks do not depend on the sampled range boundaries: a
  * distinct key's global rank is invariant to where partitions split.
  */
object Dictionary {

  /** @param keys single-column DataFrame of (possibly duplicated) keys
    * @return (keyCol: string, vid: long), one row per distinct key */
  def encode(keys: DataFrame, keyCol: String = "url", parts: Int = 0): DataFrame =
    Ranking.rank(keys.select(col(keyCol)), Seq(col(keyCol)), "vid", parts, distinct = true)
}
