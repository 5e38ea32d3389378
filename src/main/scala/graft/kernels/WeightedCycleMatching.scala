package graft.kernels

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate-weight matching by parallel weight-increasing 4-cycle
  * exchange — the reference's AWPM / TwoThirdApprox family
  * (Applications/BipartiteMatchings/ApproxWeightPerfectMatching.h:792-1120:
  * given a matching, repeatedly find weight-increasing alternating
  * 4-cycles, resolve them to a vertex-disjoint set, and apply; iterate
  * while total weight grows, capped — the reference caps at 10).
  *
  * A candidate cycle at non-matching edge (i, j) with current mates
  * j_i = mate(i), m_j = mate(j) trades {(i,j_i), (m_j,j)} for
  * {(i,j), (m_j,j_i)} — legal iff edge (m_j, j_i) exists — with
  * gain = w(i,j) + w(m_j,j_i) − w(i,j_i) − w(m_j,j).  Matched/unmatched
  * vertex sets are untouched, so CARDINALITY IS PRESERVED: composed after
  * [[MaximumMatching]] this yields a maximum-cardinality matching with no
  * remaining weight-increasing 4-cycle (the serial quality the reference's
  * 5-phase MPI pipeline targets; at a perfect matching this is the
  * 2/3-approx guarantee of the AWPM paper).
  *
  * Deviation by specification (mirrors the LP tiebreak pinning): the
  * reference resolves conflicting cycles in arrival order
  * (ApproxWeightPerfectMatching.h:955-960 first-seen-then-max) — an
  * unspecified order under MPI. Here each column arg-maxes its best
  * candidate by (gain desc, i asc, j asc) and a cycle is applied iff BOTH
  * its columns (j and j_i) selected it — a mutual handshake, which makes
  * the surviving set vertex-disjoint (two cycles sharing row i share
  * column j_i = mate(i), so at most one survives its handshake) and the
  * whole kernel deterministic at any parallelism, hence oracle-replayable.
  *
  * Scale: per round, one 3-way mate join + one edge self-join (the
  * closing-edge lookup, keyed on (src,dst)) + two window arg-maxes — all
  * keyed exchanges over the CURRENT matching's rows; the edge table is
  * persisted once.
  */
object WeightedCycleMatching {

  /** Improve `init`'s weight by vertex-disjoint 4-cycle exchanges.
    * @param edges bipartite (r, c, w) — w integral doubles for an exact
    *              gate compare
    * @param init  a matching (r, c) over those edges
    * @return (r, c) — same cardinality, weight ≥ init's, no
    *         weight-increasing 4-cycle left (if converged within rounds) */
  def run(edges: DataFrame, init: DataFrame, rounds: Int = 10): DataFrame = {
    val cp = new graft.util.Checkpoints(edges.sparkSession)
    val e = cp.cache(edges.select("r", "c", "w"))
    e.count()
    var mate = cp(init.select("r", "c"))
    var improved = true
    var round = 0
    while (improved && round < rounds) {
      round += 1
      // current mates with their matched-edge weights
      val mw = mate.join(e, Seq("r", "c"))
      val mateR = mw.select(col("r").as("i"), col("c").as("ji"),
        col("w").as("wi"))
      val mateC = mw.select(col("r").as("mj"), col("c").as("j"),
        col("w").as("wj"))
      // candidate cycles: non-matching edge (i,j), closing edge (mj,ji)
      val cand = e.select(col("r").as("i"), col("c").as("j"), col("w"))
        .join(mateR, Seq("i"))
        .join(mateC, Seq("j"))
        .where(col("j") =!= col("ji"))
        .join(e.select(col("r").as("mj"), col("c").as("ji"),
          col("w").as("w2")), Seq("mj", "ji"))
        .select(col("i"), col("j"), col("ji"), col("mj"),
          (col("w") + col("w2") - col("wi") - col("wj")).as("gain"))
        .where(col("gain") > 0)
      // Handshake: BOTH columns a cycle rewires (j and ji) must select it.
      // Every conflict between two cycles reduces to a shared column
      // (shared row i ⇒ shared col ji = mate(i); row i of one = row mj of
      // the other ⇒ that one's j-col is mate(i) = the first's ji), so
      // per-column arbitration over the union of both roles makes the
      // surviving set vertex-disjoint. (i,j) determines the cycle, so the
      // (gain desc, i, j) order is total → deterministic.
      val cycleCols = Seq(col("i"), col("j"), col("ji"), col("mj"),
        col("gain"))
      val claims = cand.select((col("j").as("colKey") +: cycleCols): _*)
        .unionByName(cand.select((col("ji").as("colKey") +: cycleCols): _*))
      val best = claims.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("colKey")
            .orderBy(col("gain").desc, col("i").asc, col("j").asc)))
        .where(col("rn") === 1)
      val winners = cp(best.groupBy("i", "j", "ji", "mj", "gain")
        .agg(count(lit(1)).as("wins")).where(col("wins") === 2)
        .drop("wins"))
      val n = winners.count()
      improved = n > 0
      if (improved) {
        val drop = winners.select(col("i").as("r"), col("ji").as("c"))
          .unionByName(winners.select(col("mj").as("r"), col("j").as("c")))
        val add = winners.select(col("i").as("r"), col("j").as("c"))
          .unionByName(winners.select(col("mj").as("r"), col("ji").as("c")))
        val prev = mate
        mate = cp(mate.join(drop, Seq("r", "c"), "left_anti")
          .unionByName(add))
        cp.free(prev)
      }
      cp.free(winners)
    }
    cp.freeAllExcept(mate)
    mate.select("r", "c")
  }
}
