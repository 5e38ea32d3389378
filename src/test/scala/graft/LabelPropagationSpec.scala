package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.kernels.LabelPropagation

/** Label propagation's argmax key at the edges of its two id widths: the
  * int path packs (count, Int.MaxValue − label) into one long, ids of 2^31
  * and above keep the (count, −label) struct. Both must pick the most
  * frequent neighbor label and, on a tie, the smallest. */
class LabelPropagationSpec extends AnyFunSuite {
  import TestSpark._

  /** `pairs` shifted by `base`, run on both join regimes for 1 and 3
    * rounds against the reference. */
  private def check(pairs: Seq[(Long, Long)], base: Long, name: String): Unit = {
    val shifted = pairs.map { case (a, b) => (a + base, b + base) }
    val e = undirected(shifted)
    val v = verticesOf(shifted)
    val edgeSeq = (shifted ++ shifted.map(p => (p._2, p._1))).distinct
    val vertSeq = edgeSeq.flatMap(p => Seq(p._1, p._2)).distinct
    for (rounds <- Seq(1, 3); bmax <- Seq(LabelPropagation.BroadcastMax, 0L)) {
      val got = LabelPropagation.run(e, v, rounds, bmax).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == RefKernels.labelProp(edgeSeq, vertSeq, rounds),
        s"$name, $rounds rounds, broadcastMax $bmax")
    }
  }

  test("ties between equally frequent labels go to the smallest label") {
    // A cycle: every vertex sees two labels once each in round 1, and the
    // hub 100 sees the four spokes' labels once each.
    val cycle = (0L until 12L).map(i => (i, (i + 1) % 12))
    val hub = Seq(3L, 7L, 1L, 9L).map(s => (100L, s))
    check(cycle ++ hub, 0L, "cycle with hub")
    val got = LabelPropagation.run(undirected(hub), verticesOf(hub), rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(100L) == 1L)
  }

  test("int-path ids up to Int.MaxValue - 1 match the reference") {
    val pairs = RefKernels.randomGraph(60, 150, seed = 5L)
    // The largest id is Int.MaxValue - 1, the widest the int path takes.
    check(pairs, Int.MaxValue.toLong - 1 - pairs.flatMap(p => Seq(p._1, p._2)).max, "near Int.MaxValue")
  }

  test("ids of 2^31 and above (bigint path) match the reference") {
    check(RefKernels.randomGraph(60, 150, seed = 6L), 1L << 31, "from 2^31")
    check(RefKernels.randomGraph(60, 150, seed = 7L), 1L << 40, "from 2^40")
  }
}
