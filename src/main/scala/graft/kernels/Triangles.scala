package graft.kernels

import scala.collection.mutable.ArrayBuilder
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{broadcast, col, lit, count => fcount}

/** Triangle counting via masked SpGEMM of the triangular splits.
  *
  * The canonical CombBLAS composition: split A with `PruneI`
  * (reference SpParMat.h:162-175), wedge-build `B = L·U` via SUMMA SpGEMM
  * (reference ParFriends.h:1018-1123), mask `C = B .* A` with `EWiseMult`
  * (reference ParFriends.h:2187-2203), then `Reduce`
  * (reference SpParMat.cpp:888).
  *
  * Scale design:
  *  - DEGREE-ordered orientation (each undirected edge kept low→high in the
  *    (degree, id) total order): the triangle count is orientation-
  *    invariant, but this orientation minimizes Σ outdeg² — the wedge
  *    fan-out — which is what explodes on power-law hubs. The standard
  *    mitigation, equivalent to the reference's L·U split at its best.
  *  - up to [[ArrayMaxEdges]] undirected edges, no plan of its own: the
  *    caller's edge plan runs once as an RDD, counted and collected into
  *    primitive arrays; the driver orients them and one job intersects
  *    (3 jobs besides the shuffle stages of the caller's plan).
  *  - past it, the relational plan: the mask is a LEFT SEMI join, so wedge
  *    payloads are never materialized, and when the oriented edge list
  *    fits comfortably in an executor (< BroadcastMaxEdges) both the wedge
  *    join and the mask join broadcast it, so the (huge) wedge stream never
  *    shuffles — the explicit analog of CombBLAS's replicate-when-cheap
  *    cost model (reference Applications/CC.h:367-376). Past that the plan
  *    degrades to shuffle joins and AQE handles residual skew.
  */
object Triangles {

  val BroadcastMaxEdges = 8000000L

  /** Oriented edge lists up to this size use the broadcast-CSR
    * intersection kernel (fourth array-kernel family member): the sorted
    * adjacency is broadcast once and each task two-pointer-intersects
    * N⁺(a) ∩ N⁺(b) per oriented edge — the LocalHybridSpGEMM-style local
    * kernel without per-wedge row overhead (the relational plan streams
    * Σ outdeg² wedge ROWS through the mask join; the intersection does the
    * same arithmetic in primitive arrays). Past the ceiling the relational
    * SUMMA-shaped plan runs — distributed, nothing driver-resident. */
  val ArrayMaxEdges = 4000000L

  /** @param edges symmetric (src, dst); @return single row (triangles: long) */
  def count(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // one row per undirected edge, as many as the oriented list has
    val once = undirectedOnce(edges)
    val n = if (once.count() <= ArrayMaxEdges) intersect(once) else countRelational(edges)
    Seq(n).toDF("triangles")
  }

  /** The rows src < dst of symmetric `edges`, as (src, dst) longs. It is
    * one RDD, so a count and a collect of it share the shuffle output of
    * `edges`' plan, and it filters outside that plan, so the plan is the
    * one the caller's other kernels run on `edges`. */
  private def undirectedOnce(edges: DataFrame): RDD[InternalRow] =
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .queryExecution.toRdd.filter(r => r.getLong(0) < r.getLong(1))

  /** The array path on symmetric `edges`, whatever their size. */
  private[graft] def countByIntersection(edges: DataFrame): Long =
    intersect(undirectedOnce(edges))

  /** Collects the undirected edges as primitive long arrays, orients and
    * sorts them on the driver, broadcasts the CSR adjacency and counts
    * |N⁺(a) ∩ N⁺(b)| over every oriented edge (a, b) in one job. Vertices
    * are numbered by their index among the sorted distinct ids, which
    * keeps their order: an oriented edge packs into one long, so the edge
    * sort is a primitive sort, and the adjacency and its row offsets are
    * Int arrays, indexed with no search. The driver peaks at 32 B per
    * undirected edge plus 12 B per vertex, all primitive: no boxed rows.
    * Exact integer count, equal to the relational path's: every (degree,
    * id) total order gives the same closed-wedge set. */
  private def intersect(once: RDD[InternalRow]): Long = {
    val parts = once.mapPartitions { it =>
      val (uB, vB) = (new ArrayBuilder.ofLong, new ArrayBuilder.ofLong)
      it.foreach { r => uB += r.getLong(0); vB += r.getLong(1) }
      Iterator((uB.result(), vB.result()))
    }.collect()
    // the distinct ids in order, and the degree of each
    val (ids, deg) = {
      val ends = Array.concat(parts.toSeq.flatMap(p => Seq(p._1, p._2)): _*)
      java.util.Arrays.sort(ends)
      val (idB, degB) = (new ArrayBuilder.ofLong, new ArrayBuilder.ofInt)
      var i = 0
      while (i < ends.length) {
        var j = i + 1
        while (j < ends.length && ends(j) == ends(i)) j += 1
        idB += ends(i); degB += j - i; i = j
      }
      (idB.result(), degB.result())
    }
    // oriented edges (x, y) as x << 32 | y, sorted
    val packed = new Array[Long](parts.iterator.map(_._1.length).sum)
    var e = 0
    for ((us, vs) <- parts; k <- us.indices) {
      val x = java.util.Arrays.binarySearch(ids, us(k))
      val y = java.util.Arrays.binarySearch(ids, vs(k))
      packed(e) = if (deg(x) < deg(y) || (deg(x) == deg(y) && x < y)) x.toLong << 32 | y else y.toLong << 32 | x
      e += 1
    }
    java.util.Arrays.sort(packed)
    val off = new Array[Int](ids.length + 1)
    packed.foreach(xy => off((xy >>> 32).toInt + 1) += 1)
    for (v <- ids.indices) off(v + 1) += off(v)
    val sc = once.sparkContext
    val bc = sc.broadcast((off, packed.map(_.toInt)))
    val n = sc.parallelize(ids.indices, math.max(1, math.min(ids.length, sc.defaultParallelism * 4)))
      .mapPartitions { it =>
        val (off, adj) = bc.value
        var acc = 0L
        it.foreach { a =>
          val aLo = off(a); val aHi = off(a + 1)
          for (e <- aLo until aHi) {
            // |N⁺(a) ∩ N⁺(b)| by two-pointer merge (both sorted)
            val b = adj(e); val bHi = off(b + 1)
            var p = aLo; var q = off(b)
            while (p < aHi && q < bHi) {
              val x = adj(p); val y = adj(q)
              if (x == y) { acc += 1; p += 1; q += 1 }
              else if (x < y) p += 1
              else q += 1
            }
          }
        }
        Iterator(acc)
      }.reduce(_ + _)
    bc.destroy()
    n
  }

  /** The relational path: the orientation as a plan, persisted for the
    * wedge and mask joins. */
  private[graft] def countRelational(edges: DataFrame): Long = {
    val deg = edges.groupBy(col("src").as("u")).agg(fcount(lit(1)).as("d"))
    val l = edges
      .join(deg.select(col("u").as("src"), col("d").as("ds")), "src")
      .join(deg.select(col("u").as("dst"), col("d").as("dd")), "dst")
      .where(col("ds") < col("dd") ||
        (col("ds") === col("dd") && col("src") < col("dst")))
      .select(col("src").as("a"), col("dst").as("b"))
      .persist()
    val nL = l.count()
    def maybeBcast(df: DataFrame): DataFrame =
      if (nL < BroadcastMaxEdges) broadcast(df) else df
    val wedges = l.join(
        maybeBcast(l.select(col("a").as("b"), col("b").as("c"))), "b")
      .select(col("a"), col("c"))
    val closed = wedges.join(
      maybeBcast(l.select(col("a"), col("b").as("c"))), Seq("a", "c"), "left_semi")
    // Materialize before unpersisting `l` — otherwise the cached oriented
    // edge list leaks executor storage across repeated calls in a session.
    try closed.agg(fcount(lit(1)).as("triangles")).first().getLong(0)
    finally l.unpersist(false)
  }
}
