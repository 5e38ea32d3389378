package graft.kernels

import org.apache.spark.sql.DataFrame
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
  *  - the mask is a LEFT SEMI join: wedge payloads are never materialized.
  *  - adaptive broadcast: when the oriented edge list fits comfortably in
  *    an executor (< BroadcastMaxEdges), both the wedge join and the mask
  *    join broadcast it, so the (huge) wedge stream never shuffles — the
  *    explicit analog of CombBLAS's replicate-when-cheap cost model
  *    (reference Applications/CC.h:367-376). Past the threshold the plan
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
    val deg = edges.groupBy(col("src").as("u")).agg(fcount(lit(1)).as("d"))
    val l = edges
      .join(deg.select(col("u").as("src"), col("d").as("ds")), "src")
      .join(deg.select(col("u").as("dst"), col("d").as("dd")), "dst")
      .where(col("ds") < col("dd") ||
        (col("ds") === col("dd") && col("src") < col("dst")))
      .select(col("src").as("a"), col("dst").as("b"))
      .persist()
    val nL = l.count()
    val spark = edges.sparkSession
    import spark.implicits._
    val n =
      if (nL <= ArrayMaxEdges) countByIntersection(l, nL)
      else countRelational(l, nL)
    l.unpersist(false)
    Seq(n).toDF("triangles")
  }

  /** Broadcast sorted-CSR adjacency; one distributed pass over the
    * oriented edges, two-pointer intersection per edge. Exact integer
    * count — identical to the relational path by construction (same
    * oriented graph, same closed-wedge set). */
  private[graft] def countByIntersection(l: DataFrame, nL: Long): Long = {
    val spark = l.sparkSession
    import spark.implicits._
    // Sort DISTRIBUTED (range-partitioned orderBy), then collect each
    // partition as two primitive long arrays: the driver's transient is
    // 16 B/edge (vs ~64 B/edge of boxed Tuple2 rows fed to a driver
    // TimSort near the ArrayMaxEdges cutoff), and collect() preserves
    // partition order so the concatenation is globally (a, b)-sorted.
    val packed = l.orderBy("a", "b").select("a", "b").as[(Long, Long)].rdd
      .mapPartitions { it =>
        val aB = new collection.mutable.ArrayBuilder.ofLong
        val bB = new collection.mutable.ArrayBuilder.ofLong
        it.foreach { case (a, b) => aB += a; bB += b }
        Iterator((aB.result(), bB.result()))
      }.collect()
    val total = packed.iterator.map(_._1.length).sum
    val srcs = new Array[Long](total)
    val dsts = new Array[Long](total)
    var off = 0
    packed.foreach { case (as, bs) =>
      System.arraycopy(as, 0, srcs, off, as.length)
      System.arraycopy(bs, 0, dsts, off, bs.length)
      off += as.length
    }
    var i = 0
    // CSR over the distinct sources (binary-searched at lookup)
    val nSrc0 = new java.util.ArrayList[Long]()
    val off0 = new java.util.ArrayList[Int]()
    i = 0
    while (i < srcs.length) {
      if (i == 0 || srcs(i) != srcs(i - 1)) { nSrc0.add(srcs(i)); off0.add(i) }
      i += 1
    }
    off0.add(srcs.length)
    val srcIds = nSrc0.toArray(new Array[java.lang.Long](0)).map(_.longValue)
    val offs = off0.toArray(new Array[java.lang.Integer](0)).map(_.intValue)
    val bc = spark.sparkContext.broadcast((srcIds, offs, dsts))
    val n = spark.createDataset(0 until srcIds.length)
      .repartition(math.max(1, math.min(srcIds.length,
        spark.sparkContext.defaultParallelism * 4)))
      .mapPartitions { it =>
        val (ids, off, adj) = bc.value
        def range(v: Long): (Int, Int) = {
          val k = java.util.Arrays.binarySearch(ids, v)
          if (k < 0) (0, 0) else (off(k), off(k + 1))
        }
        var acc = 0L
        it.foreach { si =>
          val (aLo, aHi) = (off(si), off(si + 1))
          var e = aLo
          while (e < aHi) {
            val (bLo, bHi) = range(adj(e))
            // |N⁺(a) ∩ N⁺(b)| by two-pointer merge (both sorted)
            var p = aLo; var q = bLo
            while (p < aHi && q < bHi) {
              val x = adj(p); val y = adj(q)
              if (x == y) { acc += 1; p += 1; q += 1 }
              else if (x < y) p += 1
              else q += 1
            }
            e += 1
          }
        }
        Iterator(acc)
      }.reduce(_ + _)
    bc.destroy()
    n
  }

  private[graft] def countRelational(l: DataFrame, nL: Long): Long = {
    def maybeBcast(df: DataFrame): DataFrame =
      if (nL < BroadcastMaxEdges) broadcast(df) else df
    val wedges = l.join(
        maybeBcast(l.select(col("a").as("b"), col("b").as("c"))), "b")
      .select(col("a"), col("c"))
    val closed = wedges.join(
      maybeBcast(l.select(col("a"), col("b").as("c"))), Seq("a", "c"), "left_semi")
    // Materialize before unpersisting `l` — otherwise the cached oriented
    // edge list leaks executor storage across repeated calls in a session.
    closed.agg(fcount(lit(1)).as("triangles")).first().getLong(0)
  }
}
