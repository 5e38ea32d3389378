package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.kernels._

/** Golden tests on micro-graphs (FIXTURES.md §4: sevenvertex, triangle3,
  * star, twochains) + differential tests vs the in-driver brute-force
  * oracles on a seeded random graph — the MultTest-style golden comparison
  * of the reference (ReleaseTests/MultTest.cpp:104-140).
  */
class KernelSpec extends AnyFunSuite {
  import TestSpark._

  // sevenvertex: two components {0,1,2,3} (with a triangle 0-1-2) and {4,5,6} (path)
  val seven = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (4L, 5L), (5L, 6L))
  val triangle3 = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L)) // one triangle + pendant
  val star5 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (0L, 5L))
  val twochains = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L))

  def checkAll(pairs: Seq[(Long, Long)], name: String): Unit = {
    val e = undirected(pairs)
    val v = verticesOf(pairs)
    val edgeSeq = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
    val vertSeq = edgeSeq.flatMap(p => Seq(p._1, p._2)).distinct

    val pr = PageRank.runExact(e, v, 10, 0.85).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val prRef = RefKernels.pageRank(edgeSeq, vertSeq)
    assert(pr.keySet == prRef.keySet, s"$name pagerank vertex set")
    for ((k, x) <- pr) assert(math.abs(x - prRef(k)) < 1e-9, s"$name pagerank $k: $x vs ${prRef(k)}")
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, s"$name pagerank mass")

    val cc = ConnectedComponents.run(e, v).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == RefKernels.components(edgeSeq, vertSeq), s"$name cc")

    val lpRef = RefKernels.labelProp(edgeSeq, vertSeq)
    val lp = LabelPropagation.run(e, v).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp == lpRef, s"$name lp")
    val lpShuffle = LabelPropagation.run(e, v, broadcastMax = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpShuffle == lpRef, s"$name lp shuffle-join path")

    val tc = Triangles.count(e).collect()(0).getLong(0)
    assert(tc == RefKernels.triangles(edgeSeq), s"$name tricnt")

    val root = vertSeq.min
    val bfs = BFS.levels(e, root).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bfs == RefKernels.bfs(edgeSeq, root), s"$name bfs")
  }

  test("sevenvertex golden")  { checkAll(seven, "sevenvertex") }
  test("triangle3 golden")    { checkAll(triangle3, "triangle3") }
  test("star5 golden")        { checkAll(star5, "star5") }
  test("twochains golden")    { checkAll(twochains, "twochains") }

  test("seeded random graph differential (80v/300e)") {
    checkAll(RefKernels.randomGraph(80, 300, seed = 7L), "rand80")
  }

  test("RMAT scale-10 medium graph differential (FIXTURES.md rmat_s10)") {
    val pairs = graph.RMat.symmetricGraph(spark, 10, 8, seed = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => p._1 < p._2).toSeq
    checkAll(pairs, "rmat10")
  }

  test("triangle3 has exactly 1 triangle; star has 0") {
    assert(Triangles.count(undirected(triangle3)).collect()(0).getLong(0) == 1L)
    assert(Triangles.count(undirected(star5)).collect()(0).getLong(0) == 0L)
  }

  test("triangle intersection kernel equals the relational mask plan") {
    def check(name: String, e: org.apache.spark.sql.DataFrame): Long = {
      val arr = Triangles.countByIntersection(e)
      val rel = Triangles.countRelational(e)
      assert(arr == rel, s"$name: intersection $arr vs relational $rel")
      arr
    }
    for (seed <- Seq(2L, 11L)) {
      val pairs = RefKernels.randomGraph(120, 700, seed)
      check(s"seed=$seed", undirected(pairs))
      // sparse ids past 2^32: the kernel's dense vertex indexes keep their order
      val sparse = pairs.map { case (a, b) => (a * 4294967311L + 3L, b * 4294967311L + 3L) }
      val tc = check(s"seed=$seed sparse", undirected(sparse))
      assert(tc == RefKernels.triangles((pairs ++ pairs.map(_.swap)).distinct), s"seed=$seed sparse")
    }
    val s = spark
    import s.implicits._
    assert(check("edge-free", Seq.empty[(Long, Long)].toDF("src", "dst")) == 0L)
  }

  test("cc finds two components on sevenvertex with min-id labels") {
    val cc = ConnectedComponents.run(undirected(seven), verticesOf(seven))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 4L, 5L -> 4L, 6L -> 4L))
  }

  test("cc array-kernel and relational FastSV paths agree") {
    val pairs = RefKernels.randomGraph(300, 500, seed = 23L) // many components
    val e = undirected(pairs)
    val v = verticesOf(pairs)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val arr = asMap(ConnectedComponents.run(e, v)) // array path (small ids)
    val rel = asMap(ConnectedComponents.run(e, v, arrayMax = 0L))
    assert(arr == rel)
    assert(arr == RefKernels.components(
      (pairs ++ pairs.map(p => (p._2, p._1))).distinct,
      pairs.flatMap(p => Seq(p._1, p._2)).distinct))
    // multi-block array path
    val arrSmallBlocks = asMap(graft.kernels.BlockCC.run(e, v,
      pairs.flatMap(p => Seq(p._1, p._2)).max, blockSize = 32))
    assert(arrSmallBlocks == rel)
    // vertices past the edges' id range, or below 0, are their own components
    val s = spark
    import s.implicits._
    val vMore = v.union(Seq(-3L, 5000L).toDF("v"))
    val arrMore = asMap(ConnectedComponents.run(e, vMore))
    assert(arrMore == asMap(ConnectedComponents.run(e, vMore, arrayMax = 0L)))
    assert(arrMore(-3L) == -3L && arrMore(5000L) == 5000L)
    // edge-free graph: every vertex is its own component on every path
    val none = e.limit(0)
    val own = asMap(v.select(v("v"), v("v")))
    assert(asMap(ConnectedComponents.run(none, v)) == own, "array path, no edges")
    assert(asMap(ConnectedComponents.run(none, v, arrayMax = 0L)) == own,
      "relational path, no edges")
    assert(asMap(ConnectedComponents.resumable(none, v, new graft.checkpoint.SnapshotStore(
      java.nio.file.Files.createTempDirectory("graft-cc-empty").toString))) == own,
      "resumable, no edges")
  }

  test("BFS: bottom-up, shuffle top-down, and adaptive paths all agree") {
    val pairs = RefKernels.randomGraph(80, 300, seed = 11L)
    val e = undirected(pairs)
    val edgeSeq = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
    val root = edgeSeq.flatMap(p => Seq(p._1, p._2)).min
    val want = RefKernels.bfs(edgeSeq, root)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asMap(BFS.levels(e, root)) == want, "default (block-bitmap)")
    assert(asMap(BFS.levels(e, root, bitmapMax = 0L)) == want, "relational adaptive")
    assert(asMap(BFS.levels(e, root, alpha = Double.MaxValue, bitmapMax = 0L)) == want,
      "forced bottom-up")
    assert(asMap(BFS.levels(e, root, broadcastMax = 0L, alpha = 0.0, bitmapMax = 0L)) == want,
      "forced top-down, shuffle join")
    assert(asMap(graft.kernels.BlockBFS.levels(e, root, blockSize = 64)) == want,
      "bitmap kernel, multi-block")
    assert(asMap(graft.kernels.BlockBFS.levels(e, root, blockSize = 64,
      dirThreshold = 0.0)) == want, "bitmap kernel, forced bottom-up")
    assert(asMap(graft.kernels.BlockBFS.levels(e, root, blockSize = 64,
      dirThreshold = Double.MaxValue)) == want, "bitmap kernel, forced top-down")
    val none = e.limit(0)
    assert(asMap(BFS.levels(none, root)) == Map(root -> 0L), "empty edge set")
    assert(asMap(graft.kernels.BlockBFS.levels(none, root)) == Map(root -> 0L),
      "bitmap kernel, empty edge set")
  }

  test("SSSP differential vs driver Dijkstra; frontier paths agree") {
    val pairs = RefKernels.randomGraph(60, 220, seed = 13L)
    val dirEdges = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
      .map { case (a, b) => (a, b, ((a * 31 + b * 7) % 5 + 1).toDouble) }
    val s = spark
    import s.implicits._
    val e = dirEdges.toDF("src", "dst", "w")
    val root = dirEdges.flatMap(t => Seq(t._1, t._2)).min
    val want = RefKernels.dijkstra(dirEdges, root)
    val got = SSSP.run(e, root).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want, "sssp vs dijkstra") // integral weights → exact doubles
    val shuffled = SSSP.run(e, root, broadcastMax = 0L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(shuffled == want, "sssp shuffle-join path")
  }

  test("TDSP differential vs time-dependent Dijkstra; dominates static SSSP") {
    // Driver-side arrive in the kernel's exact JVM op order → bit-exact.
    def arriveD(d: Double, w: Double): Double = {
      val u = (d % TDSP.Period) / TDSP.Period - 0.5
      d + (2.0 - 4.0 * u * u) * w
    }
    // FIFO relax ⇒ label-setting Dijkstra on arrival times is exact.
    def tdDijkstra(edges: Seq[(Long, Long, Double)], root: Long,
                   startT: Double): Map[Long, Double] = {
      val adj = edges.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))).toMap
      val dist = collection.mutable.Map(root -> startT)
      val done = collection.mutable.Set[Long]()
      val pq = collection.mutable.PriorityQueue((startT, root))(Ordering.by(-_._1))
      while (pq.nonEmpty) {
        val (d, v) = pq.dequeue()
        if (!done(v) && dist(v) == d) {
          done += v
          for ((u, w) <- adj.getOrElse(v, Nil) if !done(u)) {
            val nd = arriveD(d, w)
            if (!dist.contains(u) || nd < dist(u)) { dist(u) = nd; pq.enqueue((nd, u)) }
          }
        }
      }
      dist.toMap
    }
    val pairs = RefKernels.randomGraph(60, 220, seed = 13L)
    val dirEdges = (pairs ++ pairs.map(p => (p._2, p._1))).distinct
      // weights large vs the period so paths cross congestion phases, but
      // < Period/4 = 21600 so f' = 1 + factor'·w > 0 (FIFO ⇒ Dijkstra-valid)
      .map { case (a, b) => (a, b, (((a * 31 + b * 7) % 5 + 1) * 4000).toDouble) }
    val s = spark
    import s.implicits._
    val e = dirEdges.toDF("src", "dst", "w")
    val root = dirEdges.flatMap(t => Seq(t._1, t._2)).min
    val startT = 30000.0
    val want = tdDijkstra(dirEdges, root, startT)
    val got = TDSP.run(e, root, startT, maxIters = 60).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want, "tdsp vs time-dependent dijkstra") // bit-exact by shared op order
    // congestion factor ∈ [1,2] ⇒ time-dependent travel ≥ free-flow travel
    val freeFlow = RefKernels.dijkstra(dirEdges, root)
    for ((v, d) <- got)
      assert(d - startT >= freeFlow(v) - 1e-9, s"v=$v arrives before free-flow bound")
    val shuffled = TDSP.run(e, root, startT, maxIters = 60, broadcastMax = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(shuffled == want, "tdsp shuffle-join path")
  }

  test("array-vector pagerank matches the relational kernel to 1e-9") {
    // (vertices, seed, blockSize); the last is BlockSpec's graph, 4 blocks per side
    for ((nv, seed, bs) <- Seq((120, 3L, 64), (120, 19L, 64), (100, 11L, 32))) {
      val pairs = RefKernels.randomGraph(nv, 400, seed)
      val e = undirected(pairs)
      val v = verticesOf(pairs)
      val rel = PageRank.runExact(e, v, 10, 0.85).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val arr = graft.kernels.PageRankArray.run(e, v, 10, blockSize = bs)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(arr.keySet == rel.keySet)
      for ((k, x) <- arr) assert(math.abs(x - rel(k)) < 1e-9, s"v=$k: $x vs ${rel(k)}")
      // determinism at fixed partition count
      val arr2 = graft.kernels.PageRankArray.run(e.repartition(5), v, 10, blockSize = bs)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(arr2 == arr, "array pagerank not deterministic under input repartitioning")
    }
  }

  test("pagerank shuffle-join path (broadcastMax=0) equals broadcast path") {
    val pairs = RefKernels.randomGraph(80, 300, seed = 7L)
    val e = undirected(pairs)
    val v = verticesOf(pairs)
    val bc = PageRank.runExact(e, v, 10, 0.85).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sh = PageRank.runExact(e, v, 10, 0.85, broadcastMax = 0L).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(bc.keySet == sh.keySet)
    for ((k, x) <- bc) assert(math.abs(x - sh(k)) < 1e-12, s"$k: $x vs ${sh(k)}")
  }

  test("pagerank is invariant to input partitioning") {
    val e = undirected(seven)
    val v = verticesOf(seven)
    val a = PageRank.run(e, v).collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val b = PageRank.run(e.repartition(13), v.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    assert(a.sameElements(b))
  }
}
