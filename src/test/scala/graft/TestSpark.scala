package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared local session for all suites (forked test JVM): SPARK_GRAFT_CPUS
  * cores, and 4 shuffle partitions whatever the core count, so the
  * fixed-partition-count determinism specs hold at any parallelism. */
object TestSpark {
  lazy val spark: SparkSession = Conf.fromEnv().session(4)

  /** Symmetric edge DataFrame from undirected pairs. */
  def undirected(pairs: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    (pairs ++ pairs.map(p => (p._2, p._1))).distinct.toDF("src", "dst")
  }

  def verticesOf(pairs: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    pairs.flatMap(p => Seq(p._1, p._2)).distinct.toDF("v")
  }
}

/** In-driver brute-force reference implementations (SURVEY.md §5 oracle
  * plan): O(V·E) versions of every kernel, for differential testing. */
object RefKernels {
  def pageRank(edges: Seq[(Long, Long)], verts: Seq[Long], iters: Int = 10,
               d: Double = 0.85): Map[Long, Double] = {
    val n = verts.size
    val out = edges.groupBy(_._1).view.mapValues(_.size).toMap
    var r = verts.map(v => v -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val sink = verts.filter(v => !out.contains(v)).map(r).sum
      val contrib = collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      for ((s, t) <- edges) contrib(t) += r(s) / out(s)
      r = verts.map(v => v -> ((1 - d) / n + d * (contrib(v) + sink / n))).toMap
    }
    r
  }

  /** Min-id component labels via union-find. */
  def components(edges: Seq[(Long, Long)], verts: Seq[Long]): Map[Long, Long] = {
    val parent = collection.mutable.Map(verts.map(v => v -> v): _*)
    def find(v: Long): Long = { if (parent(v) != v) parent(v) = find(parent(v)); parent(v) }
    for ((a, b) <- edges) { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra max rb) = ra min rb }
    verts.map(v => v -> find(v)).toMap
  }

  /** Synchronous LP, (maxCount, minLabel) tiebreak, keep-own if isolated. */
  def labelProp(edges: Seq[(Long, Long)], verts: Seq[Long], rounds: Int = 5): Map[Long, Long] = {
    val nbrs = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap // in-neighbors over symmetric edges
    var lbl = verts.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      lbl = verts.map { v =>
        nbrs.get(v) match {
          case None => v -> lbl(v)
          case Some(ns) =>
            val counts = ns.groupBy(lbl).view.mapValues(_.size).toMap
            v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }.toMap
    }
    lbl
  }

  def triangles(edges: Seq[(Long, Long)]): Long = {
    val l = edges.filter(e => e._1 < e._2).toSet
    val byA = l.groupBy(_._1)
    l.toSeq.map { case (a, b) =>
      byA.getOrElse(b, Set.empty).count { case (_, c) => l.contains((a, c)) }
    }.sum
  }

  def bfs(edges: Seq[(Long, Long)], root: Long, maxDepth: Int = 10): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = Map(root -> 0L)
    var frontier = Set(root)
    var d = 0L
    while (frontier.nonEmpty && d < maxDepth) {
      d += 1
      frontier = frontier.flatMap(v => adj.getOrElse(v, Nil)).diff(dist.keySet)
      dist ++= frontier.map(_ -> d)
    }
    dist
  }

  /** Brandes betweenness (unweighted), δ summed over the given sources. */
  def brandes(edges: Seq[(Long, Long)], verts: Seq[Long],
              sources: Seq[Long]): Map[Long, Double] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val bc = collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
    for (s <- sources) {
      val sigma = collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      val dist = collection.mutable.Map[Long, Int]()
      val order = collection.mutable.ArrayBuffer[Long]()
      sigma(s) = 1.0; dist(s) = 0
      val queue = collection.mutable.Queue(s)
      while (queue.nonEmpty) {
        val v = queue.dequeue(); order += v
        for (w <- adj.getOrElse(v, Nil)) {
          if (!dist.contains(w)) { dist(w) = dist(v) + 1; queue.enqueue(w) }
          if (dist(w) == dist(v) + 1) sigma(w) += sigma(v)
        }
      }
      val delta = collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      for (v <- order.reverse) {
        for (w <- adj.getOrElse(v, Nil) if dist.get(w).contains(dist(v) + 1))
          delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
        if (v != s) bc(v) += delta(v)
      }
    }
    verts.map(v => v -> bc(v)).toMap
  }

  /** Dijkstra over directed weighted edges — SSSP differential oracle. */
  def dijkstra(edges: Seq[(Long, Long, Double)], root: Long): Map[Long, Double] = {
    val adj = edges.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3))).toMap
    val dist = collection.mutable.Map(root -> 0.0)
    val done = collection.mutable.Set[Long]()
    val pq = collection.mutable.PriorityQueue((0.0, root))(Ordering.by(-_._1))
    while (pq.nonEmpty) {
      val (d, v) = pq.dequeue()
      if (!done(v) && dist(v) == d) {
        done += v
        for ((u, w) <- adj.getOrElse(v, Nil) if !done(u)) {
          val nd = d + w
          if (!dist.contains(u) || nd < dist(u)) { dist(u) = nd; pq.enqueue((nd, u)) }
        }
      }
    }
    dist.toMap
  }

  /** Deterministic seeded random symmetric graph. */
  def randomGraph(nVerts: Int, nEdges: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (1 to nEdges).map { _ =>
      (rnd.nextInt(nVerts).toLong, rnd.nextInt(nVerts).toLong)
    }.filter(e => e._1 != e._2).distinct
  }
}
