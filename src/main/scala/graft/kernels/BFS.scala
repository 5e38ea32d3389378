package graft.kernels

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Direction-optimizing BFS — the reference's flagship Graph500 kernel
  * (top-down: TopDownBFS.cpp:427-466; direction-optimizing:
  * DirOptBFS.cpp:374-415 with the bottom-up probe of BFSFriends.h:458-565
  * over the BitMapFringe).
  *
  * Per level the fringe advances by ONE of two result-identical steps:
  *
  *  - TOP-DOWN (sparse fringe): next = distinct dst of edges whose src is
  *    in the fringe, minus visited — the SpMSpV⟨Select2nd,min⟩ of reference
  *    ParFriends.h:1738-1895 (with a single root every fringe vertex holds
  *    the same level, so the min collapses to a distinct). The fringe side
  *    of the join is BROADCAST only while it is genuinely sparse
  *    (< broadcastMax, the same dense/sparse switch as
  *    [[PageRank.BroadcastMax]]); past that it degrades to a shuffle-hash
  *    join — never an unconditional driver collect of an O(V) fringe.
  *
  *  - BOTTOM-UP (saturated fringe): on a web graph the mid-BFS fringe
  *    touches most edges, so instead the (now small) UNVISITED remainder
  *    probes its in-edges: keep only edges INTO unvisited vertices (a semi
  *    join that broadcasts the small unvisited set), then keep those whose
  *    src is in the fringe. Work is O(edges into unvisited), not
  *    O(fringe · deg) — Beamer's asymmetry, reference DirOptBFS.cpp:374-415.
  *
  * The switch mirrors the reference's fringe-density heuristic: bottom-up
  * when |unvisited| ≤ alpha · |fringe|. Both steps compute the identical
  * next fringe, so the heuristic affects cost only, never the result.
  * The "minus visited" step is the EWiseMult(exclude) anti-join
  * (reference ParFriends.h:2257, TopDownBFS.cpp:441).
  */
object BFS {

  /** Fringe sizes below this broadcast into the top-down join; above it the
    * broadcast build (a serial driver collect) is the Amdahl bottleneck and
    * the shuffle-hash join wins. */
  val BroadcastMax: Long = PageRank.BroadcastMax

  /** Vertex-id spaces up to this size run the block-bitmap kernel
    * ([[BlockBFS]] — one job per level instead of 3-4 relational jobs);
    * beyond it (or when a spec forces a relational direction with
    * `bitmapMax = 0`) the fully-distributed relational path runs. 2^27
    * vertices = 16 MB of bitmap — far below driver limits; 10^12 vertices
    * is not, which is why the relational path stays the general case. */
  val BitmapMax: Long = 1L << 27

  /** Below this vertex count the relational broadcast path wins: the
    * bitmap kernel's one-time block build (a full edge shuffle) cannot
    * amortize over a toy traversal (measured +1.2 s at sf0.1's 20k
    * vertices), while broadcast-joining a tiny fringe is already near the
    * per-level job floor. */
  val BitmapMin: Long = 1L << 17

  /** Levels from `root`, capped at `maxDepth`; unreached vertices omitted.
    * @param edges symmetric (src, dst)
    * @param alpha direction switch: bottom-up when |unvisited| ≤ alpha·|fringe|
    *              (0 forces pure top-down; Double.MaxValue forces bottom-up
    *              after level 0 — both used by the equivalence spec)
    * @return (vid: long, dist: long) */
  def levels(edges: DataFrame, root: Long, maxDepth: Int = 10,
             broadcastMax: Long = BroadcastMax,
             alpha: Double = 2.0,
             bitmapMax: Long = BitmapMax): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    if (bitmapMax > 0 && maxDepth <= 127) {
      // An empty edge set (e.g. filtered_bfs with a predicate that drops
      // every edge) and negative ids (legal on the relational path, but
      // they would mis-bucket in the packed-long block build) both fall
      // through to relational.
      val ids = IdRange.of(edges, "src", "dst")
      if (root >= 0 && ids.min >= 0 && ids.max >= BitmapMin && ids.max < bitmapMax)
        return BlockBFS.levels(edges, root, maxDepth)
    }
    fringeLoop(Seq((root, 0L)).toDF("v", "dist"), edges, maxDepth,
      broadcastMax, alpha, parentAgg = None)
      .select(col("v").as("vid"), col("dist"))
  }

  /** BFS parent tree from `root` — the reference's BFS contract
    * (TopDownBFS.cpp:448-466 returns parents and validates the tree; the
    * Graph500 spec requires the parent array, not levels).
    *
    * parent(v) = MIN neighbor of v in the previous fringe (pinned
    * tiebreak — the reference's MPI race picks an arbitrary valid parent;
    * min is one of those, engine-replayable). parent(root) = root.
    * Same direction-optimizing loop as [[levels]]; the only difference is
    * the fringe aggregate carries min(src) instead of a distinct.
    *
    * With `seed = Some(s)` the parent pick becomes the reference's
    * RandomParentBFS (Applications/RandomParentBFS.cpp randomly selects
    * among discoverers): argmin of md5(s:src) — a seeded shuffle of the
    * candidate order that is engine-replayable (same md5 trick as MIS
    * priorities), while every Graph500 validator check still holds for
    * the resulting tree.
    *
    * @return (vid, parent, dist) for reached vertices */
  def parents(edges: DataFrame, root: Long, maxDepth: Int = 10,
              broadcastMax: Long = BroadcastMax,
              alpha: Double = 2.0, seed: Option[Long] = None,
              pickMax: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parentAgg = seed match {
      case Some(s) =>
        min(struct(md5(concat_ws(":", lit(s), col("src"))).as("pri"),
          col("src"))).getField("src").as("parent")
      case None =>
        // pickMax mirrors the SelectMaxSRing parent pick of the
        // SingleChildBFS driver (reference SingleChildBFS.cpp:118,277)
        if (pickMax) max(col("src")).as("parent")
        else min(col("src")).as("parent")
    }
    fringeLoop(Seq((root, root, 0L)).toDF("v", "parent", "dist"), edges,
      maxDepth, broadcastMax, alpha, Some(parentAgg))
      .select(col("v").as("vid"), col("parent"), col("dist"))
  }

  /** The direction-optimizing loop of [[levels]] and [[parents]], from
    * the one-row visited frame `start` (v, [parent,] dist). Each level
    * takes the edges out of the fringe, then either the distinct dsts
    * (`parentAgg = None`) or one `parentAgg` over the srcs per dst.
    * @return visited (v, [parent,] dist), materialized */
  private def fringeLoop(start: DataFrame, edges: DataFrame, maxDepth: Int,
                         broadcastMax: Long, alpha: Double,
                         parentAgg: Option[Column]): DataFrame = {
    val cp = new graft.util.Checkpoints(edges.sparkSession)
    // Static operands built once: the edge table and the probe universe
    // (every vertex with at least one in-edge — symmetric edges, so src
    // covers it; isolated vertices are unreachable by construction).
    val e = cp.cache(edges.select("src", "dst"))
    val universe = cp.cache(e.select(col("src").as("v")).distinct())
    val nAll = universe.count()

    var visited = cp(start)
    var frontier = visited.select("v")
    var frontierBack: DataFrame = null
    var depth = 0
    var frontierSize = 1L
    var visitedCount = 1L
    while (frontierSize > 0 && depth < maxDepth) {
      depth += 1
      val unvisitedCount = nAll - visitedCount // upper bound on reachable-unvisited
      val bottomUp = unvisitedCount <= alpha * frontierSize
      val fringeEdges =
        if (bottomUp) {
          // unvisited probe their in-edges for a fringe parent
          val unvisited = universe.join(visited.select("v"), Seq("v"), "left_anti")
          e.join(unvisited.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
            .join(frontier.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
        } else {
          // top-down SpMSpV: adaptive broadcast of the sparse fringe
          val fsrc = frontier.withColumnRenamed("v", "src")
          val fx = if (frontierSize < broadcastMax) broadcast(fsrc)
                   else fsrc.hint("shuffle_hash")
          e.join(fx, Seq("src"), "left_semi")
        }
      val reached = parentAgg match {
        case None => fringeEdges.select(col("dst").as("v")).distinct()
        case Some(agg) => fringeEdges.groupBy(col("dst").as("v")).agg(agg)
      }
      // bottom-up reaches only unvisited vertices; top-down must exclude
      // the visited ones
      val nextV = if (bottomUp) reached
                  else reached.join(visited.select("v"), Seq("v"), "left_anti")
      val next = cp(nextV.withColumn("dist", lit(depth.toLong)))
      frontierSize = next.count()
      if (frontierSize > 0) {
        val prev = visited
        visited = cp(visited.union(next))
        visitedCount += frontierSize
        cp.free(prev)
        // the previous level's frame fed nextV, which is materialized now
        if (frontierBack ne null) cp.free(frontierBack)
        frontierBack = next
        frontier = next.select("v")
      } else cp.free(next)
    }
    // Frees the edge and universe caches made here and the per-level
    // `next` frames; only the final visited frame (the result) stays
    // materialized for the caller.
    cp.freeAllExcept(visited)
    visited
  }

  /** Single-child BFS (reference Applications/SingleChildBFS.cpp:273-285):
    * a SelectMax-parent BFS where each level additionally reduces the new
    * fringe to ONE child per parent — `fringe.Uniq(RandReduce)`, the
    * "single child frontier". The reference's RandReduce pick is pinned to
    * argmin md5(seed:child) (engine-replayable, same trick as
    * RandomParentBFS), and because the per-level fringe is exactly the
    * tree rows at that dist, the Uniq is a single group-by over the final
    * tree — no extra per-level pass.
    *
    * @return (parent, dist, child) — one row per (parent, level) that
    *         discovered at least one vertex */
  def singleChild(edges: DataFrame, root: Long, seed: Long = 42L,
                  maxDepth: Int = 10): DataFrame = {
    val tree = parents(edges, root, maxDepth, pickMax = true)
    tree.where(col("vid") =!= root)
      .groupBy("parent", "dist")
      .agg(min(struct(md5(concat_ws(":", lit(seed), col("vid"))).as("pri"),
        col("vid").as("vid"))).getField("vid").as("child"))
      .select("parent", "dist", "child")
  }

  /** Graph500-style tree validation (reference TopDownBFS.cpp:448-466 and
    * the Graph500 spec's five checks). Returns (check, violations) — all
    * zeros for a valid tree:
    *  1. root_ok      — parent(root) = root, dist(root) = 0
    *  2. level_ok     — dist(v) = dist(parent(v)) + 1 for v ≠ root
    *  3. tree_edge_ok — every (parent(v), v) is a graph edge
    *  4. span_ok      — every graph edge between reached vertices spans
    *                    at most one level
    *  5. reach_ok     — no graph edge connects a reached vertex to an
    *                    unreached one (the tree covers root's component)
    */
  def validateParents(edges: DataFrame, tree: DataFrame, root: Long): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val cp = new graft.util.Checkpoints(spark)
    val t = cp.cache(tree.select(col("vid"), col("parent"), col("dist")))
    val rootRows = t.where(col("vid") === root)
    val rootBad = rootRows.where(col("parent") =!= root || col("dist") =!= 0L)
      .count() + (if (rootRows.count() == 1L) 0L else 1L)
    val pd = t.select(col("vid").as("parent"), col("dist").as("pdist"))
    val levelBad = t.where(col("vid") =!= root)
      .join(pd, Seq("parent"), "left")
      .where(col("pdist").isNull || col("dist") =!= col("pdist") + 1L).count()
    val treeEdgeBad = t.where(col("vid") =!= root)
      .join(edges.select(col("src").as("parent"), col("dst").as("vid")),
        Seq("parent", "vid"), "left_anti").count()
    val d1 = t.select(col("vid").as("src"), col("dist").as("sd"))
    val d2 = t.select(col("vid").as("dst"), col("dist").as("dd"))
    val spanBad = edges.join(d1, Seq("src")).join(d2, Seq("dst"))
      .where(abs(col("sd") - col("dd")) > 1L).count()
    val reachBad = edges.join(d1, Seq("src"))
      .join(t.select(col("vid").as("dst")), Seq("dst"), "left_anti").count()
    cp.freeAll()
    Seq(("root_ok", rootBad), ("level_ok", levelBad),
      ("tree_edge_ok", treeEdgeBad), ("span_ok", spanBad),
      ("reach_ok", reachBad)).toDF("check", "violations")
  }
}
