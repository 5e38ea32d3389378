package graft.kernels

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maximum-cardinality bipartite matching — the reference's
  * BPMaximumMatching family (Applications/BipartiteMatchings/
  * BPMaximumMatching.h:231-458 `maximumMatching`, the Azad-Buluç
  * multi-source augmenting-path algorithm), initialized from the greedy
  * maximal matching exactly as the reference driver does
  * (BPMaximumMatching.cpp runs a maximal matching before augmenting).
  *
  * Per phase (reference's `while(matched)` loop):
  *  1. SEARCH — a level-synchronous multi-source alternating BFS from all
  *     unmatched columns at once. Per layer:
  *       - candidate rows = SpMV⟨Select2ndMin⟩ over the fringe
  *         (BPMaximumMatching.h:309): each reached row adopts ONE
  *         (parent, root), pinned to the lexicographic minimum — the
  *         reference's min-VertexType resolution made engine-neutral;
  *       - rows already owned by a tree are dropped (`parentsRow` guard);
  *       - newly reached UNMATCHED rows end augmenting paths: per root the
  *         minimum such row is recorded as its leaf, and the root's tree is
  *         pruned from the fringe (the `prune=true` path, h:375);
  *       - newly reached MATCHED rows continue the search through their
  *         mates (h:382-386 Invert): fringe' = (mate(r), root).
  *     Rows are claimed exactly once and continue through unique mates, so
  *     the union of trees explores every alternating-reachable row even
  *     though trees compete — if ANY augmenting path exists, some tree
  *     records a leaf, which is the per-phase progress guarantee.
  *  2. AUGMENT — flip matched/unmatched edges along the (vertex-disjoint:
  *     one root per column, one tree per row) paths, level-synchronously
  *     (reference AugmentLevel, h:129-156): per step, each path-end row r
  *     rematches to its parent p; p's displaced mate becomes the next
  *     path-end; a path terminates at its (unmatched) root.
  * Phases repeat until a search finds no leaf — then no augmenting path
  * exists and by Berge's theorem the matching is MAXIMUM.
  *
  * Determinism: every choice is a min over an order-free set (candidate
  * (parent, root), leaf row, fringe root), so the result is identical at
  * any parallelism and engine-replayable — the DuckDB oracle unrolls
  * phases × layers × augment steps of the same recurrence; drained loops
  * are no-op padding, so any unroll ≥ the actual depth compares equal.
  *
  * Scale: per layer two keyed aggregates plus anti-joins — the same
  * shapes as [[BipartiteMatching]]; no driver-side state beyond loop
  * counters. Matched-vertex state (`mate`, `parents`, `leaves`) moves by
  * key; the edge table is persisted once and never re-shuffled.
  */
object MaximumMatching {

  /** @param edges bipartite (r, c)
    * @return matched (r, c) pairs — a maximum-cardinality matching */
  def run(edges: DataFrame, maxPhases: Int = 40, maxLayers: Int = 60,
          init: Option[DataFrame] = None): DataFrame =
    runDetailed(edges, maxPhases, maxLayers, init)._1

  /** run() plus (phases, max search layers, max augment steps) actually
    * used — the oracle unroll depths must cover these. */
  def runDetailed(edges: DataFrame, maxPhases: Int = 40, maxLayers: Int = 60,
                  init: Option[DataFrame] = None)
      : (DataFrame, (Int, Int, Int)) = {
    val cp = new graft.util.Checkpoints(edges.sparkSession)
    val e = cp.cache(edges.select("r", "c"))
    e.count()
    val cols = cp(e.select("c").distinct())
    var mate = cp(init.getOrElse(BipartiteMatching.run(e)).select("r", "c"))
    var phase = 0
    var layersMax = 0
    var augMax = 0
    var progress = true
    while (progress && phase < maxPhases) {
      phase += 1
      // ---- search ----
      var fringe = cp(cols.join(mate.select("c"), Seq("c"), "left_anti")
        .select(col("c"), col("c").as("root")))
      var parents = cp(fringe.where(lit(false))
        .select(col("c").as("r"), col("c").as("p"), col("root")))
      var leaves = cp(fringe.where(lit(false))
        .select(col("root"), col("c").as("leaf")))
      var fringeSize = fringe.count()
      var layer = 0
      while (fringeSize > 0 && layer < maxLayers) {
        layer += 1
        // each reached row adopts the lexicographically-min (parent, root)
        val cand = e.join(fringe, Seq("c"))
          .groupBy("r")
          .agg(min(struct(col("c").as("p"), col("root"))).as("m"))
          .select(col("r"), col("m.p").as("p"), col("m.root").as("root"))
        val newr = cp(cand.join(parents.select("r"), Seq("r"), "left_anti"))
        val prevParents = parents
        parents = cp(parents.unionByName(newr))
        cp.free(prevParents)
        // unmatched new rows end augmenting paths: min row per root
        val newLeaves = cp(newr.join(mate.select("r"), Seq("r"), "left_anti")
          .groupBy("root").agg(min(col("r")).as("leaf"))
          .join(leaves.select("root"), Seq("root"), "left_anti"))
        val prevLeaves = leaves
        leaves = cp(leaves.unionByName(newLeaves))
        cp.free(prevLeaves)
        // matched new rows continue through their mates; trees that just
        // found a leaf are pruned
        val prevFringe = fringe
        fringe = cp(newr
          .join(mate.withColumnRenamed("c", "cm"), Seq("r"))
          .join(leaves.select("root"), Seq("root"), "left_anti")
          .groupBy(col("cm").as("c")).agg(min(col("root")).as("root")))
        cp.free(prevFringe); cp.free(newr); cp.free(newLeaves)
        fringeSize = fringe.count()
      }
      layersMax = math.max(layersMax, layer)
      cp.free(fringe)
      // ---- augment ----
      var aug = cp(leaves.select(col("leaf").as("r")))
      var augSize = aug.count()
      progress = augSize > 0
      var steps = 0
      while (augSize > 0) {
        steps += 1
        val pr = cp(aug.join(parents, Seq("r")).select("r", "p"))
        val displaced = mate.select(col("r").as("rm"), col("c").as("cm"))
        val nextAug = cp(pr.join(displaced, col("p") === col("cm"))
          .select(col("rm").as("r")))
        val prevMate = mate
        mate = cp(mate.join(pr.select("r"), Seq("r"), "left_anti")
          .join(pr.select(col("p").as("c")), Seq("c"), "left_anti")
          .unionByName(pr.select(col("r"), col("p").as("c"))))
        cp.free(prevMate); cp.free(pr); cp.free(aug)
        aug = nextAug
        augSize = aug.count()
      }
      augMax = math.max(augMax, steps)
      cp.free(aug); cp.free(parents); cp.free(leaves)
    }
    cp.freeAllExcept(mate)
    (mate.select("r", "c"), (phase, layersMax, augMax))
  }
}
