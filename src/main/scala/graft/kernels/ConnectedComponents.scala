package graft.kernels

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.linalg.{Select2ndMin, SpMV}

/** Connected components via FastSV-style min-label iteration
  * (reference Applications/FastSV.h:335-374; LACC semantics CC.h:1404-1544).
  *
  * Each iteration over symmetric edges:
  *   1. mngp(v)  = min over in-neighbors u of f(u)       — SpMV⟨Select2ndMin⟩
  *   2. hooking  : cand(L) = min over the tree {v : f(v)=L} of mngp(v) — the
  *      scatter-with-min-reduction of reference CC.h:746-1028 `Assign`; the
  *      candidate is folded back to EVERY tree member in the same join
  *      (hook + spread fused):  f'(v) = min(f(v), mngp(v), cand(f(v)))
  *   3. shortcut : f''(v) = min(f'(f'(v)), cand(f'(v)))  — pointer jumping
  *      (reference FastSV.h:359-366 `Extract` gather), realized against the
  *      LABEL-RESTRICTED map only (one row per live label, not per vertex);
  *      the jump target's own candidate rides along, read from the same
  *      broadcast `hooks` table as step 2.
  *
  * Per-vertex labels are monotone non-increasing and component-closed, so
  * the fixpoint is the exact min vertex id per component — LACC `LabelCC`
  * semantics.
  *
  * Scale design (what survives 1000 executors):
  *  - the edge table is persisted ONCE (pre-partitioned by src in the
  *    shuffle-join regime) — per iteration only the n-row label vector
  *    moves, never the edges;
  *  - CHANGE-VECTOR frontier (round 5): labels are monotone non-increasing,
  *    so the neighbor-min vector mngp is maintained INCREMENTALLY —
  *    mngp'(v) = min(mngp(v), min over changed neighbors u of f'(u)).
  *    Only round 1 pays the full O(E) SpMV join + aggregate; every later
  *    round scans the cached edges once sequentially (a codegen'd hash
  *    probe against the shrinking changed set) and aggregates only
  *    O(Σ deg(changed)) rows. The per-round O(E) hash aggregation — the
  *    DRAM-latency term that capped the scale-23 2→8-core pair at 0.53 —
  *    exists only while the frontier is dense. Values are integer mins,
  *    so per-round labels are bit-identical to the full recompute;
  *  - f ⋈ mngp is fused into one (v, label, mngp) state frame (round 1 of
  *    this engine joined them twice); the first mngp is the same
  *    maintenance step with every vertex counted as changed, so setup and
  *    every round share one set of plans (each distinct whole-stage plan
  *    compiles twice per call, under the driver's and the executor's class
  *    loaders);
  *  - `hooks` (one row per live label) and the shortcut `labelMap` SHRINK
  *    geometrically: once the live-label count — counted by the
  *    convergence scan until it drops under the broadcast ceiling, and
  *    never increasing — is under that ceiling, hooking and shortcutting
  *    become broadcast joins and the n-row tables stop shuffling entirely.
  *    On a web graph with a giant component this happens after round 1,
  *    cutting the serial floor from ~6 to ~2 exchanges per iteration;
  *  - convergence = no label dropped (labels are monotone, so this is the
  *    reference's unchanged-sum Allreduce test, FastSV.h:364), counted by
  *    an observed metric of the job that checkpoints the round's vector:
  *    no job of its own;
  *  - fixed cost per call: one checkpoint of the connected set, whose
  *    observed metric counts it; the edge count runs only for a snapshot
  *    store (nnz is a snapshot metric), and the per-round deltas are
  *    checkpointed and counted only on the shuffle path, the one that
  *    reads their count. Isolated vertices join the result in one left
  *    join at the end.
  */
object ConnectedComponents {

  /** Vector sizes below this use a broadcast SpMV join (the persisted edge
    * table is never re-shuffled — CombBLAS's Allgatherv analog). Measured
    * crossover (BENCH.md round 2): broadcasting the label vector wins up to
    * ~1M connected vertices; past that the per-iteration driver collect is
    * the Amdahl bottleneck and the pre-partitioned shuffle join scales. */
  val BroadcastMax = 1000000L

  /** Broadcast ceiling for the per-iteration small tables (hooks/labelMap),
    * keyed by live-label count. */
  val SmallMax: Long = PageRank.BroadcastMax

  /** Vertex-id spaces up to this size run the in-memory label-vector
    * kernel ([[BlockCC]] — one treeAggregate job per round plus free
    * driver-side full pointer compression, ~4 rounds instead of ~14);
    * beyond it the fully-distributed relational FastSV runs. 2^23 labels
    * = 32 MB per per-partition accumulator — the array path's footprint
    * is O(V) per task, which is why its ceiling sits far below
    * [[BFS.BitmapMax]]'s. */
  val ArrayMax: Long = 1L << 23

  /** @param edges symmetric (src, dst); @return (vid: long, component: long) */
  def run(edges: DataFrame, vertices: DataFrame, maxIters: Int = 50,
          broadcastMax: Long = BroadcastMax,
          arrayMax: Long = ArrayMax): DataFrame = {
    if (arrayMax > 0) {
      // Probe min ids too: negative edge ids are legal on the relational
      // FastSV path but would mis-bucket in the packed-long block build —
      // fall through to relational rather than corrupt. Only the edges'
      // ids: a vertex outside their range is isolated, its own component.
      val ids = IdRange.of(edges, "src", "dst")
      if (ids.min >= 0 && ids.max + 1 <= arrayMax)
        return BlockCC.run(edges, vertices, ids.max, maxIters = maxIters)
    }
    fastsv(edges, vertices, maxIters, broadcastMax, None, None)
  }

  /** Checkpointed FastSV: commits every iteration's label vector to `store`
    * (atomic manifest + per-partition lineage + nnz/flop metrics) and
    * resumes from the latest snapshot — the convergence state (label sum,
    * live-label count) is re-derived from the loaded vector with the same
    * one-scan aggregate the loop already runs, so a resumed run continues
    * bit-identically. Pass `stopAfter` to abandon mid-run (crash
    * simulation). Always the fully-distributed relational kernel: per-round
    * parquet commits would dominate the in-memory array kernel's 1-3 s
    * rounds, and at the scale where resumability matters (above
    * [[ArrayMax]]) the relational path is the dispatch target anyway. */
  def resumable(edges: DataFrame, vertices: DataFrame,
                store: graft.checkpoint.SnapshotStore, maxIters: Int = 50,
                broadcastMax: Long = BroadcastMax,
                stopAfter: Option[Int] = None): DataFrame =
    fastsv(edges, vertices, maxIters, broadcastMax, Some(store), stopAfter)

  private def fastsv(edges: DataFrame, vertices: DataFrame, maxIters: Int,
                     broadcastMax: Long,
                     store: Option[graft.checkpoint.SnapshotStore],
                     stopAfter: Option[Int]): DataFrame = {
    val cp = new graft.util.Checkpoints(edges.sparkSession)
    val e = edges.select("src", "dst")
    val resumed = store.flatMap(_.latest())
    // The starting vector (v, oldLabel, mngp, label) over the connected
    // vertices. Isolated vertices are their own component by construction
    // and can never change label — iterating over them only pads every
    // per-round table AND keeps the live-label count pinned above the
    // broadcast ceiling (on RMAT/web graphs a third of the id space is
    // isolated, so without this the hooks/label-map tables never become
    // broadcastable). oldLabel = ~label, so every vertex counts as changed
    // and the first mngp maintenance below is the full SpMV; mngp starts at
    // the vertex's own label, which never undercuts it in a hook. Its
    // checkpoint also counts the vertices: no job of its own.
    val (start, stats) = IdRange.observed((resumed match {
      case Some(s) => store.get.load(edges.sparkSession, s)
      case None => vertices.join(e.select(col("src").as("v")), Seq("v"), "left_semi")
        .select(col("v"), col("v").as("label"))
    }).select(col("v"), bitwise_not(col("label")).as("oldLabel"),
      col("label").as("mngp"), col("label")), "v")
    val connected = cp(start)
    val nVerts = stats()._1
    val bcast = nVerts < broadcastMax
    // The broadcast path reads the caller's edge cache when there is one.
    val eP = cp.cache(if (!bcast) e.repartition(col("src")) else e)
    // Stored edges, a snapshot metric only.
    lazy val nnz = eP.count()
    if (resumed.isEmpty) store.foreach(_.commit(connected.select(col("v"), col("label")), 0, nnz, 0L))
    // The live-label count only gates the small-table broadcasts and
    // never grows, so it is counted (one scan) only while it is at or
    // above SmallMax. A run resumed at convergence runs one more round, a
    // no-op by label monotonicity, so its labels are identical.
    var labelCount = nVerts
    def liveLabels: Seq[Column] =
      if (labelCount < SmallMax) Nil else Seq(count_distinct(col("label")))
    if (resumed.nonEmpty && liveLabels.nonEmpty)
      labelCount = connected.agg(liveLabels.head).first().getLong(0)
    def small(df: DataFrame): DataFrame =
      if (labelCount < SmallMax) broadcast(df) else df
    // (v, oldLabel, mngp, label) → (v, label, mngp): the neighbor-min mngp
    // (v) = min over neighbors u of label(u), maintained from the vertices
    // whose label changed (labels are monotone non-increasing, so the min
    // never needs un-doing). The join streams the cached edge table once
    // (sequential probe against the changed build side — never a
    // re-shuffle of the edges) and the aggregate sees only
    // O(Σ deg(changed)) rows. On the shuffle path deltas is checkpointed
    // so its ROW COUNT (≤ Σ deg(changed) distinct dsts — nChanged alone
    // does not bound it through hubs) can pick broadcast vs shuffle for
    // the state merge for free; the broadcast path always broadcasts it.
    def maintain(next: DataFrame, nChanged: Long): DataFrame = {
      val chg = next.filter(col("label") =!= col("oldLabel"))
        .select(col("v").as("cv"), col("label").as("clabel"))
      val chgJ = if (bcast || nChanged < SmallMax) broadcast(chg)
                 else chg.hint("shuffle_hash")
      val deltas = eP.join(chgJ, eP("src") === col("cv"))
        .groupBy(eP("dst").as("v")).agg(min(col("clabel")).as("d"))
      val dJ = if (bcast) broadcast(deltas) else {
        val dc = cp(deltas)
        if (dc.count() < SmallMax) broadcast(dc) else dc.hint("shuffle_hash")
      }
      cp(next.join(dJ, Seq("v"), "left")
        .select(col("v"), col("label"),
          least(col("mngp"), coalesce(col("d"), col("mngp"))).as("mngp")))
    }
    var next = connected
    var nChanged = nVerts
    var it = resumed.map(_.iteration).getOrElse(0)
    val limit = stopAfter.map(s => math.min(s, maxIters)).getOrElse(maxIters)
    while (nChanged > 0 && it < limit) {
      it += 1
      val state = maintain(next, nChanged)
      cp.freeAllExcept(state, eP)
      // 1. hook + spread: candidate per tree, folded back to all members
      //    (mngp comes from the maintained state, no per-round SpMV)
      val hooks = small(state.groupBy(col("label")).agg(min(col("mngp")).as("cand")))
      val hooked = state.join(hooks, Seq("label"), "left")
        .select(col("v"), col("label").as("oldLabel"), col("mngp"),
          least(col("label"), col("mngp"),
            coalesce(col("cand"), col("label"))).as("hlabel"))
      // 2. shortcut against the label-restricted map (small after round 1).
      // Post-hook label values are least(label, mngp, cand) — every one a
      // PRE-hook label of some vertex — so the map's domain is exactly
      // hooks' key set, already computed: the map joins the same broadcast
      // hooks table, no extra n-row distinct needed. Reading the label's
      // own candidate too (the min of the jump target's tree) keeps the
      // two joins one broadcast; it only hooks further, to a label of the
      // same component, so labels stay monotone and the fixpoint — the
      // min id per component — is the same.
      val labelMap = hooked.join(hooks, hooked("v") === hooks("label"))
        .select(col("v").as("pv"), least(col("hlabel"), col("cand")).as("glabel"))
      // (A second pointer-jump per round was tried and measured SLOWER at
      // scale-22 — the extra materialization outweighs the saved rounds.)
      // The changed-vertex count decides convergence and gates the
      // frontier broadcasts (labelCount is NOT a bound on it: one
      // surviving label can still mean millions of vertices that just
      // adopted it).
      val dropped = new Observation()
      next = cp(hooked.join(small(labelMap), col("hlabel") === col("pv"), "left")
        .select(col("v"), col("oldLabel"), col("mngp"),
          coalesce(col("glabel"), col("hlabel")).as("label"))
        .observe(dropped, count(when(col("label") =!= col("oldLabel"), 1)).as("n")))
      nChanged = dropped.get("n").asInstanceOf[Long]
      if (liveLabels.nonEmpty) labelCount = next.agg(liveLabels.head).first().getLong(0)
      // 2 flops per stored edge per round: the Select2ndMin compare folded
      // into the maintained mngp merge plus the hook/shortcut min fold.
      store.foreach(_.commit(next.select(col("v"), col("label")), it, nnz, 2L * nnz))
      cp.free(state)
    }
    // Only the final labels stay. Every vertex outside them is isolated,
    // its own component.
    cp.freeAllExcept(next)
    val labels = next.select(col("v"), col("label"))
    vertices.join(if (bcast) broadcast(labels) else labels, Seq("v"), "left")
      .select(col("v").as("vid"), coalesce(col("label"), col("v")).as("component"))
  }
}
