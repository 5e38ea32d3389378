package graft.kernels

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.checkpoint.SnapshotStore
import graft.util.Checkpoints

/** PageRank over the (+, *) semiring — the flagship SpMV iteration.
  *
  * Semantics follow the reference implementation bundled with CombBLAS
  * (Applications/CC_ipdps18/HPCGraph/0.1/pagerank.cpp:59-182): damping
  * d = 0.85, init 1/n, out-degree normalization, dangling-vertex mass
  * redistributed uniformly each iteration:
  *   pr'(v) = (1-d)/n + d * (Σ_{(u,v)∈E} pr(u)/outdeg(u) + sinkSum/n)
  *
  * Scale design (the plan you'd want at 1000 executors):
  *  - STATIC operands built once: the degree-normalized edge table
  *    (w = 1/outdeg — DimApply, reference SpParMat.cpp:801-887), persisted,
  *    and one per-vertex table (out-degree, has-in-edge) from ONE
  *    aggregate over one scan of the edges and the vertex list,
  *    checkpointed; the dangling and no-in-edge sets are filters of it.
  *    Per iteration only the rank vector moves — the analog of building
  *    DCSC once (reference SpParMat.cpp:2893). Setup is one action per
  *    call: the per-vertex checkpoint, whose observed metrics give n, the
  *    dangling counts, the id range and nnz; the edge cache fills in the
  *    first iteration;
  *  - fixed cost per call: each distinct whole-stage plan compiles twice
  *    (driver and executor class loaders), so the iterations share one set
  *    of plans — the initial and every later vector have the same schema,
  *    nullability included — and setup runs no count or stats query;
  *  - the rank vector is BROADCAST into the SpMV join when it fits
  *    (vertices < broadcastMax): the edge table is never re-shuffled, which
  *    is exactly CombBLAS's dense-vector Allgatherv down the process column
  *    (reference ParFriends.h:1938-2010). Past the threshold it degrades to
  *    a shuffle hash join and AQE takes over;
  *  - the contribution aggregate is map-side combined (their per-process
  *    local SpMV + MPI_Reduce along the proc row);
  *  - dangling mass: one semi-join aggregate on the cached vector, folded
  *    back lazily via a broadcast 1-row cross join — no driver action in
  *    the loop;
  *  - `localCheckpoint` truncates lineage every iteration so planning cost
  *    stays O(1) in iteration count;
  *  - [[resumable]] commits every iteration to a [[SnapshotStore]]
  *    (Iceberg-style manifest, per-partition lineage, nnz/flop metrics) and
  *    restarts from the latest snapshot.
  */
object PageRank {

  /** Vector sizes below this use a broadcast SpMV join. Above it, the
    * broadcast build (a serial driver-side collect) becomes the Amdahl
    * bottleneck, so the pre-partitioned shuffle join wins — the same
    * dense/sparse switch the reference hand-rolls (CC.h:1256-1294). */
  val BroadcastMax = 200000L

  /** @return (vid: long, pr: double rounded to 6 decimals) */
  def run(edges: DataFrame, vertices: DataFrame, iters: Int = 10,
          d: Double = 0.85): DataFrame =
    runExact(edges, vertices, iters, d)
      .select(col("v").as("vid"), round(col("r"), 6).as("pr"))

  private case class Ctx(edgesNorm: DataFrame,
                         dangling: DataFrame, noInbound: DataFrame,
                         n: Long, nnz: Long, bcast: Boolean,
                         /** persisted edge-cache id width: "int" when every
                           * id fits 2^31 (cuts the per-iteration DRAM scan
                           * of the cached table — the measured wall at
                           * scale-23 — from 24 to 12 bytes/edge), "bigint"
                           * beyond. */
                         idType: String,
                         /** #dangling when every dangling vertex is isolated
                           * (no in-edges) — then the sink mass follows a
                           * closed-form driver-side recurrence and the
                           * per-iteration sink aggregation job disappears.
                           * None → general semi-join path. */
                         isolatedSinks: Option[Long])

  /** One action: the checkpoint of the per-vertex table, whose observed
    * metrics size the run. The edge cache fills in the first iteration. */
  private def prepare(cp: Checkpoints, edges: DataFrame, vertices: DataFrame,
                      broadcastMax: Long): Ctx = {
    // (v, outdeg, hasIn, nv) over the edge endpoints and the vertex list;
    // nv counts v's rows in `vertices`. Both endpoints come from one scan
    // of the edges.
    def side(v: Column, od: Int, in: Int, nv: Int) =
      struct(v.as("v"), lit(od).as("od"), lit(in).as("in"), lit(nv).as("nv"))
    val inV = col("nv") > 0
    val isSink = inV && col("outdeg") === 0
    val endpoint = col("outdeg") > 0 || col("hasIn") > 0
    val stats = new Observation()
    val deg = cp(edges.select(explode(array(side(col("src"), 1, 0, 0),
        side(col("dst"), 0, 1, 0))).as("e")).select("e.*")
      .unionByName(vertices.select(side(col("v"), 0, 0, 1).as("e")).select("e.*"))
      .groupBy(col("v"))
      .agg(sum(col("od")).as("outdeg"), max(col("in")).as("hasIn"),
        sum(col("nv")).as("nv"))
      .observe(stats, coalesce(sum(col("nv")), lit(0L)).as("n"),
        count(when(isSink, 1)).as("sinks"),
        count(when(isSink && col("hasIn") > 0, 1)).as("sinksWithIn"),
        coalesce(min(when(endpoint, col("v"))), lit(0L)).as("lo"),
        coalesce(max(when(endpoint, col("v"))), lit(-1L)).as("hi"),
        // Every edge row is one out-degree count of its src.
        coalesce(sum(col("outdeg")), lit(0L)).as("nnz")))
    val stat = stats.get.map { case (k, x) => k -> x.asInstanceOf[Long] }
    val (n, kDangling, danglingWithIn) = (stat("n"), stat("sinks"), stat("sinksWithIn"))
    // Int-pack when ids fit: (src, dst, od) as 3 ints = 12 bytes/edge in
    // the columnar cache vs (long, long, double)'s 24. w = 1.0/od computed
    // at scan time is the SAME double the old cache stored, so results are
    // bit-identical; the division is pipelined compute on a scan that is
    // DRAM-bandwidth-bound, so halving the bytes is a straight win.
    val idType = if (IdRange(stat("lo"), stat("hi")).fitsInt) "int" else "bigint"
    // Pre-partitioned by src ONCE: in the shuffle-join path only the rank
    // vector moves per iteration (the 2D-distribution-built-once analog).
    // The out-degree is joined from its own aggregate, not from `deg`:
    // this join's plan, and with it each partition's edge order and so
    // the add order of every contribution sum, stays what it always was.
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edgesNorm = edges.join(outdeg, "src")
      .select(col("src").cast(idType).as("src"),
        col("dst").cast(idType).as("dst"),
        col("outdeg").cast(idType).as("od"))
      .repartition(col("src"))
      .persist()
    // Broadcast by its exact size, not by the estimate of all of `deg`.
    val sinks = deg.filter(isSink).select(col("v"))
    // Vertices with no in-edges are STATIC: their new rank needs no join,
    // only the per-iteration sink scalar — so the assembly is a union, not
    // a verts-wide join.
    val noInbound = deg.filter(inV && col("hasIn") === 0).select(col("v"))
    val iso = if (danglingWithIn == 0) Some(kDangling) else None
    Ctx(edgesNorm, if (kDangling < broadcastMax) broadcast(sinks) else sinks,
      noInbound, n, stat("nnz"), n < broadcastMax, idType, iso)
  }

  /** One synchronous iteration (pure function of the previous vector).
    * `sinkIn` is the current dangling mass when the closed-form recurrence
    * applies (isolated sinks); None → compute it with a semi-join agg. */
  private def step(ctx: Ctx, pr: DataFrame, d: Double,
                   sinkIn: Option[Double]): DataFrame = {
    // shuffle_hash on the vector side: build the hash table from the small
    // rank vector and stream the static edge table — never sort-merge
    // (sorting 16M cached edge rows per iteration is pure waste). The rank
    // vector is projected to the cache's id width FIRST so the join keys
    // match natively — a cast on the edge side would both widen the probe
    // and break reuse of the build-once src partitioning.
    val prW = pr.select(col("v").cast(ctx.idType).as("v"), col("r"))
    val x = if (ctx.bcast) broadcast(prW) else prW.hint("shuffle_hash")
    val contribs = ctx.edgesNorm.join(x, ctx.edgesNorm("src") === x("v"))
      .groupBy(ctx.edgesNorm("dst").as("v"))
      .agg(sum((lit(1.0) / col("od")) * col("r")).as("s"))
      .select(col("v").cast("long").as("v"), col("s"))
    val sink = sinkIn match {
      case Some(sv) =>
        val spark = pr.sparkSession
        import spark.implicits._
        broadcast(Seq(sv).toDF("sinkSum"))
      case None =>
        broadcast(pr.join(ctx.dangling, Seq("v"), "left_semi")
          .agg(coalesce(sum(col("r")), lit(0.0)).as("sinkSum")))
    }
    // Never null (n > 0): the coalesce only makes r non-nullable, as in
    // the initial vector, so every iteration reads the vector through the
    // same generated code.
    def formula(s: org.apache.spark.sql.Column) =
      coalesce(lit((1 - d) / ctx.n) + lit(d) * (s + col("sinkSum") / ctx.n), lit(0.0))
    contribs.crossJoin(sink).select(col("v"), formula(col("s")).as("r"))
      .unionByName(ctx.noInbound.crossJoin(sink)
        .select(col("v"), formula(lit(0.0)).as("r")))
  }

  /** Driver-side sink recurrence for isolated sinks: every isolated vertex
    * holds rank r_iso; sink' = k · ((1−d)/n + d·sink/n). */
  private def nextSink(ctx: Ctx, sink: Double, d: Double): Double =
    ctx.isolatedSinks.map(k => k * ((1 - d) / ctx.n + d * sink / ctx.n)).getOrElse(0.0)

  /** Unrounded ranks (v: long, r: double). */
  def runExact(edges: DataFrame, vertices: DataFrame, iters: Int,
               d: Double, broadcastMax: Long = BroadcastMax): DataFrame =
    iterate(edges, vertices, iters, d, broadcastMax, None, None)

  /** Checkpointed run: commits every iteration's vector to `store` and
    * resumes from the latest snapshot. Pass `stopAfter` to abandon the run
    * mid-way (crash simulation / test).
    * @return (v, r) at the last completed iteration ≤ iters */
  def resumable(edges: DataFrame, vertices: DataFrame, store: SnapshotStore,
                iters: Int = 10, d: Double = 0.85,
                stopAfter: Option[Int] = None): DataFrame =
    iterate(edges, vertices, iters, d, BroadcastMax, Some(store), stopAfter)

  private def iterate(edges: DataFrame, vertices: DataFrame, iters: Int,
                      d: Double, broadcastMax: Long,
                      store: Option[SnapshotStore],
                      stopAfter: Option[Int]): DataFrame = {
    val spark = edges.sparkSession
    val cp = new Checkpoints(spark)
    val ctx = prepare(cp, edges, vertices, broadcastMax)
    val resumed = store.flatMap(_.latest())
    var pr = resumed match {
      case Some(s) => cp(store.get.load(spark, s))
      case None =>
        val init = cp(vertices.select(col("v"), lit(1.0 / ctx.n).as("r")))
        store.foreach(_.commit(init, 0, ctx.nnz, 0L))
        init
    }
    val from = resumed.map(_.iteration).getOrElse(0)
    // On resume the sink mass is recovered with a one-time aggregate.
    var sink: Option[Double] = ctx.isolatedSinks.map { k =>
      if (from == 0) k * (1.0 / ctx.n)
      else pr.join(ctx.dangling, Seq("v"), "left_semi")
        .agg(coalesce(sum(col("r")), lit(0.0))).first().getDouble(0)
    }
    val limit = stopAfter.map(s => math.min(s, iters)).getOrElse(iters)
    for (iter <- from + 1 to limit) {
      val prev = pr
      pr = cp(step(ctx, pr, d, sink))
      sink = sink.map(s => nextSink(ctx, s, d))
      // 2 flops per stored edge per SpMV iteration (multiply + add).
      store.foreach(_.commit(pr, iter, ctx.nnz, 2L * ctx.nnz))
      cp.free(prev)
    }
    ctx.edgesNorm.unpersist(false)
    cp.freeAllExcept(pr)
    pr
  }
}
