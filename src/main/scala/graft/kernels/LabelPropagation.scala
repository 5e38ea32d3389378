package graft.kernels

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation with the argmax-count "semiring"
  * (reference Applications/CC_ipdps18/HPCGraph/0.1/labelprop.cpp:67-260).
  *
  * Per round, every vertex adopts the label most frequent among its
  * neighbors (edges are symmetric, so in+out neighbors as in the
  * reference); vertices with no neighbors keep their own label
  * (labelprop.cpp keep-own semantics). The reference's tiebreak is
  * hash-map iteration order (labelprop.cpp:227 `get_max_key`) — an
  * unspecified order — so we PIN the deterministic tiebreak
  * (max count, then min label) and encode the same rule in the oracle.
  *
  * Scale design: the edge table is persisted ONCE — partitioned by dst in
  * the broadcast regime, so the round's join and both aggregates (keyed by
  * dst) run in one stage with no exchange, and by src in the shuffle-join
  * regime, so only the label vector moves. Setup is the checkpoint of the
  * starting vector, whose observed metrics give the vertex count and id
  * range; the edge cache fills inside round 1, and the edge count runs
  * only for a snapshot store (nnz is a snapshot metric).
  * The count-then-argmax is two aggregates, both partially combinable:
  * the argmax is the max of one key that orders by (count, −label). On
  * the int-id path that key is a packed long, (count << 32) |
  * (Int.MaxValue − label), which a hash aggregate maxes; ids of 2^31 and
  * above keep the struct (count, −label), whose lexicographic order is the
  * same rule but plans a sort-based aggregate. A row_number window would
  * force a per-vertex sort instead. A fixed round count keeps the result
  * well-defined (synchronous LP may oscillate).
  */
object LabelPropagation {

  /** Vector sizes below this broadcast into the edge join; above it the
    * labels shuffle to the src-partitioned edge table (only the 8-byte
    * label rows move — the per-round broadcast is a serial term that does
    * not shrink with executors, so at-scale runs want the shuffle path). */
  val BroadcastMax = 5000000L

  /** @param edges symmetric (src, dst) between `vertices`
    * @return (vid: long, label: long) */
  def run(edges: DataFrame, vertices: DataFrame, rounds: Int = 5,
          broadcastMax: Long = BroadcastMax): DataFrame =
    lp(edges, vertices, rounds, broadcastMax, None, None)

  /** Checkpointed run: commits every round's label vector to `store`
    * (atomic manifest + per-partition lineage + nnz/flop metrics) and
    * resumes from the latest snapshot. Rounds are pure functions of the
    * previous vector, so a resumed run is bit-identical to an
    * uninterrupted one. Pass `stopAfter` to abandon mid-run (crash
    * simulation). */
  def resumable(edges: DataFrame, vertices: DataFrame,
                store: graft.checkpoint.SnapshotStore, rounds: Int = 5,
                stopAfter: Option[Int] = None): DataFrame =
    lp(edges, vertices, rounds, BroadcastMax, Some(store), stopAfter)

  private def lp(edges: DataFrame, vertices: DataFrame, rounds: Int,
                 broadcastMax: Long,
                 store: Option[graft.checkpoint.SnapshotStore],
                 stopAfter: Option[Int]): DataFrame = {
    val cp = new graft.util.Checkpoints(edges.sparkSession)
    val resumed = store.flatMap(_.latest())
    // The checkpoint of the starting vector also counts the vertices and
    // bounds their ids, which size the broadcast and the id width. Edge
    // endpoints are vertices, so the vertex ids bound the edge ids and
    // every label: both are cast to the same width below.
    val (start, stats) = IdRange.observed(resumed match {
      case Some(s) => store.get.load(edges.sparkSession, s)
      case None => vertices.select(col("v"), col("v").as("label"))
    }, "v")
    var labels = cp(start)
    val (n, ids) = stats()
    val bcast = n < broadcastMax
    // Int-pack the persisted edge cache when ids fit 2^31: the per-round
    // join + aggregate streams this table, and it is DRAM-bound at scale —
    // 8 bytes/edge instead of 16. The label vector is projected to the
    // same width before the join (cast on the edge side would break reuse
    // of the build-once partitioning); counts and the argmax key are exact
    // integer ops at either width, so results are identical.
    val idType = if (ids.fitsInt) "int" else "bigint"
    val ePacked = edges.select(col("src").cast(idType).as("src"),
      col("dst").cast(idType).as("dst"))
    // Broadcast regime: partitioned by dst, so both per-round aggregates
    // (keyed by dst) run in the join's own stage with no exchange.
    // Shuffle regime: partitioned by src, so only the labels move.
    val e = ePacked.repartition(col(if (bcast) "dst" else "src")).persist()
    // Stored edges, a snapshot metric only.
    lazy val nnz = e.count()
    if (resumed.isEmpty) store.foreach(_.commit(labels, 0, nnz, 0L))
    // argmax-count with (max c, min label) tiebreak as the max of one key.
    // Int ids: the count in the high 32 bits above Int.MaxValue − label
    // (≥ 1, as every int-path id is below Int.MaxValue), a long that a
    // hash aggregate maxes. Wider ids: the struct (c, −label) — labels are
    // nonneg vertex ids and structs order lexicographically.
    val (argmaxKey, labelOf) =
      if (ids.fitsInt) {
        val low = lit(Int.MaxValue.toLong)
        (shiftleft(col("c"), 32).bitwiseOR(low - col("label")),
          low - col("m").bitwiseAND(lit(0xffffffffL)))
      } else (struct(col("c"), (-col("label")).as("nl")), -col("m.nl"))
    val from = resumed.map(_.iteration).getOrElse(0)
    val limit = stopAfter.map(s => math.min(s, rounds)).getOrElse(rounds)
    for (round <- from + 1 to limit) {
      val lbl = labels.select(col("v").cast(idType).as("src"),
        col("label").cast(idType).as("label"))
      val counts = e.join(if (bcast) broadcast(lbl) else lbl.hint("shuffle_hash"), Seq("src"))
        .groupBy(col("dst").as("v"), col("label"))
        .agg(count(lit(1)).as("c"))
      val best = counts.groupBy("v").agg(max(argmaxKey).as("m"))
        .select(col("v").cast("long").as("v"), labelOf.cast("long").as("newLabel"))
      val prev = labels
      labels = cp(labels.join(if (bcast) broadcast(best) else best, Seq("v"), "left")
        .select(col("v"), coalesce(col("newLabel"), col("label")).as("label")))
      // 2 flops per stored edge per round: the count accumulate plus the
      // argmax compare.
      store.foreach(_.commit(labels, round, nnz, 2L * nnz))
      cp.free(prev)
    }
    e.unpersist(false)
    cp.freeAllExcept(labels)
    labels.select(col("v").as("vid"), col("label"))
  }
}
