package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Tracked lineage truncation for iterative kernels.
  *
  * `Dataset.unpersist` is a NO-OP on a `localCheckpoint`ed frame: the
  * checkpoint's backing RDD is persisted directly on the SparkContext,
  * outside the SQL cache manager that `unpersist` talks to (verified
  * empirically on Spark 4.1 — the `getPersistentRDDs` entry survives the
  * call and the frame remains usable). A kernel that checkpoints per round
  * therefore retains every round's frame until the ContextCleaner happens
  * to GC the dropped references — non-deterministic storage pressure in a
  * long-lived session or a benchmark suite. This helper frees the backing
  * RDDs BY ID, deterministically.
  *
  * Usage: `val cp = new Checkpoints(spark)`; `cp(df)` in place of
  * `df.localCheckpoint()`; `cp.free(prev)` when a round's frame is
  * superseded; `cp.freeAllExcept(result)` before returning (the returned
  * frame stays materialized for the caller; once the caller drops it the
  * ContextCleaner reclaims that last RDD). `cp.cache(df)` in place of
  * `df.persist()` for a static operand: it persists only a frame whose
  * plan the caller has not cached, and `free`/`freeAllExcept` release
  * only what it persisted. The cache manager matches entries by plan, so
  * persisting a cached plan again only warns, and unpersisting it would
  * drop the caller's entry.
  *
  * Id attribution reads the backing RDD directly off the checkpointed
  * frame's `LogicalRDD` leaf — exact, so two instances running
  * concurrently in one SparkContext (parallel queries in a long-lived
  * session) can never capture each other's ids. [[Checkpoints.scoped]]
  * still set-diffs (it must sweep frames created by nested kernels), but
  * filters out ids registered by OTHER threads' instances, so concurrent
  * graft kernels are safe there too; only a concurrent bare `.persist()`
  * from a different query could still be swept by a scoped window.
  */
object Checkpoints {
  /** rddId → creating thread, for every frame created via
    * [[Checkpoints.apply]] — lets `scoped`'s sweep skip frames owned by
    * concurrent instances on other threads. */
  private val creators = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private[util] def register(sc: org.apache.spark.SparkContext, ids: Array[Int]): Unit = {
    if (creators.size > 4096) { // prune entries whose RDD is long gone
      val live = sc.getPersistentRDDs.keySet
      creators.keySet.removeIf(id => !live.contains(id))
    }
    val t: java.lang.Long = Thread.currentThread().getId
    ids.foreach(id => creators.put(id, t))
  }
  private[util] def deregister(ids: Array[Int]): Unit =
    ids.foreach(id => creators.remove(id))
  private[util] def ownedByOtherThread(id: Int): Boolean = {
    val t = creators.get(id)
    t != null && t.longValue != Thread.currentThread().getId
  }

  /** The persisted RDDs backing a localCheckpoint'ed frame — read off the
    * plan's LogicalRDD leaves, not diffed from global context state. */
  private[util] def backingIds(df: DataFrame): Array[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toArray

  /** Run `body`, checkpoint its result, and free every persistent RDD the
    * body created (including frames checkpointed inside callees) except
    * those backing the returned result — a storage-hygiene scope for
    * compositions of kernels whose internal checkpoints are not otherwise
    * reachable from the caller. */
  def scoped(spark: SparkSession)(body: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val res = body
    val mid = sc.getPersistentRDDs.keySet
    val out = res.localCheckpoint() // materialize free of the body's frames
    mid.diff(before)
      .filterNot(ownedByOtherThread) // a concurrent kernel's frames, not ours
      .foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
    out
  }
}

final class Checkpoints(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val owned = new java.util.IdentityHashMap[DataFrame, Array[Int]]()
  private val cached = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]())

  /** localCheckpoint + record the backing RDD ids of the new frame
    * (exact — read from the frame's own plan, never global diffing). */
  def apply(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint()
    val ids = Checkpoints.backingIds(out)
    Checkpoints.register(sc, ids)
    owned.put(out, ids)
    out
  }

  /** Persist `df` unless its plan is already cached (then the caller
    * owns that cache and it is used as is). */
  def cache(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) cached.add(df.persist())
    df
  }

  /** Free the backing RDDs of a tracked frame, or unpersist a frame
    * `cache` persisted (no-op for untracked). */
  def free(df: DataFrame): Unit = {
    val ids = owned.remove(df)
    if (ids != null) unpersistIds(ids)
    if (cached.remove(df)) df.unpersist(false)
  }

  /** Free every tracked frame except the given ones (typically the
    * returned result). */
  def freeAllExcept(keep: DataFrame*): Unit = {
    val keepSet = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]())
    keep.foreach(keepSet.add)
    val it = owned.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (!keepSet.contains(e.getKey)) { unpersistIds(e.getValue); it.remove() }
    }
    cached.removeIf { df =>
      val drop = !keepSet.contains(df)
      if (drop) df.unpersist(false)
      drop
    }
  }

  def freeAll(): Unit = freeAllExcept()

  private def unpersistIds(ids: Array[Int]): Unit = {
    Checkpoints.deregister(ids)
    ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false)))
  }
}
