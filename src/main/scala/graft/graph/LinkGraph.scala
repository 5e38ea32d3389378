package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deterministic link graph used by the correctness gate.
  *
  * Edge relation: two parts are linked iff they co-occur in some order
  * (lineitem self-join on l_orderkey). The result is symmetric by
  * construction, deduplicated, and self-loop free — the Spark analog of
  * CombBLAS's edge-list → matrix build, where `SparseCommon`
  * (reference SpParMat.cpp:2893-2973) merges duplicate triples and the
  * SpParMat ctor removes loops (reference SpParMat.h:86).
  *
  * The same relation is expressed in ANSI SQL by
  * [[graft.oracle.GraphOracles.edgesCte]] so DuckDB can act as the oracle.
  *
  * Scale notes: the self-join shuffles on l_orderkey only once; `distinct`
  * is a hash aggregate on (src,dst) that AQE coalesces. At web scale the
  * same shape is produced by the pages→links extractor
  * ([[graft.pages.Extract]]) followed by dictionary encoding
  * ([[graft.graph.Dictionary]]).
  */
object LinkGraph {

  /** Per-(session, dir) cache of the derived relations: a multi-query run
    * (the Verify gate, the bench) otherwise re-executes the lineitem
    * self-join for every kernel. Bounded: past `CacheMax` entries the
    * oldest is unpersisted and dropped (a long-lived service iterating
    * over many sf dirs stays at a constant persisted footprint). */
  val CacheMax = 12

  private val cache =
    new java.util.LinkedHashMap[(SparkSession, String, String), DataFrame](16, 0.75f, false) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String, String), DataFrame]): Boolean = {
        val evict = size() > CacheMax
        if (evict) e.getValue.unpersist(blocking = false)
        evict
      }
    }

  private def cached(spark: SparkSession, dir: String, key: String)
                    (build: => DataFrame): DataFrame = cache.synchronized {
    val k = (spark, dir, key)
    val hit = cache.get(k)
    if (hit != null) hit
    else { val df = build.persist(); cache.put(k, df); df }
  }

  /** Drop and unpersist every cached relation (tests / session teardown). */
  def clearCache(): Unit = cache.synchronized {
    cache.values().forEach(_.unpersist(false))
    cache.clear()
  }

  /** Unweighted symmetric edges (src: long, dst: long). */
  def edges(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "edges") {
      val li = Tables.lineitem(spark, dir).select(col("l_orderkey").as("ok"), col("l_partkey"))
      val a = li.select(col("ok"), col("l_partkey").as("src"))
      val b = li.select(col("ok"), col("l_partkey").as("dst"))
      a.join(b, "ok")
        .where(col("src") =!= col("dst"))
        .select("src", "dst")
        .distinct()
    }

  /** Weighted edges: w = number of distinct orders the pair co-occurs in. */
  def weightedEdges(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "wedges") {
      val li = Tables.lineitem(spark, dir).select(col("l_orderkey").as("ok"), col("l_partkey")).distinct()
      val a = li.select(col("ok"), col("l_partkey").as("src"))
      val b = li.select(col("ok"), col("l_partkey").as("dst"))
      a.join(b, "ok")
        .where(col("src") =!= col("dst"))
        .groupBy("src", "dst")
        .agg(count(lit(1)).cast("double").as("w"))
    }

  /** Vertex set: every part referenced by lineitem (includes isolated
    * vertices that never co-occur with another part). (v: long) */
  def vertices(spark: SparkSession, dir: String): DataFrame =
    cached(spark, dir, "verts") {
      Tables.lineitem(spark, dir).select(col("l_partkey").as("v")).distinct()
    }

  /** Out-degrees over the unweighted edge set. (v: long, outdeg: long) */
  def outDegrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("outdeg"))
}
