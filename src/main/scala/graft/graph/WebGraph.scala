package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pages.Extract

/** End-to-end ingest: pages table → dictionary-encoded edge Dataset.
  *
  * pages(url, warc_ts, html, text, lang)
  *   → link table (srcUrl, dstUrl)          [Extract.linkTable]
  *   → dictionary (url → vid)               [Dictionary.encode]
  *   → edges (src, dst) deduped, loop-free  [SparseCommon/removeloops analog,
  *                                           reference SpParMat.cpp:2893, SpParMat.h:86]
  *
  * Dangling link targets (urls never crawled as pages) still receive vids —
  * the dictionary is built over the union of page urls and link targets, as
  * the reference builds ids over all tuple labels.
  */
object WebGraph {

  case class Built(dict: DataFrame, edges: DataFrame, vertices: DataFrame)

  def build(pages: DataFrame): Built = {
    val links = Extract.linkTable(pages)
    // The dictionary's range sampling job and its shuffle both read the
    // link targets; cached, the two jobs share one parse of the html.
    val targets = links.select(col("dstUrl").as("url")).persist()
    val dict = try Dictionary.encode(pages.select(col("url")).union(targets), "url").persist()
      finally targets.unpersist(false)
    val bySrc = dict.withColumnRenamed("url", "srcUrl").withColumnRenamed("vid", "src")
    val byDst = dict.withColumnRenamed("url", "dstUrl").withColumnRenamed("vid", "dst")
    val edges = links
      .join(bySrc, "srcUrl")
      .join(byDst, "dstUrl")
      .where(col("src") =!= col("dst"))
      .select("src", "dst")
      .distinct()
    val vertices = dict.select(col("vid").as("v"))
    Built(dict, edges, vertices)
  }

  /** Symmetrized view A + Aᵀ (reference `A += AT`, MCL.cpp:379-381). */
  def symmetrize(edges: DataFrame): DataFrame =
    edges.union(edges.select(col("dst").as("src"), col("src").as("dst"))).distinct()
}
