package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import graft.Tables
import graft.graph.LinkGraph
import graft.linalg.{PlusTimes, SpMV}
import graft.kernels.Triangles

/** Captures the formatted physical plans of the load-bearing queries into
  * PLANS.md — the evidence that the engine gets the plans it was designed
  * for: Parquet column pruning + filter pushdown, broadcast vs shuffle
  * joins, map-side partial aggregation, semi-join masks.
  * Usage: runMain graft.tools.Plans <sfDir> <outFile>
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: graft.tools.Plans <sfDir> <outFile>")
    val Array(sfDir, out) = args
    val spark = graft.Conf.fromEnv().session(8)

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the load-bearing queries\n\n")
    sb.append("Generated by `runMain graft.tools.Plans` (sfDir = " + sfDir + "). ")
    sb.append("What to look for is annotated per section.\n")

    def section(title: String, note: String, df: DataFrame): Unit = {
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb.append(s"\n## $title\n\n$note\n\n```\n$plan```\n")
    }

    // 1. Filter pushdown + column pruning into the Parquet scan
    section("Scan: filter pushdown + column pruning",
      "`PushedFilters` carries the predicate into the Parquet reader; " +
        "`ReadSchema` shows only 2 of 11 lineitem columns are read.",
      Tables.lineitem(spark, sfDir)
        .where(col("l_partkey") < 100)
        .select(col("l_partkey"), col("l_quantity")))

    // 2. html never read unless extracting (the 100TB column)
    val pagesDir = Files.createTempDirectory("graft-pages").toString
    graft.pages.PageGen.pages(spark, 200).write.mode("overwrite").parquet(pagesDir)
    section("Pages scan without html",
      "Querying only text length: `ReadSchema` excludes the binary `html` " +
        "column entirely — at web scale the 100TB of html bytes is never " +
        "touched by non-extracting queries.",
      spark.read.parquet(pagesDir).select(col("url"), length(col("text"))))

    // 3. SpMV broadcast path (SpMSpV / Allgatherv analog)
    val edges = LinkGraph.edges(spark, sfDir)
    val verts = LinkGraph.vertices(spark, sfDir)
    section("SpMV, broadcast-vector path",
      "`BroadcastHashJoin` on the vector side — the edge relation is never " +
        "shuffled; `HashAggregate` appears twice (partial above the scan, " +
        "final after one exchange) = map-side combine.",
      SpMV(edges, verts.select(col("v"), lit(1.0).as("xv")), PlusTimes,
        broadcastX = true))

    // 4. Triangle masked SpGEMM (lazy replica of Triangles.countRelational —
    // the kernel itself materializes eagerly to manage its cache)
    section("Triangle count: wedge join + semi-join mask", {
      "Both the wedge build and the closing mask are `BroadcastHashJoin`s " +
        "(edge list under the adaptive threshold); the mask is LeftSemi so " +
        "wedge payloads never materialize; final count is partially " +
        "aggregated."
    }, {
      val deg = edges.groupBy(col("src").as("u")).agg(count(lit(1)).as("d"))
      val l = edges
        .join(deg.select(col("u").as("src"), col("d").as("ds")), "src")
        .join(deg.select(col("u").as("dst"), col("d").as("dd")), "dst")
        .where(col("ds") < col("dd") ||
          (col("ds") === col("dd") && col("src") < col("dst")))
        .select(col("src").as("a"), col("dst").as("b"))
      val wedges = l.join(broadcast(l.select(col("a").as("b"), col("b").as("c"))), "b")
        .select(col("a"), col("c"))
      wedges.join(broadcast(l.select(col("a"), col("b").as("c"))), Seq("a", "c"), "left_semi")
        .agg(count(lit(1)).as("triangles"))
    })

    // 4b. SpMV shuffle-hash path (the past-broadcast-threshold regime)
    section("SpMV, shuffle-hash path (fringe past the broadcast ceiling)",
      "`ShuffledHashJoin` with the hash table built from the (small) vector " +
        "side and the pre-partitioned edge table streamed — no per-iteration " +
        "sort, no edge re-shuffle once the edge side is partitioned by src.",
      SpMV(edges.repartition(col("src")),
        verts.select(col("v"), lit(1.0).as("xv")).hint("shuffle_hash"),
        PlusTimes))

    // 4c. One SSSP relaxation round
    section("SSSP relax round (MinPlus SpMSpV)",
      "Fringe broadcast into the edge join, min-aggregate partial+final, " +
        "then the improvement anti-pattern check as a left join — the " +
        "per-round shape that iterates to fixpoint.",
      {
        val we = LinkGraph.weightedEdges(spark, sfDir)
        val fringe = verts.limit(10).select(col("v").as("src"), lit(0.0).as("d"))
        we.join(broadcast(fringe), "src")
          .groupBy(col("dst").as("v"))
          .agg(min(col("d") + col("w")).as("nd"))
      })

    // 5. Row reduction
    section("Row reduce (degrees)",
      "Single hash aggregate with partial+final split; scan prunes to the " +
        "two key columns.",
      graft.operators.MatrixOps.reduceRows(LinkGraph.weightedEdges(spark, sfDir)))

    // 6. IVF ANN nearest-cell assignment (replica of Ann.ivfTopK's
    // assignment stage on the embeddings table)
    section("IVF ANN: nearest-cell assignment", {
      "The centroid table (16 rows) enters as `BroadcastNestedLoopJoin` — " +
        "the corpus is never shuffled against it; the argmax is a " +
        "partial+final `SortAggregate` pair (struct max is sort-based), so " +
        "the exchange still moves ONE row per vector — the partial " +
        "aggregate collapses the nCells fan-out inside each partition " +
        "before the shuffle."
    }, {
      val emb = Tables.embeddings(spark, sfDir)
      def dvec(c: org.apache.spark.sql.Column) = transform(c, x => x.cast("double"))
      def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
      val base = emb.select(col("vec_id"), dvec(col("embedding")).as("e"))
        .withColumn("norm", sqrt(dot(col("e"), col("e"))))
      val cents = base
        .withColumn("pri", md5(concat_ws(":", lit("ivf"), col("vec_id"))))
        .orderBy(col("pri"), col("vec_id")).limit(16)
        .select(col("vec_id").as("cid"), col("e").as("ce"), col("norm").as("cn"))
      base.crossJoin(broadcast(cents))
        .withColumn("cos", dot(col("e"), col("ce")) / (col("norm") * col("cn")))
        .groupBy("vec_id")
        .agg(max(struct(col("cos"), (-col("cid")).as("ncid"))).as("m"))
        .select(col("vec_id"), (-col("m.ncid")).cast("long").as("cell"))
    })

    // 7. Maximum-matching search layer (one alternating-BFS step)
    section("Maximum matching: one multi-source search layer", {
      "The fringe (unmatched columns, shrinking per phase) broadcasts into " +
        "the edge join; the pinned min-(parent,root) pick is a partial+final " +
        "struct-min aggregate, so one row per reached ROW crosses the " +
        "exchange regardless of how many fringe columns reached it; the " +
        "parents guard is a broadcast anti-join on the same key."
    }, {
      val be = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").cast("long").as("r"),
          col("l_partkey").cast("long").as("c")).distinct()
      val fringe = be.select("c").distinct().limit(50)
        .select(col("c"), col("c").as("root"))
      val parents = be.select(col("r")).limit(1)
      be.join(broadcast(fringe), Seq("c"))
        .groupBy("r")
        .agg(min(struct(col("c").as("p"), col("root"))).as("m"))
        .select(col("r"), col("m.p").as("p"), col("m.root").as("root"))
        .join(broadcast(parents), Seq("r"), "left_anti")
    })

    // 8. Weight-increasing 4-cycle candidates (one exchange round's core)
    section("Cycle matching: candidate generation", {
      "Three keyed joins — two against the (small, matching-sized) mate " +
        "table and the closing-edge lookup against the edge table itself on " +
        "the composite (r,c) key; the gain filter prunes before the " +
        "window arg-max, so only profitable cycles reach the exchange."
    }, {
      val be = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").cast("long").as("r"),
          col("l_partkey").cast("long").as("c")).distinct()
        .withColumn("w",
          ((col("r") * 31 + col("c") * 17) % 100 + 1).cast("double"))
      val mate = be.groupBy("c").agg(min("r").as("r")).select("r", "c")
      val mw = mate.join(be, Seq("r", "c"))
      val mateR = mw.select(col("r").as("i"), col("c").as("ji"), col("w").as("wi"))
      val mateC = mw.select(col("r").as("mj"), col("c").as("j"), col("w").as("wj"))
      be.select(col("r").as("i"), col("c").as("j"), col("w"))
        .join(mateR, Seq("i")).join(mateC, Seq("j"))
        .where(col("j") =!= col("ji"))
        .join(be.select(col("r").as("mj"), col("c").as("ji"),
          col("w").as("w2")), Seq("mj", "ji"))
        .select(col("i"), col("j"),
          (col("w") + col("w2") - col("wi") - col("wj")).as("gain"))
        .where(col("gain") > 0)
    })

    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote $out")
    spark.stop()
  }
}
