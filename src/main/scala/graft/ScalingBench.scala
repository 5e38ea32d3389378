package graft

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.dedup.Dedup
import graft.graph.{RMat, WebGraph}
import graft.kernels._
import graft.pages.PageGen
import graft.text.TextOps

/** Two-cluster-size scaling evidence (BASELINE.json north_rule: ≥0.8
  * efficiency from N to 4N). No real cluster exists on a single box, so
  * the SAME job runs on the SAME deterministic input at two parallelism
  * levels — local[1] and local[4] on a 4-core box, set by SPARK_GRAFT_CPUS
  * with the partition count held fixed — and reports throughput at both.
  *
  * Each run is one leg of [[legs]]. Graph legs run on a seeded RMAT graph
  * big enough to be compute-bound (the sf0.1 co-occurrence graph is
  * scheduler-bound — fixed per-stage latency dominates; see BENCH.md);
  * the others build their own synthetic input. Usage:
  *   SPARK_GRAFT_CPUS=1|4 runMain graft.ScalingBench [scale] [edgeFactor] [leg]
  */
object ScalingBench {
  /** Graph500-style BFS roots per run (harmonic-mean TEPS over them). */
  val BfsRoots = 8
  private val Iters = 10 // PageRank iterations of `plain` and `pr_array`
  private val BlockSize = 65536 // row-block size of the array kernels

  /** The RMAT graph: symmetric edges, 2^scale vertices, `nnz` edges. */
  final case class Graph(edges: DataFrame, verts: DataFrame, nnz: Long)

  /** A leg's input: scale is log2 vertices, or log2 rows of a synthetic
    * corpus; `graph` is built only for legs that need it. */
  final case class Run(spark: SparkSession, scale: Int, ef: Int, parts: Int,
                       graph: Option[Graph]) {
    def g: Graph = graph.get
  }

  /** A leg: whether it needs the graph, and its warm-up plus timed region,
    * returning its JSON fields (`main` adds the shared tail). */
  final case class Leg(needsGraph: Boolean, run: Run => String)

  private def onGraph(run: Run => String) = Leg(needsGraph = true, run)
  private def synthetic(run: Run => String) = Leg(needsGraph = false, run)

  private def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Persist a synthetic input and fill its cache before the timed region
    * (generation is embarrassingly parallel and would only flatter the
    * pair). */
  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    (p, p.count())
  }

  /** A BFS leg: `teps(run, roots)` warms up, then returns
    * [[harmonicTeps]] over the seeded roots. */
  private def bfsLeg(mode: String)(teps: (Run, Seq[Long]) => Double) = onGraph { r =>
    val deg = r.g.edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("outdeg"))
    val roots = graft.operators.VectorOps.selectCandidates(deg, BfsRoots, seed = 7L)
      .collect().map(_.getLong(0)).toSeq
    f""""metric":"bfs_harmonic_teps","value":${teps(r, roots)}%.0f,"unit":"edges/sec","mode":"$mode","roots":$BfsRoots"""
  }

  /** Harmonic-mean TEPS over `roots` (reference TopDownBFS.cpp:460,
    * 512-524; MTEPS = edges/sec/1e6). Graph500 kernel-2 boundary: only
    * `bfs(root)` and its count are timed; the graph build and the
    * traversed-edge count run outside (DirOptBFS.cpp:392-404). */
  private def harmonicTeps(edges: DataFrame, roots: Seq[Long])
                          (bfs: Long => DataFrame): Double = {
    val teps = roots.map { root =>
      val (sec, visited) = timed { val v = bfs(root); v.count(); v }
      val traversed = edges.join(
        visited.select(col("vid").as("src")), Seq("src"), "left_semi").count()
      visited.unpersist(false)
      traversed / sec
    }
    teps.length / teps.map(1.0 / _).sum
  }

  /** Relational BFS: `bfs_rel` is the direction-optimizing path,
    * `bfs_bcast` the round-1 pure top-down one (alpha = 0 disables
    * bottom-up, a huge broadcastMax broadcasts every frontier). */
  private def relationalBfs(mode: String, bmax: Long, alpha: Double) =
    bfsLeg(mode) { (r, roots) =>
      BFS.levels(r.g.edges, roots.head, broadcastMax = bmax, alpha = alpha,
        bitmapMax = 0L).count() // warm-up
      harmonicTeps(r.g.edges, roots)(BFS.levels(r.g.edges, _, maxDepth = 30,
        broadcastMax = bmax, alpha = alpha, bitmapMax = 0L).persist())
    }

  /** Label propagation (argmax-count semiring), fixed 5 rounds; the
    * `lp_shuffle` leg forces the shuffle-join path that label vectors past
    * BroadcastMax take. */
  private def labelProp(mode: String, bmax: Long) = onGraph { r =>
    LabelPropagation.run(r.g.edges, r.g.verts, rounds = 1, broadcastMax = bmax)
      .count() // warm-up
    val (sec, _) = timed(LabelPropagation.run(r.g.edges, r.g.verts, rounds = 5,
      broadcastMax = bmax).count())
    f""""metric":"lp_sec","value":$sec%.2f,"unit":"sec","mode":"$mode","rounds":5,"edges_per_sec_round":${5L * r.g.nnz / sec}%.0f"""
  }

  /** An array kernel's build (Graph500 kernel 1) and run (kernel 2) split:
    * (total, run) seconds, the run timed from inside the persisted blocks. */
  private def buildThenRun[B](build: => org.apache.spark.rdd.RDD[B])
                             (run: org.apache.spark.rdd.RDD[B] => Unit): (Double, Double) = {
    val (sec, (runSec, _)) = timed(BlockStep.persisted(build)(b => timed(run(b))))
    (sec, runSec)
  }

  /** Every leg by name; `plain` is the default. */
  val legs: ListMap[String, Leg] = ListMap(
    // Relational PageRank: warm-up, then prepare alone (0 iterations) and
    // prepare + iterations; the difference is the iterations' share, which
    // includes the edge-cache fill (it runs in the first iteration).
    "plain" -> onGraph { r =>
      def prSec(k: Int) = timed(PageRank.runExact(r.g.edges, r.g.verts, k, 0.85))._1
      prSec(1)
      val prepSec = prSec(0)
      val sec = prSec(Iters)
      val iterSec = (sec - prepSec) / Iters
      f""""metric":"pagerank_eps","value":${r.g.nnz / iterSec}%.0f,"unit":"edges/sec","sec":$sec%.2f,"prep_sec":$prepSec%.2f,"iter_sec":$iterSec%.3f,"iters":$Iters,"edgefactor":${r.ef}"""
    },

    // MinHash signatures over a deterministic synthetic corpus (a pure fn
    // of (seed, doc_id)): shingle explode → distinct → 8-way min-aggregate,
    // compute-heavy (8 md5 per (doc, shingle)), one keyed exchange.
    "minhash" -> synthetic { r =>
      import r.spark.implicits._
      val (docs, n) = materialize(r.spark.range(1L << r.scale).as[Long]
        .map(i => (i, PageGen.bodyText(1234L, i))).toDF("doc_id", "text")
        .repartition(r.parts))
      Dedup.minhash(docs.where(col("doc_id") < 20000)).count() // warm-up
      val (sec, sigs) = timed(Dedup.minhash(docs).count())
      f""""metric":"minhash_docs_per_sec","value":${n / sec}%.0f,"unit":"docs/sec","sec":$sec%.2f,"docs":$n,"sigs":$sigs"""
    },

    // Multi-table LSH ANN over deterministic 64-dim embeddings: bucketed
    // candidate join + exact cosine rank, the sub-quadratic scale path.
    "ann" -> synthetic { r =>
      import r.spark.implicits._
      val (emb, n) = materialize(r.spark.range(1L << r.scale).as[Long]
        .map { i =>
          (i, Array.tabulate(64) { j =>
            (((PageGen.mix(99L ^ (i * 131 + j)) >>> 8) % 2001L) - 1000L) / 1000.0f
          })
        }.toDF("vec_id", "embedding").repartition(r.parts))
      graft.sim.Ann.multiTableTopK(emb.where(col("vec_id") < 20000), 256, 10)
        .count() // warm-up
      val (sec, rows) = timed(graft.sim.Ann.multiTableTopK(emb, 4096, 10,
        bits = 16, tables = 4, bucketCap = 1000).count())
      f""""metric":"ann_vecs_per_sec","value":${n / sec}%.0f,"unit":"vecs/sec","sec":$sec%.2f,"vecs":$n,"result_rows":$rows"""
    },

    // Adversarial skew: ONE boilerplate doc duplicated nDup times (hot LSH
    // buckets in every band + one hot exact-dedup key) vs a uniform corpus
    // of the same size. The per-bucket cap (lshCandidates) and map-side
    // partial aggregation (corpus_clean's exact dedup) must keep wall time
    // BOUNDED; the skew/uniform delta is the published number.
    "skew" -> synthetic { r =>
      import r.spark.implicits._
      val nDocs = 1L << r.scale
      val nDup = math.min(nDocs / 2, 1L << 20)
      val boiler = PageGen.bodyText(1234L, 0L)
      def corpus(skewed: Boolean) = materialize(r.spark.range(nDocs).as[Long]
        .map(i => (i, if (skewed && i < nDup) boiler else PageGen.bodyText(1234L, i), "en"))
        .toDF("doc_id", "text", "lang").repartition(r.parts))._1
      // the corpus_clean composition (SparkEntry gate query) over any corpus
      def clean(docs: DataFrame): Long = {
        val ok = TextOps.quality(docs).where(col("quality") === "ok").select("doc_id")
        val en = TextOps.langId(docs).where(col("predicted_lang") === "en").select("doc_id")
        val filtered = docs.join(ok, "doc_id").join(en, "doc_id")
        val reps = filtered.groupBy(md5(col("text")).as("fp")).agg(min("doc_id").as("doc_id"))
        filtered.join(reps.select("doc_id"), "doc_id").groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(length(col("text")).cast("long")).as("n_chars"))
          .count()
      }
      val uni = corpus(skewed = false)
      val skw = corpus(skewed = true)
      Dedup.lshCandidates(uni.where(col("doc_id") < 20000)).count() // warm-up
      clean(uni.where(col("doc_id") < 20000)) // warm-up
      val (lshUniSec, lshUniPairs) = timed(Dedup.lshCandidates(uni).count())
      val (lshSkwSec, lshSkwPairs) = timed(Dedup.lshCandidates(skw).count())
      val (clUniSec, _) = timed(clean(uni))
      val (clSkwSec, _) = timed(clean(skw))
      f""""metric":"skew_delta","value":${lshSkwSec / lshUniSec}%.2f,"unit":"ratio","lsh_uniform_sec":$lshUniSec%.1f,"lsh_skew_sec":$lshSkwSec%.1f,"lsh_uniform_pairs":$lshUniPairs,"lsh_skew_pairs":$lshSkwPairs,"clean_uniform_sec":$clUniSec%.1f,"clean_skew_sec":$clSkwSec%.1f,"clean_delta":${clSkwSec / clUniSec}%.2f,"docs":$nDocs,"dups":$nDup"""
    },

    // Block-bitmap BFS: the one-time block build runs outside the timed
    // traversals.
    "bfs" -> bfsLeg("bitmap") { (r, roots) =>
      val nV = 1L << r.scale
      BlockStep.persisted(BlockBFS.buildBlocks(r.g.edges, BlockSize)) { blocks =>
        BlockBFS.levelsOn(r.spark, blocks, nV, roots.head, 30, BlockSize)
          .count() // warm-up
        harmonicTeps(r.g.edges, roots)(
          BlockBFS.levelsOn(r.spark, blocks, nV, _, 30, BlockSize))
      }
    },
    "bfs_rel" -> relationalBfs("relational", BFS.BroadcastMax, 2.0),
    "bfs_bcast" -> relationalBfs("bcast_topdown", Long.MaxValue, 0.0),

    "sssp" -> onGraph { r =>
      val (we, _) = materialize(r.g.edges
        .withColumn("w", ((col("src") * 31 + col("dst")) % 5 + 1).cast("double")))
      SSSP.run(we, 0L).count() // warm-up
      val (sec, reached) = timed(SSSP.run(we, 0L).count())
      f""""metric":"sssp_sec","value":$sec%.2f,"unit":"sec","reached":$reached"""
    },

    "lp" -> labelProp("lp", LabelPropagation.BroadcastMax),
    "lp_shuffle" -> labelProp("lp_shuffle", 0L),

    // Probe: how many labels CHANGE per LP round on RMAT? A frontier
    // (recompute only neighborhoods that changed) can pay only if rounds
    // 2+ shrink.
    "lp_conv" -> onGraph { r =>
      val changed = (1 to 5).map { k =>
        val a = LabelPropagation.run(r.g.edges, r.g.verts, rounds = k - 1)
          .withColumnRenamed("label", "la")
        val b = LabelPropagation.run(r.g.edges, r.g.verts, rounds = k)
        a.join(b, Seq("vid")).where(col("la") =!= col("label")).count()
      }
      f""""metric":"lp_changed_per_round","value":${changed.last},"unit":"vertices","rounds":${changed.mkString("[", ",", "]")}"""
    },

    // pages → extract → dictionary → edges (north-rule ingest). The timed
    // region is the pipeline: html link extraction, url dictionary encode
    // (the two global distincts), and the dictionary join + dedup.
    "ingest" -> synthetic { r =>
      val (pages, nPages) = materialize(PageGen.pages(r.spark, 1L << r.scale))
      WebGraph.build(pages.limit(10000)).edges.count() // JIT warm-up
      val (sec, (nEdges, nVerts)) = timed {
        val built = WebGraph.build(pages)
        (built.edges.count(), built.vertices.count())
      }
      pages.unpersist(false)
      f""""metric":"ingest_pages_per_sec","value":${nPages / sec}%.0f,"unit":"pages/sec","sec":$sec%.2f,"pages":$nPages,"edges":$nEdges,"vertices":$nVerts"""
    },

    // Masked-SpGEMM triangle count (degree-ordered orientation), warmed up
    // on a vertex-induced slice.
    "tricnt" -> onGraph { r =>
      Triangles.count(r.g.edges.where(col("src") < 4096 && col("dst") < 4096)).collect()
      val (sec, tri) = timed(Triangles.count(r.g.edges).collect()(0).getLong(0))
      f""""metric":"tricnt_sec","value":$sec%.2f,"unit":"sec","triangles":$tri"""
    },

    // In-memory label-vector CC, build and rounds reported separately.
    "cc" -> onGraph { r =>
      BlockCC.run(r.g.edges, r.g.verts, (1L << r.scale) - 1).count() // warm-up
      val (sec, roundsSec) = buildThenRun(BlockCC.buildRowBlocks(r.g.edges, BlockSize)) {
        BlockCC.runOn(r.spark, _, r.g.verts, (1L << r.scale).toInt, BlockSize, 50).count()
      }
      f""""metric":"cc_sec","value":$sec%.2f,"unit":"sec","mode":"array","build_sec":${sec - roundsSec}%.2f,"rounds_sec":$roundsSec%.2f,"rounds":${BlockCC.lastRounds}"""
    },

    "cc_rel" -> onGraph { r =>
      val bmax = ConnectedComponents.BroadcastMax
      // JIT/shuffle warm-up only — two capped iterations, not a full run
      ConnectedComponents.run(r.g.edges, r.g.verts, maxIters = 2,
        broadcastMax = bmax, arrayMax = 0L).count()
      val (sec, _) = timed(ConnectedComponents.run(r.g.edges, r.g.verts,
        broadcastMax = bmax, arrayMax = 0L).count())
      f""""metric":"cc_sec","value":$sec%.2f,"unit":"sec","mode":"relational","bcastMax":$bmax"""
    },

    // In-memory rank-vector PageRank, build and iterations reported
    // separately.
    "pr_array" -> onGraph { r =>
      PageRankArray.run(r.g.edges, r.g.verts, iters = 1).count() // warm-up
      val (sec, runSec) = buildThenRun(PageRankArray.buildBlocks(r.g.edges, BlockSize)) {
        PageRankArray.runOn(_, r.g.verts, (1L << r.scale).toInt,
          1L << r.scale, Iters, 0.85, BlockSize).count()
      }
      val iterSec = runSec / Iters
      val (phB, phJ, phD) = PageRankArray.lastPhases
      f""""metric":"pagerank_eps","value":${r.g.nnz / iterSec}%.0f,"unit":"edges/sec","mode":"array","build_sec":${sec - runSec}%.2f,"iter_sec":$iterSec%.3f,"iters":$Iters,"bcast_sec":$phB%.2f,"job_sec":$phJ%.2f,"driver_sec":$phD%.2f"""
    }
  )

  /** The leg called `name`; an unknown name fails (before any session
    * starts in `main`), listing the valid ones. */
  def leg(name: String): Leg = legs.getOrElse(name, throw new IllegalArgumentException(
    s"unknown ScalingBench leg '$name'; valid legs: ${legs.keys.mkString(", ")}"))

  def main(args: Array[String]): Unit = {
    val scale = if (args.length > 0) args(0).toInt else 20
    val ef = if (args.length > 1) args(1).toInt else 8
    val leg = this.leg(if (args.length > 2) args(2) else "plain")
    val conf = Conf.fromEnv()
    // Partition count is held CONSTANT across parallelism levels so both
    // runs execute the identical task graph — the variable is core count
    // only, as on a real cluster where N→4N executors process the same
    // shuffle layout. (Tying partitions to cores would change the plan.)
    val parts = conf.parts.getOrElse(32)
    val spark = conf.session(parts)
    // Contention sentinel (graft.util.Sentinel): pre/post spins + mid-run
    // other-process CPU sampling, reported on the emitted line with
    // `valid`. Run legs one at a time on an idle box — a false `valid`
    // means rerun, not publish.
    val sentinel = new graft.util.Sentinel()
    sentinel.start()
    val graph = if (!leg.needsGraph) None else {
      val e = RMat.symmetricGraph(spark, scale, ef).persist()
      val nnz = e.count()
      val v = spark.range(1L << scale).toDF("v").persist()
      v.count()
      Some(Graph(e, v, nnz))
    }
    val run = Run(spark, scale, ef, parts, graph)
    emit(leg.run(run), run, conf.cpus, sentinel)
    spark.stop()
  }

  /** Print a leg's JSON line: its fields, then scale, nnz (graph legs),
    * cpus, parts and the sentinel report. */
  private def emit(fields: String, run: Run, cpus: Int,
                   sentinel: graft.util.Sentinel): Unit = {
    val rep = sentinel.stop()
    val nnz = run.graph.fold("")(g => s""","nnz":${g.nnz}""")
    println(s"""{$fields,"scale":${run.scale}$nnz,"cpus":$cpus,"parts":${run.parts},${rep.json}}""")
    if (!rep.valid)
      System.err.println(f"[scalebench] WARNING: sentinel drift ${rep.drift}%.2fx / " +
        f"external CPU mean ${rep.extMean}%.2f max ${rep.extMax}%.2f cores — contaminated leg")
  }
}
