package graft

import org.apache.spark.sql.functions._
import graft.graph.RMat
import graft.kernels.{BlockStep, PageRank}

/** Two-cluster-size scaling evidence (BASELINE.json north_rule: ≥0.8
  * efficiency from N to 4N). No real cluster exists on a single box, so
  * the SAME job runs on the SAME deterministic input at two parallelism
  * levels — local[1] and local[4] on a 4-core box, set by SPARK_GRAFT_CPUS
  * with the partition count held fixed — and reports throughput at both.
  *
  * The input is a seeded RMAT graph big enough to be compute-bound (the
  * sf0.1 co-occurrence graph is scheduler-bound — fixed per-stage latency
  * dominates; see BENCH.md). Usage:
  *   SPARK_GRAFT_CPUS=1|4 runMain graft.ScalingBench [scale] [edgeFactor] [mode]
  */
object ScalingBench {
  /** Graph500-style BFS roots per run (harmonic-mean TEPS over them). */
  val BfsRoots = 8

  def main(args: Array[String]): Unit = {
    val scale = if (args.length > 0) args(0).toInt else 20
    val ef = if (args.length > 1) args(1).toInt else 8
    val iters = 10
    val conf = Conf.fromEnv()
    val cpus = conf.cpus
    // Partition count is held CONSTANT across parallelism levels so both
    // runs execute the identical task graph — the variable is core count
    // only, as on a real cluster where N→4N executors process the same
    // shuffle layout. (Tying partitions to cores would change the plan.)
    val parts = conf.parts.getOrElse(32)
    val spark = conf.session(parts)

    // Contention sentinel (graft.util.Sentinel): pre/post spins + mid-run
    // other-process CPU sampling; every emitted line carries the report and
    // `valid`. Legs are run one at a time on an idle box — a false `valid`
    // means rerun, not publish.
    val sentinel = new graft.util.Sentinel()
    sentinel.start()
    def emit(json: String): Unit = {
      val rep = sentinel.stop()
      println(json.stripSuffix("}") + "," + rep.json + "}")
      if (!rep.valid)
        System.err.println(f"[scalebench] WARNING: sentinel drift ${rep.drift}%.2fx / " +
          f"external CPU mean ${rep.extMean}%.2f max ${rep.extMax}%.2f cores — contaminated leg")
    }

    val mode = if (args.length > 2) args(2) else "plain"
    // Text/embedding modes synthesize their own corpus (scale = log2 rows)
    // and never build the graph.
    val textMode = mode == "minhash" || mode == "ann" || mode == "skew"
    val (edges, verts, nnz) =
      if (textMode) (null: org.apache.spark.sql.DataFrame, null: org.apache.spark.sql.DataFrame, 0L)
      else {
        val e = RMat.symmetricGraph(spark, scale, ef).persist()
        val n = e.count()
        val v = spark.range(1L << scale).toDF("v").persist()
        v.count()
        (e, v, n)
      }
    if (mode == "minhash") {
      // Training-data pipeline scaling evidence: MinHash signatures over a
      // deterministic synthetic corpus (PageGen.bodyText — pure fn of
      // (seed, doc_id)). The kernel is shingle explode → distinct →
      // 8-way min-aggregate: compute-heavy (8 md5 per (doc, shingle)),
      // map-side combined, one keyed exchange.
      import spark.implicits._
      val nDocs = 1L << scale
      val docs = spark.range(nDocs).as[Long]
        .map(i => (i, graft.pages.PageGen.bodyText(1234L, i)))
        .toDF("doc_id", "text")
        .repartition(parts)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = docs.count()
      graft.dedup.Dedup.minhash(docs.where(col("doc_id") < 20000)).count() // warmup
      val t0 = System.nanoTime()
      val sigs = graft.dedup.Dedup.minhash(docs).count()
      val sec = (System.nanoTime() - t0) / 1e9
      emit(f"""{"metric":"minhash_docs_per_sec","value":${n / sec}%.0f,"unit":"docs/sec","sec":$sec%.2f,"docs":$n,"sigs":$sigs,"scale":$scale,"cpus":$cpus,"parts":$parts}""")
    } else if (mode == "ann") {
      // Multi-table LSH ANN over deterministic synthetic embeddings
      // (64-dim, splitmix-derived). Bucketed candidate join + exact
      // cosine rank — the sub-quadratic scale path.
      import spark.implicits._
      val nVecs = 1L << scale
      val emb = spark.range(nVecs).as[Long]
        .map { i =>
          (i, Array.tabulate(64) { j =>
            (((graft.pages.PageGen.mix(99L ^ (i * 131 + j)) >>> 8) % 2001L) - 1000L) / 1000.0f
          })
        }
        .toDF("vec_id", "embedding")
        .repartition(parts)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = emb.count()
      graft.sim.Ann.multiTableTopK(emb.where(col("vec_id") < 20000), 256, 10)
        .count() // warmup
      val t0 = System.nanoTime()
      val rows = graft.sim.Ann.multiTableTopK(emb, 4096, 10, bits = 16,
        tables = 4, bucketCap = 1000).count()
      val sec = (System.nanoTime() - t0) / 1e9
      emit(f"""{"metric":"ann_vecs_per_sec","value":${n / sec}%.0f,"unit":"vecs/sec","sec":$sec%.2f,"vecs":$n,"result_rows":$rows,"scale":$scale,"cpus":$cpus,"parts":$parts}""")
    } else if (mode == "skew") {
      // Adversarial-skew pipeline evidence: ONE boilerplate doc duplicated
      // nDup times (hot LSH buckets in every band + one hot exact-dedup
      // key) vs a uniform corpus of the same size. The per-bucket cap
      // (lshCandidates) and map-side partial aggregation (corpus-clean's
      // exact dedup) must keep wall time BOUNDED — the skew/uniform delta
      // is the published number, at both parallelism levels.
      import spark.implicits._
      val nDocs = 1L << scale
      val nDup = math.min(nDocs / 2, 1L << 20)
      val boiler = graft.pages.PageGen.bodyText(1234L, 0L)
      def corpus(skewed: Boolean) = {
        val df = spark.range(nDocs).as[Long]
          .map { i =>
            val text = if (skewed && i < nDup) boiler
                       else graft.pages.PageGen.bodyText(1234L, i)
            (i, text, "en")
          }.toDF("doc_id", "text", "lang")
          .repartition(parts)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df.count()
        df
      }
      // the corpus_clean composition (SparkEntry gate query) over any corpus
      def clean(docs: org.apache.spark.sql.DataFrame): Long = {
        val okDocs = graft.text.TextOps.quality(docs)
          .where(col("quality") === "ok").select("doc_id")
        val enDocs = graft.text.TextOps.langId(docs)
          .where(col("predicted_lang") === "en").select("doc_id")
        val filtered = docs.join(okDocs, "doc_id").join(enDocs, "doc_id")
        val reps = filtered.groupBy(md5(col("text")).as("fp"))
          .agg(min("doc_id").as("doc_id"))
        filtered.join(reps.select("doc_id"), "doc_id")
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast("long")).as("n_chars"))
          .count()
      }
      def timed(f: => Long): (Double, Long) = {
        val t0 = System.nanoTime(); val n = f
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val uni = corpus(skewed = false)
      val skw = corpus(skewed = true)
      graft.dedup.Dedup.lshCandidates(uni.where(col("doc_id") < 20000)).count() // warmup
      clean(uni.where(col("doc_id") < 20000)) // warmup
      val (lshUniSec, lshUniPairs) = timed(graft.dedup.Dedup.lshCandidates(uni).count())
      val (lshSkwSec, lshSkwPairs) = timed(graft.dedup.Dedup.lshCandidates(skw).count())
      val (clUniSec, _) = timed(clean(uni))
      val (clSkwSec, _) = timed(clean(skw))
      emit(f"""{"metric":"skew_delta","value":${lshSkwSec / lshUniSec}%.2f,"unit":"ratio","lsh_uniform_sec":$lshUniSec%.1f,"lsh_skew_sec":$lshSkwSec%.1f,"lsh_uniform_pairs":$lshUniPairs,"lsh_skew_pairs":$lshSkwPairs,"clean_uniform_sec":$clUniSec%.1f,"clean_skew_sec":$clSkwSec%.1f,"clean_delta":${clSkwSec / clUniSec}%.2f,"docs":$nDocs,"dups":$nDup,"scale":$scale,"cpus":$cpus,"parts":$parts}""")
    } else if (mode == "bfs") {
      // Graph500-style: TEPS per root over K roots, harmonic mean
      // (reference TopDownBFS.cpp:460, 512-524; MTEPS = edges/sec/1e6).
      // Kernel-2 timing boundary per the Graph500 spec: graph construction
      // (the one-time block build) and the traversed-edge count run
      // OUTSIDE the timed region — the reference times MPI BFS the same
      // way (DirOptBFS.cpp:392-404 brackets only the BFS loop).
      import org.apache.spark.sql.functions._
      val k = BfsRoots
      val blockSize = 65536
      val deg = edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("outdeg"))
      val roots = graft.operators.VectorOps.selectCandidates(deg, k, seed = 7L)
        .collect().map(_.getLong(0)).toSeq
      val nV = 1L << scale
      val bfsBlocks = graft.kernels.BlockBFS.buildBlocks(edges, blockSize)
      val teps = BlockStep.persisted(bfsBlocks) { blocks =>
        graft.kernels.BlockBFS.levelsOn(spark, blocks, nV, roots.head, 30, blockSize)
          .count() // warmup
        roots.map { r =>
          val t0 = System.nanoTime()
          val visited = graft.kernels.BlockBFS
            .levelsOn(spark, blocks, nV, r, 30, blockSize)
          visited.count()
          val sec = (System.nanoTime() - t0) / 1e9
          val traversed = edges.join(
            visited.select(col("vid").as("src")), Seq("src"), "left_semi").count()
          visited.unpersist(false)
          traversed / sec
        }
      }
      val harmonic = teps.length / teps.map(1.0 / _).sum
      emit(f"""{"metric":"bfs_harmonic_teps","value":$harmonic%.0f,"unit":"edges/sec","mode":"bitmap","roots":$k,"scale":$scale,"nnz":$nnz,"cpus":$cpus,"parts":$parts}""")
    } else if (mode == "bfs_rel") {
      // the round-2 relational direction-optimizing path, same timing
      // boundary, for the BENCH.md before/after comparison
      val k = BfsRoots
      val deg = edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("outdeg"))
      val roots = graft.operators.VectorOps.selectCandidates(deg, k, seed = 7L)
        .collect().map(_.getLong(0)).toSeq
      graft.kernels.BFS.levels(edges, roots.head, bitmapMax = 0L).count() // warmup
      val teps = roots.map { r =>
        val t0 = System.nanoTime()
        val visited = graft.kernels.BFS.levels(edges, r, maxDepth = 30,
          bitmapMax = 0L).persist()
        visited.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val traversed = edges.join(
          visited.select(col("vid").as("src")), Seq("src"), "left_semi").count()
        visited.unpersist(false)
        traversed / sec
      }
      val harmonic = teps.length / teps.map(1.0 / _).sum
      emit(f"""{"metric":"bfs_harmonic_teps","value":$harmonic%.0f,"unit":"edges/sec","mode":"relational","roots":$k,"scale":$scale,"nnz":$nnz,"cpus":$cpus,"parts":$parts}""")
    } else if (mode == "bfs_bcast") {
      // round-1 behavior for comparison: pure top-down, unconditional
      // frontier broadcast (alpha=0 disables bottom-up; huge broadcastMax
      // forces the broadcast join at every level)
      val k = BfsRoots
      val deg = edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("outdeg"))
      val roots = graft.operators.VectorOps.selectCandidates(deg, k, seed = 7L)
        .collect().map(_.getLong(0)).toSeq
      graft.kernels.BFS.levels(edges, roots.head,
        broadcastMax = Long.MaxValue, alpha = 0.0, bitmapMax = 0L).count() // warmup
      val teps = roots.map { r =>
        val t0 = System.nanoTime()
        val visited = graft.kernels.BFS.levels(edges, r, maxDepth = 30,
          broadcastMax = Long.MaxValue, alpha = 0.0, bitmapMax = 0L).persist()
        visited.count()
        val traversed = edges.join(
          visited.select(col("vid").as("src")), Seq("src"), "left_semi").count()
        visited.unpersist(false)
        traversed / ((System.nanoTime() - t0) / 1e9)
      }
      val harmonic = teps.length / teps.map(1.0 / _).sum
      emit(f"""{"metric":"bfs_harmonic_teps","value":$harmonic%.0f,"unit":"edges/sec","mode":"bcast_topdown","roots":$k,"scale":$scale,"nnz":$nnz,"cpus":$cpus,"parts":$parts}""")
    } else if (mode == "sssp") {
      val we = edges.withColumn("w", ((col("src") * 31 + col("dst")) % 5 + 1).cast("double"))
        .persist()
      we.count()
      val root = 0L
      graft.kernels.SSSP.run(we, root).count() // warmup
      val t0 = System.nanoTime()
      val n = graft.kernels.SSSP.run(we, root).count()
      val sec = (System.nanoTime() - t0) / 1e9
      emit(f"""{"metric":"sssp_sec","value":$sec%.2f,"unit":"sec","reached":$n,"scale":$scale,"nnz":$nnz,"cpus":$cpus,"parts":$parts}""")
    } else if (mode == "lp" || mode == "lp_shuffle") {
      // label propagation (argmax-count semiring), fixed 5 rounds — one of
      // the four north-rule flagship kernels; lp_shuffle forces the
      // shuffle-join path that label vectors past BroadcastMax take
      val bmax =
        if (mode == "lp") graft.kernels.LabelPropagation.BroadcastMax else 0L
      graft.kernels.LabelPropagation.run(edges, verts, rounds = 1,
        broadcastMax = bmax).count() // warmup
      val t0 = System.nanoTime()
      graft.kernels.LabelPropagation.run(edges, verts, rounds = 5,
        broadcastMax = bmax).count()
      val sec = (System.nanoTime() - t0) / 1e9
      emit(f"""{"metric":"lp_sec","value":$sec%.2f,"unit":"sec","mode":"$mode","rounds":5,"edges_per_sec_round":${5L * nnz / sec}%.0f,"scale":$scale,"nnz":$nnz,"cpus":$cpus,"parts":$parts}""")
    } else if (mode == "lp_conv") {
      // One-off probe: how many labels CHANGE per LP round on RMAT? Decides
      // whether a frontier (recompute only neighborhoods that changed) can
      // pay on the benched input — it only can if rounds 2+ shrink.
      val changed = (1 to 5).map { k =>
        val a = graft.kernels.LabelPropagation.run(edges, verts, rounds = k - 1)
          .withColumnRenamed("label", "la")
        val b = graft.kernels.LabelPropagation.run(edges, verts, rounds = k)
        a.join(b, Seq("vid")).where(col("la") =!= col("label")).count()
      }
      emit(f"""{"metric":"lp_changed_per_round","value":${changed.last},"unit":"vertices","rounds":${changed.mkString("[", ",", "]")},"scale":$scale,"nnz":$nnz,"cpus":$cpus,"parts":$parts}""")
    } else if (mode == "ingest") {
      // pages → extract → dictionary → edges — the first stage of every
      // 100-TB run (north-rule ingest). The pages table (2^scale rows) is
      // materialized FIRST (generation is embarrassingly parallel and would
      // only flatter the pair); the timed region is the pipeline itself:
      // html link extraction, url dictionary encode (the two global
      // distincts), and the dictionary join + dedup.
      val nPages = 1L << scale
      val pages = graft.pages.PageGen.pages(spark, nPages)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pages.count()
      graft.graph.WebGraph.build(pages.limit(10000)).edges.count() // JIT warm
      val t0 = System.nanoTime()
      val built = graft.graph.WebGraph.build(pages)
      val nEdges = built.edges.count()
      val nVerts = built.vertices.count()
      val sec = (System.nanoTime() - t0) / 1e9
      pages.unpersist(false)
      emit(f"""{"metric":"ingest_pages_per_sec","value":${nPages / sec}%.0f,"unit":"pages/sec","sec":$sec%.2f,"pages":$nPages,"edges":$nEdges,"vertices":$nVerts,"scale":$scale,"cpus":$cpus,"parts":$parts}""")
    } else if (mode == "tricnt") {
      // masked-SpGEMM triangle count (degree-ordered orientation) — the
      // fourth north-rule flagship kernel. Warm up on a vertex-induced
      // slice, then time the full count.
      val warm = edges.where(col("src") < 4096 && col("dst") < 4096)
      graft.kernels.Triangles.count(warm).collect()
      val t0 = System.nanoTime()
      val tri = graft.kernels.Triangles.count(edges).collect()(0).getLong(0)
      val sec = (System.nanoTime() - t0) / 1e9
      emit(f"""{"metric":"tricnt_sec","value":$sec%.2f,"unit":"sec","triangles":$tri,"scale":$scale,"nnz":$nnz,"cpus":$cpus,"parts":$parts}""")
    } else if (mode == "cc") {
      // in-memory label-vector kernel, build/rounds split reported
      // (Graph500-style kernel-1/kernel-2 boundary)
      val bs = 65536
      val nV = (1L << scale).toInt
      graft.kernels.BlockCC.run(edges, verts, (1L << scale) - 1).count() // warmup
      val t0 = System.nanoTime()
      val ccBlocks = graft.kernels.BlockCC.buildRowBlocks(edges, bs)
      val (t1, t2) = BlockStep.persisted(ccBlocks) { blocks =>
        val t1 = System.nanoTime()
        graft.kernels.BlockCC.runOn(spark, blocks, verts, nV, bs, 50).count()
        (t1, System.nanoTime())
      }
      val buildSec = (t1 - t0) / 1e9; val roundsSec = (t2 - t1) / 1e9
      val sec = (t2 - t0) / 1e9
      emit(f"""{"metric":"cc_sec","value":$sec%.2f,"unit":"sec","mode":"array","build_sec":$buildSec%.2f,"rounds_sec":$roundsSec%.2f,"rounds":${graft.kernels.BlockCC.lastRounds},"scale":$scale,"nnz":$nnz,"cpus":$cpus,"parts":$parts}""")
    } else if (mode == "cc_rel") {
      val bmax = graft.kernels.ConnectedComponents.BroadcastMax
      // JIT/shuffle warmup only — two capped iterations, not a full run
      graft.kernels.ConnectedComponents.run(edges, verts, maxIters = 2,
        broadcastMax = bmax, arrayMax = 0L).count()
      val t0 = System.nanoTime()
      graft.kernels.ConnectedComponents.run(edges, verts, broadcastMax = bmax,
        arrayMax = 0L).count()
      val sec = (System.nanoTime() - t0) / 1e9
      emit(f"""{"metric":"cc_sec","value":$sec%.2f,"unit":"sec","mode":"relational","scale":$scale,"nnz":$nnz,"cpus":$cpus,"parts":$parts,"bcastMax":$bmax}""")
    } else if (mode == "pr_array") {
      // in-memory rank-vector PageRank: build (kernel-1) and iterations
      // (kernel-2) split, same boundary as the bfs/cc array modes
      val bs = 65536
      val nIds = (1L << scale).toInt
      graft.kernels.PageRankArray.run(edges, verts, iters = 1).count() // warmup
      val t0 = System.nanoTime()
      val prBlocks = graft.kernels.PageRankArray.buildBlocks(edges, bs)
      val (t1, t2) = BlockStep.persisted(prBlocks) { blocks =>
        val t1 = System.nanoTime()
        graft.kernels.PageRankArray.runOn(spark, blocks, verts, nIds,
          1L << scale, iters, 0.85, bs).count()
        (t1, System.nanoTime())
      }
      val buildSec = (t1 - t0) / 1e9
      val iterSec = (t2 - t1) / 1e9 / iters
      val (phB, phJ, phD) = graft.kernels.PageRankArray.lastPhases
      emit(f"""{"metric":"pagerank_eps","value":${nnz / iterSec}%.0f,"unit":"edges/sec","mode":"array","build_sec":$buildSec%.2f,"iter_sec":$iterSec%.3f,"iters":$iters,"bcast_sec":$phB%.2f,"job_sec":$phJ%.2f,"driver_sec":$phD%.2f,"scale":$scale,"nnz":$nnz,"cpus":$cpus,"parts":$parts}""")
    } else {
      // warmup (JIT + code paths), then prepare alone (0 iterations) and
      // prepare + iters; the difference is the iterations' share
      def timed(k: Int): Double = {
        val t0 = System.nanoTime()
        PageRank.runExact(edges, verts, k, 0.85)
        (System.nanoTime() - t0) / 1e9
      }
      timed(1)
      val prepSec = timed(0)
      val sec = timed(iters)
      val iterSec = (sec - prepSec) / iters
      val eps = nnz / iterSec
      emit(f"""{"metric":"pagerank_eps","value":$eps%.0f,"unit":"edges/sec","sec":$sec%.2f,"prep_sec":$prepSec%.2f,"iter_sec":$iterSec%.3f,"iters":$iters,"scale":$scale,"edgefactor":$ef,"nnz":$nnz,"cpus":$cpus,"parts":$parts}""")
    }
    spark.stop()
  }
}
