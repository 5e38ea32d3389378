package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{Dictionary, LinkGraph}
import graft.kernels._
import graft.linalg.{BoolOrAnd, MinPlus, PlusTimes, SpMV}
import graft.operators.{MatrixOps, VectorOps}
import graft.oracle.{GraphOracles, MediaOracles, OpOracles, TextOracles}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Number of synthesized pages behind the `ingest_linkgraph` gate query —
    * shared by the query and the oracle-input dump in [[Verify]]. */
  val IngestPages = 2000L

  /** Side-channel directory where [[Verify]] dumps oracle inputs that are
    * not part of the driver's sfDir tables (the synthesized pages table).
    * Verify sets this to `<outDir>/aux` before rendering [[oracleSql]], so
    * the SQL the driver executes carries the correct absolute path. */
  @volatile var auxDir: String = "/tmp/graft_aux"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val edges = LinkGraph.edges(spark, dir)
    PageRank.run(edges, LinkGraph.vertices(spark, dir))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pagerank" -> ((s, dir) =>
      PageRank.run(LinkGraph.edges(s, dir), LinkGraph.vertices(s, dir))
        .orderBy("vid")),
    "cc_fastsv" -> ((s, dir) =>
      ConnectedComponents.run(LinkGraph.edges(s, dir), LinkGraph.vertices(s, dir))
        .orderBy("vid")),
    "labelprop" -> ((s, dir) =>
      LabelPropagation.run(LinkGraph.edges(s, dir), LinkGraph.vertices(s, dir))
        .orderBy("vid")),
    "tricnt" -> ((s, dir) =>
      Triangles.count(LinkGraph.edges(s, dir))),
    "bfs_levels" -> ((s, dir) => {
      val verts = LinkGraph.vertices(s, dir)
      val root = verts.agg(min(col("v"))).first().getLong(0)
      BFS.levels(LinkGraph.edges(s, dir), root).orderBy("vid")
    }),
    "bfs_parents_rand" -> ((s, dir) => {
      val verts = LinkGraph.vertices(s, dir)
      val root = verts.agg(min(col("v"))).first().getLong(0)
      BFS.parents(LinkGraph.edges(s, dir), root, seed = Some(42L))
        .orderBy("vid")
    }),
    "filtered_bfs" -> ((s, dir) => {
      // FilteredBFS semantics: the edge predicate applies on the fly —
      // Catalyst pushes it beneath the per-level SpMSpV join
      val fe = LinkGraph.weightedEdges(s, dir).where(col("w") >= 2)
        .select("src", "dst")
      val root = LinkGraph.vertices(s, dir).agg(min(col("v"))).first().getLong(0)
      BFS.levels(fe, root).orderBy("vid")
    }),
    "bfs_parents" -> ((s, dir) => {
      val verts = LinkGraph.vertices(s, dir)
      val root = verts.agg(min(col("v"))).first().getLong(0)
      BFS.parents(LinkGraph.edges(s, dir), root).orderBy("vid")
    }),
    "sssp" -> ((s, dir) => {
      val root = LinkGraph.vertices(s, dir).agg(min(col("v"))).first().getLong(0)
      SSSP.run(LinkGraph.weightedEdges(s, dir), root).orderBy("vid")
    }),
    "tdsp" -> ((s, dir) => {
      val root = LinkGraph.vertices(s, dir).agg(min(col("v"))).first().getLong(0)
      TDSP.run(LinkGraph.weightedEdges(s, dir), root, startT = 30000.0)
        .orderBy("vid")
    }),
    "bipartite_match" -> ((s, dir) => {
      val be = Tables.lineitem(s, dir)
        .select(col("l_orderkey").cast("long").as("r"),
          col("l_partkey").cast("long").as("c")).distinct()
      BipartiteMatching.run(be).orderBy("r")
    }),
    "max_match" -> ((s, dir) => {
      // contested sparse bipartite graph (ids folded mod primes + a ~2%
      // deterministic edge filter) so greedy is NOT already maximum and the
      // augmenting-path machinery is exercised by the gate
      val be = Tables.lineitem(s, dir)
        .where((col("l_orderkey").cast("long") * 7 +
          col("l_partkey").cast("long") * 13) % 97 < 2)
        .select((col("l_orderkey") % 157).cast("long").as("r"),
          (col("l_partkey") % 211).cast("long").as("c")).distinct()
      MaximumMatching.run(be).orderBy("r", "c")
    }),
    "cycle_match" -> ((s, dir) => {
      // denser contested graph than max_match (mods 61/67) so closing
      // edges exist and the 4-cycle exchange actually fires at sf0.01
      val be = Tables.lineitem(s, dir)
        .where((col("l_orderkey").cast("long") * 7 +
          col("l_partkey").cast("long") * 13) % 97 < 2)
        .select((col("l_orderkey") % 61).cast("long").as("r"),
          (col("l_partkey") % 67).cast("long").as("c")).distinct()
        .withColumn("w",
          ((col("r") * 31 + col("c") * 17) % 100 + 1).cast("double"))
      val init = BipartiteMatching.run(be.select("r", "c"))
      WeightedCycleMatching.run(be, init).orderBy("r", "c")
    }),
    "auction_match" -> ((s, dir) => {
      val be = Tables.lineitem(s, dir)
        .select(col("l_orderkey").cast("long").as("r"),
          col("l_partkey").cast("long").as("c"),
          col("l_quantity").cast("long").as("w"))
      AuctionMatching.run(be).orderBy("r")
    }),
    "rcm_order" -> ((s, dir) =>
      RCM.order(LinkGraph.edges(s, dir)).orderBy("vid")),
    "reduce_row" -> ((s, dir) =>
      MatrixOps.reduceRows(LinkGraph.weightedEdges(s, dir)).orderBy("v")),
    "masked_reduce" -> ((s, dir) => {
      val mask = LinkGraph.outDegrees(LinkGraph.edges(s, dir))
        .where(col("outdeg") > 115).select("v")
      MatrixOps.maskedReduceRows(LinkGraph.weightedEdges(s, dir), mask).orderBy("v")
    }),
    "kselect3" -> ((s, dir) =>
      MatrixOps.kselectPerColumn(LinkGraph.weightedEdges(s, dir), 3).orderBy("v", "rn")),
    "spmv_plustimes" -> ((s, dir) => {
      val x = LinkGraph.vertices(s, dir)
        .select(col("v"), (col("v") % 7 + 1).cast("double").as("xv"))
      SpMV(LinkGraph.weightedEdges(s, dir), x, PlusTimes).orderBy("v")
    }),
    "spmv_minplus" -> ((s, dir) => {
      val x = LinkGraph.vertices(s, dir)
        .select(col("v"), col("v").cast("double").as("xv"))
      SpMV(LinkGraph.weightedEdges(s, dir), x, MinPlus).orderBy("v")
    }),
    "spgemm_rowstats" -> ((s, dir) => {
      val e = LinkGraph.edges(s, dir)
      MatrixOps.spgemm(e, e, PlusTimes)
        .groupBy(col("src").as("v"))
        .agg(count(lit(1)).as("nnz"), sum(col("w")).cast("long").as("total"))
        .orderBy("v")
    }),
    "bool_spgemm" -> ((s, dir) => {
      // KTips-style boolean reachability product: A ⊗ A over (∨,∧) =
      // the 2-step-reachable pair set
      val e = LinkGraph.edges(s, dir).withColumn("w", lit(true))
      MatrixOps.spgemm(e, e, BoolOrAnd)
        .where(col("w")).select("src", "dst").orderBy("src", "dst")
    }),
    "galerkin" -> ((s, dir) => {
      // aggregation restriction: coarse vertex = fine div 8
      val rS = LinkGraph.vertices(s, dir)
        .select(expr("v div 8").as("src"), col("v").as("dst"),
          lit(1.0).as("w"))
      MatrixOps.galerkin(rS, LinkGraph.weightedEdges(s, dir), PlusTimes)
        .select(col("src"), col("dst"), col("w").cast("long").as("w"))
        .orderBy("src", "dst")
    }),
    "ewise_mask" -> ((s, dir) => {
      val e = LinkGraph.edges(s, dir)
      val a2 = MatrixOps.spgemm(e, e, PlusTimes).select("src", "dst")
      val inter = MatrixOps.ewiseIntersect(a2, e)
        .agg(count(lit(1)).as("intersect_nnz"))
      val excl = MatrixOps.ewiseExclude(a2, e)
        .agg(count(lit(1)).as("exclude_nnz"))
      inter.crossJoin(excl)
    }),
    "prune_split" -> ((s, dir) =>
      LinkGraph.edges(s, dir).groupBy(col("src").as("v"))
        .agg(sum(when(col("src") > col("dst"), 1).otherwise(0)).cast("long").as("lower_nnz"),
             sum(when(col("src") < col("dst"), 1).otherwise(0)).cast("long").as("upper_nnz"))
        .orderBy("v")),
    "dict_parts" -> ((s, dir) =>
      Dictionary.encode(Tables.part(s, dir).select("p_name"), "p_name").orderBy("p_name")),
    "sort_perm" -> ((s, dir) =>
      VectorOps.sortPerm(Tables.part(s, dir).select("p_partkey", "p_retailprice"),
          Seq(col("p_retailprice"), col("p_partkey")))
        .select("p_partkey", "rank").orderBy("p_partkey")),
    "text_tokens" -> ((s, dir) =>
      text.TextOps.tokenStats(Tables.documents(s, dir)).orderBy("doc_id")),
    "corpus_clean" -> ((s, dir) => {
      // the C4-style cleaning composition: language-ID → quality filter →
      // exact dedup (rep = min doc_id among survivors) → per-language stats
      val docs = Tables.documents(s, dir)
      val okDocs = text.TextOps.quality(docs)
        .where(col("quality") === "ok").select("doc_id")
      val enDocs = text.TextOps.langId(docs)
        .where(col("predicted_lang") === "en").select("doc_id")
      val filtered = docs.join(okDocs, "doc_id").join(enDocs, "doc_id")
      val reps = filtered.groupBy(md5(col("text")).as("fp"))
        .agg(min("doc_id").as("doc_id"))
      filtered.join(reps.select("doc_id"), "doc_id")
        .groupBy(col("lang").as("declared_lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(text.TextOps.tokens(col("text"))).cast("long")).as("n_tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .orderBy("declared_lang")
    }),
    "text_quality" -> ((s, dir) =>
      text.TextOps.quality(Tables.documents(s, dir)).orderBy("doc_id")),
    "text_langid" -> ((s, dir) =>
      text.TextOps.langId(Tables.documents(s, dir)).orderBy("doc_id")),
    "text_fingerprint" -> ((s, dir) =>
      text.TextOps.fingerprint(Tables.documents(s, dir)).orderBy("doc_id")),
    "text_bpe" -> ((s, dir) =>
      text.TextOps.bpeTokens(Tables.documents(s, dir)).orderBy("doc_id")),
    "dedup_exact" -> ((s, dir) =>
      dedup.Dedup.exact(Tables.documents(s, dir)).orderBy("fp")),
    "dedup_minhash" -> ((s, dir) =>
      dedup.Dedup.minhash(Tables.documents(s, dir)).orderBy("doc_id")),
    "dedup_lsh_pairs" -> ((s, dir) =>
      dedup.Dedup.lshCandidates(Tables.documents(s, dir), bucketCap = 1000)
        .orderBy("a", "b")),
    "dedup_jaccard" -> ((s, dir) =>
      dedup.Dedup.ngramJaccard(Tables.documents(s, dir), 3, 0.05, maxDf = 100)
        .orderBy("a", "b")),
    "dedup_simhash" -> ((s, dir) =>
      dedup.Dedup.simhash(Tables.documents(s, dir)).orderBy("doc_id")),
    "ann_topk" -> ((s, dir) =>
      sim.Ann.cosineTopK(Tables.embeddings(s, dir), 20, 5).orderBy("qid", "rank")),
    "embed_norms" -> ((s, dir) =>
      sim.Ann.norms(Tables.embeddings(s, dir)).orderBy("vec_id")),
    "embed_quantize" -> ((s, dir) =>
      sim.Ann.quantizeInt8Stats(Tables.embeddings(s, dir)).orderBy("vec_id")),
    "ann_buckets" -> ((s, dir) =>
      sim.Ann.signBuckets(Tables.embeddings(s, dir), 8)
        .groupBy("bucket").agg(count(lit(1)).as("n")).orderBy("bucket")),
    "ann_lsh_topk" -> ((s, dir) =>
      sim.Ann.bucketedTopK(Tables.embeddings(s, dir), 20, 5, 8).orderBy("qid", "rank")),
    "ann_multitable" -> ((s, dir) =>
      sim.Ann.multiTableTopK(Tables.embeddings(s, dir), 20, 5, bits = 8,
          tables = 8, bucketCap = 50)
        .orderBy("qid", "rank")),
    "ann_ivf" -> ((s, dir) =>
      sim.Ann.ivfTopK(Tables.embeddings(s, dir), 20, 5, nCells = 16, nProbe = 4)
        .orderBy("qid", "rank")),
    "ann_rh" -> ((s, dir) =>
      sim.Ann.randomHyperplaneTopK(Tables.embeddings(s, dir), 20, 5, bits = 8,
          tables = 2, bucketCap = 50, seed = "rh")
        .orderBy("qid", "rank")),
    "dedup_embed" -> ((s, dir) =>
      sim.Ann.embedNearDup(Tables.embeddings(s, dir), minCos = 0.35, bits = 8,
          tables = 8, bucketCap = 50)
        .orderBy("a", "b")),
    "bandwidth" -> ((s, dir) =>
      operators.EWise.bandwidth(LinkGraph.edges(s, dir))),
    "events_window" -> ((s, dir) =>
      streaming.EventOps.hourlyWindow(Tables.events(s, dir)).orderBy("hour", "event_type")),
    "events_sessions" -> ((s, dir) =>
      streaming.EventOps.sessionCounts(Tables.events(s, dir)).orderBy("user_id")),
    "ingest_linkgraph" -> ((s, dir) => {
      // pages → extract → dictionary → edges, fully deterministic; the
      // DuckDB oracle re-derives the edges from the pages dump in auxDir
      val built = graph.WebGraph.build(pages.PageGen.pages(s, IngestPages))
      built.edges.orderBy("src", "dst")
    }),
    "ingest_text" -> ((s, dir) =>
      // the input_hint per-row invariant: extracted text, byte-identical;
      // the oracle re-runs the extraction in SQL over the pages dump
      pages.Extract.textTable(pages.PageGen.pages(s, IngestPages))
        .orderBy("url")),
    "media_stats" -> ((s, dir) =>
      // DuckDB re-derives the header decode from the raw payload bytes
      // Verify dumps to auxDir (hex + positional byte extraction)
      media.Media.kindStats(media.Media.decodeMeta(media.Media.payloads(s, 500)))
        .orderBy("kind")),
    "media_features" -> ((s, dir) =>
      // integer-exact strided projection, re-derived by the oracle from the
      // same payload dump (exploded to rows; float32 widened to double)
      media.Media.features(media.Media.payloads(s, 500), 16)
        .select(col("media_id"), posexplode(col("features")).as(Seq("d", "f")))
        .select(col("media_id"), col("d").cast("long").as("d"),
          col("f").cast("double").as("feature"))
        .orderBy("media_id", "d")),
    "induced_stats" -> ((s, dir) => {
      // w>=2 fragments the co-occurrence graph into ~10^2 components at
      // sf0.01, so the per-component routing is actually exercised
      val e = LinkGraph.weightedEdges(s, dir).where(col("w") >= 2)
        .select("src", "dst")
      val labels = ConnectedComponents.run(e, LinkGraph.vertices(s, dir))
      MatrixOps.inducedSubgraphStats(e, labels).orderBy("component")
    }),
    "cc_labeled" -> ((s, dir) => {
      // WriteMCLClusters-style labeled output: components of the ingested
      // web graph decoded back through the dictionary in BOTH directions
      val built = graph.WebGraph.build(pages.PageGen.pages(s, IngestPages))
      val cc = ConnectedComponents.run(graph.WebGraph.symmetrize(built.edges),
        built.vertices)
      val byV = built.dict.select(col("vid"), col("url"))
      val byC = built.dict.select(col("vid").as("component"),
        col("url").as("cluster_url"))
      cc.join(byV, "vid").join(byC, "component")
        .select("url", "cluster_url").orderBy("url")
    }),
    "bfs_single" -> ((s, dir) => {
      val root = LinkGraph.vertices(s, dir).agg(min(col("v"))).first().getLong(0)
      BFS.singleChild(LinkGraph.edges(s, dir), root, seed = 42L)
        .orderBy("parent", "dist")
    }),
    // FP-pinned gate mode (left-fold sums over sorted operands, w*w
    // inflation, fixed iterations) — hash-exact vs the DuckDB replay;
    // MarkovClustering.run stays the chaos-terminated throughput path
    "mcl_clusters" -> ((s, dir) =>
      MarkovClustering.gateRun(LinkGraph.weightedEdges(s, dir),
          LinkGraph.vertices(s, dir), iters = 3)
        .orderBy("vid")),
    "ewise_outer" -> ((s, dir) => {
      // generalized EWiseApply: union-of-patterns full-outer with per-side
      // defaults (ParFriends.h:2207-2255 allowANulls/allowBNulls semantics)
      val we = LinkGraph.weightedEdges(s, dir)
      val a = we.where(col("w") >= 2)
      val b = we.where((col("src") + col("dst")) % 3 === 0)
      operators.EWise.ewiseApply(a, b, (x, y) => x + lit(2.0) * y)
        .orderBy("src", "dst")
    }),
    "subsref" -> ((s, dir) => {
      val verts = LinkGraph.vertices(s, dir)
      operators.EWise.subsRef(LinkGraph.weightedEdges(s, dir),
          verts.where(col("v") % 5 === 0), verts.where(col("v") % 3 === 0))
        .orderBy("src", "dst")
    }),
    "spasgn" -> ((s, dir) => {
      val we = LinkGraph.weightedEdges(s, dir)
      val verts = LinkGraph.vertices(s, dir)
      val b = we.where(col("src") % 7 === 0 && col("dst") % 2 === 0)
        .select(col("src"), col("dst"), lit(999.0).as("w"))
      operators.EWise.spAsgn(we,
          verts.where(col("v") % 7 === 0), verts.where(col("v") % 2 === 0), b)
        .orderBy("src", "dst", "w")
    }),
    "prune_val" -> ((s, dir) =>
      operators.EWise.prune(LinkGraph.weightedEdges(s, dir), col("w") >= 3)
        .orderBy("src", "dst")),
    "prune_cols" -> ((s, dir) => {
      // threshold vector = per-column mean weight (MCL's select-threshold
      // shape); exact-integral sum / long count ⇒ engine-neutral boundary
      val we = LinkGraph.weightedEdges(s, dir)
      val thr = we.groupBy(col("dst").as("v"))
        .agg((sum(col("w")) / count(lit(1))).as("xv"))
      operators.EWise.pruneColumn(we, thr).orderBy("src", "dst")
    }),
    "vec_uniq" -> ((s, dir) => {
      val deg = LinkGraph.outDegrees(LinkGraph.edges(s, dir))
        .select(col("v"), col("outdeg").cast("double").as("xv"))
      VectorOps.uniq(deg).orderBy("xv")
    }),
    "vec_invert" -> ((s, dir) => {
      val perm = VectorOps.sortPerm(
          Tables.part(s, dir).select("p_partkey", "p_retailprice"),
          Seq(col("p_retailprice"), col("p_partkey")))
        .select(col("p_partkey").cast("long").as("v"),
          col("rank").cast("double").as("xv"))
      VectorOps.invert(perm).orderBy("v")
    }),
    "vec_concat" -> ((s, dir) => {
      val deg = LinkGraph.outDegrees(LinkGraph.edges(s, dir))
        .select(col("v"), col("outdeg").cast("double").as("xv"))
      VectorOps.concat(deg, deg.where(col("xv") >= 100), 1000000L).orderBy("v")
    }),
    "vec_minelt" -> ((s, dir) => {
      val deg = LinkGraph.outDegrees(LinkGraph.edges(s, dir))
        .select(col("v"), col("outdeg").cast("double").as("xv"))
      VectorOps.minElement(deg)
    }),
    "vec_gather" -> ((s, dir) => {
      // Extract/gather through an index vector (CC.h:419-575): the degree
      // vector indexes a dense vertex-keyed table; out(v) = dense(deg(v))
      val deg = LinkGraph.outDegrees(LinkGraph.edges(s, dir))
        .select(col("v"), col("outdeg").cast("double").as("xv"))
      val dense = LinkGraph.vertices(s, dir)
        .select(col("v"), ((col("v") * 37) % 1001).cast("double").as("xv"))
      VectorOps.gather(deg, dense).orderBy("v")
    }),
    "vec_scatter_min" -> ((s, dir) => {
      // Assign/ReduceAssign (CC.h:746-1028): incoming updates min-reduced
      // into the degree vector; duplicates pre-reduce map-side
      val e = LinkGraph.edges(s, dir)
      val deg = LinkGraph.outDegrees(e)
        .select(col("v"), col("outdeg").cast("double").as("xv"))
      val upd = e.select(col("dst").as("target"),
        (col("src") % 50).cast("double").as("xv"))
      VectorOps.scatterMin(deg, upd).orderBy("v")
    }),
    "reduce_col" -> ((s, dir) =>
      MatrixOps.reduceCols(LinkGraph.weightedEdges(s, dir)).orderBy("v")),
    "matrix_add" -> ((s, dir) => {
      val we = LinkGraph.weightedEdges(s, dir)
      MatrixOps.add(we, we.where(col("w") >= 2), PlusTimes).orderBy("src", "dst")
    }),
    "spgemm_phased" -> ((s, dir) => {
      // MemEfficientSpGEMM through the gate: phased SUMMA over disjoint
      // column-block slices, decoded back to COO and row-aggregated — the
      // oracle is the SAME SQL as spgemm_rowstats, so phased ≡ relational
      // is independently verified (not just phased ≡ single-phase in-spec)
      import graft.linalg.BlockMatrix
      val e = LinkGraph.edges(s, dir).withColumn("w", lit(1.0))
      val maxId = IdRange.of(e, "src", "dst").max
      val bs = 512
      val nb = BlockMatrix.numBlocks(maxId + 1, bs)
      val blocks = BlockBuild.csrValBlocks(e, bs, Seq(col("rb"), col("cb")))
      val prod = BlockMatrix.spgemmPhased(blocks, blocks, bs, nb, phases = 2,
        zero = 0.0, add = _ + _, mult = _ * _)
      BlockMatrix.toCoo(prod, bs)
        .groupBy(col("src").as("v"))
        .agg(count(lit(1)).as("nnz"), sum(col("w")).cast("long").as("total"))
        .orderBy("v")
    }),
    "mis" -> ((s, dir) =>
      MaximalIndependentSet.run(LinkGraph.edges(s, dir), LinkGraph.vertices(s, dir))
        .orderBy("v")),
    "bc_batch" -> ((s, dir) => {
      val verts = LinkGraph.vertices(s, dir)
      val sources = verts.orderBy("v").limit(16).collect().map(_.getLong(0)).toSeq
      Betweenness.forSources(LinkGraph.edges(s, dir), sources).orderBy("vid")
    }),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "pagerank" -> GraphOracles.pagerankSql(),
    "cc_fastsv" -> GraphOracles.ccSql,
    "labelprop" -> GraphOracles.labelPropSql(),
    "tricnt" -> GraphOracles.trianglesSql,
    "bfs_levels" -> GraphOracles.bfsSql(),
    "bfs_parents" -> GraphOracles.bfsParentsSql(),
    "filtered_bfs" -> GraphOracles.filteredBfsSql(),
    "bfs_parents_rand" -> GraphOracles.bfsParentsRandSql(42L),
    "bfs_single" -> GraphOracles.bfsSingleSql(42L),
    "mcl_clusters" -> GraphOracles.mclSql(iters = 3),
    "induced_stats" -> GraphOracles.inducedStatsSql(),
    "cc_labeled" -> GraphOracles.ccLabeledSql(s"$auxDir/pages"),
    "sssp" -> GraphOracles.ssspSql(),
    "tdsp" -> GraphOracles.tdspSql(startT = 30000.0),
    "bipartite_match" -> GraphOracles.matchingSql(),
    "max_match" -> GraphOracles.maxMatchSql(),
    "cycle_match" -> GraphOracles.cycleMatchSql(),
    "auction_match" -> GraphOracles.auctionSql(),
    "rcm_order" -> GraphOracles.rcmSql(),
    "mis" -> GraphOracles.misSql(),
    "bc_batch" -> GraphOracles.bcSql(),
    "reduce_row" -> OpOracles.reduceRowsSql,
    "masked_reduce" -> OpOracles.maskedReduceSql(115),
    "kselect3" -> OpOracles.kselectSql(3),
    "spmv_plustimes" -> OpOracles.spmvPlusTimesSql,
    "spmv_minplus" -> OpOracles.spmvMinPlusSql,
    "spgemm_rowstats" -> OpOracles.spgemmRowStatsSql,
    "galerkin" -> OpOracles.galerkinSql,
    "bool_spgemm" -> OpOracles.boolSpgemmSql,
    "ewise_mask" -> OpOracles.ewiseMaskSql,
    "prune_split" -> OpOracles.pruneSplitSql,
    "dict_parts" -> OpOracles.dictPartsSql,
    "sort_perm" -> OpOracles.sortPermSql,
    "text_tokens" -> TextOracles.textTokensSql,
    "corpus_clean" -> TextOracles.corpusCleanSql,
    "text_quality" -> TextOracles.textQualitySql,
    "text_langid" -> TextOracles.textLangIdSql,
    "text_fingerprint" -> TextOracles.fingerprintSql,
    "text_bpe" -> TextOracles.bpeTokensSql,
    "dedup_exact" -> TextOracles.dedupExactSql,
    "dedup_minhash" -> TextOracles.minhashSql,
    "dedup_lsh_pairs" -> TextOracles.lshPairsSql(bucketCap = 1000),
    "dedup_jaccard" -> TextOracles.ngramJaccardSql(3, "0.05", maxDf = 100),
    "dedup_simhash" -> TextOracles.simhashSql,
    "ann_topk" -> TextOracles.annTopKSql(20, 5),
    "embed_norms" -> TextOracles.embedNormsSql,
    "embed_quantize" -> TextOracles.embedQuantizeSql,
    "ann_buckets" -> TextOracles.annBucketsSql(8),
    "ann_lsh_topk" -> TextOracles.annLshTopKSql(20, 5, 8),
    "ann_multitable" -> TextOracles.annMultiTableSql(20, 5, bits = 8,
      tables = 8, bucketCap = 50),
    "ann_ivf" -> TextOracles.annIvfSql(20, 5, nCells = 16, nProbe = 4),
    "ann_rh" -> TextOracles.annRandomHyperplaneSql(20, 5, bits = 8,
      tables = 2, bucketCap = 50, dim = 64, seed = "rh"),
    "dedup_embed" -> TextOracles.embedNearDupSql(0.35, bits = 8,
      tables = 8, bucketCap = 50),
    "bandwidth" -> OpOracles.bandwidthSql,
    "ewise_outer" -> OpOracles.ewiseOuterSql,
    "subsref" -> OpOracles.subsRefSql,
    "spasgn" -> OpOracles.spAsgnSql,
    "prune_val" -> OpOracles.pruneValSql,
    "prune_cols" -> OpOracles.pruneColsSql,
    "vec_uniq" -> OpOracles.vecUniqSql,
    "vec_invert" -> OpOracles.vecInvertSql,
    "vec_concat" -> OpOracles.vecConcatSql,
    "vec_minelt" -> OpOracles.vecMinEltSql,
    "vec_gather" -> OpOracles.vecGatherSql,
    "vec_scatter_min" -> OpOracles.vecScatterMinSql,
    "reduce_col" -> OpOracles.reduceColsSql,
    "matrix_add" -> OpOracles.matrixAddSql,
    "spgemm_phased" -> OpOracles.spgemmRowStatsSql,
    "ingest_linkgraph" -> GraphOracles.ingestLinkGraphSql(s"$auxDir/pages"),
    "ingest_text" -> GraphOracles.ingestTextSql(s"$auxDir/pages"),
    "media_stats" -> MediaOracles.mediaStatsSql(s"$auxDir/media"),
    "media_features" -> MediaOracles.mediaFeaturesSql(s"$auxDir/media", 16),
    "events_window" -> TextOracles.eventsWindowSql,
    "events_sessions" -> TextOracles.eventsSessionsSql(1800),
  )
}
