package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit}
import graft.operators._
import graft.graph.{GraphBuilder, GraphOps}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  // Per-SF-dir side outputs (file-format round-trip fixtures), one
  // named builder per kind so the src_*/g_from_file queries and
  // [[prewarmSideOutputs]] share a single write definition.
  private def sideOutEdgeList(s: SparkSession, d: String): String =
    SideOutput("edgelist", s"$d/lineitem.parquet")(p =>
      graft.sources.EdgeListSource.write(GraphBuilder.supplierCoEdges(s, d), p))
  private def sideOutEventsPart(s: SparkSession, d: String): String =
    SideOutput("eventspart", s"$d/events.parquet")(p =>
      Tables.events(s, d).select(col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").partitionBy("event_type").parquet(p))
  private def sideOutDocsJson(s: SparkSession, d: String): String =
    SideOutput("docsjson", s"$d/documents.parquet")(p =>
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .write.mode("overwrite").json(p))
  private def sideOutDocsNested(s: SparkSession, d: String): String =
    SideOutput("docsnested", s"$d/documents.parquet") { p =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      docs.filter(col("doc_id") % 2 === 0)
        .write.mode("overwrite").json(s"$p/even/part")
      docs.filter(col("doc_id") % 2 =!= 0)
        .write.mode("overwrite").json(s"$p/odd/deep/part")
    }
  private def sideOutDocsJsonGz(s: SparkSession, d: String): String =
    SideOutput("docsjsongz", s"$d/documents.parquet")(p =>
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .write.mode("overwrite").option("compression", "gzip").json(p))
  /** One pretty-printed JSON ARRAY file (records spanning many
    * physical lines) — the config-dump/API-export shape that breaks
    * a naive line-per-record reader; Spark's `multiLine` mode must
    * parse it whole-file. Fixture assembly streams the NDJSON part
    * lines into one array locally (corpus-bounded, fixture-only —
    * the READ path is the operator). */
  private def sideOutDocsMultiline(s: SparkSession, d: String): String =
    SideOutput("docsmljson", s"$d/documents.parquet") { p =>
      val nd = s"$p/_nd"
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .coalesce(1).write.mode("overwrite").json(nd)
      val lines = new java.io.File(nd).listFiles()
        .filter(_.getName.endsWith(".json")).sorted
        .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines())
        .filter(_.nonEmpty)
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$p/data"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$p/data/docs.json"),
        lines.mkString("[\n", ",\n", "\n]").getBytes("UTF-8")): Unit
    }
  private def sideOutDocsBin(s: SparkSession, d: String): String =
    SideOutput("docsbin", s"$d/documents.parquet")(p =>
      graft.sources.BinaryFileSource.writePayloadFiles(
        Tables.documents(s, d).select(col("doc_id"), col("text")), p))
  private def sideOutDocsText(s: SparkSession, d: String): String =
    SideOutput("docstext", s"$d/documents.parquet")(p =>
      Tables.documents(s, d)
        .select(org.apache.spark.sql.functions
          .concat_ws("\u0001", col("doc_id"), col("text")).as("value"))
        .write.mode("overwrite").text(p))
  private def sideOutDocsOrc(s: SparkSession, d: String): String =
    SideOutput("docsorc", s"$d/documents.parquet")(p =>
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .write.mode("overwrite").orc(p))
  private def sideOutDocsCsv(s: SparkSession, d: String): String =
    SideOutput("docscsv", s"$d/documents.parquet")(p =>
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true")
        .option("escape", "\"").option("nullValue", "\u0000")
        .csv(p))

  /** Mixed-vintage parquet directory: an "old ingest" file set with a
    * narrow INT32 doc_id and no source/n_chars columns, plus a "new
    * ingest" set with the full widened schema — the drifted-lake shape
    * the round-9 events incident proved real. Both vintages land in
    * ONE directory. */
  private def sideOutDocsVintages(s: SparkSession, d: String): String =
    SideOutput("docsvint", s"$d/documents.parquet") { p =>
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").cast("int").as("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(p)
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
        .write.mode("append").parquet(p)
    }

  /** Partitioned lake after a DYNAMIC partition overwrite: the full
    * events table lands partitioned by event_type, then a second
    * overwrite-mode write carrying ONLY compacted error rows
    * (value ≥ 2.5) replaces exactly that partition — Spark's
    * `partitionOverwriteMode=dynamic` contract. Static overwrite
    * semantics would wipe the other four partitions and append would
    * double the error rows; the oracle's
    * `type <> 'error' OR value >= 2.5` predicate fails either way,
    * so the partition-replacement semantics are pinned end to end. */
  private def sideOutEventsDynOverwrite(s: SparkSession, d: String): String =
    SideOutput("eventsdyn", s"$d/events.parquet") { p =>
      val ev = Tables.events(s, d).select(col("event_id"), col("user_id"),
        col("event_type"), col("value"))
      ev.write.mode("overwrite").partitionBy("event_type").parquet(p)
      ev.filter(col("event_type") === "error" && col("value") >= 2.5)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type").parquet(p)
    }

  /** The docs CSV fixture with five PLANTED malformed rows (non-
    * numeric doc_id) in their own part file — the dirty-lake
    * ingestion case every CSV reader meets. The bad file carries its
    * own header line (the header option swallows one per file). */
  private def sideOutDocsCsvCorrupt(s: SparkSession, d: String): String =
    SideOutput("docscsvbad", s"$d/documents.parquet") { p =>
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true")
        .option("escape", "\"").option("nullValue", "\u0000")
        .csv(p)
      val w = new java.io.PrintWriter(new java.io.File(p, "part-bad.csv"))
      try {
        w.println("doc_id,text")
        (1 to 5).foreach(i => w.println(s"""notanumber$i,"bad row $i""""))
      } finally w.close()
    }

  /** Materializes every per-SF-dir side output. Bench calls this in
    * its (untimed) warmup so BOTH sweeps time only the read path —
    * previously sweep 1 paid the one-time file writes while sweep 2
    * skipped them, and the lower-median reported a cheaper query than
    * the cold-memo contract implies. Writes are keyed on source-file
    * identity, so an already-fresh fixture is a no-op. */
  def prewarmSideOutputs(s: SparkSession, d: String): Unit = {
    sideOutEdgeList(s, d); sideOutEventsPart(s, d); sideOutDocsJson(s, d)
    sideOutDocsBin(s, d); sideOutDocsOrc(s, d); sideOutDocsCsv(s, d)
    sideOutDocsText(s, d); sideOutDocsVintages(s, d)
    sideOutDocsMultiline(s, d): Unit
    sideOutEventsDynOverwrite(s, d); sideOutDocsCsvCorrupt(s, d)
    // Round-11 file fixtures (COW/bucketed tables, skip layouts, MV
    // state, compacted copies, stream landings): building is eager
    // inside each query's constructor, so one cheap invocation per
    // fixture here keeps every bench sweep timing the READ path
    // instead of billing sweep 1 for one-time writes.
    Seq("src_bucketed_merge", "src_minmax_skip", "src_zorder_skip",
      "q_incremental_mv", "s_stream_mv", "src_partition_evolution",
      "src_compaction",
      // e_ivf_persist's one-time index WRITE is fixture work (the
      // operator's story is build-once/search-many); sweeps time the
      // load + DPP-pruned search.
      "e_ivf_persist", "e_pq_persist", "e_hnsw_persist", "d_sig_persist",
      "e_lsh_persist")
      .foreach(q => queries(q)(s, d).limit(1).count(): Unit)
  }

  /** Flagship: Louvain community detection on the supplier
    * co-occurrence graph at sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    GraphOps.louvain(spark,
      GraphBuilder.supplierCoEdges(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_edges" -> ((s, d) =>
      GraphBuilder.supplierCoEdges(s, d).orderBy(col("src"), col("dst"))),
    "g_degree" -> ((s, d) =>
      GraphOps.degrees(GraphBuilder.supplierCoEdges(s, d)).orderBy(col("vertex"))),
    "g_triangles" -> ((s, d) =>
      GraphOps.triangleCount(GraphBuilder.supplierCoEdges(s, d))),
    "g_cc" -> ((s, d) =>
      GraphOps.connectedComponents(s, GraphBuilder.supplierCoEdges(s, d))
        .orderBy(col("vertex"))),
    "g_cc_df" -> ((s, d) =>
      graph.ConnectedComponentsDF.run(s, GraphBuilder.supplierCoEdges(s, d))
        .orderBy(col("vertex"))),
    "g_louvain" -> ((s, d) =>
      GraphOps.louvain(s, GraphBuilder.supplierCoEdges(s, d))
        .orderBy(col("vertex"))),
    // Rows-only + spec (connectivity guarantee + modularity-monotone
    // repair; rides the memoized louvain run, so the added cost is
    // one intra-edge projection + one CC pass).
    "g_leiden" -> ((s, d) =>
      GraphOps.leiden(s, GraphBuilder.supplierCoEdges(s, d))),
    "g_modularity" -> ((s, d) =>
      GraphOps.louvainLevels(s, GraphBuilder.supplierCoEdges(s, d))
        .orderBy(col("level"))),
    // Q of the 4-round LPA labels: both the labels AND the score sit
    // under the DuckDB oracle (unrolled rounds + closed-form Q).
    "g_modularity_of" -> ((s, d) => {
      val edges = GraphBuilder.supplierCoEdges(s, d)
      GraphOps.modularityOf(edges, GraphOps.labelPropagation(s, edges, iters = 4))
    }),
    // Conductance of the deterministic residue partition label = v % 8:
    // both the assignment and φ sit fully under the SQL oracle (the
    // engine's Louvain/Leiden audits reuse the same conductanceOf).
    "g_conductance" -> ((s, d) => {
      val edges = GraphBuilder.supplierCoEdges(s, d)
      val verts = edges.select(col("src").as("vertex"))
        .unionAll(edges.select(col("dst").as("vertex"))).distinct()
      GraphOps.conductanceOf(edges,
        verts.select(col("vertex"),
          org.apache.spark.sql.functions.pmod(col("vertex"), lit(8L)).as("label")))
    }),
    "g_coreness" -> ((s, d) =>
      GraphOps.coreness(s, GraphBuilder.supplierCoEdges(s, d))),
    "g_pagerank" -> ((s, d) =>
      GraphOps.pageRank(s, GraphBuilder.supplierCoEdges(s, d))
        .orderBy(col("vertex"))),
    "g_lpa" -> ((s, d) =>
      GraphOps.labelPropagation(s, GraphBuilder.supplierCoEdges(s, d))
        .orderBy(col("vertex"))),
    "g_pagerank_w" -> ((s, d) =>
      GraphOps.pageRankWeighted(s, GraphBuilder.supplierCoEdges(s, d))),
    "g_pagerank_det" -> ((s, d) =>
      GraphOps.pageRankInteger(s, GraphBuilder.supplierCoEdges(s, d))),
    "g_ppr" -> ((s, d) =>
      GraphOps.personalizedPageRank(s, GraphBuilder.supplierCoEdges(s, d))),
    // Katz truncated-walk centrality, integer rounds (div 256).
    "g_katz" -> ((s, d) =>
      GraphOps.katzCentrality(s, GraphBuilder.supplierCoEdges(s, d))),
    // Undamped principal-eigenvector centrality: integer power
    // iteration with truncating max-renormalization per round.
    "g_eigencentrality" -> ((s, d) =>
      GraphOps.eigenCentrality(s, GraphBuilder.supplierCoEdges(s, d))),
    // Directed-edge mutuality on the supplier hand-off chain.
    "g_reciprocity" -> ((s, d) =>
      GraphOps.reciprocity(s, GraphBuilder.supplierChainEdges(s, d))),
    // Customer co-purchase projection of the RECURRENT (≥2-order)
    // bipartite purchase graph — the cut is the scale path: the raw
    // graph's Σdeg² wedge stream is quadratic in SF (345M rows at
    // sf0.1), the recurrent graph's is ~2300× smaller and linear.
    // Wedge join AQE-pinned with post-checkpoint numbered repartitions.
    "g_bipartite_proj" -> ((s, d) =>
      GraphOps.bipartiteProjection(s, GraphBuilder.recurrentPurchaseEdges(s, d))),
    "g_clustering" -> ((s, d) =>
      GraphOps.clusteringCoefficients(GraphBuilder.supplierCoEdges(s, d))),
    "g_sssp" -> ((s, d) =>
      GraphOps.shortestPaths(s, GraphBuilder.supplierCoEdges(s, d))
        .orderBy(col("vertex"), col("landmark"))),
    // Landmark eccentricity + diameter lower bound: the g_sssp BFS
    // aggregated per landmark (max hop = eccentricity; diameter ≥
    // max over landmarks — the classic double-sweep bound's
    // multi-source form). Rides the same dispatched shortestPaths.
    "g_diameter" -> ((s, d) => {
      val mx = (c: org.apache.spark.sql.Column) =>
        org.apache.spark.sql.functions.max(c)
      val sp = GraphOps.shortestPaths(s, GraphBuilder.supplierCoEdges(s, d))
      val ecc = sp.groupBy(col("landmark"))
        .agg(count(lit(1)).as("n_reached"), mx(col("hops")).as("ecc"))
      val dm = ecc.agg(mx(col("ecc")).as("diam_lb"))
      ecc.crossJoin(broadcast(dm)).orderBy(col("landmark"))
    }),
    // Mean shortest-path length + 90th-pct effective diameter per
    // landmark — the small-world readout off the same dispatched
    // BFS as g_sssp/g_diameter; truncating e4 mean, ordered
    // selection at rank ceil(0.9·n) (ties collapse to one VALUE).
    "g_avg_path" -> ((s, d) => {
      import org.apache.spark.sql.functions.{expr => fexpr}
      val sp = GraphOps.shortestPaths(s, GraphBuilder.supplierCoEdges(s, d))
        .filter(col("hops") > 0)
      val agg = sp.groupBy(col("landmark"))
        .agg(count(lit(1)).as("n_reached"),
          org.apache.spark.sql.functions.sum(col("hops")).as("hsum"))
        .select(col("landmark"), col("n_reached"),
          fexpr("(hsum * 10000) div n_reached").as("mean_hops_e4"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("landmark")).orderBy(col("hops"), col("vertex"))
      val eff = sp
        .withColumn("rk", org.apache.spark.sql.functions.row_number().over(w))
        .join(agg.select(col("landmark"), col("n_reached")), Seq("landmark"))
        .filter(col("rk").cast("long") ===
          org.apache.spark.sql.functions.ceil(lit(0.9) * col("n_reached")))
        .groupBy(col("landmark"))
        .agg(org.apache.spark.sql.functions.max(col("hops")).as("eff_diam"))
      agg.join(eff, Seq("landmark")).orderBy(col("landmark"))
    }),
    // HyperBall harmonic centrality: per-vertex Σ 1/d from ANF ball
    // increments (rows-only + BFS-exact planted spec).
    "g_harmonic" -> ((s, d) =>
      GraphOps.harmonicApprox(s, GraphBuilder.supplierCoEdges(s, d))),
    // Exact landmark harmonic centrality — the deterministic
    // full-oracle twin beside the ANF sketch (round 16; the
    // g_pagerank/g_pagerank_det pattern). Rides the dispatched BFS.
    "g_harmonic_det" -> ((s, d) =>
      GraphOps.harmonicLandmarks(s, GraphBuilder.supplierCoEdges(s, d))),
    // Time-respecting reachability: earliest-arrival histogram from
    // the min-id supplier over temporal co-occurrence contacts
    // (rows-only + hand-computed planted chains).
    "g_temporal_reach" -> ((s, d) =>
      GraphOps.temporalReach(s, GraphBuilder.supplierTemporalEdges(s, d))
        .groupBy(org.apache.spark.sql.functions
          .coalesce(col("arr"), lit(-1L)).as("arr_day"))
        .agg(count(lit(1)).as("n_vertices"))
        .orderBy(col("arr_day"))),
    "g_sssp_w" -> ((s, d) =>
      GraphOps.weightedShortestPaths(s, GraphBuilder.supplierCoEdges(s, d))
        .orderBy(col("vertex"), col("landmark"))),
    "g_kcore" -> ((s, d) =>
      GraphOps.kCore(s, GraphBuilder.supplierCoEdges(s, d), k = 10)),
    "g_closeness" -> ((s, d) =>
      GraphOps.closenessCentrality(s, GraphBuilder.supplierCoEdges(s, d))),
    "g_hits" -> ((s, d) =>
      GraphOps.hits(s, GraphBuilder.purchaseEdges(s, d))),
    "g_betweenness" -> ((s, d) =>
      GraphOps.betweennessCentrality(s, GraphBuilder.supplierCoEdges(s, d))),
    "g_scc" -> ((s, d) =>
      graft.graph.StronglyConnectedDF.run(s, GraphBuilder.supplierChainEdges(s, d))
        .orderBy(col("vertex"))),
    "g_triads" -> ((s, d) =>
      GraphOps.triadCensus(s, GraphBuilder.supplierChainEdges(s, d))),
    // Motif DSL exercised end-to-end: closed (feed-forward) vs OPEN
    // directed wedges on the RECURRENT hand-off subgraph (pairs seen
    // in ≥2 orders — the strongTies-style cut; the raw chain graph is
    // near-complete and its Σ indeg·outdeg wedge stream is ~200× the
    // edge count). The open count needs the DSL's negated-term
    // anti-join, which no fixed census computes.
    "g_motif" -> ((s, d) => {
      val e = GraphBuilder.recurrentChainEdges(s, d)
      val closed = graft.graph.MotifFind
        .find(e, "(a)-[]->(b); (b)-[]->(c); (a)-[]->(c)")
        .filter(col("a") =!= col("c"))
        .agg(count(lit(1)).as("n_ffl"))
      val open = graft.graph.MotifFind
        .find(e, "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)")
        .filter(col("a") =!= col("c"))
        .agg(count(lit(1)).as("n_open_wedge"))
      closed.crossJoin(open)
    }),
    // Cohesion mining on the top-decile strong-tie subgraph: the
    // 4-truss (every edge in ≥ 2 surviving triangles). Oracle unrolls
    // the same fixed peel rounds.
    "g_ktruss" -> ((s, d) =>
      GraphOps.kTruss(s,
        GraphOps.decileTies(GraphBuilder.supplierCoEdges(s, d)), k = 4)),
    "g_walks" -> ((s, d) =>
      GraphOps.randomWalks(s, GraphBuilder.supplierCoEdges(s, d))),
    "g_node2vec" -> ((s, d) =>
      GraphOps.node2vecWalks(s, GraphBuilder.supplierCoEdges(s, d))),
    "g_walk_pmi" -> ((s, d) =>
      GraphOps.walkPmi(s, GraphBuilder.supplierCoEdges(s, d))),
    // Rows-only + spec (planted MSTs; driver-Prim optimality audit).
    "g_mst" -> ((s, d) =>
      GraphOps.minimumSpanningForest(s, GraphBuilder.supplierCoEdges(s, d))),
    // Deterministic MSF scalar readout (round 16): unique forest
    // under the strict (w, src, dst) order → hash-checkable
    // (total_weight, n_edges, n_components) against unrolled Borůvka.
    "g_mst_weight" -> ((s, d) =>
      GraphOps.mstWeight(s, GraphBuilder.supplierCoEdges(s, d))),
    // End-to-end file ingest: the reference's native input is a
    // delimited edge list — write the co-occurrence edges as TSV once
    // per SF dir, read back through EdgeListSource.readCanonical, and
    // compute degrees so the whole ingest path sits under the
    // g_degree oracle.
    "g_from_file" -> ((s, d) => {
      val out = sideOutEdgeList(s, d)
      GraphOps.degrees(graft.sources.EdgeListSource.readCanonical(s, out))
        .orderBy(col("vertex"))
    }),
    "g_degree_hist" -> ((s, d) =>
      GraphOps.degreeHistogram(GraphBuilder.supplierCoEdges(s, d))),
    "g_summary" -> ((s, d) =>
      GraphOps.graphSummary(GraphOps.strongTies(GraphBuilder.supplierCoEdges(s, d)))),
    // On the strong-tie subgraph: the raw co-occurrence graph is
    // near-complete (one uniform degree — a single vacuous spine row).
    "g_richclub" -> ((s, d) =>
      GraphOps.richClub(GraphOps.strongTies(GraphBuilder.supplierCoEdges(s, d)))),
    // Strong ties: on the near-complete raw graph every neighborhood
    // summary is the same row.
    "g_neighbor_agg" -> ((s, d) =>
      GraphOps.neighborDegreeStats(
        GraphOps.strongTies(GraphBuilder.supplierCoEdges(s, d)))),
    // Strong ties: spectral structure is invisible on the
    // near-complete raw graph.
    "g_spectral_cut" -> ((s, d) =>
      GraphOps.spectralCut(s,
        GraphOps.strongTies(GraphBuilder.supplierCoEdges(s, d)))),
    // Strong ties for the same reason: the raw graph's densest
    // subgraph is trivially itself.
    "g_densest" -> ((s, d) =>
      GraphOps.densestSubgraph(s,
        GraphOps.strongTies(GraphBuilder.supplierCoEdges(s, d)))),
    // Rows-only + spec: HLL estimates aren't portable SQL; the spec
    // pins exact equality with BFS on planted graphs (DataSketches
    // coupon mode is exact at these cardinalities).
    "g_anf" -> ((s, d) =>
      GraphOps.anf(s, GraphBuilder.supplierCoEdges(s, d))),
    // Strong-tie subgraph (weight ≥ 1.25× median) for the similarity
    // statistics: the raw co-occurrence graph is near-complete, where
    // Jaccard is uniformly ~1 and assortativity degenerate.
    "g_jaccard" -> ((s, d) =>
      GraphOps.edgeJaccard(GraphOps.strongTies(GraphBuilder.supplierCoEdges(s, d)))),
    "g_assortativity" -> ((s, d) =>
      GraphOps.assortativity(GraphOps.strongTies(GraphBuilder.supplierCoEdges(s, d)))),
    "g_adamic_adar" -> ((s, d) =>
      GraphOps.adamicAdar(GraphBuilder.supplierCoEdges(s, d))),
    // Resource-allocation link prediction: 1/deg(w) per common
    // neighbor — AA's hub-penalizing sibling, shared dispatch.
    "g_resource_alloc" -> ((s, d) =>
      GraphOps.resourceAllocation(GraphBuilder.supplierCoEdges(s, d))),
    "g_squares" -> ((s, d) =>
      GraphOps.squareCount(GraphOps.strongTies(GraphBuilder.supplierCoEdges(s, d)))),
    "q1_agg" -> ((s, d) => Relational.q1Agg(s, d)),
    "q2_filter_proj" -> ((s, d) => Relational.q2FilterProj(s, d)),
    "q3_topn_join" -> ((s, d) => Relational.q3TopnJoin(s, d)),
    "q5_multijoin" -> ((s, d) => Relational.q5Multijoin(s, d)),
    "q_semijoin" -> ((s, d) => Relational.qSemijoin(s, d)),
    "q_antijoin" -> ((s, d) => Relational.qAntijoin(s, d)),
    "q_window_rank" -> ((s, d) => Relational.qWindowRank(s, d)),
    "q_window_running" -> ((s, d) => Relational.qWindowRunning(s, d)),
    "q_distinct" -> ((s, d) => Relational.qDistinct(s, d)),
    "q_approx_distinct" -> ((s, d) => Relational.qApproxDistinct(s, d)),
    "q_approx_pct" -> ((s, d) => Relational.qApproxPercentile(s, d)),
    // Persisted per-day HLL sketches unioned at query time — the
    // incremental-analytics artifact shape; 5%-verdict oracle.
    "q_sketch_union" -> ((s, d) => Relational.qSketchUnion(s, d)),
    // Audience overlap by sketch inclusion-exclusion (scalar
    // hll_union algebra over the 5-sketch table) + exact audit.
    "q_sketch_intersect" -> ((s, d) => Relational.qSketchIntersect(s, d)),
    // ANALYZE-style column profile from one stacked scan (NDV, null
    // count, modal value by unique composite rank).
    "q_profile_columns" -> ((s, d) => Relational.qProfileColumns(s, d)),
    // The stats other half: 10 equal-row-count buckets with [lo, hi]
    // boundaries from the distributed rank (selectivity histogram).
    "q_equidepth_hist" -> ((s, d) => Relational.qEquidepthHist(s, d)),
    // CBO primitive as a query: exact join-cardinality forecast from
    // per-key count tables + the top-5 skew keys you would salt.
    "q_join_heat" -> ((s, d) => Relational.qJoinHeat(s, d)),
    // Markov removal-effect multi-touch attribution (absorbing-chain
    // solve over the bounded transition matrix; rows-only + specs).
    "q_markov_attribution" -> ((s, d) => Relational.qMarkovAttribution(s, d)),
    // Weekday seasonal offsets against the overall mean, exact e2.
    "q_seasonal_decompose" -> ((s, d) => Relational.qSeasonalDecompose(s, d)),
    // Per-type user-concentration HHI from pure integer sums.
    "q_hhi" -> ((s, d) => Relational.qHhi(s, d)),
    // DAU ledger: new/retained/resurrected/churned per day off one
    // user-partitioned lag/lead window.
    "q_growth_accounting" -> ((s, d) => Relational.qGrowthAccounting(s, d)),
    // Empirical lifetime survival curve over the bounded t-grid.
    "q_survival" -> ((s, d) => Relational.qSurvival(s, d)),
    // Chi-square type×weekday independence + V² effect size, exact
    // per-cell e4-floored DECIMAL terms.
    "q_cramers_v" -> ((s, d) => Relational.qCramersV(s, d)),
    // Lag-1..7 Pearson autocorrelation of the daily count series.
    "q_autocorr" -> ((s, d) => Relational.qAutocorr(s, d)),
    // ABC cumulative-share classes on the distributed global rank.
    "q_abc" -> ((s, d) => Relational.qAbc(s, d)),
    "q_sketch_running" -> ((s, d) => Relational.qSketchRunning(s, d)),
    "q_rollup" -> ((s, d) => Relational.qRollup(s, d)),
    "q_asof_join" -> ((s, d) => Relational.qAsofJoin(s, d)),
    "q_asof_nearest" -> ((s, d) => Relational.qAsofNearest(s, d)),
    "q_transition_matrix" -> ((s, d) => Relational.qTransitionMatrix(s, d)),
    "q_events_sessionize" -> ((s, d) => Relational.qEventsSessionize(s, d)),
    "q_cumulative_distinct" -> ((s, d) => Relational.qCumulativeDistinct(s, d)),
    "q_new_vs_returning" -> ((s, d) => Relational.qNewVsReturning(s, d)),
    "q_stickiness" -> ((s, d) => Relational.qStickiness(s, d)),
    "q_holt_forecast" -> ((s, d) => Relational.qHoltForecast(s, d)),
    // Holt-Winters additive weekly-seasonal forecast, exact e6
    // integer recursion (floorDiv both sides).
    "q_holt_winters" -> ((s, d) => Relational.qHoltWinters(s, d)),
    "q_top_movers" -> ((s, d) => Relational.qTopMovers(s, d)),
    // Diurnal profile: (hour-of-day, type) counts over the bounded
    // 24 x |types| grid, peak hour flagged by the unique
    // (n DESC, hour) rank.
    "q_hourly_profile" -> ((s, d) => {
      import org.apache.spark.sql.functions.{hour => fhour, row_number => frn, desc => fdesc}
      import org.apache.spark.sql.expressions.Window
      val g = graft.Tables.events(s, d)
        .groupBy(col("event_type"), fhour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(fdesc("n"), col("hr"))
      g.withColumn("is_peak", frn().over(w) === 1)
        .orderBy(col("event_type"), col("hr"))
    }),
    "q_cohort_ltv" -> ((s, d) => Relational.qCohortLtv(s, d)),
    "q_resample" -> ((s, d) => Relational.qResample(s, d)),
    "q_cusum" -> ((s, d) => Relational.qCusum(s, d)),
    // Binary-segmentation changepoint: where the daily series' level
    // shifted, from one prefix-sum window (q_cusum locates the
    // drift peak; this locates the variance-optimal split).
    "q_changepoint" -> ((s, d) => Relational.qChangepoint(s, d)),
    // Pre-join skew diagnosis: per-key wedge products and shares of
    // the supplier-keyed self-join's total output.
    "q_skew_profile" -> ((s, d) => Relational.qSkewProfile(s, d)),
    // Cross-source 8-gram contamination matrix on the memoized
    // ngram-hash table.
    "p_source_overlap" -> ((s, d) => Pipeline.sourceOverlap(s, d)),
    "q_funnel_time" -> ((s, d) => Relational.qFunnelTime(s, d)),
    "q_skyline" -> ((s, d) => Relational.qSkyline(s, d)),
    "q_attribution" -> ((s, d) => Relational.qAttribution(s, d)),
    "q_rfm" -> ((s, d) => Relational.qRfm(s, d)),
    "q_trend" -> ((s, d) => Relational.qTrend(s, d)),
    "q_mad_outliers" -> ((s, d) => Relational.qMadOutliers(s, d)),
    // ±3-day exact rolling median over the bounded (type, day) grid.
    "q_rolling_median" -> ((s, d) => Relational.qRollingMedian(s, d)),
    // Deterministic Poisson bootstrap: hash-derived replicate
    // weights, exact integer replicate means, ordered-pick CI.
    "q_bootstrap_ci" -> ((s, d) => Relational.qBootstrapCi(s, d)),
    "q_assoc_rules" -> ((s, d) => Relational.qAssocRules(s, d)),
    "q_ab_lift" -> ((s, d) => Relational.qAbLift(s, d)),
    "q_gini" -> ((s, d) => Relational.qGini(s, d)),
    "q_benford" -> ((s, d) => Relational.qBenford(s, d)),
    "q_pareto" -> ((s, d) => Relational.qPareto(s, d)),
    "q_funnel_paths" -> ((s, d) => Relational.qFunnelPaths(s, d)),
    // Whole-journey regex classification (MATCH_RECOGNIZE's core):
    // per-user ordered event letters → one string, k patterns map
    // over it — no k-way join chains.
    "q_seq_match" -> ((s, d) => Relational.qSeqMatch(s, d)),
    // Winnowing (MOSS) fingerprint pairs: bounded-density sketch
    // that can never miss a w+k-1-token match. Full DuckDB oracle
    // since round 19 (bridged k-gram hashes + the identical rows
    // window); the guarantee/density/short-doc specs stay.
    "d_winnow" -> ((s, d) => Dedup.winnowPairs(s, d)),
    // Planted near-dup families (two doc_id residue classes share a
    // 100-shingle base text, unique small tails): ground truth by
    // construction, recall/precision of the banded MinHash pairs
    // measured against it. Full DuckDB oracle since round 19 (the
    // md5/Carter-Wegman chain over the planted projection +
    // exact-Jaccard verification); the recall-bound spec stays.
    "d_lsh_quality" -> ((s, d) => {
      import org.apache.spark.sql.functions.{concat => fconcat, lit => flit, pmod => fpmod, when => fwhen}
      // DISJOINT base vocabularies per family: cross-family pairs are
      // genuinely dissimilar, so precision measures real false
      // positives instead of counting uninvited true near-dups.
      val baseA = (1 to 100).map(i => s"alpha$i").mkString(" ")
      val baseB = (1 to 100).map(i => s"beta$i").mkString(" ")
      val docs = Tables.documents(s, d).select(col("doc_id"),
        fwhen(fpmod(col("doc_id"), flit(40L)) === 11,
          fconcat(flit(baseA), flit(" u"), col("doc_id")))
          .when(fpmod(col("doc_id"), flit(40L)) === 17,
            fconcat(flit(baseB), flit(" u"), col("doc_id")))
          .otherwise(col("text")).as("text"))
      val fam = docs.filter(fpmod(col("doc_id"), flit(40L)).isin(11L, 17L))
        .select(col("doc_id"), fpmod(col("doc_id"), flit(40L)).as("fam"))
      val truth = fam.select(col("fam"), col("doc_id").as("src"))
        .join(fam.select(col("fam"), col("doc_id").as("dst")), Seq("fam"))
        .filter(col("src") < col("dst"))
        .select(col("src"), col("dst"))
      Dedup.lshQualityOf(docs, truth)
    }),
    "q_lag_delta" -> ((s, d) => Relational.qLagDelta(s, d)),
    "q_collect_set" -> ((s, d) => Relational.qCollectSet(s, d)),
    "q_ntile" -> ((s, d) => Relational.qNtile(s, d)),
    "q_dateparts" -> ((s, d) => Relational.qDateparts(s, d)),
    "q_outer_join" -> ((s, d) => Relational.qOuterJoin(s, d)),
    "q_intersect" -> ((s, d) => Relational.qIntersect(s, d)),
    "q_multi_distinct" -> ((s, d) => Relational.qMultiDistinct(s, d)),
    "q_having" -> ((s, d) => Relational.qHaving(s, d)),
    "q_unpivot" -> ((s, d) => Relational.qUnpivot(s, d)),
    "q_latest_snapshot" -> ((s, d) => Relational.qLatestSnapshot(s, d)),
    "q_interval_join" -> ((s, d) => Relational.qIntervalJoin(s, d)),
    "q_date_spine" -> ((s, d) => Relational.qDateSpine(s, d)),
    "q_json_props" -> ((s, d) => Relational.qJsonProps(s, d)),
    "q_variant_extract" -> ((s, d) => Relational.qVariantExtract(s, d)),
    "q_gap_islands" -> ((s, d) => Relational.qGapIslands(s, d)),
    "q_retention_cohort" -> ((s, d) => Relational.qRetentionCohort(s, d)),
    "q_event_funnel" -> ((s, d) => Relational.qEventFunnel(s, d)),
    "q_time_weighted" -> ((s, d) => Relational.qTimeWeighted(s, d)),
    "p_split" -> ((s, d) => Pipeline.trainValTestSplit(s, d)),
    // Replayable per-epoch global shuffle (md5 total order, no RNG
    // state); readout probes every 100th shuffled position.
    "p_shuffle" -> ((s, d) => Pipeline.pShuffle(s, d)),
    // Tokenizer fertility per source off the memoized BPE state
    // (rows-only + specs: trained ≤ char baseline).
    "p_fertility" -> ((s, d) => TextAnalysis.fertility(s, d)),
    "q_argmax" -> ((s, d) => Relational.qArgmax(s, d)),
    "q_stats" -> ((s, d) => Relational.qStats(s, d)),
    "e_pq_adc" -> ((s, d) => Similarity.pqAdcTopK(s, d)),
    "q_merge_upsert" -> ((s, d) => Relational.qMergeUpsert(s, d)),
    "s_stream_outer_join" -> ((s, d) =>
      graft.streaming.StreamingOps.streamStreamOuterJoin(s, d)),
    "e_knn_ivfpq" -> ((s, d) => Similarity.knnIvfPqWithRecall(s, d)),
    "s_stream_router_join" -> ((s, d) =>
      graft.streaming.StreamingOps.streamStreamRightOuterJoin(s, d)),
    "s_stream_full_outer" -> ((s, d) =>
      graft.streaming.StreamingOps.streamStreamFullOuterJoin(s, d)),
    "s_stream_hopping" -> ((s, d) =>
      graft.streaming.StreamingOps.streamHoppingAgg(s, d)),
    "s_stream_cdc" -> ((s, d) =>
      graft.streaming.StreamingOps.streamCdcSnapshot(s, d)),
    // Incremental graph maintenance: CC labels folded over a
    // 4-micro-batch edge stream; final labels = batch CC (g_cc's
    // recursive-CTE oracle) because the merge is associative.
    "s_stream_cc" -> ((s, d) =>
      graft.streaming.StreamingOps.streamCcIncremental(s, d)),
    // Incremental COMMUNITY maintenance: Louvain labels folded over
    // the same 4-micro-batch stream by contracting each batch
    // through the current labels and continuing Louvain on the
    // compressed super-graph. Rows-only self-audit row (streamed-Q
    // vs batch-Q under the same exact metric); the fold path is not
    // SQL-expressible. IncrementalLouvainSpec pins cross-batch
    // merging, replay idempotence and the Q bound.
    "s_stream_louvain" -> ((s, d) =>
      graft.streaming.StreamingOps.streamLouvainIncremental(s, d)),
    // Spark 4 transformWithState on the RocksDB state store; the
    // monotone per-user totals make the max-readout batch-equal.
    "s_stream_tws" -> ((s, d) =>
      graft.streaming.StreamingOps.streamTwsCounter(s, d)),
    // Exact streamed hourly value percentiles (sorted ordered pick
    // over mergeable collected state) — bit-equal to batch/oracle.
    "s_stream_percentile" -> ((s, d) =>
      graft.streaming.StreamingOps.streamPercentiles(s, d)),
    "s_stream_topk" -> ((s, d) =>
      graft.streaming.StreamingOps.streamTopK(s, d)),
    // Rows-only + spec: progress-API state metrics (the spec pins
    // complete-mode state_rows to the batch (window, type) grid).
    "s_stream_progress" -> ((s, d) =>
      graft.streaming.StreamingOps.streamProgressStats(s, d)),
    "q_fuzzy_join" -> ((s, d) => Relational.qFuzzyJoin(s, d)),
    "q_interpolate" -> ((s, d) => Relational.qInterpolate(s, d)),
    "q_session_window" -> ((s, d) => Relational.qSessionWindow(s, d)),
    "q_rows_window" -> ((s, d) => Relational.qRowsWindow(s, d)),
    "q_percentiles" -> ((s, d) => Relational.qPercentiles(s, d)),
    // EXACT global percentiles by distributed histogram-bisection
    // selection (no global sort, no collect of data rows) — the
    // at-scale exact companion to q_approx_pct.
    "q_percentile_select" -> ((s, d) => Selection.qPercentileSelect(s, d)),
    // Per-group exact percentiles, dispatched few-huge-groups
    // (per-group bisection) vs many-groups (parallel rank windows).
    "q_group_percentile" -> ((s, d) => Selection.qGroupPercentile(s, d)),
    "q_histogram" -> ((s, d) => Relational.qHistogram(s, d)),
    "q_range_window" -> ((s, d) => Relational.qRangeWindow(s, d)),
    "q_setops" -> ((s, d) => Relational.qSetOps(s, d)),
    "q_pivot" -> ((s, d) => Relational.qPivot(s, d)),
    "q_grouping_sets" -> ((s, d) => Relational.qGroupingSets(s, d)),
    "q_cube" -> ((s, d) => Relational.qCube(s, d)),
    "q_correlated" -> ((s, d) => Relational.qCorrelated(s, d)),
    "q_sql_q1" -> ((s, d) => Relational.qSqlQ1(s, d)),
    "q_bucket_join" -> ((s, d) => Relational.qBucketJoin(s, d)),
    // Salted two-phase aggregation under an EXACT oracle: the skew
    // toolkit must produce byte-identical results to the plain
    // group-by it replaces.
    "q_approx_topk" -> ((s, d) => TextAnalysis.approxTopTokens(s, d)),
    "q_skew_agg" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_returnflag"), col("l_quantity"))
      SkewOps.saltedSumCount(li, Seq("l_returnflag"), "l_quantity")
        .select(col("l_returnflag"),
          org.apache.spark.sql.functions.round(col("sum_l_quantity"), 2).as("sum_qty"),
          col("n"))
        .orderBy(col("l_returnflag"))
    }),
    // Salted replicate-join ≡ plain inner equi-join, same oracle as
    // the bucketed variant.
    "q_skew_join" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count => fcount, lit => flit, round => fround, sum => fsum}
      val o = Tables.orders(s, d).select(col("o_custkey"), col("o_totalprice"))
      val c = Tables.customer(s, d)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      SkewOps.saltedJoin(o, c, "o_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(fcount(flit(1)).as("n_orders"),
          fround(fsum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("c_mktsegment"))
    }),
    "d_exact_dedup" -> ((s, d) => Dedup.exactDedup(s, d)),
    "d_incremental" -> ((s, d) => Dedup.incrementalDedup(s, d)),
    "d_bloom_dedup" -> ((s, d) => Dedup.bloomIncremental(s, d)),
    "d_minhash_pairs" -> ((s, d) => Dedup.minhashPairs(s, d)),
    // Banded pairs from the PERSISTED signature table — bit-equal to
    // d_minhash_pairs (deterministic sigs, exact parquet round-trip),
    // so it shares the full DuckDB oracle.
    "d_sig_persist" -> ((s, d) =>
      graft.sources.AnnIndexStore.minhashPairsPersisted(s, d)),
    "d_simhash" -> ((s, d) => Dedup.simhash(s, d)),
    "d_simhash_pairs" -> ((s, d) => Dedup.simhashPairs(s, d)),
    "d_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(s, d)),
    "d_crossdoc_ngram" -> ((s, d) => Dedup.crossdocNgrams(s, d)),
    "d_cdc_chunks" -> ((s, d) => Dedup.cdcChunks(s, d)),
    "d_dup_clusters" -> ((s, d) => Dedup.dupClusters(s, d)),
    "d_dup_clusters_exact" -> ((s, d) => Dedup.dupClustersExact(s, d)),
    // Cross-source duplicates planted in-query (the raw corpus has no
    // exact dups): two doc_id residues share fixed texts across
    // sources, and the curated tiers (src0-4 > src5-9 > rest) decide
    // the survivor instead of min-id.
    "p_priority_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions.{lit => flit, pmod => fpmod, when => fwhen}
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
        fwhen(fpmod(col("doc_id"), flit(25L)) === 3, flit("PLANTED DUP ALPHA"))
          .when(fpmod(col("doc_id"), flit(25L)) === 7, flit("PLANTED DUP BETA"))
          .otherwise(col("text")).as("text"))
      Dedup.priorityDedupOf(docs,
        fwhen(col("source").isin("src0", "src1", "src2", "src3", "src4"), 2L)
          .when(col("source").isin("src5", "src6", "src7", "src8", "src9"), 1L)
          .otherwise(0L))
    }),
    "d_containment" -> ((s, d) => Dedup.containment(s, d)),
    // The flagship curation composition under the FULL oracle: gates
    // (langId, token floor, alpha ratio) + one-survivor-per-cluster,
    // with clusters driven by engine-independent exact chain pairs so
    // DuckDB can state the whole pipeline in closed form.
    "p_clean_corpus_exact" -> ((s, d) =>
      Pipeline.cleanCorpus(s, d,
        precomputedPairs = Some(Dedup.exactChainPairs(s, d)))),
    "p_clean_corpus" -> ((s, d) => Pipeline.cleanCorpus(s, d)),
    "p_stratified" -> ((s, d) => Pipeline.stratifiedSample(s, d)),
    "p_chunks" -> ((s, d) => Pipeline.chunkDocs(s, d)),
    "p_pack" -> ((s, d) => Pipeline.packSequences(s, d)),
    "p_source_mix" -> ((s, d) => Pipeline.sourceMix(s, d)),
    "p_corpus_report" -> ((s, d) => Pipeline.corpusReport(s, d)),
    "p_funnel" -> ((s, d) => Pipeline.curationFunnel(s, d)),
    "p_domain_cap" -> ((s, d) => Pipeline.domainCap(s, d)),
    "p_decontaminate" -> ((s, d) => Pipeline.decontaminate(s, d)),
    // Boilerplate-bearing pages: per-source header + unique body +
    // per-lang footer. Headers/footers recur across the corpus and
    // are struck; the body line survives the ordered re-assembly.
    "p_line_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions.{concat, concat_ws, lit}
      Pipeline.lineDedupOf(Tables.documents(s, d).select(col("doc_id"),
        concat_ws("\n",
          concat(lit("source: "), col("source")),
          col("text"),
          concat(lit("(c) corpus "), col("lang"))).as("text")))
    }),
    "p_temperature" -> ((s, d) => Pipeline.temperatureSample(s, d)),
    // Greedy 25%-token-budget fill by lexical diversity on the
    // distributed rank+cumsum (PlanAuditSpec-pinned).
    "p_token_budget" -> ((s, d) => Pipeline.tokenBudget(s, d)),
    // Threshold-yield curve off the bounded score histogram.
    "p_quality_sweep" -> ((s, d) => Pipeline.qualitySweep(s, d)),
    // Language mix shares + 2x-fair-share caps.
    "p_lang_mix" -> ((s, d) => Pipeline.langMix(s, d)),
    // Round-robin source interleave: first 500 global positions.
    "p_interleave" -> ((s, d) => Pipeline.interleave(s, d)),
    // Rows-only + spec: MinHash-estimate threshold sweep (native
    // signatures aren't portable SQL).
    "d_threshold_sweep" -> ((s, d) => Dedup.thresholdSweep(s, d)),
    "p_epoch_schedule" -> ((s, d) => Pipeline.epochSchedule(s, d)),
    "p_dsir" -> ((s, d) => Pipeline.dsirWeights(s, d)),
    // Exact-substring span dedup: shared ≥25-token spans planted
    // in-query (append/prepend per doc_id residue — the raw corpus
    // is random token bags where verbatim cross-doc runs cannot
    // occur), both engine sides identically.
    "p_span_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions.{concat_ws => fconcatws, lit => flit, pmod => fpmod, trim => ftrim, when => fwhen}
      Pipeline.spanDedupOf(
        Tables.documents(s, d).select(col("doc_id"),
          fwhen(fpmod(col("doc_id"), flit(10L)) === 3,
            fconcatws(" ", ftrim(col("text")), flit(SpanA)))
          .when(fpmod(col("doc_id"), flit(10L)) === 5,
            fconcatws(" ", flit(SpanA), ftrim(col("text"))))
          .when(fpmod(col("doc_id"), flit(10L)) === 7,
            fconcatws(" ", ftrim(col("text")), flit(SpanB)))
          .otherwise(col("text")).as("text")))
    }),
    // Full DuckDB oracle since round 19: md5-derived ±1 hyperplanes
    // restate the band keys and the e4 cosine exactly (see
    // embedDupOracleSql).
    "d_embed_dup" -> ((s, d) => Similarity.embedDup(s, d)),
    // SemDeDup verdict from mutual-kNN clusters (rides the kNN memo).
    // τ = 0.4 matches d_embed_dup: the synthetic corpus is near-random
    // (max pairwise cosine ≈ 0.6), so the production default 0.9 would
    // make every vector a singleton and the verdict trivially true.
    "d_semantic_dedup" -> ((s, d) => Similarity.semanticDedup(s, d, minSimE4 = 4000L)),
    // The oracle-checkable sibling: clusters driven by the closed-form
    // cosine-threshold pair predicate instead of this engine's mutual-
    // kNN tiebreaks. Exact (complete bounded self-join) only below
    // ExactKnnMaxRows — assert loudly rather than hash-mismatch
    // opaquely if the embeddings table ever outgrows the bound.
    "d_semantic_dedup_exact" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      require(emb.count() <= Similarity.ExactKnnMaxRows,
        s"d_semantic_dedup_exact's oracle is valid only while embeddings <= " +
          s"${Similarity.ExactKnnMaxRows} rows (exact-pair dispatch bound)")
      Similarity.semanticDedupFrom(s, d,
        Similarity.cosineThresholdPairs(emb, minSimE4 = 4000L))
    }),
    "e_cosine_topk" -> ((s, d) => Similarity.cosineTopK(s, d)),
    // Greedy selection unrolled round-for-round in the oracle; every
    // distance is an e6 integer so both engines agree exactly.
    "e_kcenter" -> ((s, d) => Similarity.kcenterCoreset(s, d)),
    "e_mips" -> ((s, d) => Similarity.mipsTopK(s, d)),
    "e_range_search" -> ((s, d) => Similarity.rangeSearch(s, d)),
    // The exact all-pairs oracle below holds only while knnGraph takes
    // the exact dispatch branch: assert the bound loudly here rather
    // than hash-mismatch opaquely on a future scale-up (the LSH branch
    // is driver-visible via e_knn_lsh instead).
    "e_knn_graph" -> ((s, d) => {
      require(Tables.embeddings(s, d).count() <= Similarity.ExactKnnMaxRows,
        s"e_knn_graph's exact oracle is valid only while embeddings <= " +
          s"${Similarity.ExactKnnMaxRows} rows (knnGraph dispatches to LSH above)")
      Similarity.knnGraph(s, d).orderBy(col("vec_id"), col("rank"))
    }),
    "e_knn_lsh" -> ((s, d) => Similarity.knnLshWithRecall(s, d)),
    "e_knn_ivf" -> ((s, d) => Similarity.knnIvfWithRecall(s, d)),
    // Rows-only + spec (recall-monotonicity vs the LSH base graph).
    "e_nn_descent" -> ((s, d) => Similarity.knnDescentWithRecall(s, d)),
    // Rows-only + specs (near-lossless recall after re-rank;
    // dequantization error bound s_i/2 by construction).
    "e_sq8" -> ((s, d) => Similarity.knnSq8WithRecall(s, d)),
    // Rows-only + spec (planted near-duplicate pool: MMR swaps the
    // redundant second copy for the distinct answer).
    "e_mmr" -> ((s, d) => Similarity.mmrTopK(s, d)),
    "e_silhouette" -> ((s, d) => Similarity.silhouette(s, d)),
    // Per-label norm distribution; per-row e4 rounding before the
    // integer mean (accumulation-order immune).
    "e_norm_stats" -> ((s, d) => Similarity.normStats(s, d)),
    // Best same/diff-label cosine per bounded query + margin verdict.
    "e_triplet" -> ((s, d) => Similarity.tripletAudit(s, d)),
    // Mean-vector dominance share, exact e16-quantized integers.
    "e_isotropy" -> ((s, d) => Similarity.isotropy(s, d)),
    // Rows-only + spec: recall@k curve of the IVF candidates vs the
    // exact answer on the bounded sample.
    "e_recall_curve" -> ((s, d) => Similarity.recallCurve(s, d)),
    "e_intrinsic_dim" -> ((s, d) => Similarity.intrinsicDim(s, d)),
    "e_outliers" -> ((s, d) => Similarity.embOutliers(s, d)),
    // Rows-only + specs (planted axis recovery, partitioning
    // invariance of the exact integer Gram, driver power iteration).
    "e_pca_power" -> ((s, d) => Similarity.pcaPower(s, d)),
    // Supervised twin of e_pca_power: closed-form ridge probe from
    // one exact-integer sufficient-statistics pass (rows-only; the
    // planted-recovery + partitioning-invariance specs pin it).
    "e_linear_probe" -> ((s, d) => Similarity.linearProbe(s, d)),
    // Matryoshka truncation audit: recall@k at prefix dim budgets
    // vs the full-dim exact answer (rows-only + specs).
    "e_matryoshka" -> ((s, d) => Similarity.matryoshka(s, d)),
    // 1-bit sign signatures + XOR/popcount shortlist + exact re-rank
    // (rows-only + specs: re-rank ≥ raw Hamming).
    "e_binary_quant" -> ((s, d) => Similarity.binaryQuant(s, d)),
    // Same-label fraction per cosine bucket — the calibration curve
    // that justifies (or refutes) score thresholds.
    "e_calibration" -> ((s, d) => Similarity.scoreCalibration(s, d)),
    "e_hubness" -> ((s, d) => Similarity.hubness(s, d)),
    "e_embed_clusters" -> ((s, d) => Similarity.embedClusters(s, d)),
    "e_ann_lsh" -> ((s, d) => Similarity.annLshTopK(s, d)),
    "e_ann_ivf" -> ((s, d) => Similarity.annIvfTopK(s, d)),
    // Build-once-search-from-disk (round 18): the IVF index persists
    // as cell-PARTITIONED inverted lists + centroids + a freshness
    // manifest; the search loads from parquet and the probe join
    // dynamic-partition-prunes to probed cells. Rows-only + spec
    // (bit-equality with e_ann_ivf, DPP plan, stale-manifest refusal).
    "e_ivf_persist" -> ((s, d) =>
      graft.sources.AnnIndexStore.annIvfTopKPersisted(s, d)),
    // PQ index persistence: codebooks + coarse quantizer + code table
    // from parquet; ADC sweep + exact re-rank with zero in-query
    // fitting/encoding. Rows-only + equality spec vs e_pq_adc.
    "e_pq_persist" -> ((s, d) =>
      graft.sources.AnnIndexStore.pqAdcTopKPersisted(s, d)),
    // HNSW layer-graph persistence: refined layer-0 edges + the
    // deterministic level stack reload from parquet into the same
    // descent. Rows-only + equality spec vs e_hnsw.
    "e_hnsw_persist" -> ((s, d) =>
      graft.sources.AnnIndexStore.hnswTopKPersisted(s, d)),
    // Sign-LSH band-table persistence (round 19 — the last live index
    // family without a save/load path): narrow (vec_id, band, key)
    // rows; search joins embeddings back by id. Rows-only + equality
    // spec vs e_ann_lsh.
    "e_lsh_persist" -> ((s, d) =>
      graft.sources.AnnIndexStore.annLshTopKPersisted(s, d)),
    // Query-time beam search over the memoized kNN graph (HNSW-lite):
    // IVF-seeded entries, 3 greedy beam expansions, exact re-score.
    // Rows-only: the iterative beam has no SQL form; BeamSearchSpec
    // pins planted-geometry exactness and the recall floor vs IVF.
    "e_beam_search" -> ((s, d) => Similarity.beamSearchTopK(s, d)),
    // HNSW-class layer stack (round 17): NN-descent-refined layer 0,
    // geometric md5-bridge levels, per-layer greedy descent, layer-0
    // beam search with exact rescoring. Rows-only + HnswSpec.
    "e_hnsw" -> ((s, d) => Similarity.hnswTopK(s, d)),
    "t_tokens" -> ((s, d) => TextAnalysis.tokenCounts(s, d)),
    "t_quality" -> ((s, d) => TextAnalysis.quality(s, d)),
    "t_langid" -> ((s, d) => TextAnalysis.langId(s, d)),
    // Declared vs predicted language agreement — the metadata-trust
    // audit (mislabeled lang fields poison mix weights).
    "t_lang_confusion" -> ((s, d) => {
      val pred = TextAnalysis.langId(s, d)
      Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .join(pred, Seq("doc_id"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred_lang"))
    }),
    // Duplicate-family size histogram — "how big are my copy
    // families": exact clusters → per-cluster sizes → counts per
    // size (bounded output).
    "d_cluster_sizes" -> ((s, d) => {
      Dedup.dupClustersExact(s, d)
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("sz"))
    }),
    "d_dup_by_source" -> ((s, d) => {
      import org.apache.spark.sql.functions.{expr => fexpr, sum => fsum, when => fwhen}
      val verdicts = Dedup.dupClustersExact(s, d)
        .select(col("doc_id"), col("is_survivor"))
      Tables.documents(s, d).select(col("doc_id"), col("source"))
        .join(verdicts, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          fsum(fwhen(col("is_survivor"), 0L).otherwise(1L)).as("n_dups"))
        .withColumn("dup_rate_e4", fexpr("n_dups * 10000 div n_docs"))
        .orderBy(col("source"))
    }),
    "t_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(s, d)),
    // Rows-only + spec: the 10-round merge loop's state evolution is
    // not SQL-expressible (BpeSpec pins the Sennrich hand-computed
    // corpus, leftmost-greedy overlap handling, and tie order).
    "t_novelty" -> ((s, d) => TextAnalysis.novelty(s, d)),
    "t_bpe_merges" -> ((s, d) => TextAnalysis.bpeMerges(s, d)),
    // Rows-only + spec (BpeSpec pins the Sennrich encoded vocabulary
    // exactly): the frequency table of the ENCODED corpus — what the
    // learned merges exist for.
    "t_bpe_vocab" -> ((s, d) => TextAnalysis.bpeVocab(s, d)),
    "t_regex_tokens" -> ((s, d) => TextAnalysis.regexTokens(s, d)),
    "t_stopwords" -> ((s, d) => TextAnalysis.stopwordStats(s, d)),
    // Per-source hapax/TTR lexical richness, exact e6 integers.
    "t_hapax" -> ((s, d) => TextAnalysis.hapaxStats(s, d)),
    // Zipf rank-frequency top-100 via distributed TakeOrdered; the
    // rank window only ever sees the ≤100 survivors.
    "t_zipf" -> ((s, d) => TextAnalysis.zipf(s, d)),
    // Sentence-terminator runs + exact words/chars-per-sentence.
    "t_sentences" -> ((s, d) => TextAnalysis.sentenceStats(s, d)),
    // Per-language non-ASCII share (encoding-health audit).
    "t_charset" -> ((s, d) => TextAnalysis.charsetProfile(s, d)),
    // RAKE keywords: stopword-island phrases, deg/freq word scores
    // e4-floored, distributed top-25.
    "t_rake" -> ((s, d) => TextAnalysis.rake(s, d)),
    "t_pii" -> ((s, d) => TextAnalysis.piiScan(s, d)),
    "t_top_tokens" -> ((s, d) => TextAnalysis.topTokens(s, d)),
    // Vocab-sizing coverage curve: corpus share of the top 2^k types
    // at k = 0..14, exact integer ratios, distributed rank+cumsum.
    "t_vocab_coverage" -> ((s, d) => TextAnalysis.vocabCoverage(s, d)),
    // Gopher-style compressibility quality signal (deflate-6 ratio;
    // rows-only — zlib is not available to the SQL oracle).
    "t_compress_ratio" -> ((s, d) => TextAnalysis.compressionRatio(s, d)),
    "t_top_bigrams" -> ((s, d) => TextAnalysis.topBigrams(s, d)),
    "t_tfidf" -> ((s, d) => TextAnalysis.tfidf(s, d)),
    "t_entropy" -> ((s, d) => TextAnalysis.tokenEntropy(s, d)),
    "t_repetition" -> ((s, d) => TextAnalysis.repetition(s, d)),
    "t_bigram_lm" -> ((s, d) => TextAnalysis.bigramLogProb(s, d)),
    // Corpus unigram surprisal — the CCNet-style per-doc LM quality
    // score (round 16); add-one smoothed, per-token e4 rounding.
    "t_surprisal" -> ((s, d) => TextAnalysis.surprisal(s, d)),
    "t_heldout_lm" -> ((s, d) => TextAnalysis.heldoutLm(s, d)),
    "t_code_detect" -> ((s, d) => TextAnalysis.codeDetect(s, d)),
    "t_readability" -> ((s, d) => TextAnalysis.readability(s, d)),
    // Markup planted in-query on two doc_id residues (the raw corpus
    // is markup-free — the code_detect "prose cold" convention).
    "t_markup_detect" -> ((s, d) => {
      import org.apache.spark.sql.functions.{concat_ws => fconcatws, lit => flit, pmod => fpmod, trim => ftrim, when => fwhen}
      TextAnalysis.markupDetectOf(
        Tables.documents(s, d).select(col("doc_id"),
          fwhen(fpmod(col("doc_id"), flit(30L)) === 4,
            fconcatws(" ", flit("<div> <p class=\"x\">"), ftrim(col("text")),
              flit("</p> </div>")))
            .when(fpmod(col("doc_id"), flit(30L)) === 9,
              fconcatws(" ", flit("&amp; &lt; &gt;"), ftrim(col("text"))))
            .otherwise(col("text")).as("text")))
    }),
    "t_collocations" -> ((s, d) => TextAnalysis.collocations(s, d)),
    // Retrieval pack (round 13): sparse BM25 through the inverted-
    // index join, hybrid RRF fusion with the dense cosine list,
    // ranking-quality eval, and contrastive hard-negative mining.
    "r_bm25" -> ((s, d) => graft.operators.Retrieval.bm25TopK(s, d)),
    "r_rrf" -> ((s, d) => graft.operators.Retrieval.rrfFusion(s, d)),
    "r_eval" -> ((s, d) => graft.operators.Retrieval.retrievalEval(s, d)),
    "r_hard_neg" -> ((s, d) => graft.operators.Retrieval.hardNegatives(s, d)),
    "r_phrase" -> ((s, d) => graft.operators.Retrieval.phraseTopK(s, d)),
    "r_phrase3" -> ((s, d) => graft.operators.Retrieval.phrase3TopK(s, d)),
    "r_bm25f" -> ((s, d) => graft.operators.Retrieval.bm25fTopK(s, d)),
    "r_prf" -> ((s, d) => graft.operators.Retrieval.prfTopK(s, d)),
    // Count-min-sketch heavy-hitter accuracy audit (md5-bucket
    // parity makes the sketch integer-exact under a full oracle).
    "t_cms_topk" -> ((s, d) => TextAnalysis.cmsTopK(s, d)),
    // Streaming PSI drift monitor — the online sibling of q_psi.
    "s_stream_drift" -> ((s, d) => graft.streaming.StreamingOps.streamDrift(s, d)),
    // Drift monitoring (round 13): PSI between corpus/cohort
    // snapshots — vocabulary shift and spend-distribution shift.
    "t_drift" -> ((s, d) => TextAnalysis.tokenDrift(s, d)),
    "q_psi" -> ((s, d) => Relational.qPsiDrift(s, d)),
    // Embedding-space drift: per-dimension mean shift between the
    // vec_id parity halves, division-free integer arithmetic.
    "e_drift" -> ((s, d) => Similarity.embedDrift(s, d)),
    // Analytic LSH band-tuning table: the S-curve design step run
    // before paying for any banded shuffle.
    "d_lsh_tune" -> ((s, d) => Dedup.lshTune(s, d)),
    // Distribution-shift hypothesis tests over the same calendar
    // cohorts as q_psi: exact two-sample KS (cross-multiplied ECDF
    // max from one distributed cumsum pass) and tie-exact
    // Mann-Whitney rank-sum.
    "q_ks_test" -> ((s, d) => Relational.qKsTest(s, d)),
    "q_bayes_rank" -> ((s, d) => Relational.qBayesRank(s, d)),
    "q_mann_kendall" -> ((s, d) => Relational.qMannKendall(s, d)),
    "q_mann_whitney" -> ((s, d) => Relational.qMannWhitney(s, d)),
    // Pairwise Jensen-Shannon divergence between per-source token
    // distributions — the cross-source divergence matrix.
    "t_jsd" -> ((s, d) => TextAnalysis.jsdMatrix(s, d)),
    // CUPED variance-reduced A/B readout: second-half spend adjusted
    // by the same user's first-half spend, θ pooled across arms.
    "q_cuped" -> ((s, d) => Relational.qCuped(s, d)),
    // Difference-in-differences: pre/post x parity-arm spend cells,
    // exact integer sums, one e2-rounded double tree for the DiD.
    "q_diff_in_diff" -> ((s, d) => Relational.qDiffInDiff(s, d)),
    // Winsorized mean per event type: exact discrete [p10, p90]
    // clamp by ordered selection, integer sum, truncating mean.
    "q_winsorize" -> ((s, d) => Relational.qWinsorize(s, d)),
    // Rolling mean±2σ breach monitor, float-free via the cleared-
    // denominator test t² > 4(7s2−s1²) on exact integer window sums.
    "q_bollinger" -> ((s, d) => Relational.qBollinger(s, d)),
    // Theil-Sen robust trend: exact lower-median of pairwise slopes
    // over the calendar-bounded day grid.
    "q_theil_sen" -> ((s, d) => Relational.qTheilSen(s, d)),
    // One-way ANOVA omnibus F across event types (per-group terms
    // e6-floored before the cross-group fold — bit-stable rule).
    "q_anova" -> ((s, d) => Relational.qAnova(s, d)),
    // Sample-ratio-mismatch guardrail: chi-square of arm counts vs
    // 50/50, integer cross-multiplied verdict.
    "q_srm" -> ((s, d) => Relational.qSrm(s, d)),
    // Forecast-skill backtest: one-step MAE of naive/seasonal-naive/
    // drift baselines per event type.
    "q_forecast_skill" -> ((s, d) => Relational.qForecastSkill(s, d)),
    // Exponential retention-decay rate of the day-0 cohort (log-
    // linear fit on the bounded age spine).
    "q_retention_decay" -> ((s, d) => Relational.qRetentionDecay(s, d)),
    // Rolling 7-day Pearson between the view and purchase series.
    "q_rolling_corr" -> ((s, d) => Relational.qRollingCorr(s, d)),
    // Day-of-week seasonality strength (eta-squared) per event type.
    "q_seasonality" -> ((s, d) => Relational.qSeasonality(s, d)),
    // Per-token burstiness (variance-to-mean of per-doc counts) for
    // the top-25 corpus tokens — topical-vs-function-word signal.
    "t_burstiness" -> ((s, d) => TextAnalysis.tokenBurstiness(s, d)),
    // Log-log power-law fit on the bounded quantity spine: ln never
    // touches per-row data (bit-stable log-regression shape).
    "q_power_law" -> ((s, d) => Relational.qPowerLaw(s, d)),
    // Grouped log-log OLS per brand over the bounded quantity grid
    // (round 16) — the q_power_law discipline, per group.
    "q_price_elasticity" -> ((s, d) => Relational.qPriceElasticity(s, d)),
    // Decile gains/lift table (round 16) — ntile under the unique
    // (score DESC, key) order; lift from exact ints, one double tree.
    "q_lift_curve" -> ((s, d) => Relational.qLiftCurve(s, d)),
    // TPC-H Q7: bi-directional nation-pair shipping volume by year —
    // dims broadcast, the year filter pushed to the scan.
    "q7_volume" -> ((s, d) => Relational.q7Volume(s, d)),
    // TPC-H Q8: target-nation market share by order year, exact
    // integer cents×(100−disc%) volumes, e6 truncating-div share.
    "q8_mktshare" -> ((s, d) => Relational.q8MktShare(s, d)),
    // TPC-H Q10: top-20 customers by returned-item revenue under the
    // unique (revenue DESC, custkey) order (TakeOrdered, no sort).
    "q10_returns" -> ((s, d) => Relational.q10Returns(s, d)),
    // Spearman rank correlation (balance vs spend per segment):
    // tie-averaged ranks kept integral at ×2, O(n log n) windows.
    "q_spearman" -> ((s, d) => Relational.qSpearman(s, d)),
    // Kendall tau-b over the calendar-bounded day spine: volume vs
    // value concordance with full tie correction, exact ints.
    "q_kendall_tau" -> ((s, d) => Relational.qKendallTau(s, d)),
    // Yule's K + Simpson's D per source: length-invariant frequency-
    // spectrum richness from the same (source, token) counts.
    "t_yule_k" -> ((s, d) => TextAnalysis.yuleK(s, d)),
    // TPC-H Q13: order-count histogram incl. zero-order customers —
    // the filter lives in the left join's ON clause.
    "q13_cust_dist" -> ((s, d) => Relational.q13CustDist(s, d)),
    // TPC-H Q14: promo revenue share by ship month, exact integer
    // cents ratio, year range pushed to the scan.
    "q14_promo_share" -> ((s, d) => Relational.q14PromoShare(s, d)),
    // TPC-H Q18: large-volume orders — HAVING on lineitem first,
    // unhinted join so AQE picks broadcast only at bench scale.
    "q18_big_orders" -> ((s, d) => Relational.q18BigOrders(s, d)),
    // TPC-H Q19: disjunctive brand x qty-band revenue with the
    // derivable conjuncts stated for scan pruning.
    "q19_disc_revenue" -> ((s, d) => Relational.q19DiscRevenue(s, d)),
    // TPC-H Q17: scalar-subquery-per-group decorrelated into a
    // per-part agg join; 0.2*avg as an exact integer cross-multiply.
    "q17_small_qty" -> ((s, d) => Relational.q17SmallQty(s, d)),
    // TPC-H Q21: EXISTS + NOT-EXISTS both decorrelated into ONE
    // per-order (ns, rs) aggregate; top-25 under a unique order.
    "q21_waiting" -> ((s, d) => Relational.q21Waiting(s, d)),
    // TPC-H Q22: NOT EXISTS as a date-pruned left-anti join + the
    // global scalar avg broadcast once.
    "q22_idle_cust" -> ((s, d) => Relational.q22IdleCust(s, d)),
    // TPC-H Q15: argmax-over-join — exact-integer revenue view, max
    // broadcast, all maximal suppliers emitted (tie-safe).
    "q15_top_supplier" -> ((s, d) => Relational.q15TopSupplier(s, d)),
    // TPC-H Q2: per-part min-cost supplier via the unique-ranked
    // window over the key the cost agg already shuffled on.
    "q2_min_cost" -> ((s, d) => Relational.q2MinCost(s, d)),
    // TPC-H Q4: EXISTS as a left-semi join on pushed-filter scans.
    "q4_order_priority" -> ((s, d) => Relational.q4OrderPriority(s, d)),
    // TPC-H Q6: all predicates pushed, 2-col projection, one scalar.
    "q6_forecast" -> ((s, d) => Relational.q6Forecast(s, d)),
    // TPC-H Q9: mixed-sign profit by nation x year, dims broadcast.
    "q9_profit" -> ((s, d) => Relational.q9Profit(s, d)),
    // TPC-H Q11: group-vs-global scalar HAVING as an exact integer
    // cross-multiply against the broadcast total.
    "q11_important_stock" -> ((s, d) => Relational.q11ImportantStock(s, d)),
    // TPC-H Q16: NOT IN as left-anti; distinct suppliers per cell.
    "q16_parts_supp" -> ((s, d) => Relational.q16PartsSupp(s, d)),
    // TPC-H Q20: nested IN + correlated avg, both decorrelated.
    "q20_promo_suppliers" -> ((s, d) => Relational.q20PromoSuppliers(s, d)),
    // TPC-H Q12: CASE-count service audit of slow-shipped lines.
    "q12_ship_audit" -> ((s, d) => Relational.q12ShipAudit(s, d)),
    // Dirichlet query-likelihood retrieval: the LM scorer beside
    // BM25, inverted-index decomposed, e4 terms + exact fuse.
    "r_qlm" -> ((s, d) => graft.operators.Retrieval.qlmTopK(s, d)),
    // Soft dedup by downweighting: every cluster member keeps weight
    // 1/|cluster| (planted dups as in p_priority_dedup).
    "p_dedup_weights" -> ((s, d) => {
      import org.apache.spark.sql.functions.{lit => flit, pmod => fpmod, when => fwhen}
      Pipeline.dedupWeightsOf(Tables.documents(s, d)
        .select(col("doc_id"),
          fwhen(fpmod(col("doc_id"), flit(25L)) === 3, flit("PLANTED DUP ALPHA"))
            .when(fpmod(col("doc_id"), flit(25L)) === 7, flit("PLANTED DUP BETA"))
            .otherwise(col("text")).as("text")))
    }),
    // Inter-order gap profile per segment: exact lower-median +
    // truncating e4 mean of per-customer repurchase gaps.
    "q_order_gap" -> ((s, d) => Relational.qOrderGap(s, d)),
    // XYZ demand-variability classes beside q_abc: float-free CV²
    // by cross-multiplied integer comparisons over the month spine.
    "q_xyz" -> ((s, d) => Relational.qXyz(s, d)),
    // All-but-the-top whitening audit: mean + PC1 removed, isotropy
    // re-measured (rows-only: exact-Gram power iteration).
    "e_whiten" -> ((s, d) => Similarity.abttWhiten(s, d)),
    // Curriculum phase manifest: easiest-first global rank, ntile
    // phases, per-(phase, source) loader manifest.
    "p_curriculum" -> ((s, d) => Pipeline.curriculum(s, d)),
    // TextRank keywords: integer PageRank over the bounded word
    // co-occurrence graph (bit-reproducible; unrolled SQL oracle).
    "t_textrank" -> ((s, d) => TextAnalysis.textRank(s, d)),
    // Nation homophily of the supplier co-purchase graph: Newman's
    // categorical assortativity from the exact mixing matrix.
    "g_attr_assortativity" -> ((s, d) =>
      GraphOps.attrAssortativity(s, GraphBuilder.supplierCoEdges(s, d),
        Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey")))),
    // Wald-Wolfowitz runs test per event type: randomness of the
    // daily series around its median (trend/oscillation check).
    "q_runs_test" -> ((s, d) => Relational.qRunsTest(s, d)),
    // Deequ-style constraint audit: PK uniqueness, FK orphans,
    // null/range/accepted-values rules, one pass per table.
    "q_dq_audit" -> ((s, d) => Relational.qDqAudit(s, d)),
    // Partitioned parquet write + partition-pruned read under the
    // oracle: events land partitioned by event_type (write once per
    // SF dir), the query filters one partition — the scan must show
    // PartitionFilters, not a full-table read (PLANS.md) — and
    // aggregates per user.
    "src_partition_prune" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count => fcount, lit => flit, round => fround, sum => fsum}
      val out = sideOutEventsPart(s, d)
      s.read.parquet(out)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(fcount(flit(1)).as("n"), fround(fsum(col("value")), 2).as("sum_value"))
        .orderBy(col("user_id"))
    }),
    // PERMISSIVE dirty-CSV ingestion: malformed rows null-fill their
    // typed columns instead of failing the scan; good rows always
    // carry a doc_id, so corrupt = null-doc_id exactly.
    "src_corrupt_records" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count => fcount, lit => flit, sum => fsum, when => fwhen}
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val out = sideOutDocsCsvCorrupt(s, d)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))
      s.read.schema(schema)
        .option("header", "true").option("multiLine", "true")
        .option("escape", "\"").option("nullValue", "\u0000")
        .option("mode", "PERMISSIVE")
        .csv(out)
        .agg(fcount(flit(1)).as("n_rows"),
          fsum(fwhen(col("doc_id").isNull, 1L).otherwise(0L)).as("n_corrupt"),
          fcount(col("doc_id")).as("n_good"))
    }),
    "src_dynamic_overwrite" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count => fcount, lit => flit, round => fround, sum => fsum}
      val out = sideOutEventsDynOverwrite(s, d)
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(fcount(flit(1)).as("n"), fround(fsum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    }),
    // Versioned keyed table: three deterministic order-upsert batches
    // MERGEd in sequence, then one time-travel aggregate per
    // committed version — the transactional-table surface
    // (commit-marker resolution, asOf reads, idempotent replay).
    "src_time_travel" -> ((s, d) =>
      graft.sources.VersionedTable.qTimeTravel(s, d)),
    // The bucketed copy-on-write layout under the SAME oracle: only
    // touched key-buckets rewrite per merge (manifest carries the
    // rest forward by reference), answers identical.
    "src_bucketed_merge" -> ((s, d) =>
      graft.sources.BucketedTable.qBucketedMerge(s, d)),
    // Row-level (deletion-vector-style) merge: same batches, same
    // answers, but commits land O(batch) delta generations resolved
    // at read time instead of rewriting touched buckets.
    "src_dv_merge" -> ((s, d) =>
      graft.sources.BucketedTable.qDvMerge(s, d)),
    // File-level data skipping off the write-time stats manifest:
    // interval predicates prune the file list before any data scan
    // (pruning is perf-only — the residual filter keeps answers
    // exact, so the oracle is the plain full-scan filter).
    "src_minmax_skip" -> ((s, d) =>
      graft.sources.SkipIndex.qMinmaxSkip(s, d)),
    // Parquet bloom-filter row-group skipping: point lookups on a
    // high-cardinality key in a layout min/max stats can't prune
    // (hash-scattered). Answers oracle-identical to the full scan;
    // BloomSkipSpec probes the footers.
    "src_bloom_skip" -> ((s, d) =>
      graft.sources.SkipIndex.qBloomSkip(s, d)),
    // One logical table, two partition specs (year → year/month):
    // history never rewrites; both layouts dir-prune independently.
    "src_partition_evolution" -> ((s, d) =>
      graft.sources.PartitionEvolution.qPartitionEvolution(s, d)),
    // Small-file OPTIMIZE: metadata-planned size bins, one-shuffle
    // rewrite; layout-only — answers must not move.
    "src_compaction" -> ((s, d) =>
      graft.sources.Compaction.qCompaction(s, d)),
    // Z-order (Morton) clustering: BOTH box dimensions prune —
    // the multi-dimensional layout a linear sort cannot give.
    "src_zorder_skip" -> ((s, d) =>
      graft.sources.SkipIndex.qZorderSkip(s, d)),
    // Incremental MV maintenance: three staged landings, each folded
    // in by an algebraic delta-merge — the readout is the final MV,
    // oracle-equal to a direct full-table GROUP BY.
    "q_incremental_mv" -> ((s, d) =>
      graft.sources.MaterializedView.qIncrementalMv(s, d)),
    "q_snapshot_diff" -> ((s, d) =>
      graft.sources.VersionedTable.qSnapshotDiff(s, d)),
    "q_scd2" -> ((s, d) => graft.sources.VersionedTable.qScd2(s, d)),
    // JSON source under the oracle: documents round-trip through
    // newline-delimited JSON (write once per SF dir), then the same
    // token counts as t_tokens — proving the JSON read path
    // value-identical to parquet.
    // Whole-file JSON-array parse (multiLine mode) under the same
    // value-equivalence contract as the NDJSON path.
    "src_multiline_json" -> ((s, d) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val out = sideOutDocsMultiline(s, d)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))
      TextAnalysis.tokenCountsOf(s.read.schema(schema)
        .option("multiLine", "true").json(s"$out/data"))
    }),
    "src_json_tokens" -> ((s, d) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val out = sideOutDocsJson(s, d)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))
      TextAnalysis.tokenCountsOf(s.read.schema(schema).json(out))
    }),
    // Recursive file lookup over a NESTED lake layout (the crawl-dump
    // directory-tree reality partition discovery doesn't cover):
    // documents sharded into uneven subdirectory depths, one
    // recursiveFileLookup read — same equivalence contract as
    // src_json_tokens.
    "src_recursive_lookup" -> ((s, d) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val out = sideOutDocsNested(s, d)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))
      TextAnalysis.tokenCountsOf(s.read.schema(schema)
        .option("recursiveFileLookup", "true").json(out))
    }),
    // Compressed-text ingestion: gzip JSONL read transparently by
    // codec inference from the .gz extension — the wire format most
    // crawl dumps actually arrive in. Gzip is NOT splittable: one
    // task per file regardless of size, so the side output shards the
    // corpus into many files at write time — the at-scale mitigation
    // (or zstd/bzip2 for splittable codecs).
    "src_gzip_tokens" -> ((s, d) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val out = sideOutDocsJsonGz(s, d)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))
      TextAnalysis.tokenCountsOf(s.read.schema(schema).json(out))
    }),
    // binaryFile-source ingestion: documents materialized once per SF
    // dir as individual payload files, read back through Spark's
    // binaryFile source (parallel listing, column-pruned content),
    // fingerprinted and checked byte-exact against the parquet text.
    "src_binary_files" -> ((s, d) => {
      val out = sideOutDocsBin(s, d)
      graft.sources.BinaryFileSource.readPayloads(s, out)
        .select(col("doc_id"), col("bytes"),
          org.apache.spark.sql.functions.md5(col("payload")).as("payload_md5"))
        .orderBy(col("doc_id"))
    }),
    // Hidden `_metadata` columns on a file source — the lineage
    // primitive (which physical file did this row come from) that
    // incremental reprocessing and bad-file quarantine build on.
    // Per-file row counts + per-file event_id span over the events
    // parquet; file_name via `_metadata.file_name`.
    "src_file_metadata" -> ((s, d) => {
      val raw = graft.Tables.eventsRawSchema(s, d)
      s.read.schema(raw).parquet(s"$d/events.parquet")
        .select(col("_metadata.file_name").as("file_name"), col("event_id"))
        .groupBy(col("file_name"))
        .agg(count(lit(1)).as("n_rows"),
          org.apache.spark.sql.functions.min(col("event_id")).as("min_id"),
          org.apache.spark.sql.functions.max(col("event_id")).as("max_id"))
        .orderBy(col("file_name"))
    }),
    "m_binary_meta" -> ((s, d) => Multimodal.binaryMeta(s, d)),
    "m_frame_sample" -> ((s, d) => Multimodal.frameSampleDf(s, d)),
    "m_scene_cuts" -> ((s, d) => Multimodal.sceneCuts(s, d)),
    "m_vad_segments" -> ((s, d) => Multimodal.vadSegments(s, d)),
    "m_resize" -> ((s, d) => Multimodal.resizeDf(s, d)),
    "m_features" -> ((s, d) => Multimodal.extractFeaturesDf(s, d)),
    "m_near_dup" -> ((s, d) => Multimodal.nearDupPairs(s, d)),
    // Webdataset-style byte-budget shard manifest (items never
    // split; shard = starting-offset bucket).
    "m_shard_pack" -> ((s, d) => Multimodal.shardPack(s, d)),
    "s_stream_agg" -> ((s, d) => graft.streaming.StreamingOps.streamHourlyAgg(s, d)),
    "s_stream_watermark" -> ((s, d) => graft.streaming.StreamingOps.streamWatermarkedAgg(s, d)),
    "s_stream_anomaly" -> ((s, d) => graft.streaming.StreamingOps.streamAnomaly(s, d)),
    // Streaming CUSUM: watermarked day counts in append mode, the
    // q_cusum prefix scan on the finalized-window readout.
    "s_stream_cusum" -> ((s, d) => graft.streaming.StreamingOps.streamCusum(s, d)),
    "s_stream_join" -> ((s, d) => graft.streaming.StreamingOps.streamStreamJoin(s, d)),
    "s_stream_static_join" -> ((s, d) =>
      graft.streaming.StreamingOps.streamStaticJoin(s, d)),
    "s_stream_sessionize" -> ((s, d) => graft.streaming.StreamingOps.streamSessionize(s, d)),
    "s_stream_dedup" -> ((s, d) => graft.streaming.StreamingOps.streamDedup(s, d)),
    "s_stream_dedup_wm" -> ((s, d) =>
      graft.streaming.StreamingOps.streamDedupWithinWatermark(s, d)),
    "s_stream_clean" -> ((s, d) => graft.streaming.StreamingOps.streamClean(s, d)),
    "s_stream_foreachbatch" -> ((s, d) =>
      graft.streaming.StreamingOps.streamForeachBatchAgg(s, d)),
    // foreachBatch maintaining the ALGEBRAIC MV (delta-merge per
    // micro-batch, batch-id exactly-once markers) — only years-sized
    // deltas hit the sink, never raw rows.
    "s_stream_mv" -> ((s, d) =>
      graft.streaming.StreamingOps.streamIncrementalMv(s, d)),
    "s_stream_session_window" -> ((s, d) =>
      graft.streaming.StreamingOps.streamSessionWindow(s, d)),
    // ORC sink/source round-trip under the oracle: documents → ORC
    // (write once per SF dir) → read back → the same token counts as
    // the parquet-backed t_tokens, proving the ORC path value-exact.
    "src_orc_tokens" -> ((s, d) => {
      val out = sideOutDocsOrc(s, d)
      TextAnalysis.tokenCountsOf(s.read.orc(out))
    }),
    // Quoted-CSV round-trip under the oracle: free text forces the
    // writer through RFC-4180 quoting (quoteAll + escaped quotes) and
    // the reader through multiline parsing — the string-heavy CSV
    // path EdgeListSource's numeric TSV never touches. Same token
    // counts as t_tokens; a planted spec covers embedded commas,
    // quotes and newlines explicitly.
    "src_csv_tokens" -> ((s, d) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      // nullValue is pinned to a sentinel on BOTH sides: the reader's
      // default nullValue is "", which would round-trip an empty text
      // field to null and skew its token/char counts vs the oracle.
      val out = sideOutDocsCsv(s, d)
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))
      TextAnalysis.tokenCountsOf(
        s.read.schema(schema)
          .option("header", "true").option("multiLine", "true")
          .option("escape", "\"").option("nullValue", "\u0000")
          .csv(out))
    }),
    // Plain-text line source under the oracle: documents round-trip
    // through write.text/read.text as one U+0001-delimited line per
    // doc (the corpus is single-line token bags; the delimiter can't
    // appear in whitespace-tokenized text), parsed scan-side with one
    // codegen'd limit-2 split — the log-ingestion path where a 100 TB
    // corpus usually STARTS. Same token counts as t_tokens.
    "src_text_tokens" -> ((s, d) => {
      val out = sideOutDocsText(s, d)
      val parts = org.apache.spark.sql.functions.split(col("value"), "\u0001", 2)
      TextAnalysis.tokenCountsOf(s.read.text(out)
        .select(parts.getItem(0).cast("long").as("doc_id"),
          parts.getItem(1).as("text")))
    }),
    // Schema evolution across parquet vintages, read the 100 TB way:
    // declare ONE widened target schema over the mixed directory and
    // let the per-file scan adapt — INT32 doc_id widens to BIGINT,
    // columns absent from the old vintage null-fill. mergeSchema can
    // only do the add-column half (CANNOT_MERGE_SCHEMAS on any type
    // drift, spec-pinned in SourcesSpec) and pays a footer read per
    // file; the explicit schema pays neither. Aggregate proves both
    // vintages landed: n_docs counts all rows, n_v2/sum_chars only the
    // new-vintage rows (non-null source/n_chars).
    "src_schema_evolution" -> ((s, d) => {
      import org.apache.spark.sql.functions.{count, sum}
      val out = sideOutDocsVintages(s, d)
      s.read.schema("doc_id long, lang string, source string, n_chars long")
        .parquet(out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("source")).as("n_v2"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"))
    }),
  )

  /** Canonical supplier co-occurrence edge list as a DuckDB CTE —
    * the shared base of every generated graph oracle. */
  /** Shared langId oracle SQL (t_langid and the confusion matrix
    * both state the identical heuristic). */
  private val LangIdSql = """WITH t AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, text,
        |    len(list_intersect(toks, ['the','a','of','and','to','in','is','that','it','for'])) AS en,
        |    len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','mit','zu','auf'])) AS de,
        |    len(list_intersect(toks, ['le','la','les','et','est','dans','un','une','pour','que'])) AS fr,
        |    len(list_intersect(toks, ['el','los','y','es','en','un','una','por','con','para'])) AS es
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |    WHEN greatest(en, de, fr, es) = 0 THEN 'und'
        |    WHEN en = greatest(en, de, fr, es) THEN 'en'
        |    WHEN es = greatest(en, de, fr, es) THEN 'es'
        |    WHEN de = greatest(en, de, fr, es) THEN 'de'
        |    ELSE 'fr' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin

  private val EdgeCte =
    """os AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
      |e AS MATERIALIZED (SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
      |    CAST(count(*) AS BIGINT) AS w
      |  FROM os a JOIN os b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |  GROUP BY 1, 2),
      |sym AS MATERIALIZED (SELECT src, dst, w FROM e UNION ALL SELECT dst, src, w FROM e)""".stripMargin

  /** Weighted LPA unrolled to `iters` rounds of SQL — valid because
    * the Scala loop's early stop fires only at a both-parity
    * fixpoint, where further unrolled rounds are provably no-ops.
    * All label state is integer; edge-weight sums are integer-valued
    * doubles in Spark and BIGINTs here — both exact. */
  private def lpaOracleSql(iters: Int = 10): String = {
    val rounds = (0 until iters).map { r =>
      val cmp = if (r % 2 == 0) "<" else ">"
      s""",
         |agg$r AS MATERIALIZED (SELECT s.src AS vertex, l.label AS cand,
         |    CAST(sum(s.w) AS BIGINT) AS w
         |  FROM sym s JOIN l$r l ON l.vertex = s.dst GROUP BY 1, 2),
         |best$r AS MATERIALIZED (SELECT vertex, cand FROM (
         |  SELECT vertex, cand, row_number() OVER (PARTITION BY vertex
         |    ORDER BY w DESC, cand ASC) AS rk FROM agg$r) t WHERE rk = 1),
         |l${r + 1} AS MATERIALIZED (SELECT l.vertex,
         |  CASE WHEN b.cand IS NOT NULL AND b.cand $cmp l.label
         |    THEN b.cand ELSE l.label END AS label
         |  FROM l$r l LEFT JOIN best$r b ON b.vertex = l.vertex)""".stripMargin
    }.mkString
    s"""WITH $EdgeCte,
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS vertex, src AS label FROM sym)""".stripMargin +
      rounds +
      s"\nSELECT vertex, CAST(label AS BIGINT) AS label FROM l$iters ORDER BY vertex"
  }

  /** Modularity Q of the `iters`-round LPA labels, closed form over
    * exact integer sufficient statistics:
    * Q = (4m·Σw_in − Σd_c²) / (4m²). HUGEINT accumulation mirrors the
    * Spark side's DECIMAL(38,0); the one final division runs in
    * DOUBLE from identical exact integers on both engines. */
  /** Greedy k-center unrolled to k SQL rounds: round t's min-distance
    * table joins the cumulative center CTE, the argmax is an
    * ORDER BY d DESC, vec_id LIMIT 1, and every distance states
    * CosineSim's exact list_dot_product tree e6-rounded PER PAIR —
    * all intermediates are integers, so min/argmax order is
    * engine-identical. */
  /** H-index coreness fixpoint unrolled to exactly `rounds` SQL
    * rounds (identity past convergence — the fixed-round parity
    * contract): per round, neighbor values rank descending per
    * vertex and c ← max(least(cn, rk)). */
  private def corenessOracleSql(rounds: Int = 12): String = {
    val steps = (0 until rounds).map { r =>
      s""",
         |n$r AS (SELECT s.src AS vertex, c.c AS cn
         |  FROM sym s JOIN c$r c ON c.vertex = s.dst),
         |r$r AS (SELECT vertex, cn, row_number() OVER (
         |    PARTITION BY vertex ORDER BY cn DESC) AS rk FROM n$r),
         |c${r + 1} AS MATERIALIZED (SELECT vertex,
         |    CAST(max(least(cn, rk)) AS BIGINT) AS c
         |  FROM r$r GROUP BY vertex)""".stripMargin
    }.mkString
    s"""WITH $EdgeCte,
       |c0 AS MATERIALIZED (SELECT src AS vertex,
       |  CAST(count(*) AS BIGINT) AS c FROM sym GROUP BY 1)""".stripMargin +
      steps +
      s"""
         |SELECT vertex, c AS coreness FROM c$rounds
         |ORDER BY vertex""".stripMargin
  }

  private def kcenterOracleSql(k: Int = 8): String = {
    val sb = new StringBuilder
    sb ++= """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |    FROM embeddings),
             |cs0 AS (SELECT CAST(0 AS BIGINT) AS round, min(vec_id) AS id,
             |  CAST(NULL AS BIGINT) AS sep FROM emb)""".stripMargin
    for (t <- 1 until k) {
      sb ++= s""",
         |d$t AS (SELECT e.vec_id,
         |    min(CAST(round((1.0 - list_dot_product(e.v, c.v)
         |      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.v, c.v))))
         |      * 1000000) AS BIGINT)) AS d
         |  FROM emb e JOIN emb c ON c.vec_id IN (SELECT id FROM cs${t - 1})
         |  GROUP BY e.vec_id),
         |cs$t AS (SELECT * FROM cs${t - 1} UNION ALL
         |  SELECT CAST($t AS BIGINT), vec_id, d FROM
         |    (SELECT vec_id, d FROM d$t ORDER BY d DESC, vec_id LIMIT 1))""".stripMargin
    }
    sb ++= s"""
       |SELECT round, id AS center_id, sep AS sep_e6 FROM cs${k - 1}
       |ORDER BY round""".stripMargin
    sb.toString
  }

  private def modularityOfOracleSql(iters: Int): String = {
    val cte = lpaOracleSql(iters)
    val idx = cte.lastIndexOf("\nSELECT")
    cte.substring(0, idx) +
      s""",
         |lab AS (SELECT vertex, label FROM l$iters),
         |tot AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM e),
         |dc AS (SELECT l.label, CAST(sum(s.w) AS BIGINT) AS d_c
         |  FROM (SELECT src AS vertex, w FROM e UNION ALL SELECT dst, w FROM e) s
         |  JOIN lab l USING (vertex) GROUP BY 1),
         |ic AS (SELECT la.label, CAST(sum(e.w) AS BIGINT) AS w_in
         |  FROM e JOIN lab la ON la.vertex = e.src
         |         JOIN lab lb ON lb.vertex = e.dst
         |  WHERE la.label = lb.label GROUP BY 1),
         |per AS (SELECT dc.label, d_c, coalesce(w_in, 0) AS w_in
         |  FROM dc LEFT JOIN ic USING (label)),
         |agg AS (SELECT count(*) AS n_communities,
         |    CAST(sum(w_in) AS HUGEINT) AS a,
         |    sum(CAST(d_c AS HUGEINT) * d_c) AS b FROM per)
         |SELECT m, CAST(n_communities AS BIGINT) AS n_communities,
         |  CAST(round(CAST(4 * a * m - b AS DOUBLE)
         |    / (4.0 * m * m) * 1000000) AS BIGINT) AS q_e6
         |FROM agg CROSS JOIN tot""".stripMargin
  }

  /** k-core peeling unrolled to `rounds` SQL rounds: each round drops
    * under-degree vertices and their edges; past the fixpoint the
    * rounds are identity. 20 rounds covers the peel depth of these
    * graphs with a wide margin (the Scala loop converges in < 5). */
  /** k-truss unrolled to exactly `rounds` SQL peel rounds — the same
    * fixed-round parity contract as the engine's GraphOps.kTruss
    * (early engine stop only skips no-op rounds). */
  private def ktrussOracleSql(k: Int = 4, rounds: Int = 12): String = {
    val peels = (0 until rounds).map { r =>
      s""",
         |sy$r AS MATERIALIZED (SELECT src, dst FROM t$r
         |  UNION ALL SELECT dst, src FROM t$r),
         |t${r + 1} AS MATERIALIZED (SELECT ed.src, ed.dst FROM t$r ed
         |  JOIN sy$r s1 ON s1.src = ed.src
         |  JOIN sy$r s2 ON s2.src = ed.dst AND s2.dst = s1.dst
         |  GROUP BY ed.src, ed.dst HAVING count(*) >= ${k - 2})""".stripMargin
    }.mkString
    s"""WITH $EdgeCte,
       |thr AS (SELECT quantile_disc(w, 0.9) AS t FROM e),
       |t0 AS MATERIALIZED (SELECT src, dst FROM e, thr WHERE w >= t)""".stripMargin +
      peels +
      s"\nSELECT src, dst FROM t$rounds ORDER BY src, dst"
  }

  /** Deterministic walks unrolled to `steps` SQL hops — the same
    * md5-hex-derived neighbor choice as GraphOps.randomWalks, so
    * every hop replays exactly. */
  /** node2vec walks unrolled to SQL — [[walksOracleSql]]'s rank pick
    * generalized to the weighted-interval pick: per step the
    * candidate list (ordered by dst) gets half-open cumulative-weight
    * intervals and the walk hash picks pmod(h, Σw); the distance-1
    * class tests (prev, x) membership against the symmetric edge set
    * exactly as the Spark side's left join. The hash is 15 hex digits
    * → positive, so `%` ≡ pmod on both engines. */
  private def node2vecOracleSql(steps: Int = 4, wR: Int = 1, wC: Int = 2,
      wO: Int = 4): String = {
    def h(t: Int) =
      s"CAST(('0x' || substr(md5(CAST(walk_id AS VARCHAR) || ':$t'), 1, 15)) AS BIGINT)"
    val hops = (2 to steps).map { t =>
      s""",
         |c$t AS MATERIALIZED (SELECT w.walk_id, w.vertex AS cur, a.dst AS x,
         |    CASE WHEN a.dst = w.prev THEN $wR
         |      WHEN m.src IS NOT NULL THEN $wC ELSE $wO END AS wt
         |  FROM w${t - 1} w JOIN adj a ON a.src = w.vertex
         |  LEFT JOIN sym m ON m.src = w.prev AND m.dst = a.dst),
         |w$t AS MATERIALIZED (SELECT walk_id, cur AS prev, x AS vertex FROM (
         |  SELECT walk_id, cur, x, wt,
         |    coalesce(sum(wt) OVER (PARTITION BY walk_id ORDER BY x
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
         |    sum(wt) OVER (PARTITION BY walk_id) AS tot
         |  FROM c$t) z
         |  WHERE tot > 0 AND ${h(t)} % tot >= cum
         |    AND ${h(t)} % tot < cum + wt)""".stripMargin
    }.mkString
    val unions = (0 to steps)
      .map(t => s"SELECT walk_id, $t AS step, vertex FROM w$t")
      .mkString("\n", "\nUNION ALL ", "")
    s"""WITH $EdgeCte,
       |adj AS MATERIALIZED (SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS r,
       |    count(*) OVER (PARTITION BY src) AS deg
       |  FROM sym),
       |w0 AS MATERIALIZED (SELECT DISTINCT src AS walk_id, src AS vertex
       |  FROM sym),
       |w1 AS MATERIALIZED (SELECT w.walk_id, w.vertex AS prev, a.dst AS vertex
       |  FROM w0 w JOIN adj a ON a.src = w.vertex
       |  AND a.r = ${h(1)} % a.deg)""".stripMargin +
      hops +
      s"\nSELECT walk_id, step, vertex FROM ($unions) u ORDER BY walk_id, step"
  }

  /** The walk-corpus CTE chain (adjacency ranking + unrolled hash
    * hops + a `walks` union CTE) shared by the g_walks and g_walk_pmi
    * oracles. */
  private def walksCteSql(steps: Int = 4): String = {
    val hops = (1 to steps).map { t =>
      s""",
         |w$t AS MATERIALIZED (SELECT w.walk_id, a.dst AS vertex
         |  FROM w${t - 1} w JOIN adj a ON a.src = w.vertex
         |  AND a.r = CAST(('0x' || substr(md5(CAST(w.walk_id AS VARCHAR)
         |    || ':$t'), 1, 15)) AS BIGINT) % a.deg)""".stripMargin
    }.mkString
    val unions = (0 to steps)
      .map(t => s"SELECT walk_id, $t AS step, vertex FROM w$t")
      .mkString("\nUNION ALL ")
    s"""WITH $EdgeCte,
       |adj AS MATERIALIZED (SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS r,
       |    count(*) OVER (PARTITION BY src) AS deg
       |  FROM sym),
       |w0 AS MATERIALIZED (SELECT DISTINCT src AS walk_id, src AS vertex
       |  FROM sym)""".stripMargin +
      hops +
      s",\nwalks AS MATERIALIZED (\n$unions)"
  }

  private def walksOracleSql(steps: Int = 4): String =
    walksCteSql(steps) +
      "\nSELECT walk_id, step, vertex FROM walks ORDER BY walk_id, step"

  /** Skip-gram pair counts + the exact integer independence ratio —
    * identical window arithmetic to GraphOps.walkPmi (no log: the §6
    * float rule; // ≡ div). */
  private def walkPmiOracleSql(steps: Int = 4, window: Int = 2): String =
    walksCteSql(steps) +
      s""",
         |p AS (SELECT a.vertex AS center, b.vertex AS context
         |  FROM walks a JOIN walks b ON a.walk_id = b.walk_id
         |    AND a.step <> b.step AND abs(a.step - b.step) <= $window),
         |g AS (SELECT center, context, CAST(count(*) AS BIGINT) AS n_cc
         |  FROM p GROUP BY 1, 2),
         |m AS (SELECT center, context, n_cc,
         |    sum(n_cc) OVER (PARTITION BY center) AS n_c,
         |    sum(n_cc) OVER (PARTITION BY context) AS n_x,
         |    (SELECT sum(n_cc) FROM g) AS t FROM g)
         |SELECT center, context, n_cc,
         |  CAST(n_cc * t * 1000000 // (n_c * n_x) AS BIGINT) AS pmi_ratio_e6
         |FROM m ORDER BY center, context""".stripMargin

  /** Bahmani peeling unrolled — identical integer average-degree cut
    * (deg·V·10 > 2·E·11) per round over the strong-tie subgraph; the
    * densest round picks by (density DESC, round) like the engine's
    * driver-side argmax. */
  private def densestOracleSql(rounds: Int = 12): String = {
    val steps = (0 until rounds).map { r =>
      s""",
         |vs$r AS (SELECT src AS v FROM e$r UNION ALL SELECT dst FROM e$r),
         |s$r AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS ec,
         |  (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM vs$r) AS vc
         |  FROM e$r),
         |k$r AS MATERIALIZED (SELECT v FROM (
         |    SELECT v, CAST(count(*) AS BIGINT) AS deg FROM vs$r GROUP BY v) d,
         |  s$r WHERE d.deg * s$r.vc * 10 > 2 * s$r.ec * 11),
         |e${r + 1} AS MATERIALIZED (SELECT ed.src, ed.dst FROM e$r ed
         |  JOIN k$r a ON a.v = ed.src JOIN k$r b ON b.v = ed.dst)""".stripMargin
    }.mkString
    val unions = (0 until rounds)
      .map(r => s"SELECT $r AS round, vc, ec FROM s$r WHERE ec > 0")
      .mkString("\nUNION ALL ")
    s"""WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
       |ew AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
       |    CAST(count(*) AS DOUBLE) AS weight
       |  FROM os a JOIN os b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
       |  GROUP BY 1, 2),
       |thr AS (SELECT quantile_cont(weight, 0.5) * 1.25 AS t FROM ew),
       |e0 AS MATERIALIZED (SELECT src, dst FROM ew, thr WHERE weight >= t)"""
      .stripMargin +
      steps +
      s""",
         |stats AS ($unions)
         |SELECT round AS best_round, vc AS n_vertices, ec AS n_edges,
         |  ec * 1000000 // vc AS density_e6
         |FROM stats
         |ORDER BY ec * 1000000 // vc DESC, round
         |LIMIT 1""".stripMargin
  }

  /** Holt recursion unrolled — identical e6 integer state updates
    * (// ≡ Scala Long division, truncation toward zero) with
    * carry-forward no-ops past each type's last day. */
  private def holtOracleSql(
      rounds: Int = operators.Relational.HoltOracleRounds): String = {
    val steps = (2 to rounds).map { t =>
      val lNew = s"(3 * r.x * 1000000 + 7 * (s.l + s.b)) // 10"
      s""",
         |s$t AS MATERIALIZED (SELECT s.event_type,
         |  CASE WHEN r.x IS NULL THEN s.l ELSE $lNew END AS l,
         |  CASE WHEN r.x IS NULL THEN s.b
         |    ELSE ($lNew - s.l + 9 * s.b) // 10 END AS b
         |  FROM s${t - 1} s LEFT JOIN r
         |    ON r.event_type = s.event_type AND r.rk = $t)""".stripMargin
    }.mkString
    s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
       |dw AS (SELECT event_type, day, x,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day DESC)
       |      AS rkd
       |  FROM d),
       |r AS (SELECT event_type, x,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rk
       |  FROM dw WHERE rkd <= $rounds),
       |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
       |  FROM r GROUP BY 1),
       |s1 AS (SELECT event_type, x * 1000000 AS l, CAST(0 AS BIGINT) AS b
       |  FROM r WHERE rk = 1)""".stripMargin +
      steps +
      s"""
         |SELECT s.event_type, n.n_days, CAST(s.l AS BIGINT) AS level_e6,
         |  CAST(s.b AS BIGINT) AS trend_e6,
         |  CAST(s.l + s.b AS BIGINT) AS f1_e6,
         |  CAST(s.l + 2 * s.b AS BIGINT) AS f2_e6,
         |  CAST(s.l + 3 * s.b AS BIGINT) AS f3_e6
         |FROM s$rounds s JOIN n ON n.event_type = s.event_type
         |ORDER BY s.event_type""".stripMargin
  }

  /** Holt–Winters (additive, m = 7) unrolled — the holtOracleSql
    * pattern with the 7 seasonal slots carried as columns c0..c6;
    * step t updates only slot (t−1) mod 7 (known at generation
    * time), missing ranks hold all state, `//` truncates toward
    * zero exactly like the Scala fold's plain Long `/` (never
    * Math.floorDiv — python's flooring `//` is the odd one out). */
  private def holtWintersOracleSql(
      rounds: Int = operators.Relational.HoltOracleRounds): String = {
    val m = 7
    val cs = (0 until m).map(i => s"c$i")
    val steps = (m + 1 to rounds).map { t =>
      val slot = (t - 1) % m
      val lNew = s"(3 * (r.x * 1000000 - s.c$slot) + 7 * (s.l + s.b)) // 10"
      val cCols = cs.map { c =>
        if (c == s"c$slot")
          s"""CASE WHEN r.x IS NULL THEN s.$c
             |    ELSE (2 * (r.x * 1000000 - ($lNew)) + 8 * s.$c) // 10 END
             |    AS $c""".stripMargin
        else s"s.$c AS $c"
      }.mkString(",\n  ")
      s""",
         |s$t AS MATERIALIZED (SELECT s.event_type,
         |  CASE WHEN r.x IS NULL THEN s.l ELSE $lNew END AS l,
         |  CASE WHEN r.x IS NULL THEN s.b
         |    ELSE ($lNew - s.l + 9 * s.b) // 10 END AS b,
         |  $cCols
         |  FROM s${t - 1} s LEFT JOIN r
         |    ON r.event_type = s.event_type AND r.rk = $t)""".stripMargin
    }.mkString
    val initCs = (1 to m).map { rk =>
      s"CAST(max(CASE WHEN r.rk = $rk THEN r.x END) * 1000000 - i.l" +
        s" AS BIGINT) AS c${rk - 1}"
    }.mkString(",\n    ")
    def fCase(h: Int) = {
      val whens = (0 until m).map(sl =>
        s"WHEN ${sl} THEN s.c$sl").mkString(" ")
      s"CAST(s.l + $h * s.b + (CASE (n.n_days + ${h - 1}) % $m $whens END)" +
        s" AS BIGINT) AS f${h}_e6"
    }
    s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
       |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
       |dw AS (SELECT event_type, day, x,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day DESC)
       |      AS rkd
       |  FROM d),
       |r AS (SELECT event_type, x,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rk
       |  FROM dw WHERE rkd <= $rounds),
       |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
       |  FROM r GROUP BY 1),
       |i AS (SELECT event_type, CAST(sum(x) * 1000000 // $m AS BIGINT) AS l
       |  FROM r WHERE rk <= $m GROUP BY 1),
       |s$m AS (SELECT i.event_type, i.l, CAST(0 AS BIGINT) AS b,
       |    $initCs
       |  FROM i JOIN r ON r.event_type = i.event_type AND r.rk <= $m
       |  GROUP BY i.event_type, i.l)""".stripMargin +
      steps +
      s"""
         |SELECT s.event_type, n.n_days, CAST(s.l AS BIGINT) AS level_e6,
         |  CAST(s.b AS BIGINT) AS trend_e6,
         |  ${fCase(1)},
         |  ${fCase(2)},
         |  ${fCase(3)}
         |FROM s$rounds s JOIN n ON n.event_type = s.event_type
         |ORDER BY s.event_type""".stripMargin
  }

  /** Shifted-Laplacian power iteration unrolled — identical integer
    * matvec, mean deflation and max-renormalization per round over
    * the strong-tie subgraph (// ≡ div, both truncate). */
  private def spectralOracleSql(rounds: Int = 15): String = {
    val steps = (1 to rounds).map { r =>
      s""",
         |nb$r AS MATERIALIZED (SELECT s.src AS vertex,
         |    CAST(sum(x.s) AS BIGINT) AS s_sum
         |  FROM sym s JOIN x${r - 1} x ON x.vertex = s.dst GROUP BY 1),
         |y$r AS MATERIALIZED (SELECT d.vertex,
         |    CAST((cc.c - d.deg) * x.s + coalesce(nb.s_sum, 0) AS BIGINT)
         |      AS y
         |  FROM deg d JOIN x${r - 1} x USING (vertex) CROSS JOIN cc
         |  LEFT JOIN nb$r nb ON nb.vertex = d.vertex),
         |m$r AS (SELECT CAST(sum(y) AS BIGINT)
         |    // CAST(count(*) AS BIGINT) AS mean FROM y$r),
         |z$r AS MATERIALIZED (SELECT vertex, y - m.mean AS z
         |  FROM y$r CROSS JOIN m$r m),
         |w$r AS (SELECT CAST(max(abs(z)) AS BIGINT) AS mx FROM z$r),
         |x$r AS MATERIALIZED (SELECT vertex,
         |    CAST(CASE WHEN w.mx = 0 THEN 0
         |      ELSE z * 1000000 // w.mx END AS BIGINT) AS s
         |  FROM z$r CROSS JOIN w$r w)""".stripMargin
    }.mkString
    s"""WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
       |ew AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
       |    CAST(count(*) AS DOUBLE) AS weight
       |  FROM os a JOIN os b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
       |  GROUP BY 1, 2),
       |thr AS (SELECT quantile_cont(weight, 0.5) * 1.25 AS t FROM ew),
       |e AS (SELECT src, dst FROM ew, thr WHERE weight >= t),
       |sym AS MATERIALIZED (SELECT src, dst FROM e
       |  UNION ALL SELECT dst, src FROM e),
       |deg AS MATERIALIZED (SELECT src AS vertex,
       |    CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
       |cc AS (SELECT 2 * max(deg) AS c FROM deg),
       |x0 AS MATERIALIZED (SELECT vertex,
       |  CAST(CAST(('0x' || substr(md5(CAST(vertex AS VARCHAR)), 1, 15))
       |    AS BIGINT) % 2000001 - 1000000 AS BIGINT) AS s FROM deg)"""
      .stripMargin +
      steps +
      s"""
         |SELECT vertex, s AS score_e6, s >= 0 AS side
         |FROM x$rounds ORDER BY vertex""".stripMargin
  }

  private def kcoreOracleSql(k: Int = 10, rounds: Int = 20): String = {
    val peels = (0 until rounds).map { r =>
      s""",
         |k$r AS MATERIALIZED (SELECT v FROM (SELECT src AS v FROM e$r
         |    UNION ALL SELECT dst FROM e$r) t
         |  GROUP BY v HAVING count(*) >= $k),
         |e${r + 1} AS MATERIALIZED (SELECT ed.src, ed.dst FROM e$r ed
         |  JOIN k$r a ON a.v = ed.src JOIN k$r b ON b.v = ed.dst)""".stripMargin
    }.mkString
    s"""WITH $EdgeCte,
       |e0 AS MATERIALIZED (SELECT src, dst FROM e)""".stripMargin +
      peels +
      s"""
         |SELECT DISTINCT v AS vertex FROM (SELECT src AS v FROM e$rounds
         |  UNION ALL SELECT dst FROM e$rounds) t ORDER BY vertex""".stripMargin
  }

  /** Bellman-Ford unrolled to `rounds` relax-and-min SQL rounds —
    * identical integer arithmetic to GraphOps.weightedShortestPaths
    * (BIGINT distance sums, order-free min), so the match is exact. */
  /** Unrolled Borůvka MSF oracle (round 16): `phases` rounds of
    * per-component minimum crossing edge under the STRICT
    * (w, src, dst) order — the same total order
    * GraphOps.minimumSpanningForest picks by, and a strict order
    * makes the minimum forest unique (cycle property), so any
    * correct algorithm under it yields the identical edge set.
    * Components re-derive per phase via a min-label reachability
    * CTE over the selected forest (tiny: ≤ V−1 edges). Components
    * at least halve per phase, so 2^phases ≥ V suffices — and an
    * under-unrolled oracle surfaces as an n_components MISMATCH,
    * never a silent pass. */
  private def mstWeightOracleSql(phases: Int = 10): String = {
    val blocks = (1 to phases).map { k =>
      val p = k - 1
      s""",
         |cr$k AS MATERIALIZED (
         |  SELECT l1.lab AS c1, l2.lab AS c2, e.src, e.dst, e.w
         |  FROM e JOIN lab$p l1 ON l1.v = e.src
         |    JOIN lab$p l2 ON l2.v = e.dst
         |  WHERE l1.lab <> l2.lab),
         |pick$k AS MATERIALIZED (
         |  SELECT DISTINCT src, dst, w FROM (
         |    SELECT src, dst, w,
         |      row_number() OVER (PARTITION BY c ORDER BY w, src, dst) AS rn
         |    FROM (SELECT c1 AS c, src, dst, w FROM cr$k
         |          UNION ALL SELECT c2 AS c, src, dst, w FROM cr$k))
         |  WHERE rn = 1),
         |sel$k AS MATERIALIZED (SELECT src, dst, w FROM sel$p
         |  UNION SELECT src, dst, w FROM pick$k),
         |reach$k(v, u) AS (
         |  SELECT v, v FROM verts
         |  UNION
         |  SELECT r.v, s.dst FROM reach$k r JOIN
         |    (SELECT src, dst FROM sel$k
         |     UNION ALL SELECT dst, src FROM sel$k) s
         |    ON s.src = r.u),
         |lab$k AS MATERIALIZED (SELECT v, min(u) AS lab
         |  FROM reach$k GROUP BY v)""".stripMargin
    }.mkString
    s"""WITH RECURSIVE $EdgeCte,
       |verts AS MATERIALIZED (SELECT DISTINCT src AS v FROM sym),
       |lab0 AS (SELECT v, v AS lab FROM verts),
       |sel0(src, dst, w) AS (SELECT src, dst, w FROM e WHERE 1 = 0)""".stripMargin +
      blocks +
      s"""
         |SELECT CAST(coalesce(sum(w), 0) AS BIGINT) AS total_weight,
         |  CAST(count(*) AS BIGINT) AS n_edges,
         |  (SELECT count(*) FROM verts) - CAST(count(*) AS BIGINT)
         |    AS n_components
         |FROM sel$phases""".stripMargin
  }

  private def ssspWOracleSql(nLandmarks: Int = 3, rounds: Int = 6): String = {
    val steps = (0 until rounds).map { r =>
      s""",
         |d${r + 1} AS MATERIALIZED (SELECT lm, vertex, min(d) AS d FROM (
         |  SELECT lm, vertex, d FROM d$r
         |  UNION ALL
         |  SELECT r.lm, s.dst AS vertex, r.d + s.w AS d
         |  FROM d$r r JOIN sym s ON s.src = r.vertex) t
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString
    s"""WITH $EdgeCte,
       |verts AS (SELECT DISTINCT src AS v FROM sym),
       |lms AS (SELECT v FROM verts ORDER BY v LIMIT $nLandmarks),
       |d0 AS MATERIALIZED (SELECT v AS lm, v AS vertex,
       |  CAST(0 AS BIGINT) AS d FROM lms)""".stripMargin +
      steps +
      s"""
         |SELECT vertex, CAST(lm AS BIGINT) AS landmark, d AS wdist
         |FROM d$rounds ORDER BY vertex, landmark""".stripMargin
  }

  /** Integer PageRank unrolled to `iters` SQL iterations — identical
    * integer arithmetic to GraphOps.pageRankInteger, so the match is
    * exact (no float tolerance games). */
  /** Unrolled integer-PageRank oracle over any CTE chain ending in a
    * symmetrized `sym(src, dst, w)` table — shared by
    * `g_pagerank_det` and `t_textrank` (one source of truth for the
    * round arithmetic; a damping/scale change can never desync the
    * two oracles from [[graft.graph.GraphOps.pageRankInteger]]). */
  private def integerPagerankOracle(edgeCte: String, iters: Int,
      finalSelect: String): String = {
    val steps = (0 until iters).map { i =>
      s""",
         |c$i AS MATERIALIZED (SELECT f.dst AS vertex,
         |    CAST(sum((r.rank * f.w) // f.wdeg) AS BIGINT) AS csum
         |  FROM fr f JOIN r$i r ON r.vertex = f.src GROUP BY 1),
         |r${i + 1} AS MATERIALIZED (SELECT r.vertex,
         |  CAST(150000 + (coalesce(c.csum, 0) * 17) // 20 AS BIGINT) AS rank
         |  FROM r$i r LEFT JOIN c$i c ON c.vertex = r.vertex)""".stripMargin
    }.mkString
    s"""WITH $edgeCte,
       |wdeg AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM sym GROUP BY 1),
       |fr AS MATERIALIZED (SELECT s.src, s.dst, s.w, d.wdeg FROM sym s JOIN wdeg d ON d.src = s.src),
       |r0 AS MATERIALIZED (SELECT DISTINCT src AS vertex, CAST(1000000 AS BIGINT) AS rank FROM sym)""".stripMargin +
      steps +
      s"\n$finalSelect".replace("RLAST", s"r$iters")
  }

  private def pagerankDetOracleSql(iters: Int = 10): String =
    integerPagerankOracle(EdgeCte, iters,
      "SELECT vertex, rank AS rank_e6 FROM RLAST ORDER BY vertex")

  /** Unrolled integer eigenvector-centrality oracle — identical
    * truncating arithmetic to GraphOps.eigenCentrality (x ← A·x,
    * renormalize by max(1, ymax // 1e6) each round). */
  private def eigenOracleSql(iters: Int = 10): String = {
    val steps = (0 until iters).map { i =>
      s""",
         |c$i AS MATERIALIZED (SELECT f.dst AS vertex,
         |    CAST(sum(f.w * r.x) AS BIGINT) AS y
         |  FROM sym f JOIN r$i r ON r.vertex = f.src GROUP BY 1),
         |m$i AS MATERIALIZED (SELECT greatest(CAST(1 AS BIGINT),
         |    max(y) // 1000000) AS k FROM c$i),
         |r${i + 1} AS MATERIALIZED (SELECT r.vertex,
         |  CAST(coalesce(c.y, 0) // m.k AS BIGINT) AS x
         |  FROM r$i r LEFT JOIN c$i c ON c.vertex = r.vertex, m$i m)""".stripMargin
    }.mkString
    s"""WITH $EdgeCte,
       |r0 AS MATERIALIZED (SELECT DISTINCT src AS vertex,
       |  CAST(1000000 AS BIGINT) AS x FROM sym)""".stripMargin +
      steps +
      s"\nSELECT vertex, x AS eig_e6 FROM r$iters ORDER BY vertex"
  }

  /** t_textrank's word co-occurrence edge CTE + final top-25 select
    * (vocab width and the window-2 pairing mirror
    * TextAnalysis.textRank). */
  private def textrankOracleSql(iters: Int = 10): String =
    integerPagerankOracle(
      """toks AS (SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |vocab AS MATERIALIZED (SELECT token FROM (
        |    SELECT unnest(t) AS token FROM toks) tt
        |  GROUP BY token ORDER BY count(*) DESC, token ASC LIMIT 100),
        |idx AS (SELECT t, unnest(range(1, len(t))) AS i FROM toks),
        |pr AS (SELECT t[i] AS a, t[i + 1] AS b FROM idx),
        |e AS (SELECT least(a, b) AS src, greatest(a, b) AS dst,
        |    CAST(count(*) AS BIGINT) AS w
        |  FROM pr WHERE a <> b
        |    AND a IN (SELECT token FROM vocab)
        |    AND b IN (SELECT token FROM vocab)
        |  GROUP BY 1, 2),
        |sym AS (SELECT src, dst, w FROM e
        |  UNION ALL SELECT dst, src, w FROM e)""".stripMargin,
      iters,
      "SELECT vertex AS token, rank AS rank_e6 FROM RLAST" +
        " ORDER BY rank DESC, vertex ASC LIMIT 25")

  /** One source of truth for the bounded embedding query sample: the
    * e_triplet/e_cosine_topk/e_mips/e_range_search oracles
    * interpolate this (the katzOracleSql generated-oracle pattern)
    * so a [[graft.operators.Similarity.QueryLimit]] change can never
    * silently desync Spark from the DuckDB side. */
  private val QL: Int = graft.operators.Similarity.QueryLimit

  /** Shared BM25 CTE chain for the r_* retrieval oracles — mirrors
    * [[graft.operators.Retrieval.bm25Scores]] term by term, with the
    * query-sample size, terms-per-query and k1/b constants
    * interpolated from the one Scala source of truth (the
    * katzOracleSql generated-oracle pattern). Ends with `bm25` =
    * (query_id, doc_id, bm25_e4). */
  private def bm25OracleCte: String = {
    val qd = graft.operators.Retrieval.QueryDocs
    val qt = graft.operators.Retrieval.QueryTerms
    val k1 = graft.operators.Retrieval.K1
    val b = graft.operators.Retrieval.B
    s"""WITH terms AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
       |  FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM documents),
       |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS totdl FROM dl),
       |qterms AS (SELECT doc_id AS query_id, token FROM (
       |    SELECT tf.doc_id, tf.token,
       |      row_number() OVER (PARTITION BY tf.doc_id ORDER BY
       |        CAST(round(tf * ln(CAST(n AS DOUBLE) / df) * 10000) AS BIGINT)
       |          DESC, tf.token ASC) AS rk
       |    FROM tf JOIN dfreq USING (token), nn
       |    WHERE tf.doc_id < $qd) WHERE rk <= $qt),
       |bs AS (SELECT q.query_id, tf.doc_id,
       |    CAST(round(ln(1 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
       |      * (tf * ${k1 + 1.0}) / (tf + $k1 * (${1.0 - b} + $b * dl
       |      / (CAST(totdl AS DOUBLE) / n))) * 10000) AS BIGINT) AS s_e4
       |  FROM tf JOIN qterms q USING (token)
       |    JOIN dfreq USING (token) JOIN dl ON dl.doc_id = tf.doc_id, nn, tot
       |  WHERE tf.doc_id <> q.query_id),
       |bm25 AS (SELECT query_id, doc_id, CAST(sum(s_e4) AS BIGINT) AS bm25_e4
       |  FROM bs GROUP BY 1, 2)""".stripMargin
  }

  /** Generated oracle for `s_stream_drift` — mirrors
    * [[graft.streaming.StreamingOps.streamDrift]] term by term: the
    * s_stream_watermark emitted-window arithmetic, fixed width-10
    * value bins, and one add-one-smoothed PSI term per bin e6-rounded
    * before the integer sum (the per-term rounding rule). The
    * reference counts the Scala side bakes in as driver-collected
    * literals are computed here in the `g` CTE — identical integers,
    * identical division/ln tree. */
  private def streamDriftOracleSql: String = {
    val bins = 10
    val binCols = (0 until bins).map(i =>
      s"CAST(sum(CASE WHEN bin = $i THEN 1 ELSE 0 END) AS BIGINT) AS c$i")
      .mkString(",\n|    ")
    val gCols = (0 until bins).map(i =>
      s"CAST(sum(CASE WHEN bin = $i THEN 1 ELSE 0 END) AS BIGINT) AS g$i")
      .mkString(",\n|    ")
    val terms = (0 until bins).map(i =>
      s"CAST(round((CAST(c$i + 1 AS DOUBLE) / (n + $bins)" +
        s" - CAST(g$i + 1 AS DOUBLE) / (gn + $bins))" +
        s" * ln((CAST(c$i + 1 AS DOUBLE) / (n + $bins))" +
        s" / (CAST(g$i + 1 AS DOUBLE) / (gn + $bins))) * 1000000) AS BIGINT)")
      .mkString("\n|  + ")
    s"""WITH wm AS (
      |  SELECT epoch_ns(max(ts)) // 1000000 - 3600000 AS wm_ms FROM events),
      |b AS (SELECT date_trunc('hour', ts) AS hour,
      |    CAST(greatest(least(floor(value / 10.0), 9), 0) AS BIGINT) AS bin
      |  FROM events),
      |w AS (SELECT hour, CAST(count(*) AS BIGINT) AS n,
      |    $binCols
      |  FROM b GROUP BY 1),
      |g AS (SELECT CAST(count(*) AS BIGINT) AS gn,
      |    $gCols
      |  FROM b)
      |SELECT hour, n,
      |  $terms AS psi_e6
      |FROM w, g, wm
      |WHERE epoch_ms(hour) + 3600000 <= wm_ms
      |ORDER BY hour""".stripMargin
  }

  /** Katz centrality unrolled to `iters` rounds of integer SQL —
    * mirrors [[graft.graph.GraphOps.katzCentrality]] term by term:
    * x ← 1e6 + Σ (x·w) div 256 over the symmetric weighted edges. */
  private def katzOracleSql(iters: Int = 8): String = {
    val steps = (0 until iters).map { i =>
      s""",
         |kc$i AS MATERIALIZED (SELECT s.dst AS vertex,
         |    CAST(sum((x.katz * s.w) // 256) AS BIGINT) AS csum
         |  FROM sym s JOIN x$i x ON x.vertex = s.src GROUP BY 1),
         |x${i + 1} AS MATERIALIZED (SELECT x.vertex,
         |  CAST(1000000 + coalesce(c.csum, 0) AS BIGINT) AS katz
         |  FROM x$i x LEFT JOIN kc$i c ON c.vertex = x.vertex)""".stripMargin
    }.mkString
    s"""WITH $EdgeCte,
       |x0 AS MATERIALIZED (SELECT DISTINCT src AS vertex,
       |  CAST(1000000 AS BIGINT) AS katz FROM sym)""".stripMargin +
      steps +
      s"\nSELECT vertex, katz AS katz_e6 FROM x$iters ORDER BY vertex"
  }

  /** Personalized PageRank unrolled to `iters` SQL iterations —
    * identical integer arithmetic to GraphOps.personalizedPageRank
    * (seeds = 3 smallest vertex ids, unnormalized 150000 restart per
    * seed per round), so the match is exact. */
  private def pprOracleSql(iters: Int = 10): String = {
    val steps = (0 until iters).map { i =>
      s""",
         |c$i AS MATERIALIZED (SELECT f.dst AS vertex,
         |    CAST(sum((r.rank * f.w) // f.wdeg) AS BIGINT) AS csum
         |  FROM fr f JOIN r$i r ON r.vertex = f.src GROUP BY 1),
         |r${i + 1} AS MATERIALIZED (SELECT r.vertex,
         |  CAST(CASE WHEN r.seed THEN 150000 ELSE 0 END
         |    + (coalesce(c.csum, 0) * 17) // 20 AS BIGINT) AS rank, r.seed
         |  FROM r$i r LEFT JOIN c$i c ON c.vertex = r.vertex)""".stripMargin
    }.mkString
    s"""WITH $EdgeCte,
       |wdeg AS MATERIALIZED (SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM sym GROUP BY 1),
       |fr AS MATERIALIZED (SELECT s.src, s.dst, s.w, d.wdeg FROM sym s JOIN wdeg d ON d.src = s.src),
       |verts AS (SELECT DISTINCT src AS vertex FROM sym),
       |lms AS (SELECT vertex AS v FROM verts ORDER BY vertex LIMIT 3),
       |r0 AS MATERIALIZED (SELECT verts.vertex,
       |  CAST(CASE WHEN l.v IS NOT NULL THEN 1000000 ELSE 0 END AS BIGINT) AS rank,
       |  l.v IS NOT NULL AS seed
       |  FROM verts LEFT JOIN lms l ON l.v = verts.vertex)""".stripMargin +
      steps +
      s"\nSELECT vertex, rank AS rank_e6 FROM r$iters ORDER BY vertex"
  }

  /** HITS unrolled to `iters` rounds of integer SQL — mirrors
    * [[graft.graph.GraphOps.hits]] term by term: per round an
    * authority sum + max-normalize (floor division, DuckDB `//` =
    * Spark `div`), then a hub sum + max-normalize. */
  /** Planted shared spans for p_span_dedup — 30 tokens each (≥ the
    * 25-token span floor), interpolated identically into the Spark
    * plant and the DuckDB oracle. */
  private val SpanA = (0 until 30).map(i => f"spana$i%02d").mkString(" ")
  private val SpanB = (0 until 30).map(i => f"spanb$i%02d").mkString(" ")

  /** The span-dedup pipeline stated in SQL: plant → shingle → df ≥ 2
    * → merged maximal intervals → complement re-assembly. */
  private def spanDedupOracleSql(): String =
    s"""WITH pages AS (SELECT doc_id,
      |    CASE WHEN doc_id % 10 = 3 THEN concat(trim(text), ' ', '$SpanA')
      |         WHEN doc_id % 10 = 5 THEN concat('$SpanA', ' ', trim(text))
      |         WHEN doc_id % 10 = 7 THEN concat(trim(text), ' ', '$SpanB')
      |         ELSE text END AS text FROM documents),
      |toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
      |  FROM pages),
      |pos AS (SELECT doc_id, ts, unnest(range(0, len(ts) - 24)) AS p
      |  FROM toks WHERE len(ts) >= 25),
      |sh AS (SELECT doc_id, p,
      |    md5(array_to_string(ts[p + 1 : p + 25], chr(1))) AS h FROM pos),
      |dup AS (SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      |dp AS (SELECT doc_id, p FROM sh JOIN dup USING (h)),
      |i0 AS (SELECT doc_id, p, max(p + 24) OVER (PARTITION BY doc_id ORDER BY p
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM dp),
      |i1 AS (SELECT doc_id, p, CASE WHEN prev_end IS NULL OR p > prev_end + 1
      |    THEN 1 ELSE 0 END AS nw FROM i0),
      |i2 AS (SELECT doc_id, p, sum(nw) OVER (PARTITION BY doc_id ORDER BY p)
      |    AS iid FROM i1),
      |islands AS (SELECT doc_id, iid, min(p) AS s, max(p) + 24 AS e
      |  FROM i2 GROUP BY 1, 2),
      |cov AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
      |    CAST(sum(e - s + 1) AS BIGINT) AS n_removed FROM islands GROUP BY 1),
      |tokpos AS (SELECT doc_id, unnest(ts) AS tok,
      |    generate_subscripts(ts, 1) - 1 AS tp FROM toks),
      |keep AS (SELECT t.doc_id, t.tok, t.tp FROM tokpos t
      |  WHERE NOT EXISTS (SELECT 1 FROM islands i
      |    WHERE i.doc_id = t.doc_id AND t.tp BETWEEN i.s AND i.e)),
      |clean AS (SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY tp)) AS cm
      |  FROM keep GROUP BY 1)
      |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
      |  coalesce(c.n_spans, 0) AS n_spans,
      |  coalesce(c.n_removed, 0) AS n_removed,
      |  coalesce(cl.cm, md5('')) AS clean_md5
      |FROM toks t LEFT JOIN cov c USING (doc_id)
      |LEFT JOIN clean cl USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  private def hitsOracleSql(iters: Int = 5): String = {
    val steps = (0 until iters).map { i =>
      s""",
         |ar$i AS MATERIALIZED (SELECT e.dst AS id, CAST(sum(h.h) AS BIGINT) AS a
         |  FROM e JOIN h$i h ON h.id = e.src GROUP BY 1),
         |a${i + 1} AS MATERIALIZED (SELECT id,
         |  CAST(a * 1000000 // (SELECT max(a) FROM ar$i) AS BIGINT) AS a FROM ar$i),
         |hr$i AS MATERIALIZED (SELECT e.src AS id, CAST(sum(a.a) AS BIGINT) AS h
         |  FROM e JOIN a${i + 1} a ON a.id = e.dst GROUP BY 1),
         |h${i + 1} AS MATERIALIZED (SELECT id,
         |  CAST(h * 1000000 // (SELECT max(h) FROM hr$i) AS BIGINT) AS h FROM hr$i)""".stripMargin
    }.mkString
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT o.o_custkey AS src, l.l_suppkey AS dst
       |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
       |h0 AS MATERIALIZED (SELECT DISTINCT src AS id, CAST(1000000 AS BIGINT) AS h FROM e)""".stripMargin +
      steps +
      s"""
         |SELECT id, 'hub' AS role, h AS score_e6 FROM h$iters
         |UNION ALL
         |SELECT id, 'auth' AS role, a AS score_e6 FROM a$iters
         |ORDER BY role, id""".stripMargin
  }

  /** Landmark Brandes betweenness unrolled — mirrors
    * [[graft.graph.GraphOps.betweennessCentrality]] round by round:
    * `maxLevels` forward BFS frontiers (σ sums, visited anti-join),
    * then the backward dependency folds with the same per-term
    * floor division. The delta CTEs carry σ so each backward step
    * is one self-contained join. */
  private def betweennessOracleSql(maxLevels: Int = 6): String = {
    val fwd = (1 to maxLevels).map { i =>
      s""",
         |fr$i AS MATERIALIZED (
         |  SELECT f.lm, s.dst AS v, $i AS d, CAST(sum(f.sigma) AS BIGINT) AS sigma
         |  FROM fr${i - 1} f JOIN sym s ON s.src = f.v
         |  LEFT JOIN vis${i - 1} vv ON vv.lm = f.lm AND vv.v = s.dst
         |  WHERE vv.v IS NULL
         |  GROUP BY f.lm, s.dst),
         |vis$i AS MATERIALIZED (SELECT * FROM vis${i - 1}
         |  UNION ALL SELECT lm, v, d, sigma FROM fr$i)""".stripMargin
    }.mkString
    val bwd = ((maxLevels - 1) to 0 by -1).map { lev =>
      s""",
         |c$lev AS MATERIALIZED (
         |  SELECT l.lm, l.v,
         |    CAST(sum((l.sigma * (1000000 + dw.delta)) // dw.sigma) AS BIGINT) AS dsum
         |  FROM vis$maxLevels l JOIN sym s ON s.src = l.v
         |  JOIN del${lev + 1} dw ON dw.lm = l.lm AND dw.v = s.dst AND dw.d = ${lev + 1}
         |  WHERE l.d = $lev
         |  GROUP BY l.lm, l.v),
         |del$lev AS MATERIALIZED (SELECT * FROM del${lev + 1}
         |  UNION ALL
         |  SELECT l.lm, l.v, l.d, l.sigma, CAST(coalesce(c.dsum, 0) AS BIGINT) AS delta
         |  FROM vis$maxLevels l LEFT JOIN c$lev c ON c.lm = l.lm AND c.v = l.v
         |  WHERE l.d = $lev)""".stripMargin
    }.mkString
    s"""WITH $EdgeCte,
       |verts AS (SELECT DISTINCT src AS v FROM sym),
       |lms AS (SELECT v FROM verts ORDER BY v LIMIT 3),
       |fr0 AS MATERIALIZED (SELECT v AS lm, v, 0 AS d, CAST(1 AS BIGINT) AS sigma FROM lms),
       |vis0 AS MATERIALIZED (SELECT * FROM fr0)""".stripMargin +
      fwd +
      s""",
         |del$maxLevels AS MATERIALIZED (SELECT lm, v, d, sigma,
         |  CAST(0 AS BIGINT) AS delta FROM vis$maxLevels WHERE d = $maxLevels)""".stripMargin +
      bwd +
      s"""
         |SELECT v AS vertex, CAST(sum(delta) AS BIGINT) AS bc_e6
         |FROM del0 WHERE v <> lm GROUP BY v ORDER BY vertex""".stripMargin
  }

  /** Shared CTE prefix for the MinHash-family oracles (round 18 —
    * the d_minhash_pairs determinization, VERDICT r17 item 3): word
    * 3-gram shingles (the validated d_crossdoc_ngram tokenization
    * bridge), 60-bit md5-prefix base per shingle, Carter-Wegman
    * h_j(x) = (a_j·x + b_j) mod (2^61−1) permutations with
    * md5-derived constants — exactly [[graft.functions.CatalystText]]
    * `MinHashSig`'s arithmetic, stated in HUGEINT — then 16 bands of
    * 4 as content-equality keys (Spark's xxhash64 band key collides
    * only when band contents are equal, so equality-on-contents IS
    * the same candidate set) and the e4 agreement estimate through
    * the identical double tree (c/64·1e4, exact: /2^6 then ·10^4
    * stays ≤ 17 mantissa bits). `sig`/`cand`/`est` are MATERIALIZED
    * — the chain re-evaluates exponentially if DuckDB inlines it. */
  private def minhashEstCtes: String = "WITH " + minhashCtesBody("documents")

  /** The CTE chain without the WITH, parameterized on the source
    * relation — round 19: d_lsh_quality runs the identical pipeline
    * over a PLANTED-families projection of `documents`, stated as a
    * leading `pdocs` CTE. */
  private def minhashCtesBody(src: String): String =
    s"""toks AS MATERIALIZED (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      |  FROM $src),
      |idx AS (SELECT doc_id, t,
      |    unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS i FROM toks),
      |sh AS MATERIALIZED (SELECT DISTINCT doc_id,
      |    array_to_string(t[i + 1:least(i + 3, len(t))], ' ') AS ng
      |  FROM idx),
      |based AS (SELECT doc_id,
      |    CAST(('0x' || substr(md5(ng), 1, 15)) AS BIGINT) AS x FROM sh),
      |seeds AS MATERIALIZED (SELECT j,
      |    CAST(('0x' || substr(md5('mh:a:' || j), 1, 15)) AS BIGINT)
      |      % 2305843009213693950 + 1 AS aj,
      |    CAST(('0x' || substr(md5('mh:b:' || j), 1, 15)) AS BIGINT)
      |      % 2305843009213693951 AS bj
      |  FROM range(64) r(j)),
      |sig AS MATERIALIZED (SELECT doc_id, j,
      |    min(CAST((CAST(aj AS HUGEINT) * x + bj)
      |      % 2305843009213693951 AS BIGINT)) AS s
      |  FROM based CROSS JOIN seeds GROUP BY 1, 2),
      |band AS (SELECT doc_id, j // 4 AS band,
      |    string_agg(CAST(s AS VARCHAR), ':' ORDER BY j) AS bkey
      |  FROM sig GROUP BY 1, 2),
      |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a,
      |    b.doc_id AS doc_b
      |  FROM band a JOIN band b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      |est AS MATERIALIZED (SELECT c.doc_a, c.doc_b,
      |    CAST(round(sum(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END)
      |      / 64.0 * 10000) AS BIGINT) AS est_jaccard_e4
      |  FROM cand c
      |  JOIN sig sa ON sa.doc_id = c.doc_a
      |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.j = sa.j
      |  GROUP BY 1, 2)""".stripMargin

  /** Shared CTE prefix for the SimHash-family oracles (round 19 —
    * VERDICT r18 task 1, extending the md5-bridge family): the
    * per-token 64-bit base is the first 16 hex chars of md5, stated
    * as two 32-bit BIGINT halves (the full 16-char parse can overflow
    * signed BIGINT); per-(doc, bit) ±1 vote sums mirror
    * [[graft.functions.SimHash64]]'s loop exactly — bit b < 32 from
    * the low half, b ≥ 32 from the high. Downstream both the signed
    * fingerprint (Σ bit_b·2^b − bit_63·2^63, summed in HUGEINT) and
    * the 8×8-bit band keys (per-band bit sums — band-key equality ⇔
    * band CONTENT equality, the round-18 lesson) restate from the
    * same vote table. */
  private def simhashVoteCtes: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
      |h AS MATERIALIZED (SELECT doc_id,
      |    CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) AS hi,
      |    CAST(('0x' || substr(md5(w), 9, 8)) AS BIGINT) AS lo
      |  FROM tok),
      |bits AS (SELECT CAST(j AS BIGINT) AS b FROM range(64) r(j)),
      |votes AS MATERIALIZED (SELECT doc_id, b,
      |    sum(CASE WHEN ((CASE WHEN b < 32 THEN lo >> b
      |                    ELSE hi >> (b - 32) END) & 1) = 1
      |      THEN 1 ELSE -1 END) AS v
      |  FROM h CROSS JOIN bits GROUP BY 1, 2)""".stripMargin

  /** d_embed_dup oracle (round 19): the sign-LSH band keys restated
    * with the SAME md5-derived ±1 hyperplanes
    * ([[graft.functions.VectorFunctions.planeSigns]]), inlined as
    * literal DOUBLE[]s — ±1·float32 terms are exact doubles and both
    * engines sum them sequentially (Spark's aggregate fold ≡ DuckDB's
    * list_dot_product), so every sign bit, band key, candidate pair
    * and the e4 cosine (the CosineSim tree: dot/(√na·√nb)) agree
    * bit-for-bit. One UNION ALL arm per band. */
  private def embedDupOracleSql: String = {
    def plit(b: Int, r: Int): String =
      graft.functions.VectorFunctions.planeSigns(b, r, 64)
        .map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
    val arms = (0 until 8).map { b =>
      s"""SELECT vec_id, v, $b AS band,
         |  CAST(CASE WHEN list_dot_product(v, ${plit(b, 0)}) > 0
         |      THEN 1 ELSE 0 END
         |    + CASE WHEN list_dot_product(v, ${plit(b, 1)}) > 0
         |      THEN 2 ELSE 0 END AS BIGINT) AS key FROM emb""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |banded AS MATERIALIZED ($arms),
       |cand AS MATERIALIZED (SELECT DISTINCT a.vec_id AS vec_a,
       |    b.vec_id AS vec_b
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
       |scored AS (SELECT c.vec_a, c.vec_b,
       |    CAST(round(list_dot_product(ea.v, eb.v)
       |      / (sqrt(list_dot_product(ea.v, ea.v))
       |        * sqrt(list_dot_product(eb.v, eb.v)))
       |      * 10000) AS BIGINT) AS cos_e4
       |  FROM cand c
       |  JOIN emb ea ON ea.vec_id = c.vec_a
       |  JOIN emb eb ON eb.vec_id = c.vec_b)
       |SELECT vec_a, vec_b, cos_e4 FROM scored
       |WHERE cos_e4 >= 4000 ORDER BY vec_a, vec_b""".stripMargin
  }

  /** DuckDB-runnable SQL oracle per query (same aliases, same
    * determinism rules — SURVEY §6). Omitted keys get the driver's
    * weaker rows-only check. */
  def oracleSql: Map[String, String] = Map(
    "d_embed_dup" -> embedDupOracleSql,
    // Blocking-scheme quality report (round 19): the planted-family
    // corpus is a deterministic CASE projection, the candidate
    // pipeline is the proven md5/Carter-Wegman chain over it
    // (minhashCtesBody("pdocs")), truth is the residue-class pair
    // closure, and verification is the exact set-Jaccard through the
    // d_ngram_jaccard double tree. One-row counts + integral e4
    // ratios (null on empty denominators, matching Spark's div).
    "d_lsh_quality" -> {
      val baseA = (1 to 100).map(i => s"alpha$i").mkString(" ")
      val baseB = (1 to 100).map(i => s"beta$i").mkString(" ")
      s"""WITH pdocs AS MATERIALIZED (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 40 = 11 THEN '$baseA' || ' u' || doc_id
         |         WHEN doc_id % 40 = 17 THEN '$baseB' || ' u' || doc_id
         |         ELSE text END AS text
         |  FROM documents),
         |${minhashCtesBody("pdocs")},
         |fam AS (SELECT doc_id, doc_id % 40 AS fam FROM documents
         |  WHERE doc_id % 40 IN (11, 17)),
         |truth AS MATERIALIZED (SELECT a.doc_id AS src, b.doc_id AS dst
         |  FROM fam a JOIN fam b ON a.fam = b.fam AND a.doc_id < b.doc_id),
         |candf AS MATERIALIZED (SELECT doc_a, doc_b FROM est
         |  WHERE est_jaccard_e4 >= 5000),
         |nsz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS ni
         |  FROM candf c
         |  JOIN sh a ON a.doc_id = c.doc_a
         |  JOIN sh b ON b.doc_id = c.doc_b AND b.ng = a.ng
         |  GROUP BY 1, 2),
         |ver AS (SELECT c.doc_a, c.doc_b
         |  FROM candf c
         |  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |  JOIN nsz na ON na.doc_id = c.doc_a
         |  JOIN nsz nb ON nb.doc_id = c.doc_b
         |  WHERE CAST(round(CAST(coalesce(i.ni, 0) AS DOUBLE)
         |    / CAST(na.n + nb.n - coalesce(i.ni, 0) AS DOUBLE)
         |    * 10000) AS BIGINT) >= 5000),
         |cnt AS (SELECT
         |    (SELECT count(*) FROM truth) AS n_truth,
         |    (SELECT count(*) FROM candf) AS n_candidates,
         |    (SELECT count(*) FROM candf c JOIN truth t
         |       ON t.src = c.doc_a AND t.dst = c.doc_b) AS n_hits,
         |    (SELECT count(*) FROM ver) AS n_verified)
         |SELECT CAST(n_truth AS BIGINT) AS n_truth,
         |  CAST(n_candidates AS BIGINT) AS n_candidates,
         |  CAST(n_hits AS BIGINT) AS n_hits,
         |  CAST(n_verified AS BIGINT) AS n_verified,
         |  CAST((10000 * n_hits) // nullif(n_truth, 0) AS BIGINT)
         |    AS recall_e4,
         |  CAST((10000 * n_verified) // nullif(n_candidates, 0) AS BIGINT)
         |    AS precision_e4
         |FROM cnt""".stripMargin
    },
    // SimHash fingerprints (round 19): vote signs reassembled into
    // the signed 64-bit value; bit 63 contributes −2^63 in HUGEINT
    // before the BIGINT cast.
    "d_simhash" -> (simhashVoteCtes +
      """
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN v > 0 AND b < 63 THEN (CAST(1 AS BIGINT) << b)
        |      WHEN v > 0 AND b = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
        |      ELSE 0 END) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // Banded SimHash pairs: 8 bands of 8 bits as per-band bit sums
    // (content equality), Hamming recomputed from vote signs — the
    // pigeonhole candidate set and the ≤7 filter are both under the
    // hash compare.
    "d_simhash_pairs" -> (simhashVoteCtes +
      """,
        |bandk AS MATERIALIZED (SELECT doc_id, b // 8 AS band,
        |    CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << (b % 8))
        |      ELSE 0 END) AS BIGINT) AS key
        |  FROM votes GROUP BY 1, 2),
        |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a,
        |    b.doc_id AS doc_b
        |  FROM bandk a JOIN bandk b
        |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |ham AS (SELECT c.doc_a, c.doc_b,
        |    CAST(sum(CASE WHEN (va.v > 0) <> (vb.v > 0) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS hamming
        |  FROM cand c
        |  JOIN votes va ON va.doc_id = c.doc_a
        |  JOIN votes vb ON vb.doc_id = c.doc_b AND vb.b = va.b
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, hamming FROM ham
        |WHERE hamming <= 7 ORDER BY doc_a, doc_b""".stripMargin),
    // Rolling polynomial fingerprint (round 19): ascending powers
    // make each position's term independent, so the fold restates as
    // an order-free sum of exact residues — code points via
    // unicode(), B^i mod P from a recursive doubling chain (UNION ALL
    // with a true self-reference; the one legitimate WITH RECURSIVE
    // in the oracle set).
    "t_fingerprint" ->
      """WITH RECURSIVE pows AS (
        |  SELECT 0 AS i, CAST(1 AS HUGEINT) AS pw
        |  UNION ALL
        |  SELECT i + 1, (pw * 257) % 2305843009213693951 FROM pows
        |  WHERE i < (SELECT max(length(text)) FROM documents)),
        |cp AS MATERIALIZED (SELECT doc_id,
        |    CAST(i AS BIGINT) - 1 AS pos,
        |    unicode(substr(text, CAST(i AS INTEGER), 1)) AS c
        |  FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
        |        FROM documents)),
        |fp AS (SELECT c.doc_id,
        |    CAST(sum(CAST(c.c AS HUGEINT) * p.pw)
        |      % 2305843009213693951 AS BIGINT) AS f
        |  FROM cp c JOIN pows p ON p.i = c.pos GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(f.f, 0) AS BIGINT) AS fingerprint
        |FROM documents d LEFT JOIN fp f ON f.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // Winnowing pairs (round 19): bridged k-gram hashes, the w=4
    // window minimum as the IDENTICAL rows-window (current..3
    // following over pos — unique within doc, array index), full
    // windows only, shared-print counts ≥ 8.
    "d_winnow" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |idx AS (SELECT doc_id, t,
        |    unnest(range(0, greatest(len(t) - 3, 0) + 1)) AS i FROM toks),
        |pos AS MATERIALIZED (SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    CAST(('0x' || substr(md5(
        |      array_to_string(t[i + 1:least(i + 3, len(t))], ' ')), 1, 15))
        |      AS BIGINT) AS h
        |  FROM idx),
        |win AS (SELECT doc_id, pos,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        |    count(*) OVER (PARTITION BY doc_id) AS nh
        |  FROM pos),
        |prints AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, wmin AS print FROM win WHERE pos <= nh - 4),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS BIGINT) AS shared_prints
        |  FROM prints a JOIN prints b
        |    ON a.print = b.print AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, shared_prints FROM pairs
        |WHERE shared_prints >= 8 ORDER BY doc_a, doc_b""".stripMargin,
    // MinHash banded pairs, est ≥ 0.5 — full pipeline under the
    // oracle since the round-18 md5/Carter-Wegman hash family.
    "d_minhash_pairs" -> (minhashEstCtes +
      """
        |SELECT doc_a, doc_b, est_jaccard_e4 FROM est
        |WHERE est_jaccard_e4 >= 5000
        |ORDER BY doc_a, doc_b""".stripMargin),
    // The persisted-signature variant emits the same rows by
    // construction — same oracle.
    "d_sig_persist" -> (minhashEstCtes +
      """
        |SELECT doc_a, doc_b, est_jaccard_e4 FROM est
        |WHERE est_jaccard_e4 >= 5000
        |ORDER BY doc_a, doc_b""".stripMargin),
    // Exact shingle Jaccard over the SAME banded candidates —
    // intersection via the shingle equi-join, union by
    // inclusion-exclusion (sh is DISTINCT per doc), the e4 ratio
    // through the identical (inter/union)·1e4 double tree.
    "d_ngram_jaccard" -> (minhashEstCtes +
      """,
        |nsz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS ni
        |  FROM cand c
        |  JOIN sh a ON a.doc_id = c.doc_a
        |  JOIN sh b ON b.doc_id = c.doc_b AND b.ng = a.ng
        |  GROUP BY 1, 2),
        |jac AS (SELECT c.doc_a, c.doc_b,
        |    CAST(round(CAST(coalesce(i.ni, 0) AS DOUBLE)
        |      / CAST(na.n + nb.n - coalesce(i.ni, 0) AS DOUBLE)
        |      * 10000) AS BIGINT) AS jaccard_e4
        |  FROM cand c
        |  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
        |  JOIN nsz na ON na.doc_id = c.doc_a
        |  JOIN nsz nb ON nb.doc_id = c.doc_b)
        |SELECT doc_a, doc_b, jaccard_e4 FROM jac
        |WHERE jaccard_e4 >= 3000
        |ORDER BY doc_a, doc_b""".stripMargin),
    // Threshold operating curve over the UNFILTERED candidate
    // estimates: n_pairs_ge(t) = candidates with est ≥ t on the
    // fixed 21-point grid (Spark's bucketed `b·500 ≥ thr` condition
    // ≡ est ≥ thr for thr multiples of 500 and truncating div).
    "d_threshold_sweep" -> (minhashEstCtes +
      """,
        |grid AS (SELECT 500 * CAST(j AS BIGINT) AS thr_e4
        |  FROM range(21) g(j))
        |SELECT g.thr_e4,
        |  CAST(count(CASE WHEN e.est_jaccard_e4 >= g.thr_e4 THEN 1 END)
        |    AS BIGINT) AS n_pairs_ge
        |FROM grid g LEFT JOIN est e ON true
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    "p_span_dedup" -> spanDedupOracleSql(),
    "g_hits" -> hitsOracleSql(),
    "g_betweenness" -> betweennessOracleSql(),
    "g_lpa" -> lpaOracleSql(),
    "g_modularity_of" -> modularityOfOracleSql(4),
    // Integer sufficient statistics + integral divide — no float path,
    // so the e6 conductance is bit-identical across engines.
    "g_conductance" ->
      s"""WITH $EdgeCte,
         |v AS (SELECT DISTINCT vertex FROM
         |  (SELECT src AS vertex FROM e UNION ALL SELECT dst FROM e)),
         |lab AS (SELECT vertex, vertex % 8 AS label FROM v),
         |led AS (SELECT e.w, la.label AS ca, lb.label AS cb
         |  FROM e JOIN lab la ON la.vertex = e.src
         |         JOIN lab lb ON lb.vertex = e.dst),
         |vol AS (SELECT label, CAST(sum(w) AS BIGINT) AS vol_w FROM
         |  (SELECT ca AS label, w FROM led
         |   UNION ALL SELECT cb, w FROM led) GROUP BY 1),
         |cut AS (SELECT label, CAST(sum(w) AS BIGINT) AS cut_w FROM
         |  (SELECT ca AS label, w FROM led WHERE ca <> cb
         |   UNION ALL SELECT cb, w FROM led WHERE ca <> cb) GROUP BY 1),
         |tot AS (SELECT 2 * CAST(sum(w) AS BIGINT) AS vol2m FROM e)
         |SELECT label, vol_w, coalesce(cut_w, 0) AS cut_w,
         |  (1000000 * coalesce(cut_w, 0))
         |    // nullif(least(vol_w, vol2m - vol_w), 0) AS phi_e6
         |FROM vol LEFT JOIN cut USING (label) CROSS JOIN tot
         |ORDER BY label""".stripMargin,
    "g_kcore" -> kcoreOracleSql(),
    "g_coreness" -> corenessOracleSql(12),
    "g_ktruss" -> ktrussOracleSql(),
    "g_walks" -> walksOracleSql(),
    "g_walk_pmi" -> walkPmiOracleSql(),
    "g_densest" -> densestOracleSql(),
    "q_holt_forecast" -> holtOracleSql(),
    "q_holt_winters" -> holtWintersOracleSql(),
    "g_spectral_cut" -> spectralOracleSql(),
    // Identical two-way degree join over the strong-tie sym stream.
    "g_neighbor_agg" ->
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |ew AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
        |    CAST(count(*) AS DOUBLE) AS weight
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |thr AS (SELECT quantile_cont(weight, 0.5) * 1.25 AS t FROM ew),
        |e AS (SELECT src, dst FROM ew, thr WHERE weight >= t),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |deg AS (SELECT src AS vertex, CAST(count(*) AS BIGINT) AS degree
        |  FROM sym GROUP BY 1)
        |SELECT s.src AS vertex, CAST(max(od.degree) AS BIGINT) AS degree,
        |  CAST(max(nd.degree) AS BIGINT) AS max_nbr_degree,
        |  CAST(sum(CASE WHEN nd.degree > od.degree THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_stronger
        |FROM sym s JOIN deg od ON od.vertex = s.src
        |  JOIN deg nd ON nd.vertex = s.dst
        |GROUP BY s.src ORDER BY vertex""".stripMargin,
    "g_node2vec" -> node2vecOracleSql(),
    "g_pagerank_det" -> pagerankDetOracleSql(),
    "g_eigencentrality" -> eigenOracleSql(),
    "g_katz" -> katzOracleSql(),
    // Same hand-off chain CTE as g_scc; reciprocity is one self-join
    // on the distinct directed edge set + exact e6 ratio.
    "g_reciprocity" ->
      """WITH os AS (SELECT l_orderkey, l_suppkey,
        |    CAST(sum(l_quantity) AS BIGINT) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |ch AS (SELECT l_suppkey AS src, lead(l_suppkey) OVER
        |    (PARTITION BY l_orderkey ORDER BY q, l_suppkey) AS dst FROM os),
        |e AS (SELECT DISTINCT src, dst FROM ch
        |  WHERE dst IS NOT NULL AND src <> dst),
        |t AS (SELECT count(*) AS n_edges FROM e),
        |r AS (SELECT count(*) AS n_recip
        |  FROM e a JOIN e b ON b.src = a.dst AND b.dst = a.src)
        |SELECT CAST(n_edges AS BIGINT) AS n_edges,
        |  CAST(n_recip AS BIGINT) AS n_recip,
        |  CAST(n_recip * 1000000 // n_edges AS BIGINT) AS recip_e6
        |FROM t, r""".stripMargin,
    // Shared-supplier co-purchase pairs; unique (shared DESC, c1, c2)
    // order both sides.
    // Recurrent (≥2 distinct orders) ties only — the scale cut; the
    // projection itself keeps every pair (minShared=1) under the
    // unique (shared DESC, c1, c2) top-100 order.
    "g_bipartite_proj" ->
      """WITH t AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s,
        |    o.o_orderkey AS ok
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |e AS (SELECT c, s FROM t GROUP BY c, s HAVING count(*) >= 2),
        |p AS (SELECT a.c AS c1, b.c AS c2, count(*) AS shared
        |  FROM e a JOIN e b ON a.s = b.s AND a.c < b.c
        |  GROUP BY 1, 2)
        |SELECT c1, c2, CAST(shared AS BIGINT) AS shared
        |FROM p WHERE shared >= 1
        |ORDER BY shared DESC, c1, c2 LIMIT 100""".stripMargin,
    "g_ppr" -> pprOracleSql(),
    // Adamic–Adar over the strong-tie subgraph: wedge join + anti-join
    // against existing edges; per-common-neighbor 1/ln(deg) terms are
    // e4-rounded before the integer sum (SURVEY §6).
    "g_adamic_adar" ->
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
        |    CAST(count(*) AS DOUBLE) AS weight
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |thr AS (SELECT quantile_cont(weight, 0.5) * 1.25 AS t FROM e),
        |st AS MATERIALIZED (SELECT src, dst FROM e, thr WHERE weight >= t),
        |sym AS MATERIALIZED (SELECT src, dst FROM st UNION ALL SELECT dst, src FROM st),
        |deg AS MATERIALIZED (SELECT src AS v, count(*) AS deg FROM sym GROUP BY 1),
        |cand AS (SELECT s1.src AS a, s2.dst AS b, s1.dst AS w
        |  FROM sym s1 JOIN sym s2 ON s2.src = s1.dst AND s1.src < s2.dst),
        |ne AS (SELECT c.a, c.b, c.w FROM cand c
        |  LEFT JOIN st ON st.src = c.a AND st.dst = c.b
        |  WHERE st.src IS NULL),
        |t AS (SELECT a, b, CAST(round(10000.0 / ln(d.deg)) AS BIGINT) AS term
        |  FROM ne JOIN deg d ON d.v = ne.w)
        |SELECT a, b, count(*) AS common, CAST(sum(term) AS BIGINT) AS aa_e4
        |FROM t GROUP BY a, b
        |ORDER BY aa_e4 DESC, a, b LIMIT 100""".stripMargin,
    // Resource allocation: identical wedge/anti-join tree to
    // g_adamic_adar with the 1/deg term (no ln).
    "g_resource_alloc" ->
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
        |    CAST(count(*) AS DOUBLE) AS weight
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |thr AS (SELECT quantile_cont(weight, 0.5) * 1.25 AS t FROM e),
        |st AS MATERIALIZED (SELECT src, dst FROM e, thr WHERE weight >= t),
        |sym AS MATERIALIZED (SELECT src, dst FROM st UNION ALL SELECT dst, src FROM st),
        |deg AS MATERIALIZED (SELECT src AS v, count(*) AS deg FROM sym GROUP BY 1),
        |cand AS (SELECT s1.src AS a, s2.dst AS b, s1.dst AS w
        |  FROM sym s1 JOIN sym s2 ON s2.src = s1.dst AND s1.src < s2.dst),
        |ne AS (SELECT c.a, c.b, c.w FROM cand c
        |  LEFT JOIN st ON st.src = c.a AND st.dst = c.b
        |  WHERE st.src IS NULL),
        |t AS (SELECT a, b, CAST(round(10000.0 / d.deg) AS BIGINT) AS term
        |  FROM ne JOIN deg d ON d.v = ne.w)
        |SELECT a, b, count(*) AS common, CAST(sum(term) AS BIGINT) AS ra_e4
        |FROM t GROUP BY a, b
        |ORDER BY ra_e4 DESC, a, b LIMIT 100""".stripMargin,
    // 4-cycle census via the diagonal identity C4 = Σ c·(c−1)/4 over
    // pair codegrees on the strong-tie subgraph — exact integers end
    // to end, so the wedge-join oracle states the same scalar.
    "g_squares" ->
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
        |    CAST(count(*) AS DOUBLE) AS weight
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |thr AS (SELECT quantile_cont(weight, 0.5) * 1.25 AS t FROM e),
        |st AS MATERIALIZED (SELECT src, dst FROM e, thr WHERE weight >= t),
        |sym AS MATERIALIZED (SELECT src, dst FROM st UNION ALL SELECT dst, src FROM st),
        |cw AS (SELECT s1.src AS a, s2.dst AS b, count(*) AS c
        |  FROM sym s1 JOIN sym s2 ON s2.src = s1.dst AND s1.src < s2.dst
        |  GROUP BY 1, 2)
        |SELECT CAST(coalesce(sum(c * (c - 1)), 0) // 4 AS BIGINT) AS n_squares
        |FROM cw""".stripMargin,
    // Banded interval join ≡ the plain range join (the oracle is the
    // semantics; the banding is the plan).
    "q_interval_join" ->
      """SELECT p.event_id AS p_id, v.event_id AS view_id, p.user_id AS user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id
        |  AND CAST(floor(epoch(v.ts)) AS BIGINT) <= CAST(floor(epoch(p.ts)) AS BIGINT)
        |  AND CAST(floor(epoch(v.ts)) AS BIGINT)
        |      >= CAST(floor(epoch(p.ts)) AS BIGINT) - 1800
        |ORDER BY p_id, view_id""".stripMargin,
    "q_date_spine" ->
      """WITH b AS (SELECT date_trunc('month', min(o_orderdate)) AS mn,
        |    date_trunc('month', max(o_orderdate)) AS mx FROM orders),
        |m AS (SELECT unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS mo FROM b),
        |s AS (SELECT DISTINCT c_mktsegment FROM customer),
        |c AS (SELECT c_mktsegment, date_trunc('month', o_orderdate) AS mo,
        |    count(*) AS cnt
        |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2)
        |SELECT s.c_mktsegment AS c_mktsegment,
        |  CAST(year(m.mo) AS INT) AS o_year, CAST(month(m.mo) AS INT) AS o_month,
        |  CAST(coalesce(c.cnt, 0) AS BIGINT) AS n
        |FROM m CROSS JOIN s
        |LEFT JOIN c ON c.c_mktsegment = s.c_mktsegment AND c.mo = m.mo
        |ORDER BY 1, 2, 3""".stripMargin,
    "q_json_props" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // The VARIANT path states the same closed form — the fixed-schema
    // and schema-free extractions are mutually checking.
    "q_variant_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_time_weighted" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS v2 FROM events),
        |l AS (SELECT user_id, ts_us, v2,
        |    lead(ts_us) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS next_us
        |  FROM e),
        |a AS (SELECT user_id, count(*) AS n_events,
        |    min(ts_us) AS t0, max(ts_us) AS t1,
        |    CAST(sum(CASE WHEN next_us IS NOT NULL
        |      THEN v2 * (next_us - ts_us) END) AS BIGINT) AS wsum
        |  FROM l GROUP BY 1)
        |SELECT user_id, n_events, t1 - t0 AS span_us,
        |  wsum // (t1 - t0) AS twa_e2
        |FROM a WHERE t1 > t0
        |ORDER BY user_id""".stripMargin,
    "p_split" ->
      """SELECT source,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split:42'), 1, 8)
        |      < 'f5c28f5c' THEN 'train'
        |    WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split:42'), 1, 8)
        |      < 'fae147ae' THEN 'val'
        |    ELSE 'test' END AS split,
        |  count(*) AS n_docs
        |FROM documents
        |GROUP BY 1, 2
        |ORDER BY source, split""".stripMargin,
    // Same md5 total order (unique doc_id tiebreak) and the same
    // every-100th probe of the shuffled positions.
    "p_shuffle" ->
      """WITH s AS (SELECT doc_id,
        |    md5(CAST(doc_id AS VARCHAR) || ':epoch0') AS skey
        |  FROM documents),
        |r AS (SELECT doc_id, skey,
        |    row_number() OVER (ORDER BY skey, doc_id) AS rank FROM s)
        |SELECT rank, doc_id, skey FROM r
        |WHERE (rank - 1) % 100 = 0 ORDER BY rank""".stripMargin,
    "q_event_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_ns(ts) // 1000 AS us FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |t1 AS (SELECT user_id, min(us) AS t1_us FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(us) AS t2_us FROM e JOIN t1 USING (user_id)
        |  WHERE event_type = 'click' AND us > t1_us GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(us) AS t3_us FROM e JOIN t2 USING (user_id)
        |  WHERE event_type = 'purchase' AND us > t2_us GROUP BY 1)
        |SELECT user_id, t1_us, t2_us, t3_us,
        |  CAST(CASE WHEN t3_us IS NOT NULL THEN 3
        |    WHEN t2_us IS NOT NULL THEN 2
        |    WHEN t1_us IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS depth
        |FROM u LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
        |  LEFT JOIN t3 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "q_retention_cohort" ->
      """WITH m AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, min(day) AS c0 FROM m GROUP BY 1)
        |SELECT c0 AS cohort_day, CAST(day - c0 AS BIGINT) AS offset_d,
        |  count(*) AS n_users
        |FROM m JOIN c USING (user_id)
        |GROUP BY 1, 2
        |ORDER BY cohort_day, offset_d""".stripMargin,
    "q_gap_islands" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |g AS (SELECT user_id, day,
        |    date_diff('day', DATE '1970-01-01', day)
        |      - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM days),
        |islands AS (SELECT user_id, grp, count(*) AS len,
        |    max(day) AS island_end
        |  FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |  count(*) AS n_islands,
        |  CAST(max(len) AS BIGINT) AS longest_streak,
        |  CAST(max_by(len, island_end) AS BIGINT) AS latest_streak
        |FROM islands GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q_rows_window" ->
      """WITH c AS (SELECT o_custkey, o_orderkey, o_orderdate,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_custkey, o_orderkey,
        |  CAST(sum(cents) OVER w AS BIGINT) AS trail3_cents,
        |  CAST(count(*) OVER w AS BIGINT) AS n_frame
        |FROM c
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    // Same shingle construction as t_top_bigrams (short docs yield one
    // whole-text shingle).
    "t_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |idx AS (
        |  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1) + 1)) AS i FROM toks),
        |occ AS (SELECT doc_id, CASE WHEN i + 1 <= len(t) THEN t[i] || ' ' || t[i + 1]
        |    ELSE t[i] END AS bigram FROM idx),
        |c AS (SELECT doc_id, bigram, count(*) AS c FROM occ GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |    CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
        |    CAST(max(c) AS BIGINT) AS top_c
        |  FROM c GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, n_distinct_bigrams,
        |  CAST(round((n_bigrams - n_distinct_bigrams) * 10000.0 / n_bigrams) AS BIGINT)
        |    AS dup_bigram_ratio_e4,
        |  CAST(round(top_c * 10000.0 / n_bigrams) AS BIGINT) AS top_bigram_frac_e4
        |FROM d ORDER BY doc_id""".stripMargin,
    "g_edges" ->
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
        |SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
        |  CAST(count(*) AS DOUBLE) AS weight
        |FROM os a JOIN os b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |GROUP BY 1, 2
        |ORDER BY src, dst""".stripMargin,
    "g_degree" ->
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
        |    CAST(count(*) AS DOUBLE) AS weight
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |ends AS (SELECT src AS vertex, weight FROM e
        |  UNION ALL SELECT dst AS vertex, weight FROM e)
        |SELECT vertex, count(*) AS degree, round(sum(weight), 2) AS wdegree
        |FROM ends GROUP BY vertex ORDER BY vertex""".stripMargin,
    // Same oracle as g_degree: the TSV write → EdgeListSource read →
    // canonicalize round-trip must be value-identical to computing
    // degrees on the in-memory edge build.
    "g_from_file" ->
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
        |    CAST(count(*) AS DOUBLE) AS weight
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |ends AS (SELECT src AS vertex, weight FROM e
        |  UNION ALL SELECT dst AS vertex, weight FROM e)
        |SELECT vertex, count(*) AS degree, round(sum(weight), 2) AS wdegree
        |FROM ends GROUP BY vertex ORDER BY vertex""".stripMargin,
    // Connected components against a DuckDB recursive reachability
    // CTE: component = min reachable vertex id — exactly GraphX's
    // fixpoint labeling. Pure integer computation, no float drift.
    // SCC is algorithm-independent: the oracle states the DEFINITION
    // (mutual reachability via a transitive-closure CTE, label = min
    // member), not the engine's coloring rounds. The closure is
    // bounded by the supplier count squared — oracle-side only; the
    // engine never materializes it.
    "g_scc" ->
      """WITH RECURSIVE
        |os AS (SELECT l_orderkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |ch AS (SELECT l_suppkey AS src, lead(l_suppkey) OVER
        |    (PARTITION BY l_orderkey ORDER BY q, l_suppkey) AS dst FROM os),
        |e AS (SELECT DISTINCT src, dst FROM ch
        |  WHERE dst IS NOT NULL AND src <> dst),
        |v AS (SELECT src AS vertex FROM e UNION SELECT dst FROM e),
        |reach(a, b) AS (
        |  SELECT vertex, vertex FROM v
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b),
        |scc AS (SELECT r1.a AS vertex, min(r1.b) AS scc_id
        |  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
        |  GROUP BY r1.a)
        |SELECT vertex, scc_id FROM scc ORDER BY vertex""".stripMargin,
    // Triad census: wedge join closed against the distinct edge set;
    // cycles canonicalized to their smallest-vertex rotation so each
    // cyclic triangle counts once. Same chain-edge CTE as g_scc.
    "g_triads" ->
      """WITH os AS (SELECT l_orderkey, l_suppkey,
        |    CAST(sum(l_quantity) AS BIGINT) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |ch AS (SELECT l_suppkey AS src, lead(l_suppkey) OVER
        |    (PARTITION BY l_orderkey ORDER BY q, l_suppkey) AS dst FROM os),
        |e AS (SELECT DISTINCT src, dst FROM ch
        |  WHERE dst IS NOT NULL AND src <> dst),
        |w AS (SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
        |  FROM e ab JOIN e bc ON bc.src = ab.dst
        |  WHERE ab.src <> bc.dst),
        |ff AS (SELECT count(*) AS n FROM w
        |  JOIN e ac ON ac.src = w.a AND ac.dst = w.c),
        |cyc AS (SELECT count(*) AS n FROM w
        |  JOIN e ca ON ca.src = w.c AND ca.dst = w.a
        |  WHERE w.a < w.b AND w.a < w.c)
        |SELECT CAST(ff.n AS BIGINT) AS n_ffl, CAST(cyc.n AS BIGINT) AS n_cycle
        |FROM ff, cyc""".stripMargin,
    // Motif DSL: closed vs open directed wedges over the RECURRENT
    // (≥2 orders) chain-edge CTE; the open count is the wedge set
    // minus the closing edge (LEFT JOIN ... IS NULL = the DSL's
    // anti-join term).
    "g_motif" ->
      """WITH os AS (SELECT l_orderkey, l_suppkey,
        |    CAST(sum(l_quantity) AS BIGINT) AS q
        |  FROM lineitem GROUP BY 1, 2),
        |ch AS (SELECT l_suppkey AS src, lead(l_suppkey) OVER
        |    (PARTITION BY l_orderkey ORDER BY q, l_suppkey) AS dst FROM os),
        |e AS (SELECT src, dst FROM ch
        |  WHERE dst IS NOT NULL AND src <> dst
        |  GROUP BY src, dst HAVING count(*) >= 2),
        |w AS (SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
        |  FROM e ab JOIN e bc ON bc.src = ab.dst
        |  WHERE ab.src <> bc.dst),
        |ff AS (SELECT count(*) AS n FROM w
        |  JOIN e ac ON ac.src = w.a AND ac.dst = w.c),
        |op AS (SELECT count(*) AS n FROM w
        |  LEFT JOIN e ac ON ac.src = w.a AND ac.dst = w.c
        |  WHERE ac.src IS NULL)
        |SELECT CAST(ff.n AS BIGINT) AS n_ffl, CAST(op.n AS BIGINT) AS n_open_wedge
        |FROM ff, op""".stripMargin,
    "g_cc" ->
      """WITH RECURSIVE os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |verts AS (SELECT DISTINCT src AS v FROM sym),
        |reach(v, u) AS (
        |  SELECT v, v FROM verts
        |  UNION
        |  SELECT r.v, s.dst FROM reach r JOIN sym s ON s.src = r.u)
        |SELECT v AS vertex, CAST(min(u) AS BIGINT) AS component
        |FROM reach GROUP BY v ORDER BY vertex""".stripMargin,
    // Same oracle for the DataFrame-native large-star/small-star CC:
    // both must produce the min-id labeling.
    "g_cc_df" ->
      """WITH RECURSIVE os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |verts AS (SELECT DISTINCT src AS v FROM sym),
        |reach(v, u) AS (
        |  SELECT v, v FROM verts
        |  UNION
        |  SELECT r.v, s.dst FROM reach r JOIN sym s ON s.src = r.u)
        |SELECT v AS vertex, CAST(min(u) AS BIGINT) AS component
        |FROM reach GROUP BY v ORDER BY vertex""".stripMargin,
    // Landmark BFS as a depth-bounded recursive CTE: hops = min depth
    // at which the vertex appears in the landmark's frontier. The
    // d < 30 bound only caps the recursion (diameters here are tiny);
    // UNION-distinct dedups (lm, v, d) tuples so the row count stays
    // |V|·|lms|·bound at worst.
    "g_sssp" ->
      """WITH RECURSIVE os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |verts AS (SELECT DISTINCT src AS v FROM sym),
        |lms AS (SELECT v FROM verts ORDER BY v LIMIT 3),
        |bfs(lm, v, d) AS (
        |  SELECT v, v, 0 FROM lms
        |  UNION
        |  SELECT b.lm, s.dst, b.d + 1 FROM bfs b
        |  JOIN sym s ON s.src = b.v WHERE b.d < 30)
        |SELECT v AS vertex, CAST(lm AS BIGINT) AS landmark,
        |  CAST(min(d) AS BIGINT) AS hops
        |FROM bfs GROUP BY 1, 2 ORDER BY vertex, landmark""".stripMargin,
    "g_sssp_w" -> ssspWOracleSql(),
    "g_mst_weight" -> mstWeightOracleSql(),
    // Exact landmark harmonic: the g_closeness BFS CTE widened to a
    // 10-landmark set, ranked by the per-term-floored harmonic sum
    // (unique under the (harmonic_e4 DESC, vertex) order).
    "g_harmonic_det" ->
      """WITH RECURSIVE os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |verts AS (SELECT DISTINCT src AS v FROM sym),
        |lms AS (SELECT v FROM verts ORDER BY v LIMIT 10),
        |bfs(lm, v, d) AS (
        |  SELECT v, v, 0 FROM lms
        |  UNION
        |  SELECT b.lm, s.dst, b.d + 1 FROM bfs b
        |  JOIN sym s ON s.src = b.v WHERE b.d < 30),
        |sp AS (SELECT lm, v, min(d) AS hops FROM bfs GROUP BY 1, 2)
        |SELECT v AS vertex, count(*) AS reached,
        |  CAST(sum(10000 // hops) AS BIGINT) AS harmonic_e4
        |FROM sp WHERE v <> lm GROUP BY 1
        |ORDER BY harmonic_e4 DESC, vertex LIMIT 100""".stripMargin,
    // Landmark eccentricity / diameter lower bound: the g_sssp BFS
    // CTE folded per landmark (min-depth per pair first, then max).
    "g_diameter" ->
      """WITH RECURSIVE os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |verts AS (SELECT DISTINCT src AS v FROM sym),
        |lms AS (SELECT v FROM verts ORDER BY v LIMIT 3),
        |bfs(lm, v, d) AS (
        |  SELECT v, v, 0 FROM lms
        |  UNION
        |  SELECT b.lm, s.dst, b.d + 1 FROM bfs b
        |  JOIN sym s ON s.src = b.v WHERE b.d < 30),
        |h AS (SELECT lm, v, min(d) AS hops FROM bfs GROUP BY 1, 2),
        |agg AS (SELECT CAST(lm AS BIGINT) AS landmark,
        |    CAST(count(*) AS BIGINT) AS n_reached,
        |    CAST(max(hops) AS BIGINT) AS ecc
        |  FROM h GROUP BY 1),
        |dm AS (SELECT max(ecc) AS diam_lb FROM agg)
        |SELECT landmark, n_reached, ecc, diam_lb FROM agg, dm
        |ORDER BY landmark""".stripMargin,
    // Same BFS CTE; truncating e4 mean over reached others, 90th-pct
    // effective diameter by ordered selection (ties collapse to the
    // same hop VALUE under any tie order).
    "g_avg_path" ->
      """WITH RECURSIVE os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |verts AS (SELECT DISTINCT src AS v FROM sym),
        |lms AS (SELECT v FROM verts ORDER BY v LIMIT 3),
        |bfs(lm, v, d) AS (
        |  SELECT v, v, 0 FROM lms
        |  UNION
        |  SELECT b.lm, s.dst, b.d + 1 FROM bfs b
        |  JOIN sym s ON s.src = b.v WHERE b.d < 30),
        |h AS (SELECT lm, v, min(d) AS hops FROM bfs GROUP BY 1, 2),
        |nz AS (SELECT lm, v, hops FROM h WHERE hops > 0),
        |agg AS (SELECT CAST(lm AS BIGINT) AS landmark,
        |    CAST(count(*) AS BIGINT) AS n_reached,
        |    CAST(sum(hops) * 10000 // count(*) AS BIGINT) AS mean_hops_e4
        |  FROM nz GROUP BY 1),
        |r AS (SELECT lm, hops,
        |    row_number() OVER (PARTITION BY lm ORDER BY hops, v) AS rk
        |  FROM nz),
        |eff AS (SELECT CAST(r.lm AS BIGINT) AS landmark,
        |    CAST(max(hops) AS BIGINT) AS eff_diam
        |  FROM r JOIN agg ON CAST(r.lm AS BIGINT) = agg.landmark
        |  WHERE rk = CAST(ceil(0.9 * n_reached) AS BIGINT) GROUP BY 1)
        |SELECT agg.landmark, n_reached, mean_hops_e4, eff_diam
        |FROM agg JOIN eff ON agg.landmark = eff.landmark
        |ORDER BY agg.landmark""".stripMargin,
    // Landmark closeness: the g_sssp BFS CTE aggregated per vertex.
    // harmonic_e4 floors 1e4/hops PER TERM (DuckDB `//` = Spark
    // `div`) before summing — integers both sides, reduction-order
    // free. Landmark-self rows (hops = 0) are excluded like the
    // Spark filter.
    "g_closeness" ->
      """WITH RECURSIVE os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |verts AS (SELECT DISTINCT src AS v FROM sym),
        |lms AS (SELECT v FROM verts ORDER BY v LIMIT 3),
        |bfs(lm, v, d) AS (
        |  SELECT v, v, 0 FROM lms
        |  UNION
        |  SELECT b.lm, s.dst, b.d + 1 FROM bfs b
        |  JOIN sym s ON s.src = b.v WHERE b.d < 30),
        |sp AS (SELECT lm, v, min(d) AS hops FROM bfs GROUP BY 1, 2)
        |SELECT v AS vertex, count(*) AS reached,
        |  CAST(sum(hops) AS BIGINT) AS total_hops,
        |  CAST(max(hops) AS BIGINT) AS ecc_lb,
        |  CAST(sum(10000 // hops) AS BIGINT) AS harmonic_e4
        |FROM sp WHERE v <> lm GROUP BY 1 ORDER BY vertex""".stripMargin,
    // Neighborhood Jaccard on the strong-tie subgraph. The threshold
    // replicates GraphOps.strongTies: Spark side uses
    // approx_percentile (bounded-memory GK sketch) whose returned
    // value equals the exact median here — integer co-occurrence
    // weights have per-value multiplicity far above the sketch's
    // N/10000 rank error, and quantile_cont's interpolation lands on
    // the same integer level — so exact quantile_cont × 1.25 states
    // the same threshold. Zero-common edges are preserved via the
    // LEFT JOIN.
    "g_jaccard" ->
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
        |    CAST(count(*) AS DOUBLE) AS weight
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |thr AS (SELECT quantile_cont(weight, 0.5) * 1.25 AS t FROM e),
        |st AS (SELECT src, dst FROM e, thr WHERE weight >= t),
        |sym AS (SELECT src, dst FROM st UNION ALL SELECT dst, src FROM st),
        |deg AS (SELECT src AS v, count(*) AS deg FROM sym GROUP BY 1),
        |com AS (
        |  SELECT st.src, st.dst, count(*) AS common
        |  FROM st JOIN sym s1 ON s1.src = st.src
        |    JOIN sym s2 ON s2.src = st.dst AND s2.dst = s1.dst
        |  GROUP BY 1, 2)
        |SELECT st.src, st.dst,
        |  CAST(coalesce(com.common, 0) AS BIGINT) AS common,
        |  CAST(round(coalesce(com.common, 0) * 10000.0
        |    / (d1.deg + d2.deg - coalesce(com.common, 0))) AS BIGINT) AS jaccard_e4
        |FROM st
        |LEFT JOIN com ON com.src = st.src AND com.dst = st.dst
        |JOIN deg d1 ON d1.v = st.src
        |JOIN deg d2 ON d2.v = st.dst
        |ORDER BY st.src, st.dst""".stripMargin,
    // Degree assortativity from exact integer sufficient statistics;
    // the final Pearson expression is evaluated in DOUBLE with the
    // same operand casts as the Spark plan, so the e4 rounding is
    // deterministic. The min==max degenerate guard mirrors the query.
    "g_assortativity" ->
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
        |    CAST(count(*) AS DOUBLE) AS weight
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |thr AS (SELECT quantile_cont(weight, 0.5) * 1.25 AS t FROM e),
        |st AS (SELECT src, dst FROM e, thr WHERE weight >= t),
        |sym AS (SELECT src, dst FROM st UNION ALL SELECT dst, src FROM st),
        |deg AS (SELECT src AS v, count(*) AS deg FROM sym GROUP BY 1),
        |pairs AS (SELECT d1.deg AS dx, d2.deg AS dy
        |  FROM sym JOIN deg d1 ON d1.v = sym.src
        |  JOIN deg d2 ON d2.v = sym.dst),
        |s AS (SELECT count(*) AS n,
        |  min(dx) AS mnx, max(dx) AS mxx, min(dy) AS mny, max(dy) AS mxy,
        |  CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
        |  CAST(sum(dx * dy) AS BIGINT) AS sxy,
        |  CAST(sum(dx * dx) AS BIGINT) AS sxx,
        |  CAST(sum(dy * dy) AS BIGINT) AS syy FROM pairs)
        |SELECT n, CASE WHEN mnx = mxx OR mny = mxy THEN NULL
        |  ELSE CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    * 10000) AS BIGINT) END AS assortativity_e4
        |FROM s""".stripMargin,
    "g_degree_hist" ->
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |ends AS (SELECT src AS vertex FROM e UNION ALL SELECT dst FROM e),
        |deg AS (SELECT vertex, count(*) AS degree FROM ends GROUP BY vertex)
        |SELECT degree, count(*) AS n_vertices
        |FROM deg GROUP BY degree ORDER BY degree""".stripMargin,
    // Two bounded aggregations over the strong-tie degree table.
    "g_summary" ->
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |ew AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
        |    CAST(count(*) AS DOUBLE) AS weight
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |thr AS (SELECT quantile_cont(weight, 0.5) * 1.25 AS t FROM ew),
        |e AS (SELECT src, dst FROM ew, thr WHERE weight >= t),
        |ends AS (SELECT src AS vertex FROM e UNION ALL SELECT dst FROM e),
        |deg AS (SELECT vertex, CAST(count(*) AS BIGINT) AS degree
        |  FROM ends GROUP BY 1),
        |ec AS (SELECT CAST(count(*) AS BIGINT) AS ne FROM e)
        |SELECT CAST(count(*) AS BIGINT) AS n_vertices, ec.ne AS n_edges,
        |  CAST(min(degree) AS BIGINT) AS min_degree,
        |  CAST(max(degree) AS BIGINT) AS max_degree,
        |  CAST(sum(degree) * 100 // count(*) AS BIGINT) AS mean_degree_e2,
        |  CAST(CASE WHEN count(*) >= 2 THEN
        |    2 * ec.ne * 1000000 // (count(*) * (count(*) - 1)) END
        |    AS BIGINT) AS density_e6
        |FROM deg, ec GROUP BY ec.ne""".stripMargin,
    // Same histogram-merge closed form: strictly-above-k totals via
    // the identical reverse running sums; // ≡ div.
    "g_richclub" ->
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |ew AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst,
        |    CAST(count(*) AS DOUBLE) AS weight
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |thr AS (SELECT quantile_cont(weight, 0.5) * 1.25 AS t FROM ew),
        |e AS (SELECT src, dst FROM ew, thr WHERE weight >= t),
        |ends AS (SELECT src AS vertex FROM e UNION ALL SELECT dst FROM e),
        |deg AS (SELECT vertex, CAST(count(*) AS BIGINT) AS degree
        |  FROM ends GROUP BY vertex),
        |em AS (SELECT least(ds.degree, dd.degree) AS degree FROM e
        |  JOIN deg ds ON e.src = ds.vertex
        |  JOIN deg dd ON e.dst = dd.vertex),
        |vh AS (SELECT degree, CAST(count(*) AS BIGINT) AS nv
        |  FROM deg GROUP BY degree),
        |eh AS (SELECT degree, CAST(count(*) AS BIGINT) AS ne
        |  FROM em GROUP BY degree),
        |spine AS (SELECT coalesce(vh.degree, eh.degree) AS degree,
        |    coalesce(nv, 0) AS nv, coalesce(ne, 0) AS ne
        |  FROM vh FULL OUTER JOIN eh ON vh.degree = eh.degree),
        |w AS (SELECT degree AS k,
        |    CAST(coalesce(sum(nv) OVER (ORDER BY degree DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_k,
        |    CAST(coalesce(sum(ne) OVER (ORDER BY degree DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS e_k
        |  FROM spine)
        |SELECT k, n_k, e_k,
        |  CASE WHEN n_k >= 2
        |    THEN 2 * e_k * 1000000 // (n_k * (n_k - 1)) END AS phi_e6
        |FROM w ORDER BY k""".stripMargin,
    "g_triangles" ->
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2)
        |SELECT count(*) AS n_triangles
        |FROM e e1 JOIN e e2 ON e1.dst = e2.src
        |  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst""".stripMargin,
    "g_clustering" ->
      """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |tri AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
        |    JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
        |tv AS (SELECT v, count(*) AS t FROM (
        |  SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |  GROUP BY v),
        |deg AS (SELECT v, count(*) AS degree FROM (
        |  SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e) GROUP BY v)
        |SELECT deg.v AS vertex, degree,
        |  CAST(coalesce(t, 0) AS BIGINT) AS n_triangles,
        |  CASE WHEN degree >= 2
        |    THEN CAST(round(coalesce(t, 0) * 20000.0 / (degree * (degree - 1))) AS BIGINT)
        |    ELSE 0 END AS lcc_e4
        |FROM deg LEFT JOIN tv ON deg.v = tv.v
        |ORDER BY vertex""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_proj" ->
      """SELECT l_orderkey, l_partkey, l_quantity
        |FROM lineitem
        |WHERE l_quantity > 45.0 AND l_discount >= 0.05
        |ORDER BY l_orderkey, l_partkey, l_quantity""".stripMargin,
    "q3_topn_join" ->
      """SELECT o_orderkey,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin,
    "q5_multijoin" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE c_nationkey = s_nationkey AND r_name <> ''
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q_semijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q_antijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders) t
        |WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin,
    "q_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |  round(sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_qty
        |FROM lineitem
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "q_distinct" ->
      """SELECT c_mktsegment,
        |  count(DISTINCT o_custkey) AS n_cust,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q_rollup" ->
      """SELECT c_mktsegment, o_orderstatus,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY ROLLUP (c_mktsegment, o_orderstatus)
        |ORDER BY c_mktsegment ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin,
    "q_asof_join" ->
      """SELECT p_event_id, user_id, last_view_id FROM (
        |  SELECT p.event_id AS p_event_id, p.user_id AS user_id,
        |    v.event_id AS last_view_id,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY v.ts DESC, v.event_id DESC) AS rk
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |    ON p.user_id = v.user_id AND v.ts <= p.ts) t
        |WHERE rk = 1
        |ORDER BY p_event_id""".stripMargin,
    "q_transition_matrix" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        |  FROM events),
        |l AS (SELECT user_id, event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS to_type
        |  FROM e)
        |SELECT from_type, to_type, count(*) AS n
        |FROM l WHERE to_type IS NOT NULL
        |GROUP BY from_type, to_type
        |ORDER BY from_type, to_type""".stripMargin,
    // Change rows via lag over the per-version rank-1 states; validity
    // closes at the next change or the exclusive version horizon 3.
    "q_scd2" ->
      """WITH b AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |    o_orderkey % 3 AS bid
        |  FROM orders),
        |v AS (SELECT 0 AS ver UNION ALL SELECT 1 UNION ALL SELECT 2),
        |r AS (SELECT v.ver, b.o_custkey, b.o_orderkey, b.o_totalprice,
        |    row_number() OVER (PARTITION BY v.ver, b.o_custkey
        |      ORDER BY b.bid DESC, b.o_orderkey DESC) AS rk
        |  FROM v JOIN b ON b.bid <= v.ver),
        |s AS (SELECT ver, o_custkey, o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM r WHERE rk = 1),
        |l AS (SELECT ver, o_custkey, o_orderkey, cents,
        |    lag(o_orderkey) OVER w AS prev_ok, lag(cents) OVER w AS prev_c
        |  FROM s WINDOW w AS (PARTITION BY o_custkey ORDER BY ver)),
        |ch AS (SELECT * FROM l
        |  WHERE prev_ok IS NULL OR o_orderkey <> prev_ok OR cents <> prev_c)
        |SELECT o_custkey, o_orderkey, cents, CAST(ver AS BIGINT) AS valid_from,
        |  CAST(coalesce(lead(ver) OVER (PARTITION BY o_custkey ORDER BY ver), 3)
        |    AS BIGINT) AS valid_to
        |FROM ch
        |ORDER BY o_custkey, valid_from""".stripMargin,
    // Single-sort nearest-in-time: identical conditional windows both
    // sides (IGNORE NULLS running last/first), epoch_us ≡ unix_micros.
    "q_asof_nearest" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |m AS (SELECT user_id, event_id, us, event_type,
        |    CASE WHEN event_type = 'view' THEN us END AS v_us,
        |    CASE WHEN event_type = 'view' THEN event_id END AS v_id
        |  FROM ev),
        |wnd AS (SELECT user_id, event_id, us, event_type,
        |    last_value(v_us IGNORE NULLS) OVER wb AS back_us,
        |    last_value(v_id IGNORE NULLS) OVER wb AS back_id,
        |    first_value(v_us IGNORE NULLS) OVER wf AS fwd_us,
        |    first_value(v_id IGNORE NULLS) OVER wf AS fwd_id
        |  FROM m
        |  WINDOW wb AS (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id AS p_event_id, user_id,
        |  CASE WHEN back_us IS NOT NULL
        |      AND (fwd_us IS NULL OR us - back_us <= fwd_us - us)
        |    THEN back_id ELSE fwd_id END AS nearest_view_id,
        |  CASE WHEN back_us IS NOT NULL
        |      AND (fwd_us IS NULL OR us - back_us <= fwd_us - us)
        |    THEN us - back_us ELSE fwd_us - us END AS delta_us
        |FROM wnd
        |WHERE event_type = 'purchase'
        |  AND (back_us IS NOT NULL OR fwd_us IS NOT NULL)
        |ORDER BY p_event_id""".stripMargin,
    "q_events_sessionize" ->
      """WITH gapped AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR CAST(floor(epoch(ts)) AS BIGINT)
        |         - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM gapped
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // Same windowed closed form (the textbook O(n²) NOT-EXISTS is
    // intractable at the sf0.1 compare — the brute-force equivalence
    // lives in SkylineSpec at sf0.001 instead).
    "q_skyline" ->
      """WITH g AS (SELECT o_totalprice, min(o_orderdate) AS dmin
        |  FROM orders GROUP BY 1),
        |s1 AS (SELECT o_totalprice, dmin,
        |    min(dmin) OVER (ORDER BY o_totalprice
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
        |  FROM g),
        |s2 AS (SELECT o_totalprice, rm,
        |    lag(rm) OVER (ORDER BY o_totalprice) AS prev_rm FROM s1)
        |SELECT q.o_orderkey, q.o_totalprice, q.o_orderdate
        |FROM orders q JOIN s2 USING (o_totalprice)
        |WHERE NOT (coalesce(prev_rm <= o_orderdate, false)
        |  OR rm < o_orderdate)
        |ORDER BY o_orderkey""".stripMargin,
    // Same first-view / first-purchase-after µs deltas; ordered
    // selection at rank ceil(p·n) (the q_percentile_select form).
    "q_funnel_time" ->
      """WITH v AS (SELECT user_id,
        |    CAST(min(epoch_ns(ts) // 1000) AS BIGINT) AS v_us
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |d AS (SELECT e.user_id,
        |    CAST(min(epoch_ns(e.ts) // 1000 - v_us) AS BIGINT) AS delta_us
        |  FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) // 1000 > v_us
        |  GROUP BY e.user_id),
        |r AS (SELECT delta_us, row_number() OVER (ORDER BY delta_us) AS rk,
        |    count(*) OVER () AS n FROM d)
        |SELECT p.pct, round(CAST(r.delta_us AS DOUBLE), 2) AS delta_us,
        |  n AS n_converts
        |FROM r, (VALUES (50), (90), (99)) p(pct)
        |WHERE r.rk = CAST(ceil(p.pct / 100.0 * r.n) AS BIGINT)
        |ORDER BY p.pct""".stripMargin,
    // Same D-scaled integer CUSUM closed form (cum − running min) and
    // unique-ranked argmax.
    "q_cusum" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day, event_type,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS dd,
        |    CAST(sum(x) AS BIGINT) AS sx FROM d GROUP BY 1),
        |c AS (SELECT day, d.event_type, x, dd, sx,
        |    CAST(sum(dd * x - sx) OVER w AS BIGINT) AS cum
        |  FROM d JOIN s USING (event_type)
        |  WINDOW w AS (PARTITION BY d.event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |cs AS (SELECT day, event_type, x, dd,
        |    cum - min(cum) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        |  FROM c),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY cusum DESC, day) AS rk FROM cs)
        |SELECT event_type, day AS peak_day, x AS peak_x,
        |  CAST(cusum AS BIGINT) AS peak_cusum_num, dd AS n_days
        |FROM r WHERE rk = 1
        |ORDER BY event_type""".stripMargin,
    // Binary-segmentation changepoint: exact integer prefix sums,
    // ONE double gain expression stated identically, unique
    // (gain DESC, day) argmax.
    "q_changepoint" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day, event_type,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS s FROM d GROUP BY 1),
        |pre AS (SELECT day, d.event_type, n, s,
        |    CAST(sum(x) OVER w AS BIGINT) AS cs,
        |    CAST(row_number() OVER (PARTITION BY d.event_type ORDER BY day)
        |      AS BIGINT) AS i
        |  FROM d JOIN tot USING (event_type)
        |  WINDOW w AS (PARTITION BY d.event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (SELECT day, event_type, n, s, cs, i,
        |    CAST(round((CAST(cs * cs AS DOUBLE) / i
        |      + CAST((s - cs) * (s - cs) AS DOUBLE) / (n - i)
        |      - CAST(s * s AS DOUBLE) / n) * 1000000) AS BIGINT) AS gain_e6
        |  FROM pre WHERE i < n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY gain_e6 DESC, day ASC) AS rk FROM g)
        |SELECT event_type, day AS change_day, n AS n_days, gain_e6,
        |  CAST(round(CAST(cs AS DOUBLE) / i * 100) AS BIGINT) AS mean_left_e2,
        |  CAST(round(CAST(s - cs AS DOUBLE) / (n - i) * 100) AS BIGINT)
        |    AS mean_right_e2
        |FROM r WHERE rk = 1
        |ORDER BY event_type""".stripMargin,
    // Per-key wedge products of the supplier-keyed self-join —
    // exact integers throughout.
    "q_skew_profile" ->
      """WITH c AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT CAST(sum(n * n) AS BIGINT) AS tot_n2 FROM c),
        |top AS (SELECT l_suppkey, n FROM c
        |  ORDER BY n DESC, l_suppkey ASC LIMIT 5)
        |SELECT l_suppkey, n, CAST(n * n AS BIGINT) AS n2,
        |  CAST(n * n * 1000000 // tot_n2 AS BIGINT) AS share_e6, tot_n2
        |FROM top, tot
        |ORDER BY n DESC, l_suppkey ASC""".stripMargin,
    // Distinct (source, 8-gram-hash) self-join: shared-vocabulary
    // counts and containment vs the smaller source.
    "p_source_overlap" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 7, 1) + 1)) AS i
        |  FROM toks),
        |sh AS (SELECT DISTINCT doc_id,
        |    md5(array_to_string(t[i:i+7], ' ')) AS h FROM idx),
        |ss AS (SELECT DISTINCT d.source, sh.h
        |  FROM sh JOIN documents d USING (doc_id)),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM ss GROUP BY 1),
        |p AS (SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM ss a JOIN ss b ON a.h = b.h AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_shared,
        |  CAST(n_shared * 10000 // least(ta.n, tb.n) AS BIGINT) AS contain_e4
        |FROM p JOIN tot ta ON ta.source = p.src_a
        |  JOIN tot tb ON tb.source = p.src_b
        |ORDER BY src_a, src_b""".stripMargin,
    // Same rank-window credit split: rk/n under the unique (tus, tid)
    // order, linear credit by the identical 1e6 floor division.
    "q_attribution" ->
      """WITH p AS (SELECT event_id AS pid, user_id, epoch_us(ts) AS pus
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, event_id AS tid, event_type AS touch_type,
        |    epoch_us(ts) AS tus
        |  FROM events WHERE event_type IN ('click', 'view')),
        |j AS (SELECT p.pid, t.touch_type, t.tus, t.tid
        |  FROM p JOIN t ON p.user_id = t.user_id
        |    AND t.tus < p.pus AND t.tus >= p.pus - 86400000000),
        |r AS (SELECT pid, touch_type,
        |    row_number() OVER (PARTITION BY pid ORDER BY tus, tid) AS rk,
        |    count(*) OVER (PARTITION BY pid) AS n FROM j)
        |SELECT touch_type,
        |  CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_n,
        |  CAST(sum(CASE WHEN rk = n THEN 1 ELSE 0 END) AS BIGINT) AS last_n,
        |  CAST(sum(1000000 // n) AS BIGINT) AS linear_e6
        |FROM r GROUP BY touch_type
        |ORDER BY touch_type""".stripMargin,
    // ntile under the identical UNIQUE (metric, custkey) total orders;
    // both engines use the standard front-loaded bucket fill.
    "q_rfm" ->
      """WITH o AS (SELECT o_custkey, o_orderdate,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |a AS (SELECT max(o_orderdate) AS anchor FROM o),
        |b AS (SELECT o_custkey,
        |    CAST(date_diff('day', max(o_orderdate), (SELECT anchor FROM a))
        |      AS BIGINT) AS r_days,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(cents) AS BIGINT) AS monetary_cents
        |  FROM o GROUP BY o_custkey),
        |s AS (SELECT o_custkey, r_days, frequency, monetary_cents,
        |    CAST(ntile(5) OVER (ORDER BY r_days DESC, o_custkey) AS BIGINT)
        |      AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY frequency, o_custkey) AS BIGINT)
        |      AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY monetary_cents, o_custkey) AS BIGINT)
        |      AS m_score
        |  FROM b)
        |SELECT o_custkey, r_days, frequency, monetary_cents,
        |  r_score, f_score, m_score,
        |  r_score * 100 + f_score * 10 + m_score AS segment
        |FROM s ORDER BY o_custkey""".stripMargin,
    // Identical integer sufficient statistics and the same two floor
    // divisions (// ≡ Spark div, both truncate toward zero).
    "q_trend" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |a AS (SELECT min(day) AS d0 FROM d),
        |x AS (SELECT event_type,
        |    CAST(date_diff('day', (SELECT d0 FROM a), day) AS BIGINT) AS x, y
        |  FROM d),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM x GROUP BY event_type)
        |SELECT event_type, n AS n_days,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |    ELSE (n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx) END
        |    AS slope_e6,
        |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |    ELSE (sy * 1000000
        |      - ((n * sxy - sx * sy) * 1000000 // (n * sxx - sx * sx)) * sx)
        |      // n END AS intercept_e6
        |FROM s ORDER BY event_type""".stripMargin,
    // Same ±3-row frame over the per-type day grid; the sorted-list
    // (len+1)//2 pick is the engine's lower-median expression tree
    // stated literally (no builtin median — interpolation differs).
    "q_rolling_median" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, cnt,
        |    list_sort(list(cnt) OVER (PARTITION BY event_type
        |      ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
        |      AS win
        |  FROM d)
        |SELECT event_type, day, cnt,
        |  CAST(win[(len(win) + 1) // 2] AS BIGINT) AS med7
        |FROM w ORDER BY event_type, day""".stripMargin,
    // Starting-offset shard assignment off the same unique doc_id
    // cumsum; strlen = payload bytes (UTF-8 both sides).
    "m_shard_pack" ->
      """WITH i AS (SELECT doc_id, CAST(strlen(text) AS BIGINT) AS nbytes
        |  FROM documents),
        |c AS (SELECT doc_id, nbytes, sum(nbytes) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM i)
        |SELECT CAST((cum - nbytes) // 65536 AS BIGINT) AS shard,
        |  count(*) AS n_items,
        |  CAST(sum(nbytes) AS BIGINT) AS shard_bytes,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY shard""".stripMargin,
    // Lower medians by the identical (nn + 1) // 2 ordered selection
    // under unique (value, day) orders; the outlier test is exact
    // integer arithmetic.
    "q_mad_outliers" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        |r1 AS (SELECT event_type, day, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY c, day) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS nn FROM d),
        |med AS (SELECT event_type, c AS med FROM r1 WHERE rk = (nn + 1) // 2),
        |dev AS (SELECT d.event_type, d.day, d.c, m.med,
        |    abs(d.c - m.med) AS a
        |  FROM d JOIN med m ON d.event_type = m.event_type),
        |r2 AS (SELECT event_type, day, a,
        |    row_number() OVER (PARTITION BY event_type ORDER BY a, day) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS nn FROM dev),
        |mad AS (SELECT event_type, a AS mad FROM r2 WHERE rk = (nn + 1) // 2)
        |SELECT dev.event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(max(dev.med) AS BIGINT) AS med,
        |  CAST(max(mad.mad) AS BIGINT) AS mad,
        |  CAST(sum(CASE WHEN dev.a > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM dev JOIN mad ON dev.event_type = mad.event_type
        |GROUP BY dev.event_type
        |ORDER BY dev.event_type""".stripMargin,
    // Identical integer statistics and e6 floor divisions; the pair
    // stream is the same within-order self-join.
    "q_assoc_rules" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n
        |  FROM items),
        |ic AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
        |  FROM items GROUP BY 1),
        |p AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb,
        |    CAST(count(*) AS BIGINT) AS cnt_ab
        |  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT pa, pb, cnt_ab, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
        |  cnt_ab * 1000000 // n.n AS support_e6,
        |  cnt_ab * 1000000 // ca.cnt AS conf_e6,
        |  cnt_ab * n.n * 1000000 // (ca.cnt * cb.cnt) AS lift_e6
        |FROM p JOIN ic ca ON p.pa = ca.l_partkey
        |  JOIN ic cb ON p.pb = cb.l_partkey, n
        |ORDER BY lift_e6 DESC, pa, pb
        |LIMIT 25""".stripMargin,
    // Exact integer counts; the z statistic is the one float, stated
    // through the identical expression tree from identical integers.
    "q_ab_lift" ->
      """WITH u AS (SELECT user_id,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      >= 14 THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY user_id),
        |g AS (SELECT user_id % 2 AS grp, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(conv) AS BIGINT) AS c
        |  FROM u GROUP BY 1),
        |w AS (SELECT
        |    max(CASE WHEN grp = 0 THEN n END) AS n_a,
        |    max(CASE WHEN grp = 0 THEN c END) AS c_a,
        |    max(CASE WHEN grp = 1 THEN n END) AS n_b,
        |    max(CASE WHEN grp = 1 THEN c END) AS c_b
        |  FROM g)
        |SELECT n_a, c_a, n_b, c_b,
        |  CASE WHEN c_b * n_a = 0 THEN NULL
        |    ELSE (c_a * n_b - c_b * n_a) * 1000000 // (c_b * n_a) END
        |    AS lift_e6,
        |  CASE WHEN c_a + c_b > 0 AND c_a + c_b < n_a + n_b THEN
        |    CAST(round(
        |      (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |        - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |      / sqrt((CAST(c_a AS DOUBLE) + CAST(c_b AS DOUBLE))
        |          / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
        |        * (1.0 - (CAST(c_a AS DOUBLE) + CAST(c_b AS DOUBLE))
        |            / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
        |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |      * 10000) AS BIGINT) END AS z_e4
        |FROM w""".stripMargin,
    // Sorted closed form with the unique (x, custkey) rank; hugeint
    // sums mirror the engine's DECIMAL(38,0), one e6 floor division.
    "q_gini" ->
      """WITH s AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders GROUP BY 1),
        |r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, o_custkey)
        |    AS BIGINT) AS i FROM s),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
        |    sum(i * x) AS sixy FROM r)
        |SELECT n, CAST(sx AS BIGINT) AS total_cents,
        |  CAST((2 * sixy - (n + 1) * sx) * 1000000 // (n * sx) AS BIGINT)
        |    AS gini_e6
        |FROM f""".stripMargin,
    // Same (ts, event_id) rank order; string_agg ORDER BY rk is the
    // sorted-struct concat's SQL form.
    "q_funnel_paths" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us,
        |    event_id FROM events),
        |r AS (SELECT user_id, event_type, row_number() OVER (
        |    PARTITION BY user_id ORDER BY us, event_id) AS rk FROM e),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rk)
        |    AS path FROM r WHERE rk <= 3 GROUP BY user_id)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_users
        |FROM p GROUP BY path
        |ORDER BY n_users DESC, path
        |LIMIT 10""".stripMargin,
    // Same unique (µs, event_id) order and initial-letter alphabet;
    // regexp_matches ≡ rlike's unanchored find for this POSIX-common
    // pattern subset.
    "q_seq_match" ->
      """WITH s AS (SELECT user_id,
        |    string_agg(substr(event_type, 1, 1), ''
        |      ORDER BY epoch_us(ts), event_id) AS seq
        |  FROM events GROUP BY user_id),
        |p AS (SELECT * FROM (VALUES
        |    ('error_resolved_by_purchase', 'e[^p]*p'),
        |    ('purchase_before_signup', 'p.*s'),
        |    ('signup_first', '^s'),
        |    ('three_views_running', 'vvv'),
        |    ('view_purchase_adjacent', 'vp')) AS v(pattern, re))
        |SELECT p.pattern,
        |  CAST(count(*) FILTER (WHERE regexp_matches(s.seq, p.re))
        |    AS BIGINT) AS n_users
        |FROM p CROSS JOIN s
        |GROUP BY p.pattern ORDER BY p.pattern""".stripMargin,
    // Identical decile target ranks (decile·n // 10) and cumulative
    // window under the unique (x DESC, custkey) order; hugeint sums
    // mirror the engine's DECIMAL(38,0) path.
    "q_pareto" ->
      """WITH s AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS x
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS total FROM s),
        |r AS (SELECT CAST(row_number() OVER (ORDER BY x DESC, o_custkey)
        |      AS BIGINT) AS rk,
        |    sum(x) OVER (ORDER BY x DESC, o_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM s),
        |d AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS decile)
        |SELECT d.decile, r.rk AS n_top,
        |  CAST(r.cum * 1000000 // t.total AS BIGINT) AS share_e6
        |FROM d CROSS JOIN t JOIN r ON r.rk = d.decile * t.n // 10
        |ORDER BY d.decile""".stripMargin,
    // First significant digit of the integral price floor; the
    // Benford expectation is the same constant expression both sides.
    "q_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        |SELECT digit, n, n * 1000000 // total AS freq_e6,
        |  CAST(round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1000000)
        |    AS BIGINT) AS benford_e6
        |FROM c, t ORDER BY digit""".stripMargin,
    // Deterministic open/close: the unique-ranked window form (DuckDB
    // composite argmin can't order by a struct — CLAUDE rule), same
    // (ts, event_id) total order as the engine's struct min/max.
    "q_resample" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, event_type, ts, event_id,
        |    value FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY day, event_type
        |      ORDER BY ts, event_id) AS rf,
        |    row_number() OVER (PARTITION BY day, event_type
        |      ORDER BY ts DESC, event_id DESC) AS rl
        |  FROM e)
        |SELECT day, event_type, count(*) AS n,
        |  round(min(value), 2) AS lo, round(max(value), 2) AS hi,
        |  round(max(CASE WHEN rf = 1 THEN value END), 2) AS open,
        |  round(max(CASE WHEN rl = 1 THEN value END), 2) AS close
        |FROM r GROUP BY day, event_type
        |ORDER BY day, event_type""".stripMargin,
    "q_cumulative_distinct" ->
      """WITH ev AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ev GROUP BY 1),
        |fs AS (SELECT day, count(*) AS new_users FROM (
        |    SELECT user_id, min(day) AS day FROM ev GROUP BY 1) t GROUP BY 1)
        |SELECT day, dau, coalesce(new_users, 0) AS new_users,
        |  CAST(sum(coalesce(new_users, 0)) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM dau LEFT JOIN fs USING (day)
        |ORDER BY day""".stripMargin,
    // Sketch-quality verdict convention: exact cumulative under the
    // hash compare, the 5% HLL bound pinned true.
    "q_sketch_running" ->
      """WITH ev AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |  FROM events),
        |fs AS (SELECT user_id, min(day) AS day FROM ev GROUP BY 1),
        |nu AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users
        |  FROM fs GROUP BY 1),
        |days AS (SELECT DISTINCT day FROM ev)
        |SELECT d.day,
        |  CAST(sum(coalesce(nu.new_users, 0)) OVER (ORDER BY d.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS exact_cum,
        |  true AS approx_ok
        |FROM days d LEFT JOIN nu ON d.day = nu.day
        |ORDER BY d.day""".stripMargin,
    // UTC hour buckets and the unique (n DESC, hour) peak rank.
    "q_hourly_profile" ->
      """WITH g AS (SELECT event_type,
        |    CAST(extract(hour FROM ts) AS BIGINT) AS hr,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, hr, n,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY n DESC, hr) = 1 AS is_peak
        |FROM g ORDER BY event_type, hr""".stripMargin,
    // Identical midpoint split and // div, guarded denominator.
    "q_top_movers" ->
      """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |a AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
        |h AS (SELECT event_type,
        |    CASE WHEN date_diff('day', a.d0, day) * 2
        |      <= date_diff('day', a.d0, a.d1) THEN 1 ELSE 2 END AS half
        |  FROM ev CROSS JOIN a),
        |g AS (SELECT event_type,
        |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_first,
        |    CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_second
        |  FROM h GROUP BY event_type)
        |SELECT event_type, n_first, n_second,
        |  n_second - n_first AS delta,
        |  CASE WHEN n_first > 0
        |    THEN (n_second - n_first) * 10000 // n_first END AS pct_e4
        |FROM g ORDER BY event_type""".stripMargin,
    // Exact sliding-window distinct on the bounded day grid; same
    // 30-day trailing range and // div.
    "q_stickiness" ->
      """WITH ev AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |  FROM events),
        |grid AS (SELECT DISTINCT day AS gday FROM ev),
        |mau AS (SELECT g.gday, CAST(count(DISTINCT e.user_id) AS BIGINT)
        |    AS mau
        |  FROM grid g JOIN ev e ON e.day <= g.gday
        |    AND e.day >= g.gday - INTERVAL 29 DAY
        |  GROUP BY 1),
        |dau AS (SELECT day AS gday, CAST(count(*) AS BIGINT) AS dau
        |  FROM ev GROUP BY 1)
        |SELECT d.gday AS day, d.dau, m.mau,
        |  d.dau * 10000 // m.mau AS stickiness_e4
        |FROM dau d JOIN mau m ON d.gday = m.gday
        |ORDER BY day""".stripMargin,
    // First-seen-day classification; returning-rate by // div.
    "q_new_vs_returning" ->
      """WITH ev AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS fday FROM ev GROUP BY 1)
        |SELECT day, CAST(count(*) AS BIGINT) AS dau,
        |  CAST(sum(CASE WHEN day = fday THEN 1 ELSE 0 END) AS BIGINT)
        |    AS new_users,
        |  CAST(sum(CASE WHEN day <> fday THEN 1 ELSE 0 END) AS BIGINT)
        |    AS returning_users,
        |  CAST(sum(CASE WHEN day <> fday THEN 1 ELSE 0 END) * 10000
        |    // count(*) AS BIGINT) AS returning_e4
        |FROM ev JOIN f USING (user_id)
        |GROUP BY day ORDER BY day""".stripMargin,
    // Per-event cent quantization BEFORE any sum (the §6 float rule);
    // bounded (cohort, age) grid + per-cohort cumulative window.
    "q_cohort_ltv" ->
      """WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id, event_type,
        |    value FROM events),
        |f AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY 1),
        |a AS (SELECT min(cohort) AS day0 FROM f),
        |p AS (SELECT f.cohort,
        |    date_diff('day', f.cohort, ev.day) AS age,
        |    CAST(sum(CAST(round(ev.value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM ev JOIN f USING (user_id) CROSS JOIN a
        |  WHERE ev.event_type = 'purchase'
        |    AND date_diff('day', a.day0, f.cohort) < 7
        |    AND date_diff('day', f.cohort, ev.day) < 14
        |  GROUP BY 1, 2)
        |SELECT cohort, CAST(age AS BIGINT) AS age, cents,
        |  CAST(sum(cents) OVER (PARTITION BY cohort ORDER BY age
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_cents
        |FROM p ORDER BY cohort, age""".stripMargin,
    "q_lag_delta" ->
      """SELECT user_id, event_id,
        |  CAST(coalesce(CAST(floor(epoch(ts)) AS BIGINT)
        |    - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT), 0) AS BIGINT) AS gap_s
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_collect_set" ->
      """WITH d AS (SELECT DISTINCT c_mktsegment, o_orderstatus
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT c_mktsegment,
        |  string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
        |FROM d GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_multi_distinct" ->
      """SELECT c_mktsegment,
        |  count(DISTINCT o_custkey) AS n_cust,
        |  count(DISTINCT o_orderstatus) AS n_status,
        |  count(DISTINCT year(o_orderdate)) AS n_years,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q_having" ->
      """SELECT o_custkey, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY o_custkey
        |HAVING count(*) >= 10
        |ORDER BY o_custkey""".stripMargin,
    "q_outer_join" ->
      """SELECT c_mktsegment,
        |  count(DISTINCT c_custkey) AS n_cust,
        |  count(o_orderkey) AS n_orders,
        |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_orderless
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q_intersect" ->
      """SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000.0
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |ORDER BY c_custkey""".stripMargin,
    // UNPIVOT replicated as UNION ALL over the pivot matrix — the
    // melt must preserve zeros for absent (segment, status) combos.
    "q_unpivot" ->
      """WITH p AS (
        |  SELECT c_mktsegment,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |    CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |    CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment)
        |SELECT c_mktsegment, o_orderstatus, n FROM (
        |  SELECT c_mktsegment, 'F' AS o_orderstatus, n_f AS n FROM p
        |  UNION ALL SELECT c_mktsegment, 'O', n_o FROM p
        |  UNION ALL SELECT c_mktsegment, 'P', n_p FROM p) t
        |ORDER BY c_mktsegment, o_orderstatus""".stripMargin,
    "q_latest_snapshot" ->
      """SELECT o_custkey, o_orderkey, last_price FROM (
        |  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS last_price,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
        |  FROM orders) t
        |WHERE rk = 1
        |ORDER BY o_custkey""".stripMargin,
    "q_ntile" ->
      """WITH t AS (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    CAST(ntile(4) OVER w AS INT) AS quartile,
        |    CAST(round(percent_rank() OVER w * 10000) AS BIGINT) AS pr_e4
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WINDOW w AS (PARTITION BY c_mktsegment
        |    ORDER BY o_totalprice, o_orderkey))
        |SELECT c_mktsegment, quartile, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS total,
        |  CAST(max(pr_e4) AS BIGINT) AS max_pr_e4
        |FROM t GROUP BY c_mktsegment, quartile
        |ORDER BY c_mktsegment, quartile""".stripMargin,
    "q_dateparts" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(month(o_orderdate) AS INT) AS o_month,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY o_year, o_month""".stripMargin,
    "q_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // Exact discrete percentile = value at ascending rank ⌈p·n/100⌉:
    // stated as ordered selection, the semantics the bisection
    // implements (ties collapse to the same VALUE at any tie order,
    // so row_number's arbitrary tie-break cannot change the answer).
    "q_percentile_select" ->
      """WITH r AS (SELECT l_extendedprice AS x,
        |    row_number() OVER (ORDER BY l_extendedprice) AS rk,
        |    count(*) OVER () AS n
        |  FROM lineitem)
        |SELECT p.pct, round(r.x, 2) AS value
        |FROM r, (VALUES (50), (90), (99)) p(pct)
        |WHERE r.rk = CAST(ceil(p.pct / 100.0 * r.n) AS BIGINT)
        |ORDER BY p.pct""".stripMargin,
    // Per-group exact discrete percentiles: same ordered-selection
    // statement per group; ties collapse to the same value.
    "q_group_percentile" ->
      """WITH r AS (SELECT l_returnflag AS grp, l_extendedprice AS x,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice) AS rk,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT r.grp, p.pct, round(r.x, 2) AS value
        |FROM r JOIN (VALUES (CAST(50 AS BIGINT)), (90), (99)) p(pct)
        |  ON r.rk = greatest(1, CAST(ceil(p.pct / 100.0 * r.n) AS BIGINT))
        |ORDER BY grp, pct""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
        |  count(*) AS n
        |FROM orders
        |GROUP BY 1
        |ORDER BY bucket""".stripMargin,
    "q_range_window" ->
      """SELECT user_id, event_id, n_last_hour FROM (
        |  SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
        |    count(*) OVER (PARTITION BY user_id
        |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_last_hour
        |  FROM events) t
        |ORDER BY user_id, ts_sec, event_id""".stripMargin,
    "q_setops" ->
      """SELECT c_custkey FROM (
        |  SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000.0
        |  UNION
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
        |ORDER BY c_custkey""".stripMargin,
    "q_pivot" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_cube" ->
      """SELECT c_mktsegment, o_orderstatus,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY CUBE (c_mktsegment, o_orderstatus)
        |ORDER BY c_mktsegment ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin,
    "q_correlated" ->
      """SELECT o_custkey, min(o_orderkey) AS o_orderkey,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM orders o
        |WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
        |  WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "q_sql_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_bucket_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    // The salted plans must be value-identical to their unsalted
    // equivalents — that IS the oracle.
    "q_skew_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q_skew_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    "t_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |    CAST(round(tf * ln(CAST(n AS DOUBLE) / df) * 10000) AS BIGINT) AS tfidf_e4
        |  FROM tf JOIN dfreq USING (token), n),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf_e4 DESC, token ASC) AS INT) AS rank
        |  FROM scored)
        |SELECT doc_id, token, tf, df, tfidf_e4, rank FROM ranked
        |WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    "t_entropy" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS c FROM terms GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |    count(*) AS n_distinct FROM tf GROUP BY 1)
        |SELECT doc_id, max(n) AS n_tokens,
        |  CAST(max(n_distinct) AS BIGINT) AS n_distinct_tokens,
        |  CAST(sum(CAST(round(CAST(c AS DOUBLE) / n
        |    * ln(CAST(n AS DOUBLE) / c) * 10000) AS BIGINT)) AS BIGINT) AS entropy_e4
        |FROM tf JOIN tot USING (doc_id)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "src_partition_prune" ->
      """SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE event_type = 'purchase'
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // Versioned-table time travel: per version v, live rows = latest
    // per custkey over batches (o_orderkey mod 3) ≤ v, ranked by
    // (batch DESC, o_orderkey DESC) — newer batches win, the unique
    // orderkey breaks in-batch ties, exactly the MERGE's rank.
    // Five planted malformed rows: PERMISSIVE must keep every good
    // row AND surface exactly the bad ones as null-typed rows.
    "src_corrupt_records" ->
      """SELECT count(*) + 5 AS n_rows, CAST(5 AS BIGINT) AS n_corrupt,
        |  count(*) AS n_good
        |FROM documents""".stripMargin,
    // Dynamic partition overwrite pinned from the lake read-back:
    // only the error partition is replaced (by its value >= 2.5
    // compaction); static-overwrite or append semantics both fail
    // this predicate.
    "src_dynamic_overwrite" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE event_type <> 'error' OR value >= 2.5
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_time_travel" ->
      """WITH b AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |    o_orderkey % 3 AS bid
        |  FROM orders),
        |v AS (SELECT 0 AS ver UNION ALL SELECT 1 UNION ALL SELECT 2),
        |r AS (SELECT v.ver, b.o_custkey, b.o_totalprice,
        |    row_number() OVER (PARTITION BY v.ver, b.o_custkey
        |      ORDER BY b.bid DESC, b.o_orderkey DESC) AS rk
        |  FROM v JOIN b ON b.bid <= v.ver)
        |SELECT CAST(ver AS BIGINT) AS ver, count(*) AS n_keys,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM r WHERE rk = 1
        |GROUP BY ver ORDER BY ver""".stripMargin,
    // Identical semantics to src_time_travel (bucketing by key is
    // merge-invariant), so the identical per-version rank-1 oracle.
    "src_bucketed_merge" ->
      """WITH b AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |    o_orderkey % 3 AS bid
        |  FROM orders),
        |v AS (SELECT 0 AS ver UNION ALL SELECT 1 UNION ALL SELECT 2),
        |r AS (SELECT v.ver, b.o_custkey, b.o_totalprice,
        |    row_number() OVER (PARTITION BY v.ver, b.o_custkey
        |      ORDER BY b.bid DESC, b.o_orderkey DESC) AS rk
        |  FROM v JOIN b ON b.bid <= v.ver)
        |SELECT CAST(ver AS BIGINT) AS ver, count(*) AS n_keys,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM r WHERE rk = 1
        |GROUP BY ver ORDER BY ver""".stripMargin,
    // Row-level merge must answer IDENTICALLY to the bucket-rewrite
    // path (same batches, same rank-1 semantics) — same oracle.
    "src_dv_merge" ->
      """WITH b AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |    o_orderkey % 3 AS bid
        |  FROM orders),
        |v AS (SELECT 0 AS ver UNION ALL SELECT 1 UNION ALL SELECT 2),
        |r AS (SELECT v.ver, b.o_custkey, b.o_totalprice,
        |    row_number() OVER (PARTITION BY v.ver, b.o_custkey
        |      ORDER BY b.bid DESC, b.o_orderkey DESC) AS rk
        |  FROM v JOIN b ON b.bid <= v.ver)
        |SELECT CAST(ver AS BIGINT) AS ver, count(*) AS n_keys,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM r WHERE rk = 1
        |GROUP BY ver ORDER BY ver""".stripMargin,
    // Overlaps from a distinct (type, user) self-join; the sketch
    // path must agree under the 5% verdict convention (TRUE here —
    // coupon-mode HLL is exact at this cardinality).
    "q_sketch_intersect" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events)
        |SELECT x.event_type AS type_a, y.event_type AS type_b,
        |  count(*) AS exact_overlap, TRUE AS approx_ok
        |FROM tu x JOIN tu y ON x.user_id = y.user_id
        |  AND x.event_type < y.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Pure integer HHI/top-share from the (type, user) reduction.
    "q_hhi" ->
      """WITH tu AS (SELECT event_type, user_id, count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, count(*) AS n_users,
        |  CAST(sum(cnt) AS BIGINT) AS n_events,
        |  CAST(sum(cnt * cnt) * 1000000 // (sum(cnt) * sum(cnt)) AS BIGINT)
        |    AS hhi_e6,
        |  CAST(max(cnt) * 1000000 // sum(cnt) AS BIGINT) AS top_share_e6
        |FROM tu GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same user-partitioned lag/lead ledger; churn lands on day+1 and
    // only activity-grid days survive the left join (both sides).
    "q_growth_accounting" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |l AS (SELECT user_id, day,
        |    lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev,
        |    lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt
        |  FROM ud),
        |f AS (SELECT day,
        |    sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS n_new,
        |    sum(CASE WHEN day - prev = 1 THEN 1 ELSE 0 END) AS n_retained,
        |    sum(CASE WHEN prev IS NOT NULL AND day - prev > 1
        |      THEN 1 ELSE 0 END) AS n_resurrected
        |  FROM l GROUP BY 1),
        |c AS (SELECT day + 1 AS day, count(*) AS churned FROM l
        |  WHERE nxt IS NULL OR nxt - day > 1 GROUP BY 1)
        |SELECT f.day, CAST(n_new AS BIGINT) AS n_new,
        |  CAST(n_retained AS BIGINT) AS n_retained,
        |  CAST(n_resurrected AS BIGINT) AS n_resurrected,
        |  CAST(coalesce(c.churned, 0) AS BIGINT) AS n_churned
        |FROM f LEFT JOIN c ON c.day = f.day
        |ORDER BY f.day""".stripMargin,
    // Lifetime histogram joined to the 0..30 grid; exact integers.
    "q_survival" ->
      """WITH life AS (SELECT user_id,
        |    CAST(max(CAST(ts AS DATE)) - min(CAST(ts AS DATE)) AS BIGINT)
        |      AS lt
        |  FROM events GROUP BY 1),
        |tot AS (SELECT count(*) AS n_total FROM life),
        |g AS (SELECT CAST(range AS BIGINT) AS t FROM range(0, 31))
        |SELECT g.t, count(*) AS n_surviving,
        |  CAST(n_total AS BIGINT) AS n_total,
        |  CAST(count(*) * 1000000 // n_total AS BIGINT) AS surv_e6
        |FROM g JOIN life ON life.lt >= g.t CROSS JOIN tot
        |GROUP BY g.t, tot.n_total ORDER BY g.t""".stripMargin,
    // Identical per-cell e4-floored χ² rational, HUGEINT in DuckDB ≡
    // DECIMAL(38,0) in Spark (both exact at this width); isodow-1 ≡
    // Spark's weekday().
    "q_cramers_v" ->
      """WITH o AS (SELECT event_type,
        |    CAST(isodow(CAST(ts AS DATE)) - 1 AS BIGINT) AS dow,
        |    CAST(count(*) AS BIGINT) AS o FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
        |  FROM o GROUP BY 1),
        |ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM o GROUP BY 1),
        |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS nr,
        |    CAST(count(DISTINCT dow) AS BIGINT) AS nc FROM o),
        |t AS (SELECT nn.n, nn.nr, nn.nc,
        |    CAST((CAST(o.o * nn.n - rt.r * ct.c AS HUGEINT) *
        |      CAST(o.o * nn.n - rt.r * ct.c AS HUGEINT) * 10000)
        |      // (CAST(nn.n AS HUGEINT) * rt.r * ct.c) AS BIGINT) AS term_e4
        |  FROM o JOIN rt USING (event_type) JOIN ct USING (dow)
        |  CROSS JOIN nn)
        |SELECT n, CAST(least(nr, nc) - 1 AS BIGINT) AS dof_k,
        |  CAST(sum(term_e4) AS BIGINT) AS chi2_e4,
        |  CAST(sum(term_e4) * 10000 // (n * (least(nr, nc) - 1)) AS BIGINT)
        |    AS v2_e8
        |FROM t GROUP BY n, nr, nc""".stripMargin,
    // Integer sufficient sums per lag; ONE double Pearson expression
    // stated with the identical tree on both sides.
    "q_autocorr" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1),
        |l AS (SELECT CAST(range AS BIGINT) AS lag FROM range(1, 8)),
        |p AS (SELECT l.lag, a.c AS x, b.c AS y
        |  FROM daily a CROSS JOIN l
        |  JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)),
        |s AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM p GROUP BY 1)
        |SELECT lag, n,
        |  CAST(round((CAST(n * sxy - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(n * syy - sy * sy AS DOUBLE)))) * 10000) AS BIGINT)
        |    AS r_e4
        |FROM s ORDER BY lag""".stripMargin,
    // Cumulative-share classes under the unique (x DESC, partkey)
    // order; HUGEINT share ≡ Spark's DECIMAL(38,0) div.
    "q_abc" ->
      """WITH rev AS (SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT l_partkey, x,
        |    sum(x) OVER (ORDER BY x DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM rev),
        |tot AS (SELECT CAST(sum(x) AS BIGINT) AS total FROM rev),
        |cl AS (SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
        |      WHEN cum * 100 <= total * 95 THEN 'B' ELSE 'C' END AS cls, x
        |  FROM r CROSS JOIN tot)
        |SELECT cls, count(*) AS n_parts,
        |  CAST(CAST(sum(x) AS HUGEINT) * 1000000 // CAST(total AS HUGEINT)
        |    AS BIGINT) AS share_e6
        |FROM cl CROSS JOIN tot GROUP BY cls, total
        |ORDER BY cls""".stripMargin,
    // Same bounded (type × day) grid; ISO weekday (isodow-1 ≡
    // Spark's weekday()) and identical integer-mean expressions.
    "q_seasonal_decompose" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        |o AS (SELECT event_type, sum(c) * 100 // count(*) AS mean_e2
        |  FROM d GROUP BY 1),
        |g AS (SELECT event_type, CAST(isodow(day) - 1 AS BIGINT) AS dow,
        |    count(*) AS n_days, sum(c) * 100 // count(*) AS dow_mean_e2
        |  FROM d GROUP BY 1, 2)
        |SELECT g.event_type, g.dow, g.n_days,
        |  CAST(g.dow_mean_e2 AS BIGINT) AS dow_mean_e2,
        |  CAST(g.dow_mean_e2 - o.mean_e2 AS BIGINT) AS offset_e2
        |FROM g JOIN o USING (event_type)
        |ORDER BY event_type, dow""".stripMargin,
    // Exact Σ cnt·cnt product over the joined count tables; top keys
    // under the unique (est DESC, user_id) order.
    "q_join_heat" ->
      """WITH e AS (SELECT user_id, count(*) AS ec FROM events GROUP BY 1),
        |o AS (SELECT o_custkey AS user_id, count(*) AS oc
        |  FROM orders GROUP BY 1),
        |j AS (SELECT e.user_id, e.ec * o.oc AS est
        |  FROM e JOIN o USING (user_id)),
        |t AS (SELECT CAST(sum(est) AS BIGINT) AS total_est_rows FROM j),
        |r AS (SELECT user_id, est, CAST(row_number() OVER (
        |    ORDER BY est DESC, user_id) AS BIGINT) AS rk FROM j)
        |SELECT rk, user_id, CAST(est AS BIGINT) AS est_pair_rows,
        |  t.total_est_rows
        |FROM r CROSS JOIN t WHERE rk <= 5 ORDER BY rk""".stripMargin,
    // One stacked scan both sides; modal pick under the unique
    // (count DESC, value ASC) per-column rank.
    "q_profile_columns" ->
      """WITH s AS (
        |  SELECT 'o_custkey' AS colname, CAST(o_custkey AS VARCHAR) AS val
        |    FROM orders
        |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
        |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
        |  UNION ALL SELECT 'o_year', CAST(year(o_orderdate) AS VARCHAR)
        |    FROM orders),
        |c AS (SELECT colname, val, count(*) AS cnt FROM s GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY colname
        |    ORDER BY cnt DESC, val ASC) AS rk FROM c)
        |SELECT colname,
        |  CAST(count(CASE WHEN val IS NOT NULL THEN 1 END) AS BIGINT)
        |    AS ndv,
        |  CAST(coalesce(sum(CASE WHEN val IS NULL THEN cnt END), 0)
        |    AS BIGINT) AS n_nulls,
        |  max(CASE WHEN rk = 1 THEN val END) AS top_value,
        |  max(CASE WHEN rk = 1 THEN cnt END) AS top_count
        |FROM r GROUP BY colname ORDER BY colname""".stripMargin,
    // Compaction is layout-only: the compacted copy must answer
    // exactly like the original table.
    "src_compaction" ->
      """SELECT strftime(o_orderdate, '%Y') AS yr,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // Spec evolution is read-path only — the answer must equal the
    // plain full-scan filter (pruning asserted by the spec).
    "src_partition_evolution" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |WHERE year(o_orderdate) IN (1997, 1998)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Stats-pruned scans answer exactly like full scans — the oracle
    // is the plain filter; file skipping is asserted by SkipIndexSpec.
    "src_minmax_skip" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS ym,
        |  count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_zorder_skip" ->
      """SELECT count(*) AS n_orders,
        |  count(DISTINCT o_custkey) AS n_custs,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND o_custkey BETWEEN 400 AND 599""".stripMargin,
    // The MV merged three staged deltas; the oracle is the direct
    // GROUP BY it must equal. Exact-cents money (the overflow/float
    // rule): both sides sum BIGINT cents, divide once at readout.
    "q_incremental_mv" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  count(*) AS n_orders,
        |  round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
        |    AS sum_price,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // count(*)
        |    AS BIGINT) AS avg_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same per-version rank-1 CTE as src_time_travel, with the CDC
    // classification as a key-grouped union aggregate (mirrors
    // diffCounts' no-full-outer shape).
    "q_snapshot_diff" ->
      """WITH b AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |    o_orderkey % 3 AS bid
        |  FROM orders),
        |v AS (SELECT 0 AS ver UNION ALL SELECT 1 UNION ALL SELECT 2),
        |r AS (SELECT v.ver, b.o_custkey, b.o_orderkey, b.o_totalprice,
        |    row_number() OVER (PARTITION BY v.ver, b.o_custkey
        |      ORDER BY b.bid DESC, b.o_orderkey DESC) AS rk
        |  FROM v JOIN b ON b.bid <= v.ver),
        |s AS (SELECT ver, o_custkey, o_orderkey, o_totalprice FROM r WHERE rk = 1),
        |tr AS (SELECT 0 AS from_v UNION ALL SELECT 1),
        |u AS (SELECT tr.from_v, s.ver, s.o_custkey, s.o_orderkey, s.o_totalprice
        |  FROM tr JOIN s ON s.ver IN (tr.from_v, tr.from_v + 1)),
        |g AS (SELECT from_v, o_custkey,
        |    max(CASE WHEN ver = from_v THEN 1 ELSE 0 END) AS has_old,
        |    max(CASE WHEN ver = from_v + 1 THEN 1 ELSE 0 END) AS has_new,
        |    max(CASE WHEN ver = from_v THEN o_orderkey END) AS oa,
        |    max(CASE WHEN ver = from_v + 1 THEN o_orderkey END) AS ob,
        |    max(CASE WHEN ver = from_v THEN o_totalprice END) AS pa,
        |    max(CASE WHEN ver = from_v + 1 THEN o_totalprice END) AS pb
        |  FROM u GROUP BY from_v, o_custkey)
        |SELECT CAST(from_v AS BIGINT) AS from_v,
        |  CAST(from_v + 1 AS BIGINT) AS to_v,
        |  CAST(sum(CASE WHEN has_old = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN has_old = 1 AND has_new = 1
        |    AND (oa <> ob OR pa <> pb) THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN has_old = 1 AND has_new = 1
        |    AND oa = ob AND pa = pb THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
        |  CAST(sum(CASE WHEN has_new = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted
        |FROM g GROUP BY from_v
        |ORDER BY from_v""".stripMargin,
    "src_json_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // multiLine JSON-array parse must be value-invisible, same as
    // every other format round-trip.
    "src_multiline_json" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Same unique (cents, orderkey) rank and closed-form bucket
    // index both sides.
    "q_equidepth_hist" ->
      """WITH s AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
        |    AS cents, o_orderkey FROM orders),
        |r AS (SELECT cents, row_number() OVER (ORDER BY cents, o_orderkey)
        |    AS rk, count(*) OVER () AS nn FROM s)
        |SELECT CAST((rk - 1) * 10 // nn AS BIGINT) AS bucket,
        |  count(*) AS n_rows, min(cents) AS lo_cents, max(cents) AS hi_cents
        |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin,
    "p_chunks" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(greatest(ceil(length(text)/200.0), 1) AS BIGINT))) AS i
        |  FROM documents)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(length(substr(text, CAST(i*200+1 AS INT), 200)) AS BIGINT) AS n_chunk_chars,
        |  md5(substr(text, CAST(i*200+1 AS INT), 200)) AS chunk_md5
        |FROM c
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "p_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    doc_id % 32 AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens, shard,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  CAST(CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) * 32 + shard AS BIGINT) AS seq_id
        |FROM c
        |ORDER BY doc_id""".stripMargin,
    "t_bigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |idx AS (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1))) AS i FROM toks),
        |occ AS (SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram,
        |    t[i] AS w1 FROM idx),
        |bi AS (SELECT bigram, count(*) AS b FROM occ GROUP BY 1),
        |uni AS (SELECT w1, count(*) AS u FROM occ GROUP BY 1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(CAST(round(ln(CAST(b AS DOUBLE) / u) * 10000) AS BIGINT)) AS BIGINT)
        |    AS logprob_e4
        |FROM occ JOIN bi USING (bigram) JOIN uni USING (w1)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // Presence flags as literal list_contains sums; symbol counts from
    // the same char class; e4 from exact integers.
    "t_code_detect" ->
      """WITH d AS (SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS toks,
        |    length(regexp_replace(text, '[^{}\[\]();=<>]', '', 'g')) AS n_symbols
        |  FROM documents)
        |SELECT doc_id, CAST(n_symbols AS BIGINT) AS n_symbols,
        |  CAST(round(n_symbols * 10000.0 / greatest(length(text), 1)) AS BIGINT)
        |    AS sym_ratio_e4,
        |  CAST(CASE WHEN list_contains(toks, 'def') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'return') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'import') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'class') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'if') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'else') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'for') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'while') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'var') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'val') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'function') THEN 1 ELSE 0 END AS BIGINT) AS n_kw_kinds,
        |  (round(n_symbols * 10000.0 / greatest(length(text), 1)) >= 300
        |    OR CASE WHEN list_contains(toks, 'def') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'return') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'import') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'class') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'if') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'else') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'for') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'while') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'var') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'val') THEN 1 ELSE 0 END + CASE WHEN list_contains(toks, 'function') THEN 1 ELSE 0 END >= 3) AS is_code
        |FROM d
        |ORDER BY doc_id""".stripMargin,
    // Same planted residues + regexp counts; integral tag density.
    "t_markup_detect" ->
      """WITH docs AS (SELECT doc_id,
        |    CASE WHEN doc_id % 30 = 4 THEN
        |        '<div> <p class="x"> ' || trim(text) || ' </p> </div>'
        |      WHEN doc_id % 30 = 9 THEN '&amp; &lt; &gt; ' || trim(text)
        |      ELSE text END AS text
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '<[^>]+>')) AS BIGINT) AS n_tags,
        |    CAST(len(regexp_extract_all(text, '&[a-z]+;')) AS BIGINT) AS n_entities,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM docs)
        |SELECT doc_id, n_tags, n_entities, n_chars,
        |  (10000 * n_tags) // greatest(n_chars, 1) AS tag_ratio_e4,
        |  n_tags >= 3 OR n_entities >= 3 AS is_markup
        |FROM c ORDER BY doc_id""".stripMargin,
    // All three counters are exact integers; the single float
    // expression states the identical tree from the same integers.
    "t_readability" ->
      """WITH d AS (SELECT doc_id,
        |    greatest(len(regexp_split_to_array(trim(text), '\s+')), 1) AS w,
        |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS sy
        |  FROM documents)
        |SELECT doc_id, CAST(w AS BIGINT) AS n_words,
        |  CAST(s AS BIGINT) AS n_sentences, CAST(sy AS BIGINT) AS n_syllables,
        |  CAST(round((206.835 - 1.015 * (CAST(w AS DOUBLE) / s)
        |    - 84.6 * (CAST(sy AS DOUBLE) / w)) * 10000) AS BIGINT) AS flesch_e4
        |FROM d ORDER BY doc_id""".stripMargin,
    // Same split hashes as p_split; per-term e4 rounding before the
    // sum keeps the float path integer-exact across engines. The CROSS
    // JOIN v is a one-row scalar (vocab size), not a data cross.
    "t_heldout_lm" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    substr(md5(CAST(doc_id AS VARCHAR) || ':split:42'), 1, 8) AS hh,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |idx AS (SELECT doc_id, hh, t, unnest(range(1, greatest(len(t), 1))) AS i
        |  FROM toks),
        |occ AS (SELECT doc_id, hh, t[i] || ' ' || t[i + 1] AS bigram,
        |    t[i] AS w1 FROM idx),
        |train AS (SELECT * FROM occ WHERE hh < 'f5c28f5c'),
        |vo AS (SELECT * FROM occ WHERE hh >= 'f5c28f5c' AND hh < 'fae147ae'),
        |bi AS (SELECT bigram, count(*) AS b FROM train GROUP BY 1),
        |uni AS (SELECT w1, count(*) AS u FROM train GROUP BY 1),
        |v AS (SELECT count(DISTINCT w1) AS nv FROM train)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(CAST(round(log2(
        |      (CAST(coalesce(b, 0) + 1 AS DOUBLE)) / (coalesce(u, 0) + nv)
        |    ) * 10000) AS BIGINT)) AS BIGINT) AS logprob2_e4
        |FROM vo LEFT JOIN bi USING (bigram) LEFT JOIN uni USING (w1) CROSS JOIN v
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // Integer rate arithmetic and the 16-bit hash Bernoulli, stated
    // identically: copies = num//den + [h16*den < (num%den)*65536].
    "p_epoch_schedule" ->
      """WITH docs AS (SELECT doc_id, source,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':epoch:42'),
        |      1, 4)) AS BIGINT) AS h16
        |  FROM documents),
        |w AS (SELECT source, count(*) AS n,
        |    CAST(round(sqrt(count(*)) * 1000000) AS BIGINT) AS w_e6
        |  FROM docs GROUP BY source),
        |t AS (SELECT CAST(sum(w_e6) AS BIGINT) AS tot_w,
        |    CAST(sum(n) AS BIGINT) AS nn FROM w),
        |r AS (SELECT source, w_e6 * nn * 4 AS num, tot_w * n AS den
        |  FROM w CROSS JOIN t)
        |SELECT doc_id, source,
        |  CAST(num // den + CASE WHEN h16 * den < (num % den) * 65536
        |    THEN 1 ELSE 0 END AS BIGINT) AS n_copies
        |FROM docs JOIN r USING (source)
        |ORDER BY doc_id""".stripMargin,
    // Same hashed-n-gram buckets, add-one smoothing, and per-ln e4
    // rounding as the engine; the per-source top-half rank mirrors
    // the stratified selection window.
    "p_dsir" ->
      """WITH base AS (SELECT doc_id, lang, source,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |uni AS (SELECT doc_id, lang, source, unnest(t) AS gram FROM base),
        |idx AS (SELECT doc_id, lang, source, t,
        |    unnest(range(1, greatest(len(t) - 1, 1) + 1)) AS i FROM base),
        |bi AS (SELECT doc_id, lang, source, t[i] || ' ' || t[i + 1] AS gram
        |  FROM idx WHERE i + 1 <= len(t)),
        |occ AS (SELECT doc_id, lang, source,
        |    CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % 256 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        |raw AS (SELECT b, count(*) AS cr FROM occ GROUP BY 1),
        |tgt AS (SELECT b, count(*) AS ct FROM occ WHERE lang = 'en' GROUP BY 1),
        |stats AS (SELECT raw.b, cr, coalesce(ct, 0) AS ct
        |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
        |tot AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
        |    CAST(sum(ct) AS BIGINT) AS nt FROM stats),
        |delta AS (SELECT b,
        |    CAST(round(ln(CAST(ct + 1 AS DOUBLE) / (nt + 256)) * 10000) AS BIGINT)
        |      - CAST(round(ln(CAST(cr + 1 AS DOUBLE) / (nr + 256)) * 10000) AS BIGINT)
        |      AS delta_e4
        |  FROM stats CROSS JOIN tot),
        |scored AS (SELECT doc_id, lang, source, count(*) AS n_grams,
        |    CAST(sum(delta_e4) AS BIGINT) AS score_e4
        |  FROM occ JOIN delta USING (b)
        |  GROUP BY doc_id, lang, source),
        |ns AS (SELECT source, count(*) AS n_src FROM scored GROUP BY 1),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY score_e4 DESC, doc_id) AS rk FROM scored)
        |SELECT doc_id, lang, source, CAST(n_grams AS BIGINT) AS n_grams,
        |  score_e4, rk <= n_src // 2 AS selected
        |FROM ranked JOIN ns USING (source)
        |ORDER BY doc_id""".stripMargin,
    "p_domain_cap" ->
      """WITH ranked AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':graft'), doc_id) AS rk
        |  FROM documents)
        |SELECT source, doc_id FROM ranked WHERE rk <= 5
        |ORDER BY source, doc_id""".stripMargin,
    "p_funnel" ->
      """SELECT count(*) AS n_raw,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
        |  CAST(sum(CASE WHEN lang = 'en'
        |    AND len(regexp_split_to_array(trim(text), '\s+')) >= 10
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_tokens_gate,
        |  CAST(sum(CASE WHEN lang = 'en'
        |    AND len(regexp_split_to_array(trim(text), '\s+')) >= 10
        |    AND length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 2 >= length(text)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha_gate,
        |  count(DISTINCT CASE WHEN lang = 'en'
        |    AND len(regexp_split_to_array(trim(text), '\s+')) >= 10
        |    AND length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 2 >= length(text)
        |    THEN md5(text) END) AS n_distinct_clean
        |FROM documents""".stripMargin,
    // Exact floor means and e6 shares from the same integer sums.
    "p_corpus_report" ->
      """WITH g AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
        |      AS BIGINT) AS sum_tokens
        |  FROM documents GROUP BY source, lang),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM g)
        |SELECT source, lang, n_docs,
        |  n_docs * 1000000 // total AS share_e6,
        |  sum_chars * 100 // n_docs AS mean_chars_e2,
        |  sum_tokens * 100 // n_docs AS mean_tokens_e2
        |FROM g, t
        |ORDER BY source, lang""".stripMargin,
    "p_source_mix" ->
      """SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents
        |GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin,
    // Line-level boilerplate: same split + zip-unnest explode both
    // sides; string_agg(... ORDER BY pos) re-assembles survivors in
    // document order (aggregates skip the CASE's NULLs, mirroring
    // collect_list); coalesce('') keeps an all-removed doc's md5('')
    // equal to Spark's concat_ws over an empty array.
    "p_line_dedup" ->
      """WITH pages AS (
        |  SELECT doc_id, 'source: ' || source || chr(10) || text
        |    || chr(10) || '(c) corpus ' || lang AS text FROM documents),
        |parts AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS p FROM pages),
        |idx AS (SELECT doc_id, p, unnest(range(1, len(p) + 1)) AS i FROM parts),
        |lines AS (SELECT doc_id, i AS pos, p[i] AS line FROM idx),
        |bp AS (SELECT md5(line) AS h FROM lines
        |  WHERE length(trim(line)) > 0
        |  GROUP BY md5(line) HAVING count(DISTINCT doc_id) >= 3),
        |fl AS (SELECT l.doc_id, l.pos, l.line, b.h IS NOT NULL AS is_bp
        |  FROM lines l LEFT JOIN bp b ON b.h = md5(l.line))
        |SELECT doc_id, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN is_bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  md5(coalesce(string_agg(CASE WHEN NOT is_bp THEN line END,
        |    chr(10) ORDER BY pos), '')) AS clean_md5
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "p_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |idx AS (SELECT doc_id, t,
        |    unnest(range(0, greatest(len(t) - 8, 0) + 1)) AS i FROM toks),
        |sh AS (SELECT doc_id,
        |    array_to_string(t[i + 1:least(i + 8, len(t))], ' ') AS ng FROM idx),
        |bench AS (SELECT DISTINCT md5(ng) AS h FROM sh WHERE doc_id % 20 = 0),
        |corp AS (SELECT DISTINCT doc_id, md5(ng) AS h FROM sh WHERE doc_id % 20 <> 0)
        |SELECT doc_id, count(*) AS n_hits
        |FROM corp JOIN bench USING (h)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "t_pii" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'https?://[^ \t\n]+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(text, '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^ \t\n]+', '<URL>', 'g'),
        |    '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g')) AS redacted_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "d_exact_dedup" ->
      """SELECT min(doc_id) AS doc_id FROM documents
        |GROUP BY md5(text)
        |ORDER BY doc_id""".stripMargin,
    // The full curation pipeline in closed form: per-doc gates, then
    // survivor = min gated id per identical-text group (an exact
    // cluster's members share one text, so gates agree cluster-wide).
    "p_clean_corpus_exact" ->
      """WITH m AS (
        |  SELECT doc_id, text,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(list_intersect(toks, ['the','a','of','and','to','in','is','that','it','for'])) AS en,
        |    len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','mit','zu','auf'])) AS de,
        |    len(list_intersect(toks, ['le','la','les','et','est','dans','un','une','pour','que'])) AS fr,
        |    len(list_intersect(toks, ['el','los','y','es','en','un','una','por','con','para'])) AS es,
        |    regexp_matches(text, '[\x{4e00}-\x{9fff}]') AS zh
        |  FROM m),
        |gated AS (
        |  SELECT m.doc_id, m.text, m.n_tokens, m.n_chars
        |  FROM m JOIN s USING (doc_id)
        |  WHERE NOT s.zh AND greatest(en, de, fr, es) > 0
        |    AND en = greatest(en, de, fr, es)
        |    AND m.n_tokens >= 10 AND m.n_alpha * 2 >= m.n_chars),
        |surv AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text))
        |SELECT g.doc_id, g.n_tokens, g.n_chars
        |FROM gated g JOIN surv USING (doc_id)
        |ORDER BY g.doc_id""".stripMargin,
    // The chain-pair CC verdict must equal the closed form: cluster =
    // min doc_id over each identical-text group (md5 equality is
    // engine-independent, unlike the MinHash/SimHash pair sources).
    "p_priority_dedup" ->
      """WITH docs AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 25 = 3 THEN 'PLANTED DUP ALPHA'
        |         WHEN doc_id % 25 = 7 THEN 'PLANTED DUP BETA'
        |         ELSE text END AS text
        |  FROM documents),
        |h AS (SELECT doc_id, source, md5(text) AS h,
        |    CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 2
        |         WHEN source IN ('src5','src6','src7','src8','src9') THEN 1
        |         ELSE 0 END AS prio
        |  FROM docs),
        |r AS (SELECT doc_id, source, h,
        |    row_number() OVER (PARTITION BY h ORDER BY prio DESC, doc_id) AS rk,
        |    CAST(min(doc_id) OVER (PARTITION BY h) AS BIGINT) AS cluster_id
        |  FROM h),
        |s AS (SELECT h, CAST(doc_id AS BIGINT) AS survivor_id FROM r WHERE rk = 1)
        |SELECT doc_id, source, cluster_id, survivor_id,
        |  doc_id = survivor_id AS is_survivor
        |FROM r JOIN s USING (h)
        |ORDER BY doc_id""".stripMargin,
    "d_dup_clusters_exact" ->
      """WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
        |c AS (SELECT h, CAST(min(doc_id) AS BIGINT) AS cluster_id
        |      FROM h GROUP BY h)
        |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_survivor
        |FROM h JOIN c USING (h)
        |ORDER BY doc_id""".stripMargin,
    // Norms stated as the native self-dot tree; e4 per row BEFORE
    // the integer mean so engine sum order is irrelevant.
    "e_norm_stats" ->
      """WITH d AS (SELECT CAST(label AS BIGINT) AS label,
        |    CAST(round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) * 10000) AS BIGINT) AS norm_e4
        |  FROM embeddings)
        |SELECT label, count(*) AS n_vecs,
        |  min(norm_e4) AS min_norm_e4, max(norm_e4) AS max_norm_e4,
        |  CAST(sum(norm_e4) // count(*) AS BIGINT) AS mean_norm_e4
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // CosineSim's exact tree (dot / (nrm·nrm)), e4 per pair, exact
    // integer max per class, 500-e4 margin both sides.
    "e_triplet" ->
      s"""WITH n AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(embedding AS DOUBLE[]) AS de,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS q_label, de AS qe,
        |    nrm AS qn FROM n WHERE vec_id < $QL),
        |s AS (SELECT q.query_id, q.q_label, e.label = q.q_label AS same,
        |    CAST(round(list_dot_product(e.de, q.qe) / (e.nrm * q.qn)
        |      * 10000) AS BIGINT) AS sim_e4
        |  FROM n e JOIN q ON e.vec_id <> q.query_id)
        |SELECT query_id, q_label,
        |  max(CASE WHEN same THEN sim_e4 END) AS best_same_e4,
        |  max(CASE WHEN NOT same THEN sim_e4 END) AS best_diff_e4,
        |  max(CASE WHEN same THEN sim_e4 END) >=
        |    max(CASE WHEN NOT same THEN sim_e4 END) + 500 AS margin_ok
        |FROM s GROUP BY 1, 2 ORDER BY query_id""".stripMargin,
    // Same e16 quantization + s // n centroid as e_outliers; HUGEINT
    // ratio ≡ Spark's DECIMAL(38,0) div.
    "e_isotropy" ->
      """WITH dims AS (SELECT vec_id, t.i AS dim,
        |    CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 65536 + 0.5)
        |      AS BIGINT) AS qd
        |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) t),
        |mu AS (SELECT CAST(sum(cd * cd) AS BIGINT) AS mu_norm2_q,
        |    CAST(max(n) AS BIGINT) AS n_vecs
        |  FROM (SELECT dim, CAST(sum(qd) // count(*) AS BIGINT) AS cd,
        |      count(*) AS n FROM dims GROUP BY 1)),
        |sq AS (SELECT CAST(sum(qd * qd) AS BIGINT) AS sum_norm2_q FROM dims)
        |SELECT n_vecs, mu_norm2_q, sum_norm2_q,
        |  CAST(CAST(mu_norm2_q AS HUGEINT) * n_vecs * 1000000
        |    // CAST(sum_norm2_q AS HUGEINT) AS BIGINT) AS common_dir_e6
        |FROM mu CROSS JOIN sq""".stripMargin,
    // Semantic verdict in closed form: cosine-threshold pairs (same
    // exact expression tree as CosineSim — DuckDB's builtin differs in
    // the last ulp, see e_knn_graph) → recursive-CTE connected
    // components (the g_cc labeling) → min-id survivor; pairless
    // vectors are singletons. Valid while the Spark side's exact
    // dispatch branch holds (embeddings <= ExactKnnMaxRows — the
    // entry asserts it loudly).
    "d_semantic_dedup_exact" ->
      """WITH RECURSIVE n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings),
        |p AS (SELECT a.vec_id AS src, b.vec_id AS dst
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE CAST(round(list_dot_product(a.de, b.de) / (a.nrm * b.nrm)
        |    * 10000) AS BIGINT) >= 4000),
        |sym AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
        |verts AS (SELECT DISTINCT src AS v FROM sym),
        |reach(v, u) AS (
        |  SELECT v, v FROM verts
        |  UNION
        |  SELECT r.v, s.dst FROM reach r JOIN sym s ON s.src = r.u),
        |comp AS (SELECT v, CAST(min(u) AS BIGINT) AS c FROM reach GROUP BY v)
        |SELECT e.vec_id, coalesce(comp.c, e.vec_id) AS cluster_id,
        |  e.vec_id = coalesce(comp.c, e.vec_id) AS is_survivor
        |FROM embeddings e LEFT JOIN comp ON comp.v = e.vec_id
        |ORDER BY e.vec_id""".stripMargin,
    "d_incremental" ->
      """SELECT doc_id FROM documents d
        |WHERE doc_id >= 250 AND NOT EXISTS (
        |  SELECT 1 FROM documents e
        |  WHERE md5(e.text) = md5(d.text) AND e.doc_id < d.doc_id)
        |ORDER BY doc_id""".stripMargin,
    // exact_new in closed form; ok = TRUE pins the Bloom no-false-
    // negative implication (¬exact_new ⇒ probe-positive) — a missed
    // dup hash-fails here, the cms_ok pattern.
    "d_bloom_dedup" ->
      """WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
        |base AS (SELECT DISTINCT h FROM h WHERE doc_id < 250)
        |SELECT b.doc_id, base.h IS NULL AS exact_new, TRUE AS ok
        |FROM h b LEFT JOIN base ON base.h = b.h
        |WHERE b.doc_id >= 250
        |ORDER BY b.doc_id""".stripMargin,
    "e_kcenter" -> kcenterOracleSql(8),
    // Same e4 rounding then SHIFTED integer division (non-negative ⇒
    // truncating div ≡ floor //); cosine stated as the engine's
    // expression tree (list_dot / sqrt·sqrt — the float-oracle rule).
    "e_calibration" ->
      s"""WITH p AS (
        |  SELECT CAST(round(
        |      list_dot_product(CAST(q.embedding AS DOUBLE[]),
        |        CAST(e.embedding AS DOUBLE[]))
        |      / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
        |          CAST(q.embedding AS DOUBLE[])))
        |        * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |          CAST(e.embedding AS DOUBLE[])))) * 10000)
        |      AS BIGINT) AS sim_e4,
        |    CASE WHEN e.label = q.label THEN 1 ELSE 0 END AS same
        |  FROM (SELECT * FROM embeddings WHERE vec_id < $QL) q
        |  JOIN embeddings e ON e.vec_id <> q.vec_id)
        |SELECT (sim_e4 + 10000) // 1000 AS bucket,
        |  count(*) AS n_pairs, CAST(sum(same) AS BIGINT) AS n_same,
        |  CAST(sum(same) * 10000 // count(*) AS BIGINT) AS same_frac_e4
        |FROM p GROUP BY 1 ORDER BY bucket""".stripMargin,
    "e_cosine_topk" ->
      s"""SELECT query_id, neighbor_id, rank,
        |  CAST(round(sim * 10000) AS BIGINT) AS sim_e4
        |FROM (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.embedding, e.embedding) AS sim,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
        |        e.vec_id ASC) AS rank
        |  FROM (SELECT * FROM embeddings WHERE vec_id < $QL) q
        |  JOIN embeddings e ON e.vec_id <> q.vec_id) t
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // MIPS scored as f·⟨q,x⟩ with the per-id importance factor and
    // list_dot_product over DOUBLE[] casts — the InnerProduct
    // expression's exact tree; ranking on the e4 integer both sides.
    "e_mips" ->
      s"""WITH q AS (SELECT vec_id AS query_id,
        |    CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id < $QL),
        |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |    CAST(round((1.0 + (e.vec_id % 7) / 4.0)
        |      * list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
        |      * 10000) AS BIGINT) AS ip_e4
        |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
        |r AS (SELECT query_id, neighbor_id, ip_e4,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY ip_e4 DESC, neighbor_id ASC) AS rank
        |  FROM s)
        |SELECT query_id, neighbor_id, rank, ip_e4 FROM r
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // Range search filters on the e4-rounded integer, so the τ
    // boundary is engine-exact; cosine stated as the native
    // expression's tree (list_dot_product over DOUBLE[] casts).
    // Same e16 quantization and own-centroid integer distances; lower
    // medians by (nn + 1) // 2 ordered selection, farthest point via
    // the unique-ranked window (struct argmax - CLAUDE rule).
    // TwoNN intrinsic dimension: distances through the polarization
    // identity over e16-quantized ints (exact in doubles: 64 dims x
    // (2^17)^2 << 2^53) — identical integers to the Spark-side
    // native QuantSqDist loop; per-point ln(mu) e6-rounded before
    // the integer sum, one double tree for the MLE, duplicates
    // (r1 = 0) dropped per the paper's preprocessing.
    "e_intrinsic_dim" ->
      """WITH q AS (SELECT vec_id,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> floor(x * 65536 + 0.5)) AS qa
        |  FROM embeddings),
        |nrm AS (SELECT vec_id, qa, list_dot_product(qa, qa) AS n2 FROM q),
        |p AS (SELECT a.vec_id AS a, b.vec_id AS b,
        |    CAST(a.n2 + b.n2 - 2 * list_dot_product(a.qa, b.qa) AS BIGINT)
        |      AS d2
        |  FROM nrm a, nrm b WHERE a.vec_id <> b.vec_id),
        |r AS (SELECT a, b, d2,
        |    row_number() OVER (PARTITION BY a ORDER BY d2, b) AS rk FROM p),
        |nn AS (SELECT a,
        |    min(CASE WHEN rk = 1 THEN d2 END) AS d1,
        |    min(CASE WHEN rk = 2 THEN d2 END) AS dn2
        |  FROM r WHERE rk <= 2 GROUP BY a),
        |l AS (SELECT CAST(round(ln(CAST(dn2 AS DOUBLE) / d1) * 500000)
        |      AS BIGINT) AS lnmu_e6
        |  FROM nn WHERE d1 > 0),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
        |    CAST(sum(lnmu_e6) AS BIGINT) AS sum_lnmu_e6 FROM l)
        |SELECT n_points, sum_lnmu_e6,
        |  CASE WHEN sum_lnmu_e6 > 0 THEN
        |    CAST(round(CAST(n_points AS DOUBLE) * 1000000 / sum_lnmu_e6
        |      * 10000) AS BIGINT) END AS id_e4
        |FROM f""".stripMargin,
    "e_outliers" ->
      """WITH dims AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label, t.i AS dim,
        |    CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 65536 + 0.5)
        |      AS BIGINT) AS qd
        |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) t),
        |cent AS (SELECT label, dim,
        |    CAST(sum(qd) // count(*) AS BIGINT) AS cd
        |  FROM dims GROUP BY 1, 2),
        |own AS (SELECT d.vec_id, d.label,
        |    CAST(sum((d.qd - c.cd) * (d.qd - c.cd)) AS BIGINT) AS d2
        |  FROM dims d JOIN cent c ON d.dim = c.dim AND d.label = c.label
        |  GROUP BY 1, 2),
        |r1 AS (SELECT label, d2,
        |    row_number() OVER (PARTITION BY label ORDER BY d2, vec_id) AS rk,
        |    count(*) OVER (PARTITION BY label) AS nn FROM own),
        |med AS (SELECT label, d2 AS med_d2 FROM r1 WHERE rk = (nn + 1) // 2),
        |dev AS (SELECT o.vec_id, o.label, o.d2, m.med_d2,
        |    abs(o.d2 - m.med_d2) AS ad
        |  FROM own o JOIN med m ON o.label = m.label),
        |r2 AS (SELECT label, ad,
        |    row_number() OVER (PARTITION BY label ORDER BY ad, vec_id) AS rk,
        |    count(*) OVER (PARTITION BY label) AS nn FROM dev),
        |mad AS (SELECT label, ad AS mad_d2 FROM r2 WHERE rk = (nn + 1) // 2),
        |fr AS (SELECT label, vec_id AS far_id FROM (
        |    SELECT label, vec_id, row_number() OVER (PARTITION BY label
        |      ORDER BY d2 DESC, vec_id DESC) AS rk FROM own) t WHERE rk = 1)
        |SELECT dev.label, CAST(count(*) AS BIGINT) AS n_points,
        |  CAST(max(dev.med_d2) AS BIGINT) AS med_d2,
        |  CAST(max(mad.mad_d2) AS BIGINT) AS mad_d2,
        |  CAST(sum(CASE WHEN dev.d2 > dev.med_d2 + 3 * mad.mad_d2
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(max(fr.far_id) AS BIGINT) AS far_id
        |FROM dev JOIN mad ON dev.label = mad.label
        |  JOIN fr ON dev.label = fr.label
        |GROUP BY dev.label
        |ORDER BY dev.label""".stripMargin,
    // Identical e16 quantization (float·2^16 in double is exact, floor
    // is convention-free), truncating integer centroid division and
    // BIGINT distance algebra — no float summation-order hazard.
    "e_silhouette" ->
      """WITH dims AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label, t.i AS dim,
        |    CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 65536 + 0.5)
        |      AS BIGINT) AS qd
        |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) t),
        |cent AS (SELECT label AS clabel, dim,
        |    CAST(sum(qd) // count(*) AS BIGINT) AS cd
        |  FROM dims GROUP BY 1, 2),
        |dist AS (SELECT d.vec_id, d.label, c.clabel,
        |    CAST(sum((d.qd - c.cd) * (d.qd - c.cd)) AS BIGINT) AS d2
        |  FROM dims d JOIN cent c ON d.dim = c.dim
        |  GROUP BY 1, 2, 3),
        |own AS (SELECT vec_id, label, d2 AS a FROM dist WHERE label = clabel),
        |oth AS (SELECT vec_id, min(d2) AS b FROM dist
        |  WHERE label <> clabel GROUP BY 1),
        |s AS (SELECT o.label,
        |    CASE WHEN greatest(a, b) = 0 THEN 0
        |      ELSE (b - a) * 1000000 // greatest(a, b) END AS s_e6
        |  FROM own o JOIN oth ON o.vec_id = oth.vec_id)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_points,
        |  CAST(sum(s_e6) // count(*) AS BIGINT) AS mean_s_e6,
        |  CAST(min(s_e6) AS BIGINT) AS min_s_e6,
        |  CAST(max(s_e6) AS BIGINT) AS max_s_e6
        |FROM s GROUP BY label ORDER BY label""".stripMargin,
    "e_range_search" ->
      s"""WITH q AS (SELECT vec_id AS query_id,
        |    CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id < $QL),
        |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |    CAST(round(
        |      list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
        |      / (sqrt(list_dot_product(q.qe, q.qe))
        |         * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |                                 CAST(e.embedding AS DOUBLE[]))))
        |      * 10000) AS BIGINT) AS sim_e4
        |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, sim_e4 FROM s
        |WHERE sim_e4 >= 3000
        |ORDER BY query_id, sim_e4 DESC, neighbor_id""".stripMargin,
    // Cosine stated with the native expression's EXACT tree (double
    // accumulation, dot / (sqrt(na)·sqrt(nb))): DuckDB's builtin
    // list_cosine_similarity differs in the last ulp, which flipped
    // one e4 rounding at a .5 boundary over the full 250k-pair set.
    // In-degrees over the same exact kNN edge CTE, zero-filled on the
    // corpus; p99 by the discrete ceil selection, Gini closed form.
    "e_hubness" ->
      """WITH p AS (
        |  SELECT a.vec_id, e.vec_id AS neighbor_id,
        |    list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |        CAST(e.embedding AS DOUBLE[]))
        |      / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |            CAST(a.embedding AS DOUBLE[])))
        |        * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |            CAST(e.embedding AS DOUBLE[])))) AS sim
        |  FROM embeddings a JOIN embeddings e ON e.vec_id <> a.vec_id),
        |edges AS (SELECT neighbor_id FROM (
        |    SELECT vec_id, neighbor_id, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY sim DESC, neighbor_id ASC)
        |      AS rank FROM p) t
        |  WHERE rank <= 10),
        |ind AS (SELECT em.vec_id,
        |    CAST(coalesce(c.indeg, 0) AS BIGINT) AS x
        |  FROM embeddings em LEFT JOIN (
        |    SELECT neighbor_id AS vec_id, count(*) AS indeg
        |    FROM edges GROUP BY 1) c ON em.vec_id = c.vec_id),
        |r AS (SELECT x, CAST(row_number() OVER (ORDER BY x, vec_id)
        |    AS BIGINT) AS i, CAST(count(*) OVER () AS BIGINT) AS nn
        |  FROM ind)
        |SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(max(x) AS BIGINT) AS max_indeg,
        |  CAST(max(CASE WHEN i = (99 * nn + 99) // 100 THEN x END)
        |    AS BIGINT) AS p99_indeg,
        |  CAST(sum(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_antihubs,
        |  CAST((2 * sum(i * x) - (count(*) + 1) * sum(x)) * 1000000
        |    // (count(*) * sum(x)) AS BIGINT) AS gini_e6
        |FROM r""".stripMargin,
    "e_knn_graph" ->
      """WITH p AS (
        |  SELECT a.vec_id, e.vec_id AS neighbor_id,
        |    list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |        CAST(e.embedding AS DOUBLE[]))
        |      / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
        |            CAST(a.embedding AS DOUBLE[])))
        |        * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |            CAST(e.embedding AS DOUBLE[])))) AS sim
        |  FROM embeddings a JOIN embeddings e ON e.vec_id <> a.vec_id)
        |SELECT vec_id, neighbor_id, rank,
        |  CAST(round(sim * 10000) AS BIGINT) AS sim_e4
        |FROM (SELECT vec_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY sim DESC, neighbor_id ASC) AS rank FROM p) t
        |WHERE rank <= 10
        |ORDER BY vec_id, rank""".stripMargin,
    "t_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Same unique (count DESC, token ASC) order and BIGINT cums both
    // sides; budgets clamp to vocab via least() in both engines.
    "t_vocab_coverage" ->
      """WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
        |    AS token FROM documents),
        |c AS (SELECT token, count(*) AS n FROM t GROUP BY token),
        |r AS (SELECT token, n,
        |    row_number() OVER (ORDER BY n DESC, token ASC) AS rk,
        |    sum(n) OVER (ORDER BY n DESC, token ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM c),
        |tot AS (SELECT sum(n) AS tot, count(*) AS vocab FROM c),
        |s AS (SELECT unnest([1,2,4,8,16,32,64,128,256,512,1024,2048,
        |    4096,8192,16384]) AS rb)
        |SELECT CAST(s.rb AS BIGINT) AS rank_budget,
        |  CAST(least(s.rb, tot.vocab) AS BIGINT) AS n_tokens,
        |  CAST(r.cum AS BIGINT) AS covered,
        |  CAST(r.cum * 1000000 // tot.tot AS BIGINT) AS coverage_e6
        |FROM s CROSS JOIN tot
        |JOIN r ON r.rk = least(s.rb, tot.vocab)
        |ORDER BY rank_budget""".stripMargin,
    "t_top_tokens" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents) t
        |GROUP BY token
        |ORDER BY n DESC, token ASC
        |LIMIT 25""".stripMargin,
    "t_top_bigrams" ->
      """WITH toks AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |idx AS (
        |  SELECT t, unnest(range(1, greatest(len(t) - 1, 1) + 1)) AS i FROM toks)
        |SELECT bigram, count(*) AS n FROM (
        |  SELECT CASE WHEN i + 1 <= len(t) THEN t[i] || ' ' || t[i + 1]
        |    ELSE t[i] END AS bigram FROM idx) b
        |GROUP BY bigram
        |ORDER BY n DESC, bigram ASC
        |LIMIT 25""".stripMargin,
    "t_collocations" ->
      """WITH toks AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |idx AS (SELECT t, unnest(range(1, greatest(len(t), 1))) AS i FROM toks),
        |occ AS (SELECT t[i] || ' ' || t[i + 1] AS bigram,
        |    t[i] AS w1, t[i + 1] AS w2 FROM idx),
        |nb AS (SELECT count(*) AS nb FROM occ),
        |bi AS (SELECT bigram, min(w1) AS w1, min(w2) AS w2, count(*) AS b
        |  FROM occ GROUP BY 1 HAVING count(*) >= 5),
        |c1 AS (SELECT w1, count(*) AS c1 FROM occ GROUP BY 1),
        |c2 AS (SELECT w2, count(*) AS c2 FROM occ GROUP BY 1)
        |SELECT bigram, b AS n,
        |  CAST(round(ln(CAST(b AS DOUBLE) * nb.nb
        |    / (CAST(c1.c1 AS DOUBLE) * c2.c2)) * 10000) AS BIGINT) AS pmi_e4
        |FROM bi CROSS JOIN nb
        |  JOIN c1 USING (w1) JOIN c2 USING (w2)
        |ORDER BY pmi_e4 DESC, bigram ASC
        |LIMIT 25""".stripMargin,
    // Retrieval pack: the shared generated BM25 CTE mirrors
    // Retrieval.bm25Scores term by term (per-term e4 rounding before
    // the integer sum; identical ln/division trees).
    "r_bm25" ->
      s"""$bm25OracleCte,
        |ranked AS (SELECT query_id, doc_id, bm25_e4,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY bm25_e4 DESC, doc_id ASC) AS INT) AS rank
        |  FROM bm25)
        |SELECT query_id, doc_id, bm25_e4, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // Dirichlet QL, inverted-index decomposition: matched-term e4
    // sums + |q| x the e4 length term — identical ln trees (μ, T, cf
    // all exact integers/constants both sides).
    "r_qlm" ->
      s"""$bm25OracleCte,
        |cf AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cf
        |  FROM tf GROUP BY 1),
        |qlen AS (SELECT query_id, CAST(count(*) AS BIGINT) AS qlen
        |  FROM qterms GROUP BY 1),
        |m AS (SELECT q.query_id, tf.doc_id,
        |    CAST(sum(CAST(round(ln(1 + CAST(tf AS DOUBLE) * totdl
        |      / (${graft.operators.Retrieval.Mu} * cf)) * 10000) AS BIGINT))
        |      AS BIGINT) AS m_e4
        |  FROM tf JOIN qterms q USING (token) JOIN cf USING (token), tot
        |  WHERE tf.doc_id <> q.query_id GROUP BY 1, 2),
        |ql AS (SELECT m.query_id, m.doc_id,
        |    m_e4 + qlen * CAST(round(ln(${graft.operators.Retrieval.Mu}
        |      / (dl + ${graft.operators.Retrieval.Mu})) * 10000) AS BIGINT)
        |      AS ql_e4
        |  FROM m JOIN qlen USING (query_id) JOIN dl ON dl.doc_id = m.doc_id),
        |ranked AS (SELECT query_id, doc_id, ql_e4,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY ql_e4 DESC, doc_id ASC) AS INT) AS rank FROM ql)
        |SELECT query_id, doc_id, ql_e4, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // RRF over the sparse top-10 and the dense cosine top-10 (the
    // explicit list_dot/sqrt·sqrt tree — the CosineSim ulp lesson);
    // contributions are exact 1e6 div (60+rank) integers.
    "r_rrf" ->
      s"""$bm25OracleCte,
        |st AS (SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY bm25_e4 DESC, doc_id ASC) AS INT) AS rank
        |  FROM bm25),
        |sparse AS (SELECT query_id, doc_id,
        |    CAST(1000000 // (60 + rank) AS BIGINT) AS c_sparse
        |  FROM st WHERE rank <= 10),
        |dq AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        |  FROM embeddings WHERE vec_id < ${graft.operators.Retrieval.QueryDocs}),
        |ds AS (SELECT dq.query_id, e.vec_id AS doc_id,
        |    CAST(round(list_dot_product(dq.qe, CAST(e.embedding AS DOUBLE[]))
        |      / (sqrt(list_dot_product(dq.qe, dq.qe))
        |        * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
        |            CAST(e.embedding AS DOUBLE[])))) * 10000) AS BIGINT) AS sim_e4
        |  FROM embeddings e, dq WHERE e.vec_id <> dq.query_id),
        |dt AS (SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim_e4 DESC, doc_id ASC) AS INT) AS rank FROM ds),
        |dense AS (SELECT query_id, doc_id,
        |    CAST(1000000 // (60 + rank) AS BIGINT) AS c_dense
        |  FROM dt WHERE rank <= 10),
        |f AS (SELECT coalesce(s.query_id, d.query_id) AS query_id,
        |    coalesce(s.doc_id, d.doc_id) AS doc_id,
        |    CAST(coalesce(s.c_sparse, 0) + coalesce(d.c_dense, 0) AS BIGINT)
        |      AS rrf_e6
        |  FROM sparse s FULL OUTER JOIN dense d
        |    ON s.query_id = d.query_id AND s.doc_id = d.doc_id),
        |r AS (SELECT query_id, doc_id, rrf_e6,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_e6 DESC, doc_id ASC) AS INT) AS rank FROM f)
        |SELECT query_id, doc_id, rrf_e6, rank FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // Relevance proxy = same (source, lang); binary-gain NDCG with
    // each 1/log2 term e4-rounded before the integer sums.
    "r_eval" ->
      s"""$bm25OracleCte,
        |run AS (SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY bm25_e4 DESC, doc_id ASC) AS INT) AS rank
        |  FROM bm25),
        |top AS (SELECT r.query_id, r.rank,
        |    CASE WHEN dm.source = qm.source AND dm.lang = qm.lang
        |      THEN 1 ELSE 0 END AS rel,
        |    CAST(round(10000 / log2(r.rank + 1)) AS BIGINT) AS dcg_term_e4
        |  FROM run r JOIN documents qm ON qm.doc_id = r.query_id
        |    JOIN documents dm ON dm.doc_id = r.doc_id
        |  WHERE r.rank <= 10),
        |top2 AS (SELECT *, CAST(sum(rel) OVER (PARTITION BY query_id)
        |    AS BIGINT) AS n_rel FROM top),
        |agg AS (SELECT query_id, max(n_rel) AS n_relevant,
        |    min(CASE WHEN rel = 1 THEN rank END) AS fr,
        |    CAST(sum(rel * dcg_term_e4) AS BIGINT) AS dcg_e4,
        |    CAST(sum(CASE WHEN rank <= n_rel THEN dcg_term_e4 ELSE 0 END)
        |      AS BIGINT) AS idcg_e4
        |  FROM top2 GROUP BY 1)
        |SELECT query_id, n_relevant,
        |  CAST(CASE WHEN fr IS NULL THEN 0
        |    ELSE 1000000 // fr END AS BIGINT) AS rr_e6,
        |  CAST(CASE WHEN idcg_e4 = 0 THEN 0
        |    ELSE dcg_e4 * 1000000 // idcg_e4 END AS BIGINT) AS ndcg_e6
        |FROM agg ORDER BY query_id""".stripMargin,
    // PSI with add-one smoothing over the top-50 combined-count
    // tokens; only the division/ln tree is float and it is stated
    // identically (integer numerators/denominators exact).
    "t_drift" ->
      """WITH t AS (SELECT doc_id % 2 AS par,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT token,
        |    CAST(sum(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
        |    CAST(sum(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_cur
        |  FROM t GROUP BY 1),
        |top AS (SELECT * FROM c ORDER BY c_ref + c_cur DESC, token ASC LIMIT 50),
        |tot AS (SELECT CAST(sum(c_ref) + 50 AS BIGINT) AS den_r,
        |    CAST(sum(c_cur) + 50 AS BIGINT) AS den_c FROM top)
        |SELECT token, c_ref, c_cur,
        |  CAST(round((CAST(c_ref + 1 AS DOUBLE) / den_r
        |    - CAST(c_cur + 1 AS DOUBLE) / den_c)
        |    * ln((CAST(c_ref + 1 AS DOUBLE) / den_r)
        |    / (CAST(c_cur + 1 AS DOUBLE) / den_c))
        |    * 1000000) AS BIGINT) AS psi_e6
        |FROM top, tot
        |ORDER BY psi_e6 DESC, token ASC""".stripMargin,
    // Fixed calendar cohorts + fixed 50k price bins on a 10-row
    // spine (never data-dependent); same smoothing and tree.
    "q_psi" ->
      """WITH o AS (SELECT
        |    CAST(least(floor(o_totalprice / 50000), 9) AS BIGINT) AS bin,
        |    CASE WHEN year(o_orderdate) < 1998 THEN 0 ELSE 1 END AS coh
        |  FROM orders),
        |c AS (SELECT bin,
        |    CAST(sum(CASE WHEN coh = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cr,
        |    CAST(sum(CASE WHEN coh = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cc
        |  FROM o GROUP BY 1),
        |spine AS (SELECT CAST(range AS BIGINT) AS bin FROM range(0, 10)),
        |f AS (SELECT s.bin, coalesce(c.cr, 0) AS c_ref,
        |    coalesce(c.cc, 0) AS c_cur
        |  FROM spine s LEFT JOIN c ON c.bin = s.bin),
        |tot AS (SELECT CAST(sum(c_ref) + 10 AS BIGINT) AS den_r,
        |    CAST(sum(c_cur) + 10 AS BIGINT) AS den_c FROM f)
        |SELECT bin, c_ref, c_cur,
        |  CAST(round((CAST(c_ref + 1 AS DOUBLE) / den_r
        |    - CAST(c_cur + 1 AS DOUBLE) / den_c)
        |    * ln((CAST(c_ref + 1 AS DOUBLE) / den_r)
        |    / (CAST(c_cur + 1 AS DOUBLE) / den_c))
        |    * 1000000) AS BIGINT) AS psi_e6
        |FROM f, tot
        |ORDER BY bin""".stripMargin,
    // Hard negatives: highest-BM25 candidates that are NOT relevant.
    "r_hard_neg" ->
      s"""$bm25OracleCte,
        |hn AS (SELECT b.query_id, b.doc_id, b.bm25_e4,
        |    CAST(row_number() OVER (PARTITION BY b.query_id
        |      ORDER BY b.bm25_e4 DESC, b.doc_id ASC) AS INT) AS rank
        |  FROM bm25 b JOIN documents qm ON qm.doc_id = b.query_id
        |    JOIN documents dm ON dm.doc_id = b.doc_id
        |  WHERE dm.source <> qm.source OR dm.lang <> qm.lang)
        |SELECT query_id, doc_id, bm25_e4, rank FROM hn
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // Bigram-postings phrase retrieval: the same shingle construction
    // as t_top_bigrams restricted to TRUE bigrams (range's upper
    // bound is len, so single-token docs emit nothing — the Spark
    // side filters the space-less whole-text shingle identically);
    // BM25 over the phrase corpus with df/dl/N all postings-derived,
    // each term e4-rounded before the pair sum, identical ln tree.
    "r_phrase" -> {
      val qd = graft.operators.Retrieval.QueryDocs
      val qp = graft.operators.Retrieval.QueryPhrases
      val k1 = graft.operators.Retrieval.K1
      val b = graft.operators.Retrieval.B
      s"""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents),
        |idx AS (SELECT doc_id, t,
        |    unnest(range(1, greatest(len(t), 1))) AS i FROM toks),
        |occ AS (SELECT doc_id, t[i] || ' ' || t[i + 1] AS bigram FROM idx),
        |tf AS (SELECT doc_id, bigram, count(*) AS tf FROM occ GROUP BY 1, 2),
        |pdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |dfreq AS (SELECT bigram, count(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM pdl),
        |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS totdl FROM pdl),
        |qp AS (SELECT doc_id AS query_id, bigram FROM (
        |    SELECT tf.doc_id, tf.bigram,
        |      row_number() OVER (PARTITION BY tf.doc_id ORDER BY
        |        CAST(round(tf * ln(CAST(n AS DOUBLE) / df) * 10000) AS BIGINT)
        |          DESC, tf.bigram ASC) AS rk
        |    FROM tf JOIN dfreq USING (bigram), nn
        |    WHERE tf.doc_id < $qd) WHERE rk <= $qp),
        |bs AS (SELECT q.query_id, tf.doc_id,
        |    CAST(round(ln(1 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
        |      * (tf * ${k1 + 1.0}) / (tf + $k1 * (${1.0 - b} + $b * dl
        |      / (CAST(totdl AS DOUBLE) / n))) * 10000) AS BIGINT) AS s_e4
        |  FROM tf JOIN qp q USING (bigram)
        |    JOIN dfreq USING (bigram) JOIN pdl ON pdl.doc_id = tf.doc_id, nn, tot
        |  WHERE tf.doc_id <> q.query_id),
        |ph AS (SELECT query_id, doc_id, CAST(sum(s_e4) AS BIGINT) AS phrase_e4
        |  FROM bs GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, phrase_e4,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY phrase_e4 DESC, doc_id ASC) AS INT) AS rank FROM ph)
        |SELECT query_id, doc_id, phrase_e4, rank FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },
    // Trigram-postings 3-term phrase retrieval: the nextword index
    // one word further — range's upper bound len−1 drops docs
    // shorter than 3 tokens exactly as the Spark side's
    // n-part-shingle filter; BM25 over the trigram corpus, same
    // identical-ln-tree arithmetic as r_phrase.
    "r_phrase3" -> {
      val qd = graft.operators.Retrieval.QueryDocs
      val qp = graft.operators.Retrieval.QueryPhrases3
      val k1 = graft.operators.Retrieval.K1
      val b = graft.operators.Retrieval.B
      s"""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
        |  FROM documents),
        |idx AS (SELECT doc_id, t,
        |    unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks),
        |occ AS (SELECT doc_id,
        |    t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS bigram FROM idx),
        |tf AS (SELECT doc_id, bigram, count(*) AS tf FROM occ GROUP BY 1, 2),
        |pdl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |dfreq AS (SELECT bigram, count(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM pdl),
        |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS totdl FROM pdl),
        |qp AS (SELECT doc_id AS query_id, bigram FROM (
        |    SELECT tf.doc_id, tf.bigram,
        |      row_number() OVER (PARTITION BY tf.doc_id ORDER BY
        |        CAST(round(tf * ln(CAST(n AS DOUBLE) / df) * 10000) AS BIGINT)
        |          DESC, tf.bigram ASC) AS rk
        |    FROM tf JOIN dfreq USING (bigram), nn
        |    WHERE tf.doc_id < $qd) WHERE rk <= $qp),
        |bs AS (SELECT q.query_id, tf.doc_id,
        |    CAST(round(ln(1 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
        |      * (tf * ${k1 + 1.0}) / (tf + $k1 * (${1.0 - b} + $b * dl
        |      / (CAST(totdl AS DOUBLE) / n))) * 10000) AS BIGINT) AS s_e4
        |  FROM tf JOIN qp q USING (bigram)
        |    JOIN dfreq USING (bigram) JOIN pdl ON pdl.doc_id = tf.doc_id, nn, tot
        |  WHERE tf.doc_id <> q.query_id),
        |ph AS (SELECT query_id, doc_id, CAST(sum(s_e4) AS BIGINT) AS phrase_e4
        |  FROM bs GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, phrase_e4,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY phrase_e4 DESC, doc_id ASC) AS INT) AS rank FROM ph)
        |SELECT query_id, doc_id, phrase_e4, rank FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },
    // Field-weighted BM25F: positional title/body split, per-field
    // normalized pseudo-frequency, single saturation; the combined
    // t~f tree is stated VERBATIM twice (numerator and denominator)
    // on both sides; constants interpolated from Scala.
    "r_bm25f" -> {
      val qd = graft.operators.Retrieval.QueryDocs
      val qt = graft.operators.Retrieval.QueryTerms
      val k1 = graft.operators.Retrieval.K1
      val b = graft.operators.Retrieval.B
      val tw = graft.operators.Retrieval.TitleWeight
      val tn = graft.operators.Retrieval.TitleTokens
      val ttf = s"($tw * tf_t / (${1.0 - b} + $b * dlt" +
        s" / (CAST(tot_t AS DOUBLE) / n)) + 1.0 * tf_b / (${1.0 - b}" +
        s" + $b * dlb / (CAST(tot_b AS DOUBLE) / n)))"
      s"""WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
        |szs AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS sz
        |  FROM toks WHERE len(t) >= 1),
        |ft AS (SELECT doc_id, unnest(t[1:$tn]) AS token FROM szs),
        |fb AS (SELECT doc_id, unnest(t[${tn + 1}:]) AS token FROM szs),
        |gt AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf_t
        |  FROM ft GROUP BY 1, 2),
        |gb AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf_b
        |  FROM fb GROUP BY 1, 2),
        |mg AS (SELECT doc_id, token, coalesce(tf_t, 0) AS tf_t,
        |    coalesce(tf_b, 0) AS tf_b
        |  FROM gt FULL JOIN gb USING (doc_id, token)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(least(sz, $tn)) AS BIGINT) AS tot_t,
        |    CAST(sum(greatest(sz - $tn, 0)) AS BIGINT) AS tot_b FROM szs),
        |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df
        |  FROM mg GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(least(sz, $tn) AS BIGINT) AS dlt,
        |    CAST(greatest(sz - $tn, 0) AS BIGINT) AS dlb FROM szs),
        |q AS (SELECT doc_id AS query_id, token FROM (
        |    SELECT mg.doc_id, mg.token,
        |      row_number() OVER (PARTITION BY mg.doc_id ORDER BY
        |        CAST(round((tf_t + tf_b) * ln(CAST(n AS DOUBLE) / df)
        |          * 10000) AS BIGINT) DESC, mg.token ASC) AS rk
        |    FROM mg JOIN dfreq USING (token), nn
        |    WHERE mg.doc_id < $qd) WHERE rk <= $qt),
        |sc AS (SELECT q.query_id, mg.doc_id,
        |    CAST(round(ln(1 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
        |      * $ttf / ($k1 + $ttf) * 10000) AS BIGINT) AS s_e4
        |  FROM mg JOIN q USING (token) JOIN dfreq USING (token)
        |    JOIN dl ON dl.doc_id = mg.doc_id, nn
        |  WHERE mg.doc_id <> q.query_id),
        |ph AS (SELECT query_id, doc_id, CAST(sum(s_e4) AS BIGINT)
        |    AS bm25f_e4 FROM sc GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, bm25f_e4,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY bm25f_e4 DESC, doc_id ASC) AS INT) AS rank FROM ph)
        |SELECT query_id, doc_id, bm25f_e4, rank FROM r
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },
    // RM3-lite pseudo-relevance feedback: top-3 feedback docs from
    // the base run, top-2 expansion terms by summed per-doc
    // e4-rounded tf·idf (original terms excluded), re-score with
    // integer interpolation weights 2 (original) and 1 (expansion)
    // multiplying the already-e4-rounded per-term score. Constants
    // interpolated from the Scala source of truth.
    "r_prf" -> {
      val fd = graft.operators.Retrieval.FeedbackDocs
      val et = graft.operators.Retrieval.ExpandTerms
      val k1 = graft.operators.Retrieval.K1
      val b = graft.operators.Retrieval.B
      s"""$bm25OracleCte,
        |fd AS (SELECT query_id, doc_id FROM (
        |    SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY bm25_e4 DESC, doc_id ASC) AS rk FROM bm25) WHERE rk <= $fd),
        |ex AS (SELECT query_id, token, CAST(sum(tfidf_e4) AS BIGINT) AS exp_e4
        |  FROM (SELECT fd.query_id, tf.token,
        |      CAST(round(tf * ln(CAST(n AS DOUBLE) / df) * 10000) AS BIGINT)
        |        AS tfidf_e4
        |    FROM tf JOIN fd ON fd.doc_id = tf.doc_id
        |      JOIN dfreq USING (token), nn)
        |  GROUP BY 1, 2),
        |ex2 AS (SELECT e.query_id, e.token, e.exp_e4 FROM ex e
        |  LEFT JOIN qterms q ON q.query_id = e.query_id AND q.token = e.token
        |  WHERE q.token IS NULL),
        |et AS (SELECT query_id, token FROM (
        |    SELECT query_id, token, row_number() OVER (PARTITION BY query_id
        |      ORDER BY exp_e4 DESC, token ASC) AS rk FROM ex2) WHERE rk <= $et),
        |qt2 AS (SELECT query_id, token, 2 AS w FROM qterms
        |  UNION ALL SELECT query_id, token, 1 AS w FROM et),
        |bs2 AS (SELECT q.query_id, tf.doc_id,
        |    CAST(q.w * CAST(round(ln(1 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5))
        |      * (tf * ${k1 + 1.0}) / (tf + $k1 * (${1.0 - b} + $b * dl
        |      / (CAST(totdl AS DOUBLE) / n))) * 10000) AS BIGINT) AS BIGINT) AS s_e4
        |  FROM tf JOIN qt2 q USING (token)
        |    JOIN dfreq USING (token) JOIN dl ON dl.doc_id = tf.doc_id, nn, tot
        |  WHERE tf.doc_id <> q.query_id),
        |pm AS (SELECT query_id, doc_id, CAST(sum(s_e4) AS BIGINT) AS bm25_e4
        |  FROM bs2 GROUP BY 1, 2),
        |pr AS (SELECT query_id, doc_id, bm25_e4,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY bm25_e4 DESC, doc_id ASC) AS INT) AS rank FROM pm)
        |SELECT query_id, doc_id, bm25_e4, rank FROM pr
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },
    // Count-min sketch audit: the md5-hex bucket hash is stated
    // identically on both engines, so cells, estimates and the
    // one-sided overestimate are integer-exact.
    "t_cms_topk" ->
      """WITH t AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+'))
        |    AS token FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY 1),
        |s AS (SELECT unnest([0, 1, 2, 3]) AS seed),
        |h AS (SELECT c.token, c.c, s.seed,
        |    CAST(concat('0x', substr(md5(concat('cms',
        |      CAST(s.seed AS VARCHAR), c.token)), 1, 8)) AS BIGINT) % 16 AS bucket
        |  FROM c, s),
        |cells AS (SELECT seed, bucket, CAST(sum(c) AS BIGINT) AS cell
        |  FROM h GROUP BY 1, 2),
        |top AS (SELECT token, c FROM c ORDER BY c DESC, token ASC LIMIT 20),
        |th AS (SELECT t.token, t.c, s.seed,
        |    CAST(concat('0x', substr(md5(concat('cms',
        |      CAST(s.seed AS VARCHAR), t.token)), 1, 8)) AS BIGINT) % 16 AS bucket
        |  FROM top t, s)
        |SELECT th.token, max(th.c) AS true_count, min(cells.cell) AS cms_est,
        |  CAST(min(cells.cell) - max(th.c) AS BIGINT) AS overestimate
        |FROM th JOIN cells USING (seed, bucket)
        |GROUP BY th.token
        |ORDER BY true_count DESC, token ASC""".stripMargin,
    // Streaming PSI drift: the s_stream_watermark emitted-set
    // arithmetic + the q_psi smoothing/tree over fixed width-10
    // value bins; per-bin terms e6-rounded before the integer sum.
    "s_stream_drift" -> streamDriftOracleSql,
    // Per-dimension mean shift between the vec_id parity halves —
    // the e16 quantization of the e_isotropy convention and a
    // division-free cross-multiplied shift (sign-safe: integer mean
    // division truncates in Spark but floors in DuckDB). The HUGEINT
    // cross-multiply is internal; emitted is the bounded e6-scaled
    // mean shift (truncating // both sides, positive numerator) —
    // the SURVEY §6 emitted-type rule.
    "e_drift" ->
      """WITH dims AS (SELECT vec_id % 2 AS par, t.i - 1 AS dim,
        |    CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 65536 + 0.5)
        |      AS BIGINT) AS qd
        |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) t),
        |agg AS (SELECT CAST(dim AS BIGINT) AS dim,
        |    CAST(sum(CASE WHEN par = 0 THEN qd ELSE 0 END) AS BIGINT)
        |      AS s_ref_q,
        |    CAST(sum(CASE WHEN par = 1 THEN qd ELSE 0 END) AS BIGINT)
        |      AS s_cur_q,
        |    CAST(sum(CASE WHEN par = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_ref,
        |    CAST(sum(CASE WHEN par = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_cur
        |  FROM dims GROUP BY dim)
        |SELECT dim, s_ref_q, s_cur_q, n_ref, n_cur,
        |  CAST(abs(CAST(s_ref_q AS HUGEINT) * n_cur
        |      - CAST(s_cur_q AS HUGEINT) * n_ref) * 1000000
        |    // (CAST(n_ref AS HUGEINT) * n_cur) AS BIGINT) AS shift_e6q
        |FROM agg
        |ORDER BY shift_e6q DESC, dim ASC""".stripMargin,
    // Analytic LSH S-curve tuning table — pow is bit-identical
    // across engines on this grid (verified), each grid term
    // e6-rounded before its integer sum.
    "d_lsh_tune" ->
      """WITH br AS (SELECT * FROM (VALUES (128, 1), (64, 2), (32, 4),
        |    (16, 8), (8, 16), (4, 32), (2, 64), (1, 128)) AS t(b, r)),
        |grid AS (SELECT CAST(range AS INT) AS i FROM range(0, 21)),
        |p AS (SELECT b, r, i,
        |    CAST(round((1 - pow(1 - pow(i / 20.0, CAST(r AS DOUBLE)),
        |      CAST(b AS DOUBLE))) * 1000000) AS BIGINT) AS p_e6
        |  FROM br, grid),
        |a AS (SELECT b, r,
        |    CAST(sum(CASE WHEN i = 10 THEN p_e6 END) AS BIGINT) AS p_at_t_e6,
        |    CAST(sum(CASE WHEN i < 10 THEN p_e6 ELSE 0 END) AS BIGINT)
        |      AS fp_mass_e6,
        |    CAST(sum(CASE WHEN i >= 10 THEN 1000000 - p_e6 ELSE 0 END)
        |      AS BIGINT) AS fn_mass_e6
        |  FROM p GROUP BY 1, 2)
        |SELECT b, r,
        |  CAST(round(pow(1.0 / b, 1.0 / r) * 1000000) AS BIGINT) AS s_star_e6,
        |  p_at_t_e6, fp_mass_e6, fn_mass_e6
        |FROM a ORDER BY b DESC""".stripMargin,
    // Exact two-sample KS: grouped cents values, both ECDFs from one
    // cumulative pass, cross-multiplied |k1·n2 − k2·n1| so no
    // division until the final 1-row fold (HUGEINT there, the qGini
    // promotion rule); argmax unique under (num DESC, v).
    "q_ks_test" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    CASE WHEN year(o_orderdate) < 1998 THEN 0 ELSE 1 END AS coh
        |  FROM orders),
        |g AS (SELECT v,
        |    CAST(sum(CASE WHEN coh = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN coh = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM o GROUP BY 1),
        |c AS (SELECT v,
        |    CAST(sum(c1) OVER w AS BIGINT) AS k1,
        |    CAST(sum(c2) OVER w AS BIGINT) AS k2
        |  FROM g WINDOW w AS (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |n AS (SELECT max(k1) AS n1, max(k2) AS n2 FROM c),
        |d AS (SELECT v, CAST(abs(CAST(k1 AS HUGEINT) * n2
        |      - CAST(k2 AS HUGEINT) * n1) AS DECIMAL(38,0)) AS num,
        |    n1, n2 FROM c, n),
        |r AS (SELECT *, row_number() OVER (ORDER BY num DESC, v ASC) AS rk
        |  FROM d)
        |SELECT n1, n2, v AS at_v,
        |  CAST(CAST(num AS HUGEINT) * 1000000
        |    // (CAST(n1 AS HUGEINT) * n2) AS BIGINT) AS d_e6
        |FROM r WHERE rk = 1""".stripMargin,
    // Tie-exact Mann-Whitney via the grouped doubled-rank closed
    // form 2R1 = Σ c1·(2·below + t + 1); the HUGEINT rank ledger is
    // internal — emitted is the bounded effect size U1/(n1·n2)
    // e6-scaled (SURVEY §6 emitted-type rule); the z statistic is
    // the one double tree from exact integer inputs, e4-rounded;
    // all-tied degenerate data guards to NULL.
    "q_mann_whitney" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |    CASE WHEN year(o_orderdate) < 1998 THEN 0 ELSE 1 END AS coh
        |  FROM orders),
        |g AS (SELECT v,
        |    CAST(sum(CASE WHEN coh = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN coh = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM o GROUP BY 1),
        |c AS (SELECT v, c1, c2, c1 + c2 AS t,
        |    CAST(sum(c1) OVER w AS BIGINT) AS k1,
        |    CAST(sum(c2) OVER w AS BIGINT) AS k2,
        |    CAST(sum(c1 + c2) OVER w AS BIGINT) - (c1 + c2) AS cbelow
        |  FROM g WINDOW w AS (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f AS (SELECT max(k1) AS n1, max(k2) AS n2,
        |    sum(CAST(c1 AS HUGEINT) * (2 * cbelow + t + 1)) AS r1x2,
        |    sum(t * t * t - t) AS ties FROM c)
        |SELECT n1, n2,
        |  CAST(CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS HUGEINT)
        |    * 1000000
        |    // (CAST(n1 AS HUGEINT) * n2 * 2) AS BIGINT) AS auc_e6,
        |  CAST(ties AS BIGINT) AS tie_sum,
        |  CASE WHEN (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
        |      * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
        |        - CAST(ties AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE)
        |          * (CAST(n1 + n2 AS DOUBLE) - 1.0))) > 0.0
        |    THEN CAST(round(
        |      (CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
        |        - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
        |      / sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
        |        * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
        |          - CAST(ties AS DOUBLE) / (CAST(n1 + n2 AS DOUBLE)
        |            * (CAST(n1 + n2 AS DOUBLE) - 1.0)))) * 10000)
        |      AS BIGINT) END AS z_e4
        |FROM f""".stripMargin,
    // Theil-Sen: the pair set is the calendar-bounded day grid
    // squared; one double division per slope stated identically,
    // exact lower median under the unique (slope, xi, xj) order.
    // Empirical-prior weighted rating: exact integer sufficient
    // stats, one double tree stated identically (CAST doubles, never
    // a decimal literal - DuckDB 25.0 is DECIMAL and would diverge),
    // unique (wr DESC, user_id) top-k.
    "q_bayes_rank" ->
      """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |g AS (SELECT CAST(sum(x) AS DOUBLE) / sum(n) AS c FROM u)
        |SELECT user_id, n, x,
        |  CAST(round((CAST(n AS DOUBLE) / (n + 25)
        |    * (CAST(x AS DOUBLE) / n)
        |    + CAST(25 AS DOUBLE) / (n + 25) * c) * 1000000) AS BIGINT)
        |    AS wr_e6
        |FROM u, g
        |ORDER BY wr_e6 DESC, user_id LIMIT 25""".stripMargin,
    // Mann-Kendall: S and the tie term are exact BIGINT over the
    // bounded day grid (the theil_sen pair-enumerability argument);
    // Var(S) and the continuity-corrected z are the one double tree,
    // zero variance -> NULL.
    "q_mann_kendall" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |a AS (SELECT min(day) AS d0 FROM d),
        |i AS (SELECT event_type, y,
        |    CAST(date_diff('day', d0, day) AS BIGINT) AS x FROM d, a),
        |s AS (SELECT l.event_type,
        |    CAST(sum(CASE WHEN r2.y > l.y THEN 1 WHEN r2.y < l.y THEN -1
        |      ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM i l JOIN i r2 ON l.event_type = r2.event_type
        |    AND l.x < r2.x GROUP BY 1),
        |t AS (SELECT event_type, CAST(sum(t) AS BIGINT) AS n_days,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        |  FROM (SELECT event_type, y, count(*) AS t FROM i GROUP BY 1, 2) g
        |  GROUP BY 1)
        |SELECT s.event_type, t.n_days, s.s_stat, t.tie_term,
        |  CASE WHEN n_days * (n_days - 1) * (2 * n_days + 5) - tie_term > 0
        |    THEN CAST(round(
        |      (CASE WHEN s_stat > 0 THEN s_stat - 1
        |        WHEN s_stat < 0 THEN s_stat + 1 ELSE 0 END)
        |      / sqrt((n_days * (n_days - 1) * (2 * n_days + 5) - tie_term)
        |        / 18.0) * 10000) AS BIGINT) END AS z_e4
        |FROM s JOIN t ON s.event_type = t.event_type
        |ORDER BY s.event_type""".stripMargin,
    "q_theil_sen" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |a AS (SELECT min(day) AS d0 FROM d),
        |i AS (SELECT event_type, y,
        |    CAST(date_diff('day', d0, day) AS BIGINT) AS x FROM d, a),
        |p AS (SELECT l.event_type,
        |    CAST(round(CAST(r2.y - l.y AS DOUBLE) / (r2.x - l.x)
        |      * 1000000) AS BIGINT) AS slope_e6, l.x AS xi, r2.x AS xj
        |  FROM i l JOIN i r2 ON l.event_type = r2.event_type
        |    AND l.x < r2.x),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY slope_e6, xi, xj) AS rk,
        |  CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS np
        |  FROM p)
        |SELECT event_type, np AS n_pairs, slope_e6
        |FROM r WHERE rk = (np + 1) // 2
        |ORDER BY event_type""".stripMargin,
    // CUPED: exact integer cents sufficient statistics (HUGEINT for
    // Σpre²/Σpre·post — the qGini promotion rule); θ and the
    // adjusted means are the one double tree, e6/e2-rounded;
    // zero pre-variance guards to NULL.
    "q_cuped" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |a AS (SELECT min(day) + INTERVAL 15 DAY AS split FROM e),
        |u AS (SELECT user_id,
        |    CAST(sum(CASE WHEN day < split THEN cents ELSE 0 END)
        |      AS BIGINT) AS pre,
        |    CAST(sum(CASE WHEN day >= split THEN cents ELSE 0 END)
        |      AS BIGINT) AS post
        |  FROM e, a GROUP BY 1),
        |s AS (SELECT user_id % 2 AS arm, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(pre) AS BIGINT) AS sp, CAST(sum(post) AS BIGINT) AS so,
        |    sum(pre * pre) AS spp, sum(pre * post) AS spo
        |  FROM u GROUP BY 1),
        |g AS (SELECT CAST(sum(n) AS BIGINT) AS g_n, sum(sp) AS g_sp,
        |    sum(so) AS g_so, sum(spp) AS g_spp, sum(spo) AS g_spo FROM s)
        |SELECT arm, n, sp // n AS mean_pre_c, so // n AS mean_post_c,
        |  CASE WHEN CAST(g_n AS DOUBLE) * CAST(g_spp AS DOUBLE)
        |      - CAST(g_sp AS DOUBLE) * CAST(g_sp AS DOUBLE) > 0.0
        |    THEN CAST(round((CAST(g_n AS DOUBLE) * CAST(g_spo AS DOUBLE)
        |        - CAST(g_sp AS DOUBLE) * CAST(g_so AS DOUBLE))
        |      / (CAST(g_n AS DOUBLE) * CAST(g_spp AS DOUBLE)
        |        - CAST(g_sp AS DOUBLE) * CAST(g_sp AS DOUBLE))
        |      * 1000000) AS BIGINT) END AS theta_e6,
        |  CASE WHEN CAST(g_n AS DOUBLE) * CAST(g_spp AS DOUBLE)
        |      - CAST(g_sp AS DOUBLE) * CAST(g_sp AS DOUBLE) > 0.0
        |    THEN CAST(round(CAST(so AS DOUBLE) / CAST(n AS DOUBLE)
        |      - ((CAST(g_n AS DOUBLE) * CAST(g_spo AS DOUBLE)
        |          - CAST(g_sp AS DOUBLE) * CAST(g_so AS DOUBLE))
        |        / (CAST(g_n AS DOUBLE) * CAST(g_spp AS DOUBLE)
        |          - CAST(g_sp AS DOUBLE) * CAST(g_sp AS DOUBLE)))
        |        * (CAST(sp AS DOUBLE) / CAST(n AS DOUBLE)
        |          - CAST(g_sp AS DOUBLE) / CAST(g_n AS DOUBLE)))
        |      AS BIGINT) END AS adj_mean_c
        |FROM s, g ORDER BY arm""".stripMargin,
    // Bollinger breach monitor: the cleared-denominator integer test
    // t² > 4(7s2−s1²) over trailing-7 ROWS window sums — no float,
    // no sqrt, no division on either side; warmup rows excluded.
    "q_bollinger" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, day, y,
        |    CAST(sum(y) OVER w AS BIGINT) AS s1,
        |    CAST(sum(y * y) OVER w AS BIGINT) AS s2,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      AS rn
        |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, y, s1 AS win_sum,
        |  CAST(7 * y - s1 AS BIGINT) AS dev7,
        |  CAST(CASE WHEN (7 * y - s1) * (7 * y - s1)
        |      > 4 * (7 * s2 - s1 * s1)
        |    THEN (CASE WHEN y * 7 > s1 THEN 1 ELSE -1 END)
        |    ELSE 0 END AS BIGINT) AS breach
        |FROM r WHERE rn >= 7
        |ORDER BY event_type, day""".stripMargin,
    // Difference-in-differences over the q_cuped design: exact
    // integer per-cell cents sums and user counts; the DiD is the
    // one double tree from those integers, e2-rounded.
    "q_diff_in_diff" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |a AS (SELECT min(day) + INTERVAL 15 DAY AS split FROM e),
        |u AS (SELECT user_id % 2 AS arm,
        |    CAST(sum(CASE WHEN day < split THEN cents ELSE 0 END)
        |      AS BIGINT) AS pre,
        |    CAST(sum(CASE WHEN day >= split THEN cents ELSE 0 END)
        |      AS BIGINT) AS post
        |  FROM e, a GROUP BY user_id),
        |f AS (SELECT
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN arm = 0 THEN pre ELSE 0 END) AS BIGINT)
        |      AS pre0_c,
        |    CAST(sum(CASE WHEN arm = 0 THEN post ELSE 0 END) AS BIGINT)
        |      AS post0_c,
        |    CAST(sum(CASE WHEN arm = 1 THEN pre ELSE 0 END) AS BIGINT)
        |      AS pre1_c,
        |    CAST(sum(CASE WHEN arm = 1 THEN post ELSE 0 END) AS BIGINT)
        |      AS post1_c
        |  FROM u)
        |SELECT n0, n1, pre0_c, post0_c, pre1_c, post1_c,
        |  CASE WHEN n0 > 0 AND n1 > 0 THEN
        |    CAST(round(((CAST(post1_c AS DOUBLE) - pre1_c) / n1
        |      - (CAST(post0_c AS DOUBLE) - pre0_c) / n0) * 100) AS BIGINT)
        |  END AS did_e2
        |FROM f""".stripMargin,
    // Winsorized mean per event type: exact discrete [p10, p90] by
    // ordered selection at rank ceil(p*n/100) (ties collapse to the
    // same value), integer clamp + sum, one truncating mean div.
    "q_winsorize" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT event_type, cents,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cents)
        |      AS rk,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM e),
        |lo AS (SELECT event_type, max(cents) AS lo_c FROM r
        |  WHERE rk = greatest(1, CAST(ceil(10 / 100.0 * n) AS BIGINT))
        |  GROUP BY 1),
        |hi AS (SELECT event_type, max(cents) AS hi_c FROM r
        |  WHERE rk = greatest(1, CAST(ceil(90 / 100.0 * n) AS BIGINT))
        |  GROUP BY 1)
        |SELECT r.event_type, max(r.n) AS n, max(lo.lo_c) AS lo_c,
        |  max(hi.hi_c) AS hi_c,
        |  CAST(sum(greatest(lo.lo_c, least(hi.hi_c, r.cents))) AS BIGINT)
        |    // max(r.n) AS wmean_c
        |FROM r JOIN lo USING (event_type) JOIN hi USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Pairwise JSD over the top-50 token vocab with add-one
    // smoothing; per-term e6 rounding from the identical
    // division/ln tree, exact integer per-pair sum.
    "t_jsd" ->
      """WITH tok AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |cnt AS (SELECT token, source, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY 1, 2),
        |top AS (SELECT token FROM (SELECT token, sum(c) AS ct
        |    FROM cnt GROUP BY 1) ORDER BY ct DESC, token ASC LIMIT 50),
        |srcs AS (SELECT DISTINCT source FROM cnt),
        |grid AS (SELECT t.token, s.source,
        |    CAST(coalesce(c.c, 0) AS BIGINT) AS c
        |  FROM top t CROSS JOIN srcs s
        |  LEFT JOIN cnt c ON c.token = t.token AND c.source = s.source),
        |tots AS (SELECT source, CAST(sum(c) AS BIGINT) AS nt
        |  FROM grid GROUP BY 1),
        |p AS (SELECT a.token, a.source AS src_a, b.source AS src_b,
        |    a.c AS ca, b.c AS cb, ta.nt AS na, tb.nt AS nb
        |  FROM grid a JOIN grid b ON a.token = b.token
        |    AND a.source < b.source
        |  JOIN tots ta ON ta.source = a.source
        |  JOIN tots tb ON tb.source = b.source),
        |t AS (SELECT src_a, src_b, CAST(round((
        |    CAST(ca + 1 AS DOUBLE) / (na + 50) * ln(
        |      (CAST(ca + 1 AS DOUBLE) / (na + 50)) /
        |      ((CAST(ca + 1 AS DOUBLE) / (na + 50)
        |        + CAST(cb + 1 AS DOUBLE) / (nb + 50)) / 2)) +
        |    CAST(cb + 1 AS DOUBLE) / (nb + 50) * ln(
        |      (CAST(cb + 1 AS DOUBLE) / (nb + 50)) /
        |      ((CAST(ca + 1 AS DOUBLE) / (na + 50)
        |        + CAST(cb + 1 AS DOUBLE) / (nb + 50)) / 2))
        |  ) / 2 * 1000000) AS BIGINT) AS term_e6 FROM p)
        |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(sum(term_e6) AS BIGINT) AS jsd_e6
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // One-way ANOVA: per-group s²·1e6 // n floored BEFORE the
    // cross-group fold (exact integer reduction); the F ratio is
    // the one double tree, e4-rounded; zero within-variance → NULL.
    "q_anova" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS s, sum(x * x) AS ss,
        |    CAST(sum(x) AS HUGEINT) * sum(x) * 1000000 // count(*)
        |      AS sbq
        |  FROM d GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(n) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS s,
        |    sum(ss) AS ss, sum(sbq) AS sbq FROM g)
        |SELECT k, n,
        |  CAST(round((CAST(sbq AS DOUBLE) / 1000000
        |    - CAST(s AS DOUBLE) * s / n) / (k - 1) * 10000) AS BIGINT)
        |    AS msb_e4,
        |  CAST(round((CAST(ss AS DOUBLE)
        |    - CAST(sbq AS DOUBLE) / 1000000) / (n - k) * 10000)
        |    AS BIGINT) AS msw_e4,
        |  CASE WHEN CAST(ss AS DOUBLE)
        |      - CAST(sbq AS DOUBLE) / 1000000 > 0.0 THEN
        |    CAST(round(((CAST(sbq AS DOUBLE) / 1000000
        |      - CAST(s AS DOUBLE) * s / n) / (k - 1))
        |      / ((CAST(ss AS DOUBLE) - CAST(sbq AS DOUBLE) / 1000000)
        |        / (n - k)) * 10000) AS BIGINT) END AS f_e4
        |FROM t""".stripMargin,
    // Burstiness: exact integer sufficient statistics; VMR is the
    // one double tree per row, e6-rounded.
    "t_burstiness" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |pd AS (SELECT token, doc_id, CAST(count(*) AS BIGINT) AS c
        |  FROM tok GROUP BY 1, 2),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS ndocs FROM documents),
        |g AS (SELECT token, CAST(sum(c) AS BIGINT) AS tot,
        |    CAST(count(*) AS BIGINT) AS df,
        |    CAST(sum(c * c) AS BIGINT) AS ss
        |  FROM pd GROUP BY 1 ORDER BY tot DESC, token ASC LIMIT 25)
        |SELECT token, tot, df, ss,
        |  CAST(round((CAST(ss AS DOUBLE) / tot
        |    - CAST(tot AS DOUBLE) / ndocs) * 1000000) AS BIGINT)
        |    AS vmr_e6
        |FROM g, nd ORDER BY tot DESC, token ASC""".stripMargin,
    // Log-log OLS: ln only on the bounded spine's integer means,
    // e6-quantized per point before the exact integer sums; slope
    // and intercept are the one double tree.
    "q_power_law" ->
      """WITH lvl AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      // count(*) AS BIGINT) AS mean_cents
        |  FROM lineitem GROUP BY 1),
        |p AS (SELECT
        |    CAST(round(ln(CAST(qty AS DOUBLE)) * 1000000) AS BIGINT) AS x,
        |    CAST(round(ln(CAST(mean_cents AS DOUBLE)) * 1000000)
        |      AS BIGINT) AS y FROM lvl),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx FROM p)
        |SELECT k AS n_levels,
        |  CASE WHEN k * sxx - sx * sx <> 0 THEN
        |    CAST(round(CAST(k * sxy - sx * sy AS DOUBLE)
        |      / (k * sxx - sx * sx) * 1000000) AS BIGINT) END AS slope_e6,
        |  CASE WHEN k * sxx - sx * sx <> 0 THEN
        |    CAST(round((CAST(sy AS DOUBLE)
        |      - CAST(k * sxy - sx * sy AS DOUBLE) / (k * sxx - sx * sx)
        |      * sx) / k) AS BIGINT) END AS intercept_e6
        |FROM f""".stripMargin,
    // Decile lift: same unique ntile order, cum windows over the
    // 10-row grid, identical lift tree from exact integers.
    "q_lift_curve" ->
      """WITH oc AS (SELECT o_custkey, count(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |sc AS (SELECT c_custkey, c_acctbal,
        |    CASE WHEN coalesce(n_orders, 0) >= 15 THEN 1 ELSE 0 END AS pos
        |  FROM customer LEFT JOIN oc ON o_custkey = c_custkey),
        |dec AS (SELECT ntile(10) OVER (ORDER BY c_acctbal DESC, c_custkey)
        |    AS decile, pos FROM sc),
        |g AS (SELECT CAST(decile AS BIGINT) AS decile,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS pos
        |  FROM dec GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS nt,
        |    CAST(sum(pos) AS BIGINT) AS pt FROM sc),
        |c AS (SELECT decile, n, pos,
        |    CAST(sum(n) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_n,
        |    CAST(sum(pos) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_pos
        |  FROM g)
        |SELECT decile, n, pos, cum_pos,
        |  CASE WHEN pt > 0 THEN CAST(round(CAST(cum_pos AS DOUBLE)
        |    * nt / (cum_n * pt) * 10000) AS BIGINT) END AS lift_e4
        |FROM c, t ORDER BY decile""".stripMargin,
    // Money rule (round(sum, 2)); the year filter + pair predicate
    // stated identically; INT year matches Spark's year().
    "q7_volume" ->
      """WITH sn AS (SELECT n_nationkey, n_name FROM nation
        |  WHERE n_name IN ('NATION_1', 'NATION_2'))
        |SELECT s.n_name AS supp_nation, c.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN sn s ON s_nationkey = s.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN sn c ON c_nationkey = c.n_nationkey
        |WHERE year(l_shipdate) BETWEEN 1996 AND 1999
        |  AND s.n_name <> c.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // Exact integer volumes (cents × (100−disc%)), HUGEINT ledger
    // mirroring Spark's DECIMAL(38,0), one truncating-div share.
    "q8_mktshare" ->
      """WITH an AS (SELECT n_nationkey FROM nation
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'),
        |v AS (SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |    n_name AS supp_nation,
        |    CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |      AS HUGEINT) AS vol
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN an ON c_nationkey = an.n_nationkey)
        |SELECT o_year,
        |  CAST(CASE WHEN sum(vol) = 0 THEN NULL
        |    ELSE (1000000 * sum(CASE WHEN supp_nation = 'NATION_5'
        |      THEN vol ELSE 0 END)) // sum(vol) END AS BIGINT) AS mkt_share_e6
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    // Unique (revenue DESC, c_custkey) top-20 on the rounded money.
    "q10_returns" ->
      """SELECT c_custkey, c_name, n_name,
        |  round(c_acctbal, 2) AS acctbal, revenue
        |FROM (SELECT o_custkey,
        |    round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R' GROUP BY 1) r
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    // ×2-scaled tie-averaged ranks (2·min_rank + ties − 1) and the
    // identical num/√d1/√d2 double tree; HUGEINT sums mirror the
    // Spark DECIMAL(38,0) ledger value-for-value.
    "q_spearman" ->
      """WITH sp AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS spend_c
        |  FROM orders GROUP BY 1),
        |b AS (SELECT c_mktsegment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c,
        |    coalesce(spend_c, 0) AS spend_c
        |  FROM customer LEFT JOIN sp ON c_custkey = o_custkey),
        |r AS (SELECT c_mktsegment,
        |    2 * rank() OVER (PARTITION BY c_mktsegment ORDER BY bal_c)
        |      + count(*) OVER (PARTITION BY c_mktsegment, bal_c) - 1 AS rx,
        |    2 * rank() OVER (PARTITION BY c_mktsegment ORDER BY spend_c)
        |      + count(*) OVER (PARTITION BY c_mktsegment, spend_c) - 1 AS ry
        |  FROM b),
        |a AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |    sum(rx) AS sx, sum(ry) AS sy, sum(rx * rx) AS sxx,
        |    sum(ry * ry) AS syy, sum(rx * ry) AS sxy
        |  FROM r GROUP BY 1)
        |SELECT c_mktsegment, n,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |    THEN CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |      / sqrt(CAST(n * syy - sy * sy AS DOUBLE)) * 1000000)
        |      AS BIGINT) END AS rho_e6
        |FROM a ORDER BY c_mktsegment""".stripMargin,
    // Doubled tie ledgers (Σt(t−1)); n₀−t = (n(n−1) − Σt(t−1)) // 2
    // exactly; sign product over the day-spine pair join.
    "q_kendall_tau" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS nv,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS vv
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT l.event_type,
        |    CAST(sum(
        |      (CASE WHEN r2.nv > l.nv THEN 1 WHEN r2.nv < l.nv THEN -1
        |        ELSE 0 END)
        |      * (CASE WHEN r2.vv > l.vv THEN 1 WHEN r2.vv < l.vv THEN -1
        |        ELSE 0 END)) AS BIGINT) AS c_minus_d
        |  FROM d l JOIN d r2 ON l.event_type = r2.event_type
        |    AND l.day < r2.day
        |  GROUP BY 1),
        |tx AS (SELECT event_type, CAST(sum(t) AS BIGINT) AS n_x,
        |    CAST(sum(t * (t - 1)) AS BIGINT) AS t2_x
        |  FROM (SELECT event_type, nv, count(*) AS t FROM d GROUP BY 1, 2) g
        |  GROUP BY 1),
        |ty AS (SELECT event_type, CAST(sum(t * (t - 1)) AS BIGINT) AS t2_y
        |  FROM (SELECT event_type, vv, count(*) AS t FROM d GROUP BY 1, 2) g
        |  GROUP BY 1)
        |SELECT p.event_type, n_x AS n_days, c_minus_d,
        |  CASE WHEN (n_x * (n_x - 1) - t2_x) // 2 > 0
        |      AND (n_x * (n_x - 1) - t2_y) // 2 > 0
        |    THEN CAST(round(CAST(c_minus_d AS DOUBLE)
        |      / sqrt(CAST((n_x * (n_x - 1) - t2_x) // 2 AS DOUBLE))
        |      / sqrt(CAST((n_x * (n_x - 1) - t2_y) // 2 AS DOUBLE))
        |      * 1000000) AS BIGINT) END AS tau_e6
        |FROM p JOIN tx ON p.event_type = tx.event_type
        |JOIN ty ON p.event_type = ty.event_type
        |ORDER BY p.event_type""".stripMargin,
    // Full replay of the deterministic Poisson bootstrap (round 17 —
    // the md5 bridge replaced xxhash64, the one hash both engines
    // state identically): identical fan-out, inverse-CDF weights,
    // truncating replicate means, ordered CI picks at ranks 5/195.
    "q_bootstrap_ci" ->
      """WITH o AS MATERIALIZED (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |pt AS (SELECT CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents FROM o),
        |e AS (SELECT o_orderkey, cents, unnest(range(0, 200)) AS rep FROM o),
        |w AS (SELECT rep, cents,
        |    CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
        |      WHEN u < 919698 THEN 2 WHEN u < 980885 THEN 3
        |      WHEN u < 996340 THEN 4 ELSE 5 END AS wt
        |  FROM (SELECT rep, cents,
        |      CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':bs:'
        |        || CAST(rep AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000 AS u
        |    FROM e)),
        |m AS MATERIALIZED (SELECT rep,
        |    CAST(sum(wt * cents) // sum(wt) AS BIGINT) AS m
        |  FROM w GROUP BY rep),
        |r AS MATERIALIZED (SELECT m, row_number() OVER (ORDER BY m) AS rk
        |  FROM m)
        |SELECT n_orders, CAST(200 AS BIGINT) AS n_reps, mean_cents,
        |  (SELECT m FROM r WHERE rk = 5) AS ci_lo_cents,
        |  (SELECT m FROM r WHERE rk = 195) AS ci_hi_cents
        |FROM pt""".stripMargin,
    // The 10 greedy BPE merge rounds unrolled as materialized CTEs
    // (round 17; MATERIALIZED is load-bearing — DuckDB inlines plain
    // CTEs and the chain re-evaluates exponentially). State is the
    // chr(1)-wrapped symbol string; replace() scans left-to-right
    // non-overlapping, exactly the Spark side's greedy list fold, and
    // the wrap encoding makes adjacent-pair matches unambiguous
    // (chr(1) cannot appear in whitespace-split tokens of this corpus).
    // Tie order (freq DESC, left, right) stated in each t_i.
    "t_bpe_merges" ->
      """WITH w AS MATERIALIZED (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w FROM documents),
        |wf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM w WHERE length(w) > 0 GROUP BY 1),
        |s0 AS MATERIALIZED (SELECT freq, chr(1) || array_to_string(list_append(string_split(w, ''), '</w>'), (chr(1)||chr(1))) || chr(1) AS s FROM wf),
        |p1 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s0)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t1 AS MATERIALIZED (SELECT l, r, f FROM p1 ORDER BY f DESC, l, r LIMIT 1),
        |s1 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s0, t1),
        |p2 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s1)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t2 AS MATERIALIZED (SELECT l, r, f FROM p2 ORDER BY f DESC, l, r LIMIT 1),
        |s2 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s1, t2),
        |p3 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s2)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t3 AS MATERIALIZED (SELECT l, r, f FROM p3 ORDER BY f DESC, l, r LIMIT 1),
        |s3 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s2, t3),
        |p4 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s3)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t4 AS MATERIALIZED (SELECT l, r, f FROM p4 ORDER BY f DESC, l, r LIMIT 1),
        |s4 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s3, t4),
        |p5 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s4)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t5 AS MATERIALIZED (SELECT l, r, f FROM p5 ORDER BY f DESC, l, r LIMIT 1),
        |s5 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s4, t5),
        |p6 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s5)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t6 AS MATERIALIZED (SELECT l, r, f FROM p6 ORDER BY f DESC, l, r LIMIT 1),
        |s6 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s5, t6),
        |p7 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s6)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t7 AS MATERIALIZED (SELECT l, r, f FROM p7 ORDER BY f DESC, l, r LIMIT 1),
        |s7 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s6, t7),
        |p8 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s7)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t8 AS MATERIALIZED (SELECT l, r, f FROM p8 ORDER BY f DESC, l, r LIMIT 1),
        |s8 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s7, t8),
        |p9 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s8)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t9 AS MATERIALIZED (SELECT l, r, f FROM p9 ORDER BY f DESC, l, r LIMIT 1),
        |s9 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s8, t9),
        |p10 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s9)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t10 AS MATERIALIZED (SELECT l, r, f FROM p10 ORDER BY f DESC, l, r LIMIT 1),
        |s10 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s9, t10)
        |SELECT * FROM (SELECT CAST(1 AS BIGINT) AS rank, l AS lhs, r AS rhs, l || r AS merged, f AS pair_freq FROM t1
        |UNION ALL SELECT CAST(2 AS BIGINT) AS rank, l AS lhs, r AS rhs, l || r AS merged, f AS pair_freq FROM t2
        |UNION ALL SELECT CAST(3 AS BIGINT) AS rank, l AS lhs, r AS rhs, l || r AS merged, f AS pair_freq FROM t3
        |UNION ALL SELECT CAST(4 AS BIGINT) AS rank, l AS lhs, r AS rhs, l || r AS merged, f AS pair_freq FROM t4
        |UNION ALL SELECT CAST(5 AS BIGINT) AS rank, l AS lhs, r AS rhs, l || r AS merged, f AS pair_freq FROM t5
        |UNION ALL SELECT CAST(6 AS BIGINT) AS rank, l AS lhs, r AS rhs, l || r AS merged, f AS pair_freq FROM t6
        |UNION ALL SELECT CAST(7 AS BIGINT) AS rank, l AS lhs, r AS rhs, l || r AS merged, f AS pair_freq FROM t7
        |UNION ALL SELECT CAST(8 AS BIGINT) AS rank, l AS lhs, r AS rhs, l || r AS merged, f AS pair_freq FROM t8
        |UNION ALL SELECT CAST(9 AS BIGINT) AS rank, l AS lhs, r AS rhs, l || r AS merged, f AS pair_freq FROM t9
        |UNION ALL SELECT CAST(10 AS BIGINT) AS rank, l AS lhs, r AS rhs, l || r AS merged, f AS pair_freq FROM t10)
        |ORDER BY rank""".stripMargin,
    // Same 10-round chain; the readout decodes the FINAL state s10 and
    // aggregates symbol frequencies — top-30 under the unique
    // (freq DESC, symbol) order.
    "t_bpe_vocab" ->
      """WITH w AS MATERIALIZED (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w FROM documents),
        |wf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM w WHERE length(w) > 0 GROUP BY 1),
        |s0 AS MATERIALIZED (SELECT freq, chr(1) || array_to_string(list_append(string_split(w, ''), '</w>'), (chr(1)||chr(1))) || chr(1) AS s FROM wf),
        |p1 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s0)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t1 AS MATERIALIZED (SELECT l, r, f FROM p1 ORDER BY f DESC, l, r LIMIT 1),
        |s1 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s0, t1),
        |p2 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s1)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t2 AS MATERIALIZED (SELECT l, r, f FROM p2 ORDER BY f DESC, l, r LIMIT 1),
        |s2 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s1, t2),
        |p3 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s2)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t3 AS MATERIALIZED (SELECT l, r, f FROM p3 ORDER BY f DESC, l, r LIMIT 1),
        |s3 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s2, t3),
        |p4 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s3)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t4 AS MATERIALIZED (SELECT l, r, f FROM p4 ORDER BY f DESC, l, r LIMIT 1),
        |s4 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s3, t4),
        |p5 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s4)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t5 AS MATERIALIZED (SELECT l, r, f FROM p5 ORDER BY f DESC, l, r LIMIT 1),
        |s5 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s4, t5),
        |p6 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s5)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t6 AS MATERIALIZED (SELECT l, r, f FROM p6 ORDER BY f DESC, l, r LIMIT 1),
        |s6 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s5, t6),
        |p7 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s6)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t7 AS MATERIALIZED (SELECT l, r, f FROM p7 ORDER BY f DESC, l, r LIMIT 1),
        |s7 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s6, t7),
        |p8 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s7)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t8 AS MATERIALIZED (SELECT l, r, f FROM p8 ORDER BY f DESC, l, r LIMIT 1),
        |s8 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s7, t8),
        |p9 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s8)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t9 AS MATERIALIZED (SELECT l, r, f FROM p9 ORDER BY f DESC, l, r LIMIT 1),
        |s9 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s8, t9),
        |p10 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s9)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t10 AS MATERIALIZED (SELECT l, r, f FROM p10 ORDER BY f DESC, l, r LIMIT 1),
        |s10 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s9, t10)
        |SELECT symbol, CAST(sum(freq) AS BIGINT) AS freq FROM (SELECT freq, unnest(string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1)))) AS symbol FROM s10) GROUP BY 1 ORDER BY freq DESC, symbol LIMIT 30""".stripMargin,
    // Same 10-round BPE chain; the final state s10 decodes to each
    // word's symbol count, joined to per-source word counts — the
    // trained-vs-char-baseline fertility readout, exact integer e4.
    "p_fertility" ->
      """WITH w AS MATERIALIZED (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w FROM documents),
        |wf AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM w WHERE length(w) > 0 GROUP BY 1),
        |s0 AS MATERIALIZED (SELECT freq, chr(1) || array_to_string(list_append(string_split(w, ''), '</w>'), (chr(1)||chr(1))) || chr(1) AS s FROM wf),
        |p1 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s0)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t1 AS MATERIALIZED (SELECT l, r, f FROM p1 ORDER BY f DESC, l, r LIMIT 1),
        |s1 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s0, t1),
        |p2 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s1)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t2 AS MATERIALIZED (SELECT l, r, f FROM p2 ORDER BY f DESC, l, r LIMIT 1),
        |s2 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s1, t2),
        |p3 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s2)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t3 AS MATERIALIZED (SELECT l, r, f FROM p3 ORDER BY f DESC, l, r LIMIT 1),
        |s3 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s2, t3),
        |p4 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s3)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t4 AS MATERIALIZED (SELECT l, r, f FROM p4 ORDER BY f DESC, l, r LIMIT 1),
        |s4 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s3, t4),
        |p5 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s4)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t5 AS MATERIALIZED (SELECT l, r, f FROM p5 ORDER BY f DESC, l, r LIMIT 1),
        |s5 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s4, t5),
        |p6 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s5)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t6 AS MATERIALIZED (SELECT l, r, f FROM p6 ORDER BY f DESC, l, r LIMIT 1),
        |s6 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s5, t6),
        |p7 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s6)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t7 AS MATERIALIZED (SELECT l, r, f FROM p7 ORDER BY f DESC, l, r LIMIT 1),
        |s7 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s6, t7),
        |p8 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s7)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t8 AS MATERIALIZED (SELECT l, r, f FROM p8 ORDER BY f DESC, l, r LIMIT 1),
        |s8 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s7, t8),
        |p9 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s8)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t9 AS MATERIALIZED (SELECT l, r, f FROM p9 ORDER BY f DESC, l, r LIMIT 1),
        |s9 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s8, t9),
        |p10 AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS r, CAST(sum(freq) AS BIGINT) AS f FROM (SELECT freq, unnest(list_zip(y, y[2:])) AS pr FROM (SELECT freq, string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s9)) WHERE pr[2] IS NOT NULL GROUP BY 1, 2),
        |t10 AS MATERIALIZED (SELECT l, r, f FROM p10 ORDER BY f DESC, l, r LIMIT 1),
        |s10 AS MATERIALIZED (SELECT freq, replace(s, chr(1) || l || (chr(1)||chr(1)) || r || chr(1), chr(1) || l || r || chr(1)) AS s FROM s9, t10),
        |enc AS (SELECT regexp_replace(array_to_string(y, ''), '</w>$', '') AS w,
        |    CAST(len(y) AS BIGINT) AS n_syms
        |  FROM (SELECT string_split(substr(s, 2, length(s) - 2), (chr(1)||chr(1))) AS y FROM s10)),
        |ws AS (SELECT source, w, CAST(count(*) AS BIGINT) AS n FROM
        |  (SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        |   FROM documents) WHERE length(w) > 0 GROUP BY 1, 2)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_words,
        |  CAST(sum(n * n_syms) AS BIGINT) AS n_bpe_tokens,
        |  CAST((sum(n * n_syms) * 10000) // sum(n) AS BIGINT) AS fertility_e4,
        |  CAST((sum(n * (length(w) + 1)) * 10000) // sum(n) AS BIGINT)
        |    AS char_baseline_e4
        |FROM ws JOIN enc USING (w) GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same token split as t_hapax; HUGEINT spectrum sums mirror the
    // DECIMAL(38,0) ledger; both ratios are bounded truncating divs.
    "t_yule_k" ->
      """WITH t AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT source, token, CAST(count(*) AS HUGEINT) AS n
        |  FROM t GROUP BY 1, 2)
        |SELECT source, count(*) AS vocab,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST((1000000 * (sum(n * n) - sum(n)))
        |    // (sum(n) * sum(n)) AS BIGINT) AS yule_k_e2,
        |  CAST(CASE WHEN sum(n) * (sum(n) - 1) = 0 THEN NULL
        |    ELSE (1000000000 * (sum(n * n) - sum(n)))
        |      // (sum(n) * (sum(n) - 1)) END AS BIGINT) AS simpson_e9
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // The join-condition (not WHERE) predicate keeps zero-order
    // customers; count(o_orderkey) skips the null-extended rows.
    "q13_cust_dist" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey,
        |    CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // Exact integer promo share (cents x (100-disc%)), HUGEINT
    // ledgers, one truncating div — the q8_mktshare discipline.
    "q14_promo_share" ->
      """WITH v AS (SELECT CAST(month(l_shipdate) AS INT) AS l_month,
        |    p_type = 'PROMO' AS is_promo,
        |    CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT))
        |      AS HUGEINT) AS vol
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00')
        |SELECT l_month,
        |  CAST(CASE WHEN sum(vol) = 0 THEN NULL
        |    ELSE (1000000 * sum(CASE WHEN is_promo THEN vol ELSE 0 END))
        |      // sum(vol) END AS BIGINT) AS promo_share_e6
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    // Unique (sum_qty DESC, o_orderkey) order; integral quantities.
    "q18_big_orders" ->
      """WITH big AS (SELECT l_orderkey,
        |    CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum_qty > 300)
        |SELECT c_custkey, c_name, o_orderkey,
        |  round(o_totalprice, 2) AS totalprice, sum_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY sum_qty DESC, o_orderkey""".stripMargin,
    // Same planted-dup CASE as p_priority_dedup; one truncating div.
    "p_dedup_weights" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 25 = 3 THEN 'PLANTED DUP ALPHA'
        |      WHEN doc_id % 25 = 7 THEN 'PLANTED DUP BETA'
        |      ELSE text END AS text
        |  FROM documents),
        |h AS (SELECT doc_id, md5(text) AS h FROM d),
        |c AS (SELECT h, CAST(min(doc_id) AS BIGINT) AS cluster_id,
        |    CAST(count(*) AS BIGINT) AS csize
        |  FROM h GROUP BY h)
        |SELECT doc_id, cluster_id, csize,
        |  CAST(1000000 // csize AS BIGINT) AS weight_e6
        |FROM h JOIN c USING (h) ORDER BY doc_id""".stripMargin,
    // Global month spine (zero months count via the broadcast n);
    // HUGEINT ledgers; classes by cross-multiplied comparisons.
    "q_xyz" ->
      """WITH pm AS (SELECT l_partkey, date_trunc('month', l_shipdate) AS mo,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS HUGEINT) AS mq
        |  FROM lineitem GROUP BY 1, 2),
        |spine AS (SELECT CAST(count(DISTINCT mo) AS HUGEINT) AS n FROM pm),
        |f AS (SELECT l_partkey, sum(mq) AS s, sum(mq * mq) AS s2
        |  FROM pm GROUP BY 1)
        |SELECT l_partkey, CAST(n AS BIGINT) AS n_months,
        |  CAST(s AS BIGINT) AS total_qty,
        |  CAST(CASE WHEN s = 0 THEN NULL
        |    ELSE (1000000 * (n * s2 - s * s)) // (s * s) END
        |    AS BIGINT) AS cv2_e6,
        |  CASE WHEN 4 * (n * s2 - s * s) < s * s THEN 'X'
        |    WHEN n * s2 - s * s < s * s THEN 'Y'
        |    ELSE 'Z' END AS cls
        |FROM f, spine ORDER BY l_partkey""".stripMargin,
    // Lower median by ordered selection at rank (n+1)//2 (gap ties
    // collapse to the same VALUE); truncating e4 mean.
    "q_order_gap" ->
      """WITH g AS (SELECT c_mktsegment, o_custkey, o_orderkey,
        |    CAST(date_diff('day',
        |      lag(CAST(o_orderdate AS DATE), 1) OVER
        |        (PARTITION BY o_custkey
        |         ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS gap
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |nz AS (SELECT * FROM g WHERE gap IS NOT NULL),
        |agg AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(gap) * 10000 // count(*) AS BIGINT) AS mean_gap_e4
        |  FROM nz GROUP BY 1),
        |r AS (SELECT c_mktsegment, gap, row_number() OVER
        |    (PARTITION BY c_mktsegment
        |     ORDER BY gap, o_custkey, o_orderkey) AS rk
        |  FROM nz),
        |med AS (SELECT r.c_mktsegment, CAST(max(gap) AS BIGINT) AS median_gap
        |  FROM r JOIN agg ON r.c_mktsegment = agg.c_mktsegment
        |  WHERE rk = (n_gaps + 1) // 2 GROUP BY 1)
        |SELECT agg.c_mktsegment, n_gaps, mean_gap_e4, median_gap
        |FROM agg JOIN med ON agg.c_mktsegment = med.c_mktsegment
        |ORDER BY agg.c_mktsegment""".stripMargin,
    // Derivable conjuncts + residual disjunction, scalar money row.
    "q19_disc_revenue" ->
      """SELECT round(sum(l_extendedprice * (1.0 - l_discount)), 2)
        |    AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_quantity BETWEEN 1.0 AND 30.0
        |  AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
        |  AND ((p_brand = 'Brand#1' AND l_quantity BETWEEN 1.0 AND 11.0)
        |    OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10.0 AND 20.0)
        |    OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20.0 AND 30.0))""".stripMargin,
    // The correlated scalar avg stated AS a correlated subquery here
    // (DuckDB decorrelates it itself); 0.2*avg cleared to the exact
    // 5*qty*cnt < sum cross-multiply, matching the Spark tree.
    "q17_small_qty" ->
      """WITH pa AS (SELECT l_partkey,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sq,
        |    CAST(count(*) AS BIGINT) AS cq
        |  FROM lineitem GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_small,
        |  round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |  AND p_brand = 'Brand#3' AND p_size < 15
        |JOIN pa ON pa.l_partkey = lineitem.l_partkey
        |WHERE CAST(round(l_quantity) AS BIGINT) * 5 * cq < sq""".stripMargin,
    // EXISTS/NOT-EXISTS stated literally (DuckDB plans the semi/anti
    // joins); unique (numwait DESC, s_suppkey) top-25.
    "q21_waiting" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey, l_returnflag
        |  FROM lineitem)
        |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM li l1
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM li l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM li l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey
        |LIMIT 25""".stripMargin,
    // NOT EXISTS over the date-bounded orders + the global scalar
    // avg filter CLEARED to the exact integer cross-multiply
    // bal_cents·n_pos > sum_pos_cents (BIGINT/HUGEINT — a float avg's
    // reduction order could flip a within-ulp membership, ADVICE
    // r17); grouped by segment (the corpus's country-code).
    "q22_idle_cust" ->
      """WITH pos AS (SELECT count(*) AS n_pos,
        |    sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS sum_pos_cents
        |  FROM customer WHERE CAST(round(c_acctbal * 100) AS BIGINT) > 0)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
        |  round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer, pos
        |WHERE CAST(round(c_acctbal * 100) AS BIGINT) * n_pos > sum_pos_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Argmax stated as `= (SELECT max(...))` over the exact-integer
    // revenue view; ties all emitted, order-free.
    "q15_top_supplier" ->
      """WITH revenue AS (SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |      AS BIGINT) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_rev
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    // Identical join + day-gap predicate + CASE counts.
    "q12_ship_audit" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND date_diff('day', CAST(o_orderdate AS DATE),
        |    CAST(l_shipdate AS DATE)) > 90
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // EXISTS stated literally; quarter + flag filters pushed.
    "q4_order_priority" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Identical predicate set; §6 rounded scalar.
    "q6_forecast" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24.0""".stripMargin,
    // Identical join tree; mixed-sign fold in EXACT integer cents
    // (round(sum(double),2) flips cents under cancellation — the
    // sf0.1 one-cent incident; per-row round(*100) is the identical
    // tree both sides, the BIGINT sum order-free).
    "q9_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
        |      AS BIGINT)
        |    - CAST(round(p_retailprice * 100) AS BIGINT)
        |      * CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |    AS profit_cents
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey AND p_type = 'PROMO'
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,
    // Group-vs-global share as the exact val*n > 2*total
    // cross-multiply on HUGEINT ledgers (scale-free x-average
    // threshold); unique order.
    "q11_important_stock" ->
      """WITH v AS (SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS HUGEINT) AS val
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_5' GROUP BY 1),
        |tot AS (SELECT sum(val) AS tv, CAST(count(*) AS HUGEINT) AS ns
        |  FROM v)
        |SELECT l_partkey, CAST(val AS BIGINT) AS value_cents
        |FROM v, tot WHERE val * ns > 2 * tv
        |ORDER BY value_cents DESC, l_partkey""".stripMargin,
    // NOT IN stated literally (the subquery set is null-free by
    // construction); distinct-count per bounded attribute cell.
    "q16_parts_supp" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#5' AND p_size IN (1, 9, 19, 29, 39, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |    WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    // Nested IN + per-part average, the comparison cleared to the
    // exact sq*ns > tq cross-multiply; unique top-25.
    "q20_promo_suppliers" ->
      """WITH pq AS (SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sq
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |    AND l_partkey IN (SELECT p_partkey FROM part
        |      WHERE p_type = 'PROMO')
        |  GROUP BY 1, 2),
        |pa AS (SELECT l_partkey, CAST(sum(sq) AS BIGINT) AS tq,
        |    CAST(count(*) AS BIGINT) AS ns FROM pq GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS n_excess_parts
        |FROM pq
        |JOIN pa ON pa.l_partkey = pq.l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |WHERE sq * ns > tq
        |GROUP BY 1, 2 ORDER BY n_excess_parts DESC, s_suppkey
        |LIMIT 25""".stripMargin,
    // Unique-ranked window (avg_cost, suppkey) per part — the §6
    // composite-argmax pattern; exact e6-scaled truncating avg.
    "q2_min_cost" ->
      """WITH cost AS (SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS sc,
        |    CAST(count(*) AS BIGINT) AS nc
        |  FROM lineitem GROUP BY 1, 2),
        |rk AS (SELECT l_partkey, l_suppkey,
        |    sc * 1000000 // nc AS avg_cost_e8,
        |    row_number() OVER (PARTITION BY l_partkey
        |      ORDER BY sc * 1000000 // nc, l_suppkey) AS rn
        |  FROM cost)
        |SELECT p_partkey, p_brand, l_suppkey AS s_suppkey, avg_cost_e8
        |FROM rk JOIN part ON p_partkey = l_partkey
        |WHERE rn = 1 AND p_size > 45
        |ORDER BY p_partkey""".stripMargin,
    // Per-brand log-log OLS over the bounded (brand, qty) grid —
    // the q_power_law tree, grouped; part joins before the collapse.
    "q_price_elasticity" ->
      """WITH lvl AS (SELECT p_brand, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      // count(*) AS BIGINT) AS mean_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |p AS (SELECT p_brand,
        |    CAST(round(ln(CAST(qty AS DOUBLE)) * 1000000) AS BIGINT) AS x,
        |    CAST(round(ln(CAST(mean_cents AS DOUBLE)) * 1000000)
        |      AS BIGINT) AS y FROM lvl),
        |f AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx FROM p GROUP BY 1)
        |SELECT p_brand, k AS n_levels,
        |  CASE WHEN k * sxx - sx * sx <> 0 THEN
        |    CAST(round(CAST(k * sxy - sx * sy AS DOUBLE)
        |      / (k * sxx - sx * sx) * 1000000) AS BIGINT) END AS slope_e6,
        |  CASE WHEN k * sxx - sx * sx <> 0 THEN
        |    CAST(round((CAST(sy AS DOUBLE)
        |      - CAST(k * sxy - sx * sy AS DOUBLE) / (k * sxx - sx * sx)
        |      * sx) / k) AS BIGINT) END AS intercept_e6
        |FROM f ORDER BY p_brand""".stripMargin,
    // Add-one-smoothed corpus unigram surprisal: per-token e4 round
    // ONCE per distinct token, integer k·s products, truncating mean.
    "t_surprisal" ->
      """WITH occ AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |pd AS (SELECT doc_id, token, count(*) AS k FROM occ GROUP BY 1, 2),
        |uni AS (SELECT token, sum(k) AS u FROM pd GROUP BY 1),
        |tot AS (SELECT sum(u) AS t_occ, count(*) AS v_vocab FROM uni),
        |sc AS (SELECT doc_id, k,
        |    CAST(round(ln((CAST(t_occ AS DOUBLE) + v_vocab) / (u + 1))
        |      * 10000) AS BIGINT) AS s
        |  FROM pd JOIN uni USING (token) CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
        |  CAST(sum(k * s) AS BIGINT) AS surprisal_e4,
        |  CAST(sum(k * s) // greatest(sum(k), 1) AS BIGINT)
        |    AS mean_surprisal_e4
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // TextRank: the SAME unrolled integer-PageRank rounds as
    // g_pagerank_det over the word co-occurrence CTE.
    "t_textrank" -> textrankOracleSql(),
    // Categorical assortativity: exact mixing matrix over the shared
    // co-edge CTE, HUGEINT squares, one double tree for r.
    "g_attr_assortativity" ->
      s"""WITH $EdgeCte,
         |lab AS (SELECT s1.s_nationkey AS ca, s2.s_nationkey AS cb
         |  FROM sym JOIN supplier s1 ON s1.s_suppkey = sym.src
         |  JOIN supplier s2 ON s2.s_suppkey = sym.dst),
         |mix AS (SELECT ca, cb, CAST(count(*) AS BIGINT) AS mij
         |  FROM lab GROUP BY 1, 2),
         |rs AS (SELECT ca, CAST(sum(mij) AS BIGINT) AS rsum
         |  FROM mix GROUP BY 1),
         |p AS (SELECT CAST(count(*) AS BIGINT) AS k,
         |    sum(CAST(rsum AS HUGEINT) * rsum) AS prod FROM rs),
         |f AS (SELECT CAST(sum(mij) AS BIGINT) AS m,
         |    CAST(sum(CASE WHEN ca = cb THEN mij ELSE 0 END) AS BIGINT)
         |      AS tr FROM mix)
         |SELECT m, k AS n_groups,
         |  CAST(CAST(tr AS HUGEINT) * 1000000 // m AS BIGINT)
         |    AS same_frac_e6,
         |  CASE WHEN CAST(m AS DOUBLE) * m - CAST(prod AS DOUBLE) > 0.0
         |    THEN CAST(round((CAST(tr AS DOUBLE) * m
         |      - CAST(prod AS DOUBLE)) / (CAST(m AS DOUBLE) * m
         |      - CAST(prod AS DOUBLE)) * 10000) AS BIGINT) END
         |    AS attr_assort_e4
         |FROM f, p""".stripMargin,
    // Retention decay: ln only on the bounded age spine, e6 per
    // point before exact integer OLS sums (the q_power_law shape).
    "q_retention_decay" ->
      """WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS day0 FROM events),
        |coh AS (SELECT DISTINCT user_id FROM events, d0
        |  WHERE CAST(ts AS DATE) = day0),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM coh),
        |act AS (SELECT
        |    CAST(date_diff('day', day0, CAST(ts AS DATE)) AS BIGINT)
        |      AS age,
        |    CAST(count(DISTINCT e.user_id) AS BIGINT) AS a
        |  FROM events e JOIN coh USING (user_id), d0 GROUP BY 1),
        |p AS (SELECT age AS x,
        |    CAST(round(ln(CAST(a AS DOUBLE) / nc) * 1000000) AS BIGINT)
        |      AS y
        |  FROM act, n WHERE a > 0),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx FROM p)
        |SELECT k AS n_ages, (SELECT nc FROM n) AS cohort_n,
        |  CASE WHEN k * sxx - sx * sx <> 0 THEN
        |    CAST(round(CAST(k * sxy - sx * sy AS DOUBLE)
        |      / (k * sxx - sx * sx)) AS BIGINT) END
        |    AS decay_e6,
        |  CASE WHEN k * sxx - sx * sx <> 0 THEN
        |    CAST(round((CAST(sy AS DOUBLE)
        |      - CAST(k * sxy - sx * sy AS DOUBLE) / (k * sxx - sx * sx)
        |      * sx) / k) AS BIGINT) END AS intercept_e6
        |FROM f""".stripMargin,
    // Forecast skill: exact integer naive/seasonal errors, drift's
    // one division e6-rounded per row, integer floor MAEs.
    "q_forecast_skill" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |e AS (SELECT event_type, x,
        |    CAST(row_number() OVER w AS BIGINT) AS rk,
        |    lag(x, 1) OVER w AS x1, lag(x, 7) OVER w AS x7,
        |    first_value(x) OVER w AS xf
        |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |r AS (SELECT event_type, abs(x - x1) AS e_naive,
        |    abs(x - x7) AS e_snaive,
        |    CASE WHEN rk >= 3 THEN abs(x * 1000000 - (x1 * 1000000
        |      + CAST(round(CAST(x1 - xf AS DOUBLE) * 1000000
        |        / (CAST(rk AS DOUBLE) - 2.0)) AS BIGINT))) END AS e_drift
        |  FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(e_naive) * 100 // count(e_naive) AS BIGINT)
        |    AS mae_naive_e2,
        |  CAST(sum(e_snaive) * 100 // count(e_snaive) AS BIGINT)
        |    AS mae_snaive_e2,
        |  CAST(sum(e_drift) // (count(e_drift) * 10000) AS BIGINT)
        |    AS mae_drift_e2
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    // Rolling correlation: exact integer window sufficient stats
    // over the bounded day grid, one double r tree e4-rounded.
    "q_rolling_corr" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS xv,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS xp
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1),
        |s AS (SELECT day,
        |    CAST(count(*) OVER w AS BIGINT) AS n,
        |    CAST(sum(xv) OVER w AS BIGINT) AS sx,
        |    CAST(sum(xp) OVER w AS BIGINT) AS sy,
        |    CAST(sum(xv * xp) OVER w AS BIGINT) AS sxy,
        |    CAST(sum(xv * xv) OVER w AS BIGINT) AS sxx,
        |    CAST(sum(xp * xp) OVER w AS BIGINT) AS syy
        |  FROM d WINDOW w AS (ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
        |SELECT day, n AS n_win,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |    CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) * 10000)
        |      AS BIGINT) END AS r_e4
        |FROM s ORDER BY day""".stripMargin,
    // SRM: exact integer chi-square numerator, one double division,
    // integer cross-multiplied 3.8415 verdict.
    "q_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |f AS (SELECT
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_b FROM u)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a + n_b > 0 THEN
        |    CAST(round(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
        |      / (n_a + n_b) * 10000) AS BIGINT) END AS chi2_e4,
        |  CAST(CASE WHEN (n_a - n_b) * (n_a - n_b) * 100000
        |    > 384150 * (n_a + n_b) THEN 1 ELSE 0 END AS BIGINT)
        |    AS srm_flag
        |FROM f""".stripMargin,
    // Seasonality strength: the q_anova floored-term convention with
    // weekday groups (isodow-1 = Spark weekday, both 0=Monday);
    // eta2 = SSB/SST one double tree.
    "q_seasonality" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, isodow(day) - 1 AS dow,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
        |    sum(x * x) AS ss,
        |    CAST(sum(x) AS HUGEINT) * sum(x) * 1000000 // count(*)
        |      AS sbq
        |  FROM d GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(n) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS s,
        |    sum(ss) AS ss, sum(sbq) AS sbq FROM g GROUP BY 1)
        |SELECT event_type, n AS n_days, k AS n_dows,
        |  CASE WHEN CAST(ss AS DOUBLE)
        |      - CAST(s AS DOUBLE) * s / n > 0.0 THEN
        |    CAST(round((CAST(sbq AS DOUBLE) / 1000000
        |      - CAST(s AS DOUBLE) * s / n)
        |      / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
        |      * 1000000) AS BIGINT) END AS eta2_e6
        |FROM t ORDER BY event_type""".stripMargin,
    // DQ audit: each check restated as the same conditional
    // aggregation / anti-join count; clean data = zero violations.
    "q_dq_audit" ->
      """SELECT 'fk_orphans' AS check_name,
        |    'lineitem.l_orderkey->orders' AS target,
        |    CAST(NULL AS BIGINT) AS n_checked,
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |      WHERE NOT EXISTS (SELECT 1 FROM orders o
        |        WHERE o.o_orderkey = l.l_orderkey)) AS n_violations
        |UNION ALL
        |SELECT 'fk_orphans', 'orders.o_custkey->customer',
        |    CAST(NULL AS BIGINT),
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |      WHERE NOT EXISTS (SELECT 1 FROM customer c
        |        WHERE c.c_custkey = o.o_custkey))
        |UNION ALL
        |SELECT 'pk_unique', 'customer.c_custkey',
        |    (SELECT CAST(count(*) AS BIGINT) FROM customer),
        |    (SELECT CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
        |      FROM customer)
        |UNION ALL
        |SELECT 'pk_unique', 'orders.o_orderkey',
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |    (SELECT CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        |      FROM orders)
        |UNION ALL
        |SELECT 'row_rules', 'lineitem',
        |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
        |    (SELECT CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
        |        OR l_extendedprice IS NULL OR l_extendedprice < 0
        |      THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem)
        |UNION ALL
        |SELECT 'row_rules', 'orders',
        |    (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |    (SELECT CAST(sum(CASE WHEN o_totalprice IS NULL
        |        OR o_totalprice <= 0
        |        OR o_orderstatus NOT IN ('O', 'F', 'P')
        |      THEN 1 ELSE 0 END) AS BIGINT) FROM orders)
        |ORDER BY 1, 2""".stripMargin,
    // Runs test: exact lower-median dichotomy (at-median days drop),
    // lag-transition run count, the one z double tree e4-rounded.
    "q_runs_test" ->
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type, c AS med FROM (
        |    SELECT event_type, c, day,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY c, day) AS rk,
        |      count(*) OVER (PARTITION BY event_type) AS nn FROM d) t
        |  WHERE rk = (nn + 1) // 2),
        |kept AS (SELECT d.event_type, day,
        |    CASE WHEN c > med THEN 1 ELSE 0 END AS b
        |  FROM d JOIN med USING (event_type) WHERE c <> med),
        |lagd AS (SELECT event_type, b, lag(b) OVER (
        |    PARTITION BY event_type ORDER BY day) AS pb FROM kept),
        |f AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(b) AS BIGINT) AS n1,
        |    CAST(sum(1 - b) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN pb IS NULL OR pb <> b THEN 1 ELSE 0 END)
        |      AS BIGINT) AS r
        |  FROM lagd GROUP BY 1)
        |SELECT event_type, n1, n2, r,
        |  CASE WHEN n1 > 0 AND n2 > 0 AND n > 1
        |      AND (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |        * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |          - CAST(n AS DOUBLE)))
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |          * (CAST(n AS DOUBLE) - 1.0)) > 0.0 THEN
        |    CAST(round((CAST(r AS DOUBLE)
        |      - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |        / CAST(n AS DOUBLE) + 1.0))
        |      / sqrt((2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |        * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |          - CAST(n AS DOUBLE)))
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |          * (CAST(n AS DOUBLE) - 1.0))) * 10000) AS BIGINT) END
        |    AS z_e4
        |FROM f ORDER BY event_type""".stripMargin,
    // Curriculum phases: standard NTILE over the unique
    // (n_chars, doc_id) order — identical closed form both sides.
    "p_curriculum" ->
      """WITH r AS (SELECT source, n_chars,
        |    ntile(3) OVER (ORDER BY n_chars, doc_id) AS phase
        |  FROM documents)
        |SELECT CAST(phase AS BIGINT) AS phase, source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(min(n_chars) AS BIGINT) AS min_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_chars
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Bloom-skipped scans answer exactly like full scans — the
    // oracle is the plain point-lookup; BloomSkipSpec asserts the
    // footers carry a discriminating filter.
    "src_bloom_skip" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders WHERE o_custkey IN (42, 777, 1234)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "t_stopwords" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['the','a','an','and','or','but','of','to','in','on','at',
        |       'for','with','by','from','as','is','are','was','were','be',
        |       'it','this','that','not'], x))) AS BIGINT) AS n_stopwords
        |  FROM t)
        |SELECT doc_id, n_tokens, n_stopwords,
        |  CAST(round(n_stopwords * 10000.0 / n_tokens) AS BIGINT) AS stop_ratio_e4
        |FROM c ORDER BY doc_id""".stripMargin,
    // Same lowercased whitespace tokens; integer hapax/TTR ratios.
    "t_hapax" ->
      """WITH t AS (SELECT source,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT source, token, count(*) AS n FROM t GROUP BY 1, 2)
        |SELECT source, count(*) AS vocab,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS hapax_e6,
        |  CAST(count(*) * 1000000 // sum(n) AS BIGINT) AS ttr_e6
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // Unique (n DESC, token) order both sides; rank·n exact.
    "t_zipf" ->
      """WITH t AS (SELECT
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents),
        |c AS (SELECT token, count(*) AS n FROM t GROUP BY 1),
        |r AS (SELECT token, CAST(n AS BIGINT) AS n,
        |    CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rk
        |  FROM c)
        |SELECT rk, token, n, CAST(rk * n AS BIGINT) AS rk_x_n
        |FROM r WHERE rk <= 100 ORDER BY rk""".stripMargin,
    // Terminator-run regex [.!?]+ is Java/RE2-identical; zero-sentence
    // docs guarded by greatest(…, 1) on both sides.
    "t_sentences" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
        |    AS n_sentences,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |    AS n_tokens,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) * 100
        |    // greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |    AS BIGINT) AS wps_e2,
        |  CAST(length(text) * 100
        |    // greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |    AS BIGINT) AS cps_e2
        |FROM documents ORDER BY doc_id""".stripMargin,
    // [^\x20-\x7E\s] is Java/RE2-identical; DuckDB regexp_replace
    // needs the explicit 'g' flag to strip every match.
    // Whitespace spelled out on both sides (Java \s has \x0B, RE2's
    // doesn't — TextAnalysis.charsetProfile's divergence note).
    "t_charset" ->
      """WITH d AS (SELECT lang, CAST(length(text) AS BIGINT) AS nc,
        |    CAST(length(text) - length(regexp_replace(text,
        |      '[^\x20-\x7E\t\n\x0B\f\r]', '', 'g')) AS BIGINT) AS na
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs, CAST(sum(nc) AS BIGINT) AS n_chars,
        |  CAST(sum(na) AS BIGINT) AS n_nonascii,
        |  CAST(sum(na) * 1000000 // greatest(sum(nc), 1) AS BIGINT)
        |    AS nonascii_e6
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same stopword-island segmentation (cumsum of stop flags per
    // doc), same ≤4-word cap, same e4-floored deg/freq word scores.
    "t_rake" ->
      """WITH tk AS (SELECT doc_id, generate_subscripts(toks, 1) AS pos,
        |    unnest(toks) AS tok
        |  FROM (SELECT doc_id,
        |      regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        |    FROM documents)),
        |m AS (SELECT doc_id, pos, tok,
        |    CASE WHEN list_contains(
        |      ['the','a','an','and','or','but','of','to','in','on','at',
        |       'for','with','by','from','as','is','are','was','were','be',
        |       'it','this','that','not'], tok) THEN 1 ELSE 0 END AS stp
        |  FROM tk),
        |i AS (SELECT doc_id, pos, tok, stp,
        |    sum(stp) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
        |  FROM m),
        |ph AS (SELECT doc_id, isl,
        |    string_agg(tok, ' ' ORDER BY pos) AS phrase,
        |    count(*) AS plen
        |  FROM i WHERE stp = 0 GROUP BY doc_id, isl),
        |p4 AS (SELECT phrase, plen FROM ph WHERE plen <= 4),
        |ws AS (SELECT w, CAST(sum(plen) * 10000 // count(*) AS BIGINT)
        |    AS wscore_e4
        |  FROM (SELECT unnest(string_split(phrase, ' ')) AS w, plen
        |    FROM p4) GROUP BY 1),
        |dp AS (SELECT phrase, count(*) AS n_occ FROM p4 GROUP BY 1),
        |pw AS (SELECT phrase, n_occ,
        |    unnest(string_split(phrase, ' ')) AS w FROM dp)
        |SELECT pw.phrase, CAST(pw.n_occ AS BIGINT) AS n_occ,
        |  CAST(sum(ws.wscore_e4) AS BIGINT) AS score_e4
        |FROM pw JOIN ws ON ws.w = pw.w
        |GROUP BY 1, 2 ORDER BY score_e4 DESC, phrase
        |LIMIT 25""".stripMargin,
    // Same BPE-ish pattern as TextAnalysis.BpeTokenPattern — kept to
    // constructs Java regex and RE2 read identically. The leading
    // quote is SQL-doubled.
    "t_regex_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS BIGINT)
        |    AS n_bpe_tokens,
        |  CAST(len(list_distinct(regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))) AS BIGINT)
        |    AS n_distinct_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |  CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT) AS n_space,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
        |    AS n_distinct_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Sketch-quality oracles: the HLL/GK estimates aren't
    // bit-reproducible across engines, so the queries emit the exact
    // value + an in-query error-bound verdict the oracle pins true.
    // Heavy hitters under the sketch-quality pattern: exact top-k is
    // SQL; the CMS point estimates are seeded/deterministic and the
    // verdict column pins est ∈ [n, n + ceil(eps·N)] as TRUE.
    "q_approx_topk" ->
      """SELECT token, count(*) AS n, TRUE AS cms_ok FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents) t
        |GROUP BY token
        |ORDER BY n DESC, token ASC
        |LIMIT 25""".stripMargin,
    "q_approx_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS approx_ok
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // Persisted-sketch union: the oracle pins exact distincts and the
    // 5% sketch-quality verdict, as q_approx_distinct.
    "q_sketch_union" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  TRUE AS approx_ok
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_approx_pct" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS exact_median,
        |  count(*) AS n,
        |  TRUE AS approx_ok
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // Hash-threshold stratified sampling: thresholds are
    // fractionThreshold(f) literals for the default fractions
    // (en 0.5, de 1.0, fr 0.1) — keep in sync with
    // Pipeline.stratifiedSample's defaults.
    "p_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':' || lang || ':42'), 1, 8) <
        |  CASE lang WHEN 'en' THEN '80000000' WHEN 'de' THEN 'g'
        |    WHEN 'fr' THEN '19999999' ELSE '0' END
        |ORDER BY doc_id""".stripMargin,
    // Stub language-id replicated in SQL: CJK script check, stopword
    // hit counts per language, fixed priority tiebreak — same lists
    // and order as TextFunctions.langId.
    "t_langid" -> LangIdSql,
    "t_lang_confusion" ->
      ("WITH pred AS (" + LangIdSql + """)
        |SELECT d.lang, p.pred_lang, CAST(count(*) AS BIGINT) AS n
        |FROM documents d JOIN pred p USING (doc_id)
        |GROUP BY d.lang, p.pred_lang
        |ORDER BY d.lang, p.pred_lang""".stripMargin),
    "d_cluster_sizes" ->
      """WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
        |c AS (SELECT h, CAST(count(*) AS BIGINT) AS sz FROM h GROUP BY h)
        |SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters
        |FROM c GROUP BY sz ORDER BY sz""".stripMargin,
    // Exact-dup verdicts re-keyed by source metadata.
    "d_dup_by_source" ->
      """WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
        |c AS (SELECT h, CAST(min(doc_id) AS BIGINT) AS cluster_id
        |      FROM h GROUP BY h),
        |v AS (SELECT doc_id, doc_id = cluster_id AS is_survivor
        |  FROM h JOIN c USING (h))
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN v.is_survivor THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_dups,
        |  CAST(sum(CASE WHEN v.is_survivor THEN 0 ELSE 1 END) * 10000
        |    // count(*) AS BIGINT) AS dup_rate_e4
        |FROM documents d JOIN v USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // Multimodal stub oracles: md5 content hashes over byte slices;
    // DuckDB's char slicing equals the byte slicing because the
    // corpus is ASCII (checked — see Multimodal scaladoc).
    "m_frame_sample" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(ceil(length(text) / 256.0) AS BIGINT))) AS i
        |  FROM documents)
        |SELECT doc_id, CAST(i AS INT) AS frame_idx,
        |  md5(substr(text, CAST(i * 256 + 1 AS INT), 256)) AS frame_hash
        |FROM c ORDER BY doc_id, frame_idx""".stripMargin,
    // Same stride chunking as m_frame_sample; the per-frame feature is
    // the hash's leading 15 hex digits, lag-delta'd per video.
    "m_scene_cuts" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(ceil(length(text) / 256.0) AS BIGINT))) AS i
        |  FROM documents),
        |f AS (SELECT doc_id, i,
        |    CAST(('0x' || substr(md5(substr(text, CAST(i * 256 + 1 AS INT), 256)),
        |      1, 15)) AS BIGINT) AS fv
        |  FROM c),
        |l AS (SELECT doc_id, fv,
        |    lag(fv) OVER (PARTITION BY doc_id ORDER BY i) AS prev FROM f)
        |SELECT doc_id, count(*) AS n_frames,
        |  CAST(sum(CASE WHEN prev IS NOT NULL
        |    AND abs(fv - prev) > 600000000000000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_cuts
        |FROM l GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // Same stride chunking + hash energy proxy; islands via the
    // rn − rn-within-activity identity.
    "m_vad_segments" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(ceil(length(text) / 256.0) AS BIGINT))) AS i
        |  FROM documents),
        |f AS (SELECT doc_id, i,
        |    CAST(('0x' || substr(md5(substr(text, CAST(i * 256 + 1 AS INT), 256)),
        |      1, 15)) AS BIGINT) AS fv
        |  FROM c),
        |a AS (SELECT doc_id, i, fv > 600000000000000000 AS active FROM f),
        |m AS (SELECT doc_id, i, active,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn,
        |    row_number() OVER (PARTITION BY doc_id, active ORDER BY i) AS arn
        |  FROM a),
        |s AS (SELECT doc_id, rn - arn AS grp, count(*) AS len
        |  FROM m WHERE active GROUP BY 1, 2),
        |ps AS (SELECT doc_id, count(*) AS n_segments,
        |    CAST(max(len) AS BIGINT) AS longest FROM s GROUP BY 1),
        |t AS (SELECT doc_id, count(*) AS n_frames,
        |    CAST(sum(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT) AS n_active
        |  FROM a GROUP BY 1)
        |SELECT doc_id, n_frames, n_active,
        |  coalesce(n_segments, 0) AS n_segments,
        |  coalesce(longest, 0) AS longest
        |FROM t LEFT JOIN ps USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "m_resize" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INT) AS orig_bytes,
        |  CAST((length(text) + 7) // 8 AS INT) AS thumb_bytes,
        |  md5(array_to_string(list_transform(range(0, (length(text) + 7) // 8),
        |    i -> substr(text, CAST(i * 8 + 1 AS INT), 1)), '')) AS thumb_hash
        |FROM documents ORDER BY doc_id""".stripMargin,
    "m_features" ->
      """WITH pos AS (
        |  SELECT doc_id, text, length(text) AS n,
        |    unnest(range(1, length(text) + 1)) AS i
        |  FROM documents),
        |b AS (SELECT doc_id, n, ord(substr(text, CAST(i AS INT), 1)) AS bv FROM pos),
        |c AS (SELECT doc_id, max(n) AS n2, bv, count(*) AS cnt
        |  FROM b GROUP BY doc_id, bv)
        |SELECT doc_id, CAST(max(n2) AS INT) AS n_bytes,
        |  CAST(sum(bv * cnt) AS DOUBLE) / CAST(max(n2) AS DOUBLE) AS mean_byte,
        |  CAST(count(*) AS INT) AS distinct_bytes,
        |  CAST(sum(CAST(round(-(CAST(cnt AS DOUBLE) / n2)
        |    * ln(CAST(cnt AS DOUBLE) / n2) / ln(2.0) * 10000) AS BIGINT)) AS BIGINT)
        |    AS entropy_e4
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "m_binary_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha,
        |  octet_length(CAST(text AS BLOB)) % 640 + 1 AS width,
        |  (octet_length(CAST(text AS BLOB)) * 7) % 480 + 1 AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "s_stream_agg" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,
    "s_stream_dedup" ->
      """SELECT DISTINCT md5(text) AS h FROM documents ORDER BY h""".stripMargin,
    // State-bounded dedup over one micro-batch: the watermark only
    // advances BETWEEN batches, so no key's state evicts mid-batch
    // and the emitted set is exactly the distinct keys — batch-equal.
    // (The eviction/re-emission semantics past the watermark are
    // pinned by the multi-batch MemoryStream spec.)
    "s_stream_dedup_wm" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // Streaming gates + dedup ≡ batch distinct-over-gated: emitting
    // hashes keeps the result arrival-order independent.
    "s_stream_clean" ->
      """SELECT DISTINCT md5(text) AS h FROM documents
        |WHERE lang = 'en'
        |  AND len(regexp_split_to_array(trim(text), '\s+')) >= 10
        |  AND length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 2 >= length(text)
        |ORDER BY h""".stripMargin,
    // The foreachBatch sink lands every row exactly once, so the
    // re-read aggregate equals the same aggregate over the source.
    "s_stream_foreachbatch" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "src_orc_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "src_csv_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // The streamed MV must equal q_incremental_mv's direct GROUP BY
    // exactly (same algebraic state, micro-batched instead of
    // landing-diffed) — so the identical oracle.
    "s_stream_mv" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  count(*) AS n_orders,
        |  round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
        |    AS sum_price,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // count(*)
        |    AS BIGINT) AS avg_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // The events table is one physical parquet file per SF dir (the
    // TESTDATA layout), so the leaf name the engine's
    // _metadata.file_name must surface is the constant
    // 'events.parquet'; counts/spans pin the rows-per-file accounting.
    "src_file_metadata" ->
      """SELECT 'events.parquet' AS file_name,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(event_id) AS BIGINT) AS min_id,
        |  CAST(max(event_id) AS BIGINT) AS max_id
        |FROM events""".stripMargin,
    // Nested-layout recursive lookup: same equivalence contract.
    "src_recursive_lookup" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Same equivalence contract as src_json_tokens: the compressed
    // round-trip must be value-invisible.
    "src_gzip_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "src_text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // The vintage split is doc_id parity: even rows shipped the narrow
    // v1 schema (source/n_chars absent → null under the widened read),
    // odd rows the full v2 schema.
    "src_schema_evolution" ->
      """SELECT lang, count(*) AS n_docs,
        |  count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS n_v2,
        |  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // Byte-exact round-trip through the binaryFile source: file size
    // and md5 of the UTF-8 payload vs the parquet text (DuckDB md5
    // hashes the string's UTF-8 bytes; encode() gives their length).
    // Empty text is excluded because a 0-byte file yields no split —
    // invisible to the source (spec-pinned in SourcesSpec).
    "src_binary_files" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS bytes,
        |  md5(text) AS payload_md5
        |FROM documents
        |WHERE text IS NOT NULL AND octet_length(encode(text)) > 0
        |ORDER BY doc_id""".stripMargin,
    // MERGE stated as its relational expansion: base rows not in the
    // update batch, rewritten matched rows, appended inserts. Cents
    // stay integer until the final /100.0.
    "q_merge_upsert" ->
      """WITH t AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderstatus FROM orders),
        |upd AS (SELECT o_orderkey, cents * 110 // 100 AS u_cents,
        |    'U' AS u_status FROM t WHERE o_orderkey % 10 = 0),
        |ins AS (SELECT o_orderkey + (SELECT max(o_orderkey) FROM t) AS o_orderkey,
        |    cents AS u_cents, 'N' AS u_status FROM t WHERE o_orderkey % 10 = 3),
        |merged AS (
        |  SELECT t.o_orderkey, coalesce(u.u_cents, t.cents) AS cents,
        |    coalesce(u.u_status, t.o_orderstatus) AS status
        |  FROM t LEFT JOIN upd u ON u.o_orderkey = t.o_orderkey
        |  UNION ALL
        |  SELECT o_orderkey, u_cents, u_status FROM ins)
        |SELECT status, count(*) AS n,
        |  round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS sum_price
        |FROM merged GROUP BY status ORDER BY status""".stripMargin,
    // Exact integer sufficient statistics (quantities as longs,
    // prices as cents, squares in HUGEINT = Spark decimal(38,0));
    // one double expression with identical operand casts both sides.
    "q_stats" ->
      """WITH b AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y FROM lineitem),
        |s AS (SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    CAST(sum(x * y) AS HUGEINT) AS sxy,
        |    CAST(sum(x * x) AS HUGEINT) AS sxx,
        |    CAST(sum(y * y) AS HUGEINT) AS syy
        |  FROM b GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CASE WHEN CAST(n AS HUGEINT) * sxx = sx * sx
        |         OR CAST(n AS HUGEINT) * syy = sy * sy THEN NULL
        |    ELSE CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |      * 10000) AS BIGINT) END AS corr_e4,
        |  CAST(round(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) * 10000) AS BIGINT) AS stddev_q_e4
        |FROM s ORDER BY l_returnflag""".stripMargin,
    // Composite (price, key) ordering makes the argmax row unique.
    // DuckDB's max_by can't order by a struct, so the oracle states
    // the same semantics as unique-ranked windows.
    "q_argmax" ->
      """WITH r AS (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
        |  FROM orders)
        |SELECT o_orderstatus,
        |  CAST(max(CASE WHEN rmax = 1 THEN o_orderkey END) AS BIGINT) AS max_order,
        |  CAST(max(CASE WHEN rmin = 1 THEN o_orderkey END) AS BIGINT) AS min_order,
        |  round(max(o_totalprice), 2) AS max_price,
        |  round(min(o_totalprice), 2) AS min_price
        |FROM r GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // Session merge in µs arithmetic: new session when the gap from
    // the previous event is >= 30 min (session_window's strict-merge
    // semantics; the lag-based row-21 oracle uses >). Starts emitted
    // as epoch-µs BIGINTs to dodge µs-vs-ns timestamp precision. The
    // running session-id sum orders by (us, event_id): with duplicate
    // (user_id, ts) rows at a gap boundary, a bare ORDER BY us could
    // sum an unflagged tie row before the flagged one and misassign
    // it to the previous session (unique-sort-key rule, SURVEY §6).
    "q_session_window" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_ns(ts) // 1000 - epoch_ns(lag(ts) OVER w) // 1000
        |         >= 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, us,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g)
        |SELECT user_id, CAST(min(us) AS BIGINT) AS start_us,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,
    // Linear interpolation over per-user hourly spines. The carry of
    // surrounding observations is IGNORE NULLS running last_value in
    // both directions; the one interpolation division runs in DOUBLE
    // over exact integer cents/seconds with the same expression tree
    // as Spark, so rounding matches bit-for-bit.
    "q_interpolate" ->
      """WITH h AS (
        |  SELECT user_id, date_trunc('hour', ts) AS hour,
        |    CAST(round(round(sum(value), 2) * 100) AS BIGINT) AS cents
        |  FROM events WHERE user_id < 20 GROUP BY 1, 2),
        |sp AS (
        |  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour
        |  FROM (SELECT user_id, min(hour) AS mn, max(hour) AS mx FROM h GROUP BY 1)),
        |j AS (SELECT sp.user_id, sp.hour, h.cents
        |  FROM sp LEFT JOIN h USING (user_id, hour)),
        |w AS (
        |  SELECT user_id, hour, cents,
        |    last_value(cents IGNORE NULLS) OVER a AS prev_c,
        |    last_value(CASE WHEN cents IS NOT NULL THEN hour END IGNORE NULLS)
        |      OVER a AS prev_h,
        |    last_value(cents IGNORE NULLS) OVER d AS next_c,
        |    last_value(CASE WHEN cents IS NOT NULL THEN hour END IGNORE NULLS)
        |      OVER d AS next_h
        |  FROM j
        |  WINDOW a AS (PARTITION BY user_id ORDER BY hour
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    d AS (PARTITION BY user_id ORDER BY hour DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT user_id, hour,
        |  CASE WHEN cents IS NOT NULL THEN cents
        |    ELSE CAST(round(prev_c + CAST(next_c - prev_c AS DOUBLE)
        |      * (epoch_ns(hour) // 1000000000 - epoch_ns(prev_h) // 1000000000)
        |      / (epoch_ns(next_h) // 1000000000 - epoch_ns(prev_h) // 1000000000))
        |      AS BIGINT) END AS cents,
        |  cents IS NOT NULL AS observed
        |FROM w ORDER BY user_id, hour""".stripMargin,
    // Brute-force distance cross join: tractable for DuckDB at test
    // scale and exactly the completeness proof for the Spark side's
    // deletion-neighborhood equi-join.
    "q_fuzzy_join" ->
      """SELECT a.s_name AS name_a, b.s_name AS name_b,
        |  CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
        |FROM supplier a JOIN supplier b
        |  ON a.s_suppkey < b.s_suppkey
        |  AND levenshtein(a.s_name, b.s_name) <= 1
        |ORDER BY name_a, name_b""".stripMargin,
    // Same word-8-gram shingle construction as d_crossdoc_ngram; the
    // query side is doc_id < 100, containment >= 0.25 of the QUERY's
    // distinct shingles.
    "d_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |idx AS (
        |  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 7, 1) + 1)) AS i FROM toks),
        |sh AS (SELECT DISTINCT doc_id,
        |    md5(array_to_string(t[i:i+7], ' ')) AS h FROM idx),
        |qs AS (SELECT doc_id AS doc_a, count(*) AS n_q FROM sh
        |       WHERE doc_id < 100 GROUP BY 1),
        |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(count(*) AS BIGINT) AS n_common
        |      FROM sh a JOIN sh b USING (h)
        |      WHERE a.doc_id < 100 AND a.doc_id <> b.doc_id
        |      GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_common,
        |  CAST(round(n_common * 10000.0 / n_q) AS BIGINT) AS containment_e4
        |FROM j JOIN qs USING (doc_a)
        |WHERE round(n_common * 10000.0 / n_q) >= 2500
        |ORDER BY doc_a, doc_b""".stripMargin,
    // Content-defined chunking: identical boundary rule (md5 of the
    // trailing 3-token gram, leading nibble '0') and identical chunk
    // reassembly (space-joined tokens in position order) — lag/cumsum
    // windows mirror the Spark plan one-to-one. 0-based Spark pos vs
    // 1-based DuckDB i: the guards (pos >= 2, i >= 3) pick the same
    // token set.
    "d_cdc_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks),
        |tok AS (SELECT doc_id, i, t[i] AS tok FROM pos),
        |fl AS (SELECT doc_id, i, tok,
        |    CASE WHEN i >= 3 AND substr(md5(
        |        lag(tok, 2) OVER w || ' ' || lag(tok, 1) OVER w || ' ' || tok
        |      ), 1, 1) = '0' THEN 1 ELSE 0 END AS b
        |  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |ch AS (SELECT doc_id, i, tok,
        |    coalesce(sum(b) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
        |  FROM fl),
        |chunks AS (SELECT doc_id, cid,
        |    md5(string_agg(tok, ' ' ORDER BY i)) AS h
        |  FROM ch GROUP BY doc_id, cid),
        |freq AS (SELECT h, count(DISTINCT doc_id) AS df FROM chunks GROUP BY h)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
        |FROM chunks JOIN freq USING (h)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    // Word 8-gram shingles with whole-text fallback for short docs —
    // identical construction to the Spark side's wordShingles(n=8).
    // Same 8-gram CTE as d_crossdoc_ngram; first-seen owner is the
    // deterministic min doc_id per hash.
    "t_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |idx AS (
        |  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 7, 1) + 1)) AS i FROM toks),
        |sh AS (SELECT DISTINCT doc_id,
        |    md5(array_to_string(t[i:i+7], ' ')) AS h FROM idx),
        |f AS (SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY h)
        |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
        |  CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
        |    * 10000 // count(*) AS BIGINT) AS novelty_e4
        |FROM sh JOIN f USING (h)
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,
    "d_crossdoc_ngram" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |idx AS (
        |  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 7, 1) + 1)) AS i FROM toks),
        |sh AS (SELECT DISTINCT doc_id,
        |    md5(array_to_string(t[i:i+7], ' ')) AS h FROM idx),
        |df AS (SELECT h, count(*) AS ndocs FROM sh GROUP BY h)
        |SELECT sh.doc_id, count(*) AS n_ngrams,
        |  CAST(sum(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |  CAST(round(sum(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) * 10000.0
        |    / count(*)) AS BIGINT) AS shared_e4
        |FROM sh JOIN df USING (h)
        |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,
    // Same whitespace tokens, same unique (div DESC, doc_id) order,
    // same prefix-inclusive budget rule.
    "p_token_budget" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |      * 10000 // len(regexp_split_to_array(trim(text), '\s+'))
        |      AS BIGINT) AS div_e4
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |    CAST(row_number() OVER (ORDER BY div_e4 DESC, doc_id) AS BIGINT)
        |      AS rk,
        |    CAST(sum(n_tokens) OVER (ORDER BY div_e4 DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM d),
        |t AS (SELECT CAST(sum(n_tokens) // 4 AS BIGINT) AS budget FROM d)
        |SELECT doc_id, n_tokens, rk, cum FROM r CROSS JOIN t
        |WHERE cum <= budget ORDER BY rk""".stripMargin,
    // Bounded score histogram first, grid join second — same shape.
    "p_quality_sweep" ->
      """WITH d AS (SELECT
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    CAST(len(list_distinct(regexp_split_to_array(trim(text), '\s+')))
        |      * 10000 // len(regexp_split_to_array(trim(text), '\s+'))
        |      AS BIGINT) AS div_e4
        |  FROM documents),
        |h AS (SELECT div_e4, count(*) AS nd, CAST(sum(n_tokens) AS BIGINT)
        |    AS nt FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(nd) AS BIGINT) AS tot_docs,
        |    CAST(sum(nt) AS BIGINT) AS tot_tokens FROM h),
        |g AS (SELECT CAST(range * 1000 AS BIGINT) AS thr_e4 FROM range(0, 10))
        |SELECT g.thr_e4,
        |  CAST(coalesce(sum(h.nd), 0) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(h.nt), 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(sum(h.nd), 0) * 1000000 // tot_docs AS BIGINT)
        |    AS doc_share_e6,
        |  CAST(coalesce(sum(h.nt), 0) * 1000000 // tot_tokens AS BIGINT)
        |    AS token_share_e6
        |FROM g LEFT JOIN h ON h.div_e4 >= g.thr_e4 CROSS JOIN t
        |GROUP BY g.thr_e4, t.tot_docs, t.tot_tokens
        |ORDER BY g.thr_e4""".stripMargin,
    // Bounded language table; identical integer shares and caps.
    "p_lang_mix" ->
      """WITH b AS (SELECT lang, count(*) AS n_docs,
        |    CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs,
        |    CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
        |    count(*) AS n_langs FROM b)
        |SELECT lang, n_docs, n_tokens,
        |  CAST(n_docs * 1000000 // tot_docs AS BIGINT) AS doc_share_e6,
        |  CAST(n_tokens * 1000000 // tot_tokens AS BIGINT)
        |    AS token_share_e6,
        |  CAST(least(n_docs, tot_docs * 2 // n_langs) AS BIGINT)
        |    AS capped_docs
        |FROM b CROSS JOIN t ORDER BY lang""".stripMargin,
    // Same hash order within source, alphabetical source index, same
    // pos arithmetic (gaps from exhausted sources are part of the
    // contract on both sides).
    "p_interleave" ->
      """WITH s AS (SELECT source,
        |    CAST(row_number() OVER (ORDER BY source) AS BIGINT) AS sidx
        |  FROM (SELECT DISTINCT source FROM documents)),
        |n AS (SELECT count(*) AS n_src FROM s),
        |r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 16),
        |        doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |SELECT (r.rk - 1) * n.n_src + s.sidx - 1 AS pos,
        |  r.doc_id, r.source
        |FROM r JOIN s USING (source) CROSS JOIN n
        |ORDER BY pos LIMIT 500""".stripMargin,
    "p_temperature" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |w AS (SELECT source, n,
        |    CAST(round(sqrt(n) * 1000000) AS BIGINT) AS w_e6 FROM c),
        |t AS (SELECT CAST(sum(w_e6) AS BIGINT) AS tot_w,
        |    CAST(sum(n) AS BIGINT) // 2 AS budget FROM w),
        |q AS (SELECT source, least(n, CAST(
        |    (CAST(budget AS HUGEINT) * w_e6) // tot_w AS BIGINT)) AS quota
        |  FROM w CROSS JOIN t),
        |r AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 16), doc_id)
        |    AS rk FROM documents)
        |SELECT r.doc_id, r.source FROM r JOIN q USING (source)
        |WHERE rk <= quota ORDER BY doc_id""".stripMargin,
    // Inner interval joins emit every match exactly once → equals the
    // batch join. µs arithmetic mirrors Spark's timestamp precision.
    "s_stream_join" ->
      """SELECT p.event_id AS p_id, v.event_id AS view_id, p.user_id AS user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id
        |  AND epoch_ns(v.ts) // 1000 <= epoch_ns(p.ts) // 1000
        |  AND epoch_ns(v.ts) // 1000 >= epoch_ns(p.ts) // 1000 - 1800000000
        |ORDER BY p_id, view_id""".stripMargin,
    // Left-outer stream-stream join: matched pairs emit like the
    // inner join; a null-extended row emits only once the global
    // watermark (min of the two streams' max-event-ms − 1 h) proves
    // no future view can match — every candidate has
    // v_ts ≤ p_ts < wm. Watermark VALUE in ms, eviction COMPARE in
    // µs (p_us < wm_ms·1000, strict — pinned by the planted sub-ms
    // boundary spec in StreamingSpec); purchases still inside the
    // horizon are withheld in state.
    "s_stream_outer_join" ->
      """WITH p AS (SELECT event_id AS p_id, user_id,
        |    epoch_ns(ts) // 1000 AS p_us FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS view_id, user_id,
        |    epoch_ns(ts) // 1000 AS v_us FROM events WHERE event_type = 'view'),
        |wm AS (SELECT least((SELECT max(v_us // 1000) FROM v),
        |    (SELECT max(p_us // 1000) FROM p)) - 3600000 AS wm_ms),
        |m AS (SELECT p.p_id, v.view_id, p.user_id
        |  FROM p JOIN v ON p.user_id = v.user_id
        |    AND v.v_us <= p.p_us AND v.v_us >= p.p_us - 1800000000),
        |nulls AS (SELECT p.p_id, CAST(NULL AS BIGINT) AS view_id, p.user_id
        |  FROM p, wm
        |  WHERE p.p_us < wm.wm_ms * 1000
        |    AND NOT EXISTS (SELECT 1 FROM v WHERE v.user_id = p.user_id
        |      AND v.v_us <= p.p_us AND v.v_us >= p.p_us - 1800000000))
        |SELECT p_id, view_id, user_id FROM m
        |UNION ALL SELECT p_id, view_id, user_id FROM nulls
        |ORDER BY p_id, view_id""".stripMargin,
    // Right-outer mirror: a view's unmatched null row emits when the
    // watermark passes v_ts PLUS the 30 min join range (the
    // condition-derived allowance) — v_us + 30 min < wm_ms·1000,
    // strict µs compare like the left side.
    "s_stream_router_join" ->
      """WITH p AS (SELECT event_id AS p_id, user_id,
        |    epoch_ns(ts) // 1000 AS p_us FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS view_id, user_id,
        |    epoch_ns(ts) // 1000 AS v_us FROM events WHERE event_type = 'view'),
        |wm AS (SELECT least((SELECT max(v_us // 1000) FROM v),
        |    (SELECT max(p_us // 1000) FROM p)) - 3600000 AS wm_ms),
        |m AS (SELECT p.p_id, v.view_id, v.user_id
        |  FROM p JOIN v ON p.user_id = v.user_id
        |    AND v.v_us <= p.p_us AND v.v_us >= p.p_us - 1800000000),
        |nulls AS (SELECT CAST(NULL AS BIGINT) AS p_id, v.view_id, v.user_id
        |  FROM v, wm
        |  WHERE v.v_us + 1800000000 < wm.wm_ms * 1000
        |    AND NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = v.user_id
        |      AND v.v_us <= p.p_us AND v.v_us >= p.p_us - 1800000000))
        |SELECT p_id, view_id, user_id FROM m
        |UNION ALL SELECT p_id, view_id, user_id FROM nulls
        |ORDER BY view_id, p_id""".stripMargin,
    // Full-outer: inner pairs ∪ BOTH watermark-gated null sets —
    // unmatched purchases at p_us < wm_ms·1000 (left bound) and
    // unmatched views at v_us + 30 min < wm_ms·1000 (the
    // condition-derived right bound). Strict µs compares both sides.
    "s_stream_full_outer" ->
      """WITH p AS (SELECT event_id AS p_id, user_id,
        |    epoch_ns(ts) // 1000 AS p_us FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS view_id, user_id,
        |    epoch_ns(ts) // 1000 AS v_us FROM events WHERE event_type = 'view'),
        |wm AS (SELECT least((SELECT max(v_us // 1000) FROM v),
        |    (SELECT max(p_us // 1000) FROM p)) - 3600000 AS wm_ms),
        |m AS (SELECT p.p_id, v.view_id, p.user_id
        |  FROM p JOIN v ON p.user_id = v.user_id
        |    AND v.v_us <= p.p_us AND v.v_us >= p.p_us - 1800000000),
        |pnulls AS (SELECT p.p_id, CAST(NULL AS BIGINT) AS view_id, p.user_id
        |  FROM p, wm
        |  WHERE p.p_us < wm.wm_ms * 1000
        |    AND NOT EXISTS (SELECT 1 FROM v WHERE v.user_id = p.user_id
        |      AND v.v_us <= p.p_us AND v.v_us >= p.p_us - 1800000000)),
        |vnulls AS (SELECT CAST(NULL AS BIGINT) AS p_id, v.view_id, v.user_id
        |  FROM v, wm
        |  WHERE v.v_us + 1800000000 < wm.wm_ms * 1000
        |    AND NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = v.user_id
        |      AND v.v_us <= p.p_us AND v.v_us >= p.p_us - 1800000000))
        |SELECT p_id, view_id, user_id FROM m
        |UNION ALL SELECT p_id, view_id, user_id FROM pnulls
        |UNION ALL SELECT p_id, view_id, user_id FROM vnulls
        |ORDER BY p_id, view_id""".stripMargin,
    // Hopping windows: every event lands in len/slide = 4
    // slide-aligned windows; complete mode emits all of them, equal
    // to the batch replication below (k = 0..3 windows back from the
    // event's own slide bucket).
    "s_stream_hopping" ->
      """WITH e AS (SELECT epoch_ns(ts) // 1000 AS us, event_type, value
        |  FROM events),
        |w AS (SELECT make_timestamp((us // 900000000 - k) * 900000000)
        |    AS win_start, event_type, value
        |  FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) ks)
        |SELECT win_start, event_type, count(*) AS n,
        |  round(sum(value), 2) AS sum_value
        |FROM w GROUP BY 1, 2
        |ORDER BY win_start, event_type""".stripMargin,
    // Incremental CC over the streamed co-occurrence edge list: the
    // per-batch star-merge is associative, so the final labels equal
    // batch CC over all edges — identical SQL to g_cc.
    "s_stream_cc" ->
      """WITH RECURSIVE os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst
        |  FROM os a JOIN os b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |verts AS (SELECT DISTINCT src AS v FROM sym),
        |reach(v, u) AS (
        |  SELECT v, v FROM verts
        |  UNION
        |  SELECT r.v, s.dst FROM reach r JOIN sym s ON s.src = r.u)
        |SELECT v AS vertex, CAST(min(u) AS BIGINT) AS component
        |FROM reach GROUP BY v ORDER BY vertex""".stripMargin,
    // transformWithState totals are monotone per user, so max over
    // the update-mode emissions equals the batch aggregate.
    "s_stream_tws" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_purchases
        |FROM events GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // Epoch-aligned 6 h buckets (Spark window() aligns to the epoch;
    // Exact hourly value percentiles: discrete ⌈p·n⌉ picks are
    // tie-order-independent value selections, so no unique sort key
    // is required; e4 integers keep both engines bit-equal.
    "s_stream_percentile" ->
      """WITH v AS (SELECT epoch_us(ts) // 3600000000 * 3600000000
        |    AS hr_us, CAST(round(value * 10000) AS BIGINT) AS v_e4
        |  FROM events WHERE event_type = 'purchase'),
        |s AS (SELECT hr_us, v_e4,
        |    row_number() OVER (PARTITION BY hr_us ORDER BY v_e4) AS rk,
        |    CAST(count(*) OVER (PARTITION BY hr_us) AS BIGINT) AS n
        |  FROM v)
        |SELECT hr_us, max(n) AS n,
        |  max(CASE WHEN rk = (n + 1) // 2 THEN v_e4 END) AS p50_e4,
        |  max(CASE WHEN rk = (95 * n + 99) // 100 THEN v_e4 END) AS p95_e4
        |FROM s GROUP BY hr_us ORDER BY hr_us""".stripMargin,
    // 21600000000 µs) and the unique (n DESC, user_id) rank order.
    "s_stream_topk" ->
      """WITH c AS (SELECT epoch_us(ts) // 21600000000 * 21600000000
        |    AS w_start_us, user_id FROM events),
        |g AS (SELECT w_start_us, user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM c GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY w_start_us
        |    ORDER BY n DESC, user_id) AS BIGINT) AS rk FROM g)
        |SELECT w_start_us, rk, user_id, n FROM r WHERE rk <= 3
        |ORDER BY w_start_us, rk""".stripMargin,
    // CDC snapshot: latest event per user under the UNIQUE
    // (ts, event_id) ranking — the micro-batched merge is associative,
    // so the streamed snapshot equals this batch closed form exactly.
    "s_stream_cdc" ->
      """WITH r AS (SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events)
        |SELECT user_id, event_id AS last_event_id,
        |  event_type AS last_type, round(value, 2) AS last_value
        |FROM r WHERE rk = 1
        |ORDER BY user_id""".stripMargin,
    // Append-mode session windows: the emitted set is the sessions
    // whose end (last event + 30 min) has passed the 1 h watermark.
    // The watermark VALUE is millisecond (wm_ms = max event ms − 1 h)
    // but the eviction COMPARE is µs-precision ≤ (end_us ≤ wm_ms·1000
    // — pinned by the planted sub-ms boundary spec): an ms-floored
    // compare would wrongly emit a session ending 1–999 µs past the
    // watermark. Session ends are unaligned, unlike s_stream_watermark
    // whose hour-aligned ends have no sub-ms component.
    "s_stream_session_window" ->
      """WITH g AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_ns(ts) // 1000 - epoch_ns(lag(ts) OVER w) // 1000
        |         >= 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, us,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM g),
        |sess AS (SELECT user_id, CAST(min(us) AS BIGINT) AS start_us,
        |    max(us) AS end_us, count(*) AS n_events
        |  FROM s GROUP BY user_id, sid),
        |wm AS (SELECT epoch_ns(max(ts)) // 1000000 - 3600000 AS wm_ms FROM events)
        |SELECT user_id, start_us, n_events FROM sess, wm
        |WHERE end_us + 1800000000 <= wm_ms * 1000
        |ORDER BY user_id, start_us""".stripMargin,
    // Stream-static enrichment: stateless join per micro-batch, so
    // the complete-mode aggregate equals the plain batch join+agg.
    "s_stream_static_join" ->
      """SELECT c_mktsegment, event_type, count(*) AS n,
        |  round(sum(value), 2) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2
        |ORDER BY c_mktsegment, event_type""".stripMargin,
    // Append-mode watermarked agg emits exactly the windows whose end
    // (ms) <= watermark = max event time (µs floored to ms) - 1h —
    // replicate Spark's millisecond watermark arithmetic.
    "s_stream_watermark" ->
      """WITH wm AS (
        |  SELECT epoch_ns(max(ts)) // 1000000 - 3600000 AS wm_ms FROM events),
        |agg AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type,
        |    count(*) AS n, round(sum(value), 2) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |SELECT hour, event_type, n, sum_value FROM agg, wm
        |WHERE epoch_ms(hour) + 3600000 <= wm_ms
        |ORDER BY hour, event_type""".stripMargin,
    // Watermark-emitted DAY set (the s_stream_watermark arithmetic
    // at day granularity) + q_cusum's exact-integer prefix scan.
    "s_stream_cusum" ->
      """WITH wm AS (
        |  SELECT epoch_ns(max(ts)) // 1000000 - 3600000 AS wm_ms FROM events),
        |agg AS (
        |  SELECT date_trunc('day', ts) AS d0, event_type,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |em AS (
        |  SELECT CAST(d0 AS DATE) AS day, event_type, x FROM agg, wm
        |  WHERE epoch_ms(d0) + 86400000 <= wm_ms),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS dd,
        |    CAST(sum(x) AS BIGINT) AS sx FROM em GROUP BY 1),
        |c AS (SELECT day, em.event_type, x, dd, sx,
        |    CAST(sum(dd * x - sx) OVER w AS BIGINT) AS cum
        |  FROM em JOIN s USING (event_type)
        |  WINDOW w AS (PARTITION BY em.event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |cs AS (SELECT day, event_type, x, dd,
        |    cum - min(cum) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        |  FROM c),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY cusum DESC, day) AS rk FROM cs)
        |SELECT event_type, day AS peak_day, x AS peak_x,
        |  CAST(cusum AS BIGINT) AS peak_cusum_num, dd AS n_days
        |FROM r WHERE rk = 1
        |ORDER BY event_type""".stripMargin,
    // Watermark-emitted window set (the s_stream_watermark
    // arithmetic) + the division-free integer z² > 4 comparison.
    "s_stream_anomaly" ->
      """WITH wm AS (
        |  SELECT epoch_ns(max(ts)) // 1000000 - 3600000 AS wm_ms FROM events),
        |agg AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |emitted AS (
        |  SELECT hour, event_type, CAST(n AS BIGINT) AS n FROM agg, wm
        |  WHERE epoch_ms(hour) + 3600000 <= wm_ms),
        |st AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS ss
        |  FROM emitted GROUP BY 1)
        |SELECT hour, event_type, n,
        |  (n * k - s) * (n * k - s) > 4 * (k * ss - s * s) AS is_anomaly
        |FROM emitted JOIN st USING (event_type)
        |ORDER BY hour, event_type""".stripMargin,
    // The stateful streaming sessionizer must agree with the batch
    // sessionization oracle exactly.
    "s_stream_sessionize" ->
      """WITH gapped AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR CAST(floor(epoch(ts)) AS BIGINT)
        |         - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM gapped
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
  )
}
