package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Joins

/** Graph query operators (SURVEY §2 rows 1–8).
  *
  * Degree and triangle counting stay pure-DataFrame: they're
  * expressible as joins/aggregations, which Catalyst optimizes and
  * Tungsten codegens — at 100 TB that beats materializing a GraphX
  * graph for a one-shot aggregate. The iterative algorithms
  * (CC / PageRank / LPA / Louvain) use GraphX, whose Pregel
  * `aggregateMessages` model fits fixpoint iteration.
  */
object GraphOps {

  /** Degree + weighted degree per vertex from a canonical undirected
    * edge list. Union of both endpoints → one groupBy (single
    * shuffle, map-side combined). */
  def degrees(edges: DataFrame): DataFrame = {
    val ends = edges.select(col("src").as("vertex"), col("weight"))
      .unionAll(edges.select(col("dst").as("vertex"), col("weight")))
    ends.groupBy(col("vertex"))
      .agg(count(lit(1)).as("degree"), round(sum(col("weight")), 2).as("wdegree"))
  }

  /** Degree distribution: vertex counts per degree — the standard
    * first look at a graph's shape (power-law tails = skew planning).
    * Two map-side-combined aggregations, output is histogram-sized. */
  def degreeHistogram(edges: DataFrame): DataFrame =
    degrees(edges)
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_vertices"))
      .orderBy(col("degree"))

  /** Spectral bisection scores — the Fiedler-direction readout
    * (algebraic-connectivity eigenvector sign = the classic
    * two-way graph partition) by power iteration on the shifted
    * Laplacian M = cI − L (c = 2·max degree ≥ λmax, so the smallest
    * L-eigenvalues become the largest M-eigenvalues), deflating the
    * constant vector (L's λ=0 eigenvector) every round by mean
    * subtraction. EVERY operation is integer: e6-scaled scores,
    * matvec y_v = (c − deg_v)·x_v + Σ_{u∼v} x_u over BIGINTs
    * (reduction-order free), mean deflation and max-|·|
    * renormalization by truncating division — the `g_pagerank_det`
    * bit-reproducibility contract applied to spectral methods, which
    * is what lets a 15-round unrolled SQL oracle match EXACTLY.
    * Per round: one equi-join + one vertex-keyed agg + two scalar
    * folds; state is one (vertex, score) row per vertex. Fixed
    * rounds (partial convergence is fine — the contract is the
    * deterministic recursion, the SPEC pins that a planted
    * two-community graph bisects correctly). */
  def spectralCut(spark: SparkSession, edges: DataFrame,
      rounds: Int = 15): DataFrame = {
    import spark.implicits._
    // An EMPTY strong-tie graph (a tiny SF can threshold every edge
    // away) has no spectral structure: zero rows on either path
    // (caught by EmittedTypesSpec's sf0.001 construction sweep).
    def empty = Seq.empty[(Long, Long, Boolean)].toDF("vertex", "score_e6", "side")
    // Measured dispatch (round 14): the whole recursion is truncating
    // integer arithmetic over a bounded-V graph, so the driver twin
    // is bit-identical and skips 15 rounds x ~3 per-round plan
    // compiles (the documented plan-compile-bound cost of this op).
    // The gate counts UNDIRECTED rows: 2n symmetric rows <= CollectMax.
    Dispatch.gated("spectralCut", edges.select(col("src"), col("dst")),
        LocalLouvain.CollectMax / 2) { rows =>
      val one = rows.map(r => (r.getLong(0), r.getLong(1)))
      Some(if (one.isEmpty) empty
        else LocalIterative.spectralCut(one ++ one.map(_.swap), rounds)
          .toDF("vertex", "score_e6", "side").orderBy(col("vertex")))
    } { e =>
      val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint(true)
      val deg = sym.groupBy(col("src").as("vertex"))
        .agg(count(lit(1)).as("deg")).localCheckpoint(true)
      val maxDeg = deg.agg(max(col("deg"))).first()
      if (maxDeg.isNullAt(0)) empty
      else spectralCutDistributed(sym, deg, 2L * maxDeg.getLong(0), rounds)
    }
  }

  private def spectralCutDistributed(sym: DataFrame, deg: DataFrame, c: Long,
      rounds: Int): DataFrame = {
    // Pseudo-random start via the cross-engine md5-hex hash (the
    // g_walks trick): a structured start (e.g. vertex parity) can be
    // exactly orthogonal to the Fiedler direction on symmetric
    // graphs — planted-bisection spec caught it — while a hash
    // start has overlap with every direction almost surely.
    var x = deg.select(col("vertex"),
      (pmod(conv(substring(md5(col("vertex").cast("string")), 1, 15),
        16, 10).cast("long"), lit(2000001L)) - 1000000L).as("s"))
      .localCheckpoint(true)
    var prevY: DataFrame = null
    for (_ <- 1 to rounds) {
      val nb = sym.join(x.withColumnRenamed("vertex", "dst"), Seq("dst"))
        .groupBy(col("src").as("vertex")).agg(sum(col("s")).as("s_sum"))
      // ONE job per round (the g_scc lazy-state fold): the lazy
      // localCheckpoint materializes under the immediately following
      // FULL-scan aggregate — safe only because that scan is full —
      // and the deflation mean and renormalization max come out of
      // the same pass (max|y − mean| = max(maxY − mean, mean − minY)
      // since mean is a constant).
      val y = deg.join(x, Seq("vertex"))
        .join(nb, Seq("vertex"), "left")
        .select(col("vertex"),
          ((lit(c) - col("deg")) * col("s")
            + coalesce(col("s_sum"), lit(0L))).as("y"))
        .localCheckpoint(false)
      val r = y.agg(sum(col("y")), count(lit(1)),
        max(col("y")), min(col("y"))).first()
      // The r action also materialized this round's x (the join
      // scanned it), so the PREVIOUS round's y — x's checkpoint
      // parent — is now safe to free; without this the 15 per-round
      // y checkpoints sit in the block store until GC.
      if (prevY != null) prevY.unpersist(false)
      prevY = y
      val mean = r.getLong(0) / r.getLong(1)
      val mx = math.max(r.getLong(2) - mean, mean - r.getLong(3))
      val next = y.select(col("vertex"),
        (if (mx == 0L) lit(0L)
         else expr(s"(y - ${mean}L) * 1000000 div ${mx}L")).as("s"))
        .localCheckpoint(false)
      x.unpersist(false)
      x = next
    }
    x.select(col("vertex"), col("s").as("score_e6"),
        (col("s") >= 0).as("side"))
      .orderBy(col("vertex"))
  }

  /** One-row graph profile — the "first look" summary before any
    * algorithm choice (V, E, degree extremes, e2 mean degree, e6
    * density): every value from two bounded aggregations over the
    * degree table; exact integer ratios. */
  /** Time-respecting (temporal) reachability — earliest-arrival
    * propagation over (src, dst, t) contact edges: a path may only
    * traverse an edge whose timestamp is ≥ the arrival time at its
    * tail (waiting at a vertex is free), so structural connectivity
    * does NOT imply temporal reachability (spec-pinned on a
    * descending-time chain). Classic contact-network primitive
    * (Holme & Saramäki 2012): "who could have been influenced, and
    * how early". Iterative min-arrival relaxation with the one-job
    * round shape (lazy localCheckpoint + the improvement-count FULL
    * scan materializes each round — the g_scc lesson); per round one
    * equi-join + one key-grouped min, never more. Converges in at
    * most the temporal diameter; `maxRounds` bounds adversarial
    * chains. Source = the minimum vertex id; unreachable stays null.
    */
  def temporalReach(spark: SparkSession, tEdges: DataFrame,
      maxRounds: Int = 20): DataFrame = {
    // Measured dispatch (round 14): earliest-arrival min-folds are
    // integer-exact, so the driver twin is bit-identical
    // (IterativeDispatchSpec); the DF loop stays for contact sets
    // past the collect bound. The gate counts (and the twin collects)
    // the UNDIRECTED rows and symmetrizes in the driver — same
    // multiset as the symmetric union, half the collect bytes (a
    // checkpoint of the union would also inline the caller's lineage
    // twice, round 19).
    import spark.implicits._
    Dispatch.gated("temporalReach", tEdges.select(col("src"), col("dst"), col("t")),
        LocalLouvain.CollectMax, keys = Seq("src", "dst", "t")) { rs =>
      val one = rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val rows = one ++ one.map { case (s, d, tt) => (d, s, tt) }
      val source = rows.map(_._1).min
      Some(LocalIterative.temporalReach(rows, source, maxRounds)
        .toDF("vertex", "arr"))
    } { und => temporalReachDistributed(und, maxRounds) }
  }

  private def temporalReachDistributed(und: DataFrame, maxRounds: Int): DataFrame = {
    // The symmetric union scans the checkpoint twice per use instead
    // of re-evaluating the caller's lineage.
    val sym = und.unionByName(und.select(col("dst").as("src"),
      col("src").as("dst"), col("t")))
    val verts = sym.select(col("src").as("vertex")).distinct()
      .localCheckpoint(true)
    val source = verts.agg(min(col("vertex"))).first().getLong(0)
    var arr = verts.select(col("vertex"),
      when(col("vertex") === source, lit(0L))
        .otherwise(lit(null).cast("long")).as("arr"))
      .localCheckpoint(true)
    var round = 0
    var improved = 1L
    while (round < maxRounds && improved > 0) {
      val relax = sym
        .join(arr.select(col("vertex").as("src"), col("arr").as("sarr")),
          Seq("src"))
        .filter(col("sarr").isNotNull && col("t") >= col("sarr"))
        .groupBy(col("dst").as("vertex")).agg(min(col("t")).as("cand"))
      val merged = arr.join(relax, Seq("vertex"), "left")
        .select(col("vertex"),
          when(col("cand").isNotNull &&
              (col("arr").isNull || col("cand") < col("arr")),
            col("cand")).otherwise(col("arr")).as("arr"),
          (col("cand").isNotNull &&
            (col("arr").isNull || col("cand") < col("arr"))).as("imp"))
        .localCheckpoint(false)
      improved = merged
        .agg(sum(when(col("imp"), 1L).otherwise(0L))).first().getLong(0)
      arr.unpersist(false)
      arr = merged.select(col("vertex"), col("arr"))
      round += 1
    }
    // The result rides the last round's own checkpoint; the
    // projection and vertex-set blocks are scratch once the loop's
    // actions have run (round 20, VERDICT r19 item 9).
    und.unpersist(false)
    verts.unpersist(false)
    arr
  }

  def graphSummary(edges: DataFrame): DataFrame = {
    val deg = degrees(edges).select(col("degree"))
    val e = edges.count()
    deg.agg(count(lit(1)).as("n_vertices"),
        min(col("degree")).as("min_degree"),
        max(col("degree")).as("max_degree"),
        sum(col("degree")).as("sdeg"))
      .select(col("n_vertices"), lit(e).as("n_edges"),
        col("min_degree"), col("max_degree"),
        expr("sdeg * 100 div n_vertices").as("mean_degree_e2"),
        expr("CASE WHEN n_vertices >= 2 THEN " +
          s"2 * CAST($e AS BIGINT) * 1000000 div " +
          "(n_vertices * (n_vertices - 1)) END")
          .as("density_e6"))
      // Empty edge set: the oracle's FROM deg … GROUP BY yields zero
      // rows while an unguarded global agg yields one null/zero row —
      // agree on "no graph, no profile" instead of a latent mismatch.
      .filter(col("n_vertices") > 0)
  }

  /** Neighborhood aggregation — the `aggregateMessages` primitive
    * stated declaratively (edge join + vertex-keyed agg, which is
    * all aggregateMessages IS when messages don't need Pregel
    * iteration): per vertex, its degree, the max neighbor degree,
    * and how many neighbors out-rank it ("am I the local hub") — the
    * one-hop structural summary feeding hub/authority heuristics.
    * Degree table joins the symmetric edge stream twice (size-guarded
    * broadcast — V rows fits the budget on any dim-scale graph, and
    * over budget the hint drops so the join shuffles on the vertex
    * key instead of OOMing the executors); counts combine map-side.
    * The count is a ~free action on the checkpointed degree table. */
  def neighborDegreeStats(edges: DataFrame): DataFrame = {
    val deg = degrees(edges).select(col("vertex"), col("degree"))
      .localCheckpoint(true)
    val nV = deg.count()
    val sym = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    sym
      .join(Joins.maybeBroadcast(deg.select(col("vertex").as("src"),
        col("degree").as("odeg")), nV, 64L), Seq("src"))
      .join(Joins.maybeBroadcast(deg.select(col("vertex").as("dst"),
        col("degree").as("ndeg")), nV, 64L), Seq("dst"))
      .groupBy(col("src").as("vertex"))
      .agg(max(col("odeg")).as("degree"),
        max(col("ndeg")).as("max_nbr_degree"),
        sum(when(col("ndeg") > col("odeg"), 1L).otherwise(0L))
          .as("n_stronger"))
      .orderBy(col("vertex"))
  }

  /** Densest-subgraph by distributed batch peeling (Bahmani, Kumar,
    * Vassilvitskii VLDB'12) — THE MapReduce densest-subgraph shape:
    * each round removes EVERY vertex whose degree is at most
    * 2(1+ε)·E/V (the average-degree cut, ε = 0.1 as an exact integer
    * test deg·V·10 > 2·E·11 — no floats), so the graph shrinks by a
    * constant factor per round and O(log V) rounds suffice where
    * Charikar's sequential min-vertex peel needs V; the best
    * intermediate density is a 2(1+ε)-approximation. Per round: one
    * degree aggregation + two semi-joins + localCheckpoint; the
    * per-round (V, E) scalars are landmark reads, density picks run
    * on the driver over ≤ maxRounds rows. Output one row: the
    * densest round's subgraph stats, ties to the earliest round. */
  def densestSubgraph(spark: SparkSession, edges: DataFrame,
      maxRounds: Int = 12): DataFrame = {
    import spark.implicits._
    var e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val stats = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var r = 0
    var done = false
    while (r < maxRounds && !done) {
      val ends = e.select(col("src").as("v"))
        .unionAll(e.select(col("dst").as("v")))
      val vCnt = ends.distinct().count()
      val eCnt = e.count()
      if (eCnt == 0L) done = true
      else {
        stats += ((r.toLong, vCnt, eCnt))
        val keep = ends.groupBy(col("v")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") * lit(vCnt) * 10 > lit(2L * eCnt * 11L))
          .select(col("v"))
        val next = e
          .join(keep.select(col("v").as("src")), Seq("src"), "left_semi")
          .join(keep.select(col("v").as("dst")), Seq("dst"), "left_semi")
          .select(col("src"), col("dst"))
          .localCheckpoint(true)
        e.unpersist(false)
        e = next
        r += 1
      }
    }
    e.unpersist(false)
    if (stats.isEmpty)
      return Seq((0L, 0L, 0L, 0L))
        .toDF("best_round", "n_vertices", "n_edges", "density_e6")
    val best = stats.maxBy { case (rd, v, ec) => (ec * 1000000L / v, -rd) }
    Seq((best._1, best._2, best._3, best._3 * 1000000L / best._2))
      .toDF("best_round", "n_vertices", "n_edges", "density_e6")
  }

  /** Skip-gram co-occurrence statistics over the deterministic walk
    * corpus — the sufficient statistics a DeepWalk/node2vec embedding
    * factorizes (NetMF, Qiu et al. WSDM'18 shows DeepWalk ≈ shifted
    * PMI matrix factorization): for every ordered (center, context)
    * pair within ±`window` positions of a walk, the pair count, the
    * marginals, and the independence ratio n_cc·T / (n_c·n_ctx) —
    * PMI's argument — as an EXACT e6 integer (log is monotone, so
    * ranking/thresholding on the ratio is ranking on PMI, and
    * emitting the ratio instead of the log keeps the whole operator
    * float-free: libm `log` differs in the last ulp across engines,
    * the §6 e4-flip hazard). The pair stream is walks·len·2window
    * rows (corpus-sized, not graph-sized); marginals ride two window
    * sums over the grouped pair table, no second corpus pass. */
  def walkPmi(spark: SparkSession, edges: DataFrame, steps: Int = 4,
      window: Int = 2): DataFrame = {
    val walks = randomWalks(spark, edges, steps) // memoized, checkpointed
    val a = walks.select(col("walk_id"), col("step").as("s1"),
      col("vertex").as("center"))
    val b = walks.select(col("walk_id"), col("step").as("s2"),
      col("vertex").as("context"))
    val pairs = a.join(b, Seq("walk_id"))
      .filter(col("s1") =!= col("s2") &&
        abs(col("s1") - col("s2")) <= window)
      .groupBy(col("center"), col("context")).agg(count(lit(1)).as("n_cc"))
    val wC = Window.partitionBy(col("center"))
    val wX = Window.partitionBy(col("context"))
    // The corpus total is a broadcast scalar, NOT a global window —
    // an unpartitioned window would funnel every pair through one
    // task at scale.
    val tot = pairs.agg(sum(col("n_cc")).as("t"))
    pairs
      .withColumn("n_c", sum(col("n_cc")).over(wC))
      .withColumn("n_x", sum(col("n_cc")).over(wX))
      .crossJoin(broadcast(tot))
      .select(col("center"), col("context"), col("n_cc"),
        // DECIMAL(38,0) before the multiply: n_cc·t·1e6 exceeds
        // BIGINT on larger walk corpora and non-ANSI Long math would
        // silently wrap while DuckDB's window sums promote to
        // HUGEINT (the qGini/qPareto overflow rule).
        expr("CAST(CAST(n_cc AS DECIMAL(38,0)) * t * 1000000" +
          " div (CAST(n_c AS DECIMAL(38,0)) * n_x) AS BIGINT)")
          .as("pmi_ratio_e6"))
      .orderBy(col("center"), col("context"))
  }

  /** Rich-club coefficient φ(k) (Colizza et al. 2006): among the
    * vertices with degree > k, the realized fraction of possible
    * edges — the "do hubs preferentially connect to hubs" readout
    * that assortativity's single Pearson number summarizes away.
    * NO per-k subgraph passes: an edge survives the deg>k cut iff
    * min(deg_src, deg_dst) > k, so one vertex-degree histogram and
    * one per-edge min-endpoint-degree histogram determine every
    * φ(k) via reverse running sums over the bounded degree spine
    * (full-outer merge of the two histograms; min-endpoint degrees
    * are always realized vertex degrees but not vice versa).
    * φ(k) = 2·E_k·1e6 div (N_k·(N_k−1)) — exact integers end to
    * end, null below 2 survivors. Two size-guarded broadcast degree
    * joins on the edge stream (V rows — over budget the hint drops
    * and the join shuffles; the degree table is checkpointed because
    * it feeds both join sides AND the vertex histogram, so the count
    * is one cheap action), two histogram aggs, windows over the
    * spine only. */
  def richClub(edges: DataFrame): DataFrame = {
    val deg = degrees(edges).select(col("vertex"), col("degree"))
      .localCheckpoint(true)
    val nV = deg.count()
    val eMin = edges.select(col("src"), col("dst"))
      .join(Joins.maybeBroadcast(deg.select(col("vertex").as("src"),
        col("degree").as("dsrc")), nV, 64L), Seq("src"))
      .join(Joins.maybeBroadcast(deg.select(col("vertex").as("dst"),
        col("degree").as("ddst")), nV, 64L), Seq("dst"))
      .select(least(col("dsrc"), col("ddst")).as("degree"))
    val vh = deg.groupBy(col("degree")).agg(count(lit(1)).as("nv"))
    val eh = eMin.groupBy(col("degree")).agg(count(lit(1)).as("ne"))
    val spine = vh.join(eh, Seq("degree"), "full_outer")
      .select(col("degree"), coalesce(col("nv"), lit(0L)).as("nv"),
        coalesce(col("ne"), lit(0L)).as("ne"))
    // Reverse running sums: strictly-greater-than-k totals.
    val wAbove = Window.orderBy(col("degree").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    spine
      .withColumn("n_k", coalesce(sum(col("nv")).over(wAbove), lit(0L)))
      .withColumn("e_k", coalesce(sum(col("ne")).over(wAbove), lit(0L)))
      .select(col("degree").as("k"), col("n_k"), col("e_k"),
        when(col("n_k") >= 2,
          expr("2 * e_k * 1000000 div (n_k * (n_k - 1))"))
          .otherwise(lit(null).cast("long")).as("phi_e6"))
      .orderBy(col("k"))
  }

  /** Global triangle count over a canonical (src<dst) edge list via
    * a 3-way self-join: for edges (a,b),(b,c) probe (a,c). Each
    * triangle a<b<c is counted exactly once. Distributed joins — no
    * per-vertex adjacency sets, no GraphX.
    *
    * The edge list is cached (it feeds three join branches — without
    * this Spark recomputes the aggregation per branch) and, when it
    * fits the broadcast budget, the probe sides are broadcast so the
    * large wedge intermediate (Σ deg² rows) never shuffles — the
    * whole count pipelines in one stage. Past the threshold it
    * degrades to sort-merge joins with AQE skew handling, the right
    * shape when the edge list itself is huge. */
  def triangleCount(edges: DataFrame): DataFrame = {
    // localCheckpoint (eager) instead of persist: one materialized,
    // lineage-free copy feeds the join branches, and there is no
    // never-released cache-manager entry left behind.
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val nEdges = e.count()
    // Byte-based broadcast guard, not an edge-count one: the two
    // adjacency broadcasts cost ~2 × 16 B/edge (8 B id + array/offset
    // overhead) of executor memory each. Budget defaults to 160 MB
    // (≈ the 5M-edge point measured fastest at sf0.1) and is tunable
    // via graft.broadcast.bytes (the one canonical knob — Joins).
    val budget = graft.operators.Joins.budgetBytes(edges.sparkSession)
    if (2L * 16L * nEdges < budget) {
      // Adjacency-intersect: per edge (a,b), triangles through it =
      // |N⁺(a) ∩ N⁺(b)| over higher-neighbor lists. The broadcast
      // adjacency table is one row per vertex, so the Σdeg² wedge
      // intermediate never materializes — measured ~30% faster than
      // the wedge join at sf0.1 (dense near-complete graph; sparser
      // graphs gain more).
      val adj = e.groupBy(col("src")).agg(collect_list(col("dst")).as("nbrs"))
      val adjA = broadcast(adj.select(col("src").as("a2"), col("nbrs").as("nbrs_a")))
      val adjB = broadcast(adj.select(col("src").as("b2"), col("nbrs").as("nbrs_b")))
      e.join(adjA, col("src") === col("a2"), "inner")
        .join(adjB, col("dst") === col("b2"), "inner")
        .select(size(array_intersect(col("nbrs_a"), col("nbrs_b"))).cast("long").as("t"))
        .agg(coalesce(sum(col("t")), lit(0L)).as("n_triangles"))
    } else {
      // Wedge-stream joins: the at-scale shape. Adjacency lists blow
      // per-row memory on hub-heavy graphs, but streaming wedges
      // through shuffled hash/sort-merge joins (AQE skew-split)
      // bounds memory regardless of degree distribution.
      val e1 = e.select(col("src").as("a"), col("dst").as("b"))
      val e2 = e.select(col("src").as("b2"), col("dst").as("c"))
      val e3 = e.select(col("src").as("a3"), col("dst").as("c3"))
      e1.join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c") === col("c3"))
        .agg(count(lit(1)).as("n_triangles"))
    }
  }

  /** Max adjacency-list degree before per-edge neighborhood operators
    * ([[clusteringCoefficients]], [[edgeJaccard]]) abandon
    * collect_list adjacency arrays for the wedge-join shape: above
    * it, one hub row's two neighbor lists dominate task memory (the
    * CLAUDE.md "never carry array columns through joins" failure
    * mode). 500k × 8 B ≈ 4 MB per list — well under task headroom,
    * well above any graph the adjacency path should be serving.
    * Tunable via `graft.graph.adjMaxDegree`. */
  private def adjMaxDegree(df: DataFrame): Long =
    df.sparkSession.conf.getOption("graft.graph.adjMaxDegree")
      .map(_.toLong).getOrElse(500000L)

  /** True when the adjacency-intersect shape is memory-safe. Degree
    * is bounded by the (canonical) edge count, so a small graph
    * skips the degree probe entirely — only genuinely large edge
    * lists pay the one extra aggregation job to measure their hub. */
  private def adjacencySafe(e: DataFrame, sym: DataFrame): Boolean = {
    val cap = adjMaxDegree(e)
    e.count() <= cap || {
      val maxDeg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .agg(max(col("deg"))).first().getLong(0)
      maxDeg <= cap
    }
  }

  /** Common-neighbor counts per UNORDERED pair (a < b) with ≥ 1
    * common neighbor, via the wedge self-join on the shared neighbor
    * — the hub-safe shape: no row ever carries an adjacency array,
    * and the Σdeg² wedge stream aggregates in place (map-side
    * combine) without re-shuffling. The explicit numbered repartition
    * pins the wedge stage's parallelism — its INPUTS are small, so
    * AQE would coalesce the stage to a couple of tasks that then
    * chew the whole wedge stream serially (measured on adamicAdar:
    * 78 s vs 26 s at sf0.1). */
  private def wedgeCommonCounts(sym: DataFrame): DataFrame = {
    val parts = 4 * sym.sparkSession.sparkContext.defaultParallelism
    sym.select(col("dst").as("w"), col("src").as("a"))
      .repartition(parts, col("w"))
      .join(sym.select(col("src").as("w"), col("dst").as("b"))
          .repartition(parts, col("w")),
        Seq("w"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).cast("long").as("c"))
  }

  /** Per-vertex triangle count + local clustering coefficient
    * (e4-scaled): for each canonical edge (a,b), common neighborhoods
    * give the triangles through that edge; each endpoint accumulates
    * them and every triangle is credited twice per member, hence the
    * /2.
    *
    * Dispatch on measured max degree: the adjacency-intersect shape
    * (broadcastable per-vertex neighbor lists, one array_intersect
    * per edge) wins while every list is small, but a hub vertex makes
    * per-row memory two full neighbor lists — above
    * [[adjMaxDegree]] the plan switches to [[wedgeCommonCounts]],
    * which never materializes an adjacency array (spec-checked equal
    * on a planted hub graph). */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy(col("src").as("vertex"))
      .agg(count(lit(1)).as("degree"))
    val common =
      if (adjacencySafe(e, sym)) {
        val adj = sym.groupBy(col("src")).agg(collect_list(col("dst")).as("nbrs"))
        e.join(adj.select(col("src").as("a"), col("nbrs").as("na")), col("src") === col("a"))
          .join(adj.select(col("src").as("b"), col("nbrs").as("nb")), col("dst") === col("b"))
          .select(col("src"), col("dst"),
            size(array_intersect(col("na"), col("nb"))).cast("long").as("c"))
      } else {
        e.join(wedgeCommonCounts(sym)
            .select(col("a").as("src"), col("b").as("dst"), col("c")),
          Seq("src", "dst"), "inner")
      }
    val perVertex = common.select(col("src").as("vertex"), col("c"))
      .unionAll(common.select(col("dst").as("vertex"), col("c")))
      .groupBy(col("vertex"))
      .agg((sum(col("c")) / 2).cast("long").as("n_triangles"))
    deg.join(perVertex, Seq("vertex"), "left")
      .select(col("vertex"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("lcc_e4",
        when(col("degree") >= 2,
          round(col("n_triangles") * 20000.0 / (col("degree") * (col("degree") - 1)))
            .cast("long"))
          .otherwise(lit(0L)))
      .orderBy(col("vertex"))
  }

  /** Strong-tie subgraph: keep edges whose weight is ≥ 1.25× the
    * median edge weight. A scale-relative threshold (not an absolute
    * one) so the same query yields a non-trivial topology at every
    * SF — the dense co-occurrence graph is near-complete, and
    * similarity/assortativity over the complete graph is degenerate.
    * Only the scalar median crosses the driver; the edge list is
    * checkpointed so threshold + filter share one materialization.
    *
    * The median is `approx_percentile` (GK sketch, bounded executor
    * memory) — exact `percentile` accumulates a per-value counts map
    * and is an OOM seed on arbitrary float-weighted edges at scale.
    * Accuracy 10000 bounds the rank error to N/10000; on the integer
    * co-occurrence weights (massive per-value multiplicity) the
    * returned value equals the exact median at every tested SF, and
    * the 1.25× multiplier keeps the ≥-threshold between integer
    * weight levels, so the selected edge set — and the downstream
    * g_jaccard/g_assortativity oracles — are unchanged. */
  def strongTies(edges: DataFrame): DataFrame = {
    val e = edges.localCheckpoint(true)
    val thr = e.agg(expr("approx_percentile(weight, 0.5, 10000)"))
      .first().getDouble(0) * 1.25
    e.filter(col("weight") >= thr)
  }

  /** Per-edge neighborhood Jaccard similarity — the classic
    * link-prediction / tie-strength primitive: for each canonical
    * edge (a,b), |N(a)∩N(b)| / |N(a)∪N(b)| with
    * |N(a)∪N(b)| = deg(a) + deg(b) − |N(a)∩N(b)|. Scores are
    * e4-scaled BIGINTs so the oracle compare is bit-stable.
    *
    * Same max-degree dispatch as [[clusteringCoefficients]]: the
    * adjacency-intersect shape until a hub would put two full
    * neighbor lists in one row, [[wedgeCommonCounts]] (left-joined —
    * zero-common edges keep their Jaccard-0 row) above it. */
  def edgeJaccard(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val withDegs =
      if (adjacencySafe(e, sym)) {
        val adj = sym.groupBy(col("src"))
          .agg(collect_list(col("dst")).as("nbrs"), count(lit(1)).as("deg"))
        e.join(adj.select(col("src").as("a"), col("nbrs").as("na"), col("deg").as("da")),
            col("src") === col("a"))
          .join(adj.select(col("src").as("b"), col("nbrs").as("nb"), col("deg").as("db")),
            col("dst") === col("b"))
          .select(col("src"), col("dst"),
            size(array_intersect(col("na"), col("nb"))).cast("long").as("common"),
            col("da"), col("db"))
      } else {
        val deg = sym.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
        e.join(wedgeCommonCounts(sym)
            .select(col("a").as("src"), col("b").as("dst"), col("c")),
          Seq("src", "dst"), "left")
          .select(col("src"), col("dst"), coalesce(col("c"), lit(0L)).as("common"))
          .join(deg.select(col("v").as("src"), col("deg").as("da")), Seq("src"))
          .join(deg.select(col("v").as("dst"), col("deg").as("db")), Seq("dst"))
      }
    withDegs
      .withColumn("jaccard_e4",
        round(col("common") * 10000.0 / (col("da") + col("db") - col("common")))
          .cast("long"))
      .select(col("src"), col("dst"), col("common"), col("jaccard_e4"))
      .orderBy(col("src"), col("dst"))
  }

  /** Adamic–Adar link prediction over the strong-tie subgraph: for
    * every non-adjacent pair (a, b), Σ over common neighbors w of
    * 1/ln(deg w) — the classic "who should be connected" score.
    * Each 1/ln term is e4-rounded BEFORE the integer sum so
    * distributed accumulation order can't flip the ranking.
    * Top-`topN` with full (score, a, b) tiebreak.
    *
    * Two value-identical physical paths, dispatched on measured graph
    * shape (the [[triangleCount]] pattern):
    *
    * - DENSE / small-V (V ≤ `graft.adamicadar.denseMaxVertices`,
    *   default 8192, AND the annotated adjacency fits the broadcast
    *   budget): V²/2 candidate pairs are each scored by ONE native
    *   two-pointer merge over broadcast sorted (neighbor, term)
    *   arrays ([[graft.functions.SortedKvIntersectStats]]). On a
    *   near-complete graph the Σdeg² wedge stream is ~Σdeg²/ (V²/2)
    *   times larger than the pair set (368× at sf0.1) — enumerating
    *   pairs directly skips it entirely. Measured 26.5 s → ~6 s at
    *   sf0.1.
    * - SPARSE / at-scale: wedge self-join on the shared neighbor.
    *   The center's e4 term (a per-VERTEX table) is attached BEFORE
    *   the self-join, the join output aggregates straight to (a, b)
    *   partial sums (no raw wedge row ever re-shuffles), and the
    *   existing-edge anti-join runs on the AGGREGATED pair table. A
    *   round-5 draft anti-joined and degree-joined the raw wedges —
    *   three full shuffles of the Σdeg² table, 31 s at sf0.1. Hub
    *   centers skew the one remaining wedge shuffle; that is AQE
    *   skew-split's job, and the row count itself is irreducible for
    *   the EXACT score (any wedge dropped changes some pair's sum).
    *
    * At 100 TB the dispatch picks the wedge path automatically: V
    * exceeds the dense cap, and V²/2 pair enumeration would dwarf
    * Σdeg² on any sparse graph. */
  def adamicAdar(edges: DataFrame, topN: Int = 100): DataFrame =
    commonNeighborScores(edges, topN,
      c => round(lit(10000.0) / log(c)).cast("long"), "aa_e4")

  /** Resource-allocation link prediction (round 16; Zhou, Lu &
    * Zhang 2009) — Adamic-Adar's harder-decaying sibling: each
    * common neighbor w contributes 1/deg(w) instead of 1/ln deg(w),
    * which penalizes promiscuous hubs enough to win on dense
    * co-occurrence graphs (the LP survey's consistent result). Same
    * e4 per-term rounding, same dense/sparse dispatch, same
    * anti-join against existing ties — one changed term expression
    * on the shared [[commonNeighborScores]] machinery. */
  def resourceAllocation(edges: DataFrame, topN: Int = 100): DataFrame =
    commonNeighborScores(edges, topN,
      c => round(lit(10000.0) / c).cast("long"), "ra_e4")

  /** The shared common-neighbor scoring machinery behind
    * [[adamicAdar]] and [[resourceAllocation]]: per-vertex e4 term
    * from `termOf`(degree), dense pair-enumeration vs sparse
    * AQE-pinned wedge dispatch (both documented above), anti-join,
    * top-`topN` under the unique (score DESC, a, b) order. */
  private def commonNeighborScores(edges: DataFrame, topN: Int,
      termOf: Column => Column, scoreAs: String): DataFrame = {
    val spark = edges.sparkSession
    val st = strongTies(edges).select(col("src"), col("dst")).localCheckpoint(true)
    val sym = st.unionAll(st.select(col("dst").as("src"), col("src").as("dst")))
    val term = sym.groupBy(col("src").as("w"))
      .agg(termOf(count(lit(1))).as("term_e4"))
      .localCheckpoint(true)
    val nV = term.count()
    val nE = st.count()
    val denseMaxV = spark.conf.getOption("graft.adamicadar.denseMaxVertices")
      .map(_.toLong).getOrElse(8192L)
    val budget = graft.operators.Joins.budgetBytes(spark)
    val anti = st.select(col("src").as("a"), col("dst").as("b"))

    // 2 endpoints × (8 B id + 8 B term + array overhead) per edge.
    val pairs = if (nV <= denseMaxV && 2L * 24L * nE < budget) {
      val ann = sym.join(term, col("dst") === col("w"))
        .groupBy(col("src"))
        .agg(sort_array(collect_list(struct(col("dst").as("k"),
          col("term_e4").as("v")))).as("kv"))
      val adjA = ann.select(col("src").as("a2"),
        col("kv").getField("k").as("ks"), col("kv").getField("v").as("vs"))
      val adjB = ann.select(col("src").as("b2"), col("kv").getField("k").as("kbs"))
      val verts = term.select(col("w"))
      verts.select(col("w").as("a"))
        .repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(broadcast(verts.select(col("w").as("b"))))
        .filter(col("a") < col("b"))
        .join(broadcast(adjA), col("a") === col("a2"))
        .join(broadcast(adjB), col("b") === col("b2"))
        .select(col("a"), col("b"),
          graft.functions.CatalystGraph.sorted_kv_intersect_stats(
            col("ks"), col("vs"), col("kbs")).as("stats"))
        .select(col("a"), col("b"),
          col("stats").getField("common").as("common"),
          col("stats").getField("vsum").as(scoreAs))
        .filter(col("common") >= 1L)
    } else {
      // Pin the wedge stage's parallelism: the join INPUTS are small
      // (E rows), so AQE would coalesce this stage to a couple of
      // tasks — which then generate AND partially aggregate the whole
      // Σdeg² wedge stream serially, spilling (measured 78 s vs 26 s
      // at sf0.1). An explicit numbered repartition on the join key
      // is exempt from AQE coalescing and costs only an E-row shuffle.
      val wedgeParts = 4 * spark.sparkContext.defaultParallelism
      sym.select(col("dst").as("w"), col("src").as("a"))
        .join(term, Seq("w"))
        .repartition(wedgeParts, col("w"))
        .join(sym.select(col("src").as("w"), col("dst").as("b"))
            .repartition(wedgeParts, col("w")),
          Seq("w"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("common"), sum(col("term_e4")).as(scoreAs))
    }
    pairs.join(anti, Seq("a", "b"), "left_anti")
      .orderBy(col(scoreAs).desc, col("a"), col("b"))
      .limit(topN)
  }

  /** Global 4-cycle (C4) census — the square analogue of
    * [[triangleCount]], the next motif statistic after triangles and
    * [[triadCensus]]. Identity: every 4-cycle u–x–w–y–u has exactly
    * two diagonals {u,w} and {x,y}, and a pair with c common
    * neighbors is the diagonal of C(c,2) cycles, so
    * C4 = Σ_pairs c·(c−1) / 4 — an exact BIGINT derived from
    * codegrees alone, no cycle enumeration and no floats.
    *
    * Same measured-shape dispatch as [[adamicAdar]]: dense/small-V
    * enumerates the V²/2 candidate pairs against broadcast sorted
    * adjacency (one native merge-intersect per pair — the Σdeg²
    * wedge intermediate never materializes); the at-scale sparse
    * path streams the AQE-pinned wedge join
    * ([[wedgeCommonCounts]]). Both paths reduce to ONE scalar row,
    * so distributed reduction order is immaterial to the hash. */
  def squareCount(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val nE = e.count()
    val denseMaxV = spark.conf.getOption("graft.squares.denseMaxVertices")
      .map(_.toLong).getOrElse(8192L)
    val budget = graft.operators.Joins.budgetBytes(spark)
    val verts = sym.select(col("src").as("w")).distinct().localCheckpoint(true)
    val nV = verts.count()
    val counts = if (nV <= denseMaxV && 2L * 16L * nE < budget) {
      val ann = sym.groupBy(col("src"))
        .agg(sort_array(collect_list(col("dst"))).as("ks"))
      val adjA = ann.select(col("src").as("a2"), col("ks").as("ka"))
      val adjB = ann.select(col("src").as("b2"), col("ks").as("kb"))
      verts.select(col("w").as("a"))
        .repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(broadcast(verts.select(col("w").as("b"))))
        .filter(col("a") < col("b"))
        .join(broadcast(adjA), col("a") === col("a2"))
        .join(broadcast(adjB), col("b") === col("b2"))
        .select(graft.functions.CatalystGraph.sorted_kv_intersect_stats(
          col("ka"), col("ka"), col("kb")).getField("common").as("c"))
    } else {
      wedgeCommonCounts(sym).select(col("c"))
    }
    counts.agg(coalesce(expr("sum(c * (c - 1)) div 4"), lit(0L)).as("n_squares"))
  }

  /** Degree assortativity: Pearson correlation of endpoint degrees
    * over the symmetrized edge ends — one scalar describing whether
    * hubs attach to hubs (positive) or to leaves (negative), a
    * standard global shape statistic next to [[degreeHistogram]].
    * Computed from exact integer sufficient statistics (degrees are
    * bounded by |V|, so the BIGINT sums are exact) with the final
    * correlation evaluated in DOUBLE from those integers — identical
    * inputs + identical IEEE expression on both engines, so the
    * e4-rounding is deterministic, unlike calling two engines'
    * `corr()` on float streams. */
  def assortativity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val pairs = sym
      .join(deg.select(col("v").as("v1"), col("deg").as("dx")), col("src") === col("v1"))
      .join(deg.select(col("v").as("v2"), col("deg").as("dy")), col("dst") === col("v2"))
      .select(col("dx"), col("dy"))
    // Degenerate guard: on a regular graph (every degree equal —
    // e.g. the complete sf0.01 co-occurrence graph) the variance is
    // zero and the correlation undefined; emit NULL instead of
    // letting ANSI mode throw on a NaN→long cast. The min==max check
    // is exact integer arithmetic, immune to float underflow.
    pairs.agg(
        count(lit(1)).as("n"),
        min(col("dx")).as("mnx"), max(col("dx")).as("mxx"),
        min(col("dy")).as("mny"), max(col("dy")).as("mxy"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(col("n"),
        when(col("mnx") === col("mxx") || col("mny") === col("mxy"),
          lit(null).cast("long"))
          .otherwise(
            round((col("n").cast("double") * col("sxy").cast("double")
                - col("sx").cast("double") * col("sy").cast("double"))
              / (sqrt(col("n").cast("double") * col("sxx").cast("double")
                  - col("sx").cast("double") * col("sx").cast("double"))
                * sqrt(col("n").cast("double") * col("syy").cast("double")
                  - col("sy").cast("double") * col("sy").cast("double")))
              * 1e4).cast("long"))
          .as("assortativity_e4"))
  }

  /** Categorical (attribute) assortativity — Newman's r over a vertex
    * label instead of degree: do edges preferentially connect
    * same-category endpoints (homophily, r → 1) or cross-category
    * (r < 0)? From the mixing matrix M over directed edge ends:
    * r = (tr(M)·m − Σ rowsum²) / (m² − Σ rowsum²), exact integers
    * throughout (rowsum² and m² on DECIMAL(38) — they square the
    * edge count), the ratio the one double tree e4-rounded, NULL
    * when one category holds every edge end (degenerate denominator).
    * Shape: two size-guarded broadcast label joins onto the edge
    * stream (the attr table is V rows — over budget the hints drop
    * and the joins shuffle on the vertex key), a |categories|²-bounded
    * mixing aggregation, 1-row fold. */
  def attrAssortativity(spark: SparkSession, edges: DataFrame,
      attrs: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val e = edges.select(col("src"), col("dst"))
    val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val attrsCk = attrs.localCheckpoint(true)
    val nV = attrsCk.count()
    val a = attrsCk.toDF("src", "ca")
    val b = attrsCk.toDF("dst", "cb")
    val mix = sym.join(Joins.maybeBroadcast(a, nV, 64L), Seq("src"))
      .join(Joins.maybeBroadcast(b, nV, 64L), Seq("dst"))
      .groupBy(col("ca"), col("cb")).agg(count(lit(1)).as("mij"))
      .localCheckpoint(true)
    val rows = mix.groupBy(col("ca")).agg(sum(col("mij")).as("rs"))
      .agg(count(lit(1)).as("k"),
        sum((col("rs") * col("rs")).cast(d38)).as("prod"))
    mix.groupBy()
      .agg(sum(col("mij")).as("m"),
        sum(when(col("ca") === col("cb"), col("mij")).otherwise(0L))
          .as("tr"))
      .crossJoin(broadcast(rows))
      .select(col("m"), col("k").as("n_groups"),
        expr(s"CAST(CAST(tr AS $d38) * 1000000 div m AS BIGINT)")
          .as("same_frac_e6"),
        expr("CASE WHEN CAST(m AS DOUBLE) * m - CAST(prod AS DOUBLE)" +
          " > 0.0 THEN CAST(round((CAST(tr AS DOUBLE) * m" +
          " - CAST(prod AS DOUBLE)) / (CAST(m AS DOUBLE) * m" +
          " - CAST(prod AS DOUBLE)) * 10000) AS BIGINT) END")
          .as("attr_assort_e4"))
  }

  /** Unweighted shortest hop distances from every vertex to a set of
    * landmark vertices (GraphX Pregel `ShortestPaths`). Landmarks
    * default to the three smallest vertex ids — deterministic without
    * caller input. Output: one row per (vertex, landmark) reachable
    * pair. */
  def shortestPaths(spark: SparkSession, edges: DataFrame,
      landmarks: Seq[Long] = Seq.empty): DataFrame = {
    // Measured dispatch (round 14): hop distances are unique values,
    // so a driver BFS is bit-identical to the Pregel run it stands in
    // for (IterativeDispatchSpec pins it) — and a Pregel launch on a
    // bounded-V graph is scheduling, not work.
    import spark.implicits._
    Dispatch.gated("shortestPaths", edges.select(col("src"), col("dst")),
        LocalLouvain.CollectMax / 2) { rs =>
      val e0 = rs.map(r => (r.getLong(0), r.getLong(1)))
      val rows = e0 ++ e0.map(_.swap)
      val seeds: Seq[Long] =
        if (landmarks.nonEmpty) landmarks
        else rows.map(_._1).distinct.sorted.take(3).toSeq
      Some(LocalIterative.hopDistances(rows, seeds)
        .toDF("vertex", "landmark", "hops"))
    } { e2 =>
      import org.apache.spark.graphx.lib.ShortestPaths
      // Hops ignore weights; the canonical projection also keeps a
      // caller frame's extra columns (BenchDist's 4-column parquet)
      // out of the positional self-union (VERDICT r17 item 4).
      val e3 = e2.select(col("src"), col("dst"), lit(1.0).as("weight"))
      val g = GraphBuilder.toGraphX(
        e3.unionAll(e3.select(col("dst").as("src"), col("src").as("dst"), col("weight"))))
      val marks =
        if (landmarks.nonEmpty) landmarks
        else g.vertices.keys.takeOrdered(3).toSeq
      val res = ShortestPaths.run(g, marks).vertices
        .flatMap { case (id, spmap) =>
          spmap.toSeq.map { case (lm, d) => (id, lm, d.toLong) }
        }
      spark.createDataFrame(res).toDF("vertex", "landmark", "hops")
    }
  }

  /** Directed triad census over a (src, dst) edge table: counts the
    * two connected 3-vertex triangle motifs — FEED-FORWARD (a→b,
    * b→c, a→c: the hierarchy/delegation motif) and CYCLE (a→b, b→c,
    * c→a: the feedback motif). Their ratio is the standard
    * hierarchy-vs-feedback signature of a directed network (Milo et
    * al. 2002 motif analysis). Feed-forward instances are counted per
    * ordered pattern (the midpoint b is unique per instance); cycles
    * are canonicalized to their smallest-vertex rotation so each
    * cyclic triangle counts exactly once.
    *
    * Plan: wedges (a→b⋈b→c) close against the distinct edge set by
    * equi-join — never an enumeration of vertex triples. The wedge
    * join is the row-exploding shape AQE mis-coalesces (sizes the
    * stage by its tiny inputs), so both inputs carry an explicit
    * NUMBERED repartition on the join key — exempt from AQE
    * coalescing, the g_betweenness lesson. Output is one row; the
    * two single-row aggregates cross at the end (the bounded
    * one-row-aggregate class from the plan audit). */
  def triadCensus(spark: SparkSession, edges: DataFrame): DataFrame = {
    val n = spark.sessionState.conf.numShufflePartitions
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint(true)
    val nE = e.count()
    val budget = graft.operators.Joins.budgetBytes(spark)
    if (2L * 16L * nE < budget) {
      // Dense/broadcastable path (the g_adamic_adar lesson: on a
      // dense small-V graph the Σ indeg·outdeg wedge stream is ~100M
      // rows where the edge table is 450k — enumerate per EDGE against
      // broadcast sorted adjacency instead). Per-edge identities, each
      // an O(deg_a + deg_c) native merge-intersect, no wedge
      // materialization:
      //   FF  = Σ_{(a,c)∈E} |out(a) ∩ in(c)|      (midpoint b per inst)
      //   CYC = Σ_{(c,a)∈E} |out(a) ∩ in(c)| / 3  (3 rotations each)
      // Distinctness is structural: b∈out(a) ⇒ b≠a, b∈in(c) ⇒ b≠c,
      // and every edge has src≠dst, so no extra filters — identical
      // to the wedge-close formula (spec: both census fixtures + the
      // path-equality check).
      val outAdj = e.groupBy(col("src"))
        .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      val inAdj = e.groupBy(col("dst"))
        .agg(sort_array(collect_list(col("src"))).as("nbrs"))
      val empty = expr("CAST(array() AS ARRAY<BIGINT>)")
      def common(a: Column, b: Column): Column =
        graft.functions.CatalystGraph
          .sorted_kv_intersect_stats(a, a, b).getField("common")
      e.join(broadcast(outAdj.select(col("src").as("os"), col("nbrs").as("out_src"))),
          col("src") === col("os"))
        .join(broadcast(inAdj.select(col("dst").as("id_"), col("nbrs").as("in_dst"))),
          col("dst") === col("id_"))
        .join(broadcast(outAdj.select(col("src").as("od"), col("nbrs").as("out_dst"))),
          col("dst") === col("od"), "left")
        .join(broadcast(inAdj.select(col("dst").as("is_"), col("nbrs").as("in_src"))),
          col("src") === col("is_"), "left")
        .select(
          common(col("out_src").cast("array<bigint>"),
            col("in_dst").cast("array<bigint>")).as("ffc"),
          common(coalesce(col("out_dst").cast("array<bigint>"), empty),
            coalesce(col("in_src").cast("array<bigint>"), empty)).as("cycc"))
        .agg(coalesce(sum(col("ffc")), lit(0L)).as("n_ffl"),
          coalesce(expr("sum(cycc) div 3"), lit(0L)).as("n_cycle"))
    } else {
      val wedges = e.select(col("src").as("a"), col("dst").as("b"))
        .repartition(n, col("b"))
        .join(e.select(col("src").as("b"), col("dst").as("c"))
          .repartition(n, col("b")), Seq("b"))
        .filter(col("a") =!= col("c"))
      val ff = wedges
        .join(e.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))
        .agg(count(lit(1)).as("n_ffl"))
      val cyc = wedges
        .filter(col("a") < col("b") && col("a") < col("c"))
        .join(e.select(col("dst").as("a"), col("src").as("c")), Seq("a", "c"))
        .agg(count(lit(1)).as("n_cycle"))
      ff.crossJoin(cyc)
    }
  }

  /** WEIGHTED single-source shortest paths from the deterministic
    * landmark set — [[shortestPaths]] counts hops; this minimizes the
    * SUM OF EDGE WEIGHTS along the path (travel time / transfer cost),
    * where on a weighted graph the cheapest route is routinely the
    * longer-hop one. Bellman-Ford as `rounds` relax-and-min rounds:
    *
    *   dist_{r+1}(lm, v) = min(dist_r(lm, v),
    *                           min over edges (u,v): dist_r(lm, u) + w)
    *
    * Each round is ONE equi-join of the (lm, vertex, d) state against
    * the checkpointed symmetric edge table plus one min-aggregation —
    * min over BIGINTs is reduction-order-free, so the state is
    * bit-identical under any partitioning and the unrolled integer
    * SQL oracle matches exactly (the [[pageRankInteger]] contract).
    * Rounds are FIXED (not converge-tested) so the oracle unrolls the
    * same computation; on these co-occurrence graphs 6 rounds is past
    * the fixpoint (spec-asserted: rounds=6 ≡ rounds=7). State is
    * O(|landmarks|·V) narrow rows; per-round shuffle is the relax
    * join's |landmarks|·E rows of (lm, vertex, d) — no adjacency
    * arrays, no driver collect. Only vertices reached within `rounds`
    * hops emit, mirroring the BFS-CTE shape. */
  def weightedShortestPaths(spark: SparkSession, edges: DataFrame,
      landmarks: Seq[Long] = Seq.empty, rounds: Int = 6): DataFrame = {
    import spark.implicits._
    Dispatch.gated("weightedShortestPaths", edges.select(col("src"), col("dst"),
        col("weight").cast("long").as("w")), LocalLouvain.CollectMax / 2) { rs =>
      val one = rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val rows = one ++ one.map { case (s, d, w) => (d, s, w) }
      val seeds: Seq[Long] =
        if (landmarks.nonEmpty) landmarks
        else rows.map(_._1).distinct.sorted.take(3).toSeq
      Some(LocalIterative.weightedSssp(rows, seeds, rounds)
        .toDF("vertex", "landmark", "wdist"))
    } { e => weightedSsspDistributed(spark,
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"), col("w"))),
      landmarks, rounds) }
  }

  private def weightedSsspDistributed(spark: SparkSession, sym: DataFrame,
      landmarks: Seq[Long], rounds: Int): DataFrame = {
    import spark.implicits._
    val lms =
      if (landmarks.nonEmpty) landmarks.toDF("v")
      else sym.select(col("src").as("v")).distinct().orderBy(col("v")).limit(3)
    var dist = lms
      .select(col("v").as("lm"), col("v").as("vertex"), lit(0L).as("d"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val relax = dist
        .join(sym.select(col("src").as("vertex"), col("dst"), col("w")),
          Seq("vertex"))
        .select(col("lm"), col("dst").as("vertex"), (col("d") + col("w")).as("d"))
      dist = dist.unionAll(relax)
        .groupBy(col("lm"), col("vertex")).agg(min(col("d")).as("d"))
        .localCheckpoint(true)
    }
    dist.select(col("vertex"), col("lm").cast("long").as("landmark"),
      col("d").as("wdist"))
  }

  /** Landmark closeness / harmonic centrality — the standard
    * sampled approximation of exact closeness (which needs all-pairs
    * BFS, infeasible past toy graphs): per vertex, aggregate hop
    * distances to the deterministic landmark set from
    * [[shortestPaths]]. Emitted per reachable vertex:
    *
    *   - `reached`   — landmarks reached (≠ the vertex itself)
    *   - `total_hops` — Σ hops (closeness ∝ reached/total_hops)
    *   - `ecc_lb`    — max hops: a lower bound on eccentricity, the
    *                   landmark estimate of the graph diameter's end
    *   - `harmonic_e4` — Σ floor(1e4/hops): harmonic centrality with
    *                   PER-TERM integer flooring, so the sum is
    *                   bit-identical under any reduction order (the
    *                   same integer contract as [[pageRankInteger]])
    *
    * One aggregation over the Pregel result — the landmark set is
    * what bounds the work: |V|·|landmarks| rows, not |V|². Vertices
    * reaching no landmark (and the landmark-self 0-hop rows) are
    * absent, mirroring the BFS-CTE oracle. */
  def closenessCentrality(spark: SparkSession, edges: DataFrame,
      landmarks: Seq[Long] = Seq.empty): DataFrame = {
    shortestPaths(spark, edges, landmarks)
      .filter(col("vertex") =!= col("landmark"))
      .groupBy(col("vertex"))
      .agg(
        count(lit(1)).as("reached"),
        sum(col("hops")).as("total_hops"),
        max(col("hops")).as("ecc_lb"),
        sum(expr("10000 div hops")).as("harmonic_e4"))
      .orderBy(col("vertex"))
  }

  /** HyperANF approximate neighborhood function (Boldi, Rosa & Vigna,
    * WWW 2011): per vertex, an HLL sketch of the ball N_r(v) =
    * {vertices within distance r}, advanced one hop per round by
    * merging each vertex's sketch with its neighbors' — sketch union
    * IS ball union, so round r's estimates give the neighborhood
    * function N(r) = Σ_v |N_r(v)| (reachable ordered pairs within r,
    * self-pairs included) without any per-pair work. This is how
    * effective diameter / average distance is measured on graphs
    * where exact all-pairs BFS (V·E) is unthinkable: state is one
    * ~2^lgK-register sketch per vertex, each round is one equi-join +
    * one map-side-combinable union aggregation, and rounds stop at
    * the sketch fixpoint (≤ graph diameter, capped by `maxRounds`).
    *
    * DataSketches HLL stays in exact (coupon) mode until well past
    * the register count, so on small graphs the estimates are exact —
    * the spec pins exact equality with driver-side BFS on planted
    * graphs; at scale lgK=12 gives ~1.6% standard error per vertex.
    * Output: one row per round (r, est_pairs), plus `d_eff90` — the
    * smallest r whose ball count reaches 90% of the fixpoint count —
    * stamped on every row (the single scalar a caller usually wants).
    */
  /** HyperBall harmonic centrality (Boldi & Vigna 2014) — [[anf]]'s
    * per-vertex readout: harmonic(v) = Σ_u 1/d(v,u) accumulates from
    * the ball-size INCREMENTS each sketch round (|B(v,r)| − |B(v,r−1)|
    * new vertices at distance exactly r contribute 1/r), so the
    * centrality every textbook computes with V BFS runs falls out of
    * the SAME one-join-per-round sketch loop. Spark's
    * `hll_sketch_estimate` returns whole Longs and coupon-mode
    * sketches are exact on small graphs, so increments are exact
    * integers; 1/r accumulates in lcm(1..16)=720720ths — integer end
    * to end, spec-pinned equal to driver BFS on planted graphs and
    * deterministic at scale (sketch union is order-independent).
    * Output: top-100 vertices by (harmonic_e6 DESC, vertex). */
  def harmonicApprox(spark: SparkSession, edges: DataFrame, lgK: Int = 12,
      maxRounds: Int = 16, topN: Int = 100): DataFrame = {
    val L = 720720L // lcm(1..16)
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    // No driver twin — same double adjudication as [[anf]] (the
    // round-20 HllProbe: union estimates are partition-layout
    // dependent, so only this exact plan reproduces them).
    val sym = e.union(e.select(col("dst"), col("src")))
      .toDF("v", "nbr").localCheckpoint(true)
    var state = sym.select(col("v")).distinct()
      .groupBy(col("v")).agg(hll_sketch_agg(col("v"), lit(lgK)).as("sk"))
      .localCheckpoint(true)
    var acc = state.select(col("v"), lit(1L).as("prev_est"),
      lit(0L).as("h_scaled")).localCheckpoint(true)
    // Same broadcast-vs-shuffle dispatch as [[anf]] (sketch table
    // under the budget pipelines over the edge list; above it the
    // shuffle join is the at-scale shape).
    val nV = state.count()
    val budget = spark.conf.getOption("graft.anf.broadcastBytes")
      .map(_.toLong).getOrElse(160L << 20)
    val smallState = nV * (4L << 10) < budget
    var r = 1
    var grew = true
    while (grew && r <= maxRounds) {
      val stateAsSv = state.withColumnRenamed("v", "sv")
      val next = state.select(col("v"), col("sk"))
        .union(sym.join(if (smallState) broadcast(stateAsSv) else stateAsSv,
            col("nbr") === col("sv"))
          .select(col("v"), col("sk")))
        .groupBy(col("v"))
        .agg(hll_union_agg(col("sk"), lit(false)).as("sk"))
        .localCheckpoint(true)
      val est = next.select(col("v"),
        hll_sketch_estimate(col("sk")).as("est"))
      val merged = acc.join(est, Seq("v"))
        .select(col("v"), col("est").as("prev_est"),
          (col("h_scaled") +
            (col("est") - col("prev_est")) * lit(L / r)).as("h_scaled"),
          (col("est") > col("prev_est")).as("imp"))
        .localCheckpoint(false)
      grew = merged.agg(sum(when(col("imp"), 1L).otherwise(0L)))
        .first().getLong(0) > 0
      state.unpersist(false)
      acc.unpersist(false)
      state = next
      acc = merged.select(col("v"), col("prev_est"), col("h_scaled"))
      r += 1
    }
    acc
      .select(col("v").as("vertex"),
        expr(s"h_scaled * 1000000 div ${L}L").as("harmonic_e6"))
      .orderBy(col("harmonic_e6").desc, col("vertex"))
      .limit(topN)
  }

  /** Exact landmark harmonic centrality (round 16) — the
    * deterministic full-oracle sibling of the HyperBall sketch
    * [[harmonicApprox]], the g_pagerank / g_pagerank_det pattern:
    * the sketch stays the at-scale path (per-vertex sums over ALL
    * reachable vertices from one sketch loop), this variant restricts
    * the sum to the k smallest vertex ids as a fixed landmark set —
    * Σ_lm floor(1e4 / d(v, lm)) with PER-TERM integer flooring
    * (reduction-order-free, the [[closenessCentrality]] column
    * widened to a k-landmark set and ranked). Rides the dispatched
    * [[shortestPaths]] (driver BFS under the collect bound, Pregel
    * at scale); the landmark manifest is a bounded k-id collect.
    * Output: top-`topN` by (harmonic_e4 DESC, vertex) — unique. */
  def harmonicLandmarks(spark: SparkSession, edges: DataFrame,
      k: Int = 10, topN: Int = 100): DataFrame = {
    val lms = edges.select(col("src").as("v"))
      .unionAll(edges.select(col("dst").as("v")))
      .distinct().orderBy(col("v")).limit(k)
      .collect().map(_.getLong(0)).toSeq
    shortestPaths(spark, edges, lms)
      .filter(col("vertex") =!= col("landmark"))
      .groupBy(col("vertex"))
      .agg(count(lit(1)).as("reached"),
        sum(expr("10000 div hops")).as("harmonic_e4"))
      .orderBy(col("harmonic_e4").desc, col("vertex"))
      .limit(topN)
  }

  def anf(spark: SparkSession, edges: DataFrame, lgK: Int = 12,
      maxRounds: Int = 32): DataFrame = {
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    // NO driver twin, adjudicated TWICE (round 19 by measurement;
    // round 20 by the HllProbe experiment, which is conclusive): the
    // per-round hll_union_agg estimate is not even a pure function of
    // the ball SET — HIP retention through coupon replay depends on
    // how partial aggregation splits the input, so repartitioning the
    // same sketches changed the estimate (600 → 591 at n=600, lgK 12).
    // No driver formula can reproduce a partition-layout-dependent
    // value, so the estimates are only reproducible by this exact
    // plan. The loop is already the cheap shape at this scale:
    // broadcast state join + map-side-combined union agg, cost =
    // Spark-internal register merges.
    val sym = e.union(e.select(col("dst"), col("src")))
      .toDF("v", "nbr").localCheckpoint(true)
    var state = sym.select(col("v")).distinct()
      .groupBy(col("v")).agg(hll_sketch_agg(col("v"), lit(lgK)).as("sk"))
      .localCheckpoint(true)
    // Checkpointed state carries no size stats, so Spark would plan a
    // shuffle join that ships one ~2^lgK-register sketch copy PER EDGE
    // (measured 10.4 s at sf0.1: 1M edge rows × ~3 KB each round).
    // While the sketch table fits the broadcast budget, broadcast it:
    // the join pipelines over the checkpointed edge list and the
    // map-side partial hll_union_agg means only ≤ partitions×V partial
    // unions reach the shuffle (measured 6.2 s, now compute-bound in
    // the map-side unions themselves). Past the budget the
    // shuffle join is the right at-scale shape — HyperANF's cost model.
    val nV = state.count()
    val budget = spark.conf.getOption("graft.anf.broadcastBytes")
      .map(_.toLong).getOrElse(160L << 20)
    val smallState = nV * (4L << 10) < budget
    def pairs(st: DataFrame): Long =
      st.agg(sum(hll_sketch_estimate(col("sk")))).first().getLong(0)
    val counts = scala.collection.mutable.ArrayBuffer(pairs(state))
    var done = false
    while (!done && counts.size <= maxRounds) {
      val stateAsSv = state.withColumnRenamed("v", "sv")
      val fromNbrs = sym
        .join(if (smallState) broadcast(stateAsSv) else stateAsSv,
          col("nbr") === col("sv"))
        .select(col("v"), col("sk"))
      val next = state.select(col("v"), col("sk")).union(fromNbrs)
        .groupBy(col("v"))
        .agg(hll_union_agg(col("sk"), lit(false)).as("sk"))
        .localCheckpoint(true)
      val c = pairs(next)
      state.unpersist(false)
      state = next
      // Sketch-count fixpoint: every ball stopped growing (estimates
      // are monotone under union, so an unchanged SUM means unchanged
      // sketches on every vertex of this run's merge order).
      if (c == counts.last) done = true else counts += c
    }
    state.unpersist(false)
    val total = counts.last
    val dEff = counts.indexWhere(_.toDouble >= 0.9 * total)
    val rows = counts.toSeq.zipWithIndex.map { case (n, r) => (r, n, dEff) }
    spark.createDataFrame(rows).toDF("r", "est_pairs", "d_eff90")
  }

  /** k-core: the maximal subgraph where every vertex has degree ≥ k,
    * by iterative peeling — drop under-degree vertices, recompute,
    * repeat to fixpoint. Each round is one aggregation + one semi-join
    * over a localCheckpointed shrinking edge list; rounds are bounded
    * by the graph's degeneracy (small in practice). */
  def kCore(spark: SparkSession, edges: DataFrame, k: Int,
      maxIter: Int = 50): DataFrame = {
    var e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      val deg = e.select(col("src").as("vertex"))
        .unionAll(e.select(col("dst").as("vertex")))
        .groupBy(col("vertex")).agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("vertex"))
      val pruned = e
        .join(keep.select(col("vertex").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("vertex").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint(true)
      changed = pruned.count() != e.count()
      e = pruned
      iter += 1
    }
    e.select(col("src").as("vertex"))
      .unionAll(e.select(col("dst").as("vertex")))
      .distinct()
      .orderBy(col("vertex"))
  }

  /** Full core decomposition — every vertex's coreness number (the
    * max k with v inside the k-core), where [[kCore]] answers only
    * one fixed k. H-index fixpoint (Montresor, De Pellegrini &
    * Miorandi 2011, "Distributed k-Core Decomposition"): c₀(v) =
    * deg(v); each round c(v) ← H(neighbors' c) = max h such that ≥h
    * neighbors hold c ≥ h, computed as max(least(cₙ, rank)) over the
    * descending rank window — monotone non-increasing, converges to
    * coreness exactly. Per round: one (dst-keyed) label equi-join +
    * one vertex-keyed rank window + one map-side-combinable max —
    * E-row narrow rows, nothing wider than two longs shuffles, the
    * at-scale peel-free shape (global peeling serializes on the
    * minimum degree; the h-index fixpoint is embarrassingly
    * vertex-parallel).
    *
    * Fixed-round parity contract (the g_betweenness/ktruss rule):
    * the oracle unrolls EXACTLY `rounds` h-index rounds; the engine
    * early-stops only at the fixpoint, where further rounds are
    * identity — measured convergence ≤ 4 rounds on the co-purchase
    * graphs. Rank ties among equal neighbor values permute ranks
    * only within runs of one value, so max(least(c, rank)) is
    * tie-order invariant — deterministic without a composite sort
    * key. */
  def coreness(spark: SparkSession, edges: DataFrame,
      rounds: Int = 12): DataFrame = {
    import spark.implicits._
    // Measured dispatch (round 14): the h-index fixpoint is pure
    // integer arithmetic — the driver twin is bit-identical and the
    // 12-round unrolled oracle keeps matching (IterativeDispatchSpec).
    Dispatch.gated("coreness", edges.select(col("src"), col("dst")),
        LocalLouvain.CollectMax / 2) { rs =>
      val one = rs.map(r => (r.getLong(0), r.getLong(1)))
      Some(LocalIterative.coreness(one ++ one.map(_.swap), rounds)
        .toDF("vertex", "coreness").orderBy(col("vertex")))
    } { e => corenessDistributed(
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("dst")).localCheckpoint(true), rounds) }
  }

  private def corenessDistributed(sym: DataFrame, rounds: Int): DataFrame = {
    var c = sym.groupBy(col("src")).agg(count(lit(1)).as("c"))
      .select(col("src").as("vertex"), col("c")).localCheckpoint(true)
    // The label table is one (vertex, long) row per vertex — while it
    // fits the broadcast budget the per-round join costs no shuffle of
    // sym (measured dispatch, as triangleCount); past it the equi-join
    // reuses sym's dst partitioning.
    val vCount = c.count()
    def joined(lbl: DataFrame) = {
      val right = lbl.select(col("vertex").as("dst"), col("c").as("cn"))
      if (vCount <= 4_000_000L) sym.join(broadcast(right), Seq("dst"))
      else sym.join(right, Seq("dst"))
    }
    var prevSum = Long.MaxValue
    var iter = 0
    var changed = true
    while (changed && iter < rounds) {
      // h-index over GROUPED (vertex, value) counts: duplicate
      // neighbor values collapse before the shuffle (map-side
      // combine), the cumsum window runs over the collapsed rows, and
      // max(least(value, cumcount)) is exactly max(least(cn, rank))
      // on the expanded list
      val next = joined(c)
        .select(col("src").as("vertex"), col("cn"))
        .groupBy(col("vertex"), col("cn")).agg(count(lit(1)).as("cnt"))
        .withColumn("k", sum(col("cnt")).over(
          Window.partitionBy(col("vertex")).orderBy(col("cn").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("vertex"), least(col("cn"), col("k")).as("h"))
        .groupBy(col("vertex")).agg(max(col("h")).as("c"))
        .localCheckpoint(false)
      // per-vertex h-index is monotone NON-INCREASING, so the total
      // strictly decreases iff any vertex changed — the fixpoint
      // check is one full-scan sum (materializing the lazy
      // checkpoint, the g_scc single-action rule), no diff join
      val tot = next.agg(sum(col("c"))).head.getLong(0)
      changed = tot != prevSum
      prevSum = tot
      c = next
      iter += 1
    }
    c.select(col("vertex"), col("c").as("coreness")).orderBy(col("vertex"))
  }

  /** k-truss: the maximal subgraph where every edge participates in
    * ≥ k−2 triangles — the cohesion mining step up from [[kCore]]
    * (every k-truss is inside the (k−1)-core, but truss demands the
    * neighbors also interlink, so it isolates genuinely dense
    * sub-communities instead of high-degree stars). Iterative edge
    * peeling: per round, per-edge triangle support over the CURRENT
    * surviving subgraph, drop support < k−2, repeat; cascades
    * propagate (a dropped edge lowers its triangles' other edges).
    *
    * Support per round reuses the [[clusteringCoefficients]]
    * dispatch: adjacency array-intersect while every neighbor list
    * is small (dense/small-V), else the [[wedgeCommonCounts]] wedge
    * join with explicitly pinned parallelism (the AQE-undersizing
    * rule). Rounds cap at `rounds` and the oracle unrolls EXACTLY
    * `rounds` peels, so even a non-converged state compares equal —
    * early-stop only skips no-op rounds (the g_betweenness
    * fixed-round contract; measured convergence: 7 rounds sf0.01,
    * 3 rounds sf0.1 at k=4). Each round is one agg + one semi-join
    * over a localCheckpointed shrinking edge list — the [[kCore]]
    * per-round shape and cost. */
  def kTruss(spark: SparkSession, edges: DataFrame, k: Int,
      rounds: Int = 12): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    var e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    var it = 0
    var changed = true
    while (changed && it < rounds) {
      val kept = trussSupportRound(e)
        .filter(col("c") >= k - 2)
        .select(col("src"), col("dst")).localCheckpoint(true)
      changed = kept.count() != e.count()
      e = kept
      it += 1
    }
    e.orderBy(col("src"), col("dst"))
  }

  /** One support round: per surviving canonical edge, its triangle
    * count in the current subgraph (edges with zero support may be
    * absent — callers filter ≥ k−2 ≥ 1 anyway). */
  private[graft] def trussSupportRound(e: DataFrame): DataFrame = {
    val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    if (adjacencySafe(e, sym)) {
      val adj = sym.groupBy(col("src")).agg(collect_list(col("dst")).as("nbrs"))
      e.join(adj.select(col("src").as("a"), col("nbrs").as("na")), col("src") === col("a"))
        .join(adj.select(col("src").as("b"), col("nbrs").as("nb")), col("dst") === col("b"))
        .select(col("src"), col("dst"),
          size(array_intersect(col("na"), col("nb"))).cast("long").as("c"))
    } else {
      e.join(wedgeCommonCounts(sym)
          .select(col("a").as("src"), col("b").as("dst"), col("c")),
        Seq("src", "dst"), "inner")
    }
  }

  /** Top-decile-weight subgraph (weight ≥ the 0.9 quantile): the
    * sparse strong-tie substrate for cohesion mining — the full
    * co-occurrence graph is near-complete, where truss peeling is
    * vacuous (min support ≈ 100 at sf0.1). Same approx_percentile
    * rationale and integer-multiplicity stability argument as
    * [[strongTies]] (DuckDB side: quantile_disc — both return an
    * observed weight level, and per-level multiplicity dwarfs the
    * GK rank-error bound). */
  def decileTies(edges: DataFrame, q: Double = 0.9): DataFrame = {
    val e = edges.localCheckpoint(true)
    val thr = e.agg(expr(s"approx_percentile(weight, ${q}d, 10000)"))
      .first().getDouble(0)
    e.filter(col("weight") >= thr)
  }

  /** Deterministic random walks — the DeepWalk/node2vec corpus
    * generator (one walk per start vertex, fixed length; the output
    * rows ARE the "sentences" a skip-gram embedding trains on). The
    * next hop from v at step t is neighbor rank H(walk_id, t) mod
    * deg(v) over the dst-sorted adjacency — H is a cross-engine
    * content hash (md5 hex → 60-bit integer), so the walks are
    * bit-identical under any partitioning AND replayable by the
    * DuckDB oracle: pseudo-randomness with a closed form, the
    * p_stratified contract applied to graph sampling.
    *
    * Shape at scale: the ranked adjacency is ONE window shuffle,
    * then each step is an equi-join of the narrow (walk_id, vertex)
    * frontier against it — walk state is O(#walks) rows regardless
    * of graph size, no adjacency arrays, no per-vertex collect.
    * Steps unroll a fixed count (`steps` joins), the
    * fixed-round-oracle contract. */
  // Memoized walk corpus per (session, edges plan, input files,
  // steps): the corpus generator (g_walks) and every consumer of the
  // corpus (g_walk_pmi's skip-gram statistics) share ONE checkpointed
  // build (contract: graft.Memo).
  private val walkMemo = graft.Memo[(Int, String, Int), DataFrame](4)

  def randomWalks(spark: SparkSession, edges: DataFrame,
      steps: Int = 4): DataFrame =
    walkMemo(spark, (edges.queryExecution.analyzed.semanticHash(),
        graft.Memo.dataKey(edges), steps)) {
      randomWalksUncached(spark, edges, steps).localCheckpoint(true)
    }

  private def randomWalksUncached(spark: SparkSession, edges: DataFrame,
      steps: Int): DataFrame = {
    import spark.implicits._
    // Measured dispatch (round 19): the rank pick is integer-exact
    // (60-bit md5 bridge mod degree), so the driver twin is
    // bit-identical (IterativeDispatchSpec); what the DF loop pays at
    // small V is `steps` exploding joins' plan analysis + shuffles,
    // not arithmetic. The loop below stays the at-scale shape.
    Dispatch.gated("randomWalksUncached", edges.select(col("src"), col("dst")),
        LocalLouvain.CollectMax / 2) { rs =>
      val one = rs.map(r => (r.getLong(0), r.getLong(1)))
      Some(LocalIterative.randomWalks(one ++ one.map(_.swap), steps)
        .toDF("walk_id", "step", "vertex")
        .orderBy(col("walk_id"), col("step")))
    } { e => randomWalksDistributed(
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"))), steps) }
  }

  private def randomWalksDistributed(sym: DataFrame, steps: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val adj = sym
      .withColumn("r",
        row_number().over(Window.partitionBy(col("src")).orderBy(col("dst"))) - 1)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))
      .select(col("src").as("a_src"), col("dst").as("a_dst"),
        col("r").as("a_r"), col("deg").as("a_deg"))
      .localCheckpoint(true)
    var cur = adj.select(col("a_src").as("walk_id")).distinct()
      .select(col("walk_id"), col("walk_id").as("vertex"))
    val perStep = scala.collection.mutable.ArrayBuffer[DataFrame](
      cur.select(col("walk_id"), lit(0).as("step"), col("vertex")))
    for (t <- 1 to steps) {
      val h = conv(substring(
        md5(concat(col("walk_id").cast("string"), lit(s":$t"))), 1, 15), 16, 10)
        .cast("long")
      cur = cur
        .join(adj, col("vertex") === col("a_src")
          && col("a_r") === pmod(h, col("a_deg")))
        .select(col("walk_id"), col("a_dst").as("vertex"))
      perStep += cur.select(col("walk_id"), lit(t).as("step"), col("vertex"))
    }
    perStep.reduce(_ unionAll _).orderBy(col("walk_id"), col("step"))
  }

  /** Minimum spanning forest by Borůvka rounds — THE distributed MST
    * algorithm (each round every component picks its lightest
    * outgoing edge, picked edges contract; components at least halve,
    * so rounds are O(log V) regardless of graph shape). Edge picks
    * order by the TOTAL order (w, src, dst) — a consistent global
    * tiebreak is what makes tied weights cycle-free and the forest
    * deterministic (and a true MSF: some minimum forest always
    * realizes any consistent tie order). Per round: two label
    * equi-joins + one min-struct aggregation (map-side combinable,
    * narrow (w, src, dst) structs) + one CC pass over the PICKED
    * edges only (≤ one per component — a forest, vastly smaller than
    * the graph). State is one (vertex, label) row per vertex. */
  // Memoized Borůvka forest per (session, edges plan, input files,
  // rounds): the rows-only edge list (g_mst) and the scalar readout
  // (g_mst_weight) share ONE checkpointed build (contract:
  // graft.Memo; memo-miss spec in MstSpec).
  private val mstMemo = graft.Memo[(Int, String, Int), DataFrame](4)

  def minimumSpanningForest(spark: SparkSession, edges: DataFrame,
      maxRounds: Int = 32): DataFrame =
    mstMemo(spark, (edges.queryExecution.analyzed.semanticHash(),
        graft.Memo.dataKey(edges), maxRounds)) {
      minimumSpanningForestUncached(spark, edges, maxRounds).localCheckpoint(true)
    }

  private def minimumSpanningForestUncached(spark: SparkSession,
      edges: DataFrame, maxRounds: Int): DataFrame = {
    // Measured dispatch (round 16): under the STRICT (w, src, dst)
    // total order the minimum forest is UNIQUE (cycle property), so
    // a driver Kruskal is bit-identical to the Borůvka loop by
    // theorem — IterativeDispatchSpec pins it anyway. Declines on
    // null or NaN weights (the twin's getDouble/sort would NPE or
    // diverge on NaN ordering).
    import spark.implicits._
    Dispatch.gated("minimumSpanningForestUncached", edges.select(col("src"),
        col("dst"), col("weight").cast("double").as("w")), LocalLouvain.CollectMax,
        admit = Seq(Dispatch.noNulls(col("w")), Dispatch.noNaN(col("w")))) { rs =>
      Some(LocalIterative.kruskal(rs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
        .toDF("src", "dst", "weight"))
    } { e => boruvka(e, maxRounds) }
  }

  private def boruvka(e: DataFrame, maxRounds: Int): DataFrame = {
    var comp = e.select(col("src").as("vertex"))
      .union(e.select(col("dst").as("vertex"))).distinct()
      .withColumn("label", col("vertex")).localCheckpoint(true)
    var mstAcc = e.limit(0)
    var done = false
    var round = 0
    while (!done && round < maxRounds) {
      round += 1
      val labeled = e
        .join(comp.select(col("vertex").as("src"), col("label").as("cs")), Seq("src"))
        .join(comp.select(col("vertex").as("dst"), col("label").as("cd")), Seq("dst"))
        .filter(col("cs") =!= col("cd"))
      val pick = struct(col("w"), col("src"), col("dst"))
      val picked = labeled.select(col("cs").as("c"), pick.as("pick"))
        .union(labeled.select(col("cd").as("c"), pick.as("pick")))
        .groupBy(col("c")).agg(min(col("pick")).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"), col("p.w").as("w"))
        .distinct() // both endpoint components may pick the same edge
        .localCheckpoint(true)
      if (picked.isEmpty) done = true
      else {
        mstAcc = mstAcc.union(picked).localCheckpoint(true)
        val pe = picked
          .join(comp.select(col("vertex").as("src"), col("label").as("ls")), Seq("src"))
          .join(comp.select(col("vertex").as("dst"), col("label").as("ld")), Seq("dst"))
          .select(col("ls").as("src"), col("ld").as("dst"), lit(1.0).as("weight"))
        val cc = connectedComponents(e.sparkSession, pe)
        val next = comp
          .join(cc.select(col("vertex").as("label"), col("component")), Seq("label"), "left")
          .select(col("vertex"), coalesce(col("component"), col("label")).as("label"))
          .localCheckpoint(true)
        comp.unpersist(false)
        comp = next
      }
    }
    comp.unpersist(false)
    mstAcc.select(col("src"), col("dst"), col("w").as("weight"))
      .orderBy(col("src"), col("dst"))
  }

  /** Deterministic MSF scalar readout (round 16) — the
    * oracle-checkable row beside [[minimumSpanningForest]]'s
    * rows-only edge list: (total_weight, n_edges, n_components).
    * Under the STRICT total edge order (w, src, dst) the minimum
    * forest is UNIQUE — the cycle property with a strict order: an
    * edge joins the forest iff it is not the largest-order edge of
    * any cycle — so total weight is deterministic even with tied
    * weights; the tiebreak is part of the operator statement. The
    * DuckDB oracle recomputes the same forest as unrolled Borůvka
    * phases (components at least halve per phase, so ⌈log₂ V⌉
    * phases suffice — and the n_components column itself would
    * expose an under-unrolled oracle as a mismatch). n_components
    * falls out of the forest identity V − n_edges; the extra
    * vertex-count pass is one distinct over the edge ends. */
  def mstWeight(spark: SparkSession, edges: DataFrame): DataFrame = {
    val nV = edges.select(col("src").as("v"))
      .unionAll(edges.select(col("dst").as("v")))
      .distinct().count()
    minimumSpanningForest(spark, edges)
      .agg(coalesce(sum(col("weight")), lit(0.0)).as("tw"),
        count(lit(1)).as("n_edges"))
      .select(expr("CAST(round(tw) AS BIGINT)").as("total_weight"),
        col("n_edges"),
        (lit(nV) - col("n_edges")).as("n_components"))
  }

  /** node2vec biased walks (Grover & Leskovec, KDD 2016): the
    * second-order extension of [[randomWalks]] whose step t choice
    * depends on (prev, cur) — candidates x ∈ N(cur) weigh
    * `wReturn` when x = prev (the 1/p return term), `wCommon` when
    * x ∈ N(prev) (distance-1, BFS-ish), `wOut` otherwise (distance-2,
    * DFS-ish 1/q term). Integer weights make the deterministic pick
    * exact: per (walk, step) the candidate list orders by dst, a
    * running-weight window assigns each candidate the half-open
    * interval [cum, cum+w), and the walk's step hash picks
    * pmod(h, Σw) — with all weights equal this IS [[randomWalks]]'
    * pmod(h, deg) rank pick (spec-pinned exact equality), so the
    * uniform walk is the p=q=1 special case, not a separate code
    * path. Zero-weight candidates get empty intervals (excluded); a
    * walk whose candidates all weigh 0 terminates.
    *
    * Shape per step: frontier × adjacency equi-join (Σdeg(cur)
    * candidate rows, bare ids), one (prev, x) membership left-join
    * against the symmetric edge set for the distance-1 class, two
    * windows sharing the walk_id partitioning. The candidate
    * explosion is inherent to exact second-order sampling — the
    * at-scale alternatives (alias tables, KnightKing-style rejection)
    * trade exactness or determinism for it. */
  def node2vecWalks(spark: SparkSession, edges: DataFrame, steps: Int = 4,
      wReturn: Int = 1, wCommon: Int = 2, wOut: Int = 4): DataFrame = {
    import spark.implicits._
    // Measured driver dispatch (round 19, the randomWalksUncached
    // shape): the second-order biased pick is an integer cum/tot
    // sample — bit-identical in the twin (IterativeDispatchSpec) —
    // and the DF loop pays per step an exploding join, a membership
    // left-join and two windows over the exploded stream, which at
    // small V is plan/shuffle overhead.
    Dispatch.gated("node2vecWalks", edges.select(col("src"), col("dst")),
        LocalLouvain.CollectMax / 2) { rs =>
      val one = rs.map(r => (r.getLong(0), r.getLong(1)))
      Some(LocalIterative.node2vecWalks(one ++ one.map(_.swap), steps,
          wReturn.toLong, wCommon.toLong, wOut.toLong)
        .toDF("walk_id", "step", "vertex")
        .orderBy(col("walk_id"), col("step")))
    } { e => node2vecDistributed(
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"))),
      steps, wReturn, wCommon, wOut) }
  }

  private def node2vecDistributed(sym: DataFrame, steps: Int, wReturn: Int,
      wCommon: Int, wOut: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val adj = sym
      .withColumn("r",
        row_number().over(Window.partitionBy(col("src")).orderBy(col("dst"))) - 1)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))
      .select(col("src").as("a_src"), col("dst").as("a_dst"),
        col("r").as("a_r"), col("deg").as("a_deg"))
      .localCheckpoint(true)
    // Membership is a SET in the twin (binarySearch) — dedupe it here
    // too so parallel edges / self-loops in the input cannot multiply
    // candidate rows through the left join and shift the cum/tot pick
    // (ADVICE r19 item 1; IterativeDispatchSpec pins a planted
    // parallel-edge case twin == forced-distributed).
    val member = adj.select(col("a_src").as("m_src"), col("a_dst").as("m_dst"))
      .distinct().withColumn("m", lit(1))
    def stepHash(t: Int) = conv(substring(
      md5(concat(col("walk_id").cast("string"), lit(s":$t"))), 1, 15), 16, 10)
      .cast("long")
    // Step 1 is first-order (no prev yet) — identical to randomWalks.
    var cur = adj.select(col("a_src").as("walk_id")).distinct()
      .select(col("walk_id"), col("walk_id").as("vertex"))
      .join(adj, col("vertex") === col("a_src")
        && col("a_r") === pmod(stepHash(1), col("a_deg")))
      .select(col("walk_id"), col("vertex").as("prev"), col("a_dst").as("vertex"))
      .localCheckpoint(true)
    val perStep = scala.collection.mutable.ArrayBuffer[DataFrame](
      adj.select(col("a_src").as("walk_id")).distinct()
        .select(col("walk_id"), lit(0).as("step"), col("walk_id").as("vertex")),
      cur.select(col("walk_id"), lit(1).as("step"), col("vertex")))
    for (t <- 2 to steps) {
      val byWalk = Window.partitionBy(col("walk_id"))
      val w = when(col("a_dst") === col("prev"), lit(wReturn.toLong))
        .when(col("m").isNotNull, lit(wCommon.toLong))
        .otherwise(lit(wOut.toLong))
      cur = cur
        .join(adj, col("vertex") === col("a_src"))
        .join(member, col("prev") === col("m_src")
          && col("a_dst") === col("m_dst"), "left")
        .withColumn("w", w)
        .withColumn("cum", coalesce(sum(col("w")).over(
          byWalk.orderBy(col("a_dst"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("tot", sum(col("w")).over(byWalk))
        .filter(col("tot") > 0)
        .withColumn("pick", pmod(stepHash(t), col("tot")))
        .filter(col("pick") >= col("cum") && col("pick") < col("cum") + col("w"))
        .select(col("walk_id"), col("vertex").as("prev"), col("a_dst").as("vertex"))
        .localCheckpoint(true)
      perStep += cur.select(col("walk_id"), lit(t).as("step"), col("vertex"))
    }
    perStep.reduce(_ unionAll _).orderBy(col("walk_id"), col("step"))
  }

  /** Connected components (GraphX fixpoint). */
  def connectedComponents(spark: SparkSession, edges: DataFrame): DataFrame = {
    // Measured driver dispatch (round 18 — the g_cc watch item):
    // min-member CC labels are PATH-INDEPENDENT, so below the bound
    // this GraphX entry runs ConnectedComponentsDF's min-root
    // union-find — ONE driver twin shared by both CC surfaces,
    // bit-identical by definition. A GraphX Pregel launch on a
    // bounded graph is scheduling, not work (same code, same data
    // measured 1.0 s to 4.2 s with the host's launch latency). The
    // GraphX loop stays the at-scale shape alongside cc_df's star
    // contraction.
    import spark.implicits._
    Dispatch.gated("connectedComponents",
        edges.select(col("src"), col("dst"), col("weight")), LocalLouvain.CollectMax) { rs =>
      Some(ConnectedComponentsDF.unionFind(rs.map(r => (r.getLong(0), r.getLong(1))))
        .toSeq.toDF("vertex", "component"))
    } { base =>
      val cc = GraphBuilder.toGraphX(base).connectedComponents().vertices
      spark.createDataFrame(cc.map { case (id, comp) => (id, comp) })
        .toDF("vertex", "component")
    }
  }

  /** PageRank, fixed iteration count (deterministic). GraphX PageRank
    * follows edge direction, so the canonical undirected edge list is
    * symmetrized first. */
  def pageRank(spark: SparkSession, edges: DataFrame, iters: Int = 10): DataFrame = {
    // Canonical 3-column projection before the positional self-union
    // (the shortestPaths caller-arity lesson, VERDICT r17 item 4).
    val e3 = edges.select(col("src"), col("dst"), col("weight"))
    val sym = e3.unionAll(e3.select(
      col("dst").as("src"), col("src").as("dst"), col("weight")))
    val g = GraphBuilder.toGraphX(sym)
    val pr = g.staticPageRank(iters).vertices
    spark.createDataFrame(pr.map { case (id, rank) => (id, math.round(rank * 1e6)) })
      .toDF("vertex", "rank_e6")
  }

  /** Weighted PageRank, DataFrame-native. GraphX's `staticPageRank`
    * spreads rank uniformly over out-edges; on a weighted
    * co-occurrence graph rank should flow proportionally to edge
    * weight: contrib(u→v) = rank(u) · w(u,v) / wdeg(u). Same
    * (1−d) + d·Σ convention and fixed iteration count as the GraphX
    * entry, so the two agree exactly on unit-weight graphs
    * (spec-checked). Each round is one join + one aggregation over
    * the precomputed fraction table; at cluster scale both shuffle on
    * vertex id and AQE handles skewed hubs. */
  def pageRankWeighted(spark: SparkSession, edges: DataFrame,
      iters: Int = 10, damping: Double = 0.85): DataFrame = {
    val sym = edges.select(col("src"), col("dst"), col("weight"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
    val wdeg = sym.groupBy(col("src")).agg(sum(col("weight")).as("wdeg"))
    val frac = sym.join(wdeg, Seq("src"))
      .select(col("src"), col("dst"), (col("weight") / col("wdeg")).as("frac"))
      .localCheckpoint(true)
    var ranks = frac.select(col("src").as("vertex")).distinct()
      .withColumn("rank", lit(1.0))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contribs = frac
        .join(ranks.select(col("vertex").as("src"), col("rank")), Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(col("frac") * col("rank")).as("contrib"))
      ranks = ranks.select(col("vertex"))
        .join(contribs.select(col("dst").as("vertex"), col("contrib")),
          Seq("vertex"), "left")
        .select(col("vertex"),
          (lit(1.0 - damping) + lit(damping) * coalesce(col("contrib"), lit(0.0)))
            .as("rank"))
        .localCheckpoint(true)
    }
    ranks.select(col("vertex"), round(col("rank") * 1e6).cast("long").as("rank_e6"))
      .orderBy(col("vertex"))
  }

  /** Bit-reproducible weighted PageRank — every operation is integer
    * arithmetic (ranks scaled e6, per-edge contributions
    * floor-divided, damping as ×17/20 integer division), so the
    * result is IDENTICAL under any partitioning, reduction order or
    * cluster layout. Float PageRank accumulates shuffle-order ulp
    * drift that makes reruns differ at 100 TB; here integer sums are
    * associative-commutative-exact, which makes the whole fixpoint
    * reproducible — and therefore oracle-checkable cross-engine.
    * Tracks [[pageRankWeighted]] within the accumulated floor error
    * (≈ deg·1e-6 per round; spec-bounded). Same plan shape per round:
    * one join + one aggregation over a checkpointed fraction table. */
  def pageRankInteger(spark: SparkSession, edges: DataFrame,
      iters: Int = 10): DataFrame = {
    import spark.implicits._
    // Measured dispatch (round 14): the recursion is pure truncating
    // integer arithmetic, so the driver twin is BIT-IDENTICAL to the
    // DataFrame loop (IterativeDispatchSpec pins it; the unrolled-SQL
    // oracle keeps hash-matching either way) — and at small V the DF
    // loop's cost is per-round plan compile, not arithmetic.
    Dispatch.gated("pageRankInteger", pageRankFrame(edges), LocalLouvain.CollectMax) { rs =>
      Some(LocalIterative.pageRankInt(rs.map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))), iters)
        .toDF("vertex", "rank_e6").orderBy(col("vertex")))
    } { fr => pageRankIntegerDistributed(spark, fr, iters) }
  }

  /** (src, dst, w, wdeg) over the symmetrized long-cast edges. */
  private[graph] def pageRankFrame(edges: DataFrame): DataFrame = {
    val both = edges.select(col("src"), col("dst"), col("weight").cast("long").as("w"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"),
        col("weight").cast("long").as("w")))
    val wdeg = both.groupBy(col("src")).agg(sum(col("w")).as("wdeg"))
    both.join(wdeg, Seq("src")).select(col("src"), col("dst"), col("w"), col("wdeg"))
  }

  private[graph] def pageRankIntegerDistributed(spark: SparkSession,
      fr: DataFrame, iters: Int): DataFrame = {
    var ranks = fr.select(col("src").as("vertex")).distinct()
      .withColumn("rank", lit(1000000L))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contribs = fr
        .join(ranks.select(col("vertex").as("src"), col("rank")), Seq("src"))
        .select(col("dst"), expr("(rank * w) div wdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("csum"))
      ranks = ranks.select(col("vertex"))
        .join(contribs.select(col("dst").as("vertex"), col("csum")),
          Seq("vertex"), "left")
        .withColumn("csum0", coalesce(col("csum"), lit(0L)))
        .select(col("vertex"),
          (lit(150000L) + expr("(csum0 * 17) div 20")).as("rank"))
        .localCheckpoint(true)
    }
    ranks.select(col("vertex"), col("rank").as("rank_e6")).orderBy(col("vertex"))
  }

  /** Eigenvector centrality, integer-deterministic (round 15) — the
    * undamped principal-eigenvector score the family was missing
    * between [[pageRankInteger]] (degree-normalized contributions)
    * and [[katzCentrality]] (attenuated walk counts): x ← A·x with a
    * per-round truncating renormalization x ← y div max(1,
    * ymax div 1e6), which pins the max score to ~1e6 so the state
    * never grows. All arithmetic is integer (sums associative-exact,
    * div truncating both engines), hence bit-identical under any
    * partitioning and unrolled-SQL-oracle-checkable — the
    * pageRankInteger contract. The per-round ymax is the round's
    * materializing full-scan action on the checkpointed contribution
    * table (the g_scc one-job lesson: normalization needs it anyway,
    * so the scalar read costs no extra job). One-time headroom
    * guard: the normalized state is < 2e6, so a round stays in
    * BIGINT while max weighted degree ≤ ~4.6e12 — asserted loudly up
    * front rather than wrapping silently at a 100× scale-up (the
    * katzCentrality overflow discipline). */
  def eigenCentrality(spark: SparkSession, edges: DataFrame,
      iters: Int = 10): DataFrame = {
    val sym = edges
      .select(col("src"), col("dst"), col("weight").cast("long").as("w"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"),
        col("weight").cast("long").as("w")))
      .localCheckpoint(true)
    val maxWd = sym.groupBy(col("src")).agg(sum(col("w")).as("wd"))
      .agg(max(col("wd"))).collect().head
    val maxWdeg = if (maxWd.isNullAt(0)) 0L else maxWd.getLong(0)
    require(maxWdeg <= Long.MaxValue / 2000000L,
      s"eigenCentrality: max weighted degree $maxWdeg times the ~2e6 " +
        "normalized state could wrap BIGINT silently — rescale weights " +
        "or thin the graph.")
    // Measured dispatch (round 14 discipline): pure truncating
    // integer recursion → the driver twin is bit-identical
    // (IterativeDispatchSpec pins it; the unrolled oracle matches
    // either path). Both paths read the SAME long-cast weights, so
    // no integrality gate is needed — the cast is the contract.
    import spark.implicits._
    Dispatch.gated("eigenCentrality", sym, LocalLouvain.CollectMax) { rs =>
      Some(LocalIterative.eigenCentrality(
          rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))), iters)
        .toDF("vertex", "eig_e6").orderBy(col("vertex")))
    } { eigenCentralityDistributed(spark, _, iters) }
  }

  private[graph] def eigenCentralityDistributed(spark: SparkSession,
      sym: DataFrame, iters: Int): DataFrame = {
    var x = sym.select(col("src").as("vertex")).distinct()
      .withColumn("x", lit(1000000L))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val y = sym
        .join(x.select(col("vertex").as("src"), col("x")), Seq("src"))
        .select(col("dst"), (col("w") * col("x")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("y"))
        .localCheckpoint(true)
      val ymaxRow = y.agg(max(col("y"))).collect().head
      val k = if (ymaxRow.isNullAt(0)) 1L
        else math.max(1L, ymaxRow.getLong(0) / 1000000L)
      x = x.select(col("vertex"))
        .join(y.select(col("dst").as("vertex"), col("y")), Seq("vertex"), "left")
        .select(col("vertex"),
          expr(s"coalesce(y, CAST(0 AS BIGINT)) div CAST($k AS BIGINT)")
            .as("x"))
        .localCheckpoint(true)
    }
    x.select(col("vertex"), col("x").as("eig_e6")).orderBy(col("vertex"))
  }

  /** Katz centrality, integer-deterministic — the "count all walks,
    * attenuated by length" score PageRank's degree normalization
    * throws away: x ← 1e6 + A·x div 256 for a fixed 8 rounds
    * (β = 1/256 as a floor division — no float path, bit-identical
    * under any partitioning, the [[pageRankInteger]] contract, hence
    * unrolled-SQL-oracle-checkable). On graphs where β·λ₁ > 1 the
    * fixed-round prefix sum is still exact and rank-meaningful
    * (Katz's truncated walk series), but the series GROWS
    * geometrically — and Spark (non-ANSI) wraps BIGINT silently
    * where the DuckDB oracle would error, so an unguarded 100×
    * scale-up corrupts instead of failing. Each round therefore
    * asserts the worst-case next value stays in range: max(katz) ·
    * maxWSum/256 must fit under Long.MaxValue − 1e6, where maxWSum
    * is the largest weighted in-degree (the guard agg doubles as the
    * round's materializing full-scan action on a LAZY checkpoint —
    * the g_scc one-job lesson — so it costs no extra job). Overflow
    * risk fails loudly with the remedy in the message
    * (GraphOpsSpec plants a huge-weight pair that trips it). Same
    * per-round shape: one join + one aggregation over a checkpointed
    * edge table. */
  def katzCentrality(spark: SparkSession, edges: DataFrame,
      iters: Int = 8): DataFrame = {
    val fr = edges
      .select(col("src"), col("dst"), col("weight").cast("long").as("w"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"),
        col("weight").cast("long").as("w")))
      .localCheckpoint(true)
    val st = fr.groupBy(col("dst"))
      .agg(sum(col("w")).as("s"), max(col("w")).as("mw"))
      .agg(max(col("s")).as("maxWSum"), max(col("mw")).as("maxW"))
      .collect().head
    val (maxWSum, maxW) =
      (math.max(st.getLong(0), 1L), math.max(st.getLong(1), 1L))
    // Conservative headroom, both wrap sites covered: the per-edge
    // product katz·w must fit a Long, and the summed next value
    // 1e6 + max(katz)·maxWSum/256 must too. BigInt for the bound
    // arithmetic (256× the Long range overflows a Long when maxWSum
    // is small).
    val bound = (((BigInt(Long.MaxValue) - 1000000L) * 256) /
      BigInt(maxWSum))
      .min(BigInt(Long.MaxValue) / BigInt(maxW))
      .min(BigInt(Long.MaxValue)).toLong
    require(1000000L <= bound,
      s"katzCentrality: the initial score 1e6 already exceeds the " +
        s"BIGINT headroom bound $bound (maxWSum=$maxWSum, maxW=$maxW) " +
        "— round 1 could wrap silently. Raise the beta denominator " +
        "or thin the input graph.")
    // Measured dispatch (round 14): truncating-integer recursion ⇒
    // the driver twin is bit-identical (incl. the per-round headroom
    // guard); the DF loop below stays as the at-scale path.
    import spark.implicits._
    Dispatch.gated("katzCentrality", fr, LocalLouvain.CollectMax) { rs =>
      Some(LocalIterative.katz(rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))),
          iters, bound).toDF("vertex", "katz_e6").orderBy(col("vertex")))
    } { katzDistributed(_, iters, bound, maxWSum) }
  }

  private def katzDistributed(fr: DataFrame, iters: Int, bound: Long,
      maxWSum: Long): DataFrame = {
    var x = fr.select(col("src").as("vertex")).distinct()
      .withColumn("katz", lit(1000000L))
      .localCheckpoint(true)
    for (round <- 1 to iters) {
      val c = fr
        .join(x.select(col("vertex").as("src"), col("katz")), Seq("src"))
        .select(col("dst"), expr("(katz * w) div 256").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("csum"))
      x = x.select(col("vertex"))
        .join(c.select(col("dst").as("vertex"), col("csum")),
          Seq("vertex"), "left")
        .select(col("vertex"),
          (lit(1000000L) + coalesce(col("csum"), lit(0L))).as("katz"))
        .localCheckpoint(false)
      // Materializing full-scan action + the overflow guard in one.
      val m = x.agg(max(col("katz"))).collect().head.getLong(0)
      require(m <= bound,
        s"katzCentrality: round $round max katz $m exceeds the BIGINT " +
          s"headroom bound $bound (maxWSum=$maxWSum) — the next round " +
          "could wrap silently. Lower iters, raise the beta " +
          "denominator, or thin the input graph.")
    }
    x.select(col("vertex"), col("katz").as("katz_e6")).orderBy(col("vertex"))
  }

  /** Edge reciprocity of a directed graph — the "is this network
    * mutual or hierarchical" one-row readout: share of directed
    * edges whose reverse also exists. One distinct + one self-join
    * on the (src, dst) key + exact integer ratio; at any scale both
    * sides are the same fixed-width edge list. */
  def reciprocity(spark: SparkSession, edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
    val tot = e.agg(count(lit(1)).as("n_edges"))
    val rec = e.join(
        e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"))
      .agg(count(lit(1)).as("n_recip"))
    tot.crossJoin(rec)
      .select(col("n_edges"), col("n_recip"),
        expr("n_recip * 1000000 div n_edges").as("recip_e6"))
  }

  /** One-mode projection of a bipartite src→dst graph: src pairs
    * weighted by shared dst neighbors, thresholded and top-k — how
    * co-purchase networks are built from transaction logs. The
    * dst-keyed self-join is the Σdeg² wedge shape, so scale safety
    * comes from two places:
    *
    *  - **Cut the input, not the shuffle** (the g_motif lesson): the
    *    caller feeds [[GraphBuilder.recurrentPurchaseEdges]] (≥2
    *    distinct orders), not the raw near-complete purchase graph —
    *    the wedge stream is quadratic in the per-dst degree, and the
    *    recurrent cut shrinks it ~2300× at sf0.1 (345M → 151k rows)
    *    while growing LINEARLY with scale factor (repeat-purchase
    *    density stays constant as customers multiply).
    *  - **Pin the wedge stage's parallelism**: both join inputs carry
    *    an explicit NUMBERED repartition on the join key AFTER the
    *    checkpoint — a repartition before `localCheckpoint` pins
    *    nothing, because the join re-plans its own exchanges around
    *    the LogicalRDD whose partitioning Catalyst no longer knows.
    *    Numbered repartitions are exempt from AQE coalescing (the
    *    measured 78s-vs-26s wedge lesson); BipartiteProjSpec asserts
    *    both survive in the executed plan.
    */
  def bipartiteProjection(spark: SparkSession, edges: DataFrame,
      minShared: Long = 1L, k: Int = 100): DataFrame = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
    e.select(col("dst"), col("src").as("c1"))
      .repartition(parts, col("dst"))
      .join(e.select(col("dst"), col("src").as("c2"))
          .repartition(parts, col("dst")),
        Seq("dst"))
      .filter(col("c1") < col("c2"))
      .groupBy(col("c1"), col("c2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .orderBy(col("shared").desc, col("c1"), col("c2"))
      .limit(k)
  }

  /** Personalized PageRank (integer-deterministic) — rank restarts
    * onto a SEED set instead of uniformly, so scores measure proximity
    * to the seeds: the standard similar-items / recommendation query
    * next to global PageRank. Seeds default to the three smallest
    * vertex ids (the same deterministic landmark rule as
    * [[shortestPaths]]); only that bounded id list crosses the driver.
    *
    * Restart mass is UNNORMALIZED — each seed vertex restarts with the
    * full (1−d)·1e6 = 150000 per round, non-seeds with 0 — so seeding
    * EVERY vertex reproduces [[pageRankInteger]] exactly (spec-pinned:
    * the recursions become identical term by term). Relative ranking,
    * the quantity PPR is consumed for, is unchanged by that scaling.
    *
    * Same bit-reproducibility contract as [[pageRankInteger]]: ranks
    * e6-scaled, per-edge contributions floor-divided, damping ×17/20
    * integer division — identical output under any partitioning or
    * reduction order, hence oracle-checkable via unrolled integer SQL.
    * Same plan shape per round: one join + one aggregation over a
    * checkpointed fraction table. */
  def personalizedPageRank(spark: SparkSession, edges: DataFrame,
      landmarks: Seq[Long] = Seq.empty, iters: Int = 10): DataFrame = {
    import spark.implicits._
    // Same measured dispatch + bit-identity argument as
    // [[pageRankInteger]] — the restart set is the only delta.
    Dispatch.gated("personalizedPageRank", pageRankFrame(edges),
        LocalLouvain.CollectMax) { rs =>
      val rows = rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val seeds: Set[Long] =
        if (landmarks.nonEmpty) landmarks.toSet
        else rows.map(_._1).distinct.sorted.take(3).toSet
      Some(LocalIterative.personalizedPageRank(rows, seeds, iters)
        .toDF("vertex", "rank_e6").orderBy(col("vertex")))
    } { personalizedPageRankDistributed(spark, _, landmarks, iters) }
  }

  private[graph] def personalizedPageRankDistributed(spark: SparkSession,
      fr: DataFrame, landmarks: Seq[Long] = Seq.empty,
      iters: Int = 10): DataFrame = {
    val verts = fr.select(col("src").as("vertex")).distinct()
    val seeds: Seq[Long] =
      if (landmarks.nonEmpty) landmarks
      else verts.orderBy(col("vertex")).limit(3).collect().map(_.getLong(0)).toSeq
    var ranks = verts
      .withColumn("seed", col("vertex").isInCollection(seeds))
      .withColumn("rank",
        when(col("seed"), lit(1000000L)).otherwise(lit(0L)))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contribs = fr
        .join(ranks.select(col("vertex").as("src"), col("rank")), Seq("src"))
        .select(col("dst"), expr("(rank * w) div wdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("csum"))
      ranks = ranks.select(col("vertex"), col("seed"))
        .join(contribs.select(col("dst").as("vertex"), col("csum")),
          Seq("vertex"), "left")
        .withColumn("csum0", coalesce(col("csum"), lit(0L)))
        .select(col("vertex"), col("seed"),
          (when(col("seed"), lit(150000L)).otherwise(lit(0L))
            + expr("(csum0 * 17) div 20")).as("rank"))
        .localCheckpoint(true)
    }
    ranks.select(col("vertex"), col("rank").as("rank_e6")).orderBy(col("vertex"))
  }

  /** Landmark-sampled betweenness centrality (Brandes 2001 restricted
    * to a landmark source set — exact betweenness needs all-pairs
    * shortest paths, infeasible past toy graphs; sampling sources is
    * the standard estimator). Per landmark: a forward BFS accumulates
    * exact integer shortest-path counts σ (all predecessors of a
    * vertex sit one level up, so one frontier⋈edges aggregation per
    * level is exact), then the backward sweep folds dependencies
    * level by level with the engine's integer contract —
    * δ_e6(v) = Σ_w σ(v)·(1e6 + δ_e6(w)) div σ(w), floor-divided
    * PER TERM like [[pageRankInteger]] — so the result is
    * bit-identical under any partitioning and oracle-checkable as
    * unrolled SQL. Both sweeps run a FIXED `maxLevels` rounds
    * (empty frontiers no-op) so the unrolled oracle's shape never
    * depends on the data's diameter. Output: (vertex, bc_e6) =
    * Σ over landmarks of the vertex's dependency, landmarks
    * excluded from their own sums. */
  def betweennessCentrality(spark: SparkSession, edges: DataFrame,
      landmarks: Seq[Long] = Seq.empty, maxLevels: Int = 6): DataFrame = {
    import spark.implicits._
    // Measured dispatch (round 14): forward σ counts and the
    // backward per-term floor-divided dependency fold are integers
    // end to end — the driver twin is bit-identical and the unrolled
    // oracle keeps matching (IterativeDispatchSpec).
    Dispatch.gated("betweennessCentrality", edges.select(col("src"), col("dst")),
        LocalLouvain.CollectMax / 2) { rs =>
      val one = rs.map(r => (r.getLong(0), r.getLong(1)))
      val rows = one ++ one.map(_.swap)
      val seeds: Seq[Long] =
        if (landmarks.nonEmpty) landmarks
        else rows.map(_._1).distinct.sorted.take(3).toSeq
      Some(LocalIterative.betweenness(rows, seeds, maxLevels)
        .toDF("vertex", "bc_e6").orderBy(col("vertex")))
    } { e => betweennessDistributed(spark,
      e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"))),
      landmarks, maxLevels) }
  }

  private def betweennessDistributed(spark: SparkSession, sym: DataFrame,
      landmarks: Seq[Long], maxLevels: Int): DataFrame = {
    val verts = sym.select(col("src").as("v")).distinct()
    val seeds: Seq[Long] =
      if (landmarks.nonEmpty) landmarks
      else verts.orderBy(col("v")).limit(3).collect().map(_.getLong(0)).toSeq
    var vis = verts.filter(col("v").isInCollection(seeds))
      .select(col("v").as("lm"), col("v"), lit(0).as("d"), lit(1L).as("sigma"))
      .localCheckpoint(true)
    var frontier = vis
    // Early-stop past the deepest reached level: an empty frontier
    // makes every later unrolled round a provable no-op (nothing to
    // expand forward; the deepest level's δ is 0 whether seeded or
    // folded), so skipping them cannot change the output the
    // fixed-round oracle states — it only skips scheduled empties
    // (diameter ~2 here would otherwise pay 12 rounds of joins).
    var deepest = 0
    var i = 1
    val shuffleN = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    while (i <= maxLevels && deepest == i - 1) {
      // NUMBERED repartition pins the exploding frontier⋈edges
      // stage's parallelism: AQE sizes it by its tiny INPUTS and
      // would coalesce the Σdeg-row output onto ~2 tasks (the
      // g_adamic_adar wedge lesson).
      frontier = frontier.repartition(shuffleN, col("v"))
        .join(sym, frontier("v") === sym("src"))
        .select(col("lm"), col("dst").as("v"), col("sigma"))
        .groupBy(col("lm"), col("v")).agg(sum(col("sigma")).as("sigma"))
        .join(vis.select(col("lm"), col("v")), Seq("lm", "v"), "left_anti")
        .withColumn("d", lit(i))
        .select(col("lm"), col("v"), col("d"), col("sigma"))
        .localCheckpoint(true)
      if (frontier.count() > 0) {
        deepest = i
        vis = vis.unionAll(frontier).localCheckpoint(true)
      }
      i += 1
    }
    // Backward: deltas exist for levels > lev as the sweep descends.
    var delta = vis.filter(col("d") === deepest)
      .select(col("lm"), col("v"), col("d"), lit(0L).as("delta"))
      .localCheckpoint(true)
    for (lev <- (deepest - 1) to 0 by -1) {
      val below = delta.filter(col("d") === lev + 1)
        .join(vis.filter(col("d") === lev + 1).select(
          col("lm"), col("v"), col("sigma").as("sigma_w")), Seq("lm", "v"))
        .select(col("lm"), col("v").as("w"), col("sigma_w"), col("delta").as("delta_w"))
      val lvl = vis.filter(col("d") === lev).repartition(shuffleN, col("v"))
      val contrib = lvl
        .join(sym, lvl("v") === sym("src"))
        .select(col("lm"), col("v"), col("sigma"), col("dst").as("w"))
        .join(below, Seq("lm", "w"))
        .select(col("lm"), col("v"),
          expr("(sigma * (1000000 + delta_w)) div sigma_w").as("c"))
        .groupBy(col("lm"), col("v")).agg(sum(col("c")).as("dsum"))
      delta = delta.unionAll(
          lvl.join(contrib, Seq("lm", "v"), "left")
            .select(col("lm"), col("v"), col("d"),
              coalesce(col("dsum"), lit(0L)).as("delta")))
        .localCheckpoint(true)
    }
    delta.filter(col("v") =!= col("lm"))
      .groupBy(col("v").as("vertex"))
      .agg(sum(col("delta")).as("bc_e6"))
      .orderBy(col("vertex"))
  }

  /** HITS hubs & authorities (integer-deterministic) over a DIRECTED
    * edge list — on the bipartite purchase graph, hub score ranks
    * customers by how much high-authority supply they buy, authority
    * ranks suppliers by how much high-hub demand they serve. The
    * measure global PageRank can't express: it needs edge DIRECTION,
    * which the undirected co-occurrence graph erases.
    *
    * Kleinberg's recursion with the engine's integer contract: scores
    * e6-scaled; each half-round is one equi-join + one
    * map-side-combined sum keyed by the far endpoint; normalization
    * divides by the round's max (one-row cross, the g_modularity_of
    * pattern) with integer floor division — so max score is exactly
    * 1e6 every round and the output is bit-identical under any
    * partitioning or reduction order, hence unrolled-SQL
    * oracle-checkable. Overflow-safe while max in/out-degree < ~9e6
    * (raw sums ≤ 1e6·deg, scaled by 1e6 within Long range); beyond
    * that, normalize with a wider scale before this would matter.
    * localCheckpoint per half-round keeps the plan flat. */
  def hits(spark: SparkSession, edges: DataFrame, iters: Int = 5): DataFrame = {
    // auths only takes its (id, a) shape inside the loop; with zero
    // rounds the final select would reference a column that never
    // exists. Fail loudly instead of with an AnalysisException.
    require(iters >= 1, s"hits needs at least one iteration, got $iters")
    import spark.implicits._
    // Measured dispatch (round 16, the round-14 twin family): the
    // loop is integer-exact (Long sums are accumulation-order
    // independent; div truncates identically on the driver), so the
    // twin is bit-identical and the unrolled oracle keeps matching.
    // The DataFrame loop below is the unchanged 100 TB path — at
    // bench scale its cost is 10 per-half-round plan compiles, not
    // arithmetic (the plan-compile-bound family).
    Dispatch.gated("hits", edges.select(col("src"), col("dst")).distinct(),
        LocalLouvain.CollectMax) { rs =>
      Some(LocalIterative.hits(rs.map(r => (r.getLong(0), r.getLong(1))), iters)
        .toDF("id", "role", "score_e6").orderBy(col("role"), col("id")))
    } { hitsDistributed(_, iters) }
  }

  private def hitsDistributed(e: DataFrame, iters: Int): DataFrame = {
    var hubs = e.select(col("src").as("id")).distinct()
      .withColumn("h", lit(1000000L))
      .localCheckpoint(true)
    var auths: DataFrame = hubs // replaced on the first round (iters >= 1)
    for (_ <- 1 to iters) {
      val araw = e.join(hubs.select(col("id").as("src"), col("h")), Seq("src"))
        .groupBy(col("dst")).agg(sum(col("h")).as("a"))
      auths = araw.crossJoin(araw.agg(max(col("a")).as("amax")))
        .select(col("dst").as("id"), expr("a * 1000000 div amax").as("a"))
        .localCheckpoint(true)
      val hraw = e.join(auths.select(col("id").as("dst"), col("a")), Seq("dst"))
        .groupBy(col("src")).agg(sum(col("a")).as("h"))
      hubs = hraw.crossJoin(hraw.agg(max(col("h")).as("hmax")))
        .select(col("src").as("id"), expr("h * 1000000 div hmax").as("h"))
        .localCheckpoint(true)
    }
    hubs.select(col("id"), lit("hub").as("role"), col("h").as("score_e6"))
      .unionAll(auths.select(col("id"), lit("auth").as("role"), col("a").as("score_e6")))
      .orderBy(col("role"), col("id"))
  }

  /** Weighted label propagation communities, DataFrame-native.
    *
    * Each round: join labels to the symmetrized edge list, sum edge
    * weight per (vertex, neighbor-label), and adopt the heaviest
    * label (ties to the smallest id — deterministic). Stock GraphX
    * `LabelPropagation.run` ships a label→count map per edge, which
    * on dense graphs makes message volume O(E) maps per round — it
    * measured 55.7 s at sf0.1 in the driver bench. Here each round is
    * two map-side-combined aggregations Catalyst/AQE can size: the
    * label table is broadcast while it's small and sort-merge-joined
    * at the 100 TB end, and it also honors edge weights (stock GraphX
    * LPA is unweighted — wrong for weighted co-occurrence graphs).
    * localCheckpoint per round keeps the plan flat. */
  def labelPropagation(spark: SparkSession, edges: DataFrame, iters: Int = 10): DataFrame = {
    import spark.implicits._
    // Measured dispatch (round 14): synchronous parity-alternating
    // LPA is deterministic; with INTEGRAL weights the double sums are
    // order-independent-exact on both paths, so the driver twin is
    // bit-identical (the unrolled g_lpa / g_modularity_of oracles
    // keep matching). Fractional weights stay distributed, and so do
    // null weights — the twin's double read would NPE where the
    // distributed loop tolerates them.
    val w = col("weight")
    Dispatch.gated("labelPropagation", edges.select(col("src"), col("dst"), w),
        LocalLouvain.CollectMax / 2,
        admit = Seq(Dispatch.noNulls(w), Dispatch.integral(w))) { rs =>
      val one = rs.map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).doubleValue))
      Some(LocalIterative.labelPropagation(
          one ++ one.map { case (s, d, x) => (d, s, x) }, iters)
        .toDF("vertex", "label"))
    } { e => lpaDistributed(e.unionAll(
      e.select(col("dst").as("src"), col("src").as("dst"), col("weight"))), iters) }
  }

  private def lpaDistributed(sym: DataFrame, iters: Int): DataFrame = {
    var labels = sym.select(col("src").as("vertex"))
      .distinct()
      .withColumn("label", col("vertex"))
      .localCheckpoint(true)
    var round = 0
    var zeroStreak = 0
    // Early-stop at a fixpoint: with parity alternation a true
    // fixpoint needs zero moves in BOTH parities, hence streak of 2.
    // The per-round move count is one tiny aggregation over the label
    // table — far cheaper than the rounds it saves.
    while (round < iters && zeroStreak < 2) {
      val cand = sym
        .join(labels.select(col("vertex").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label"))
        .agg(sum(col("weight")).as("w"))
        // max over (weight, -label) = heaviest label, ties to min id.
        .groupBy(col("src"))
        .agg(max(struct(col("w"), negate(col("label")).as("nl"))).as("best"))
        .select(col("src").as("vertex"), negate(col("best.nl")).as("cand"))
      // Alternating move parity (as in Louvain's local-move phase)
      // breaks the synchronous-update oscillation a two-colorable
      // subgraph otherwise ping-pongs on: even rounds adopt only
      // smaller labels, odd rounds only larger.
      val allowed =
        if (round % 2 == 0) col("cand") < col("label")
        else col("cand") > col("label")
      // LAZY checkpoint + the moved-count as its materializing action:
      // one job per round does both (an eager checkpoint would spend a
      // separate job materializing, then count on top — the same
      // round-tax Louvain's Σtot refresh paid before round 3). The
      // count scans every partition, so the checkpoint is fully
      // materialized before the next round builds on it.
      val next = labels.join(cand, Seq("vertex"), "left")
        .select(col("vertex"), col("label").as("prev"),
          when(col("cand").isNotNull && allowed, col("cand"))
            .otherwise(col("label")).as("label"))
        .localCheckpoint(false)
      val moved = next.filter(col("label") =!= col("prev")).count()
      zeroStreak = if (moved == 0L) zeroStreak + 1 else 0
      labels = next.select(col("vertex"), col("label"))
      round += 1
    }
    labels
  }

  /** Modularity Q (γ = 1) of an ARBITRARY community assignment —
    * the quality measure decoupled from any particular community
    * algorithm, so a user can score LPA labels, Louvain output, or
    * an external partition on equal footing.
    *
    * Exact integer sufficient statistics: with integral edge weights,
    * Q = Σ_c [w_in(c)/m − (d_c/2m)²] = (4m·Σw_in − Σd_c²) / (4m²),
    * where Σw_in and Σd_c² accumulate as exact DECIMAL(38,0) (the
    * square overflows BIGINT at snowflake-degree scale). The single
    * final division is evaluated in double from those exact integers
    * — identical IEEE expression on both engines, so the e6 rounding
    * is deterministic, unlike summing per-community float terms in
    * shuffle order. One row out: (m, n_communities, q_e6).
    *
    * @param assignment (vertex, label) rows covering the graph's
    *                   vertices (e.g. [[labelPropagation]] output). */
  def modularityOf(edges: DataFrame, assignment: DataFrame): DataFrame = {
    val wl = edges.select(col("src"), col("dst"), col("weight").cast("long").as("w"))
    val lab = assignment.select(col("vertex"), col("label"))
    val sym = wl.select(col("src").as("vertex"), col("w"))
      .unionAll(wl.select(col("dst").as("vertex"), col("w")))
    val dC = sym.join(lab, Seq("vertex"))
      .groupBy(col("label")).agg(sum(col("w")).as("d_c"))
    val inC = wl
      .join(lab.select(col("vertex").as("src"), col("label").as("ca")), Seq("src"))
      .join(lab.select(col("vertex").as("dst"), col("label").as("cb")), Seq("dst"))
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("label")).agg(sum(col("w")).as("w_in"))
    modularityLedger(dC.join(inC, Seq("label"), "left")
      .select(col("d_c"), coalesce(col("w_in"), lit(0L)).as("w_in")), wl)
  }

  /** [[modularityOf]]'s one output row from per-community (d_c, w_in)
    * rows and the (w) edge weights: the exact ledger 4m·Σw_in − Σd_c²
    * and one final double division. */
  private[graft] def modularityLedger(per: DataFrame, wl: DataFrame): DataFrame = {
    val tot = wl.agg(sum(col("w")).as("m"))
    per.agg(
        count(lit(1)).as("n_communities"),
        sum(col("w_in").cast("decimal(38,0)")).as("a"),
        sum(col("d_c").cast("decimal(38,0)") * col("d_c")).as("b"))
      .crossJoin(broadcast(tot))
      .select(col("m"), col("n_communities"),
        round((col("a") * lit(4) * col("m") - col("b")).cast("double")
            / (lit(4.0) * col("m") * col("m")) * 1e6)
          .cast("long").as("q_e6"))
  }

  /** Per-community conductance φ(C) = cut(C) / min(vol(C), 2m−vol(C))
    * of an ARBITRARY community assignment — [[modularityOf]]'s
    * per-community sibling and the standard cluster-quality readout
    * modularity alone hides (a partition can score high Q while one
    * community leaks half its volume across the cut).
    *
    * Exact integer sufficient statistics throughout: vol(C) sums the
    * incident integral edge weights (both endpoints), cut(C) sums the
    * weights of edges with exactly ONE endpoint in C (credited to
    * both sides' communities), and φ is emitted as an integral-divide
    * `(1e6·cut) div min(vol, 2m−vol)` — truncating exactly, so the
    * e6 figure is bit-identical across engines and shuffle orders
    * with no float path at all. A community holding the entire volume
    * (min = 0) has undefined conductance → null. Shape: two label
    * equi-joins over the edge stream + two map-side-combinable
    * aggregations keyed by label; nothing wider than (label, w) ever
    * shuffles, so the plan is the same at 100 TB.
    *
    * @param assignment (vertex, label) rows covering the graph's
    *                   vertices. */
  def conductanceOf(edges: DataFrame, assignment: DataFrame): DataFrame = {
    val wl = edges.select(col("src"), col("dst"), col("weight").cast("long").as("w"))
    val lab = assignment.select(col("vertex"), col("label"))
    val labeled = wl
      .join(lab.select(col("vertex").as("src"), col("label").as("ca")), Seq("src"))
      .join(lab.select(col("vertex").as("dst"), col("label").as("cb")), Seq("dst"))
    // volume: every edge credits w to both endpoints' communities
    val vol = labeled.select(col("ca").as("label"), col("w"))
      .unionAll(labeled.select(col("cb").as("label"), col("w")))
      .groupBy(col("label")).agg(sum(col("w")).as("vol_w"))
    // cut: cross-community edges credit w to both sides
    val cut = labeled.filter(col("ca") =!= col("cb"))
      .select(col("ca").as("label"), col("w"))
      .unionAll(labeled.filter(col("ca") =!= col("cb"))
        .select(col("cb").as("label"), col("w")))
      .groupBy(col("label")).agg(sum(col("w")).as("cut_w"))
    val tot = wl.agg((sum(col("w")) * 2L).as("vol2m"))
    vol.join(cut, Seq("label"), "left")
      .crossJoin(broadcast(tot))
      .select(col("label"), col("vol_w"),
        coalesce(col("cut_w"), lit(0L)).as("cut_w"),
        expr("(1000000 * coalesce(cut_w, 0)) div " +
          "nullif(least(vol_w, vol2m - vol_w), 0)").as("phi_e6"))
      .orderBy(col("label"))
  }

  // One Louvain run serves both the assignment and the level-stats
  // queries when they execute in the same session against the same
  // input (the assignment RDD is small: one (id, community) pair per
  // vertex). Keyed by the logical plan's semantic hash + the identity
  // of every input file, so regenerating a file at the same path
  // within one session misses the memo instead of serving stale
  // assignments (contract: graft.Memo).
  private val louvainMemo = graft.Memo[(Int, String, Double),
    (org.apache.spark.rdd.RDD[(org.apache.spark.graphx.VertexId, Long)], Seq[LouvainLevel])](4)

  /** Release EVERY cross-query memo owned by `spark` — the Bench
    * suite-repeat calls this between sweeps so each sweep measures the
    * same cold-memo build costs a fresh round would. */
  def clearAllMemos(spark: SparkSession): Unit = graft.Memo.clear(spark)

  private def louvainFor(spark: SparkSession, edges: DataFrame,
      resolution: Double) =
    louvainMemo(spark, (edges.queryExecution.analyzed.semanticHash(),
        graft.Memo.dataKey(edges), resolution)) {
      // Measured dispatch (round 14, the triangleCount lesson): a
      // graph within LocalLouvain.CollectMax edges with exactly
      // integral weights at classic resolution clusters DRIVER-side —
      // a Pregel launch per move round on a sub-2M-edge graph is
      // scheduling overhead, not computation (the louvainOnSuper
      // finding, applied to the flagship's own memo). The GraphX
      // engine below is the at-scale shape, unchanged, and stays the
      // only path for fractional weights or γ ≠ 1 (the driver ledger
      // is exact-integer and would have to round). LouvainSpec pins
      // the Pregel engine directly; the dispatch-equivalence contract
      // (same planted partitions, level-Q ≡ modularityOf) rides the
      // existing GraphOpsSpec/GraftGraphSpec/LeidenSpec assertions,
      // which now exercise the driver path at test scale.
      Dispatch.gated("louvainFor", edges.select(col("src"), col("dst"), col("weight")),
          LocalLouvain.CollectMax, admit = lit(resolution == 1.0) +: exactWeights("weight")) { rs =>
        val (assign, lv) = LocalLouvain.clusterWithLevels(integralRows(rs).toSeq)
        val rdd = spark.sparkContext.parallelize(assign.toSeq).cache()
        Some((rdd, lv.map(l => LouvainLevel(l._1, l._2, l._3, l._4))))
      } { e =>
        val (assignment, levels) =
          Louvain.run(GraphBuilder.toGraphX(e), resolution = resolution)
        assignment.cache()
        (assignment, levels)
      }
    }

  /** Louvain twin admission: the driver ledger is exact-integer, so
    * weights must be non-null and integral (fractional weights, as
    * similarity graphs have, run on GraphX). */
  private def exactWeights(w: String): Seq[Column] =
    Seq(Dispatch.noNulls(col(w)), Dispatch.integral(col(w)))

  private def integralRows(rs: Array[org.apache.spark.sql.Row]): Array[(Long, Long, Long)] =
    rs.map(r => (r.getLong(0), r.getLong(1), math.round(r.getAs[Number](2).doubleValue)))

  /** Louvain communities at the final level. `resolution` is the γ of
    * generalized modularity (1.0 = classic). */
  def louvain(spark: SparkSession, edges: DataFrame,
      resolution: Double = 1.0): DataFrame = {
    val (assignment, _) = louvainFor(spark, edges, resolution)
    spark.createDataFrame(assignment.map { case (id, comm) => (id, comm) })
      .toDF("vertex", "community")
  }

  /** Leiden-style connectivity refinement (Traag, Waltman & van Eck
    * 2019, "From Louvain to Leiden"): Louvain's local-move phase can
    * strand a community's vertices with NO internal path — the
    * paper's headline defect — because a vertex that acted as a
    * bridge may migrate out while the nodes it connected stay behind.
    * The repair is the core of Leiden's refinement phase: run
    * connected components on each community's INDUCED subgraph and
    * split every disconnected community into its components.
    *
    * Splitting along a zero-edge cut loses no internal weight while
    * the Σ(deg_c)² penalty strictly shrinks, so refined modularity is
    * PROVABLY ≥ the input partition's (strictly > when any split
    * fires) — the spec pins that inequality on the real graph, not
    * just planted cases. Refined labels are the induced subgraph's CC
    * labels (min vertex id per component): globally unique because
    * component vertex sets are disjoint.
    *
    * CONNECTIVITY SCREEN (round 13; the round-10 verdict's standing
    * ask): Louvain communities are dense by construction, so running
    * the iterative CC over EVERY community's induced edges pays
    * multi-round contraction for splits that almost never fire. A
    * community where some member's intra-degree equals n−1 is
    * connected by the star certificate (that member reaches everyone
    * directly) — a SOUND sufficient condition computable in one
    * map-side-combinable aggregation pass. Certified communities skip
    * CC and take their min-member-id label directly (exactly the
    * label CC would assign: the certificate implies one component
    * holding every member, whose min id is the community min).
    * Iterative CC runs only over SUSPECT communities' intra edges —
    * usually none, in which case the CC rounds are skipped entirely
    * (the ≤1-row suspect probe is a bounded driver read, same
    * convention as the landmark collects). Suspect or not, refined
    * output is IDENTICAL to the unscreened computation: restricting
    * CC to suspect communities drops no information because intra
    * edges never cross communities (LeidenSpec's planted splits and
    * Q-monotonicity pin it).
    *
    * Shape: two assignment equi-joins project the edge list onto
    * intra-community edges (a narrow (src, dst, community) stream,
    * normalized + distinct so certificate degrees are simple-graph
    * exact), one degree aggregation for the screen, CC only on
    * suspects, one left join back (community-isolated vertices become
    * their own refined community). */
  def refineCommunities(spark: SparkSession, edges: DataFrame,
      assignment: DataFrame): DataFrame = {
    val a = assignment.select(col("vertex"), col("community"))
      .localCheckpoint(true)
    val intra = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .join(a.select(col("vertex").as("src"), col("community").as("cs")), Seq("src"))
      .join(a.select(col("vertex").as("dst"), col("community").as("cd")), Seq("dst"))
      .filter(col("cs") === col("cd"))
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"),
        col("cs").as("community"))
      .distinct()
    // Measured dispatch (round 14): within the driver bound, one
    // union-find over the collected intra edges IS the whole
    // refinement — intra edges never cross communities, so global
    // components are per-community components automatically, and
    // min-root union-find assigns exactly the min-member labels the
    // certificate/CC pipeline below produces (measured at sf0.1: the
    // star certificate fires for NO community — maxd lands at n−2 on
    // every one — so the screen paid its aggregation AND the
    // distributed CC, ~3 s for ~65k intra rows of driver arithmetic).
    // The screen + distributed CC remain verbatim as the at-scale
    // path. Output is bit-identical on both paths: connected
    // communities keep their min member, splits take per-component
    // min members, community-isolated vertices become singletons.
    Dispatch.gated("refineCommunities", intra, LocalLouvain.CollectMax,
        admit = Seq(lit(a.count() <= LocalLouvain.CollectMax))) { rs =>
      Some(refineRows(spark, a, rs.map(r => (r.getLong(0), r.getLong(1)))))
    } { refineDistributed(spark, a, _) }
  }

  /** Driver refinement: min-root union-find over the collected intra
    * edges; community-isolated vertices become singletons. Output is
    * bit-identical to [[refineDistributed]] (LeidenSpec pins the
    * equality on planted splits). */
  private def refineRows(spark: SparkSession, a: DataFrame,
      es: Array[(Long, Long)]): DataFrame = {
    val av = a.collect().map(r => (r.getLong(0), r.getLong(1)))
    val label = ConnectedComponentsDF.unionFind(es).toMap
    val rows = av.map { case (v, c) => (v, c, label.getOrElse(v, v)) }
    spark.createDataFrame(rows.toSeq)
      .toDF("vertex", "community_louvain", "community")
      .orderBy(col("vertex"))
  }

  /** Distributed refinement — the at-scale path: star-certificate
    * screen + iterative CC over suspect communities only. */
  private def refineDistributed(spark: SparkSession, a: DataFrame,
      intra: DataFrame): DataFrame = {
    val sizes = a.groupBy(col("community"))
      .agg(count(lit(1)).as("n"), min(col("vertex")).as("minv"))
    val maxDeg = intra.select(col("community"), col("src").as("vertex"))
      .unionAll(intra.select(col("community"), col("dst").as("vertex")))
      .groupBy(col("community"), col("vertex")).agg(count(lit(1)).as("d"))
      .groupBy(col("community")).agg(max(col("d")).as("maxd"))
    val stats = sizes.join(maxDeg, Seq("community"), "left")
      .select(col("community"), col("n"), col("minv"),
        coalesce(col("maxd"), lit(0L)).as("maxd"))
      .localCheckpoint(true)
    val suspects = stats.filter(col("maxd") < col("n") - 1)
      .select(col("community"))
    val certified = a
      .join(suspects, Seq("community"), "left_anti")
      .join(stats.select(col("community"), col("minv")), Seq("community"))
      .select(col("vertex"), col("community").as("community_louvain"),
        col("minv").as("community"))
    val hasSuspects = suspects.limit(1).count() > 0
    val refined =
      if (!hasSuspects) certified
      else {
        val suspectIntra = intra
          .join(suspects, Seq("community"), "left_semi")
          .select(col("src"), col("dst"), lit(1.0).as("weight"))
        val cc = connectedComponents(spark, suspectIntra)
        val rest = a.join(suspects, Seq("community"), "left_semi")
          .join(cc, Seq("vertex"), "left")
          .select(col("vertex"), col("community").as("community_louvain"),
            coalesce(col("component"), col("vertex")).as("community"))
        certified.unionByName(rest)
      }
    refined.orderBy(col("vertex"))
  }

  /** Louvain + Leiden connectivity repair as one query: the refined
    * assignment every community of which is guaranteed connected. */
  def leiden(spark: SparkSession, edges: DataFrame,
      resolution: Double = 1.0): DataFrame =
    refineCommunities(spark, edges, louvain(spark, edges, resolution))

  /** Louvain over an explicitly weighted SUPER-graph: `sup` rows are
    * (a, b, w) with a ≤ b, where a == b rows carry a super-vertex's
    * INTERNAL weight (intra-community edge weight, each original
    * edge once) and a < b rows the inter-super-vertex weights — the
    * exact state shape Louvain's own compression step produces, so
    * running Louvain on it IS continuing the multi-level algorithm
    * from that compression. Returns (sv, community). Unmemoized: the
    * streaming maintenance caller owns its state lifecycle.
    *
    * Dispatch (round 14): a super graph within [[LocalLouvain
    * .CollectMax]] rows collects and clusters driver-side — a
    * per-batch super graph is bounded by the BATCH, not the corpus,
    * and a GraphX Pregel launch on it is pure scheduling overhead
    * (measured: 4 launches ≈ 8 s of the streaming fold, arithmetic
    * worth milliseconds; the tiny-fits-are-scheduling-bound lesson).
    * Past the bound — a genuinely huge batch or a fold holding
    * millions of communities — the rows go to [[Louvain.run]] as
    * edges, the call [[louvain]] makes; its input contract reads an
    * a == b row as internal weight, as the driver twin does.
    * Fractional or null weights also go to GraphX: the driver ledger
    * is exact-integer and would round them (weights in (0, 0.5) would
    * vanish). */
  def louvainOnSuper(spark: SparkSession, sup: DataFrame): DataFrame =
    Dispatch.gated("louvainOnSuper", sup.select(col("a"), col("b"), col("w")),
        LocalLouvain.CollectMax, keys = Seq("a", "b"), admit = exactWeights("w")) { rs =>
      Some(spark.createDataFrame(
        LocalLouvain.clusterWithLevels(integralRows(rs).toSeq)._1.toSeq)
        .toDF("sv", "community"))
    } { cp =>
      val (assignment, _) = Louvain.run(GraphBuilder.toGraphX(
        cp.select(col("a").as("src"), col("b").as("dst"), col("w").as("weight"))))
      spark.createDataFrame(assignment.map { case (id, c) => (id, c) })
        .toDF("sv", "community")
    }

  /** Per-level Louvain stats: modularity Q (scaled to e6 BIGINT for
    * stable comparison) and community count. */
  def louvainLevels(spark: SparkSession, edges: DataFrame,
      resolution: Double = 1.0): DataFrame = {
    val (_, levels) = louvainFor(spark, edges, resolution)
    spark.createDataFrame(levels.map(l =>
      (l.level, math.round(l.modularity * 1e6), l.nCommunities, l.nVertices)))
      .toDF("level", "modularity_e6", "n_communities", "n_vertices")
  }
}
