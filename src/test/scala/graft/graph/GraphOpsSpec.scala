package graft.graph

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraphOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def edgesDf(pairs: (Long, Long, Double)*) =
    pairs.toDF("src", "dst", "weight")

  test("degrees on a path graph") {
    val e = edgesDf((1L, 2L, 1.0), (2L, 3L, 2.0))
    val d = GraphOps.degrees(e).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(d.toSeq == Seq((1L, 1L, 1.0), (2L, 2L, 3.0), (3L, 1L, 2.0)))
  }

  test("triangle count: K4 has 4 triangles") {
    val k4 = edgesDf((0L, 1L, 1.0), (0L, 2L, 1.0), (0L, 3L, 1.0),
      (1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0))
    assert(GraphOps.triangleCount(k4).collect()(0).getLong(0) == 4L)
  }

  test("triangle count: bridged cliques have 8 triangles") {
    val g = edgesDf((0L, 1L, 1.0), (0L, 2L, 1.0), (0L, 3L, 1.0),
      (1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0),
      (10L, 11L, 1.0), (10L, 12L, 1.0), (10L, 13L, 1.0),
      (11L, 12L, 1.0), (11L, 13L, 1.0), (12L, 13L, 1.0),
      (3L, 10L, 1.0))
    assert(GraphOps.triangleCount(g).collect()(0).getLong(0) == 8L)
  }

  test("adamic-adar dense and wedge paths agree (and match hand score)") {
    // Two K4 cliques sharing vertex 3 as a bridge hub (weight 5),
    // plus enough weight-1 filler edges that the median weight is 1
    // and the clique edges survive the ≥ 1.25×median strong-tie gate.
    val g = edgesDf(
      (Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
        (3L, 4L), (3L, 5L), (3L, 6L), (4L, 5L), (4L, 6L), (5L, 6L))
        .map { case (a, b) => (a, b, 5.0) } ++
        (100L to 125L).map(v => (v, v + 100L, 1.0))): _*)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val dense = rows(GraphOps.adamicAdar(g))
    val forced = try {
      spark.conf.set("graft.adamicadar.denseMaxVertices", "0")
      rows(GraphOps.adamicAdar(g))
    } finally spark.conf.unset("graft.adamicadar.denseMaxVertices")
    assert(dense == forced)
    // Cross-clique pair (0, 4): only common neighbor is the bridge 3
    // with deg 6 → round(1e4 / ln 6) = 5581.
    val zeroFour = dense.find(t => t._1 == 0L && t._2 == 4L).get
    assert(zeroFour == ((0L, 4L, 1L, 5581L)))
    // Adjacent pairs are excluded by the anti-join on both paths.
    assert(!dense.exists(t => t._1 == 0L && t._2 == 1L))
  }

  test("clustering + jaccard: hub graph dispatches to wedge path, same values") {
    // Hub 0 linked to 20 spokes, with triangles among the first few
    // spokes and a spoke-spoke edge (2,3) that shares two common
    // neighbors — plus leaf pairs with zero common neighbors, so the
    // wedge path's left-join/zero-fill is exercised too.
    val hub = edgesDf(
      ((1L to 20L).map(v => (0L, v, 1.0)) ++
        Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 1.0), (4L, 5L, 1.0),
          (21L, 22L, 1.0))): _*)
    def lccRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val adjPath = lccRows(GraphOps.clusteringCoefficients(hub))
    val adjJac = lccRows(GraphOps.edgeJaccard(hub))
    val (wedgePath, wedgeJac) = try {
      // Hub degree is 20: a threshold of 5 forces the wedge-join path.
      spark.conf.set("graft.graph.adjMaxDegree", "5")
      (lccRows(GraphOps.clusteringCoefficients(hub)),
        lccRows(GraphOps.edgeJaccard(hub)))
    } finally spark.conf.unset("graft.graph.adjMaxDegree")
    assert(adjPath == wedgePath)
    assert(adjJac == wedgeJac)
    // Spot-check: vertex 2 (nbrs 0,1,3) closes triangles (0,1,2) and
    // (1,2,3) and (0,2,3): deg 3, 3 triangles, lcc = 1.
    assert(adjPath.find(_._1 == 2L).get == ((2L, 3L, 3L, 10000L)))
    // Edge (4,5): only common neighbor is hub 0 → common 1; edge
    // (21,22): no common neighbors → jaccard 0.
    assert(adjJac.find(t => t._1 == 4L && t._2 == 5L).get._3 == 1L)
    assert(adjJac.find(t => t._1 == 21L && t._2 == 22L).get == ((21L, 22L, 0L, 0L)))
  }

  test("modularityOf: two disjoint triangles score Q=0.5, one community Q=0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val g = edgesDf((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 1.0),
      (11L, 12L, 1.0), (12L, 13L, 1.0), (11L, 13L, 1.0))
    val byComponent = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (11L, 2L), (12L, 2L), (13L, 2L)).toDF("vertex", "label")
    // m=6, per community: w_in=3, d_c=6 → Q = 2·(3/6 − (6/12)²) = 0.5
    val q = GraphOps.modularityOf(g, byComponent).collect()(0)
    assert((q.getLong(0), q.getLong(1), q.getLong(2)) == ((6L, 2L, 500000L)))
    // everything in one community: Q = m/m − (2m/2m)² = 0
    val one = byComponent.select(col("vertex"), lit(1L).as("label"))
    assert(GraphOps.modularityOf(g, one).collect()(0).getLong(2) == 0L)
    // agreement with Louvain's own per-level Q on its own assignment:
    // the final-level assignment scored by modularityOf must equal
    // the e6 Q Louvain reported for that level (integer compare ±1
    // for the e6 rounding of two exact computations of the same sum).
    val louvainQ = GraphOps.louvainLevels(spark, g).orderBy(col("level").desc)
      .collect()(0).getLong(1)
    val rescored = GraphOps.modularityOf(g, GraphOps.louvain(spark, g)
      .select(col("vertex"), col("community").as("label")))
      .collect()(0).getLong(2)
    assert(math.abs(louvainQ - rescored) <= 1L, s"$louvainQ vs $rescored")
  }

  test("connected components finds two components") {
    val e = edgesDf((1L, 2L, 1.0), (2L, 3L, 1.0), (10L, 11L, 1.0))
    val cc = GraphOps.connectedComponents(spark, e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc(1L) == cc(2L) && cc(2L) == cc(3L))
    assert(cc(10L) == cc(11L))
    assert(cc(1L) != cc(10L))
  }

  test("pagerank: hub of a star ranks highest") {
    val star = edgesDf((0L, 1L, 1.0), (0L, 2L, 1.0), (0L, 3L, 1.0), (0L, 4L, 1.0))
    val pr = GraphOps.pageRank(spark, star).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(pr(0L) > pr(1L))
    assert(pr(1L) == pr(2L) && pr(2L) == pr(3L) && pr(3L) == pr(4L))
  }

  test("clustering coefficients: K4 is all 1.0, path ends are 0") {
    val k4 = edgesDf((0L, 1L, 1.0), (0L, 2L, 1.0), (0L, 3L, 1.0),
      (1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0))
    val lcc = GraphOps.clusteringCoefficients(k4).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // every K4 vertex: degree 3, 3 incident triangles, coefficient 1
    (0L to 3L).foreach { v => assert(lcc(v) == ((3L, 3L, 10000L)), s"$v → ${lcc(v)}") }

    val path = edgesDf((1L, 2L, 1.0), (2L, 3L, 1.0))
    val p = GraphOps.clusteringCoefficients(path).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(p == Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
  }

  test("shortest paths: hop distances to min-id landmarks on a path graph") {
    val path = edgesDf((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0))
    val sp = GraphOps.shortestPaths(spark, path, landmarks = Seq(1L)).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(sp == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // default landmarks = three smallest ids
    val d = GraphOps.shortestPaths(spark, path).select("landmark").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(d == Set(1L, 2L, 3L))
  }

  test("k-core peels the tail, keeps the clique") {
    // 4-clique plus a pendant chain: 3-core = exactly the clique.
    val g = edgesDf((0L, 1L, 1.0), (0L, 2L, 1.0), (0L, 3L, 1.0),
      (1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0),
      (3L, 10L, 1.0), (10L, 11L, 1.0))
    val core = GraphOps.kCore(spark, g, k = 3).collect().map(_.getLong(0)).toSet
    assert(core == Set(0L, 1L, 2L, 3L))
    // k=1 keeps everything
    val all = GraphOps.kCore(spark, g, k = 1).collect().map(_.getLong(0)).toSet
    assert(all == Set(0L, 1L, 2L, 3L, 10L, 11L))
  }

  test("weighted pagerank matches GraphX on unit weights, follows weight otherwise") {
    // Unit weights: the weighted DF iteration must agree with GraphX's
    // uniform spread (same convention, same iteration count).
    val star = edgesDf((0L, 1L, 1.0), (0L, 2L, 1.0), (0L, 3L, 1.0), (0L, 4L, 1.0))
    val gx = GraphOps.pageRank(spark, star).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val df = GraphOps.pageRankWeighted(spark, star).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gx.keySet == df.keySet)
    gx.foreach { case (v, r) =>
      assert(math.abs(r - df(v)) <= 10L, s"vertex $v: graphx=$r df=${df(v)}")
    }
    // Weighted: b's heavy edge to c must push more rank to c than a.
    val path = edgesDf((1L, 2L, 1.0), (2L, 3L, 3.0))
    val w = GraphOps.pageRankWeighted(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(w(3L) > w(1L), s"weight ignored: $w")
  }

  test("integer pagerank tracks the float iteration and is layout-stable") {
    val star = edgesDf((0L, 1L, 1.0), (0L, 2L, 1.0), (0L, 3L, 1.0), (0L, 4L, 1.0))
    val fl = GraphOps.pageRankWeighted(spark, star).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val it = GraphOps.pageRankInteger(spark, star).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fl.keySet == it.keySet)
    // floor-division error bound: ≈ deg e6-units per round, tiny here
    fl.foreach { case (v, r) =>
      assert(math.abs(r - it(v)) <= 100L, s"vertex $v: float=$r int=${it(v)}")
    }
    // Layout independence: a different partitioning must produce the
    // IDENTICAL integers — this is the reproducibility contract.
    val repart = star.repartition(7)
    val it2 = GraphOps.pageRankInteger(spark, repart).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(it == it2, "integer pagerank changed under repartitioning")
  }

  test("closeness on a path graph: hand-computed hop aggregates") {
    // Path 1-2-3-4-5, default landmarks = 3 smallest ids {1,2,3}.
    // Vertex 4: hops (3,2,1) → total 6, ecc 3,
    //   harmonic = 10000//3 + 10000//2 + 10000 = 3333+5000+10000.
    // Vertex 1 (a landmark itself): self row excluded → hops to
    //   {2,3} = (1,2) → total 3, ecc 2, harmonic 15000.
    val e = edgesDf((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (4L, 5L, 1.0))
    val rows = GraphOps.closenessCentrality(spark, e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(rows == Seq(
      (1L, 2L, 3L, 2L, 15000L),
      (2L, 2L, 2L, 1L, 20000L),
      (3L, 2L, 3L, 2L, 15000L),
      (4L, 3L, 6L, 3L, 18333L),
      (5L, 3L, 9L, 4L, 10833L)))
  }

  test("betweenness on a path graph: hand-computed Brandes dependencies") {
    // Path 1-2-3-4-5, landmarks {1,2,3}; σ = 1 on every shortest
    // path, so each backward fold adds exactly (1e6 + δ_w).
    //   from 1: δ(4)=1e6, δ(3)=2e6, δ(2)=3e6
    //   from 2: δ(4)=1e6, δ(3)=2e6, δ(1)=0
    //   from 3: δ(2)=1e6, δ(4)=1e6
    // bc(2)=3e6+1e6=4e6, bc(3)=2e6+2e6=4e6, bc(4)=1e6·3=3e6,
    // bc(1)=bc(5)=0.
    val e = edgesDf((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0), (4L, 5L, 1.0))
    val rows = GraphOps.betweennessCentrality(spark, e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq(
      (1L, 0L), (2L, 4000000L), (3L, 4000000L), (4L, 3000000L), (5L, 0L)))
  }

  test("betweenness splits dependency across equal-length paths") {
    // Diamond 1-2-4, 1-3-4 plus tail 4-5, landmark {1} only: two
    // shortest paths 1→4 (σ(4)=2), so 2 and 3 each carry HALF the
    // dependency of {4,5}: δ(2)=δ(3)=(1e6+δ(4))·1/2 with
    // δ(4)=1e6 → floor(2e6/2)=1e6 each. δ(4) itself = 1e6 (from 5).
    val e = edgesDf((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 4L, 1.0),
      (3L, 4L, 1.0), (4L, 5L, 1.0))
    val rows = GraphOps.betweennessCentrality(spark, e, landmarks = Seq(1L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq(
      (2L, 1000000L), (3L, 1000000L), (4L, 1000000L), (5L, 0L)))
  }

  test("hits: hand-computed two-round scores on a 2x2 bipartite graph") {
    // Edges c1->s10, c2->s10, c2->s20.
    // Round 1: a(s10)=2e6, a(s20)=1e6 -> norm a=(1e6, 500000);
    //   h(c1)=1e6, h(c2)=1.5e6 -> norm h=(666666, 1e6).
    // Round 2: a(s10)=1666666, a(s20)=1e6 -> norm (1e6, 600000);
    //   h(c1)=1e6, h(c2)=1.6e6 -> norm (625000, 1e6).
    val e = Seq((1L, 10L, 1.0), (2L, 10L, 1.0), (2L, 20L, 1.0))
      .toDF("src", "dst", "weight")
    val rows = GraphOps.hits(spark, e, iters = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(
      (10L, "auth", 1000000L), (20L, "auth", 600000L),
      (1L, "hub", 625000L), (2L, "hub", 1000000L)))
  }

  test("hits is invariant under input repartitioning") {
    val e = (1L to 40L).map(c => (c, 100L + c % 7, 1.0)).toDF("src", "dst", "weight")
    def run(df: org.apache.spark.sql.DataFrame) =
      GraphOps.hits(spark, df, iters = 3).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(run(e) == run(e.repartition(13)))
  }

  test("strongTies sketch median equals the exact median on real co-occurrence weights") {
    // The g_jaccard/g_assortativity oracles state exact quantile_cont
    // while strongTies uses approx_percentile (bounded-memory GK
    // sketch): equality rests on the integer weights' per-value
    // multiplicity swamping the sketch's N/10000 rank error. Pin that
    // data-dependent assumption HERE so a future weight distribution
    // that breaks it fails in one line, not as a far-away oracle
    // hash mismatch.
    import org.apache.spark.sql.functions.expr
    val edges = GraphBuilder.supplierCoEdges(spark, "/root/testdata/sf0.001")
    val r = edges.agg(
      expr("approx_percentile(weight, 0.5, 10000)").as("sketch"),
      expr("percentile(weight, 0.5)").as("exact")).first()
    assert(r.getDouble(0) == r.getDouble(1),
      s"GK sketch median ${r.getDouble(0)} != exact ${r.getDouble(1)}")
  }

  test("personalized pagerank: all-seeds run IS global integer pagerank") {
    // With every vertex seeded, the unnormalized restart term is the
    // global recursion's 150000 for all vertices — the two fixpoints
    // are identical term by term, so the integers must match exactly.
    val star = edgesDf((0L, 1L, 1.0), (0L, 2L, 1.0), (0L, 3L, 1.0), (0L, 4L, 1.0))
    val global = GraphOps.pageRankInteger(spark, star).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val ppr = GraphOps.personalizedPageRank(spark, star,
        landmarks = Seq(0L, 1L, 2L, 3L, 4L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ppr == global, s"all-seed PPR diverged: $ppr vs $global")
  }

  test("personalized pagerank localizes mass to the seed's component") {
    // Two disconnected triangles; seeding only {0} must leave the
    // other component at exactly 0 rank (integer arithmetic — no
    // float dust), while the seed's component accumulates mass
    // ordered by proximity to the seed.
    val g = edgesDf((0L, 1L, 1.0), (1L, 2L, 1.0), (0L, 2L, 1.0),
      (10L, 11L, 1.0), (11L, 12L, 1.0), (10L, 12L, 1.0))
    val ppr = GraphOps.personalizedPageRank(spark, g, landmarks = Seq(0L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Seq(10L, 11L, 12L).forall(ppr(_) == 0L),
      s"rank leaked across components: $ppr")
    assert(ppr(0L) > ppr(1L) && ppr(1L) == ppr(2L), s"seed locality: $ppr")
    // Default landmarks = three smallest vertex ids (deterministic):
    // seeding {0,1,2} gives the whole first triangle restart mass.
    val dflt = GraphOps.personalizedPageRank(spark, g)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dflt(0L) == dflt(1L) && dflt(1L) == dflt(2L) && dflt(10L) == 0L)
  }

  test("label propagation groups cliques, splits across a weak bridge") {
    val e = edgesDf(
      (0L, 1L, 1.0), (0L, 2L, 1.0), (1L, 2L, 1.0),
      (10L, 11L, 1.0), (10L, 12L, 1.0), (11L, 12L, 1.0),
      (2L, 10L, 0.1))
    val lpa = GraphOps.labelPropagation(spark, e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lpa.size == 6)
    assert(lpa(0L) == lpa(1L) && lpa(1L) == lpa(2L))
    assert(lpa(10L) == lpa(11L) && lpa(11L) == lpa(12L))
    assert(lpa(0L) != lpa(10L))
  }

  test("label propagation weights dominate counts") {
    // Vertex 1 sits in a unit-weight triangle {0,1,2} but has one
    // heavy (w=10) edge to pendant 9. Weighted LPA keeps (1, 9)
    // together against the triangle's two unit votes; unweighted
    // (count) LPA would pull 1 back into the triangle's label.
    val e = edgesDf((0L, 1L, 1.0), (0L, 2L, 1.0), (1L, 2L, 1.0),
      (1L, 9L, 10.0))
    val lpa = GraphOps.labelPropagation(spark, e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lpa(1L) == lpa(9L))
    assert(lpa(0L) == lpa(2L))
    assert(lpa(0L) != lpa(1L))
  }

  test("louvain memo refreshes when a file is regenerated at the same path") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("graft_louvain_memo")
    val stable = dir.resolve("edges.parquet")
    def writeAs(df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = dir.resolve("stage").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, stable, StandardCopyOption.REPLACE_EXISTING)
    }
    def clique(ids: Seq[Long]) = for {
      a <- ids; b <- ids if a < b
    } yield (a, b, 1.0)
    // Two 4-cliques → 2 communities.
    writeAs(clique(0L to 3L).toDF("src", "dst", "weight"))
    val n1 = GraphOps.louvain(spark, spark.read.parquet(stable.toString))
      .select("community").distinct().count()
    assert(n1 == 1L)
    // Regenerate the SAME file path with a different graph: the memo
    // must miss (mtime/length key), not serve the stale assignment.
    Thread.sleep(20)
    writeAs((clique(0L to 3L) ++ clique(10L to 13L)).toDF("src", "dst", "weight"))
    val n2 = GraphOps.louvain(spark, spark.read.parquet(stable.toString))
      .select("community").distinct().count()
    assert(n2 == 2L)
  }

  test("walk memo refreshes when a file is regenerated at the same path") {
    import java.nio.file.{Files, StandardCopyOption}
    val dir = Files.createTempDirectory("graft_walk_memo")
    val stable = dir.resolve("edges.parquet")
    def writeAs(df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = dir.resolve("stage").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, stable, StandardCopyOption.REPLACE_EXISTING)
    }
    writeAs(Seq((0L, 1L, 1.0)).toDF("src", "dst", "weight"))
    val w1 = GraphOps.randomWalks(spark, spark.read.parquet(stable.toString))
      .select("walk_id").distinct().count()
    assert(w1 == 2L)
    Thread.sleep(20)
    // Same path, different graph: the memo must miss, not replay the
    // 2-vertex walk corpus.
    writeAs(Seq((0L, 1L, 1.0), (2L, 3L, 1.0)).toDF("src", "dst", "weight"))
    val w2 = GraphOps.randomWalks(spark, spark.read.parquet(stable.toString))
      .select("walk_id").distinct().count()
    assert(w2 == 4L)
  }

  test("spectral cut bisects two bridged cliques along the bridge") {
    // Two K5s joined by one bridge edge: the Fiedler direction
    // separates the cliques — every vertex of one clique lands on
    // one side, every vertex of the other on the other side.
    val k5a = for { a <- 0L to 4L; b <- 0L to 4L if a < b } yield (a, b)
    val k5b = for { a <- 10L to 14L; b <- 10L to 14L if a < b } yield (a, b)
    val e = (k5a ++ k5b ++ Seq((4L, 10L))).toDF("src", "dst")
    val r = GraphOps.spectralCut(spark, e).collect()
      .map(x => (x.getLong(0), x.getBoolean(2))).toMap
    val sideA = (0L to 4L).map(r)
    val sideB = (10L to 14L).map(r)
    assert(sideA.toSet.size == 1, s"clique A split: $sideA")
    assert(sideB.toSet.size == 1, s"clique B split: $sideB")
    assert(sideA.head != sideB.head, "cliques must land on opposite sides")
  }

  test("spectral cut is partitioning-invariant (integer recursion)") {
    val k5a = for { a <- 0L to 4L; b <- 0L to 4L if a < b } yield (a, b)
    val k5b = for { a <- 10L to 14L; b <- 10L to 14L if a < b } yield (a, b)
    val e = (k5a ++ k5b ++ Seq((4L, 10L))).toDF("src", "dst")
    val a = GraphOps.spectralCut(spark, e.repartition(16))
      .collect().map(_.toSeq).toSeq
    val b = GraphOps.spectralCut(spark, e.coalesce(1))
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("densest-subgraph peel isolates a planted clique from its halo") {
    // K6 (density 15/6 = 2.5) bridged to a 20-vertex path halo
    // (density ~1): round 0 sees the mixed graph, the average-degree
    // cut peels the path, round 1 is the bare clique — the best
    // density must be the clique's, found at round 1.
    val k6 = for { a <- 0L to 5L; b <- 0L to 5L if a < b } yield (a, b)
    val path = (100L until 119L).map(i => (i, i + 1))
    val bridge = Seq((5L, 100L))
    val e = (k6 ++ path ++ bridge).toDF("src", "dst")
    val r = GraphOps.densestSubgraph(spark, e).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((1L, 6L, 15L, 2500000L)), r.toString)
  }

  test("densest-subgraph on an empty edge set reports zeros") {
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    val r = GraphOps.densestSubgraph(spark, e).collect().head
    assert(r.getLong(3) == 0L)
  }

  test("triad census separates feed-forward from cyclic triangles") {
    import spark.implicits._
    // 1→2→3 with shortcut 1→3: one feed-forward, no cycle.
    // 4→5→6→4: one cycle (counted once despite 3 rotations).
    // 7⇄8: a 2-cycle, not a triangle — must count nowhere.
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (6L, 4L), (7L, 8L), (8L, 7L)).toDF("src", "dst")
    val r = GraphOps.triadCensus(spark, e).collect()(0)
    assert((r.getLong(0), r.getLong(1)) == (1L, 1L), r.toString)
  }

  test("triad census on the fully-bidirected triangle: 6 ffl, 2 cycles") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val r = GraphOps.triadCensus(spark, e).collect()(0)
    // Every ordered midpoint pattern closes (6 instances); the two
    // orientations of the cycle each count once.
    assert((r.getLong(0), r.getLong(1)) == (6L, 2L), r.toString)
  }

  test("triad census: dense and wedge paths agree on a mixed graph") {
    import spark.implicits._
    // ffl + cycle + 2-cycle + bidirected triangle + dangling chain —
    // every census class at once. The tiny fixture takes the dense
    // broadcast-adjacency path by default; forcing a zero broadcast
    // budget re-runs the identical input through the at-scale wedge
    // join, which must produce the identical one-row census.
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (6L, 4L), (7L, 8L), (8L, 7L),
      (10L, 11L), (11L, 10L), (11L, 12L), (12L, 11L), (10L, 12L), (12L, 10L),
      (3L, 9L), (9L, 13L)).toDF("src", "dst")
    val dense = GraphOps.triadCensus(spark, e).collect()(0)
    assert((dense.getLong(0), dense.getLong(1)) == (7L, 3L), dense.toString)
    spark.conf.set("graft.broadcast.bytes", "1")
    try {
      val wedge = GraphOps.triadCensus(spark, e).collect()(0)
      assert((wedge.getLong(0), wedge.getLong(1)) ==
        (dense.getLong(0), dense.getLong(1)), wedge.toString)
    } finally spark.conf.unset("graft.broadcast.bytes")
  }

  test("square count: plain 4-cycle has one square, triangle has none") {
    import spark.implicits._
    val c4 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("src", "dst")
    assert(GraphOps.squareCount(c4).collect()(0).getLong(0) == 1L)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(GraphOps.squareCount(tri).collect()(0).getLong(0) == 0L)
  }

  test("square count: K4 has 3 squares; dense and wedge paths agree") {
    import spark.implicits._
    // K5 = C(5,4)·3 = 15 squares; a pendant vertex adds none.
    val k5 = (for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)) :+ (5L, 6L)
    val e = k5.toDF("src", "dst")
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)).toDF("src", "dst")
    assert(GraphOps.squareCount(k4).collect()(0).getLong(0) == 3L)
    assert(GraphOps.squareCount(e).collect()(0).getLong(0) == 15L)
    // Force the at-scale wedge path and require the identical scalar.
    spark.conf.set("graft.squares.denseMaxVertices", "0")
    try assert(GraphOps.squareCount(e).collect()(0).getLong(0) == 15L)
    finally spark.conf.unset("graft.squares.denseMaxVertices")
  }

  test("weighted SSSP: cheap two-hop path beats the heavy direct edge") {
    // 1—3 direct costs 5; 1—2—3 costs 1+1=2. Unweighted BFS would
    // answer 1 hop; the weighted distance must be 2. All three
    // vertices are landmarks (3 smallest of 3).
    val g = edgesDf((1L, 3L, 5.0), (1L, 2L, 1.0), (2L, 3L, 1.0))
    val d = GraphOps.weightedShortestPaths(spark, g)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(d == Map(
      (1L, 1L) -> 0L, (2L, 1L) -> 1L, (3L, 1L) -> 2L,
      (1L, 2L) -> 1L, (2L, 2L) -> 0L, (3L, 2L) -> 1L,
      (1L, 3L) -> 2L, (2L, 3L) -> 1L, (3L, 3L) -> 0L), d.toString)
  }

  test("weighted SSSP: vertices outside the landmark component are absent") {
    val g = edgesDf((1L, 2L, 1.0), (2L, 3L, 2.0), (10L, 11L, 1.0))
    val rows = GraphOps.weightedShortestPaths(spark, g)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // Landmarks = 3 smallest vertices = 1, 2, 3; the 10—11 component
    // never meets a landmark frontier, so it emits nothing.
    assert(rows.forall { case (v, lm, _) => v <= 3L && lm <= 3L })
    assert(rows.size == 9)
  }

  test("weighted SSSP is past its fixpoint at the default 6 rounds") {
    // A 6-vertex weighted ring plus a heavy chord: longest useful
    // relaxation chain < 6, so rounds 6 and 7 must agree exactly —
    // the convergence premise the fixed-round oracle rests on.
    val g = edgesDf((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0),
      (4L, 5L, 1.0), (5L, 6L, 1.0), (1L, 6L, 1.0), (1L, 4L, 9.0))
    def run(r: Int) = GraphOps.weightedShortestPaths(spark, g, rounds = r)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(run(6) == run(7))
  }

  test("katz overflow guard: a huge-weight pair fails loudly, not wrongly") {
    // weight 2^40: round 1 is exact (1e6·2^40/256 ≈ 4.3e15), but
    // round 2's product would wrap BIGINT — Spark (non-ANSI) wraps
    // SILENTLY where the DuckDB oracle errors, so the guard must
    // throw before the series corrupts.
    val w = math.pow(2, 40)
    val e = edgesDf((1L, 2L, w))
    val ex = intercept[IllegalArgumentException] {
      GraphOps.katzCentrality(spark, e).collect()
    }
    assert(ex.getMessage.contains("katzCentrality"), ex.getMessage)
    // and a sane graph still computes: path 1-2-3, unit weights,
    // 1 round: ends get 1e6 + 1e6/256 = 1003906, middle 1007812.
    val ok = GraphOps.katzCentrality(spark,
      edgesDf((1L, 2L, 1.0), (2L, 3L, 1.0)), iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ok == Map(1L -> 1003906L, 2L -> 1007812L, 3L -> 1003906L))
  }

  test("attr assortativity: pure homophily 1, pure heterophily -1") {
    // Two same-category edges (cat by parity): tr = m, r = +1e4.
    val attrs = Seq((0L, 0L), (2L, 0L), (1L, 1L), (3L, 1L))
      .toDF("v", "cat")
    val homo = edgesDf((0L, 2L, 1.0), (1L, 3L, 1.0))
    val rH = GraphOps.attrAssortativity(spark, homo, attrs).collect().head
    assert((rH.getLong(0), rH.getLong(1), rH.getLong(2), rH.getLong(3))
      == ((4L, 2L, 1000000L, 10000L)))
    // Bipartite cross-category: tr = 0, r = −1e4.
    val cross = edgesDf((0L, 1L, 1.0), (2L, 3L, 1.0))
    val rC = GraphOps.attrAssortativity(spark, cross, attrs).collect().head
    assert((rC.getLong(2), rC.getLong(3)) == ((0L, -10000L)))
    // One category holding every edge end → degenerate NULL.
    val one = GraphOps.attrAssortativity(spark, homo,
      Seq((0L, 7L), (1L, 7L), (2L, 7L), (3L, 7L)).toDF("v", "cat"))
      .collect().head
    assert(one.getLong(2) == 1000000L && one.isNullAt(3))
  }

  test("canonicalEdges dedupes direction and sums weights") {
    val raw = Seq((2L, 1L, 1.0), (1L, 2L, 2.0), (3L, 3L, 9.0), (1L, 3L, 1.0))
      .toDF("a", "b", "w")
    val canon = GraphBuilder.canonicalEdges(raw, "a", "b", "w").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._2))
    assert(canon.toSeq == Seq((1L, 2L, 3.0), (1L, 3L, 1.0)))
  }

  test("louvain past the twin's Long bound takes the distributed branch, same partition") {
    // Two 4-cliques and a bridge: at weight 2^40 the weight mass is past
    // LocalLouvain.MaxMass, so the louvainFor twin declines to GraphX.
    def cliques(w: Double) = {
      val es = for { base <- Seq(0L, 10L); i <- 0L to 3L; j <- (i + 1) to 3L }
        yield (base + i, base + j, w)
      (es :+ ((3L, 10L, w))).toDF("src", "dst", "weight")
    }
    def partition(df: org.apache.spark.sql.DataFrame): Set[Set[Long]] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val unit = partition(GraphOps.louvain(spark, cliques(1.0)))
    val (t0, d0) = Dispatch.taken.getOrElse("louvainFor", (0L, 0L))
    val big = partition(GraphOps.louvain(spark, cliques(math.pow(2, 40))))
    val (t1, d1) = Dispatch.taken("louvainFor")
    assert((t1 - t0, d1 - d0) == ((0L, 1L)), "2^40 weights did not take the distributed branch")
    assert(unit == Set(Set(0L, 1L, 2L, 3L), Set(10L, 11L, 12L, 13L)))
    assert(big == unit)
  }
}
