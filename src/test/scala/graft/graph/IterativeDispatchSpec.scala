package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The round-14 measured driver dispatch contract: every integer-
  * exact iterative operator's driver twin is BIT-IDENTICAL to the
  * DataFrame loop it stands in for — not approximately, not up to
  * ordering: the same rows. Pinned on the real sf0.001 co-occurrence
  * graph (complete-ish, weighted, the shape the queries run), using
  * the session-scoped `spark.graft.dispatch.distributed` override
  * (ForcedDispatch) to reach the at-scale path on a small input. */
class IterativeDispatchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def edges = GraphBuilder.supplierCoEdges(spark, "/root/testdata/sf0.001")

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toVector).toVector

  private def bothPaths(f: => DataFrame): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val drv = rowsOf(f)
    val dist = ForcedDispatch.distributed(spark)(rowsOf(f))
    (drv, dist)
  }

  test("pageRankInteger: driver twin == DataFrame loop, bit for bit") {
    val (d, x) = bothPaths(GraphOps.pageRankInteger(spark, edges))
    assert(d == x)
    assert(d.nonEmpty)
  }

  test("personalizedPageRank: driver twin == DataFrame loop") {
    val (d, x) = bothPaths(GraphOps.personalizedPageRank(spark, edges))
    assert(d == x)
  }

  test("katzCentrality: driver twin == DataFrame loop") {
    val (d, x) = bothPaths(GraphOps.katzCentrality(spark, edges))
    assert(d == x)
  }

  test("eigenCentrality: driver twin == DataFrame loop") {
    val (d, x) = bothPaths(GraphOps.eigenCentrality(spark, edges))
    assert(d == x)
    assert(d.nonEmpty)
  }

  test("spectralCut: driver twin == DataFrame loop (md5 start included)") {
    val (d, x) = bothPaths(GraphOps.spectralCut(spark, edges))
    assert(d == x)
  }

  test("connectedComponents (GraphX entry): driver union-find == Pregel CC") {
    // Min-member labels are path-independent, so the two algorithms
    // must emit the SAME rows — not just isomorphic labelings.
    import org.apache.spark.sql.functions.col
    def cc = GraphOps.connectedComponents(spark, edges).orderBy(col("vertex"))
    val (d, x) = bothPaths(cc)
    assert(d == x)
    assert(d.nonEmpty)
  }

  test("shortestPaths/pageRank: caller frames with EXTRA columns (4-col " +
      "arity) match the canonical 3-col result on both paths") {
    // VERDICT r17 item 4: the distributed branch's positional
    // self-union used to require exactly (src, dst, weight) — a
    // 4-column caller frame (BenchDist's (src, dst, weight, t))
    // misaligned it. The projection now lives inside the callee.
    import org.apache.spark.sql.functions.{col, lit}
    val e4 = edges.withColumn("t", lit(7L))
    def sp(e: DataFrame) = rowsOf(GraphOps.shortestPaths(spark, e)
      .orderBy(col("vertex"), col("landmark")))
    assert(sp(e4) == sp(edges) && sp(e4).nonEmpty)        // driver BFS
    val (d4, d3) = ForcedDispatch.distributed(spark)((sp(e4), sp(edges)))
    assert(d4 == d3 && d4.nonEmpty)                       // Pregel path
    // pageRank's GraphX float sums are not run-to-run bit-stable, so
    // pin arity-robustness (same vertices), not value equality.
    def prVerts(e: DataFrame) = GraphOps.pageRank(spark, e)
      .select(col("vertex")).collect().map(_.getLong(0)).sorted.toSeq
    assert(prVerts(e4) == prVerts(edges) && prVerts(e4).nonEmpty)
  }

  test("weightedShortestPaths: driver twin == DataFrame loop") {
    val (d, x) = bothPaths(
      GraphOps.weightedShortestPaths(spark, edges)
        .orderBy(org.apache.spark.sql.functions.col("vertex"),
          org.apache.spark.sql.functions.col("landmark")))
    assert(d == x)
    assert(d.nonEmpty)
  }

  test("shortestPaths: driver BFS == Pregel ShortestPaths") {
    val o = org.apache.spark.sql.functions.col _
    val (d, x) = bothPaths(
      GraphOps.shortestPaths(spark, edges).orderBy(o("vertex"), o("landmark")))
    assert(d == x)
    assert(d.nonEmpty)
  }

  test("betweennessCentrality: driver twin == DataFrame loop") {
    val (d, x) = bothPaths(GraphOps.betweennessCentrality(spark, edges))
    assert(d == x)
    assert(d.nonEmpty)
  }

  test("temporalReach: driver twin == DataFrame loop") {
    val t = GraphBuilder.supplierTemporalEdges(spark, "/root/testdata/sf0.001")
    val o = org.apache.spark.sql.functions.col _
    val drv = rowsOf(GraphOps.temporalReach(spark, t).orderBy(o("vertex")))
    val dist = ForcedDispatch.distributed(spark)(
      rowsOf(GraphOps.temporalReach(spark, t).orderBy(o("vertex"))))
    assert(drv == dist)
    assert(drv.nonEmpty)
  }

  test("randomWalks: driver twin == DataFrame loop") {
    // The walk memo would hand the second path the first path's build
    // (same session/plan/file key) — clear it around both paths so
    // each actually runs (the minimumSpanningForest test's pattern).
    val o = org.apache.spark.sql.functions.col _
    def w = GraphOps.randomWalks(spark, edges)
      .orderBy(o("walk_id"), o("step"))
    val drv = rowsOf(w)
    GraphOps.clearAllMemos(spark)
    val dist = ForcedDispatch.distributed(spark)(rowsOf(w))
    GraphOps.clearAllMemos(spark)
    assert(drv == dist)
    assert(drv.nonEmpty)
  }

  test("node2vecWalks: driver twin == DataFrame loop") {
    val o = org.apache.spark.sql.functions.col _
    val (d, x) = bothPaths(GraphOps.node2vecWalks(spark, edges)
      .orderBy(o("walk_id"), o("step")))
    assert(d == x)
    assert(d.nonEmpty)
  }

  test("node2vecWalks: parallel edges and self-loops agree across paths") {
    // ADVICE r19 item 1: the twin treats (prev, dst) MEMBERSHIP as a
    // set (binarySearch) while the DF loop's left join used to
    // multiply candidate rows per duplicate member row, shifting the
    // cum/tot pick. The member dedup (round 20) aligns them; this
    // planted case — a duplicated pair plus a self-loop — pins it.
    import spark.implicits._
    val o = org.apache.spark.sql.functions.col _
    val g = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (2L, 2L))
      .toDF("src", "dst")
    val (d, x) = bothPaths(GraphOps.node2vecWalks(spark, g)
      .orderBy(o("walk_id"), o("step")))
    assert(d == x)
    assert(d.nonEmpty)
  }

  test("coreness: driver twin == DataFrame loop") {
    val (d, x) = bothPaths(GraphOps.coreness(spark, edges))
    assert(d == x)
    assert(d.nonEmpty)
  }

  test("labelPropagation: driver twin == DataFrame loop") {
    val (d, x) = bothPaths(
      GraphOps.labelPropagation(spark, edges)
        .orderBy(org.apache.spark.sql.functions.col("vertex")))
    assert(d == x)
    assert(d.nonEmpty)
  }

  test("non-Long vertex keys fall back to the type-generic DataFrame loop") {
    // textRank runs PageRank over STRING tokens — the driver twin
    // reads keys with getLong and must decline (caught live in the
    // round-14 full gate: t_textrank threw ClassCastException until
    // the longKeyed guard landed).
    import spark.implicits._
    val e = Seq(("a", "b", 1.0), ("b", "c", 2.0)).toDF("src", "dst", "weight")
    val r = GraphOps.pageRankInteger(spark, e).collect()
    assert(r.length == 3)
    assert(GraphOps.katzCentrality(spark, e).collect().length == 3)
  }

  test("ConnectedComponentsDF: driver union-find == star-contraction loop") {
    val o = org.apache.spark.sql.functions.col _
    def cc = ConnectedComponentsDF
      .run(spark, edges.select(o("src"), o("dst")))
      .orderBy(o("vertex"))
    val drv = rowsOf(cc)
    val dist = ForcedDispatch.distributed(spark)(rowsOf(cc))
    assert(drv == dist)
    assert(drv.nonEmpty)
  }

  test("null weights decline the driver dispatch instead of NPEing") {
    // max(abs(w − round(w))) ignores NULLs, so a column with some
    // nulls and otherwise-integral weights used to pass the gate and
    // NPE at the twin's getDouble; the count(weight) == count(*)
    // term (round-15 ADVICE) declines to dispatch instead.
    import spark.implicits._
    val e = Seq((1L, 2L, Some(1.0)), (2L, 3L, None: Option[Double]))
      .toDF("src", "dst", "weight")
    val r = GraphOps.labelPropagation(spark, e).collect()
    assert(r.length == 3)
  }

  test("dispatch-site checklist: every Dispatch.gated site has twin-equality coverage") {
    // The oracle gates no longer exercise the DataFrame loops below
    // the collect bound, so the at-scale correctness burden sits on
    // explicit both-path equality tests. This checklist collects the
    // `Dispatch.gated("<site>"` literals from src/main and fails when
    // a NEW site lands without being recorded here next to the spec
    // that pins its equality — record it ONLY after writing that test.
    val siteRe = """Dispatch\.gated\("(\w+)"""".r
    val sites = scala.collection.mutable.ArrayBuffer.empty[String]
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try walk.iterator().forEachRemaining { f =>
      if (f.toString.endsWith(".scala")) {
        val src = new String(java.nio.file.Files.readAllBytes(f),
          java.nio.charset.StandardCharsets.UTF_8)
        siteRe.findAllMatchIn(src).foreach(m => sites += m.group(1))
      }
    } finally walk.close()
    val covered = Map(
      "spectralCut" -> "IterativeDispatchSpec",
      "temporalReach" -> "IterativeDispatchSpec",
      "shortestPaths" -> "IterativeDispatchSpec",
      "weightedShortestPaths" -> "IterativeDispatchSpec",
      "coreness" -> "IterativeDispatchSpec",
      "pageRankInteger" -> "IterativeDispatchSpec",
      "katzCentrality" -> "IterativeDispatchSpec",
      "eigenCentrality" -> "IterativeDispatchSpec",
      "personalizedPageRank" -> "IterativeDispatchSpec",
      "betweennessCentrality" -> "IterativeDispatchSpec",
      "labelPropagation" -> "IterativeDispatchSpec",
      "louvainFor" -> "IterativeDispatchSpec (louvain family partitions)",
      "minimumSpanningForestUncached" ->
        "IterativeDispatchSpec (driver Kruskal == Borůvka)",
      "refineCommunities" -> "LeidenSpec (measured == forced distributed refinement)",
      "louvainOnSuper" -> "IncrementalLouvainSpec (measured vs forced GraphX partitions)",
      "superIdentityQ" ->
        "IncrementalLouvainSpec (driver ledger Q == distributed modularityOf)",
      "connectedComponentsDF" ->
        "IterativeDispatchSpec (ConnectedComponentsDF union-find)",
      "connectedComponents" ->
        "IterativeDispatchSpec (GraphX entry: union-find == Pregel CC)",
      "hits" -> "IterativeDispatchSpec (driver hits == DataFrame loop)",
      "randomWalksUncached" ->
        "IterativeDispatchSpec (driver walks == DataFrame loop)",
      "node2vecWalks" ->
        "IterativeDispatchSpec (driver biased walks == DataFrame loop)",
      "sccDispatch" ->
        "IterativeDispatchSpec + SccDfSpec (driver Tarjan == coloring)",
      "mergeLouvainDispatch" ->
        "IncrementalLouvainSpec (driver fold state == distributed fold state)",
      "mergeCcDispatch" ->
        "IncrementalCcSpec (driver CC fold state == distributed fold state)",
      "exactKnnEdges" ->
        "LocalSimSpec (driver exact top-k == BNLJ + window path)",
      "lshKnnEdges" ->
        "LocalSimSpec (driver banded top-k == band-join path)",
      "cosineThresholdPairs" ->
        "LocalSimSpec (driver threshold pairs == both DF branches)",
      "embedDup" ->
        "LocalSimSpec (driver band dup pairs == band-join path)",
      "nnDescentFrom" ->
        "LocalSimSpec (driver descent round == DF expansion path)",
      "knnGraphFrom" ->
        "LocalSimSpec (driver capped-pairs top-k == dedup/join/window path)",
      "beamSearchFrom" ->
        "LocalSimSpec (driver beam rounds == DF expand/rescore loop)",
      "hnswDescend" ->
        "LocalSimSpec (driver layer descent == DF level loop + beam)")
    // A site name is the coverage key: two gates sharing one would let
    // the second inherit the first's entry.
    val dups = sites.diff(sites.distinct)
    assert(dups.isEmpty, s"dispatch site names used twice: $dups")
    val missing = sites.filterNot(covered.contains)
    assert(missing.isEmpty,
      s"dispatch sites without a recorded twin-equality test: $missing")
    val stale = covered.keySet.diff(sites.toSet)
    assert(stale.isEmpty, s"checklist lists removed dispatch sites: $stale")
  }

  test("minimumSpanningForest: driver Kruskal == Borůvka loop") {
    // The forest memo would hand the second path the first path's
    // build (same session/plan/file key) — clear it between paths so
    // both actually run.
    def mst = GraphOps.minimumSpanningForest(spark, edges)
    GraphOps.clearAllMemos(spark)
    val drv = rowsOf(mst)
    GraphOps.clearAllMemos(spark)
    val dist = ForcedDispatch.distributed(spark)(rowsOf(mst))
    GraphOps.clearAllMemos(spark)
    assert(drv == dist)
    assert(drv.nonEmpty)
  }

  test("louvain family: driver dispatch partitions match the GraphX engine") {
    // Louvain labels are path-specific (min-member canonical vs
    // Pregel ids); the contract is the PARTITION and the level-Q
    // ledger's monotonicity, both of which the dispatch must keep.
    def partOf(df: DataFrame): Set[Set[Long]] = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val drv = partOf(GraphOps.louvain(spark, edges))
    val dist = ForcedDispatch.distributed(spark)(
      partOf(GraphOps.louvain(spark, edges.limit(edges.count().toInt))))
    // The sf0.001 co-occurrence graph is complete (K10 suppliers) —
    // both engines must agree on the one-community optimum; richer
    // planted agreement lives in IncrementalLouvainSpec.
    assert(drv == dist, s"driver $drv != graphx $dist")
  }

  test("louvain family: on a planted graph with self-loops each path's level Q is " +
      "its own modularityOf and recovers the planted partition") {
    // The twin (sequential exact moves) and GraphX (parity-synchronous
    // moves) are different algorithms; what they share is the
    // contract: the last level's Q scores the assignment returned, and
    // both find the planted communities (integral weights, 80% of
    // draws inside a community of 20, a loop on every 25th vertex):
    // no planted community is split, and the Q gap bounds merges (two
    // merged communities would cost about 0.02).
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val size = 20
    val r = new scala.util.Random(17)
    val acc = scala.collection.mutable.Map[(Long, Long), Double]()
    (0 until 2000).foreach { _ =>
      val a = r.nextInt(200)
      val b = if (r.nextDouble() < 0.8) (a / size) * size + r.nextInt(size) else r.nextInt(200)
      if (a != b) {
        val k = (math.min(a, b).toLong, math.max(a, b).toLong)
        acc(k) = acc.getOrElse(k, 0.0) + (1 + r.nextInt(5))
      }
    }
    (0L until 200L by 25L).foreach(v => acc((v, v)) = 3.0)
    val e = acc.toSeq.sorted.map { case ((a, b), w) => (a, b, w) }.toDF("src", "dst", "weight")
    def qOf(labels: DataFrame): Long =
      GraphOps.modularityOf(e, labels).select(col("q_e6")).collect().head.getLong(0)
    val plantedQ = qOf((0L until 200L).map(v => (v, v / size)).toDF("vertex", "label"))
    val planted = (0L until 200L).groupBy(_ / size).values.toSeq
    def path(): (Map[Long, Long], Long, Long) = {
      GraphOps.clearAllMemos(spark)
      val assign = GraphOps.louvain(spark, e).localCheckpoint(true)
      val last = GraphOps.louvainLevels(spark, e).orderBy(col("level").desc)
        .select(col("modularity_e6")).collect().head.getLong(0)
      (assign.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, last,
        qOf(assign.select(col("vertex"), col("community").as("label"))))
    }
    val twin = path()
    val graphx = ForcedDispatch.distributed(spark, "louvainFor")(path())
    GraphOps.clearAllMemos(spark)
    val gapE6 = 2000L
    Seq("twin" -> twin, "graphx" -> graphx).foreach { case (name, (comm, levelQ, ownQ)) =>
      assert(math.abs(levelQ - ownQ) <= 1L, s"$name: level Q $levelQ != modularityOf $ownQ")
      val split = planted.filter(_.map(comm).distinct.size > 1)
      assert(split.isEmpty, s"$name split planted communities: $split")
      assert(ownQ >= plantedQ - gapE6, s"$name: Q $ownQ more than $gapE6 below planted $plantedQ")
    }
  }

  test("hits: driver twin == DataFrame loop, bit for bit") {
    // The directed purchase graph (customer→supplier), the shape
    // g_hits actually runs; integer max-normalization makes both
    // paths exact, so equality is rows, not tolerance.
    val e = GraphBuilder.purchaseEdges(spark, "/root/testdata/sf0.001")
    val (d, x) = bothPaths(GraphOps.hits(spark, e))
    assert(d == x)
    assert(d.nonEmpty)
  }

  test("hits: empty edge set returns empty on both paths") {
    import spark.implicits._
    val e = Seq.empty[(Long, Long, Double)].toDF("src", "dst", "weight")
    assert(GraphOps.hits(spark, e).collect().isEmpty)
    assert(ForcedDispatch.distributed(spark)(
      GraphOps.hits(spark, e).collect()).isEmpty)
  }

  test("scc: driver Tarjan == distributed coloring on the chain graph") {
    // Canonical min-member labels make equality a theorem; this pins
    // it on the real supplier hand-off digraph (SccDfSpec pins the
    // adversarial planted shapes on both paths too).
    val e = GraphBuilder.supplierChainEdges(spark, "/root/testdata/sf0.001")
    val (d, x) = bothPaths(
      StronglyConnectedDF.run(spark, e)
        .orderBy(org.apache.spark.sql.functions.col("vertex")))
    assert(d == x)
    assert(d.nonEmpty)
  }
}
