package graft.graph

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Leiden connectivity repair: refined communities are CONNECTED by
  * construction, refinement never crosses Louvain community borders,
  * and splitting along a zero-edge cut is modularity-monotone.
  */
class LeidenSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def edgesDf(pairs: (Long, Long)*) =
    pairs.map(p => (p._1, p._2, 1.0)).toDF("src", "dst", "weight")

  test("a disconnected community splits into its components") {
    // Two triangles with no edge between them, crammed into one
    // community by a (deliberately bad) planted assignment.
    val e = edgesDf((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
    val bad = Seq((1L, 99L), (2L, 99L), (3L, 99L), (4L, 99L), (5L, 99L), (6L, 99L))
      .toDF("vertex", "community")
    val got = GraphOps.refineCommunities(spark, e, bad).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got.map(_._2).forall(_ == 99L)) // louvain label preserved for audit
    assert(got.map(g => (g._1, g._3)).toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L), (6L, 4L)))

    // and the split is modularity-monotone (strictly, here)
    def q(as: Seq[(Long, Long)]): Long =
      GraphOps.modularityOf(e, as.toDF("vertex", "label"))
        .select(col("q_e6")).collect()(0).getLong(0)
    val qBad = q(Seq((1L, 99L), (2L, 99L), (3L, 99L), (4L, 99L), (5L, 99L), (6L, 99L)))
    val qRef = q(got.map(g => (g._1, g._3)).toSeq)
    assert(qRef > qBad, s"refined Q $qRef should beat disconnected Q $qBad")
  }

  test("connected communities and community-isolated vertices are stable") {
    // Vertex 7's only edge leaves its community -> it has no intra
    // edge and becomes its own refined community; the triangle stays.
    val e = edgesDf((1L, 2L), (2L, 3L), (1L, 3L), (3L, 7L))
    val a = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 2L)).toDF("vertex", "community")
    val got = GraphOps.refineCommunities(spark, e, a).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L)))
  }

  test("screen: certified, suspect-connected and suspect-split communities compose") {
    // Community 50: a triangle — star-certified (maxdeg = n−1), takes
    // the CC-skip path. Community 60: a 4-path — connected but NOT
    // certified (maxdeg 2 < 3), so it runs through CC and must come
    // out WHOLE (the screen's soundness edge: a suspect is a
    // maybe, never a verdict). Community 70: two disconnected pairs —
    // suspect AND actually split. All three flavors in one assignment
    // pins that the certified/suspect unionByName recomposes the full
    // vertex set with the same labels the unscreened CC would give.
    val e = edgesDf((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L),
      (20L, 21L), (22L, 23L))
    val a = Seq((1L, 50L), (2L, 50L), (3L, 50L),
      (10L, 60L), (11L, 60L), (12L, 60L), (13L, 60L),
      (20L, 70L), (21L, 70L), (22L, 70L), (23L, 70L))
      .toDF("vertex", "community")
    val got = GraphOps.refineCommunities(spark, e, a).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L), (12L, 10L), (13L, 10L),
      (20L, 20L), (21L, 20L), (22L, 22L), (23L, 22L)))
  }

  test("driver union-find refinement equals the distributed screen+CC path") {
    // The three-flavor screen fixture (certified triangle, suspect
    // 4-path, genuinely split pairs) plus a community-isolated vertex
    // — both dispatch paths must emit the identical (vertex,
    // community_louvain, community) rows. refineCommunities dispatches
    // driver-side at this size, so the override forces the at-scale
    // path to keep it pinned.
    val e = edgesDf((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L),
      (20L, 21L), (22L, 23L), (3L, 30L))
    val a = Seq((1L, 50L), (2L, 50L), (3L, 50L),
      (10L, 60L), (11L, 60L), (12L, 60L), (13L, 60L),
      (20L, 70L), (21L, 70L), (22L, 70L), (23L, 70L), (30L, 80L))
      .toDF("vertex", "community")
    def rows = GraphOps.refineCommunities(spark, e, a).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val drv = rows
    val dist = ForcedDispatch.distributed(spark, "refineCommunities")(rows)
    assert(drv == dist, s"driver $drv\n!= distributed $dist")
  }

  test("g_leiden on the real graph: connected, border-respecting, Q-monotone") {
    val e = GraphBuilder.supplierCoEdges(spark, "/root/testdata/sf0.001")
      .localCheckpoint(true)
    val refined = GraphOps.leiden(spark, e).localCheckpoint(true)
    // (a) refinement never crosses a Louvain border: each refined
    // community maps to exactly one louvain community
    val crossings = refined.groupBy(col("community"))
      .agg(org.apache.spark.sql.functions.countDistinct(col("community_louvain"))
        .as("n"))
      .filter(col("n") > 1).count()
    assert(crossings == 0L)
    // (b) every refined community is connected: CC over each refined
    // community's induced subgraph must assign ONE label per community
    val lab = refined.select(col("vertex"), col("community"))
    val intra = e.select(col("src"), col("dst"))
      .join(lab.select(col("vertex").as("src"), col("community").as("cs")), Seq("src"))
      .join(lab.select(col("vertex").as("dst"), col("community").as("cd")), Seq("dst"))
      .filter(col("cs") === col("cd"))
      .select(col("src"), col("dst"), org.apache.spark.sql.functions.lit(1.0).as("weight"))
    val perComm = GraphOps.connectedComponents(spark, intra)
      .join(lab, Seq("vertex"))
      .groupBy(col("community"))
      .agg(org.apache.spark.sql.functions.countDistinct(col("component")).as("n"))
      .filter(col("n") > 1).count()
    assert(perComm == 0L)
    // (c) modularity is not hurt by the repair
    def q(as: org.apache.spark.sql.DataFrame): Long =
      GraphOps.modularityOf(e, as).select(col("q_e6")).collect()(0).getLong(0)
    val qL = q(GraphOps.louvain(spark, e)
      .select(col("vertex"), col("community").as("label")))
    val qR = q(refined.select(col("vertex"), col("community").as("label")))
    assert(qR >= qL, s"refined Q $qR < louvain Q $qL")
  }
}
