package graft.graph

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class SccDfSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  // Every planted shape runs BOTH paths: the driver Tarjan (the
  // round-16 dispatch, which these small graphs hit) and the forced-
  // distributed coloring loop — so the adversarial coloring cases
  // (diamond DAG, nested peels) keep exercising the at-scale
  // algorithm, and each doubles as a twin-equality pin.
  private def sccs(edges: Seq[(Long, Long)]): Map[Long, Set[Long]] = {
    val df = edges.toDF("src", "dst")
    def labels(): Set[(Long, Long)] = StronglyConnectedDF.run(spark, df)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val drv = labels()
    val dist = ForcedDispatch.distributed(spark)(labels())
    assert(drv == dist, "driver Tarjan != distributed coloring")
    drv.groupBy(_._2).map { case (c, vs) => c -> vs.map(_._1).toSet }
  }

  test("planted cycles, a bridge, and a tail singleton") {
    // 1→2→3→1 is one SCC, 4→5→4 another, 3→4 bridges them (one
    // direction only — must NOT merge), 5→6 leaves 6 a singleton.
    val comps = sccs(Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (3L, 4L), (4L, 5L), (5L, 4L), (5L, 6L)))
    assert(comps.values.toSet == Set(Set(1L, 2L, 3L), Set(4L, 5L), Set(6L)))
    assert(comps.keySet == Set(1L, 4L, 6L), "scc label must be the min id")
  }

  test("diamond DAG stays four singletons (min-ancestor/descendant pairs collide)") {
    // 1→5, 1→6, 5→0, 6→0: vertices 5 and 6 share min-ancestor 1 AND
    // min-descendant 0, so any (fwd-min, bwd-min) pair labeling
    // would wrongly merge them. The coloring algorithm must not.
    val comps = sccs(Seq((1L, 5L), (1L, 6L), (5L, 0L), (6L, 0L)))
    assert(comps.values.toSet == Set(Set(0L), Set(1L), Set(5L), Set(6L)))
  }

  test("nested peels: a small-id cycle hidden behind a larger-id cycle") {
    // 8→9→8 colors the downstream 2→3→2 cycle with 9's id in round
    // one (9 reaches them), so {2,3} is only assignable after the
    // {8,9} peel — exercises the outer loop beyond one round.
    val comps = sccs(Seq((8L, 9L), (9L, 8L), (9L, 2L), (2L, 3L), (3L, 2L)))
    assert(comps.values.toSet == Set(Set(8L, 9L), Set(2L, 3L)))
    assert(comps.keySet == Set(8L, 2L))
  }

  test("one big cycle through every vertex is a single SCC") {
    val n = 30L
    val comps = sccs((0L until n).map(i => (i, (i + 1) % n)))
    assert(comps.values.toSet == Set((0L until n).toSet))
    assert(comps.keySet == Set(0L))
  }

  test("agrees with GraphX stronglyConnectedComponents on a random digraph") {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(260)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.distinct
    val ours = sccs(edges)
    val g = org.apache.spark.graphx.Graph.fromEdgeTuples(
      spark.sparkContext.parallelize(edges), 0)
    val gx = g.stronglyConnectedComponents(60).vertices.collect()
      .groupBy(_._2).map { case (_, vs) => vs.map(_._1).toSet }.toSet
    assert(ours.values.toSet == gx)
  }
}
