package graft.graph

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class LouvainSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Unweighted undirected graph from pairs. */
  private def graphOf(pairs: Seq[(Long, Long)]): Graph[Double, Double] =
    weightedGraph(unit(pairs))

  /** Brute-force modularity by definition on a weighted edge list:
    * Q = (1/2m) Σ_ij [A_ij − k_i k_j / 2m] δ(c_i, c_j). */
  private def bruteQ(edges: Seq[(Long, Long, Double)], comm: Map[Long, Long]): Double = {
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val w = scala.collection.mutable.Map[(Long, Long), Double]().withDefaultValue(0.0)
    edges.foreach { case (a, b, x) => w((a, b)) += x; w((b, a)) += x }
    val k = verts.map(v => v -> verts.map(u => w((v, u))).sum).toMap
    val m2 = k.values.sum
    val terms = for (i <- verts; j <- verts if comm(i) == comm(j))
      yield w((i, j)) - k(i) * k(j) / m2
    terms.sum / m2
  }

  // Two K4 cliques bridged by a single edge.
  private val twoCliques: Seq[(Long, Long)] =
    Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L),
      (3L, 10L))

  test("louvain separates two bridged cliques") {
    val (assignment, levels) = Louvain.run(graphOf(twoCliques))
    val comm = assignment.collect().toMap
    val c1 = Set(0L, 1L, 2L, 3L).map(comm)
    val c2 = Set(10L, 11L, 12L, 13L).map(comm)
    assert(c1.size == 1, s"clique 1 split: $comm")
    assert(c2.size == 1, s"clique 2 split: $comm")
    assert(c1 != c2, s"cliques merged: $comm")
    assert(levels.nonEmpty)
    val got = levels.last.modularity
    val expected = bruteQ(unit(twoCliques), comm)
    assert(math.abs(got - expected) < 1e-9,
      s"engine Q=$got, brute-force Q=$expected")
    assert(got > 0.3, s"Q too low: $got")
  }

  test("louvain on weighted ring of cliques improves modularity per level") {
    // 4 triangles connected in a ring by weak edges.
    val cliques = (0 until 4).flatMap { c =>
      val base = c * 3L
      Seq((base, base + 1), (base, base + 2), (base + 1, base + 2))
    }
    val ring = (0 until 4).map(c => (c * 3L + 2, ((c + 1) % 4) * 3L))
    val (assignment, levels) = Louvain.run(graphOf(cliques ++ ring))
    val comm = assignment.collect().toMap
    // each triangle ends up in one community
    (0 until 4).foreach { c =>
      val base = c * 3L
      assert(Set(base, base + 1, base + 2).map(comm).size == 1,
        s"triangle $c split: $comm")
    }
    assert(levels.map(_.modularity) == levels.map(_.modularity).sorted,
      s"modularity not monotone: $levels")
    val expected = bruteQ(unit(cliques ++ ring), comm)
    assert(math.abs(levels.last.modularity - expected) < 1e-9)
  }

  test("louvain handles isolated vertices and singleton graph") {
    val g = graphOf(Seq((1L, 2L)))
    val (assignment, levels) = Louvain.run(g)
    val comm = assignment.collect().toMap
    assert(comm(1L) == comm(2L))
    assert(levels.nonEmpty)
  }

  /** Weighted undirected graph, plus vertices without edges. */
  private def weightedGraph(edges: Seq[(Long, Long, Double)],
      isolated: Seq[Long] = Nil): Graph[Double, Double] = {
    val sc = spark.sparkContext
    val es = sc.parallelize(edges.map { case (a, b, w) => Edge(a, b, w) })
    if (isolated.isEmpty) Graph.fromEdges(es, 0.0)
    else Graph(sc.parallelize(
      (edges.flatMap(e => Seq(e._1, e._2)) ++ isolated).distinct.map(v => (v, 0.0))), es, 0.0)
  }

  private def unit(pairs: Seq[(Long, Long)]): Seq[(Long, Long, Double)] =
    pairs.map { case (a, b) => (a, b, 1.0) }

  /** Seeded planted partition: communities of `size`, 80% of draws
    * inside a community, weights 1..10 + 0.5 summed per pair, so every
    * Σ stays half-integral and exact. */
  private def planted(n: Int, draws: Int, size: Int, seed: Long): Seq[(Long, Long, Double)] = {
    val r = new scala.util.Random(seed)
    val acc = scala.collection.mutable.Map[(Long, Long), Double]()
    (0 until draws).foreach { _ =>
      val a = r.nextInt(n)
      val b = if (r.nextDouble() < 0.8) (a / size) * size + r.nextInt(size) else r.nextInt(n)
      if (a != b) {
        val k = (math.min(a, b).toLong, math.max(a, b).toLong)
        acc(k) = acc.getOrElse(k, 0.0) + (1 + r.nextInt(10)) + 0.5
      }
    }
    acc.toSeq.sorted.map { case ((a, b), w) => (a, b, w) }
  }

  private def trail(levels: Seq[LouvainLevel]) =
    levels.map(l => (l.level, l.nCommunities, l.nVertices, l.rounds.map(_.moved)))

  /** Runs the engine and the replica; asserts the same assignment,
    * level trail and per-round moved counts, and Q to 1e-9. */
  private def assertMatchesReplica(edges: Seq[(Long, Long, Double)],
      isolated: Seq[Long] = Nil): (Map[Long, Long], Seq[LouvainLevel]) = {
    val (assignment, levels) = Louvain.run(weightedGraph(edges, isolated))
    val got = assignment.collect().toMap
    val want = LouvainReplica.run(edges, isolated)
    assert(got == want.assignment)
    assert(trail(levels) == want.levels.map(l => (l.level, l.nCommunities, l.nVertices, l.moved)))
    levels.zip(want.levels).foreach { case (g, r) =>
      assert(math.abs(g.modularity - r.modularity) < 1e-9, s"level ${g.level}: $g vs $r")
    }
    (got, levels)
  }

  test("engine matches the parity-synchronous replica: two cliques, ring of triangles") {
    assertMatchesReplica(unit(twoCliques))
    val ring = (0 until 4).flatMap { c =>
      val base = c * 3L
      Seq((base, base + 1), (base, base + 2), (base + 1, base + 2), (base + 2, ((c + 1) % 4) * 3L))
    }
    assertMatchesReplica(unit(ring))
  }

  test("engine matches the replica on a graph with an isolated vertex") {
    val (comm, levels) = assertMatchesReplica(unit(twoCliques), isolated = Seq(99L))
    assert(comm(99L) == 99L)
    assert(levels.head.nVertices == 9L)
  }

  test("engine matches the replica on a 2,000-vertex half-integral planted graph, " +
      "and the forced shuffle refresh gives the broadcast delta's result") {
    val edges = planted(2000, 10000, 50, seed = 7)
    val (comm, levels) = assertMatchesReplica(edges)
    assert(levels.flatMap(_.rounds).forall(_.branch == "broadcast"))
    assert(levels.head.rounds.head.deltaEntries > 0)
    spark.conf.set(Dispatch.DistributedKey, Louvain.SigmaSite)
    val (forced, forcedLevels) =
      try Louvain.run(weightedGraph(edges))
      finally spark.conf.unset(Dispatch.DistributedKey)
    assert(forcedLevels.flatMap(_.rounds).forall(r => r.branch == "shuffle" && r.deltaEntries == 0))
    assert(forced.collect().toMap == comm)
    assert(trail(forcedLevels) == trail(levels))
    assert(forcedLevels.map(_.modularity) == levels.map(_.modularity))
  }

  test("a level that lowers Q is dropped: the run returns the best level's assignment") {
    // Simultaneous moves at level 1 of this graph fall from Q 0.7073
    // to 0.7060 (the replica records the drop).
    val edges = planted(50, 250, 5, seed = 11)
    val replica = LouvainReplica.run(edges)
    assert(replica.dropped.exists(_ < replica.levels.last.modularity))
    val (comm, levels) = assertMatchesReplica(edges)
    val best = levels.map(_.modularity).max
    assert(levels.last.modularity == best, s"final level below the best: $levels")
    val exact = bruteQ(edges, comm)
    assert(math.abs(exact - best) < 1e-9, s"returned assignment scores $exact, best level $best")
  }

  test("a self-loop edge is internal weight: loops as edges == loops as vertex weight") {
    // Seeded 30-vertex graphs, half-integral weights (every Σ exact),
    // a loop on every third vertex. Given as edges, the loops must
    // fold into internal weight at initialization, never act as a
    // message from a vertex to its own community.
    val sc = spark.sparkContext
    Seq(3L, 5L, 8L).foreach { seed =>
      val r = new scala.util.Random(seed)
      val edges = (0 until 70).map(_ => (r.nextInt(30).toLong, r.nextInt(30).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
        .map { case (a, b) => (a, b, (1 + r.nextInt(6)) + 0.5) }
      val loops = (0L until 30L by 3L).map(v => (v, (1 + r.nextInt(8)) + 0.5))
      val asEdges = Graph.fromEdges(sc.parallelize(
        (edges ++ loops.map { case (v, w) => (v, v, w) }).map { case (a, b, w) => Edge(a, b, w) }), 0.0)
      val internal = loops.toMap
      val verts = (edges.flatMap(e => Seq(e._1, e._2)) ++ loops.map(_._1)).distinct
      val asWeights = Graph(sc.parallelize(verts.map(v => (v, internal.getOrElse(v, 0.0)))),
        sc.parallelize(edges.map { case (a, b, w) => Edge(a, b, w) }), 0.0)
      val (gotA, levelsA) = Louvain.run(asEdges)
      val (gotW, levelsW) = Louvain.run(asWeights)
      assert(gotA.collect().toMap == gotW.collect().toMap, s"seed $seed: assignments differ")
      assert(trail(levelsA) == trail(levelsW), s"seed $seed: level trails differ")
      levelsA.zip(levelsW).foreach { case (a, w) =>
        assert(math.abs(a.modularity - w.modularity) < 1e-12, s"seed $seed: $a vs $w")
      }
    }
  }

  test("source guard: the super-row degree rule and identity labels live in LocalLouvain") {
    // An a == b super row counts 2w in degree; that reading belongs to
    // LocalLouvain.degrees (and Louvain.initialize on GraphX), and no
    // caller rebuilds identity labels by exploding the row ends.
    val banned = Seq(
      "the super-row degree rule" -> """\+=\s*2\s*\*\s*w\b""".r,
      "identity labels from exploded row ends" ->
        """explode\(array\(col\("(a|src)"\),\s*col\("(b|dst)"\)\)\)""".r)
    val hits = scala.collection.mutable.ArrayBuffer.empty[String]
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try walk.iterator().forEachRemaining { f =>
      val name = f.getFileName.toString
      if (name.endsWith(".scala") && name != "LocalLouvain.scala") {
        val src = new String(java.nio.file.Files.readAllBytes(f),
          java.nio.charset.StandardCharsets.UTF_8)
        for ((what, re) <- banned if re.findFirstIn(src).isDefined) hits += s"$what in $f"
      }
    } finally walk.close()
    assert(hits.isEmpty, hits.mkString("; "))
  }

  test("modularity of the known two-clique partition matches brute force") {
    val g = graphOf(twoCliques)
    val partition = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 1L, 11L -> 1L, 12L -> 1L, 13L -> 1L)
    // build a LouvainState graph representing this fixed partition
    val init = g.aggregateMessages[Double](
      ctx => { ctx.sendToSrc(ctx.attr); ctx.sendToDst(ctx.attr) }, _ + _)
    val stateGraph = g.outerJoinVertices(init) { (id, _, wOpt) =>
      val w = wOpt.getOrElse(0.0)
      LouvainState(partition(id), 0.0, 0.0, w, changed = false)
    }
    val m2 = stateGraph.vertices.map { case (_, st) => st.nodeWeight }.sum()
    val got = Louvain.modularity(stateGraph, m2)
    val expected = bruteQ(unit(twoCliques), partition)
    assert(math.abs(got - expected) < 1e-9, s"got $got expected $expected")
  }
}
