package graft.graph

import scala.collection.mutable

/** Test-only replica of [[Louvain.run]]'s parity-synchronous engine
  * in plain Scala collections: the same gain formula, the same 1e-12
  * tie rule, the same move parity, round cap and minProgress stop, and
  * the same level loop (a level whose Q falls below the previous
  * level's is dropped). Unlike the engine it recomputes every Σtot
  * from scratch each round. On half-integral weights every Σ is exact,
  * so the engine must agree with it move for move. */
object LouvainReplica {

  /** One level: its Q, community and vertex counts, and the moved
    * count of each local-move round. */
  final case class Level(level: Int, modularity: Double, nCommunities: Long,
      nVertices: Long, moved: Seq[Long])

  /** @param assignment original vertex → community
    * @param dropped    Q of a level that scored below its predecessor
    *                   and was dropped, if any */
  final case class Result(assignment: Map[Long, Long], levels: Seq[Level],
      dropped: Option[Double])

  /** @param edges    undirected (a, b, w) rows with a != b
    * @param isolated vertices without edges */
  def run(edges: Seq[(Long, Long, Double)], isolated: Seq[Long] = Nil,
      maxLevels: Int = 10, maxMoveRounds: Int = 20, minDeltaQ: Double = 1e-4,
      resolution: Double = 1.0): Result = {
    var verts = (edges.flatMap(e => Seq(e._1, e._2)) ++ isolated).distinct.sorted
    var internal: Map[Long, Double] = verts.map(_ -> 0.0).toMap
    var es = edges
    val m2 = 2.0 * edges.map(_._3).sum
    var assignment: Map[Long, Long] = verts.map(v => v -> v).toMap
    val levels = mutable.ArrayBuffer.empty[Level]
    var dropped = Option.empty[Double]
    var prevQ = Double.MinValue
    var level = 0
    var continue = maxLevels > 0 && m2 > 0.0
    while (continue) {
      val nbrs = mutable.LongMap.empty[mutable.ArrayBuffer[(Long, Double)]]
      es.foreach { case (a, b, w) =>
        nbrs.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += ((b, w))
        nbrs.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += ((a, w))
      }
      val deg: Map[Long, Double] = verts.map { v =>
        v -> (nbrs.get(v).map(_.map(_._2).sum).getOrElse(0.0) + 2.0 * internal(v))
      }.toMap
      val (comm, moved) = localMove(verts, nbrs, deg, m2, maxMoveRounds, resolution)
      val wIn = es.collect { case (a, b, w) if comm(a) == comm(b) => w }.sum +
        internal.values.sum
      val sigma = verts.groupMapReduce(comm)(deg)(_ + _)
      val q = 2.0 * wIn / m2 - resolution * sigma.values.map(s => (s / m2) * (s / m2)).sum
      if (q < prevQ - 1e-12) {
        dropped = Some(q)
        continue = false
      } else {
        val nComm = sigma.size.toLong
        levels += Level(level, q, nComm, verts.size.toLong, moved)
        assignment = assignment.map { case (v, c) => v -> comm(c) }
        val improved = q > prevQ + minDeltaQ
        prevQ = q
        level += 1
        if (improved && level < maxLevels && nComm < verts.size) {
          // Compress: communities become vertices under their ids.
          val intra = es.collect { case (a, b, w) if comm(a) == comm(b) => (comm(a), w) }
          internal = (intra ++ internal.toSeq.map { case (v, w) => (comm(v), w) })
            .groupMapReduce(_._1)(_._2)(_ + _)
          es = es.collect {
            case (a, b, w) if comm(a) != comm(b) =>
              ((math.min(comm(a), comm(b)), math.max(comm(a), comm(b))), w)
          }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sorted
            .map { case ((a, b), w) => (a, b, w) }
          verts = internal.keys.toSeq.sorted
        } else continue = false
      }
    }
    Result(assignment, levels.toSeq, dropped)
  }

  /** Rounds of simultaneous moves from singletons; returns the final
    * communities and each round's moved count. */
  private def localMove(verts: Seq[Long],
      nbrs: mutable.LongMap[mutable.ArrayBuffer[(Long, Double)]],
      deg: Map[Long, Double], m2: Double, maxRounds: Int,
      resolution: Double): (Map[Long, Long], Seq[Long]) = {
    var comm: Map[Long, Long] = verts.map(v => v -> v).toMap
    val minProgress = verts.size / 1000L
    val moved = mutable.ArrayBuffer.empty[Long]
    var movedCount = Long.MaxValue
    while (moved.size < maxRounds && movedCount > minProgress) {
      val parity = moved.size % 2 == 0
      val sigma = verts.groupMapReduce(comm)(deg)(_ + _)
      val next = verts.map { v =>
        val own = comm(v)
        nbrs.get(v) match {
          case None => v -> own
          case Some(ns) =>
            val kIn = ns.groupMapReduce(u => comm(u._1))(_._2)(_ + _)
            val kI = deg(v)
            def gain(c: Long): Double = {
              val sigmaAdj = if (c == own) sigma(own) - kI else sigma(c)
              kIn.getOrElse(c, 0.0) - resolution * sigmaAdj * kI / m2
            }
            val stay = gain(own)
            var (bestComm, bestGain) = (own, stay)
            kIn.keys.toSeq.sorted.foreach { c =>
              val gn = gain(c)
              if (gn > bestGain + 1e-12 || (math.abs(gn - bestGain) <= 1e-12 && c < bestComm)) {
                bestComm = c; bestGain = gn
              }
            }
            val allowed = if (parity) bestComm < own else bestComm > own
            v -> (if (bestComm != own && bestGain > stay + 1e-12 && allowed) bestComm else own)
        }
      }.toMap
      movedCount = verts.count(v => next(v) != comm(v)).toLong
      moved += movedCount
      comm = next
    }
    (comm, moved.toSeq)
  }
}
