package graft.graph

import scala.collection.mutable

/** Test-only oracle for [[LocalLouvain]]: the map-and-BigInt engine
  * the array kernel replaced, kept as it was (a `LongMap` adjacency of
  * boxed tuples, a fresh `LongMap` per vertex visit, every gain in
  * BigInt, contraction by `groupBy`). The kernel must return the same
  * assignment, gain and level trail on every input within its bound,
  * as [[LouvainReplica]] pins the GraphX engine. */
object LocalLouvainOracle {

  val MaxPasses = 10

  def localMoves(edges: Seq[(Long, Long, Long)], deg: Map[Long, Long],
      m: BigInt, init: Map[Long, Long]): (Map[Long, Long], BigInt) = {
    val adj = mutable.LongMap.empty[mutable.ArrayBuffer[(Long, Long)]]
    edges.foreach { case (a, b, w) =>
      if (a != b) {
        adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty) += ((b, w))
        adj.getOrElseUpdate(b, mutable.ArrayBuffer.empty) += ((a, w))
      }
    }
    val comm = mutable.LongMap.empty[Long]
    init.foreach { case (v, c) => comm(v) = c }
    val sumd = mutable.LongMap.empty[BigInt].withDefaultValue(BigInt(0))
    init.keys.foreach(v => sumd(comm(v)) += BigInt(deg.getOrElse(v, 0L)))
    val verts = init.keys.toArray.sorted
    val m4 = 4 * m
    var gain = BigInt(0)
    var moved = true
    var pass = 0
    while (moved && pass < MaxPasses) {
      moved = false
      pass += 1
      verts.foreach { v =>
        val nbrs = adj.getOrElse(v, mutable.ArrayBuffer.empty)
        if (nbrs.nonEmpty) {
          val cv = comm(v)
          val dv = BigInt(deg.getOrElse(v, 0L))
          // weight from v into each neighboring community (and cv)
          val wTo = mutable.LongMap.empty[Long].withDefaultValue(0L)
          nbrs.foreach { case (u, w) => wTo(comm(u)) += w }
          val wOwn = BigInt(wTo(cv)) // w(v, cv \ v)
          // Δ(4m²Q) of moving v from cv to c:
          //   4m·(w(v,c) − w(v,cv\v)) − 2·dv·(sumd(c) − (sumd(cv) − dv))
          var bestC = cv
          var bestG = BigInt(0)
          wTo.foreach { case (c, wvc) =>
            if (c != cv) {
              val g = m4 * (BigInt(wvc) - wOwn) -
                2 * dv * (sumd(c) - (sumd(cv) - dv))
              if (g > bestG || (g == bestG && g > 0 && c < bestC)) {
                bestG = g; bestC = c
              }
            }
          }
          if (bestG > 0) {
            sumd(cv) -= dv
            sumd(bestC) += dv
            comm(v) = bestC
            gain += bestG
            moved = true
          }
        }
      }
    }
    (comm.toMap.map(identity), gain)
  }

  def degrees(rows: Iterable[(Long, Long, Long)]): Map[Long, Long] = {
    val deg = mutable.LongMap.empty[Long]
    def add(v: Long, w: Long): Unit = deg(v) = deg.getOrElse(v, 0L) + w
    rows.foreach { case (a, b, w) => if (a == b) add(a, 2 * w) else { add(a, w); add(b, w) } }
    deg.toMap
  }

  def ledger(rows: Iterable[(Long, Long, Long)], deg: Map[Long, Long], m: BigInt,
      assign: Long => Long): BigInt = {
    var wIn = BigInt(0)
    rows.foreach { case (a, b, w) => if (assign(a) == assign(b)) wIn += w }
    val sumd = mutable.LongMap.empty[BigInt]
    deg.foreach { case (v, d) => val c = assign(v); sumd(c) = sumd.getOrElse(c, BigInt(0)) + d }
    wIn * 4 * m - sumd.values.map(s => s * s).sum
  }

  def modularity(ledger: BigInt, m: BigInt): Double =
    ledger.toDouble / (4.0 * m.toDouble * m.toDouble)

  def clusterWithLevels(rows: Seq[(Long, Long, Long)])
      : (Map[Long, Long], Seq[(Int, Double, Long, Long)]) = {
    val m = rows.iterator.map(r => BigInt(r._3)).sum
    var cur = rows
    var compose: Map[Long, Long] =
      rows.flatMap(r => Seq(r._1, r._2)).distinct.map(v => v -> v).toMap
    val levels = mutable.ArrayBuffer.empty[(Int, Double, Long, Long)]
    var prevQ = Double.MinValue
    var level = 0
    var continue = m > 0
    while (continue) {
      val deg = degrees(cur)
      val init = deg.keys.map(v => v -> v).toMap
      val (assign, _) = localMoves(cur, deg, m, init)
      val q = modularity(ledger(cur, deg, m, assign), m)
      val nVert = init.size.toLong
      val nComm = assign.values.toSet.size.toLong
      levels += ((level, q, nComm, nVert))
      val canon: Map[Long, Long] = assign.groupBy(_._2).iterator
        .flatMap { case (_, ms) =>
          val mn = ms.keys.min; ms.keys.map(_ -> mn)
        }.toMap
      compose = compose.map { case (v, sv) => v -> canon(sv) }
      val improved = q > prevQ + Louvain.MinDeltaQ
      prevQ = q
      level += 1
      if (improved && level < Louvain.MaxLevels && nComm < nVert) {
        cur = cur.groupBy { r =>
          val (x, y) = (canon(r._1), canon(r._2))
          (math.min(x, y), math.max(x, y))
        }.iterator.map { case ((a, b), rs) => (a, b, rs.map(_._3).sum) }.toSeq
      } else continue = false
    }
    (compose, levels.toSeq)
  }
}
