package graft.graph

import scala.collection.mutable

/** Driver-side exact-integer Louvain local moves over a BOUNDED
  * in-memory edge list — the estimator engine behind the streaming
  * Louvain drift audit (round 14; the round-13 verdict's top ask).
  *
  * The streaming fold's only failure mode is monotone OVER-COARSENING
  * (it merges super-vertices and can never split them), so drift is
  * exactly "structure the current partition should split or re-merge".
  * Both probes reduce to greedy modularity local moves over SMALL
  * in-memory graphs — the maintained super graph (merge probe) and
  * the probed communities' induced intra edges (split probe) — where
  * a distributed GraphX run would pay seconds of fixed scheduling for
  * milliseconds of arithmetic (the "many tiny ML fits are
  * SCHEDULING-bound" lesson, applied to graphs). Callers bound the
  * input (collect caps + deterministic vertex sampling); this object
  * never touches Spark.
  *
  * Exactness contract: gains are evaluated as Δ(4m²·Q) in BigInt —
  * no floats anywhere in the move loop — with the GLOBAL m and
  * GLOBAL degrees supplied by the caller, so a gain here is a gain
  * of the full graph's modularity (the Leiden-refinement objective,
  * not subgraph modularity, which splits too eagerly for small
  * communities). Deterministic: vertices sweep in ascending id
  * order; ties in gain break toward the smaller community id.
  */
object LocalLouvain {

  /** Cap on the ascending-id sweeps of one [[localMoves]] call. */
  val MaxPasses = 10

  /** Greedy one-level local moves: at most [[MaxPasses]] sweeps.
    *
    * @param edges undirected (a, b, w) rows; an a == b row is internal
    *              weight, a constant in Q, so the moves skip it (its
    *              degree contribution must already be in `deg`)
    * @param deg   GLOBAL weighted degree per vertex (2·self + Σ inc)
    * @param m     GLOBAL total edge weight (self-loops once)
    * @param init  starting assignment (vertex -> community); every
    *              edge endpoint must be present
    * @return (final assignment, total gain as Δ(4m²·Q) ≥ 0)
    */
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

  /** Weighted degree per vertex of super-graph rows (a, b, w): an
    * a == b row is internal weight and counts 2w, any other row w at
    * each end. The one reading of a row's degree in the library. */
  def degrees(rows: Iterable[(Long, Long, Long)]): Map[Long, Long] = {
    val deg = mutable.LongMap.empty[Long]
    def add(v: Long, w: Long): Unit = deg(v) = deg.getOrElse(v, 0L) + w
    rows.foreach { case (a, b, w) => if (a == b) add(a, 2 * w) else { add(a, w); add(b, w) } }
    deg.toMap
  }

  /** The exact modularity ledger 4m·Σw_in − Σ_c d_c² = 4m²·Q of
    * `assign`: w_in sums the rows whose ends share a community (an
    * a == b row counts w once), d_c sums `deg` over each community's
    * members. Every driver-side Q and Q delta is a ledger or a
    * difference of two. */
  def ledger(rows: Iterable[(Long, Long, Long)], deg: Map[Long, Long], m: BigInt,
      assign: Long => Long): BigInt = {
    var wIn = BigInt(0)
    rows.foreach { case (a, b, w) => if (assign(a) == assign(b)) wIn += w }
    val sumd = mutable.LongMap.empty[BigInt]
    deg.foreach { case (v, d) => val c = assign(v); sumd(c) = sumd.getOrElse(c, BigInt(0)) + d }
    wIn * 4 * m - sumd.values.map(s => s * s).sum
  }

  /** Q from a ledger: one double division at the very end (the
    * modularityOf float rule). */
  def modularity(ledger: BigInt, m: BigInt): Double =
    ledger.toDouble / (4.0 * m.toDouble * m.toDouble)

  /** e6-scaled modularity (or modularity delta) from a ledger. */
  def gainE6(gain4m2: BigInt, m: BigInt): Long =
    if (m == 0) 0L else math.round(modularity(gain4m2, m) * 1e6)

  /** Collect bound shared by every driver-side dispatch over a super
    * graph (the streaming fold, its drift estimator, and
    * louvainOnSuper itself): ≤ this many (a, b, w) rows collect and
    * run here; past it the distributed GraphX path takes over. */
  val CollectMax = 1L << 21

  /** Full multi-level Louvain over a BOUNDED in-memory super graph —
    * the driver-side dispatch target of [[graft.graph.GraphOps
    * .louvainOnSuper]] (round 14). The streaming fold's per-batch
    * super graphs are small (≤ batch edges, shrinking to communities²
    * as the fold converges), and a GraphX Pregel run on them is pure
    * scheduling overhead — measured ~8 s of the s_stream_louvain
    * fold's 32 s was four louvainOnSuper launches whose arithmetic is
    * milliseconds here (the "tiny fits are SCHEDULING-bound" lesson).
    *
    * Semantics: standard Louvain — one-level greedy [[localMoves]]
    * from singletons, contract (min-member canonical labels, summed
    * weights, intra mass folding into self-loops), repeat until a
    * level yields zero gain. m is level-invariant under contraction;
    * degrees are recomputed per level with self-loops counting twice.
    * Deterministic end to end (ascending sweeps, smaller-community
    * tie-breaks, min-member labels). Returns original vertex →
    * final community (a member's id, so streaming contraction's
    * "community ids are vertex ids" collision argument holds), plus
    * the per-level (level, Q, nCommunities, nVertices) trail
    * [[graft.graph.Louvain.run]] reports — the same
    * loop contract (record the level AFTER its local moves, apply
    * the moves to the composed assignment, contract and continue only
    * while Q improved by > [[Louvain.MinDeltaQ]], the graph still
    * shrinks and fewer than [[Louvain.MaxLevels]] levels ran), so
    * the driver dispatch is a drop-in for the GraphX engine's
    * (assignment, levels) pair. Sharing the GraphX engine's bounds
    * keeps louvainOnSuper's driver path from contracting deeper than
    * its distributed fallback, so partitions near the CollectMax
    * boundary never differ purely by dispatch path. The GraphX engine
    * also drops a level whose Q fell below its predecessor's (its
    * simultaneous moves can lower Q); here every move is a sequential
    * exact positive gain, so a level never lowers Q and every level
    * is applied. Q per level is the
    * exact-BigInt ledger (4m·Σw_in − Σ sumd²) / 4m² — one double
    * division, the modularityOf convention, so the "rescored final
    * level equals modularityOf" spec holds bit-closer than the
    * float-summed Pregel path it replaces. */
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
      // Q of this level's partition on this level's graph — equal to
      // the composed assignment's Q on the original graph
      // (contraction invariance).
      val q = modularity(ledger(cur, deg, m, assign), m)
      val nVert = init.size.toLong
      val nComm = assign.values.toSet.size.toLong
      levels += ((level, q, nComm, nVert))
      // Apply the level's moves to the composed assignment whether or
      // not the loop continues — the GraphX engine does the same for
      // every level that does not lower Q, which exact moves never do.
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
