package graft.graph

import scala.collection.mutable

/** Driver-side exact Louvain over a BOUNDED in-memory (a, b, w) row
  * list: one primitive-array kernel behind every driver-side Louvain
  * caller. [[clusterWithLevels]] is the twin of [[Louvain.run]] for
  * `GraphOps.louvainFor` (g_louvain, g_modularity, g_leiden),
  * `GraphOps.louvainOnSuper` and the streaming fold's
  * `mergeLouvainDispatch`; [[localMoves]] runs the streaming drift
  * probes (merge probe from the identity, split probe under GLOBAL
  * degrees); [[degrees]] and [[ledger]] score the fold's readout.
  * Below the collect bound a GraphX Pregel launch per move round is
  * scheduling overhead for milliseconds of arithmetic; callers bound
  * the input, and this object never touches Spark.
  *
  * Layout (Blondel et al., J. Stat. Mech. 2008, reference code): each
  * level gives the sorted distinct endpoints dense indices, so index
  * order is ascending-id sweep order, and holds its adjacency as CSR
  * `offsets/neighbours/weights`. An a == b row is internal weight: it
  * never enters the adjacency and counts 2w in degree. A vertex visit
  * sums its weight into each neighbouring community in a dense
  * `neighWeight` scratch and lists the touched communities in
  * `neighPos`; a community counts as touched by a per-visit stamp,
  * not by a nonzero weight, so a zero-weight edge still makes its
  * community a candidate.
  *
  * Exactness: a move's gain is Δ(4m²·Q) in Long. Let
  * M = max(Σ|w| over the rows, |m|, Σ|d_v| / 2). Then |d_v| and every
  * |Σtot| are ≤ 2M, and the weight from v into a community and wOwn
  * are ≤ M, so 4m·Δw is ≤ 4M² and 2·d_v·ΔΣtot is ≤ 2M²
  * (|d_v| + |ΔΣtot| ≤ 2M); a gain is ≤ 6M². A call's summed gain is
  * F(end) − F(start) with F = 4m·w_in − Σ Σtot², and F lies in
  * [−8M², 4M²], so it is ≤ 12M²; the ledger is ≤ 8M². Contraction
  * keeps Σ|w| ≤ M at every level. Every intermediate is thus at most
  * 12M² in magnitude, and M ≤ [[MaxMass]] = 2^29 keeps that below
  * 2^63. [[fits]] is the one check of that bound: the kernel refuses
  * an input past it with `require`, and each twin site checks it
  * first and declines (None), so `Dispatch.gated` hands the input to
  * its distributed branch, as it does for fractional weights.
  *
  * Deterministic and row-order-insensitive: ascending sweeps, the
  * highest gain wins and among equal positive gains the smaller
  * community id wins (a rule whose result does not depend on scan
  * order), and communities take their smallest member's id.
  * LocalLouvainOracleSpec pins assignment, gain and level trail
  * against the map-and-BigInt engine this kernel replaced. */
object LocalLouvain {

  /** Cap on the ascending-id sweeps of one local-move phase. */
  val MaxPasses = 10

  /** Collect bound shared by every driver-side dispatch over a super
    * graph (the streaming fold, its drift estimator, and
    * louvainOnSuper itself): ≤ this many (a, b, w) rows collect and
    * run here; past it the distributed GraphX path takes over. */
  val CollectMax = 1L << 21

  /** Largest weight mass M the kernel takes (see the header): every
    * intermediate is at most 12M² < 2^63. */
  val MaxMass: Long = 1L << 29

  /** Σ|x| over `xs`, saturating at `cap` + 1 so it never wraps. */
  private def mass(xs: Iterator[Long], cap: Long): Long = {
    var s = 0L
    while (s <= cap && xs.hasNext) {
      val x = xs.next()
      val a = if (x < 0) -x else x // -Long.MinValue stays negative
      s = if (a < 0 || a > cap - s) cap + 1 else s + a
    }
    s
  }

  /** True when Σ|w| over `rows` is within [[MaxMass]], so every
    * [[clusterWithLevels]] intermediate fits a Long. */
  def fits(rows: Iterable[(Long, Long, Long)]): Boolean =
    mass(rows.iterator.map(_._3), MaxMass) <= MaxMass

  /** [[fits]] for a [[localMoves]] call with caller-supplied `m` and
    * degrees `degs`: M also covers |m| and Σ|d| / 2. */
  def fits(rows: Iterable[(Long, Long, Long)], m: Long, degs: Iterable[Long]): Boolean =
    fits(rows) && mass(Iterator(m), MaxMass) <= MaxMass &&
      mass(degs.iterator, 2 * MaxMass) <= 2 * MaxMass

  /** `size` (a, b, w) rows over dense vertex indices. */
  private final class Rows(val a: Array[Int], val b: Array[Int], val w: Array[Long],
      val size: Int)

  /** One level's CSR adjacency over dense vertex indices, with its
    * degrees (an a == b row counts 2w and adds no neighbour). */
  private final class Csr(val offsets: Array[Int], val neighbours: Array[Int],
      val weights: Array[Long], val degree: Array[Long])

  private def csr(n: Int, rows: Rows): Csr = {
    val offsets = new Array[Int](n + 1)
    val degree = new Array[Long](n)
    var i = 0
    while (i < rows.size) {
      val a = rows.a(i); val b = rows.b(i); val w = rows.w(i)
      if (a == b) degree(a) += 2 * w
      else {
        degree(a) += w; degree(b) += w
        offsets(a + 1) += 1; offsets(b + 1) += 1
      }
      i += 1
    }
    i = 0
    while (i < n) { offsets(i + 1) += offsets(i); i += 1 }
    val fill = java.util.Arrays.copyOf(offsets, n)
    val neighbours = new Array[Int](offsets(n))
    val weights = new Array[Long](offsets(n))
    i = 0
    while (i < rows.size) {
      val a = rows.a(i); val b = rows.b(i); val w = rows.w(i)
      if (a != b) {
        neighbours(fill(a)) = b; weights(fill(a)) = w; fill(a) += 1
        neighbours(fill(b)) = a; weights(fill(b)) = w; fill(b) += 1
      }
      i += 1
    }
    new Csr(offsets, neighbours, weights, degree)
  }

  /** Greedy one-level local moves over `g`, at most [[MaxPasses]]
    * ascending sweeps. `comm` holds dense community indices in
    * `[0, nComm)` whose order is community-id order, and is updated
    * in place. Returns the summed gain Δ(4m²·Q). */
  private def moves(g: Csr, m: Long, comm: Array[Int], nComm: Int): Long = {
    val n = g.degree.length
    val sumd = new Array[Long](nComm)
    var v = 0
    while (v < n) { sumd(comm(v)) += g.degree(v); v += 1 }
    val neighWeight = new Array[Long](nComm)
    val neighPos = new Array[Int](nComm)
    val stamp = new Array[Long](nComm)
    var visit = 0L
    val m4 = 4 * m
    var gain = 0L
    var moved = true
    var pass = 0
    while (moved && pass < MaxPasses) {
      moved = false
      pass += 1
      v = 0
      while (v < n) {
        val lo = g.offsets(v); val hi = g.offsets(v + 1)
        if (lo < hi) {
          visit += 1
          var k = 0
          var e = lo
          while (e < hi) {
            val c = comm(g.neighbours(e))
            if (stamp(c) != visit) {
              stamp(c) = visit; neighWeight(c) = 0L; neighPos(k) = c; k += 1
            }
            neighWeight(c) += g.weights(e)
            e += 1
          }
          val cv = comm(v)
          val dv = g.degree(v)
          val wOwn = if (stamp(cv) == visit) neighWeight(cv) else 0L // w(v, cv \ v)
          val rest = sumd(cv) - dv
          // Δ(4m²Q) of moving v from cv to c:
          //   4m·(w(v,c) − w(v,cv\v)) − 2·dv·(sumd(c) − (sumd(cv) − dv))
          var bestC = cv
          var bestG = 0L
          var i = 0
          while (i < k) {
            val c = neighPos(i)
            if (c != cv) {
              val gc = m4 * (neighWeight(c) - wOwn) - 2 * dv * (sumd(c) - rest)
              if (gc > bestG || (gc == bestG && gc > 0 && c < bestC)) {
                bestG = gc; bestC = c
              }
            }
            i += 1
          }
          if (bestG > 0) {
            sumd(cv) -= dv
            sumd(bestC) += dv
            comm(v) = bestC
            gain += bestG
            moved = true
          }
        }
        v += 1
      }
    }
    gain
  }

  /** Sorted distinct values of `xs`. */
  private def sortedDistinct(xs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(xs)
    var n = 0
    var i = 0
    while (i < xs.length) {
      if (n == 0 || xs(i) != xs(n - 1)) { xs(n) = xs(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(xs, n)
  }

  private def indexOf(ids: Array[Long], x: Long): Int = {
    val i = java.util.Arrays.binarySearch(ids, x)
    require(i >= 0, s"id $x is not in the index")
    i
  }

  /** `rows` with both ends replaced by their index in `ids`. */
  private def indexed(rows: Seq[(Long, Long, Long)], ids: Array[Long]): Rows = {
    val r = rows.size
    val out = new Rows(new Array[Int](r), new Array[Int](r), new Array[Long](r), r)
    var i = 0
    rows.foreach { case (a, b, w) =>
      out.a(i) = indexOf(ids, a); out.b(i) = indexOf(ids, b); out.w(i) = w; i += 1
    }
    out
  }

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
      m: Long, init: Map[Long, Long]): (Map[Long, Long], Long) = {
    val vid = init.keys.toArray
    java.util.Arrays.sort(vid)
    val degree = vid.map(v => deg.getOrElse(v, 0L))
    require(fits(edges, m, degree), s"weight mass past LocalLouvain.MaxMass ($MaxMass)")
    val cid = sortedDistinct(init.values.toArray)
    val base = csr(vid.length, indexed(edges, vid))
    val g = new Csr(base.offsets, base.neighbours, base.weights, degree)
    val comm = vid.map(v => indexOf(cid, init(v)))
    val gain = moves(g, m, comm, cid.length)
    val out = Map.newBuilder[Long, Long]
    var i = 0
    while (i < vid.length) { out += vid(i) -> cid(comm(i)); i += 1 }
    (out.result(), gain)
  }

  /** Weighted degree per vertex of super-graph rows (a, b, w): an
    * a == b row is internal weight and counts 2w, any other row w at
    * each end. The one reading of a row's degree in the library
    * (`csr` applies it to a level's arrays). */
  def degrees(rows: Iterable[(Long, Long, Long)]): Map[Long, Long] = {
    val deg = mutable.LongMap.empty[Long]
    def add(v: Long, w: Long): Unit = deg(v) = deg.getOrElse(v, 0L) + w
    rows.foreach { case (a, b, w) => if (a == b) add(a, 2 * w) else { add(a, w); add(b, w) } }
    deg.toMap
  }

  /** The exact modularity ledger 4m·Σw_in − Σ_c d_c² = 4m²·Q of
    * `assign`: w_in sums the rows whose ends share a community (an
    * a == b row counts w once), d_c sums `deg` over each community's
    * members. Exact in Long when the rows, `m` and `deg` [[fits]]. */
  def ledger(rows: Iterable[(Long, Long, Long)], deg: Map[Long, Long], m: Long,
      assign: Long => Long): Long = {
    var wIn = 0L
    rows.foreach { case (a, b, w) => if (assign(a) == assign(b)) wIn += w }
    val sumd = mutable.LongMap.empty[Long]
    deg.foreach { case (v, d) => val c = assign(v); sumd(c) = sumd.getOrElse(c, 0L) + d }
    wIn * 4 * m - sumd.valuesIterator.map(s => s * s).sum
  }

  /** Q from a ledger: one double division at the very end (the
    * modularityOf float rule). */
  def modularity(ledger: Long, m: Long): Double = q(ledger.toDouble, m.toDouble)

  private def q(ledger: Double, m: Double): Double = ledger / (4.0 * m * m)

  /** e6-scaled modularity (or modularity delta) from a ledger, or a
    * sum of ledger deltas past a Long. */
  def gainE6(gain4m2: BigInt, m: BigInt): Long =
    if (m == 0) 0L else math.round(q(gain4m2.toDouble, m.toDouble) * 1e6)

  /** Full multi-level Louvain over a BOUNDED in-memory super graph:
    * one-level [[localMoves]] from singletons, contract, repeat.
    *
    * Semantics: standard Louvain. Each level's communities take a
    * rank in order of their smallest member, whose id is the
    * community's canonical id (so streaming contraction's "community
    * ids are vertex ids" collision argument holds), and the level's
    * rows sum under (min, max) rank pairs into the next level, intra
    * mass folding into a == b rows. m is level-invariant; degrees are
    * recomputed per level with a == b rows counting twice. Returns
    * original vertex → final community plus the per-level
    * (level, Q, nCommunities, nVertices) trail [[Louvain.run]]
    * reports, under the same loop contract: record the level AFTER
    * its local moves, apply the moves to the composed assignment, and
    * contract and continue only while Q improved by
    * > [[Louvain.MinDeltaQ]], the graph still shrinks and fewer than
    * [[Louvain.MaxLevels]] levels ran. Sharing the GraphX engine's
    * bounds keeps louvainOnSuper's driver path from contracting
    * deeper than its distributed fallback. The GraphX engine also
    * drops a level whose Q fell below its predecessor's (its
    * simultaneous moves can lower Q); here every move is a sequential
    * exact positive gain, so every level is applied. Q per level is
    * the exact ledger over 4m², one double division, the modularityOf
    * convention. Requires [[fits]]. */
  def clusterWithLevels(rows: Seq[(Long, Long, Long)])
      : (Map[Long, Long], Seq[(Int, Double, Long, Long)]) = {
    require(fits(rows), s"weight mass past LocalLouvain.MaxMass ($MaxMass)")
    val ends = new Array[Long](2 * rows.size)
    var m = 0L
    var i = 0
    rows.foreach { row => ends(2 * i) = row._1; ends(2 * i + 1) = row._2; m += row._3; i += 1 }
    val orig = sortedDistinct(ends)
    var ids = orig
    var cur = indexed(rows, ids)
    // original vertex index → its vertex index at the current level
    val compose = Array.tabulate(orig.length)(identity)
    val levels = mutable.ArrayBuffer.empty[(Int, Double, Long, Long)]
    var prevQ = Double.MinValue
    var level = 0
    var continue = m > 0
    while (continue) {
      val n = ids.length
      val g = csr(n, cur)
      val comm = Array.tabulate(n)(identity)
      moves(g, m, comm, n)
      // Q of this level's partition on this level's graph — equal to
      // the composed assignment's Q on the original graph
      // (contraction invariance).
      var wIn = 0L
      i = 0
      while (i < cur.size) { if (comm(cur.a(i)) == comm(cur.b(i))) wIn += cur.w(i); i += 1 }
      val sumd = new Array[Long](n)
      i = 0
      while (i < n) { sumd(comm(i)) += g.degree(i); i += 1 }
      var sq = 0L
      i = 0
      while (i < n) { sq += sumd(i) * sumd(i); i += 1 }
      val q = modularity(wIn * 4 * m - sq, m)
      // Rank communities by smallest member: vertices ascend by id, so
      // the first member met is the smallest and its id is canonical.
      val rank = Array.fill(n)(-1)
      val next = mutable.ArrayBuilder.make[Long]
      var nComm = 0
      i = 0
      while (i < n) {
        val c = comm(i)
        if (rank(c) < 0) { rank(c) = nComm; next += ids(i); nComm += 1 }
        i += 1
      }
      levels += ((level, q, nComm.toLong, n.toLong))
      // Apply the level's moves to the composed assignment whether or
      // not the loop continues — the GraphX engine does the same for
      // every level that does not lower Q, which exact moves never do.
      i = 0
      while (i < compose.length) { compose(i) = rank(comm(compose(i))); i += 1 }
      ids = next.result()
      val improved = q > prevQ + Louvain.MinDeltaQ
      prevQ = q
      level += 1
      if (improved && level < Louvain.MaxLevels && nComm < n)
        cur = contract(nComm, cur, v => rank(comm(v)))
      else continue = false
    }
    val out = Map.newBuilder[Long, Long]
    i = 0
    while (i < orig.length) { out += orig(i) -> ids(compose(i)); i += 1 }
    (out.result(), levels.toSeq)
  }

  /** The rows summed under (min, max) pairs of `label`ed ends: bucket
    * by the smaller end, then sum each bucket's rows per larger end in
    * a dense scratch (a pair whose weights sum to 0 stays a row). */
  private def contract(n: Int, rows: Rows, label: Int => Int): Rows = {
    val r = rows.size
    val lo = new Array[Int](r); val hi = new Array[Int](r)
    val start = new Array[Int](n + 1)
    var i = 0
    while (i < r) {
      val x = label(rows.a(i)); val y = label(rows.b(i))
      lo(i) = math.min(x, y); hi(i) = math.max(x, y)
      start(lo(i) + 1) += 1
      i += 1
    }
    i = 0
    while (i < n) { start(i + 1) += start(i); i += 1 }
    val fill = java.util.Arrays.copyOf(start, n)
    val byLo = new Array[Int](r)
    i = 0
    while (i < r) { byLo(fill(lo(i))) = i; fill(lo(i)) += 1; i += 1 }
    val sum = new Array[Long](n)
    val seen = Array.fill(n)(-1)
    val touched = new Array[Int](n)
    val na = new Array[Int](r); val nb = new Array[Int](r); val nw = new Array[Long](r)
    var nr = 0
    var x = 0
    while (x < n) {
      var k = 0
      var j = start(x)
      while (j < start(x + 1)) {
        val e = byLo(j); val y = hi(e)
        if (seen(y) != x) { seen(y) = x; sum(y) = 0L; touched(k) = y; k += 1 }
        sum(y) += rows.w(e)
        j += 1
      }
      j = 0
      while (j < k) {
        val y = touched(j)
        na(nr) = x; nb(nr) = y; nw(nr) = sum(y); nr += 1
        j += 1
      }
      x += 1
    }
    new Rows(na, nb, nw, nr)
  }
}
