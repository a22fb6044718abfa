package graft.graph

import java.io.{ObjectInputStream, ObjectOutputStream}
import scala.collection.mutable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.graphx._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** Per-vertex Louvain state.
  *
  * @param community         current community id (min member vertex id at init)
  * @param communitySigmaTot Σ of degrees k_j over the community's members;
  *                          inside a local-move phase it may lag by the
  *                          pending round's broadcast delta (see
  *                          [[Louvain]]'s scale notes)
  * @param internalWeight    self-loop weight folded into this vertex
  *                          (input self-loops, compressed
  *                          intra-community edges)
  * @param nodeWeight        Σ of incident (non-loop) edge weights
  * @param changed           moved in the last local-move round
  */
case class LouvainState(
    community: Long,
    communitySigmaTot: Double,
    internalWeight: Double,
    nodeWeight: Double,
    changed: Boolean) extends Serializable

/** One local-move round: how many vertices moved, how many
  * communities' Σtot changed (the broadcast delta's entries; 0 on the
  * shuffle branch, which recomputes every Σtot), and how Σtot was
  * refreshed, `"broadcast"` or `"shuffle"`. */
case class LouvainRound(round: Int, moved: Long, deltaEntries: Int, branch: String)

/** Per-level summary returned to the driver (scalars only — the
  * assignment itself stays distributed). `rounds` is the level's
  * local-move trail; the driver twin reports none. */
case class LouvainLevel(
    level: Int,
    modularity: Double,
    nCommunities: Long,
    nVertices: Long,
    rounds: Seq[LouvainRound] = Nil)

/** A vertex's Louvain message: for each distinct neighbouring
  * community, its Σtot and the summed edge weight into it, held in
  * parallel primitive arrays. Every edge endpoint sends a one-entry
  * message and merges add weights per community. Up to [[CommunityMsg.LinearMax]]
  * entries a lookup scans the ids; past that a transient
  * open-addressing index keeps each merged entry O(1) amortised, so a
  * hub vertex costs O(#neighbouring communities), not O(degree).
  * Serialization writes the live entries' primitives only. */
private[graph] final class CommunityMsg extends Serializable {
  @transient private var n = 0
  @transient private var ids: Array[Long] = _
  @transient private var sigmas: Array[Double] = _
  @transient private var weights: Array[Double] = _
  @transient private var index: Array[Int] = _

  def size: Int = n
  def community(i: Int): Long = ids(i)
  def sigmaTot(i: Int): Double = sigmas(i)
  def weight(i: Int): Double = weights(i)

  /** Slot of community `c`, or -1. */
  def indexOf(c: Long): Int =
    if (index != null) LongSlots.find(index, ids, c)
    else {
      var i = 0
      while (i < n && ids(i) != c) i += 1
      if (i < n) i else -1
    }

  private def alloc(cap: Int): Unit = {
    ids = new Array[Long](cap); sigmas = new Array[Double](cap); weights = new Array[Double](cap)
  }

  private def add(c: Long, s: Double, w: Double): Unit = {
    val i = indexOf(c)
    if (i >= 0) weights(i) += w
    else {
      if (n == ids.length) {
        val (i0, s0, w0) = (ids, sigmas, weights)
        alloc(2 * n)
        System.arraycopy(i0, 0, ids, 0, n)
        System.arraycopy(s0, 0, sigmas, 0, n)
        System.arraycopy(w0, 0, weights, 0, n)
      }
      ids(n) = c; sigmas(n) = s; weights(n) = w
      n += 1
      if (index != null && 2 * n <= index.length) LongSlots.place(index, ids, n - 1)
      else if (n > CommunityMsg.LinearMax) index = LongSlots.build(ids, n)
    }
  }

  /** Adds the smaller message's entries into the larger and returns it. */
  def merge(o: CommunityMsg): CommunityMsg =
    if (o.n > n) o.merge(this)
    else {
      var i = 0
      while (i < o.n) { add(o.ids(i), o.sigmas(i), o.weights(i)); i += 1 }
      this
    }

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    out.writeInt(n)
    var i = 0
    while (i < n) {
      out.writeLong(ids(i)); out.writeDouble(sigmas(i)); out.writeDouble(weights(i))
      i += 1
    }
  }

  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    n = in.readInt()
    alloc(math.max(n, 1))
    var i = 0
    while (i < n) {
      ids(i) = in.readLong(); sigmas(i) = in.readDouble(); weights(i) = in.readDouble()
      i += 1
    }
    if (n > CommunityMsg.LinearMax) index = LongSlots.build(ids, n)
  }
}

private[graph] object CommunityMsg {
  /** Entries a lookup scans linearly before the message indexes them. */
  val LinearMax = 16

  def apply(c: Long, sigmaTot: Double, w: Double): CommunityMsg = {
    val m = new CommunityMsg
    m.alloc(1)
    m.add(c, sigmaTot, w)
    m
  }
}

/** Open-addressing index over `ids(0 until n)`: each cell holds a
  * slot + 1 (0 = empty), linear probing, capacity a power of two at
  * least twice the entries. */
private[graph] object LongSlots {
  private def hash(c: Long): Int = {
    val x = c * 0x9E3779B97F4A7C15L
    (x ^ (x >>> 32)).toInt
  }

  def build(ids: Array[Long], n: Int): Array[Int] = {
    var cap = 64
    while (cap < 4 * n) cap <<= 1
    val t = new Array[Int](cap)
    var i = 0
    while (i < n) { place(t, ids, i); i += 1 }
    t
  }

  def place(t: Array[Int], ids: Array[Long], i: Int): Unit = {
    val mask = t.length - 1
    var h = hash(ids(i)) & mask
    while (t(h) != 0) h = (h + 1) & mask
    t(h) = i + 1
  }

  def find(t: Array[Int], ids: Array[Long], c: Long): Int = {
    val mask = t.length - 1
    var h = hash(c) & mask
    while (t(h) != 0) {
      val s = t(h) - 1
      if (ids(s) == c) return s
      h = (h + 1) & mask
    }
    -1
  }
}

/** One round's Σtot change per community id, as primitive arrays. */
private[graph] final class SigmaDelta(val ids: Array[Long], val deltas: Array[Double])
    extends Serializable {
  @transient private lazy val index = LongSlots.build(ids, ids.length)

  def apply(c: Long): Double = {
    val i = LongSlots.find(index, ids, c)
    if (i >= 0) deltas(i) else 0.0
  }
}

/** Task-side reader of a round's broadcast Σtot delta (null = none).
  * Each task deserializes its own copy and so reads the broadcast
  * once, not once per edge. */
private[graph] final class DeltaReader(bc: Broadcast[SigmaDelta]) extends Serializable {
  @transient private lazy val delta: SigmaDelta = if (bc == null) null else bc.value

  def isEmpty: Boolean = bc == null

  /** Drops executor copies; a later read fetches the value again. */
  def release(): Unit = if (bc != null) bc.unpersist(blocking = false)

  /** `st`'s community Σtot with the pending delta applied. */
  def sigmaTot(st: LouvainState): Double =
    if (bc == null) st.communitySigmaTot else st.communitySigmaTot + delta(st.community)
}

/** Multi-level Louvain modularity optimization (Blondel et al. 2008)
  * on GraphX.
  *
  * Level loop: (1) local-move phase — every vertex greedily joins the
  * neighboring community with the best modularity gain
  * ΔQ ∝ k_i,in − Σ_tot·k_i / 2m, iterated with Pregel-style
  * `aggregateMessages` rounds until movement stalls; (2) compression —
  * communities collapse to super-vertices (intra-community weight
  * becomes self-loop weight, inter-community edges sum), and the next
  * level runs on the smaller graph.
  *
  * Scale notes (100 TB): messages ([[CommunityMsg]]) carry one
  * (community, Σtot, weight) entry per *distinct neighboring
  * community* in primitive arrays, combined map-side by
  * `aggregateMessages`, so hub vertices cost O(#neighbor communities),
  * not O(degree); the graph shrinks geometrically per level; only
  * per-level scalar stats and, at levels of at most
  * [[LocalLouvain.CollectMax]] vertices, one Σtot delta per round
  * reach the driver. Such a level runs each round as one job of three
  * stages (ship changed vertices, send messages, collect): the action
  * collects the movers' per-community Σtot changes, the driver
  * broadcasts their sum, and the next round adds it wherever it reads
  * a Σtot. A delta is keyed by community ids, which are vertex ids of
  * the level's graph, so it never outgrows |V|. Larger levels refresh
  * every Σtot with a shuffle join instead. Oscillation is prevented
  * by alternating move parity (even rounds move only to lower
  * community ids, odd rounds only to higher), which also makes runs
  * deterministic — ties break toward the smaller community id.
  */
object Louvain extends Serializable {

  /** Dispatch site of the Σtot refresh: naming it (or `*`) in
    * [[Dispatch.DistributedKey]] makes every level refresh Σtot with
    * the shuffle join instead of the broadcast delta. */
  val SigmaSite = "louvainSigmaTot"

  /** Most levels one run builds. [[LocalLouvain.clusterWithLevels]]
    * shares it, so a driver-twin run never contracts deeper than its
    * GraphX fallback. */
  val MaxLevels = 10

  /** Cap on the local-move rounds of one level: measured on dense
    * graphs, rounds past ~20 move <5% of vertices each at full
    * per-round cost, and graph compression + the next (smaller,
    * cheaper) level recovers those refinements. */
  val MaxMoveRounds = 20

  /** A level whose Q beats its predecessor's by no more than this is
    * the last one built. [[LocalLouvain.clusterWithLevels]] shares it. */
  val MinDeltaQ = 1e-4

  /** Run Louvain: at most [[MaxLevels]] levels of at most
    * [[MaxMoveRounds]] local-move rounds each, stopping after a level
    * that improves Q by no more than [[MinDeltaQ]].
    *
    * resolution is the γ of generalized (Reichardt–Bornholdt)
    * modularity: gain ∝ k_i,in − γ·Σ_tot·k_i / 2m. γ = 1 is classic
    * Louvain; larger γ favors more, smaller communities; smaller γ
    * merges more aggressively.
    *
    * A level's moves are simultaneous (each vertex's gain assumes its
    * neighbours stay put), so a level can end below the Q it started
    * from. Such a level is dropped: the previous level's assignment
    * is returned, the level stays out of the trail, and the run stops.
    * The returned assignment therefore scores the best level's Q.
    *
    * Input contract: a vertex attribute is that vertex's internal
    * weight, and a self-loop edge (v, v, w) is internal weight too: it
    * adds w to the vertex's internal weight and 2w to its degree, and
    * it is never a move target. A graph with its loops given as edges
    * and the same graph with those weights given as vertex attributes
    * return the same result.
    *
    * @return (final vertexId → communityId assignment, per-level stats)
    */
  def run(
      graph: Graph[Double, Double],
      resolution: Double = 1.0): (RDD[(VertexId, Long)], Seq[LouvainLevel]) = {

    // m2 = 2m: every edge counts twice, every self-loop twice.
    var (working, release) = initialize(graph)
    val m2 = working.vertices
      .map { case (_, st) => st.nodeWeight + 2.0 * st.internalWeight }
      .sum()

    // vertexId → community at the ORIGINAL graph's granularity.
    var assignment: RDD[(VertexId, Long)] =
      working.vertices.map { case (id, _) => (id, id) }
    assignment.cache()

    val levels = mutable.ArrayBuffer[LouvainLevel]()
    var prevQ = Double.MinValue
    var level = 0
    var continue = m2 > 0.0

    while (continue) {
      val phase = localMove(working, m2, resolution)
      val moved = phase.graph
      val q = modularity(moved, m2, resolution)
      // modularity materialized moved's edge view; the graphs it was
      // derived from can go.
      phase.release()
      var next = Option.empty[(Graph[LouvainState, Double], () => Unit)]
      // A level below its predecessor's Q is dropped (see above).
      if (q >= prevQ - 1e-12) {
        val nComm = moved.vertices.map { case (_, st) => st.community }.distinct().count()
        val nVert = moved.vertices.count()
        levels += LouvainLevel(level, q, nComm, nVert, phase.rounds)

        // Fold this level's community mapping into the original-id assignment.
        val levelMap: RDD[(VertexId, Long)] =
          moved.vertices.map { case (id, st) => (id, st.community) }
        val newAssignment = assignment
          .map { case (orig, comm) => (comm, orig) }
          .join(levelMap)
          .map { case (_, (orig, newComm)) => (orig, newComm) }
        newAssignment.cache()
        newAssignment.count()
        assignment.unpersist(blocking = false)
        assignment = newAssignment

        val improved = q > prevQ + MinDeltaQ
        prevQ = q
        level += 1
        if (improved && level < MaxLevels && nComm < nVert) {
          val (compressed, releaseCompressed) = compress(moved)
          // Materialize BEFORE unpersisting the parents: compress() is
          // lazy, and letting the next level trigger it after the
          // unpersist would replay the whole local-move phase from
          // lineage — and a replay can tie-break differently (shuffle
          // order changes float summation), diverging from the
          // assignment recorded above and silently dropping vertices
          // at the next fold's inner join.
          compressed.vertices.count()
          compressed.edges.count()
          next = Some((compressed, releaseCompressed))
        }
      }
      working.unpersist(blocking = false)
      moved.unpersist(blocking = false)
      release()
      next.foreach { case (g, r) => working = g; release = r }
      continue = next.isDefined
    }
    (assignment, levels.toSeq)
  }

  /** Each vertex starts in its own community. A self-loop edge is
    * internal weight: its weight joins the vertex attribute in
    * internalWeight and the edge is dropped, so nodeWeight sums the
    * non-loop incident edges (one aggregateMessages pass) and the
    * degree, nodeWeight + 2·internal, counts a loop twice. The second
    * value frees `graph` and the intermediate states; call it once the
    * returned graph is materialized. */
  private def initialize(graph: Graph[Double, Double])
      : (Graph[LouvainState, Double], () => Unit) = {
    val weights: VertexRDD[(Double, Double)] = graph.aggregateMessages[(Double, Double)](
      ctx =>
        if (ctx.srcId == ctx.dstId) ctx.sendToSrc((0.0, ctx.attr))
        else { ctx.sendToSrc((ctx.attr, 0.0)); ctx.sendToDst((ctx.attr, 0.0)) },
      (a, b) => (a._1 + b._1, a._2 + b._2))
    val states = graph.outerJoinVertices(weights) { (id, attr, wOpt) =>
      val (w, loops) = wOpt.getOrElse((0.0, 0.0))
      val internal = attr + loops
      LouvainState(id, w + 2.0 * internal, internal, w, changed = false)
    }
    (states.subgraph(epred = t => t.srcId != t.dstId).cache(),
      () => { states.unpersist(blocking = false); graph.unpersist(blocking = false) })
  }

  private def degree(st: LouvainState): Double =
    st.nodeWeight + 2.0 * st.internalWeight

  /** A level's local-move result. `release` frees the graphs `graph`'s
    * edge view was derived from; call it once that view is
    * materialized. */
  private final case class Phase(
      graph: Graph[LouvainState, Double], rounds: Seq[LouvainRound], release: () => Unit)

  private def forcedShuffle: Boolean =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .exists(Dispatch.forcedDistributed(_, SigmaSite))

  /** A vertex's move for one round. The vertex's own community Σtot
    * comes from its state plus the pending delta; a mover takes its
    * target's pre-round Σtot from the message, so every stored Σtot
    * plus the next round's delta is that community's Σtot. */
  private def step(st: LouvainState, msg: Option[CommunityMsg], delta: DeltaReader,
      parity: Boolean, m2: Double, resolution: Double): LouvainState = {
    val sigmaOwn = delta.sigmaTot(st)
    msg match {
      case None => st.copy(communitySigmaTot = sigmaOwn, changed = false)
      case Some(m) =>
        val kI = degree(st)
        // Gain of being in a community (with self removed from Σtot).
        def gain(kIn: Double, sigmaAdj: Double): Double =
          kIn - resolution * sigmaAdj * kI / m2
        val own = m.indexOf(st.community)
        // The current community's Σtot comes from own state — the
        // message has no entry when no neighbor shares it.
        val stayGain = gain(if (own >= 0) m.weight(own) else 0.0, sigmaOwn - kI)
        // Best candidate: highest gain, ties to the smallest id.
        var best = -1
        var bestComm = st.community
        var bestGain = stayGain
        var i = 0
        while (i < m.size) {
          val c = m.community(i)
          val gn = if (c == st.community) stayGain else gain(m.weight(i), m.sigmaTot(i))
          if (gn > bestGain + 1e-12 || (math.abs(gn - bestGain) <= 1e-12 && c < bestComm)) {
            best = i; bestComm = c; bestGain = gn
          }
          i += 1
        }
        val allowed = if (parity) bestComm < st.community else bestComm > st.community
        if (bestComm != st.community && bestGain > stayGain + 1e-12 && allowed)
          st.copy(community = bestComm, communitySigmaTot = m.sigmaTot(best), changed = true)
        else st.copy(communitySigmaTot = sigmaOwn, changed = false)
    }
  }

  /** One level of greedy local moves. Alternating parity prevents
    * A↔B oscillation: even rounds only move to smaller community
    * ids, odd rounds only to larger. */
  private def localMove(
      start: Graph[LouvainState, Double],
      m2: Double,
      resolution: Double): Phase = {
    val nV = start.vertices.count()
    // Early-stop when the moving fraction drops below 0.1% of
    // vertices (floor 0 keeps small graphs iterating to a true
    // fixpoint): the modularity tail beyond that is noise, and each
    // extra round costs fixed scheduling latency at any scale.
    val minProgress = nV / 1000L
    val broadcastDelta = nV <= LocalLouvain.CollectMax && !forcedShuffle
    val sc = start.vertices.sparkContext
    val rounds = mutable.ArrayBuffer[LouvainRound]()
    var g = start
    // The Σtot change of the last round, not yet in g's states.
    var delta = new DeltaReader(null)
    // Materialization rule, as GraphX Pregel keeps prevG: a round's
    // new graph shares its predecessor's edge view plus the shipped
    // changed vertices, and that view is only built by the NEXT
    // round's action. So the graphs g was derived from stay cached
    // until the action of the round that consumes g has run. Freeing
    // them one round earlier makes every round replay the lineage of
    // all earlier rounds; a prototype's round time doubled each round.
    var older: Seq[Graph[LouvainState, Double]] = Nil
    var movedCount = Long.MaxValue
    while (rounds.size < MaxMoveRounds && movedCount > minProgress) {
      val round = rounds.size
      val parity = round % 2 == 0
      val d = delta
      val msgs: VertexRDD[CommunityMsg] = g.aggregateMessages[CommunityMsg](
        ctx => {
          ctx.sendToSrc(CommunityMsg(ctx.dstAttr.community, d.sigmaTot(ctx.dstAttr), ctx.attr))
          ctx.sendToDst(CommunityMsg(ctx.srcAttr.community, d.sigmaTot(ctx.srcAttr), ctx.attr))
        },
        (a, b) => a.merge(b))
      val movedGraph = g.outerJoinVertices(msgs) { (_, st, msg) =>
        step(st, msg, d, parity, m2, resolution)
      }

      val (next, entries) =
        if (broadcastDelta) {
          // The round's one action: per partition, the movers' Σtot
          // change per community (old −k, new +k) and their count.
          val next = movedGraph.cache()
          val parts = g.vertices.zipPartitions(next.vertices) { (before, after) =>
            val acc = mutable.LongMap.empty[Double]
            var moved = 0L
            after.foreach { case (id, st) =>
              val (id0, st0) = before.next()
              if (id != id0) throw new IllegalStateException(s"vertex order $id vs $id0")
              if (st.changed) {
                val k = degree(st)
                moved += 1
                acc(st0.community) = acc.getOrElse(st0.community, 0.0) - k
                acc(st.community) = acc.getOrElse(st.community, 0.0) + k
              }
            }
            val (ids, ds) = acc.toArray.unzip
            Iterator((ids, ds, moved))
          }.collect()
          val sum = mutable.LongMap.empty[Double]
          movedCount = 0L
          parts.foreach { case (ids, ds, n) =>
            movedCount += n
            var i = 0
            while (i < ids.length) { sum(ids(i)) = sum.getOrElse(ids(i), 0.0) + ds(i); i += 1 }
          }
          val (ids, ds) = sum.toArray.filter(_._2 != 0.0).unzip
          delta = new DeltaReader(
            if (ids.isEmpty) null else sc.broadcast(new SigmaDelta(ids, ds)))
          (next, ids.length)
        } else {
          // Refresh Σtot per community after the moves (one small
          // shuffle keyed by community id); the count below is the
          // round's materializing action.
          val sigmaTots: RDD[(Long, Double)] = movedGraph.vertices
            .map { case (_, st) => (st.community, degree(st)) }
            .reduceByKey(_ + _)
          val vertexSigma: RDD[(VertexId, Double)] = movedGraph.vertices
            .map { case (id, st) => (st.community, id) }
            .join(sigmaTots)
            .map { case (_, (id, sigma)) => (id, sigma) }
          val withSigma = movedGraph.outerJoinVertices(vertexSigma) { (id, st, sOpt) =>
            st.copy(communitySigmaTot = sOpt.getOrElse(degree(st)))
          }.cache()
          movedCount = withSigma.vertices.filter { case (_, st) => st.changed }.count()
          (withSigma, 0)
        }
      rounds += LouvainRound(round, movedCount, entries, if (broadcastDelta) "broadcast" else "shuffle")
      // g's edge view is materialized now: what it was derived from
      // goes; next's view derives from g (and the shuffle branch's
      // intermediate graph).
      older.foreach(_.unpersist(blocking = false))
      older = Seq(g).filter(_ ne start) ++ Seq(movedGraph).filter(_ ne next)
      d.release()
      g = next
    }
    // Fold the pending delta into the states once, so the returned
    // graph's Σtot are exact for modularity and compress.
    val d = delta
    val out =
      if (d.isEmpty) g
      else g.mapVertices((_, st) => st.copy(communitySigmaTot = d.sigmaTot(st))).cache()
    val stale = older ++ Seq(g).filter(h => (h ne out) && (h ne start))
    Phase(out, rounds.toSeq, () => { stale.foreach(_.unpersist(blocking = false)); d.release() })
  }

  /** Generalized modularity Q = Σ_c [ W_in(c)/m − γ·(Σ_tot(c)/2m)² ]
    * where W_in counts intra-community edge weight plus
    * vertex-internal (self loop) weight, and Σ_tot sums member
    * degrees. γ = 1 is the classic Newman–Girvan Q. */
  def modularity(g: Graph[LouvainState, Double], m2: Double,
      resolution: Double = 1.0): Double = {
    val intraEdge = g.triplets
      .filter(t => t.srcAttr.community == t.dstAttr.community)
      .map(_.attr)
      .sum()
    val internal = g.vertices.map { case (_, st) => st.internalWeight }.sum()
    val wIn = intraEdge + internal
    val sigmaSq = g.vertices
      .map { case (_, st) => (st.community, degree(st)) }
      .reduceByKey(_ + _)
      .map { case (_, s) => (s / m2) * (s / m2) }
      .sum()
    2.0 * wIn / m2 - resolution * sigmaSq
  }

  /** Collapse communities to super-vertices: one pass keys every
    * edge by its (min, max) community pair and every vertex's internal
    * weight by (c, c), one reduceByKey sums them, and [[initialize]]
    * reads the (c, c) rows as the super-vertex's internal weight. */
  private def compress(g: Graph[LouvainState, Double])
      : (Graph[LouvainState, Double], () => Unit) = {
    val pairs: RDD[((Long, Long), Double)] = g.triplets
      .map { t =>
        val (a, b) = (t.srcAttr.community, t.dstAttr.community)
        ((math.min(a, b), math.max(a, b)), t.attr)
      }
      .union(g.vertices.map { case (_, st) => ((st.community, st.community), st.internalWeight) })
    val edges = pairs.reduceByKey(_ + _, g.edges.getNumPartitions)
      .map { case ((a, b), w) => Edge(a, b, w) }
    initialize(Graph.fromEdges(edges, 0.0).partitionBy(PartitionStrategy.EdgePartition2D))
  }
}
