package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Driver-side twins of the BOUNDED similarity hot paths (round 20 —
  * the round-14 measured-dispatch family applied to the kNN build
  * surface). Piece-profiled at sf0.1 (n = 2000): the exact all-pairs
  * scoring spends ~2.7 s in BroadcastNestedLoopJoin row machinery for
  * ~0.26 GFLOP of dot products, and the test-scale LSH candidate
  * build ~8 s in band self-join + dedup + lookup-join shuffles — the
  * plan-compile/scheduling-bound family, not compute. Each twin
  * below replicates its DataFrame path's arithmetic EXACTLY:
  *
  *  - vectors widen float→double per element exactly as
  *    CosineSim/InnerProduct do (`getFloat(i).toDouble`);
  *  - sim = dot / (sqrt(Σa²) · sqrt(Σb²)) with the same ascending
  *    fold order (the hoisted-norm form the DF paths now compute);
  *  - e4 scores replicate Spark's `round(x, 0)` HALF_UP BigDecimal
  *    semantics then cast-to-long truncation;
  *  - band keys come from the SAME fold loop as the SignLshKeys
  *    expression (shared static `SignLshKeys.compute` derivation —
  *    the signs are re-derived from the identical md5 bridge);
  *  - top-k and rev-rank tiebreaks use `java.lang.Double.compare`
  *    (Spark's sort order, NaN greatest).
  *
  * LocalSimSpec pins twin == forced-distributed rows for every gate;
  * the DataFrame paths stay verbatim as the at-scale shapes.
  */
private[operators] object LocalSim {

  /** Collected corpus, sorted by vec_id (deterministic emission
    * order), with hoisted norms. */
  final class Corpus(val ids: Array[Long], val vecs: Array[Array[Double]]) {
    val norms: Array[Double] = vecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    val idx: mutable.LongMap[Int] = {
      val m = mutable.LongMap.empty[Int]
      var i = 0
      while (i < ids.length) { m(ids(i)) = i; i += 1 }
      m
    }
    def n: Int = ids.length
    def sim(a: Int, b: Int): Double = {
      val va = vecs(a); val vb = vecs(b)
      val n = math.min(va.length, vb.length)
      var dot = 0.0; var i = 0
      while (i < n) { dot += va(i) * vb(i); i += 1 }
      dot / (norms(a) * norms(b))
    }
  }

  /** Collected (vec_id, embedding) rows sorted by vec_id; floats widen
    * exactly as the expressions do. Caller gates the size. */
  def corpusOf(rows: Array[Row]): Corpus = {
    val sorted = rows.sortBy(_.getLong(0))
    new Corpus(sorted.map(_.getLong(0)), sorted.map(_.getSeq[Any](1).iterator.map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray))
  }

  /** Spark `round(x * 1e4, 0).cast("long")` — HALF_UP BigDecimal on
    * the double (Spark's RoundBase passes NaN/Inf through; the long
    * cast then truncates, NaN → 0). */
  def roundE4(x: Double): Long = {
    val scaled = x * 1e4
    if (scaled.isNaN || scaled.isInfinite) scaled.toLong
    else java.math.BigDecimal.valueOf(scaled)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
  }

  /** Schema precondition shared by every twin gate: Long ids and a
    * float/double vector column the widening loop understands. */
  def twinnable(emb: DataFrame): Boolean = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType}
    emb.schema.fieldNames.contains("vec_id") &&
      emb.schema.fieldNames.contains("embedding") &&
      emb.schema("vec_id").dataType == LongType &&
      (emb.schema("embedding").dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      })
  }

  /** Fixed-size worker fan-out over [0, n) with deterministic
    * per-index output slots. */
  private def parForeach(n: Int)(f: Int => Unit): Unit = {
    val threads = math.max(1,
      math.min(Runtime.getRuntime.availableProcessors(), 32))
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val errs = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val ts = (0 until threads).map(_ => new Thread(() => {
      try {
        var i = next.getAndIncrement()
        while (i < n && errs.get() == null) { f(i); i = next.getAndIncrement() }
      } catch { case t: Throwable => errs.compareAndSet(null, t) }
    }))
    ts.foreach(_.start()); ts.foreach(_.join())
    if (errs.get() != null) throw errs.get()
  }

  /** Insertion top-k by (sim DESC, id ASC) — the topKEdges order. */
  private final class TopK(k: Int) {
    val simA = new Array[Double](k)
    val idA = new Array[Long](k)
    var size = 0
    private def worse(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
      val c = java.lang.Double.compare(s2, s1)
      if (c != 0) c > 0 else i1 > i2
    }
    def offer(sim: Double, id: Long): Unit = {
      if (size < k || worse(simA(size - 1), idA(size - 1), sim, id)) {
        var pos = math.min(size, k - 1)
        while (pos > 0 && worse(simA(pos - 1), idA(pos - 1), sim, id)) {
          simA(pos) = simA(pos - 1); idA(pos) = idA(pos - 1); pos -= 1
        }
        simA(pos) = sim; idA(pos) = id
        if (size < k) size += 1
      }
    }
  }

  /** Mirror of the exact branch: all-pairs scores, per-vector top-k.
    * Rows (vec_id, neighbor_id, rank, sim_e4) in (vec_id, rank)
    * order. */
  def exactTopK(c: Corpus, k: Int): Seq[(Long, Long, Int, Long)] = {
    val tops = new Array[TopK](c.n)
    parForeach(c.n) { i =>
      val t = new TopK(k)
      var j = 0
      while (j < c.n) {
        if (j != i) t.offer(c.sim(i, j), c.ids(j))
        j += 1
      }
      tops(i) = t
    }
    emitTopK(c, tops)
  }

  private def emitTopK(c: Corpus, tops: Array[TopK])
      : Seq[(Long, Long, Int, Long)] = {
    val out = Seq.newBuilder[(Long, Long, Int, Long)]
    var i = 0
    while (i < c.n) {
      val t = tops(i)
      var r = 0
      while (r < t.size) {
        out += ((c.ids(i), t.idA(r), r + 1, roundE4(t.simA(r))))
        r += 1
      }
      i += 1
    }
    out.result()
  }

  /** Mirror of cosineThresholdPairs' exact branch: (src, dst) with
    * src < dst and roundE4(sim) ≥ minSimE4, in (src, dst) order. */
  def thresholdPairs(c: Corpus, minSimE4: Long): Seq[(Long, Long)] = {
    val parts = new Array[mutable.ArrayBuffer[(Long, Long)]](c.n)
    parForeach(c.n) { i =>
      val buf = mutable.ArrayBuffer.empty[(Long, Long)]
      var j = i + 1 // ids sorted ⇒ index order IS id order
      while (j < c.n) {
        if (roundE4(c.sim(i, j)) >= minSimE4) buf += ((c.ids(i), c.ids(j)))
        j += 1
      }
      parts(i) = buf
    }
    parts.toSeq.flatten
  }

  /** Band keys per vector — the SignLshKeys.compute loop over the
    * widened doubles (bit-identical ±x_d fold; signs from the same
    * md5 bridge). */
  private def bandKeys(v: Array[Double], signs: Array[Array[Boolean]],
      dim: Int, bands: Int, rows: Int): Array[Long] = {
    val n = math.min(v.length, dim)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var key = 0L
      var r = 0
      while (r < rows) {
        val s = signs(b * rows + r)
        var dot = 0.0
        var d = 0
        while (d < n) { dot += (if (s(d)) v(d) else -v(d)); d += 1 }
        if (dot > 0.0) key |= (1L << r)
        r += 1
      }
      out(b) = key
      b += 1
    }
    out
  }

  private def signsOf(dim: Int, bands: Int, rows: Int): Array[Array[Boolean]] =
    Array.tabulate(bands * rows) { p =>
      val b = p / rows; val r = p % rows
      Array.tabulate(dim)(d =>
        (graft.functions.MinHashSig.bridge60(s"lsh:$b:$r:$d") & 1L) == 1L)
    }

  /** Per-band buckets: (band, key) → member indices. */
  private def bucketsOf(c: Corpus, dim: Int, bands: Int, rows: Int)
      : Array[mutable.LongMap[mutable.ArrayBuilder.ofInt]] = {
    val signs = signsOf(dim, bands, rows)
    val keys = new Array[Array[Long]](c.n)
    parForeach(c.n)(i => keys(i) = bandKeys(c.vecs(i), signs, dim, bands, rows))
    val buckets =
      Array.fill(bands)(mutable.LongMap.empty[mutable.ArrayBuilder.ofInt])
    var i = 0
    while (i < c.n) {
      var b = 0
      while (b < bands) {
        buckets(b).getOrElseUpdate(keys(i)(b),
          new mutable.ArrayBuilder.ofInt) += i
        b += 1
      }
      i += 1
    }
    buckets
  }

  /** Mirror of knnGraphFrom(emb, lshCandidatePairsBanded(emb, bands,
    * rows), k): per vector, top-k over its deduped band-collision
    * candidates. */
  def lshTopK(c: Corpus, dim: Int, bands: Int, rows: Int, k: Int)
      : Seq[(Long, Long, Int, Long)] = {
    // candidate membership per vector: all co-bucketed indices,
    // sort-deduped (the DF path's dropDuplicates)
    val perVec = Array.fill(c.n)(new mutable.ArrayBuilder.ofInt)
    bucketsOf(c, dim, bands, rows).foreach(_.foreach { case (_, bld) =>
      val members = bld.result()
      members.foreach(i => perVec(i) ++= members)
    })
    val tops = new Array[TopK](c.n)
    parForeach(c.n) { i =>
      val raw = perVec(i).result()
      java.util.Arrays.sort(raw)
      val t = new TopK(k)
      var p = 0
      var last = -1
      while (p < raw.length) {
        val j = raw(p)
        if (j != i && j != last) { t.offer(c.sim(i, j), c.ids(j)); last = j }
        p += 1
      }
      tops(i) = t
    }
    emitTopK(c, tops)
  }

  /** Mirror of embedDup: band-collision pairs (a < b by id), scored,
    * thresholded, distinct, in (vec_a, vec_b) order. Rows
    * (vec_a, vec_b, cos_e4). */
  def embedDupPairs(c: Corpus, dim: Int, bands: Int, rows: Int,
      minSimE4: Long): Seq[(Long, Long, Long)] = {
    val enc = new mutable.ArrayBuilder.ofLong
    bucketsOf(c, dim, bands, rows).foreach(_.foreach { case (_, bld) =>
      val members = bld.result()
      var a = 0
      while (a < members.length) {
        var b = a + 1
        while (b < members.length) {
          // ids sorted ⇒ id order is index order
          val lo = math.min(members(a), members(b))
          val hi = math.max(members(a), members(b))
          enc += (lo.toLong << 32) | hi.toLong
          b += 1
        }
        a += 1
      }
    })
    val raw = enc.result()
    java.util.Arrays.sort(raw)
    val pairs = new mutable.ArrayBuilder.ofLong
    var p = 0
    var last = -1L
    while (p < raw.length) {
      if (raw(p) != last) { pairs += raw(p); last = raw(p) }
      p += 1
    }
    val uniq = pairs.result()
    val out = new Array[(Long, Long, Long)](uniq.length)
    parForeach(uniq.length) { q =>
      val i = (uniq(q) >>> 32).toInt
      val j = (uniq(q) & 0xffffffffL).toInt
      val e4 = roundE4(c.sim(i, j))
      out(q) = if (e4 >= minSimE4) (c.ids(i), c.ids(j), e4) else null
    }
    out.filter(_ != null).toSeq
  }

  /** Mirror of cosineThresholdPairs' LSH branch: deduped band-
    * collision pairs (src < dst by id) whose e4 score passes. */
  def lshThresholdPairs(c: Corpus, dim: Int, bands: Int, rows: Int,
      minSimE4: Long): Seq[(Long, Long)] =
    embedDupPairs(c, dim, bands, rows, minSimE4).map(t => (t._1, t._2))

  /** Mirror of knnGraphFrom over a collected candidate-pair array:
    * self-pairs and ids missing from the corpus drop (the DF filter +
    * inner joins), duplicates dedupe, per-vector top-k. */
  def pairsTopK(c: Corpus, pairs: Array[(Long, Long)], k: Int)
      : Seq[(Long, Long, Int, Long)] = {
    // encode (corpus index, corpus index) pairs; sort-dedupe globally
    val enc = new mutable.ArrayBuilder.ofLong
    pairs.foreach { case (v, cand) =>
      if (v != cand && c.idx.contains(v) && c.idx.contains(cand))
        enc += (c.idx(v).toLong << 32) | c.idx(cand).toLong
    }
    val raw = enc.result()
    java.util.Arrays.sort(raw)
    val tops = mutable.LinkedHashMap.empty[Int, TopK]
    var p = 0
    var last = -1L
    while (p < raw.length) {
      if (raw(p) != last) {
        last = raw(p)
        val i = (raw(p) >>> 32).toInt
        val j = (raw(p) & 0xffffffffL).toInt
        tops.getOrElseUpdate(i, new TopK(k)).offer(c.sim(i, j), c.ids(j))
      }
      p += 1
    }
    val out = Seq.newBuilder[(Long, Long, Int, Long)]
    tops.toSeq.sortBy(_._1).foreach { case (i, t) =>
      var r = 0
      while (r < t.size) {
        out += ((c.ids(i), t.idA(r), r + 1, roundE4(t.simA(r))))
        r += 1
      }
    }
    out.result()
  }

  /** Mirror of beamSearchFrom over collected parts: seeds dedupe,
    * `rounds` expansions through the symmetrized edge list with
    * re-scored survivors, top-`beamWidth` per round by
    * (sim DESC, id ASC), final top-k with rank + e4 score. Queries
    * carry their own (widened) vectors; candidate ids missing from
    * the corpus drop (the scorer's inner join), self-pairs drop. */
  def beamTopK(c: Corpus, edges: Array[(Long, Long)],
      queries: Array[(Long, Array[Double])], seeds: Array[(Long, Long)],
      k: Int, beamWidth: Int, rounds: Int): Seq[(Long, Long, Int, Long)] = {
    // symmetric adjacency over corpus indices (edges referencing ids
    // outside the corpus cannot score anyway — the expand join only
    // needs members that exist)
    val adj = mutable.LongMap.empty[mutable.ArrayBuilder.ofLong]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, new mutable.ArrayBuilder.ofLong) += b
      adj.getOrElseUpdate(b, new mutable.ArrayBuilder.ofLong) += a
    }
    val adjA = adj.map { case (v, bld) => v -> bld.result() }
    val qnorm = queries.map { case (_, qv) =>
      var s = 0.0; var i = 0
      while (i < qv.length) { s += qv(i) * qv(i); i += 1 }
      math.sqrt(s)
    }
    def qsim(qi: Int, j: Int): Double = {
      val qv = queries(qi)._2; val vb = c.vecs(j)
      val n = math.min(qv.length, vb.length)
      var dot = 0.0; var i = 0
      while (i < n) { dot += qv(i) * vb(i); i += 1 }
      dot / (qnorm(qi) * c.norms(j))
    }
    val out = new Array[Seq[(Long, Long, Int, Long)]](queries.length)
    parForeach(queries.length) { qi =>
      val qid = queries(qi)._1
      var beamIds: Set[Long] =
        seeds.iterator.filter(_._1 == qid).map(_._2).toSet
      var beam: TopK = null
      def rescore(cand: Set[Long]): TopK = {
        val t = new TopK(beamWidth)
        cand.foreach { id =>
          if (id != qid)
            c.idx.get(id).foreach(j => t.offer(qsim(qi, j), id))
        }
        t
      }
      beam = rescore(beamIds)
      for (_ <- 1 to rounds) {
        beamIds = (0 until beam.size).map(beam.idA).toSet
        val cand = beamIds ++ beamIds.iterator.flatMap(id =>
          adjA.getOrElse(id, Array.emptyLongArray))
        beam = rescore(cand)
      }
      val rows = Seq.newBuilder[(Long, Long, Int, Long)]
      var r = 0
      while (r < math.min(beam.size, k)) {
        rows += ((qid, beam.idA(r), r + 1, roundE4(beam.simA(r))))
        r += 1
      }
      out(qi) = rows.result()
    }
    out.toSeq.flatten
  }

  /** Mirror of hnswDescend's layer loop: per level, the entry beam
    * expands through edges whose BOTH endpoints sit at lvl ≥ l and
    * keeps the best `descentWidth` per query; the final entry set
    * seeds [[beamTopK]] over the layer-0 edges. */
  def hnswDescendTopK(c: Corpus, refined: Array[(Long, Long)],
      levels: Array[(Long, Int)], maxLevel: Int,
      queries: Array[(Long, Array[Double])], k: Int, descentWidth: Int,
      beamWidth: Int, beamRounds: Int): Seq[(Long, Long, Int, Long)] = {
    val lvl = mutable.LongMap.empty[Int]
    levels.foreach { case (v, l) => lvl(v) = l }
    val topLvl = if (levels.isEmpty) 0 else levels.iterator.map(_._2).max
    val top = levels.iterator.filter(_._2 >= topLvl).map(_._1).toArray
    val qnorm = queries.map { case (_, qv) =>
      var s = 0.0; var i = 0
      while (i < qv.length) { s += qv(i) * qv(i); i += 1 }
      math.sqrt(s)
    }
    def qsim(qi: Int, j: Int): Double = {
      val qv = queries(qi)._2; val vb = c.vecs(j)
      val n = math.min(qv.length, vb.length)
      var dot = 0.0; var i = 0
      while (i < n) { dot += qv(i) * vb(i); i += 1 }
      dot / (qnorm(qi) * c.norms(j))
    }
    // per-level symmetric adjacency (both endpoints at lvl ≥ l)
    def layerAdj(l: Int): mutable.LongMap[Array[Long]] = {
      val adj = mutable.LongMap.empty[mutable.ArrayBuilder.ofLong]
      refined.foreach { case (a, b) =>
        if (lvl.getOrElse(a, Int.MinValue) >= l &&
            lvl.getOrElse(b, Int.MinValue) >= l) {
          adj.getOrElseUpdate(a, new mutable.ArrayBuilder.ofLong) += b
          adj.getOrElseUpdate(b, new mutable.ArrayBuilder.ofLong) += a
        }
      }
      adj.map { case (v, bld) => v -> bld.result() }
    }
    val adjByLevel = (1 to maxLevel).map(l => l -> layerAdj(l)).toMap
    val entrySeeds = new Array[Array[Long]](queries.length)
    parForeach(queries.length) { qi =>
      val qid = queries(qi)._1
      var entry: Set[Long] = top.toSet
      for (l <- maxLevel to 1 by -1) {
        val adj = adjByLevel(l)
        val cand = entry ++ entry.iterator.flatMap(id =>
          adj.getOrElse(id, Array.emptyLongArray))
        val t = new TopK(descentWidth)
        cand.foreach { id =>
          if (id != qid)
            c.idx.get(id).foreach(j => t.offer(qsim(qi, j), id))
        }
        entry = (0 until t.size).map(t.idA).toSet
      }
      entrySeeds(qi) = entry.toArray
    }
    val seeds = queries.indices.iterator.flatMap(qi =>
      entrySeeds(qi).iterator.map(v => (queries(qi)._1, v))).toArray
    beamTopK(c, refined, queries, seeds, k, beamWidth, beamRounds)
  }

  /** Collect a (query_id, q_emb) frame with the expression-identical
    * float→double widening. Caller gates the size. */
  def queriesOf(q: DataFrame): Array[(Long, Array[Double])] = {
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val isFloat = q.schema("q_emb").dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    q.select(col("query_id"), col("q_emb")).collect()
      .sortBy(_.getLong(0))
      .map { r =>
        val v =
          if (isFloat) r.getSeq[Float](1).iterator.map(_.toDouble).toArray
          else r.getSeq[Double](1).toArray
        (r.getLong(0), v)
      }
  }

  /** Mirror of nnDescentFrom over a collected base edge table: the
    * pivot expansion (forward ∪ k-capped reverse), then per-vector
    * top-k over base ∪ shared-pivot candidates. `base` rows are
    * (vec_id, neighbor_id, sim_e4). */
  def descentTopK(c: Corpus, base: Array[(Long, Long, Long)], k: Int)
      : Seq[(Long, Long, Int, Long)] = {
    // rev: per neighbor_id, top-k base rows by (sim_e4 DESC, vec_id ASC)
    val byNb = base.groupBy(_._2)
    val rev = byNb.iterator.flatMap { case (nb, rs) =>
      rs.sortBy(r => (-r._3, r._1)).take(k).map(r => (nb, r._1))
    }.toArray
    // pivot → members (multiset fine; candidate sets dedupe below)
    val members = mutable.LongMap.empty[mutable.ArrayBuilder.ofLong]
    base.foreach { case (v, nb, _) =>
      members.getOrElseUpdate(v, new mutable.ArrayBuilder.ofLong) += nb
    }
    rev.foreach { case (p, m) =>
      members.getOrElseUpdate(p, new mutable.ArrayBuilder.ofLong) += m
    }
    // candidate ids per vector: forward neighbors ∪ co-members
    val candSets = mutable.LongMap.empty[mutable.HashSet[Long]]
    def setOf(v: Long) =
      candSets.getOrElseUpdate(v, mutable.HashSet.empty[Long])
    base.foreach { case (v, nb, _) => setOf(v) += nb: Unit }
    members.foreach { case (_, bld) =>
      val ms = bld.result()
      var a = 0
      while (a < ms.length) {
        val sa = setOf(ms(a))
        var b = 0
        while (b < ms.length) { sa += ms(b); b += 1 }
        a += 1
      }
    }
    // the scorer's equi-joins drop ids missing from the corpus —
    // mirror on both sides
    val vlist = candSets.keys.toArray.filter(c.idx.contains).sorted
    val tops = new Array[TopK](vlist.length)
    parForeach(vlist.length) { p =>
      val v = vlist(p)
      val i = c.idx(v)
      val t = new TopK(k)
      candSets(v).foreach { cand =>
        if (cand != v) c.idx.get(cand).foreach(j => t.offer(c.sim(i, j), cand))
      }
      tops(p) = t
    }
    val out = Seq.newBuilder[(Long, Long, Int, Long)]
    var p = 0
    while (p < vlist.length) {
      val t = tops(p)
      var r = 0
      while (r < t.size) {
        out += ((vlist(p), t.idA(r), r + 1, roundE4(t.simA(r))))
        r += 1
      }
      p += 1
    }
    out.result()
  }
}
