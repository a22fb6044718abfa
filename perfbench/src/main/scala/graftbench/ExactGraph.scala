package graftbench

/** The benchmark's own oracle for an undirected weighted edge list:
  * canonical (src < dst) edges with parallel draws summed and every
  * weight doubled, so half-integral inputs stay exact as Long.
  * Modularity is invariant under scaling all weights, and
  * [[qE6]] uses the same exact-integer formula and single final
  * division as GraphOps.modularityOf. */
final class ExactGraph(raw: Iterable[(Long, Long, Double)]) {
  val edges: Array[(Long, Long, Long)] = raw.iterator
    .filter(r => r._1 != r._2)
    .map(r => ((math.min(r._1, r._2), math.max(r._1, r._2)), math.round(r._3 * 2)))
    .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
    .iterator.map { case ((a, b), w) => (a, b, w) }.toArray.sortBy(e => (e._1, e._2))

  val vertices: Set[Long] = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet

  /** True when every input weight is a whole number. */
  val integral: Boolean = raw.forall(r => r._3 == math.rint(r._3))

  /** Q of `label` (vertex -> community), scaled by 1e6 and rounded. */
  def qE6(label: Long => Long): Long = {
    val m = edges.iterator.map(e => BigInt(e._3)).sum
    val wIn = edges.iterator.collect {
      case (a, b, w) if label(a) == label(b) => BigInt(w)
    }.sum
    val d = scala.collection.mutable.LongMap.empty[BigInt].withDefaultValue(BigInt(0))
    edges.foreach { case (a, b, w) => d(label(a)) += w; d(label(b)) += w }
    val num = (wIn * 4 * m - d.valuesIterator.map(x => x * x).sum).toDouble
    math.round(num / (4.0 * m.toDouble * m.toDouble) * 1e6)
  }
}
