package graftbench

import java.util.SplittableRandom

/** Seeded order table for the graph-query pass: (l_orderkey,
  * l_suppkey) rows, the two lineitem columns the supplier
  * co-occurrence graph is built from. Suppliers fall into pools of
  * `poolSize`; each order has 1..`maxLines` lines and draws each
  * line's supplier from its home pool with probability `pHome`,
  * otherwise uniformly, so the co-occurrence graph has community
  * structure. Same seed, same rows. */
final case class SupplierOrders(suppliers: Int, orders: Int, poolSize: Int = 20,
    maxLines: Int = 7, pHome: Double = 0.8) {

  def rows(seed: Long): Array[(Long, Long)] = {
    val rnd = new SplittableRandom(seed ^ 0x2545F4914F6CDD1DL)
    val pools = math.max(1, suppliers / poolSize)
    (0 until orders).iterator.flatMap { o =>
      val home = rnd.nextInt(pools)
      val lines = 1 + rnd.nextInt(maxLines)
      Iterator.fill(lines) {
        val s = if (rnd.nextDouble() < pHome) home * poolSize + rnd.nextInt(poolSize)
          else rnd.nextInt(suppliers)
        (o.toLong + 1, s.toLong + 1)
      }
    }.toArray
  }
}

object SupplierOrders {
  /** Expected co-occurrence edges: (s1 < s2) -> number of orders
    * holding both — what GraphBuilder.supplierCoEdges must return. */
  def coEdges(rows: Array[(Long, Long)]): Map[(Long, Long), Long] =
    rows.groupBy(_._1).valuesIterator.flatMap { lines =>
      val ss = lines.map(_._2).distinct.sorted
      for (i <- ss.indices.iterator; j <- (i + 1 until ss.length).iterator)
        yield (ss(i), ss(j))
    }.toSeq.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
}
