package graftbench

import java.util.SplittableRandom

/** Seeded planted-partition edge generator. Vertices 0..n-1 fall
  * into consecutive blocks of `blockSize` (the planted communities)
  * and are then relabelled by a seeded permutation, so community
  * members are not neighbours in id order. Each draw picks a uniform
  * endpoint u and, with probability `pIntra`, a partner from u's own
  * block, otherwise a uniform partner; weights are uniform integers
  * 1..10, plus 0.5 when `halfIntegral`. Draws may repeat a pair: the
  * program's canonicalisation sums them. Same arguments, same rows. */
final case class PlantedPartition(n: Int, draws: Int, blockSize: Int = 50,
    pIntra: Double = 0.8, halfIntegral: Boolean = false) {

  /** (relabelled vertex id, planted community) for every vertex. */
  def labels(seed: Long): Array[(Long, Long)] = {
    val perm = permutation(seed)
    Array.tabulate(n)(v => (perm(v).toLong, (v / blockSize).toLong))
  }

  /** Raw (src, dst, weight) draws; src != dst. */
  def edges(seed: Long): Array[(Long, Long, Double)] = {
    val perm = permutation(seed)
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    Array.fill(draws) {
      val u = rnd.nextInt(n)
      var v = u
      val intra = rnd.nextDouble() < pIntra
      while (v == u) {
        v = if (intra) (u / blockSize) * blockSize + rnd.nextInt(blockSize)
          else rnd.nextInt(n)
        if (v >= n) v = u // short last block: redraw
      }
      val w = (1 + rnd.nextInt(10)).toDouble + (if (halfIntegral) 0.5 else 0.0)
      (perm(u).toLong, perm(v).toLong, w)
    }
  }

  private def permutation(seed: Long): Array[Int] = {
    val rnd = new SplittableRandom(seed)
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }
}
