package graft.graph

import java.util.SplittableRandom
import org.scalatest.funsuite.AnyFunSuite

/** The array kernel in [[LocalLouvain]] against [[LocalLouvainOracle]],
  * the map-and-BigInt engine it replaced: the same assignment, level
  * trail (Q doubles included) and local-move gain on every input
  * within the kernel's Long bound. */
class LocalLouvainOracleSpec extends AnyFunSuite {

  private type Rows = Seq[(Long, Long, Long)]

  private def sameClustering(rows: Rows, what: String): Unit = {
    val (a, lv) = LocalLouvain.clusterWithLevels(rows)
    val (oa, olv) = LocalLouvainOracle.clusterWithLevels(rows)
    assert(lv == olv, s"$what: level trail")
    assert(a == oa, s"$what: assignment")
  }

  /** `n` vertices with scattered (some negative) ids, `e` random rows
    * with weights in [0, maxW], and `loops` self-loop rows, half of
    * them on vertices with no other row. */
  private def randomRows(seed: Long, n: Int, e: Int, maxW: Int, loops: Int): Rows = {
    val rnd = new SplittableRandom(seed)
    val id = Array.tabulate(n + loops)(i => (i.toLong * 7919L) % 100003L - 500L)
    val es = Seq.fill(e) {
      val a = rnd.nextInt(n); var b = rnd.nextInt(n)
      while (b == a) b = rnd.nextInt(n)
      (id(a), id(b), rnd.nextInt(maxW + 1).toLong)
    }
    val ls = (0 until loops).map { i =>
      val v = if (i % 2 == 0) id(rnd.nextInt(n)) else id(n + i)
      (v, v, rnd.nextInt(maxW + 1).toLong)
    }
    es ++ ls
  }

  /** Planted partition, as the louvain_driver benchmark builds it:
    * blocks of 50 relabelled by a seeded permutation, a draw stays in
    * its block with probability 0.8, weights 1..10, and repeated pairs
    * summed under (min, max). */
  private def planted(seed: Long, n: Int = 8000, draws: Int = 40000): Rows = {
    val block = 50
    val prnd = new SplittableRandom(seed)
    val perm = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = prnd.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      i -= 1
    }
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val sums = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
    (0 until draws).foreach { _ =>
      val u = rnd.nextInt(n)
      val intra = rnd.nextDouble() < 0.8
      var v = u
      while (v == u) v = if (intra) (u / block) * block + rnd.nextInt(block) else rnd.nextInt(n)
      val (a, b) = (perm(u).toLong, perm(v).toLong)
      val k = (math.min(a, b), math.max(a, b))
      sums(k) = sums.getOrElse(k, 0L) + 1 + rnd.nextInt(10)
    }
    sums.iterator.map { case ((a, b), w) => (a, b, w) }.toSeq.sortBy(r => (r._1, r._2))
  }

  test("random graphs with self-loops and self-loop-only vertices") {
    (1L to 40L).foreach { seed =>
      sameClustering(randomRows(seed, 30 + seed.toInt, 90 + 3 * seed.toInt, 9, 6), s"seed $seed")
    }
  }

  test("zero-weight edges keep their community a candidate") {
    (100L to 140L).foreach { seed =>
      sameClustering(randomRows(seed, 25, 70, 2, 4), s"seed $seed")
    }
    // Vertex 1 joins community 200 through a zero-weight edge: its own
    // community holds heavy vertex 2 and no weight to it, so leaving
    // gains 4m·0 − 2·5·(1 − 50) > 0.
    val deg = Map(1L -> 5L, 2L -> 50L, 3L -> 1L)
    val init = Map(1L -> 100L, 2L -> 100L, 3L -> 200L)
    val es = Seq((1L, 3L, 0L), (1L, 2L, 0L))
    val got = LocalLouvain.localMoves(es, deg, 100L, init)
    assert(got._1(1L) == 200L, s"zero-weight candidate ignored: $got")
    val want = LocalLouvainOracle.localMoves(es, deg, BigInt(100), init)
    assert((got._1, BigInt(got._2)) == want)
  }

  test("uniform-weight rings: every move is a tie") {
    Seq(3, 4, 5, 8, 13, 64, 101).foreach { n =>
      val ids = Array.tabulate(n)(i => ((i * 37L) % n) * 3 + 11)
      val ring = (0 until n).map(i => (ids(i), ids((i + 1) % n), 1L))
      sameClustering(ring, s"ring $n")
      sameClustering(ring.map(r => (r._2, r._1, 2L)).reverse, s"ring $n, reversed")
    }
  }

  test("negative weights within the bound") {
    (200L to 220L).foreach { seed =>
      val rows = randomRows(seed, 20, 60, 6, 3).map { case (a, b, w) =>
        (a, b, if ((a + b + seed) % 7 == 0) -w else w)
      }
      sameClustering(rows, s"seed $seed")
    }
  }

  test("local moves from a non-identity init under global degrees (the split probe's shape)") {
    (300L to 340L).foreach { seed =>
      val rnd = new SplittableRandom(seed)
      val full = randomRows(seed, 40, 160, 9, 5)
      val deg = LocalLouvainOracle.degrees(full)
      val m = full.map(_._3).sum
      // The probed community: a vertex subset and its induced rows,
      // starting from a few arbitrary (negative, sparse) community ids.
      val members = deg.keys.filter(_ => rnd.nextInt(3) > 0).toSet
      val es = full.filter(r => members(r._1) && members(r._2))
      val init = members.iterator.map(v => v -> (-1000L * (1 + rnd.nextInt(4)))).toMap
      val got = LocalLouvain.localMoves(es, deg, m, init)
      val want = LocalLouvainOracle.localMoves(es, deg, BigInt(m), init)
      assert((got._1, BigInt(got._2)) == want, s"seed $seed")
      val ident = deg.keys.map(v => v -> v).toMap
      val got0 = LocalLouvain.localMoves(full, deg, m, ident)
      assert((got0._1, BigInt(got0._2)) == LocalLouvainOracle.localMoves(full, deg, BigInt(m), ident),
        s"seed $seed, identity")
    }
  }

  test("louvain_driver-sized planted graphs (8,000 vertices, 40,000 draws)") {
    Seq(101L, 102L, 103L).foreach { seed =>
      val rows = planted(seed)
      sameClustering(rows, s"planted seed $seed")
      // Row order does not matter.
      val shuffled = rows.zipWithIndex.sortBy(r => (r._2 * 2654435761L) % 1000003L).map(_._1)
      assert(LocalLouvain.clusterWithLevels(shuffled) == LocalLouvain.clusterWithLevels(rows))
    }
  }

  test("ledger and degrees agree with the oracle's") {
    val rows = randomRows(7L, 30, 100, 9, 6)
    val deg = LocalLouvain.degrees(rows)
    val m = rows.map(_._3).sum
    val assign = LocalLouvain.clusterWithLevels(rows)._1
    assert(deg == LocalLouvainOracle.degrees(rows))
    assert(BigInt(LocalLouvain.ledger(rows, deg, m, assign)) ==
      LocalLouvainOracle.ledger(rows, deg, BigInt(m), assign))
  }

  test("the kernel refuses a weight mass past its Long bound") {
    val big = LocalLouvain.MaxMass
    assert(LocalLouvain.fits(Seq((1L, 2L, big))))
    assert(!LocalLouvain.fits(Seq((1L, 2L, big), (2L, 3L, 1L))))
    assert(!LocalLouvain.fits(Seq((1L, 2L, -big), (2L, 3L, -1L))))
    // Three rows of 2^62 wrap a Long sum of weights; the bound does not.
    val huge = Seq.tabulate(3)(i => (i.toLong, i + 1L, 1L << 62))
    assert(!LocalLouvain.fits(huge))
    assert(!LocalLouvain.fits(Seq((1L, 2L, Long.MinValue))))
    intercept[IllegalArgumentException](LocalLouvain.clusterWithLevels(huge))
    val deg = LocalLouvain.degrees(Seq((1L, 2L, 1L)))
    assert(!LocalLouvain.fits(Seq((1L, 2L, 1L)), big + 1, deg.values))
    assert(!LocalLouvain.fits(Seq((1L, 2L, 1L)), 1L, Seq(2 * big + 1)))
    intercept[IllegalArgumentException](
      LocalLouvain.localMoves(Seq((1L, 2L, 1L)), Map(1L -> (1L << 40), 2L -> 1L), 1L,
        Map(1L -> 1L, 2L -> 2L)))
  }
}
