package graftbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  test("planted-partition generator gives the same rows for the same seed") {
    val g = PlantedPartition(2000, 10000, halfIntegral = true)
    assert(g.edges(7L).toSeq == g.edges(7L).toSeq)
    assert(g.labels(7L).toSeq == g.labels(7L).toSeq)
    assert(g.edges(7L).toSeq != g.edges(8L).toSeq)
  }

  test("planted-partition rows are valid draws over a relabelled vertex set") {
    val g = PlantedPartition(1000, 5000)
    val rows = g.edges(3L)
    assert(rows.length == 5000)
    assert(rows.forall { case (a, b, w) =>
      a != b && a >= 0 && a < 1000 && b >= 0 && b < 1000 && w >= 1 && w <= 10 && w == math.rint(w)
    })
    assert(g.labels(3L).map(_._1).sorted.toSeq == (0L until 1000L))
    // ~80% of draws stay inside a planted community.
    val block = g.labels(3L).toMap
    val intra = rows.count { case (a, b, _) => block(a) == block(b) }.toDouble / rows.length
    assert(intra > 0.75 && intra < 0.85)
  }

  test("order generator gives the same rows for the same seed") {
    val s = SupplierOrders(100, 500)
    assert(s.rows(5L).toSeq == s.rows(5L).toSeq)
    assert(s.rows(5L).toSeq != s.rows(6L).toSeq)
    assert(s.rows(5L).forall { case (o, sup) => o >= 1 && o <= 500 && sup >= 1 && sup <= 100 })
  }

  test("exact Q of the planted partition is near 0.80 and scale-free") {
    val g = PlantedPartition(4000, 20000)
    val raw = g.edges(1L)
    val label = g.labels(1L).toMap
    val q = new ExactGraph(raw).qE6(label)
    assert(q > 780000 && q < 810000)
    val halves = new ExactGraph(raw.map { case (a, b, w) => (a, b, w + 0.5) })
    assert(!halves.integral && new ExactGraph(raw).integral)
    val scaled = new ExactGraph(raw.map { case (a, b, w) => (a, b, w * 3) })
    assert(scaled.qE6(label) == q)
  }
}
