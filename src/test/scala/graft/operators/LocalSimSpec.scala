package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{ForcedDispatch, SparkTestSession}

/** Round-20 driver twins of the bounded similarity paths (LocalSim):
  * every gate's twin must emit BIT-IDENTICAL rows to the DataFrame
  * path it stands in for — same scores, same tiebreaks, same pair
  * sets — pinned on the real embeddings corpora via the forced
  * dispatch override (ForcedDispatch, the IterativeDispatchSpec
  * convention). */
class LocalSimSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def emb(dir: String) =
    graft.Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toVector).toVector.sortBy(_.mkString("|"))

  private def bothPaths(f: => DataFrame): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
    val drv = rowsOf(f)
    val dist = ForcedDispatch.distributed(spark)(rowsOf(f))
    (drv, dist)
  }

  private val sf001 = "/root/testdata/sf0.001"
  private val sf01 = "/root/testdata/sf0.01"

  test("exact top-k twin == BNLJ + window path") {
    for (d <- Seq(sf001, sf01)) {
      val (drv, dist) = bothPaths(
        Similarity.knnGraphOf(emb(d), 10, Similarity.ExactKnnMaxRows))
      assert(drv == dist, s"exact kNN diverged at $d")
      assert(drv.nonEmpty)
    }
  }

  test("LSH banded top-k twin == band-join path (dispatch's LSH branch)") {
    // exactMaxRows = 1 pushes the dispatch onto the LSH branch at
    // test scale — the spec-sanctioned way to reach it (knnGraphOf's
    // threshold-overridable form).
    val (drv, dist) = bothPaths(Similarity.knnGraphOf(emb(sf01), 10, 1L))
    assert(drv == dist)
    assert(drv.nonEmpty)
  }

  test("cosineThresholdPairs twin == both DataFrame branches") {
    for ((d, exactMax) <- Seq((sf01, Similarity.ExactKnnMaxRows), (sf01, 1L))) {
      val (drv, dist) = bothPaths(
        Similarity.cosineThresholdPairs(emb(d), 4000L, exactMax))
      assert(drv == dist, s"threshold pairs diverged (exactMax=$exactMax)")
      assert(drv.nonEmpty)
    }
  }

  test("embedDup twin == band-join path") {
    val (drv, dist) = bothPaths(Similarity.embedDup(spark, sf01))
    assert(drv == dist)
    assert(drv.nonEmpty)
  }

  test("nn-descent round twin == DataFrame expansion path") {
    // Build one fixed base on the DF path, then descend both ways
    // from the SAME base (the twin also collects it).
    val e = emb(sf001)
    val base = ForcedDispatch.distributed(spark)(
      Similarity.knnGraphOf(e, 10, 1L).localCheckpoint(true))
    val (drv, dist) = bothPaths(Similarity.nnDescentFrom(e, base, 10))
    assert(drv == dist)
    assert(drv.nonEmpty)
  }

  test("knnGraphFrom twin == dedup/join/window path on arbitrary pairs") {
    // IVF candidates (the e_knn_ivf shape) plus planted degenerates:
    // self-pairs, duplicates, and ids absent from the corpus — the DF
    // path's filter/dedup/inner-join semantics the twin must mirror.
    import spark.implicits._
    val e = emb(sf01)
    val ivf = Similarity.ivfCandidatePairs(spark, e,
      Array.tabulate(4, 64)((i, d) => math.sin(i * 64 + d)))
    val planted = Seq((1L, 1L), (1L, 2L), (1L, 2L), (2L, 999999L),
      (999998L, 3L), (3L, 7L)).toDF("vec_id", "candidate_id")
    for (pairs <- Seq(ivf, planted)) {
      val (drv, dist) = bothPaths(Similarity.knnGraphFrom(e, pairs, 10))
      assert(drv == dist)
    }
  }

  test("full query surfaces agree across paths (recall audits riding)") {
    val (drvL, distL) = bothPaths(Similarity.knnLshWithRecall(spark, sf001))
    assert(drvL == distL)
    val (drvD, distD) = bothPaths(Similarity.knnDescentWithRecall(spark, sf001))
    assert(drvD == distD)
    assert(drvL.nonEmpty && drvD.nonEmpty)
  }

  test("hnsw layer descent + beam search twins == DF loops") {
    // Both query surfaces: the live hnsw stack (descend gate) and the
    // IVF-seeded beam (beamSearchFrom gate). The refined-graph memo
    // serves both paths identically, so the comparison isolates the
    // descent/beam loops themselves.
    for (d <- Seq(sf001, sf01)) {
      val (drvH, distH) = bothPaths(Similarity.hnswTopK(spark, d))
      assert(drvH == distH, s"hnsw diverged at $d")
      assert(drvH.nonEmpty)
    }
    val (drvB, distB) = bothPaths(Similarity.beamSearchTopK(spark, sf001))
    assert(drvB == distB)
    assert(drvB.nonEmpty)
  }
}
