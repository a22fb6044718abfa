package graft.streaming

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{ForcedDispatch, SparkTestSession}

/** mergeCcDispatch (round 20): the per-batch driver twin of the
  * streaming CC fold must leave BIT-IDENTICAL (vertex, component)
  * parquet state to the distributed fold it stands in for — min-member
  * labels are path-independent, so equality is exact rows, not
  * partition-level. Pinned per batch id on a planted multi-batch
  * stream with new vertices arriving mid-stream and a cross-batch
  * merge no single batch can see.
  */
class IncrementalCcSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def sink() =
    java.nio.file.Files.createTempDirectory("graft_cc_spec").toString

  private def labelsOf(s: String, v: Long): Map[Long, Long] =
    spark.read.parquet(s"$s/v$v").collect()
      .map(r => r.getAs[Long]("vertex") -> r.getAs[Long]("component")).toMap

  // Batch 0: two chains (0-1-2, 10-11). Batch 1: new vertices 20-21
  // plus the 2-10 bridge (merges the two batch-0 components through
  // their REPRESENTATIVES — the contraction path). Batch 2: 21-0
  // (merges everything; also exercises a new-vertex-to-old edge).
  private val batches: Seq[Seq[(Long, Long)]] = Seq(
    Seq((0L, 1L), (1L, 2L), (10L, 11L)),
    Seq((20L, 21L), (2L, 10L)),
    Seq((21L, 0L)))

  private def fold(s: String, drop: Boolean = false): Unit = {
    import spark.implicits._
    batches.zipWithIndex.foreach { case (b, i) =>
      if (drop) StreamingOps.dropCcCarry(s)
      StreamingOps.mergeCc(s)(b.toDF("src", "dst"), i.toLong)
    }
  }

  test("driver fold state == distributed fold state, batch by batch") {
    val sd = sink()
    fold(sd)
    val sx = sink()
    // Fold-only hatch: the DF fold with the inner CC's own measured
    // dispatch is the exact surface the twin replaces.
    ForcedDispatch.distributed(spark, "mergeLouvainDispatch,mergeCcDispatch") { fold(sx) }
    batches.indices.foreach { i =>
      assert(labelsOf(sd, i.toLong) == labelsOf(sx, i.toLong),
        s"labels diverge at batch $i")
    }
    // End state sanity: one component labeled by the global min.
    assert(labelsOf(sd, 2L).values.toSet == Set(0L))
    assert(labelsOf(sd, 2L).keySet ==
      Set(0L, 1L, 2L, 10L, 11L, 20L, 21L))
  }

  test("a carry at the collect bound hands the batch to the distributed fold") {
    // ADVICE r20 (medium): the carry-hit path must bound the carried
    // labels, or a long stream of small batches grows driver state
    // without limit. Seed the carry at the bound; a one-edge batch
    // must then fold distributed and drop the carry.
    import spark.implicits._
    import graft.graph.{Dispatch, LocalLouvain}
    val s = sink()
    val full = scala.collection.mutable.LongMap.empty[Long]
    (0L until LocalLouvain.CollectMax).foreach(v => full(v) = v)
    StreamingOps.ccFoldCarry.update(s, (0L, full))
    val (twin0, dist0) = Dispatch.taken.getOrElse("mergeCcDispatch", (0L, 0L))
    StreamingOps.mergeCc(s)(Seq((-5L, -6L)).toDF("src", "dst"), 1L)
    val (twin1, dist1) = Dispatch.taken("mergeCcDispatch")
    assert(twin1 == twin0 && dist1 == dist0 + 1, "the fold did not run distributed")
    assert(!StreamingOps.ccFoldCarry.contains(s), "the carry survived the distributed fold")
    assert(labelsOf(s, 1L) == Map(-6L -> -6L, -5L -> -6L))
  }

  test("driver fold without the carry (parquet fallback) folds identically") {
    // The carry is a shortcut, never a dependency: dropping it before
    // every batch (the replay / restart path) must not change state.
    val withCarry = sink()
    fold(withCarry)
    val cold = sink()
    fold(cold, drop = true)
    batches.indices.foreach { i =>
      assert(labelsOf(withCarry, i.toLong) == labelsOf(cold, i.toLong),
        s"carry-free fold diverges at batch $i")
    }
  }

  test("replaying a batch id overwrites to the identical state") {
    import spark.implicits._
    val s = sink()
    fold(s)
    val before = labelsOf(s, 1L)
    // Replay batch 1 after failure-recovery: the carry (at id 2) is
    // stale for this id, so the fold re-reads v0 parquet.
    StreamingOps.mergeCc(s)(batches(1).toDF("src", "dst"), 1L)
    assert(labelsOf(s, 1L) == before)
  }

  test("end-to-end stream readout equals batch CC (associativity)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val all = batches.flatten.toDF("src", "dst")
    val batch = graft.graph.ConnectedComponentsDF.run(spark, all)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s = sink()
    fold(s)
    assert(labelsOf(s, 2L) == batch)
  }
}
