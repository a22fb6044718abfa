package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{ForcedDispatch, SparkTestSession}

/** s_stream_louvain is rows-only (an iterative multi-level fold has
  * no SQL form): these pin the three contract properties on planted
  * graphs plus the corpus-level Q bound the query itself reports.
  */
class IncrementalLouvainSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def sink() =
    java.nio.file.Files.createTempDirectory("graft_lv_spec").toString

  /** Two 4-cliques (0-3, 10-13) plus one cross edge; weights 1. */
  private def clique(ids: Seq[Long]): Seq[(Long, Long, Double)] =
    for { a <- ids; b <- ids if a < b } yield (a, b, 1.0)

  private def labelsOf(s: String, v: Long): Map[Long, Long] =
    spark.read.parquet(s"$s/v$v/labels").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Partition as a set of member sets (label values are arbitrary). */
  private def partition(m: Map[Long, Long]): Set[Set[Long]] =
    m.groupBy(_._2).values.map(_.keySet).toSet

  test("cross-batch edges merge communities no single batch can see") {
    import spark.implicits._
    val s = sink()
    // Batch 0: clique A and HALF of clique B's edges (B not yet dense).
    val b0 = (clique(Seq(0L, 1L, 2L, 3L)) ++
      Seq((10L, 11L, 1.0), (11L, 12L, 1.0))).toDF("src", "dst", "weight")
    // Batch 1: the rest of B, plus the A-B bridge.
    val b1 = (Seq((10L, 12L, 1.0), (10L, 13L, 1.0), (11L, 13L, 1.0),
      (12L, 13L, 1.0), (3L, 10L, 1.0))).toDF("src", "dst", "weight")
    StreamingOps.mergeLouvain(s)(b0, 0L)
    StreamingOps.mergeLouvain(s)(b1, 1L)
    val streamed = partition(labelsOf(s, 1L))
    // Batch Louvain over the full edge set finds the two cliques.
    val all = b0.unionByName(b1)
    val batch = graft.graph.GraphOps.louvain(spark, all).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == partition(batch),
      s"streamed $streamed != batch ${partition(batch)}")
    assert(streamed == Set(Set(0L, 1L, 2L, 3L), Set(10L, 11L, 12L, 13L)))
  }

  test("driver fold state == distributed fold state, batch by batch") {
    // Round 20 (the mergeLouvainDispatch gate): the per-batch driver
    // twin must leave BIT-IDENTICAL (labels, super) parquet state to
    // the distributed fold it stands in for — pinned per batch id,
    // super weights included, on a planted multi-batch stream with
    // new vertices arriving mid-stream.
    import spark.implicits._
    def supOf(s: String, v: Long): Set[(Long, Long, Double)] =
      spark.read.parquet(s"$s/v$v/super").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batches = Seq(
      (clique(Seq(0L, 1L, 2L, 3L)) ++
        Seq((10L, 11L, 1.0), (11L, 12L, 1.0))),
      Seq((10L, 12L, 1.0), (10L, 13L, 1.0), (11L, 13L, 1.0),
        (12L, 13L, 1.0), (3L, 10L, 1.0)),
      clique(Seq(20L, 21L, 22L, 23L)) ++ Seq((13L, 20L, 2.0)))
    val sd = sink()
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingOps.mergeLouvain(sd)(b.toDF("src", "dst", "weight"), i.toLong)
    }
    val sx = sink()
    // Fold-only hatch: the DF fold with louvainOnSuper's own measured
    // dispatch is the exact surface the twin replaces (forcing every
    // site would also push the inner Louvain onto GraphX,
    // whose labels are path-specific — partition-level equivalence for
    // that layer is pinned by "driver-side super Louvain matches the
    // GraphX path's partition" below).
    ForcedDispatch.distributed(spark, "mergeLouvainDispatch,mergeCcDispatch") {
      batches.zipWithIndex.foreach { case (b, i) =>
        StreamingOps.mergeLouvain(sx)(b.toDF("src", "dst", "weight"), i.toLong)
      }
    }
    batches.indices.foreach { i =>
      assert(labelsOf(sd, i.toLong) == labelsOf(sx, i.toLong),
        s"labels diverge at batch $i")
      assert(supOf(sd, i.toLong) == supOf(sx, i.toLong),
        s"super state diverges at batch $i")
    }
  }

  test("driver fold without the carry (parquet fallback) folds identically") {
    // The carry is a shortcut, never a dependency: dropping it between
    // batches must not change the folded state (this is the replay /
    // restart path the parquet write exists for).
    import spark.implicits._
    val b0 = clique(Seq(0L, 1L, 2L, 3L)).toDF("src", "dst", "weight")
    val b1 = (clique(Seq(10L, 11L, 12L, 13L)) ++ Seq((3L, 10L, 1.0)))
      .toDF("src", "dst", "weight")
    val withCarry = sink()
    StreamingOps.mergeLouvain(withCarry)(b0, 0L)
    StreamingOps.mergeLouvain(withCarry)(b1, 1L)
    val cold = sink()
    StreamingOps.mergeLouvain(cold)(b0, 0L)
    StreamingOps.dropLouvainCarry(cold) // simulate a restart
    StreamingOps.mergeLouvain(cold)(b1, 1L)
    assert(labelsOf(withCarry, 1L) == labelsOf(cold, 1L))
  }

  test("replaying a batch id overwrites to the identical state") {
    import spark.implicits._
    val s = sink()
    val b0 = clique(Seq(0L, 1L, 2L, 3L)).toDF("src", "dst", "weight")
    val b1 = clique(Seq(10L, 11L, 12L, 13L)).toDF("src", "dst", "weight")
    StreamingOps.mergeLouvain(s)(b0, 0L)
    StreamingOps.mergeLouvain(s)(b1, 1L)
    val first = labelsOf(s, 1L)
    StreamingOps.mergeLouvain(s)(b1, 1L) // replay after failure-recovery
    assert(labelsOf(s, 1L) == first)
    val sup = spark.read.parquet(s"$s/v1/super").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // Super-graph state stayed two compressed self-loops (one per
    // clique, internal weight 6 = the clique's 6 edges).
    assert(sup.map { case (a, b, w) => (a == b, w) } == Set((true, 6.0)))
  }

  test("audited refresh: a planted over-coarsened state recovers batch Louvain Q") {
    import spark.implicits._
    val s = sink()
    val accum = sink()
    // Batch 0: K8 over {0-3} ∪ {10-13}, all weight 1 — on this view
    // one merged community is optimal, so the fold coarsens everything
    // into a single super-vertex. Batch 1: intra-clique reinforcement
    // (weight 10 on each clique edge) — on the UNION two communities
    // are clearly optimal (intra 11×6 vs 16 cross edges at weight 1),
    // but the monotone fold cannot split its super-vertex: the exact
    // over-coarsening the docstring warns about. The id-1 audit sees
    // the Q-gap (~0.39 > 0.05), triggers the full refresh, and the
    // state recovers the two-clique partition on the same layout.
    val all8 = Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 13L)
    val b0 = (for { a <- all8; b <- all8 if a < b } yield (a, b, 1.0))
      .toDF("src", "dst", "weight")
    val b1 = (clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L, 13L)))
      .map { case (a, b, _) => (a, b, 10.0) }.toDF("src", "dst", "weight")
    val merge = StreamingOps.mergeLouvainAudited(s, accum, auditEvery = 2) _
    merge(b0, 0L)
    // pre-refresh sanity: the fold really is over-coarsened
    assert(partition(labelsOf(s, 0L)) == Set(all8.toSet))
    merge(b1, 1L)
    val refreshed = partition(labelsOf(s, 1L))
    assert(refreshed == Set(Set(0L, 1L, 2L, 3L), Set(10L, 11L, 12L, 13L)),
      s"refresh did not recover the batch partition: $refreshed")
    // the refreshed super-graph is the accum contraction through the
    // fresh labels: two self-loops (6 edges × 11) + one cross row
    // (16 bridges × 1) — later folds continue from it unchanged.
    val sup = spark.read.parquet(s"$s/v1/super").collect()
      .map(r => (r.getLong(0) == r.getLong(1), r.getDouble(2))).toSet
    assert(sup == Set((true, 66.0), (false, 16.0)), s"super: $sup")
    // replay idempotence through the audited path: re-running the
    // audited batch id (recovery semantics — only b<=1 is read)
    // rewrites to the identical state.
    merge(b1, 1L)
    assert(partition(labelsOf(s, 1L)) == refreshed)
  }

  test("corpus fold: estimator-gated audit, Q readout from the super state") {
    // sf0.01: the sf0.001 co-occurrence graph is complete (K10), so
    // both sides correctly report Q = 0 and prove nothing.
    import org.apache.spark.sql.functions.col
    val before = StreamingOps.batchAuditCount.get()
    val row = StreamingOps.streamLouvainIncremental(spark, "/root/testdata/sf0.01")
      .collect().head
    val qs = row.getAs[Long]("q_e6_streamed")
    val est = row.getAs[Long]("est_gap_e6")
    assert(est >= 0L, s"estimator gap must be non-negative, got $est")
    if (row.getAs[Long]("refreshed") == 0L) {
      // The round-14 cost contract: a no-alarm end of stream pays NO
      // batch Louvain reference — only the bounded estimator.
      assert(StreamingOps.batchAuditCount.get() == before,
        "no-alarm audit paid a batch Louvain reference")
      // Estimator QUALITY audit (test-side only — production never
      // pays this): the true batch gap on this corpus stays within
      // 2x the alarm threshold, i.e. under-detection is bounded
      // where we can afford to measure it.
      val edges = graft.graph.GraphBuilder.supplierCoEdges(spark, "/root/testdata/sf0.01")
      val batch = graft.graph.GraphOps.louvain(spark, edges)
      val qb = graft.graph.GraphOps.modularityOf(edges,
          batch.select(col("vertex"), col("community").as("label")))
        .select(col("q_e6")).collect().head.getLong(0)
      assert(qb - qs <= 100000L, s"true gap ${qb - qs} too large for a no-alarm audit")
    }
  }

  test("readout Q from the super state equals full-graph modularityOf (invariance)") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.01"
    val edges = graft.graph.GraphBuilder.supplierCoEdges(spark, dir)
    val lab = graft.graph.GraphOps.louvain(spark, edges)
    val sup = StreamingOps.contractThrough(
      edges.select(col("src"), col("dst"), col("weight")),
      lab.select(col("vertex"), col("community")))
    val (nS, qS) = StreamingOps.superIdentityQ(spark, sup)
    val full = graft.graph.GraphOps.modularityOf(edges,
        lab.select(col("vertex"), col("community").as("label")))
      .select(col("n_communities"), col("q_e6")).collect().head
    assert((nS, qS) == ((full.getLong(0), full.getLong(1))),
      s"super identity ($nS, $qS) != full modularityOf")
    val dist = graft.graph.ForcedDispatch.distributed(spark, "superIdentityQ")(
      StreamingOps.superIdentityQ(spark, sup))
    assert(dist == ((nS, qS)), s"distributed super identity $dist != driver ($nS, $qS)")
  }

  test("estimator: planted over-coarsened state alarms; converged fold does not") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // Over-coarsened: all 8 vertices in one community, but the edge
    // set is two weight-11 cliques + 16 unit bridges (the audited-
    // refresh scenario collapsed to its essentials). The split probe
    // must see the ~0.39 available gain.
    val all8 = Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 13L)
    val cl = clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L, 13L))
    val edges = (for { a <- all8; b <- all8 if a < b } yield {
      val w = if (cl.exists(e => e._1 == a && e._2 == b)) 11.0 else 1.0
      (a, b, w)
    }).toDF("src", "dst", "weight")
    val lab1 = all8.map(v => (v, 0L)).toDF("vertex", "community")
    val sup1 = Seq((0L, 0L, 148.0)).toDF("a", "b", "w")
    val gap1 = StreamingOps.louvainDriftGapE6(spark, edges, lab1, sup1)
    assert(gap1 > StreamingOps.DriftRefreshE6, s"planted over-coarsening not detected: $gap1")
    // Converged: the two-clique partition with its true super state —
    // nothing to split (probing finds no positive gain) and nothing
    // to merge, so the estimate is 0 and no batch run would fire.
    val lab2 = all8.map(v => (v, if (v < 10) 0L else 10L))
      .toDF("vertex", "community")
    val sup2 = Seq((0L, 0L, 66.0), (10L, 10L, 66.0), (0L, 10L, 16.0))
      .toDF("a", "b", "w")
    val gap2 = StreamingOps.louvainDriftGapE6(spark, edges, lab2, sup2)
    assert(gap2 == 0L, s"converged state estimated nonzero drift: $gap2")
  }

  test("fractional super weights go to GraphX instead of rounding to zero") {
    // A streaming batch with fractional weights declines the driver
    // fold, so the distributed fold hands louvainOnSuper a fractional
    // super graph. Rounding its weights in (0, 0.5) to 0 would leave
    // every vertex a singleton; the integrality admission term sends
    // it to GraphX instead.
    import spark.implicits._
    val all8 = Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 13L)
    val cl = (clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L, 13L)))
      .map(e => (e._1, e._2)).toSet
    val sup = (for { a <- all8; b <- all8 if a < b } yield
      (a, b, if (cl((a, b))) 0.4 else 0.01)).toDF("a", "b", "w")
    def partOf(df: org.apache.spark.sql.DataFrame): Set[Set[Long]] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val got = partOf(graft.graph.GraphOps.louvainOnSuper(spark, sup))
    assert(got.exists(_.size > 1), s"every vertex a singleton: $got")
    assert(got == partOf(graft.graph.ForcedDispatch.distributed(spark, "louvainOnSuper")(
      graft.graph.GraphOps.louvainOnSuper(spark, sup))))
  }

  test("driver-side super Louvain matches the GraphX path's partition") {
    import spark.implicits._
    // The estimator fixture as a raw super graph (no self-loops yet):
    // two weight-11 cliques + 16 unit bridges — both dispatch paths
    // must find the two-clique partition; labels are path-specific,
    // partitions are the contract.
    val all8 = Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 13L)
    val cl = (clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L, 13L)))
      .map(e => (e._1, e._2)).toSet
    val sup = (for { a <- all8; b <- all8 if a < b } yield
      (a, b, if (cl((a, b))) 11.0 else 1.0)).toDF("a", "b", "w")
    def partOf(df: org.apache.spark.sql.DataFrame): Set[Set[Long]] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val drv = partOf(graft.graph.GraphOps.louvainOnSuper(spark, sup))
    def forced(df: => org.apache.spark.sql.DataFrame) =
      partOf(graft.graph.ForcedDispatch.distributed(spark, "louvainOnSuper")(df))
    val gx = forced(graft.graph.GraphOps.louvainOnSuper(spark, sup))
    val want = Set(Set(0L, 1L, 2L, 3L), Set(10L, 11L, 12L, 13L))
    assert(drv == want, s"driver path: $drv")
    assert(gx == want, s"graphx path: $gx")
    // Self-loop internal weight is carried, not re-clustered: a
    // compressed two-community state stays put on both paths.
    val compressed = Seq((0L, 0L, 66.0), (10L, 10L, 66.0), (0L, 10L, 16.0))
      .toDF("a", "b", "w")
    assert(partOf(graft.graph.GraphOps.louvainOnSuper(spark, compressed)) ==
      Set(Set(0L), Set(10L)))
    assert(forced(graft.graph.GraphOps.louvainOnSuper(spark, compressed)) ==
      Set(Set(0L), Set(10L)))
  }

  test("no-drift audited stream never pays the batch reference") {
    import spark.implicits._
    val s = sink()
    val accum = sink()
    val before = StreamingOps.batchAuditCount.get()
    // Clean two-clique batches: the fold tracks batch Louvain
    // exactly, so every audit (auditEvery = 1 → all of them) must
    // settle on the estimator alone.
    val merge = StreamingOps.mergeLouvainAudited(s, accum, auditEvery = 1) _
    merge(clique(Seq(0L, 1L, 2L, 3L)).toDF("src", "dst", "weight"), 0L)
    merge(clique(Seq(10L, 11L, 12L, 13L)).toDF("src", "dst", "weight"), 1L)
    assert(partition(labelsOf(s, 1L)) ==
      Set(Set(0L, 1L, 2L, 3L), Set(10L, 11L, 12L, 13L)))
    assert(StreamingOps.batchAuditCount.get() == before,
      "a no-drift stream paid a batch Louvain reference")
  }
}
