package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.SparkTestSession

class SkewAndIvfSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("salted aggregation equals plain aggregation on skewed data") {
    // 10k rows of hot key + scattered tail
    val df = ((1 to 10000).map(i => ("hot", i.toDouble)) ++
      (1 to 500).map(i => (s"k${i % 50}", i.toDouble))).toDF("k", "v")
    val plain = df.groupBy($"k").agg(sum($"v").as("sum_v"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val salted = SkewOps.saltedSumCount(df, Seq("k"), "v")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("salted join equals plain join on skewed key") {
    val left = ((1 to 5000).map(_ => 1L) ++ (2L to 100L)).toDF("id")
    val right = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "payload")
    val plain = left.join(right, "id").groupBy($"id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = SkewOps.saltedJoin(left, right, "id").groupBy($"id").count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted == plain)
  }

  test("keyHistogram surfaces the hot key first") {
    val df = ((1 to 100).map(_ => "hot") ++ Seq("a", "b")).toDF("k")
    val top = SkewOps.keyHistogram(df, $"k").collect()
    assert(top(0).getString(0) == "hot" && top(0).getLong(1) == 100L)
  }

  test("IVF leaves no persistent RDDs behind (training cache released)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Similarity.annIvfTopK(spark, sf).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persistent RDDs: $leaked")
  }

  test("IVF centroid-literal assignment equals the fresh-fit model.transform path") {
    // Fit once, persist the (tiny) centroid array, search many times
    // — the production deployment shape. Same seed + sample → same
    // quantizer → the memoized literal-assignment entry must be
    // IDENTICAL to a fresh KMeans fit assigned via model.transform.
    val reused = Similarity.annIvfTopK(spark, sf).collect().map(_.toSeq)
    val modelPath = Similarity.annIvfTopKModelPath(spark, sf).collect().map(_.toSeq)
    assert(reused.toSeq == modelPath.toSeq)
  }

  test("kNN and quantizer memos miss when embeddings are regenerated in place") {
    import org.apache.spark.sql.functions.col
    def vec(axis: Int): Seq[Float] =
      (0 until 64).map(i => if (i == axis) 1f else 0f)
    val dir = java.nio.file.Files.createTempDirectory("graft_knnmemo").toString
    def write(rows: Seq[(Long, Seq[Float])]): Unit = {
      graft.TestFixtures.canonEmb(rows.toDF("vec_id", "embedding")).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val f = new java.io.File(s"$dir/embeddings.parquet")
      f.setLastModified(f.lastModified() + 2000)
    }
    // 3 vectors on one axis → each vector's 1-NN is another of the 3
    write(Seq((1L, vec(0)), (2L, vec(0)), (3L, vec(0))))
    val first = Similarity.knnGraph(spark, dir, k = 1).count()
    assert(first == 3L)
    // regenerate at the SAME path with 5 vectors: stale memo would
    // still return 3 edges
    write(Seq((1L, vec(0)), (2L, vec(0)), (3L, vec(0)),
      (4L, vec(1)), (5L, vec(1))))
    val second = Similarity.knnGraph(spark, dir, k = 1).count()
    assert(second == 5L, s"stale kNN memo: $second edges")
    // quantizer memo: 32 distinct axes each side (k = 16 needs
    // enough distinct points), disjoint across the rewrite
    write((1L to 64L).map(i => (i, vec((i % 32).toInt))))
    val c1 = Similarity.fitIvfCentroids(spark, dir)
    write((1L to 64L).map(i => (i, vec((i % 32).toInt + 32))))
    val c2 = Similarity.fitIvfCentroids(spark, dir)
    assert(c1.flatten.toSeq != c2.flatten.toSeq,
      "stale centroid memo after in-place regeneration")
  }

  test("refined-kNN memo misses when embeddings are regenerated in place") {
    // The round-18 refinedKnnGraph memo (shared by e_hnsw /
    // e_nn_descent) follows the knnCache invalidation contract: the
    // key carries the source file's mtime+length, so an in-place
    // regeneration must rebuild, not serve stale edges.
    import org.apache.spark.sql.functions.col
    def vec(axis: Int): Seq[Float] =
      (0 until 64).map(i => if (i == axis) 1f else 0f)
    val dir = java.nio.file.Files.createTempDirectory("graft_refmemo").toString
    def write(rows: Seq[(Long, Seq[Float])]): Unit = {
      graft.TestFixtures.canonEmb(rows.toDF("vec_id", "embedding")).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val f = new java.io.File(s"$dir/embeddings.parquet")
      f.setLastModified(f.lastModified() + 2000)
    }
    write(Seq((1L, vec(0)), (2L, vec(0)), (3L, vec(0))))
    val first = Similarity.refinedKnnGraph(spark, dir, k = 1)
    assert(first.select(col("vec_id")).distinct().count() == 3L)
    // Same key → the memo returns the SAME checkpointed frame (one
    // build), not merely equal rows.
    assert(Similarity.refinedKnnGraph(spark, dir, k = 1) eq first)
    write(Seq((1L, vec(0)), (2L, vec(0)), (3L, vec(0)),
      (4L, vec(1)), (5L, vec(1))))
    val second = Similarity.refinedKnnGraph(spark, dir, k = 1)
      .select(col("vec_id")).distinct().count()
    assert(second == 5L, s"stale refined-kNN memo: $second vertices")
  }

  test("sign_lsh_keys native expression equals the HOF fold it replaced") {
    import graft.functions.VectorFunctions
    // Mixed-sign, zero, and alternating embeddings; both the 8×2
    // test-scale and 16×13 at-scale band shapes.
    val df = Seq(
      (1L, (0 until 64).map(i => ((i * 37 % 13) - 6) / 7.0f)),
      (2L, Seq.fill(64)(0f)),
      (3L, (0 until 64).map(i => if (i % 2 == 0) 1f else -1f)),
      (4L, (0 until 64).map(i => (math.sin(i * 0.7) * 0.9).toFloat)))
      .toDF("vec_id", "embedding")
    for ((b, r) <- Seq((8, 2), (16, 13))) {
      val native = df.orderBy($"vec_id")
        .select(VectorFunctions.signLshBands($"embedding", 64, b, r))
        .collect().map(_.toSeq)
      val hof = df.orderBy($"vec_id")
        .select(VectorFunctions.signLshBandsHof($"embedding", 64, b, r))
        .collect().map(_.toSeq)
      assert(native.toSeq == hof.toSeq, s"mismatch at bands=$b rows=$r")
    }
  }

  test("lshParamsFor: default banding below the exact bound, sized above") {
    // Round 19 (found building the at-scale ANN artifact): 2-bit band
    // keys have 4 buckets, so the at-scale candidate self-join was
    // n²/4 per band. Above the bound, depth = ⌈log₂(n/32)⌉ keeps the
    // expected bucket ≈ 32 (linear candidate volume); below it
    // nothing changes, so every test-scale output stays byte-stable.
    assert(Similarity.lshParamsFor(500L) ==
      ((Similarity.LshBands, Similarity.LshRows)))
    assert(Similarity.lshParamsFor(Similarity.ExactKnnMaxRows) ==
      ((Similarity.LshBands, Similarity.LshRows)))
    assert(Similarity.lshParamsFor(262144L) == ((16, 13)))
    assert(Similarity.lshParamsFor(1L << 30)._2 == 24, "depth must clamp")
    val depths = Seq(20000L, 50000L, 200000L, 1000000L, 1L << 40)
      .map(n => Similarity.lshParamsFor(n)._2)
    assert(depths == depths.sorted, s"depth not monotone: $depths")
  }

  test("refined eviction leaves the base memo collectable (cross-memo ownership)") {
    // ADVICE r18 item 1: when refinedKnnGraph builds its base inside
    // its own RDD-id snapshot window, the base's checkpoint ids land
    // in the REFINED entry, and a refinedCache eviction then
    // unpersists blocks knnCache still serves — an unpersisted
    // localCheckpoint cannot be recomputed, so the next base hit dies
    // with missing blocks. Repro needs the two caches DESYNCED (a
    // standalone base build first), so knnCache evicts mid-fill and
    // exactly one live base remains when the refined eviction fires.
    import org.apache.spark.sql.functions.col
    def vec(axis: Int): Seq[Float] =
      (0 until 64).map(i => if (i == axis) 1f else 0f)
    def mkDir(): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_xmemo").toString
      graft.TestFixtures.canonEmb(
        Seq((1L, vec(0)), (2L, vec(0)), (3L, vec(0))).toDF("vec_id", "embedding"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
    graft.graph.GraphOps.clearAllMemos(spark)
    val dirs = (0 to 6).map(_ => mkDir())
    // Standalone base on dirs(0) puts knnCache one entry AHEAD of
    // refinedCache; during refined(dirs(5))'s build the knnCache
    // eviction fires, leaving ONLY dirs(5)'s base live.
    Similarity.knnGraph(spark, dirs(0), k = 1)
    (1 to 5).foreach(i => Similarity.refinedKnnGraph(spark, dirs(i), k = 1))
    // The 6th refined miss evicts refinedCache — under the ownership
    // bug this also unpersists dirs(5)'s BASE blocks.
    Similarity.refinedKnnGraph(spark, dirs(6), k = 1)
    val base = Similarity.knnGraph(spark, dirs(5), k = 1)
    assert(base.count() == 3L,
      "base kNN memo must stay collectable after a refined eviction")
    graft.graph.GraphOps.clearAllMemos(spark)
  }

  test("embedClusters recovers planted clusters; loner stays a singleton") {
    import org.apache.spark.sql.functions._
    // Three well-separated base directions + per-member deterministic
    // jitter → within-cluster cosine ≈ 1, cross-cluster ≈ 0; vector
    // 99 points along a fourth axis, mutual to nobody.
    def vec(axis: Int, jitter: Int): Seq[Float] =
      (0 until 64).map { i =>
        val base = if (i == axis) 10f else 0f
        base + (if (i == (axis + jitter + 1) % 64) 0.1f * (jitter + 1) else 0f)
      }
    val rows =
      (for {
        c <- 0 until 3; j <- 0 until 5
      } yield ((c * 10 + j).toLong, vec(c * 20, j))) :+ (99L, vec(63, 0))
    val dir = java.nio.file.Files.createTempDirectory("graft_embclu").toString
    import spark.implicits._
    graft.TestFixtures.canonEmb(rows.toDF("vec_id", "embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.embedClusters(spark, dir, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    for (c <- 0 until 3; j <- 0 until 5)
      assert(got(c * 10L + j) == c * 10L,
        s"member ${c * 10 + j} → ${got(c * 10L + j)}")
    assert(got(99L) == 99L, s"loner joined cluster ${got(99L)}")
  }

  test("semanticDedup: planted clusters get min-id survivors, loner survives") {
    // Same planted geometry as the embedClusters spec: the verdict
    // must mark exactly the min member of each cluster (and the
    // singleton) as survivor — the curation decision SemDeDup feeds.
    def vec(axis: Int, jitter: Int): Seq[Float] =
      (0 until 64).map { i =>
        val base = if (i == axis) 10f else 0f
        base + (if (i == (axis + jitter + 1) % 64) 0.1f * (jitter + 1) else 0f)
      }
    val rows =
      (for {
        c <- 0 until 3; j <- 0 until 5
      } yield ((c * 10 + j).toLong, vec(c * 20, j))) :+ (99L, vec(63, 0))
    val dir = java.nio.file.Files.createTempDirectory("graft_semdd").toString
    graft.TestFixtures.canonEmb(rows.toDF("vec_id", "embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.semanticDedup(spark, dir, k = 4).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    for (c <- 0 until 3; j <- 0 until 5) {
      val id = c * 10L + j
      assert(got(id) == ((c * 10L, j == 0)), s"member $id → ${got(id)}")
    }
    assert(got(99L) == ((99L, true)), s"loner → ${got(99L)}")
    // exactly one survivor per cluster
    assert(got.values.count(_._2) == 4)
  }

  test("cosineThresholdPairs: LSH branch equals the exact branch; verdicts agree") {
    def vec(axis: Int, jitter: Int): Seq[Float] =
      (0 until 64).map { i =>
        val base = if (i == axis) 10f else 0f
        base + (if (i == (axis + jitter + 1) % 64) 0.1f * (jitter + 1) else 0f)
      }
    val rows = (for { c <- 0 until 3; j <- 0 until 5 }
      yield ((c * 10 + j).toLong, vec(c * 20, j))) :+ (99L, vec(63, 0))
    val emb = rows.toDF("vec_id", "embedding")
    val exact = Similarity.cosineThresholdPairs(emb, 9000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosineThresholdPairs(emb, 9000L, exactMaxRows = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // within-cluster pairs only, complete on both branches
    assert(exact == (for { c <- 0 until 3; a <- 0 until 5; b <- 0 until 5
      if a < b } yield (c * 10L + a, c * 10L + b)).toSet)
    assert(lsh == exact)
    // and the pairs-driven verdict agrees with the mutual-kNN one on
    // well-separated clusters (both contract to min-id clusters)
    val dir = java.nio.file.Files.createTempDirectory("graft_semex").toString
    graft.TestFixtures.canonEmb(emb).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val viaPairs = Similarity.semanticDedupFrom(spark, dir,
        Similarity.cosineThresholdPairs(emb, 9000L))
      .collect().map(_.toSeq).toSeq
    val viaKnn = Similarity.semanticDedup(spark, dir, k = 4)
      .collect().map(_.toSeq).toSeq
    assert(viaPairs == viaKnn)
  }

  test("knnGraphFrom over ALL pairs equals the exact broadcast path") {
    // Candidate-driven scoring with a complete candidate set must be
    // IDENTICAL to the exact path — same cosine tree, same (sim, id)
    // tiebreak. This pins the two code paths to one semantics.
    val emb = graft.Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val ids = emb.select($"vec_id")
    val all = ids.crossJoin(ids.select($"vec_id".as("candidate_id")))
      .filter($"vec_id" =!= $"candidate_id")
    val exact = Similarity.knnGraphOf(emb).collect().map(_.toSeq).toSet
    val from = Similarity.knnGraphFrom(emb, all).collect().map(_.toSeq).toSet
    assert(from == exact)
  }

  test("LSH-candidate kNN path (the at-scale dispatch) has high recall vs exact") {
    val emb = graft.Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val exact = Similarity.knnGraphOf(emb)
      .select($"vec_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.knnGraphFrom(emb, Similarity.lshCandidatePairs(emb))
      .select($"vec_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.7, s"LSH kNN recall $recall (${(exact & lsh).size}/${exact.size})")
  }

  test("NN-descent round is recall-monotone over the LSH base and lifts it") {
    val emb = graft.Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val exact = Similarity.knnGraphOf(emb)
      .select($"vec_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = Similarity.knnGraphFrom(emb, Similarity.lshCandidatePairs(emb))
    val baseEdges = base.select($"vec_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val refined = Similarity.nnDescentFrom(emb, base)
      .select($"vec_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rBase = (exact & baseEdges).size.toDouble / exact.size
    val rRef = (exact & refined).size.toDouble / exact.size
    // The descent candidate pool contains every base edge, so recall
    // cannot drop; on this corpus one round visibly lifts it.
    assert(rRef >= rBase, s"descent recall $rRef < base $rBase")
    assert(rRef >= 0.85, s"descent recall $rRef")
  }

  test("IVF-candidate kNN path composes through knnGraphFrom with useful recall") {
    // knnGraphFrom accepts ANY blocking scheme's bare id pairs: the
    // IVF cell self-join (single-probe equivalent) must still recover
    // a majority of the exact graph on clustered embeddings.
    val emb = graft.Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val centroids = Similarity.fitIvfCentroids(spark, sf)
    val exact = Similarity.knnGraphOf(emb)
      .select($"vec_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.knnGraphFrom(emb,
        Similarity.ivfCandidatePairs(spark, emb, centroids))
      .select($"vec_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF kNN recall $recall (${(exact & ivf).size}/${exact.size})")
  }

  test("e_knn_lsh emits sampled recall of the at-scale path") {
    val rows = Similarity.knnLshWithRecall(spark, sf).collect()
    assert(rows.nonEmpty)
    // recall_e2 is a SAMPLED audit: non-null exactly for the bounded
    // query sample (never computed against the dispatched kNN table,
    // which would self-compare past the exact-path bound)
    val (sampled, rest) = rows.partition(_.getLong(0) < Similarity.QueryLimit)
    assert(rest.forall(_.isNullAt(4)))
    assert(sampled.nonEmpty && sampled.forall(r =>
      !r.isNullAt(4) && r.getLong(4) >= 0L && r.getLong(4) <= 100L))
    val recalls = sampled.map(_.getLong(4))
    val mean = recalls.sum.toDouble / recalls.length
    assert(mean >= 70.0, s"mean sampled recall_e2 $mean")
  }

  test("e_knn_ivf emits sampled recall of the IVF-candidate path") {
    val rows = Similarity.knnIvfWithRecall(spark, sf).collect()
    assert(rows.nonEmpty)
    val (sampled, rest) = rows.partition(_.getLong(0) < Similarity.QueryLimit)
    assert(rest.forall(_.isNullAt(4)))
    assert(sampled.nonEmpty && sampled.forall(r =>
      !r.isNullAt(4) && r.getLong(4) >= 0L && r.getLong(4) <= 100L))
    val recalls = sampled.map(_.getLong(4))
    val mean = recalls.sum.toDouble / recalls.length
    // multi-probe IVF on the near-random corpus: the measured ~0.5+
    // band (single-probe measured 0.26 — the layout this pins)
    assert(mean >= 50.0, s"mean sampled IVF recall_e2 $mean")
  }

  test("e_knn_ivfpq: IVF blocking + SDC code pruning + exact re-rank keeps recall") {
    def meanRecall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val sampled = rows.filter(_.getLong(0) < Similarity.QueryLimit)
        .filterNot(_.isNullAt(4))
      sampled.map(_.getLong(4)).sum.toDouble / sampled.length
    }
    val ivfpq = Similarity.knnIvfPqWithRecall(spark, sf).collect()
    assert(ivfpq.nonEmpty)
    val mean = meanRecall(ivfpq)
    assert(mean >= 50.0, s"mean sampled IVF-PQ recall_e2 $mean")
    // The NEAR-CEILING invariant: e_knn_ivf exact-scores the
    // identical candidate set, so its recall is the hard ceiling of
    // any encoding. Residual SDC + the 20k shortlist must land
    // within a few points of it — this pins "quantization loss is
    // small" RELATIVE to the candidates (measured 61 vs 62.5 at
    // sf0.1), which stays meaningful however the corpus moves, where
    // an absolute floor conflates candidate recall with encoding
    // quality.
    val ceiling = meanRecall(Similarity.knnIvfWithRecall(spark, sf).collect())
    assert(mean >= ceiling - 10.0,
      s"IVF-PQ mean $mean too far under its candidate ceiling $ceiling")
  }

  test("knnGraphOf dispatch: LSH branch equals exact branch on planted clusters") {
    // Drive the dispatch's ELSE branch itself (threshold override)
    // rather than calling knnGraphFrom directly: on well-separated
    // planted clusters the sign-LSH candidates certainly contain the
    // same-cluster neighbors, so both branches return identical
    // edges.
    def vec(axis: Int, jitter: Int): Seq[Float] =
      (0 until 64).map { i =>
        val base = if (i == axis) 10f else 0f
        base + (if (i == (axis + jitter + 1) % 64) 0.1f * (jitter + 1) else 0f)
      }
    val emb = (for { c <- 0 until 3; j <- 0 until 5 }
      yield ((c * 10 + j).toLong, vec(c * 20, j))).toDF("vec_id", "embedding")
    val exact = Similarity.knnGraphOf(emb, 4, exactMaxRows = 10000L)
      .collect().map(_.toSeq).toSet
    val lshBranch = Similarity.knnGraphOf(emb, 4, exactMaxRows = 1L)
      .collect().map(_.toSeq).toSet
    assert(lshBranch == exact)
  }

  test("kNN edge table is memoized per (session, embeddings identity, k)") {
    // e_knn_graph and e_embed_clusters must share ONE checkpointed
    // scoring pass, and the per-query scratch sweep keeps its blocks.
    val a = Similarity.knnGraph(spark, sf)
    graft.Memo.sweep(spark)
    assert(a eq Similarity.knnGraph(spark, sf))
    assert(a.count() > 0L)
  }

  test("IVF ANN achieves reasonable recall of brute-force top-10") {
    val exact = Similarity.cosineTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.annIvfTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall (${(exact & ivf).size}/${exact.size})")
  }

  test("PQ codes are in range and the ADC+re-rank search has high recall") {
    val emb = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val cb = Similarity.fitPqCodebooks(spark, sf)
    assert(cb.length == Similarity.PqSubspaces &&
      cb.forall(_.length == Similarity.PqCodebook))
    val codes = Similarity.pqEncode(spark, sf, emb, cb).collect()
    assert(codes.length == emb.count())
    codes.foreach { r =>
      val cell = r.getInt(1)
      assert(cell >= 0 && cell < Similarity.IvfCells, s"home cell $cell")
      val cs = r.getSeq[Int](2)
      assert(cs.length == Similarity.PqSubspaces &&
        cs.forall(c => c >= 0 && c < Similarity.PqCodebook), cs)
    }
    // The exact re-rank means the search misses a true neighbor only
    // when it falls outside the ADC shortlist entirely.
    val out = Similarity.pqAdcTopK(spark, sf).collect()
    val mean = out.map(_.getLong(4)).sum.toDouble / out.length
    assert(mean >= 70.0, s"PQ ADC+re-rank mean recall_e2 $mean")
  }

  test("PQ codebook memo misses when embeddings are regenerated in place") {
    def vec(axis: Int): Seq[Float] =
      (0 until 64).map(i => if (i == axis) 1f else 0f)
    val dir = java.nio.file.Files.createTempDirectory("graft_pqmemo").toString
    def write(rows: Seq[(Long, Seq[Float])]): Unit = {
      graft.TestFixtures.canonEmb(rows.toDF("vec_id", "embedding")).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val f = new java.io.File(s"$dir/embeddings.parquet")
      f.setLastModified(f.lastModified() + 2000)
    }
    // 64 distinct one-hot axes → enough distinct points per 4-d
    // subspace; the rewrite shifts every axis so ANY stale codebook
    // differs from the fresh fit.
    write((1L to 64L).map(i => (i, vec((i % 32).toInt))))
    val c1 = Similarity.fitPqCodebooks(spark, dir)
    write((1L to 64L).map(i => (i, vec((i % 32).toInt + 32))))
    val c2 = Similarity.fitPqCodebooks(spark, dir)
    assert(c1.flatten.flatten.toSeq != c2.flatten.flatten.toSeq,
      "stale PQ codebook memo after in-place regeneration")
  }
}
