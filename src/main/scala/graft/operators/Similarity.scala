package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.graph.{Dispatch, LocalLouvain}
import graft.functions.VectorFunctions._

/** Similarity search over the embeddings table (SURVEY §2 rows
  * 26–28). Brute-force top-k broadcasts the (small) query set so the
  * corpus never shuffles; the ANN variant restricts comparisons to
  * sign-LSH buckets so the pair count stays near-linear at scale.
  */
object Similarity {

  val EmbeddingDim = 64
  val QueryLimit = 20
  val TopK = 10

  /** Exact cosine top-k for query vectors (vec_id < 20). The query
    * side is broadcast: one scan of the corpus, no corpus shuffle,
    * which is the right plan shape at any corpus size. Similarity is
    * emitted e4-scaled for bit-stable oracle comparison. */
  def cosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    cosineTopKOf(emb,
      emb.filter(col("vec_id") < QueryLimit)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
  }

  /** [[cosineTopK]] for ANY corpus (vec_id, embedding) and bounded
    * query table (query_id, q_emb) — the query side broadcasts, the
    * corpus scans once, so the plan is right at any corpus size. */
  def cosineTopKOf(emb: DataFrame, queries: DataFrame,
      k: Int = TopK): DataFrame = {
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_emb"), col("embedding")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        round(col("sim") * 1e4).cast("long").as("sim_e4"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** MMR-diversified top-k (Carbonell & Goldstein, SIGIR 1998) — the
    * result-list diversity pass plain top-k lacks: when the corpus
    * holds near-duplicates, top-k returns k copies of one answer;
    * MMR greedily picks argmax λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s),
    * trading relevance against redundancy with what's already chosen.
    * Two stages: (1) the standard bounded-query broadcast scan + one
    * window builds a poolK-candidate pool per query (the only
    * corpus-sized work — identical plan shape to [[cosineTopK]]);
    * (2) the greedy selection is INHERENTLY sequential in k, so it
    * runs per query group via `flatMapGroups` over the bounded pool
    * (≤ poolK rows × ~KB each) — the documented last-resort typed
    * escape, used exactly where a declarative form does not exist.
    * Deterministic: pool ranked (sim desc, id), score ties break to
    * the smaller id. */
  def mmrTopK(spark: SparkSession, dir: String, k: Int = TopK,
      poolK: Int = 40, lambdaE4: Long = 7000L): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < QueryLimit)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("c").asc)
    val pool = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("c"),
        cosine(col("q_emb"), col("embedding")).as("sim"), col("embedding"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= poolK)
      .select(col("query_id"), col("c"), col("sim"), col("embedding"))
    val lam = lambdaE4.toDouble / 1e4
    pool.as[(Long, Long, Double, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups { (q, it) =>
        val cands = it.toArray.sortBy(t => (-t._3, t._2))
        def cos(a: Array[Float], b: Array[Float]): Double = {
          var i = 0; var dot = 0.0; var na = 0.0; var nb = 0.0
          while (i < a.length) {
            dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
            nb += b(i).toDouble * b(i); i += 1
          }
          if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na) / math.sqrt(nb)
        }
        val selected = scala.collection.mutable.ArrayBuffer[Array[Float]]()
        val used = scala.collection.mutable.Set[Int]()
        val out = scala.collection.mutable.ArrayBuffer[(Long, Int, Long, Long)]()
        var r = 1
        while (r <= k && used.size < cands.length) {
          var bestIdx = -1
          var bestScore = Double.NegativeInfinity
          cands.indices.foreach { i =>
            if (!used.contains(i)) {
              val pen =
                if (selected.isEmpty) 0.0
                else selected.iterator.map(s => cos(cands(i)._4, s)).max
              val sc = lam * cands(i)._3 - (1.0 - lam) * pen
              if (sc > bestScore + 1e-12
                || (math.abs(sc - bestScore) <= 1e-12 && bestIdx >= 0
                  && cands(i)._2 < cands(bestIdx)._2)) {
                bestScore = sc; bestIdx = i
              }
            }
          }
          used += bestIdx
          selected += cands(bestIdx)._4
          out += ((q, r, cands(bestIdx)._2, math.round(bestScore * 1e4)))
          r += 1
        }
        out.iterator
      }
      .toDF("query_id", "rank", "picked_id", "mmr_e4")
      .orderBy(col("query_id"), col("rank"))
  }

  /** Cosine RANGE search — every neighbor with sim ≥ τ per query,
    * the dual of [[cosineTopK]]: top-k answers "the k best whatever
    * their quality", range search answers "everything above a quality
    * floor however many" (the retrieval shape of dedup sweeps,
    * recommendation floors, and RAG relevance cutoffs, where a query
    * may legitimately have 0 or 500 matches). Same plan as the top-k:
    * the bounded query set broadcasts against ONE corpus scan — no
    * corpus shuffle, no window (the threshold replaces ranking, so
    * this is cheaper than top-k at any scale). The predicate filters
    * on the e4-ROUNDED integer, making the boundary engine-exact;
    * deterministic (sim desc, neighbor) output order. τ = 0.3 on the
    * near-random test corpus (~0.5 max off-diagonal sim); at scale
    * the same sign-LSH banding that serves [[annTopK]] restricts the
    * scan to candidate buckets — range search composes with every
    * blocking scheme top-k does. */
  def rangeSearch(spark: SparkSession, dir: String, tauE4: Long = 3000): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    rangeSearchOf(emb,
      emb.filter(col("vec_id") < QueryLimit)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
      tauE4)
  }

  /** [[rangeSearch]] for ANY corpus and bounded query table. */
  def rangeSearchOf(emb: DataFrame, queries: DataFrame,
      tauE4: Long = 3000): DataFrame =
    emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("q_emb"), col("embedding")) * 1e4)
          .cast("long").as("sim_e4"))
      .filter(col("sim_e4") >= tauE4)
      .orderBy(col("query_id"), col("sim_e4").desc, col("neighbor_id"))

  /** Maximum-inner-product top-k (MIPS) — the retrieval objective of
    * recommendation / reward scoring, where vector MAGNITUDE carries
    * signal (item popularity, document importance) and the nearest
    * neighbor by angle is NOT the argmax by dot product. The test
    * corpus is unit-normalized (MIPS would collapse to cosine), so
    * the corpus states a deterministic per-id importance factor
    * f = 1 + (vec_id mod 7)/4; the score is f·⟨q,x⟩ — by linearity
    * the factor never touches the arrays, so the scan reads raw
    * embeddings and scales the SCALAR (one multiply per pair, zero
    * array rewrites). Same broadcast-queries/one-corpus-scan shape
    * as [[cosineTopK]]; ranking on the e4-rounded integer score with
    * a neighbor-id tiebreak, so the order is engine-deterministic.
    *
    * At scale the standard reduction (Bachrach et al. 2014) drops
    * MIPS into every existing ANN path: augment each scaled vector
    * with sqrt(M² − ‖f·x‖²) (M = max norm; queries pad 0) — all
    * augmented vectors sit on the M-sphere, where cosine order =
    * inner-product order, so sign-LSH/IVF blocking applies unchanged
    * (MipsSpec pins the reduction recovering the exact MIPS
    * ranking on a cosine-vs-MIPS-divergent planted set). */
  def mipsTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val queries = emb
      .filter(col("vec_id") < QueryLimit)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val factor = lit(1.0) + (col("vec_id") % 7).cast("double") / 4.0
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(factor * innerProduct(col("q_emb"), col("embedding")) * 1e4)
          .cast("long").as("ip_e4"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("ip_e4").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("ip_e4"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Append per-query recall@k vs the exact top-k, computed in-query
    * over the same bounded query set — retrieval quality rides the
    * driver's row/hash check instead of living only in ScalaTest. At
    * scale this is the standard sampled-query recall probe: the exact
    * side is one corpus scan against `QueryLimit` broadcast queries,
    * the same cost shape as the ANN query itself. NOTE this makes
    * each e_ann_* bench number = ANN path + one brute-force pass —
    * deliberate (recall is part of the query contract); compare ANN
    * path cost in isolation against e_cosine_topk's time. */
  private def withRecall(spark: SparkSession, dir: String, ann: DataFrame): DataFrame = {
    val exact = cosineTopK(spark, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    val w = Window.partitionBy(col("query_id"))
    ann.join(exact, Seq("query_id", "neighbor_id"), "left")
      .withColumn("hit", coalesce(col("hit"), lit(0L)))
      .withColumn("recall_e2", (sum(col("hit")).over(w) * 100L / TopK).cast("long"))
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim_e4"),
        col("recall_e2"))
      .orderBy(col("query_id"), col("rank"))
  }

  val LshBands = 8
  val LshRows = 2

  /** vec_id, embedding, exploded (band, key) sign-LSH rows. */
  private def bandedOf(emb: DataFrame): DataFrame =
    bandedOf(emb, LshBands, LshRows)

  private def bandedOf(emb: DataFrame, bands: Int, rows: Int): DataFrame =
    emb
      .select(col("vec_id"), col("embedding"),
        explode(signLshBands(col("embedding"), EmbeddingDim, bands, rows)).as("bk"))
      .select(col("vec_id"), col("embedding"),
        col("bk.band").as("band"), col("bk.key").as("key"))

  private def banded(spark: SparkSession, dir: String): DataFrame =
    bandedOf(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")))

  /** The narrow (vec_id, band, key) sign-LSH band table — the
    * persistable index form ([[graft.sources.AnnIndexStore
    * .saveLshBands]]): 8 rows of 16 bytes per vector, embeddings stay
    * in the lake and join back by id at search time. */
  def lshBandTable(spark: SparkSession, dir: String): DataFrame =
    banded(spark, dir).select(col("vec_id"), col("band"), col("key"))

  /** ANN top-k: candidates are corpus vectors sharing ANY sign-LSH
    * band key with the query (OR-of-ANDs). Recall vs brute force is
    * checked in the spec; at 100 TB this is a band-key equi-join
    * instead of a full cross product. */
  def annLshTopK(spark: SparkSession, dir: String): DataFrame =
    annLshFromBanded(spark, dir, banded(spark, dir))

  /** ANN top-k over a PERSISTED (vec_id, band, key) band table: the
    * embeddings join back by id (the index stores no vectors), then
    * the identical band-join scoring — deterministic hashes + exact
    * long/float round-trips ⇒ bit-equal to [[annLshTopK]]
    * (spec-pinned). */
  def annLshSearch(spark: SparkSession, dir: String, bands: DataFrame): DataFrame =
    annLshFromBanded(spark, dir,
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
        .join(bands, Seq("vec_id"))
        .select(col("vec_id"), col("embedding"), col("band"), col("key")))

  private def annLshFromBanded(spark: SparkSession, dir: String,
      corpus: DataFrame): DataFrame = {
    val queries = corpus
      .filter(col("vec_id") < QueryLimit)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("band"), col("key"))
    // Score before deduping: the duplicate band collisions recompute
    // a cheap native cosine, but the dedup shuffle then carries only
    // (ids, sim) — never the embedding vectors.
    val scored = corpus.join(broadcast(queries), Seq("band", "key"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_emb"), col("embedding")).as("sim"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    withRecall(spark, dir,
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopK)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("sim") * 1e4).cast("long").as("sim_e4")))
  }

  val IvfCells = 16
  val IvfProbes = 4

  /** ANN top-k, IVF flavor: a k-means coarse quantizer (16 cells,
    * fixed seed) partitions the corpus; each query probes its 4
    * nearest cells and scores only those candidates. The quantizer
    * trains once (on a sample at scale), cell assignment is one
    * model pass, and search is a cell-key equi-join — the other
    * standard 100 TB ANN layout next to sign-LSH. Recall vs brute
    * force is spec-checked. */
  // The fitted quantizer is the IVF family's persist-once artifact
  // (16×dim doubles — driver-scalar sized, no RDD blocks to retain):
  // memoized per (session, embeddings identity) so the self-fitting
  // query entry, repeated searches and the candidate-pair generator
  // all share ONE k-means fit, exactly as a production deployment
  // persists centroids once and searches many times.
  private val centroidMemo = graft.Memo[String, Array[Array[Double]]](8)

  private def embeddingsKey(dir: String): String =
    graft.Memo.fileKey(Seq(s"$dir/embeddings.parquet"))

  /** Fit the IVF coarse quantizer and return its centroids — the
    * artifact a production deployment persists once and reuses across
    * every search (16×dim doubles: driver-scalar sized). Trains on a
    * bounded seeded sample of unit-normalized vectors, exactly as the
    * model-path spec oracle does. Memoized per (session, embeddings
    * identity). */
  def fitIvfCentroids(spark: SparkSession, dir: String): Array[Array[Double]] =
    centroidMemo(spark, embeddingsKey(dir))(fitIvfCentroidsUncached(spark, dir))

  private def fitIvfCentroidsUncached(spark: SparkSession, dir: String): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val normArr = graft.functions.CatalystText.l2_normalize(col("embedding"))
    val emb = Tables.embeddings(spark, dir)
      .select(array_to_vector(normArr).as("features"))
    val n = math.max(Tables.embeddings(spark, dir).count(), 1L)
    val trainTarget = 100000L
    val train = (if (n <= trainTarget) emb
                 else emb.sample(withReplacement = false,
                   trainTarget.toDouble / n, seed = 42L)).cache()
    val model = new KMeans().setK(IvfCells).setSeed(42L).setMaxIter(10).fit(train)
    train.unpersist(blocking = false)
    model.clusterCenters.map(_.toArray)
  }

  /** ANN top-k over a PRECOMPUTED quantizer — the reuse entry point:
    * fit once ([[fitIvfCentroids]]), persist the (tiny) centroid
    * array, search many times. Cell assignment becomes a pure
    * projection against centroid literals (argmin of Euclidean
    * distance on the unit sphere), so the search path never touches
    * ML fitting at all. */
  def annIvfTopK(spark: SparkSession, dir: String,
      centroids: Array[Array[Double]]): DataFrame =
    annIvfSearch(spark, dir, ivfAssigned(spark, dir, centroids), centroids)

  /** The centroid-literal cell assignment as a pure projection —
    * shared by the in-memory search and the persisted-index writer
    * ([[graft.sources.AnnIndexStore]]), so the saved inverted lists
    * are bit-identical to what the live path would assign.
    *
    * Ranks by TRUE Euclidean distance to each centroid, matching the
    * model's assignment: for unit x, argmin |x−c|² = argmax
    * (2·x·c − |c|²). Centroids are means of unit vectors, so their
    * norms differ — plain cosine argmax would assign differently.
    * x·c = cosine(x̂, c)·|c| since x is unit-normalized; |c| and
    * |c|² fold into plan literals. */
  private[graft] def ivfAssigned(spark: SparkSession, dir: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val normArr = graft.functions.CatalystText.l2_normalize(col("embedding"))
    val simStructs = centroids.zipWithIndex.map { case (c, i) =>
      val cCol = org.apache.spark.sql.functions.array(c.toSeq.map(lit): _*)
      val cn = math.sqrt(c.map(x => x * x).sum)
      struct((cosine(normArr, cCol) * lit(2.0 * cn) - lit(cn * cn)).as("sim"),
        lit(i).as("cell"))
    }
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        element_at(reverse(array_sort(
          org.apache.spark.sql.functions.array(simStructs.toIndexedSeq: _*))), 1)
          .getField("cell").as("cell"))
  }

  /** Self-fitting entry point: rides the memoized quantizer and the
    * centroid-literal assignment — one k-means fit per (session,
    * embeddings identity) however many IVF queries run. Equality with
    * the fresh-fit model.transform path is spec-checked
    * ([[annIvfTopKModelPath]]). */
  def annIvfTopK(spark: SparkSession, dir: String): DataFrame =
    annIvfTopK(spark, dir, fitIvfCentroids(spark, dir))

  /** The fresh-fit, `model.transform`-assigned formulation — the
    * spec's oracle for the centroid-literal path (same seed + sample
    * ⇒ same quantizer ⇒ identical results). Not memoized. */
  private[graft] def annIvfTopKModelPath(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    // Cluster UNIT-NORMALIZED vectors: KMeans assigns by Euclidean
    // distance, and on the unit sphere Euclidean order equals cosine
    // order — without normalization, cell assignment (Euclid) and
    // probe ranking (cosine) disagree and true neighbors land in
    // never-probed cells. Native one-loop normalization: KMeans makes
    // multiple passes over features, so interpreted per-element HOF
    // lambdas here would multiply.
    val normArr = graft.functions.CatalystText.l2_normalize(col("embedding"))
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        array_to_vector(normArr).as("features"))
    // Train the quantizer on a bounded sample: 16 centroids need a few
    // thousand points, not the corpus — at 100 TB a full-corpus fit is
    // a multi-pass ML job over everything. count() on parquet is a
    // metadata-only scan; the seed keeps the sample (and centroids)
    // deterministic. Only the sample is cached for KMeans' iterations,
    // and it's released as soon as the fit returns — cell assignment
    // below is a single model pass over the unpersisted corpus.
    val n = math.max(Tables.embeddings(spark, dir).count(), 1L)
    val trainTarget = 100000L
    val train = (if (n <= trainTarget) emb
                 else emb.sample(withReplacement = false,
                   trainTarget.toDouble / n, seed = 42L))
      .select(col("features")).cache()
    val model = new KMeans().setK(IvfCells).setSeed(42L).setMaxIter(10).fit(train)
    train.unpersist(blocking = false)
    val assigned = model.transform(emb)
      .select(col("vec_id"), col("embedding"), col("prediction").as("cell"))
    annIvfSearch(spark, dir, assigned, model.clusterCenters.map(_.toArray))
  }

  /** Probe + score over a cell-assigned corpus: queries rank the
    * centroid literals by cosine (consistent with the Euclidean
    * assignment — both sides live on the unit sphere; centroid
    * arrays are plan constants, no shuffle), probe their `IvfProbes`
    * nearest cells via a broadcast cell-key equi-join, and take
    * per-query top-k with recall appended. */
  private[graft] def annIvfSearch(spark: SparkSession, dir: String,
      assigned: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val distStructs = centroids.zipWithIndex.map { case (c, i) =>
      val cCol = org.apache.spark.sql.functions.array(c.toSeq.map(lit): _*)
      struct(cosine(col("embedding"), cCol).as("sim"), lit(i).as("cell"))
    }
    val probed = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < QueryLimit)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        slice(reverse(array_sort(org.apache.spark.sql.functions.array(distStructs.toIndexedSeq: _*))),
          1, IvfProbes).as("cells"))
      .select(col("query_id"), col("q_emb"), explode(col("cells.cell")).as("cell"))

    val scored = assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("q_emb"), col("embedding")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    withRecall(spark, dir,
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopK)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("sim") * 1e4).cast("long").as("sim_e4")))
  }

  /** Largest embedding table the exact all-pairs kNN path accepts:
    * above it the broadcast (n × dim floats) and the n² cosine wall
    * both bite, so [[knnGraph]] dispatches to LSH candidates. */
  val ExactKnnMaxRows = 16384L

  /** Per-vector L2 norm hoisted OUT of the pairwise loop (round 20,
    * guide §4 — hoist invariant work; VERDICT r19 item 7): the
    * pairwise [[graft.functions.CatalystText.CosineSim]] recomputes
    * Σx² for BOTH vectors inside every candidate-pair evaluation —
    * n·(pairs per vector) redundant norm folds. Computing
    * sqrt(Σx²) once per vector and scoring pairs as
    * inner_product(a,b)/(nrm_a·nrm_b) is BIT-IDENTICAL: the norm
    * accumulator's addition sequence (((0+x₀²)+x₁²)+…) is unchanged
    * by being evaluated in its own pass (CosineSim interleaves the
    * three accumulators but each is an independent IEEE sum), sqrt
    * and the final divide are the same ops in the same order.
    * VALID ONLY for uniform-length, null-free vector tables (the
    * embeddings corpus): CosineSim truncates both folds at
    * min(|a|,|b|) and poisons on nulls within the prefix, which a
    * per-vector norm cannot replicate on ragged input — so this
    * helper stays private to the corpus-scoring paths and ragged/
    * planted-case surfaces keep the one-pass expression.
    * CosineParitySpec pins hoisted ≡ one-pass score equality on the
    * real corpus. */
  private def hoistedCosine(dotCol: Column, na: Column, nb: Column): Column =
    dotCol / (na * nb)
  private def normCol(e: Column): Column = sqrt(innerProduct(e, e))

  /** Top-k per vector over scored (vec_id, nb, sim) rows, with the
    * full (sim desc, nb asc) unique tiebreak; sims leave e4-scaled.
    *
    * Round 20 (guide §2.3): the row_number window this used to run
    * had to exchange AND sort EVERY scored candidate pair; the native
    * [[graft.functions.TopKBySim]] aggregate map-side-combines to ≤ k
    * rows per vector per partition before the shuffle — the dominant
    * shuffle of the at-scale kNN builds. Result-identical: the
    * aggregate's comparator is the window's exact total order and
    * posexplode position + 1 is the window's row_number (equality
    * spec in SimilaritySpec). */
  private def topKEdges(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("vec_id"))
      .agg(graft.functions.TopKBySim
        .top_k_by_sim(col("nb"), col("sim"), k).as("tops"))
      .select(col("vec_id"), posexplode(col("tops")))
      .select(col("vec_id"), col("col.nb").as("neighbor_id"),
        (col("pos") + 1).as("rank"),
        round(col("col.sim") * 1e4).cast("long").as("sim_e4"))

  /** k-NN edges from CANDIDATE pairs — the 100-TB path: score only
    * the supplied (vec_id, candidate_id) pairs (from sign-LSH bands,
    * IVF cells, or any other blocking scheme) and take per-vector
    * top-k with the same (sim, id) tiebreak as the exact path. Pairs
    * are deduped as bare (id, id) rows BEFORE the two embedding
    * lookups, so no array column ever crosses a dedup shuffle; the
    * lookups are plain equi-joins that co-partition with the corpus
    * at scale instead of broadcasting it. */
  def knnGraphFrom(emb: DataFrame, candidatePairs: DataFrame,
      k: Int = TopK): DataFrame = {
    // Measured driver dispatch (round 20, the exactKnnEdges family):
    // when the corpus is within the exact bound AND the candidate
    // pairs fit the collect cap, score + top-k in the driver — the
    // capped limit+collect materializes the candidate plan ONCE (a
    // too-big pair set declines and only then does the DataFrame path
    // re-evaluate it). At scale the corpus gate declines before the
    // candidate plan is touched. Serves the IVF candidate path and
    // the PQ-SDC re-rank; LocalSimSpec pins both-path equality.
    val longPairs = Seq("vec_id", "candidate_id").forall(c =>
      candidatePairs.schema(c).dataType == org.apache.spark.sql.types.LongType)
    Dispatch.gated("knnGraphFrom", corpus(emb), ExactKnnMaxRows, keys = Seq("vec_id"),
        admit = Seq(lit(LocalSim.twinnable(emb) && longPairs))) { rs =>
      val cap = LocalLouvain.CollectMax
      val pairs = candidatePairs.select(col("vec_id"), col("candidate_id"))
        .limit((cap + 1).toInt).collect()
      if (pairs.length > cap) None
      else Some(emb.sparkSession.createDataFrame(
          LocalSim.pairsTopK(LocalSim.corpusOf(rs),
            pairs.map(r => (r.getLong(0), r.getLong(1))), k))
        .toDF("vec_id", "neighbor_id", "rank", "sim_e4"))
    } { e =>
      // Norms hoisted to the per-vector lookups (round 20): each
      // candidate-pair evaluation pays one dot fold instead of three.
      val e1 = e.select(col("vec_id"), col("embedding"),
        normCol(col("embedding")).as("nrm1"))
      val e2 = e.select(col("vec_id").as("nb"), col("embedding").as("e2"),
        normCol(col("embedding")).as("nrm2"))
      val scored = candidatePairs
        .select(col("vec_id"), col("candidate_id").as("nb"))
        .filter(col("vec_id") =!= col("nb"))
        .dropDuplicates("vec_id", "nb")
        .join(e1, Seq("vec_id"))
        .join(e2, Seq("nb"))
        .select(col("vec_id"), col("nb"),
          hoistedCosine(innerProduct(col("embedding"), col("e2")),
            col("nrm1"), col("nrm2")).as("sim"))
      topKEdges(scored, k)
    }
  }

  /** The (vec_id, embedding) projection every similarity twin gates
    * on. */
  private def corpus(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"))

  /** Sign-LSH candidate pairs over the whole table (both directions):
    * a band-key self-join emitting bare (vec_id, candidate_id) rows —
    * near-linear in the corpus at scale, the default candidate source
    * for [[knnGraphFrom]]. The fixed test-scale banding (8 bands × 2
    * bits); at-scale callers thread a measured count through the
    * sized overload. */
  def lshCandidatePairs(emb: DataFrame): DataFrame =
    lshCandidatePairsBanded(emb, LshBands, LshRows)

  /** Measured-size sign-LSH params (round 19 — found BUILDING the
    * at-scale ANN artifact, before running it: 2-bit band keys have 4
    * buckets, so each band's self-join is n²/4 — at the 262k-vector
    * artifact scale that is 1.4e11 candidate rows, a scale-killer
    * hiding exactly where VERDICT r18 said no artifact had looked).
    * Depth scales with the corpus: rows = ⌈log₂(n/32)⌉ keeps expected
    * bucket size ≈ 32 (collisions ≈ 16·32·n, linear), and bands
    * double to 16 to buy back the per-band selectivity loss
    * (recall ≈ 1−(1−p^r)^16, still 0.85+ for near-dup cosines).
    * Below [[ExactKnnMaxRows]] nothing changes — the dispatched exact
    * path owns that range anyway and every test-scale output is
    * byte-stable. */
  private[operators] def lshParamsFor(n: Long): (Int, Int) =
    if (n <= ExactKnnMaxRows) (LshBands, LshRows)
    else {
      val rows = math.min(24,
        math.max(LshRows, 64 - java.lang.Long.numberOfLeadingZeros(
          math.max(n / 32 - 1, 1L)).toInt))
      (16, rows)
    }

  /** [[lshCandidatePairs]] with banding sized from a measured corpus
    * count — the at-scale dispatch path. */
  def lshCandidatePairs(emb: DataFrame, measuredRows: Long): DataFrame = {
    val (bands, rows) = lshParamsFor(measuredRows)
    lshCandidatePairsBanded(emb, bands, rows)
  }

  private def lshCandidatePairsBanded(emb: DataFrame, bands: Int,
      rows: Int): DataFrame = {
    val e = bandedOf(emb, bands, rows)
      .select(col("vec_id"), col("band"), col("key"))
    e.join(e.select(col("band"), col("key"), col("vec_id").as("candidate_id")),
        Seq("band", "key"))
      .filter(col("vec_id") =!= col("candidate_id"))
      .select(col("vec_id"), col("candidate_id"))
  }

  /** IVF candidate pairs — the other standard blocking scheme next
    * to sign-LSH, emitted as the same bare (vec_id, candidate_id)
    * shape [[knnGraphFrom]] scores. Multi-probe, mirroring
    * [[annIvfTopK]]'s search layout exactly: the candidate side sits
    * in its home (argmin-Euclidean) cell, the query side probes its
    * `IvfProbes` nearest cells — single-probe (home∩home) misses the
    * cross-cell half of true neighborhoods (measured recall 0.26 vs
    * 0.5+ with probes). Near-linear when cells are balanced; skewed
    * cells are the quantizer's problem (more cells), not the join's. */
  def ivfCandidatePairs(spark: SparkSession, emb: DataFrame,
      centroids: Array[Array[Double]]): DataFrame = {
    val normArr = graft.functions.CatalystText.l2_normalize(col("embedding"))
    val simStructs = centroids.zipWithIndex.map { case (c, i) =>
      val cCol = org.apache.spark.sql.functions.array(c.toSeq.map(lit): _*)
      val cn = math.sqrt(c.map(x => x * x).sum)
      struct((cosine(normArr, cCol) * lit(2.0 * cn) - lit(cn * cn)).as("sim"),
        lit(i).as("cell"))
    }
    val ranked = reverse(array_sort(
      org.apache.spark.sql.functions.array(simStructs.toIndexedSeq: _*)))
    val home = emb.select(col("vec_id").as("candidate_id"),
      element_at(ranked, 1).getField("cell").as("cell"))
    val probes = emb.select(col("vec_id"),
        slice(ranked, 1, IvfProbes).as("cells"))
      .select(col("vec_id"), explode(col("cells.cell")).as("cell"))
    probes.join(home, Seq("cell"))
      .filter(col("vec_id") =!= col("candidate_id"))
      .select(col("vec_id"), col("candidate_id"))
  }

  /** Exact all-pairs scored edges: one broadcast of the (bounded)
    * vector table against itself, codegen'd native cosine. */
  private def knnScoredExact(emb: DataFrame): DataFrame = {
    // The n² hot loop of the exact path: norms hoisted per vector
    // (round 20) — ~n² fewer redundant Σx² folds, scores bit-equal.
    val left = emb.select(col("vec_id"), col("embedding"),
      normCol(col("embedding")).as("nrm1"))
    val right = emb.select(col("vec_id").as("nb"), col("embedding").as("e2"),
      normCol(col("embedding")).as("nrm2"))
    left.join(broadcast(right), col("vec_id") =!= col("nb"))
      .select(col("vec_id"), col("nb"),
        hoistedCosine(innerProduct(col("embedding"), col("e2")),
          col("nrm1"), col("nrm2")).as("sim"))
  }

  /** k-NN graph over an embedding DataFrame: every vector's top-k
    * cosine neighbors — the similarity graph that bridges embeddings
    * into the graph-analytics surface (feed it to CC / Louvain /
    * degrees like any edge list). Dispatches on the measured table
    * size, like adamicAdar's dense/sparse split: a bounded corpus
    * (≤ [[ExactKnnMaxRows]]) takes the exact broadcast-all-pairs
    * reference path; anything larger scores only sign-LSH candidate
    * pairs through [[knnGraphFrom]] — approximate (recall is
    * spec-checked vs exact) but linear-ish, never an n² broadcast. */
  def knnGraphOf(emb: DataFrame, k: Int = TopK): DataFrame =
    knnGraphOf(emb, k, ExactKnnMaxRows)

  /** Threshold-overridable form so specs exercise the LSH branch of
    * the dispatch itself (not just knnGraphFrom directly) without a
    * 16k-row fixture — the same both-branches discipline as the
    * jaccard/clustering hub dispatch. */
  private[graft] def knnGraphOf(emb: DataFrame, k: Int,
      exactMaxRows: Long): DataFrame = {
    val n = emb.count()
    if (n <= exactMaxRows) exactKnnEdges(emb, k)
    // The measured count sizes the banding (lshParamsFor): the fixed
    // 8×2 test-scale banding is n²/4-per-band above the bound.
    else {
      val (bands, rows) = lshParamsFor(n)
      lshKnnEdges(emb, bands, rows, k)
    }
  }

  /** Exact-branch kNN edges with a measured driver dispatch (round
    * 20, the round-14 twin family): the all-pairs scoring spends its
    * time in BroadcastNestedLoopJoin row machinery (piece-profiled
    * 2.7 s at n = 2000 for ~0.26 GFLOP of dots) — within the exact
    * bound the twin computes the identical scores and the identical
    * (sim desc, nb asc) top-k in the driver (LocalSim doc for the
    * bit-identity argument; LocalSimSpec pins both-path equality).
    * The DataFrame path stays verbatim — it IS the shape the at-scale
    * branches reuse. */
  private def exactKnnEdges(emb: DataFrame, k: Int): DataFrame =
    Dispatch.gated("exactKnnEdges", corpus(emb), ExactKnnMaxRows, keys = Seq("vec_id"),
        admit = Seq(lit(LocalSim.twinnable(emb)), count(lit(1)) > 0)) { rs =>
      Some(emb.sparkSession.createDataFrame(
          LocalSim.exactTopK(LocalSim.corpusOf(rs), k))
        .toDF("vec_id", "neighbor_id", "rank", "sim_e4"))
    } { e => topKEdges(knnScoredExact(e), k) }

  /** LSH-candidate kNN edges with the same measured driver dispatch:
    * at test scale the fixed 8×2 banding has 4 buckets, so the band
    * self-join + dedup + lookup joins cost ~8 s for n = 2000 (more
    * candidate rows than the exact path's n²!); the twin derives the
    * band keys from the SAME md5-bridge fold loop as the SignLshKeys
    * expression and scores the identical deduped candidate set. Past
    * [[ExactKnnMaxRows]] the DataFrame path below is the 100 TB
    * shape, unchanged. */
  private def lshKnnEdges(emb: DataFrame, bands: Int, rows: Int,
      k: Int): DataFrame =
    Dispatch.gated("lshKnnEdges", corpus(emb), ExactKnnMaxRows, keys = Seq("vec_id"),
        admit = Seq(lit(LocalSim.twinnable(emb)), count(lit(1)) > 0)) { rs =>
      Some(emb.sparkSession.createDataFrame(
          LocalSim.lshTopK(LocalSim.corpusOf(rs), EmbeddingDim, bands, rows, k))
        .toDF("vec_id", "neighbor_id", "rank", "sim_e4"))
    } { e => knnGraphFrom(e, lshCandidatePairsBanded(e, bands, rows), k) }

  // One kNN edge table per (session, embeddings identity, k), built
  // once and checkpointed: e_knn_graph and e_embed_clusters (and any
  // facade composition) share the single most expensive similarity
  // artifact instead of re-scoring all pairs per query — the same
  // persist-once shape as the canonical edge and dedup-signature
  // memos (contract: graft.Memo).
  private val knnMemo = graft.Memo[(String, Int), DataFrame](4)

  // The NN-descent-REFINED graph is itself a persist-once artifact:
  // e_hnsw's layer stack and e_nn_descent's at-scale path both consume
  // exactly ONE descent round over the memoized base graph, so the
  // ~5-8 s refinement is paid once per (session, embeddings identity,
  // k) per sweep instead of once per query.
  private val refinedMemo = graft.Memo[(String, Int), DataFrame](4)

  /** Memoized [[knnGraphOf]] over the embeddings table at `dir`.
    * Unordered — callers that need a presentation order sort. */
  def knnGraph(spark: SparkSession, dir: String, k: Int = TopK): DataFrame =
    knnMemo(spark, (embeddingsKey(dir), k)) {
      knnGraphOf(
        Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")), k)
        .localCheckpoint(true)
    }

  /** Memoized one-round [[nnDescentFrom]] refinement of the memoized
    * [[knnGraph]] — the shared artifact behind e_hnsw and (at scale,
    * where the dispatched base IS the LSH graph) e_nn_descent. Its
    * entry owns only the refined checkpoint, so evicting it never
    * frees the base graph's blocks (spec: SkewAndIvfSpec "refined
    * eviction leaves the base memo collectable"). */
  def refinedKnnGraph(spark: SparkSession, dir: String, k: Int = TopK): DataFrame =
    refinedMemo(spark, (embeddingsKey(dir), k)) {
      val emb = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      nnDescentFrom(emb, knnGraph(spark, dir, k), k).localCheckpoint(true)
    }

  /** The LSH-candidate kNN graph as a first-class query with SAMPLED
    * recall@k appended — the at-scale dispatch path made
    * driver-visible, exactly as [[annLshTopK]] carries recall_e2.
    * The exact side is a brute-force top-k for a BOUNDED query
    * sample only (broadcast sample × one corpus scan — the standard
    * sampled recall audit of a production ANN index), NOT the
    * dispatched [[knnGraph]] table: past the exact-path size bound
    * that table is itself LSH-built, and recall against it would
    * self-compare to 100. recall_e2 is null outside the sampled
    * vectors. Deterministic: the sign-LSH hyperplanes are
    * seed-fixed. */
  def knnLshWithRecall(spark: SparkSession, dir: String, k: Int = TopK): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // Measured count sizes the banding above ExactKnnMaxRows
    // (lshParamsFor); test-scale corpora keep the 8×2 default. The
    // build routes through lshKnnEdges — the round-20 twin under the
    // bound, the same knnGraphFrom shape past it.
    val n = emb.count()
    val (bands, rows) = lshParamsFor(n)
    withSampledRecall(emb, lshKnnEdges(emb, bands, rows, k), k)
  }

  /** The IVF-candidate kNN graph as a first-class query — the second
    * blocking scheme's at-scale path made driver-visible, exactly as
    * [[knnLshWithRecall]] does for sign-LSH: multi-probe cell
    * candidates from the memoized quantizer scored through
    * [[knnGraphFrom]], with the same sampled brute-force recall
    * audit appended. */
  def knnIvfWithRecall(spark: SparkSession, dir: String, k: Int = TopK): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val pairs = ivfCandidatePairs(spark, emb, fitIvfCentroids(spark, dir))
    withSampledRecall(emb, knnGraphFrom(emb, pairs, k), k)
  }

  /** One NN-descent refinement round (Dong, Moses & Li, WWW 2011)
    * over an existing approximate kNN edge table: "a neighbor of a
    * neighbor is probably a neighbor" — candidates for v are every
    * pair of vectors sharing a pivot in the SYMMETRIZED graph
    * (forward ∪ reverse edges), exact-rescored through
    * [[knnGraphFrom]] with the base edges kept in the pool, so the
    * refined graph's candidate set strictly contains the base's and
    * recall is (practically) monotone. Reverse degree is capped at k
    * per pivot (best-sim first) — the paper's sampling bound, without
    * which one popular vector's R(v) makes the pivot expansion
    * quadratic in its in-degree. Volume: ≤ n·(2k)² candidate rows,
    * bare (id, id) pairs; no embedding arrays cross the expansion
    * shuffles. The standard way to push a cheap blocking-scheme graph
    * (LSH/IVF) toward exact-graph recall at linear-ish cost. */
  def nnDescentFrom(emb: DataFrame, base: DataFrame, k: Int = TopK): DataFrame = {
    // Measured driver dispatch (round 20): the pivot expansion is
    // ≤ n·(2k)² bare id pairs — the DataFrame loop below pays two
    // windows, a self-join and the knnGraphFrom dedup/joins for
    // arithmetic the driver does in milliseconds under the bound.
    // Base rows collect once (the loop reads base twice). LocalSimSpec
    // pins both-path equality; the loop stays the at-scale shape.
    Dispatch.gated("nnDescentFrom", corpus(emb), ExactKnnMaxRows, keys = Seq("vec_id"),
        admit = Seq(lit(LocalSim.twinnable(emb)))) { rs =>
      val baseRows = base.select(col("vec_id"), col("neighbor_id"),
          col("sim_e4")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      Some(emb.sparkSession.createDataFrame(
          LocalSim.descentTopK(LocalSim.corpusOf(rs), baseRows, k))
        .toDF("vec_id", "neighbor_id", "rank", "sim_e4"))
    } { e =>
      val fwd = base.select(col("vec_id"), col("neighbor_id"))
      val revRanked = Window.partitionBy(col("neighbor_id"))
        .orderBy(col("sim_e4").desc, col("vec_id").asc)
      val rev = base.withColumn("rrank", row_number().over(revRanked))
        .filter(col("rrank") <= k)
        .select(col("neighbor_id").as("vec_id"), col("vec_id").as("neighbor_id"))
      val b = fwd.union(rev)
        .select(col("vec_id").as("pivot"), col("neighbor_id").as("m"))
      val non = b.join(b.select(col("pivot"), col("m").as("candidate_id")), Seq("pivot"))
        .select(col("m").as("vec_id"), col("candidate_id"))
      val cands = fwd.select(col("vec_id"), col("neighbor_id").as("candidate_id"))
        .union(non)
      knnGraphFrom(e, cands, k)
    }
  }

  /** NN-descent over the sign-LSH base graph as a first-class query,
    * with the same sampled brute-force recall audit as
    * [[knnLshWithRecall]] — the measured claim is that one descent
    * round lifts the LSH graph's recall toward exact. Above the
    * exact-path bound the dispatched [[knnGraph]] IS the seed-fixed
    * LSH graph, so the refinement is bit-identical to the memoized
    * [[refinedKnnGraph]] and rides it (one build per sweep shared
    * with e_hnsw — VERDICT r17 item 5); below the bound the memo's
    * base would be the EXACT graph, a different query, so the LSH
    * base still builds inline (bounded corpus, cheap). */
  def knnDescentWithRecall(spark: SparkSession, dir: String, k: Int = TopK): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val refined =
      if (n > ExactKnnMaxRows) refinedKnnGraph(spark, dir, k)
      // The inline LSH base keeps the fixed 8×2 test-scale banding
      // (d_embed_dup's oracle inlines those planes); it now routes
      // through lshKnnEdges so the round-20 twin serves it too.
      else nnDescentFrom(emb, lshKnnEdges(emb, LshBands, LshRows, k), k)
    withSampledRecall(emb, refined, k)
  }

  val BeamWidth = 32
  val BeamRounds = 3
  val BeamSeedsPerCell = 2

  /** Query-time ANN beam search over a kNN edge table (HNSW-lite —
    * the flat-graph core of Malkov & Yashunin 2016 without the layer
    * hierarchy, which a 3-round batch expansion replaces): each
    * query seeds from entry points near its `IvfProbes` nearest IVF
    * cells, then each round joins the beam's (symmetrized) kNN
    * out-edges in as candidates, scores every candidate EXACTLY
    * against the broadcast query vector (native cosine), and keeps
    * the best `beamWidth` per query. The interactive-latency answer
    * VERDICT r10 called missing: per round each query touches ≤
    * beamWidth·2k candidate IDs — bare (query_id, vec_id) rows;
    * embeddings only meet the scorer through corpus equi-joins —
    * versus IVF's n·probes/cells scored candidates per query. The
    * graph does the narrowing, the re-score keeps it honest. */
  private[operators] def beamSearchFrom(emb: DataFrame, edges: DataFrame,
      queries: DataFrame, seeds: DataFrame, k: Int = TopK,
      beamWidth: Int = BeamWidth, rounds: Int = BeamRounds): DataFrame =
    // Measured driver dispatch (round 20, the LocalSim family): each
    // beam round is joins + a window + a checkpoint over |Q|·width
    // rows — plan-compile-bound micro-rounds. The twin replays the
    // identical expand/re-score/keep-best loop over collected parts;
    // LocalSimSpec pins both-path equality. The loop below stays the
    // at-scale shape.
    Dispatch.gated("beamSearchFrom", corpus(emb), ExactKnnMaxRows, keys = Seq("vec_id"),
        admit = Seq(lit(LocalSim.twinnable(emb) && queries.count() <= 4096))) { rs =>
      val cap = LocalLouvain.CollectMax
      val edgeRows = edges.select(col("vec_id"), col("neighbor_id"))
        .limit((cap + 1).toInt).collect()
      if (edgeRows.length > cap) None
      else Some(emb.sparkSession.createDataFrame(LocalSim.beamTopK(
          LocalSim.corpusOf(rs),
          edgeRows.map(r => (r.getLong(0), r.getLong(1))),
          LocalSim.queriesOf(queries),
          seeds.select(col("query_id"), col("vec_id")).collect()
            .map(r => (r.getLong(0), r.getLong(1))),
          k, beamWidth, rounds))
        .toDF("query_id", "neighbor_id", "rank", "sim_e4"))
    } { beamSearchDistributed(_, edges, queries, seeds, k, beamWidth, rounds) }

  private def beamSearchDistributed(emb: DataFrame, edges: DataFrame,
      queries: DataFrame, seeds: DataFrame, k: Int, beamWidth: Int,
      rounds: Int): DataFrame = {
    val q = broadcast(queries)
    val sym = edges.select(col("vec_id"), col("neighbor_id"))
      .unionAll(edges.select(col("neighbor_id").as("vec_id"),
        col("vec_id").as("neighbor_id")))
    def score(cand: DataFrame): DataFrame = cand
      .join(emb, Seq("vec_id"))
      .join(q, Seq("query_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("sim"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    def topBeam(scored: DataFrame): DataFrame = scored
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= beamWidth)
      .select(col("query_id"), col("vec_id"), col("sim"))
      .localCheckpoint(true) // eager: tiny (|Q|·beamWidth), bounds the round plans
    var beam = topBeam(score(seeds.dropDuplicates("query_id", "vec_id")))
    for (_ <- 1 to rounds) {
      val expand = beam.select(col("query_id"), col("vec_id"))
        .join(sym, Seq("vec_id"))
        .select(col("query_id"), col("neighbor_id").as("vec_id"))
      val cand = beam.select(col("query_id"), col("vec_id"))
        .unionAll(expand)
        .dropDuplicates("query_id", "vec_id")
      // Re-scoring beam survivors costs one more native cosine per
      // row but keeps the state narrow (ids only) across the dedup.
      val next = topBeam(score(cand))
      beam.unpersist(false)
      beam = next
    }
    beam.withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"),
        round(col("sim") * 1e4).cast("long").as("sim_e4"))
  }

  /** [[beamSearchFrom]] wired to the production artifacts: the
    * memoized kNN edge table as the graph, the memoized IVF
    * quantizer for entry points (per probed cell, the
    * `BeamSeedsPerCell` vectors closest to the centroid — "enter
    * near the region, then descend"), the standard bounded query
    * sample, and the e_ann_* recall audit appended. */
  def beamSearchTopK(spark: SparkSession, dir: String, k: Int = TopK): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val edges = knnGraph(spark, dir, k).select(col("vec_id"), col("neighbor_id"))
    val centroids = fitIvfCentroids(spark, dir)
    val cellDf = broadcast(centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "centroid"))
    // Home-cell assignment identical to annIvfTopK's centroid-literal
    // projection (argmin Euclidean on the unit sphere).
    val normArr = graft.functions.CatalystText.l2_normalize(col("embedding"))
    val simStructs = centroids.zipWithIndex.map { case (c, i) =>
      val cCol = org.apache.spark.sql.functions.array(c.toSeq.map(lit): _*)
      val cn = math.sqrt(c.map(x => x * x).sum)
      struct((cosine(normArr, cCol) * lit(2.0 * cn) - lit(cn * cn)).as("sim"),
        lit(i).as("cell"))
    }
    val assigned = emb.select(col("vec_id"), col("embedding"),
      element_at(reverse(array_sort(
        org.apache.spark.sql.functions.array(simStructs.toIndexedSeq: _*))), 1)
        .getField("cell").as("cell"))
    val entries = assigned.join(cellDf, Seq("cell"))
      .select(col("cell"), col("vec_id"),
        cosine(col("embedding"), col("centroid")).as("csim"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("cell")).orderBy(col("csim").desc, col("vec_id"))))
      .filter(col("r") <= BeamSeedsPerCell)
      .select(col("cell"), col("vec_id"))
    val queries = emb.filter(col("vec_id") < QueryLimit)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val probed = queries.crossJoin(cellDf)
      .select(col("query_id"), col("cell"),
        cosine(col("q_emb"), col("centroid")).as("psim"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("psim").desc, col("cell"))))
      .filter(col("r") <= IvfProbes)
      .select(col("query_id"), col("cell"))
    val seeds = probed.join(entries, Seq("cell"))
      .select(col("query_id"), col("vec_id"))
    withRecall(spark, dir, beamSearchFrom(emb, edges, queries, seeds, k))
  }

  val HnswFanout = 8
  val HnswDescentWidth = 4

  /** HNSW-class ANN (round 17 — VERDICT r16 item 7): the navigable-
    * small-world LAYER STACK composed from the parts the e_ family
    * already proves out — layer 0 is the NN-descent-REFINED kNN
    * graph (one [[nnDescentFrom]] round over the memoized
    * [[knnGraph]] base, the e_nn_descent recall lift), upper layers
    * are the standard HNSW subsampling view (a vertex's level is
    * geometric with fanout 1/8, assigned DETERMINISTICALLY from the
    * md5 bridge — no RNG state, same stack on every run and
    * partitioning), and search descends the stack: enter at the
    * (tiny) top layer, at each layer expand one neighbor hop
    * restricted to that layer's vertices and keep the best
    * [[HnswDescentWidth]] per query under EXACT rescoring, then run
    * the layer-0 [[beamSearchFrom]] from those entry points — whose
    * per-round exact rescoring against true embeddings IS the
    * exact re-rank stage (the IVF-PQ composition rule: compressed/
    * approximate navigation, exact scoring). Versus e_beam_search's
    * IVF entry points, the stack replaces the quantizer with the
    * graph's own hierarchy — one artifact, no centroid fit, and the
    * descent touches O(fanout·width·levels) candidate IDs per query.
    * At 100 TB every stage is id-narrow: levels are a projection of
    * the corpus, layer edges a filter of the refined graph, and
    * embeddings only meet the scorer through corpus equi-joins.
    * Rows-only + spec (determinism, stack shape, recall vs exact). */
  def hnswTopK(spark: SparkSession, dir: String, k: Int = TopK): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // Full base (incl. sim_e4 — nnDescentFrom's reverse-degree cap
    // ranks on it), projected to ids only AFTER the refinement. The
    // refinement itself is the memoized shared artifact (VERDICT r17
    // item 5) — already checkpointed, so the id projection here is a
    // cheap view over its blocks, no second checkpoint needed.
    val refined = refinedKnnGraph(spark, dir, k)
      .select(col("vec_id"), col("neighbor_id"))
    val nVecs = emb.count()
    val maxLevel = hnswMaxLevel(nVecs)
    val levels = hnswLevels(emb, maxLevel).localCheckpoint(true)
    hnswDescend(spark, dir, refined, levels, maxLevel, k)
  }

  /** Nominal stack height for an n-vector corpus. */
  private[graft] def hnswMaxLevel(nVecs: Long): Int = math.max(1,
    (math.log(nVecs.toDouble) / math.log(HnswFanout.toDouble)).floor.toInt - 1)

  /** Deterministic geometric level per vertex:
    * P(level ≥ ℓ) = 8^{-ℓ}, from the one 64-bit md5 hash Spark and
    * DuckDB state identically (determinism is what makes the spec's
    * run-to-run equality — and the persisted stack's bit-equality —
    * assertable). */
  private[graft] def hnswLevels(emb: DataFrame, maxLevel: Int): DataFrame = {
    val u = pmod(conv(substring(md5(concat(col("vec_id").cast("string"),
      lit(":hnsw"))), 1, 15), 16, 10).cast("long"), lit(1000000L))
    var lvlCol: Column = lit(0)
    for (l <- 1 to maxLevel)
      lvlCol = when(col("u") <
        lit(math.max(1L, (1000000.0 / math.pow(HnswFanout.toDouble, l)).toLong)),
        lit(l)).otherwise(lvlCol)
    emb.select(col("vec_id"), u.as("u"))
      .select(col("vec_id"), lvlCol.as("lvl"))
  }

  /** The layer descent over PREPARED parts — shared by the live path
    * and the persisted layer-graph load
    * ([[graft.sources.AnnIndexStore]]). `refined` carries bare
    * (vec_id, neighbor_id) layer-0 edges; `levels` must be
    * materialized (checkpointed or a parquet scan). */
  private[graft] def hnswDescend(spark: SparkSession, dir: String,
      refined: DataFrame, levels: DataFrame, maxLevel: Int,
      k: Int): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") < QueryLimit)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // Measured driver dispatch (round 20): the layer loop is
    // maxLevel × (two level joins + a window + a checkpoint) over
    // |Q|·width rows, then the beam rounds — plan-compile-bound end
    // to end. The twin replays the identical per-level
    // expand/keep-best and the final beam over collected parts
    // (levels COLLECTED, not recomputed — the persisted stack load
    // must see the same values it wrote); the recall audit stays on
    // the result either way. LocalSimSpec pins both-path equality;
    // the loop below is the at-scale shape.
    Dispatch.gated("hnswDescend", emb, ExactKnnMaxRows, keys = Seq("vec_id"),
        admit = Seq(lit(LocalSim.twinnable(emb)))) { rs =>
      val cap = LocalLouvain.CollectMax
      val refinedRows = refined.select(col("vec_id"), col("neighbor_id"))
        .limit((cap + 1).toInt).collect()
      if (refinedRows.length > cap) None
      else {
        val lvlRows = levels.select(col("vec_id"), col("lvl")).collect()
          .map(r => (r.getLong(0), r.getInt(1)))
        Some(withRecall(spark, dir,
          spark.createDataFrame(LocalSim.hnswDescendTopK(
              LocalSim.corpusOf(rs),
              refinedRows.map(r => (r.getLong(0), r.getLong(1))),
              lvlRows, maxLevel, LocalSim.queriesOf(queries), k,
              HnswDescentWidth, BeamWidth, BeamRounds))
            .toDF("query_id", "neighbor_id", "rank", "sim_e4")))
      }
    } { e => withRecall(spark, dir, hnswDistributed(e, queries, refined, levels, maxLevel, k)) }
  }

  private def hnswDistributed(emb: DataFrame, queries: DataFrame, refined: DataFrame,
      levels: DataFrame, maxLevel: Int, k: Int): DataFrame = {
    // Entry set: every top-layer vertex serves every query (the top
    // layer is n/8^maxLevel ≈ fanout-sized by construction). Enter
    // at the highest REALIZED level, not the nominal maxLevel:
    // levels are hash-assigned, so the nominal top is empty with
    // P ≈ e^-8 per corpus — and an empty entry set would stay empty
    // through every layer and silently return zero rows (ADVICE
    // r17). The realized max is one cheap agg on the checkpointed
    // levels table; when it is lower, the loop's upper layers are
    // empty and the descent no-ops down to it.
    val topLvlRow = levels.agg(max(col("lvl"))).head
    val topLvl = if (topLvlRow.isNullAt(0)) 0 else topLvlRow.getInt(0)
    val top = levels.filter(col("lvl") >= topLvl).select(col("vec_id"))
    var entry = queries.select(col("query_id")).crossJoin(broadcast(top))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    def keepBest(cand: DataFrame, width: Int): DataFrame = cand
      .join(emb, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("q_emb"), col("embedding")).as("sim"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= width)
      .select(col("query_id"), col("vec_id"))
      .localCheckpoint(true) // |Q|·width rows — bounds the per-layer plans
    for (l <- maxLevel to 1 by -1) {
      val layerEdges = refined
        .join(levels.select(col("vec_id"), col("lvl")), Seq("vec_id"))
        .filter(col("lvl") >= l).drop("lvl")
        .join(levels.select(col("vec_id").as("neighbor_id"),
          col("lvl").as("nlvl")), Seq("neighbor_id"))
        .filter(col("nlvl") >= l)
        .select(col("vec_id"), col("neighbor_id"))
      val sym = layerEdges.unionAll(layerEdges
        .select(col("neighbor_id").as("vec_id"), col("vec_id").as("neighbor_id")))
      val expand = entry.join(sym, Seq("vec_id"))
        .select(col("query_id"), col("neighbor_id").as("vec_id"))
      entry = keepBest(
        entry.unionAll(expand).dropDuplicates("query_id", "vec_id"),
        HnswDescentWidth)
    }
    beamSearchFrom(emb, refined, queries, entry, k)
  }

  // ---- Product quantization (round 8) ----
  // The 100 TB memory-compression layout: a 64-d float embedding
  // (256 B) compresses to PqSubspaces codebook indices (8 B), and
  // search scans CODES, not vectors — the corpus that fits in RAM
  // grows 32×. LSH and IVF prune CANDIDATES; PQ shrinks the
  // REPRESENTATION, and production indexes (IVF-PQ) compose both.

  val PqSubspaces = 16
  val PqCodebook = 32
  val PqSubDim: Int = EmbeddingDim / PqSubspaces

  // Codebooks are the PQ family's persist-once artifact
  // (8×16×8 doubles — driver-scalar sized, no RDD blocks): memoized
  // per (session, embeddings identity) like the IVF quantizer.
  private val pqMemo = graft.Memo[String, Array[Array[Array[Double]]]](8)

  /** Fit the PQ codebooks — one k-means per subspace over a bounded
    * seeded sample of IVF RESIDUALS x̂ − c_home(x̂) (Jégou et al.
    * 2011: residual balls are far smaller than the unit sphere, so
    * the same 32-centroid budget per subspace quantizes much finer —
    * measured at sf0.1 this lifted IVF-PQ sampled recall from ~50
    * toward its IVF-candidate ceiling). Returned as
    * [subspace][code][subdim] centroids; the corpus is scanned once
    * (localCheckpoint) however many subspaces train on it. Keyed by
    * embeddings identity, which also keys the memoized coarse
    * quantizer the residuals derive from. */
  def fitPqCodebooks(spark: SparkSession, dir: String): Array[Array[Array[Double]]] =
    pqMemo(spark, embeddingsKey(dir)) {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val resArr = graft.functions.CatalystText
        .ivf_residual(col("embedding"), fitIvfCentroids(spark, dir))
        .getField("res")
      val emb = Tables.embeddings(spark, dir).select(resArr.as("v"))
      val n = math.max(Tables.embeddings(spark, dir).count(), 1L)
      // 4-d subspaces need far fewer training points than the full-
      // dim IVF quantizer; 20k bounds 16 fits to seconds. Seeded
      // RANDOM init is deterministic and one job, where k-means||
      // schedules ~5 init rounds per fit — ×16 fits that scheduling
      // overhead dominated (measured 29.7 s → see commit).
      val trainTarget = 20000L
      val train = (if (n <= trainTarget) emb
                   else emb.sample(withReplacement = false,
                     trainTarget.toDouble / n, seed = 42L))
        .localCheckpoint(true)
      try {
        // The 16 fits are independent: submit them as concurrent
        // Spark jobs (each is a chain of tiny 20k×4-d stages —
        // serially the suite pays 160 scheduling round-trips).
        // Determinism is per-fit (seeded init, fixed data), so
        // concurrency cannot reorder anything observable.
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(PqSubspaces)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try {
          Await.result(Future.sequence((0 until PqSubspaces).map { m =>
            Future {
              val sub = train.select(array_to_vector(
                slice(col("v"), m * PqSubDim + 1, PqSubDim)).as("features"))
              new KMeans().setK(PqCodebook).setSeed(42L + m).setMaxIter(10)
                .setInitMode("random")
                .fit(sub).clusterCenters.map(_.toArray)
            }
          }.toSeq), Duration.Inf).toArray
        } finally pool.shutdown()
      } finally train.unpersist(false)
    }

  /** Encode each vector as (vec_id, cell, codes): home cell +
    * per-subspace nearest-centroid indices of its IVF RESIDUAL, via
    * the native [[graft.functions.IvfResidual]] →
    * [[graft.functions.PqEncode]] (normalize=false — residuals are
    * deliberately short) composition. Both quantizers ride the plan
    * as literals; encoding is one tight loop per row, no fitting, no
    * shuffle. At scale this runs as a map over the corpus exactly
    * once and the (cell, 16-byte codes) pair is what you persist —
    * the cell is REQUIRED at decode time, since a residual code only
    * means something relative to its cell's centroid. */
  def pqEncode(spark: SparkSession, dir: String, emb: DataFrame,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val rs = graft.functions.CatalystText
      .ivf_residual(col("embedding"), fitIvfCentroids(spark, dir))
    emb.select(col("vec_id"), rs.as("rs"))
      .select(col("vec_id"), col("rs").getField("cell").as("cell"),
        graft.functions.CatalystText
          .pq_encode(col("rs").getField("res"), codebooks, normalize = false)
          .as("codes"))
  }

  /** ADC shortlist size: the exact re-rank touches full vectors for
    * only this many candidates per query. */
  val PqShortlist = 50

  /** PQ search, production shape: an asymmetric-distance (ADC) sweep
    * over CODES builds a shortlist, then an exact re-rank rescores
    * only the shortlist with full vectors. Codes are RESIDUAL codes
    * (q·x̂ = q·c_home(x) + q·r_x), so each query precomputes its
    * [subspace][code] residual lookup table plus its 16
    * coarse-centroid dot products in-plan (one row of 16×32 + 16
    * doubles); scoring a candidate is 17 table lookups summed — the
    * corpus side of the sweep touches only (cell, 16-byte codes),
    * which is the entire point: at 100 TB the code table is 16×
    * smaller than the vectors, and full embeddings are fetched for
    * `PqShortlist` ids per query (an equi-join), never scanned. The
    * exact-side recall audit ([[withRecall]]) rides along, so the
    * compression loss is driver-visible per query (residual encoding
    * measured it 85.5 → 87.5 mean at sf0.1). */
  def pqAdcTopK(spark: SparkSession, dir: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    pqAdcSearch(spark, dir, pqEncode(spark, dir, emb, codebooks),
      codebooks, fitIvfCentroids(spark, dir))
  }

  /** ADC + exact re-rank over PRECOMPUTED parts — the persisted-index
    * entry point ([[graft.sources.AnnIndexStore]]): codes arrive as a
    * table (parquet round-trips the int codes exactly), codebooks and
    * the coarse quantizer as arrays, so the search touches no fitting
    * or encoding at all. */
  private[graft] def pqAdcSearch(spark: SparkSession, dir: String,
      codes: DataFrame, codebooks: Array[Array[Array[Double]]],
      coarse: Array[Array[Double]]): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val normArr = graft.functions.CatalystText.l2_normalize(col("embedding"))
    val qBase = emb.filter(col("vec_id") < QueryLimit)
      .select(col("vec_id").as("query_id"), normArr.as("qv"))
    val lut = array(codebooks.zipWithIndex.map { case (cb, m) =>
      val qSub = slice(col("qv"), m * PqSubDim + 1, PqSubDim)
      array(cb.map(c => dot(qSub, array(c.toSeq.map(lit): _*))).toIndexedSeq: _*)
    }.toIndexedSeq: _*)
    // residual decomposition: q·x̂ = q·c_home(x) + q·r_x, so each
    // query also precomputes its 16 coarse-centroid dot products —
    // one more per-query array literal riding the broadcast row.
    val qcell = array(coarse.map(c =>
      dot(col("qv"), array(c.toSeq.map(lit): _*))).toIndexedSeq: _*)
    val luts = qBase.select(col("query_id"), lut.as("lut"), qcell.as("qcell"))
    val adc = (0 until PqSubspaces).map { m =>
      element_at(element_at(col("lut"), m + 1),
        element_at(col("codes"), m + 1) + 1)
    }.reduce(_ + _) + element_at(col("qcell"), col("cell") + 1)
    // Round 20 (guide §2.3): the ADC sweep scores corpus × queries
    // rows; the shortlist window exchanged and sorted all of them —
    // the native top-k aggregate map-side-combines to ≤ PqShortlist
    // rows per query per partition (same (adc desc, id asc) order).
    val shortlist = codes.crossJoin(broadcast(luts))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), adc.as("adc"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKBySim
        .top_k_by_sim(col("neighbor_id"), col("adc"), PqShortlist).as("tops"))
      .select(col("query_id"), explode(col("tops.nb")).as("neighbor_id"))
    val rescored = shortlist
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nemb")), Seq("neighbor_id"))
      .join(broadcast(qBase), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("nemb")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    withRecall(spark, dir,
      rescored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopK)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("sim") * 1e4).cast("long").as("sim_e4")))
  }

  /** Self-fitting PQ entry — rides the memoized codebooks. */
  def pqAdcTopK(spark: SparkSession, dir: String): DataFrame =
    pqAdcTopK(spark, dir, fitPqCodebooks(spark, dir))

  /** The IVF-PQ kNN graph — the production index composition, all
    * three compression/pruning layers in one pipeline: IVF cells
    * block candidates (never all-pairs), symmetric RESIDUAL code
    * distance (the four-term SDC decomposition below, all tables
    * plan/expression literals) prunes each vector's candidates to a
    * 20k-deep shortlist touching only (cell, 16-int codes), and
    * [[knnGraphFrom]] exact-re-ranks only the shortlist (embeddings
    * fetched by equi-join). Both quantizers are the memoized
    * persist-once artifacts; the sampled brute-force recall audit
    * rides along like the other at-scale kNN paths.
    *
    * Measured at sf0.1 (QueryLimit sample): raw-vector SDC with a
    * 5k shortlist scored mean recall 50; residual SDC with the 20k
    * shortlist scores 61 against an IVF-CANDIDATE CEILING of 62.5
    * (e_knn_ivf — exact scoring of the identical candidate set), so
    * quantization now costs ~1.5 recall points and the remaining gap
    * is candidate recall, which is the probes/cells trade
    * (IvfProbes), not an encoding property. The near-ceiling
    * invariant is spec-pinned relative to e_knn_ivf rather than as
    * an absolute, so it keeps holding as the corpus changes. */
  def knnIvfPqWithRecall(spark: SparkSession, dir: String, k: Int = TopK): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val cb = fitPqCodebooks(spark, dir)
    val cents = fitIvfCentroids(spark, dir)
    // Residual SDC: x̂·ŷ = (c_x + r_x)·(c_y + r_y) decomposes into
    // four precomputed-table terms — cell·cell (16×16 plan literal),
    // two cell·residual-code cross terms (PqCellSim), and the
    // residual·residual subspace tables (PqSdcSim). All driver-scalar
    // sized; scoring still touches only (cell, 16-int codes) pairs.
    val rr = cb.map(sub => sub.map(ca =>
      sub.map(cbk => ca.indices.map(i => ca(i) * cbk(i)).sum)))
    val cr = cents.map { c =>
      cb.zipWithIndex.map { case (sub, m) =>
        sub.map(code =>
          (0 until PqSubDim).map(j => c(m * PqSubDim + j) * code(j)).sum)
      }
    }
    val ccLit = array(cents.map(a => array(cents.map(b =>
      lit(a.indices.map(i => a(i) * b(i)).sum)).toIndexedSeq: _*)).toIndexedSeq: _*)
    val codes = pqEncode(spark, dir, emb, cb)
    val pairs = ivfCandidatePairs(spark, emb, cents)
      .filter(col("vec_id") =!= col("candidate_id"))
      .dropDuplicates("vec_id", "candidate_id")
    import graft.functions.CatalystText.{pq_cell_sim, pq_sdc_sim}
    val scored = pairs
      .join(codes.select(col("vec_id"), col("cell").as("ca_cell"),
        col("codes").as("ca")), Seq("vec_id"))
      .join(codes.select(col("vec_id").as("candidate_id"),
        col("cell").as("cb_cell"), col("codes").as("cb")),
        Seq("candidate_id"))
      .select(col("vec_id"), col("candidate_id"),
        (element_at(element_at(ccLit, col("ca_cell") + 1), col("cb_cell") + 1)
          + pq_cell_sim(col("ca_cell"), col("cb"), cr)
          + pq_cell_sim(col("cb_cell"), col("ca"), cr)
          + pq_sdc_sim(col("ca"), col("cb"), rr))
          .as("sdc"))
    // Round 20 (guide §2.3): shortlist via the native top-k aggregate
    // instead of exchanging + sorting every SDC-scored candidate row.
    val shortlist = scored
      .groupBy(col("vec_id"))
      .agg(graft.functions.TopKBySim
        .top_k_by_sim(col("candidate_id"), col("sdc"), 20 * k).as("tops"))
      .select(col("vec_id"), explode(col("tops.nb")).as("candidate_id"))
    withSampledRecall(emb, knnGraphFrom(emb, shortlist, k), k)
  }

  /** Append the SAMPLED recall@k audit to an ANN kNN edge table: the
    * exact side is a brute-force top-k for a BOUNDED query sample
    * only (broadcast sample × one corpus scan — the standard sampled
    * recall probe of a production ANN index), never the dispatched
    * [[knnGraph]] table, which past the exact-path bound is itself
    * approximate and would self-compare to 100. recall_e2 is null
    * outside the sampled vectors. */
  private def withSampledRecall(emb: DataFrame, ann: DataFrame, k: Int): DataFrame = {
    val sample = emb.filter(col("vec_id") < QueryLimit)
      .select(col("vec_id").as("q"), col("embedding").as("qe"))
    val sw = Window.partitionBy(col("q")).orderBy(col("sim").desc, col("nb").asc)
    val exact = emb.select(col("vec_id").as("nb"), col("embedding").as("e2"))
      .join(broadcast(sample), col("q") =!= col("nb"))
      .select(col("q"), col("nb"), cosine(col("qe"), col("e2")).as("sim"))
      .withColumn("rank", row_number().over(sw))
      .filter(col("rank") <= k)
      .select(col("q").as("vec_id"), col("nb").as("neighbor_id"),
        lit(1L).as("hit"))
    val w = Window.partitionBy(col("vec_id"))
    ann.join(exact, Seq("vec_id", "neighbor_id"), "left")
      .withColumn("hit", coalesce(col("hit"), lit(0L)))
      .withColumn("recall_e2",
        when(col("vec_id") < QueryLimit,
          (sum(col("hit")).over(w) * 100L / k).cast("long")))
      .select(col("vec_id"), col("neighbor_id"), col("rank"), col("sim_e4"),
        col("recall_e2"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** SemDeDup-style semantic clustering: mutual-k-NN edges above a
    * cosine floor → connected components → (vec_id, cluster_id).
    * The MUTUAL requirement (a ∈ knn(b) AND b ∈ knn(a)) is the
    * standard guard against chain-merging through hub vectors; the
    * contraction runs on narrow (id, id) rows via the same
    * DataFrame CC used by the dedup verdict. Isolated vectors become
    * singleton clusters. Rides the memoized [[knnGraph]] table — the
    * second consumer pays only the mutual check and the contraction. */
  def embedClusters(spark: SparkSession, dir: String, k: Int = TopK,
      minSimE4: Long = 9000L): DataFrame = {
    val knn = knnGraph(spark, dir, k) // checkpointed: both sides of the
      .filter(col("sim_e4") >= minSimE4) // mutual check re-read it cheaply
      .select(col("vec_id").as("a"), col("neighbor_id").as("b"))
    val mutual = knn
      .intersect(knn.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") < col("b"))
    val comp = graft.graph.ConnectedComponentsDF.run(spark,
      mutual.select(col("a").as("src"), col("b").as("dst")))
    Tables.embeddings(spark, dir).select(col("vec_id"))
      .join(comp.select(col("vertex").as("vec_id"), col("component")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** The SemDeDup VERDICT — the curation decision [[embedClusters]]
    * stops one step short of: one survivor per semantic cluster
    * (min vec_id), emitted as (vec_id, cluster_id, is_survivor) —
    * exactly the shape [[Dedup.dupClusters]] emits for the lexical
    * modality, so a pipeline consumes both verdicts uniformly. Rides
    * the memoized kNN table via embedClusters; the second consumer
    * pays only the mutual check + contraction. */
  def semanticDedup(spark: SparkSession, dir: String, k: Int = TopK,
      minSimE4: Long = 9000L): DataFrame =
    embedClusters(spark, dir, k, minSimE4)
      .withColumn("is_survivor", col("vec_id") === col("cluster_id"))
      .orderBy(col("vec_id"))

  /** Semantic verdict over a PRECOMPUTED (src, dst) similarity-pair
    * table — the reuse entry point, mirroring the pairs overload of
    * [[Dedup.dupClusters]]: contraction on narrow (id, id) rows,
    * every embedding covered (pairless vectors = singleton
    * survivors). */
  def semanticDedupFrom(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    val comp = graft.graph.ConnectedComponentsDF.run(spark, pairs)
      .select(col("vertex").as("vec_id"), col("component"))
    Tables.embeddings(spark, dir).select(col("vec_id"))
      .join(comp, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("cluster_id"))
      .withColumn("is_survivor", col("vec_id") === col("cluster_id"))
      .orderBy(col("vec_id"))
  }

  /** Cosine-threshold near-dup pairs (src < dst, e4-rounded sim ≥
    * `minSimE4`) — the engine-independent pair source behind the
    * oracle-checked semantic verdict (`d_semantic_dedup_exact`): a
    * plain threshold predicate DuckDB can state in closed form, where
    * the mutual-kNN edge set depends on this engine's tiebreaks.
    * Size-dispatched like [[knnGraphOf]]: one bounded broadcast
    * self-join below `exactMaxRows` (complete by construction —
    * that's what makes it oracle-checkable), sign-LSH banded
    * candidates above (recall ≈ 98% at sim 0.4 for 8×2 bands —
    * at-scale shape, spec-checked equal on planted clusters). Only
    * qualifying (id, id) rows survive the score filter, so nothing
    * wide ever shuffles. */
  def cosineThresholdPairs(emb: DataFrame, minSimE4: Long,
      exactMaxRows: Long = ExactKnnMaxRows): DataFrame = {
    // Measured driver dispatch (round 20): same twin family as
    // exactKnnEdges/lshKnnEdges — identical scores, identical pair
    // sets, both branches (LocalSimSpec pins both-path equality); the
    // DataFrame branches below stay the at-scale shapes.
    val spark = emb.sparkSession
    import spark.implicits._
    Dispatch.gated("cosineThresholdPairs", corpus(emb), ExactKnnMaxRows, keys = Seq("vec_id"),
        admit = Seq(lit(LocalSim.twinnable(emb)), count(lit(1)) > 0)) { rs =>
      val c = LocalSim.corpusOf(rs)
      val pairs =
        if (rs.length <= exactMaxRows) LocalSim.thresholdPairs(c, minSimE4)
        else {
          val (bands, rows) = lshParamsFor(rs.length)
          LocalSim.lshThresholdPairs(c, EmbeddingDim, bands, rows, minSimE4)
        }
      Some(pairs.toDF("src", "dst"))
    } { e => thresholdPairsDistributed(e, e.count(), minSimE4, exactMaxRows) }
  }

  private def thresholdPairsDistributed(emb: DataFrame, measured: Long,
      minSimE4: Long, exactMaxRows: Long): DataFrame = {
    // Norms hoisted per vector on both branches (round 20): the
    // threshold score is round(hoisted_sim · 1e4) — bit-equal, since
    // the hoisted sim double is bit-equal (see hoistedCosine).
    val withN = emb.withColumn("nrm1", normCol(col("embedding")))
    val rightN = emb.select(col("vec_id").as("nb"), col("embedding").as("e2"),
      normCol(col("embedding")).as("nrm2"))
    val simE4 = round(hoistedCosine(innerProduct(col("embedding"), col("e2")),
      col("nrm1"), col("nrm2")) * 1e4).cast("long").as("sim_e4")
    val scored =
      if (measured <= exactMaxRows) {
        withN.join(broadcast(rightN), col("vec_id") < col("nb"))
          .select(col("vec_id"), col("nb"), simE4)
      } else {
        lshCandidatePairs(emb, measured)
          .filter(col("vec_id") < col("candidate_id"))
          .select(col("vec_id"), col("candidate_id").as("nb"))
          .dropDuplicates("vec_id", "nb")
          .join(withN, Seq("vec_id"))
          .join(rightN, Seq("nb"))
          .select(col("vec_id"), col("nb"), simE4)
      }
    scored.filter(col("sim_e4") >= minSimE4)
      .select(col("vec_id").as("src"), col("nb").as("dst"))
  }

  /** Greedy k-center coreset (Gonzalez 1985) — the diversity-sampling
    * data-selection shape: k points whose cosine-distance balls cover
    * the corpus at a 2-approximation of the optimal covering radius,
    * the classic coreset picked before expensive per-point processing
    * (labeling, embedding-model distillation) is spent on near-copies.
    *
    * Round t computes every point's distance to the ≤t centers chosen
    * so far — corpus × a broadcast ≤k-row center table, a narrow
    * explode — and takes one map-side-combinable min + the
    * deterministic global argmax (max dist, then min id) via a single
    * struct-max aggregation: no global sort, no rank window, and only
    * (id, long) pairs ever shuffle. The selection is inherently
    * sequential in k (each pick conditions the next), so k tiny
    * driver-coordinated jobs run over one checkpointed embedding
    * scan; total work k·n distance evaluations. Distances e6-round
    * PER PAIR before the min, so every intermediate is an exact
    * integer the oracle restates verbatim (list_dot_product tree).
    *
    * Output: (round, center_id, sep_e6) — sep_e6 is the covering
    * radius of the PREVIOUS center set (what this pick reduced),
    * null for the seed; non-increasing in t by greedy construction
    * (spec-pinned). */
  def kcenterCoreset(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding")).localCheckpoint(true)
    val seed = emb.agg(min(col("vec_id"))).head.getLong(0)
    var chosen = Vector[(Long, Long, Option[Long])]((0L, seed, None))
    for (t <- 1 until k) {
      val centers = broadcast(
        emb.filter(col("vec_id").isin(chosen.map(_._2): _*))
          .select(col("embedding").as("c_emb")))
      val next = emb.crossJoin(centers)
        .select(col("vec_id"),
          round((lit(1.0) - cosine(col("embedding"), col("c_emb"))) * 1e6)
            .cast("long").as("d_e6"))
        .groupBy(col("vec_id")).agg(min(col("d_e6")).as("d_e6"))
        .agg(max(struct(col("d_e6"), (-col("vec_id")).as("nid"))).as("m"))
        .select(col("m.d_e6").as("d"), (-col("m.nid")).as("id")).head()
      chosen :+= ((t.toLong, next.getLong(1), Some(next.getLong(0))))
    }
    chosen.toDF("round", "center_id", "sep_e6").orderBy(col("round"))
  }

  val Sq8Shortlist = 100

  /** SQ8 scalar-quantized kNN — the third compression point next to
    * PQ (e_pq_adc/e_knn_ivfpq) on the memory/recall curve: 8 bits
    * per dimension, per-dimension affine codebooks (min/scale), 4×
    * smaller than float32 with near-lossless ranking — the FAISS
    * SQ8 baseline every vector store ships. Fit is one exploded
    * per-dimension min/max aggregate (map-side combinable); encode
    * runs the native [[graft.functions.Sq8Encode]] once per corpus
    * row; scoring decomposes q·x̂ = Σq_i·mn_i + Σ(q_i·s_i)·code_i so
    * the per-pair hot path is ONE codegen'd int-weighted dot
    * ([[graft.functions.CodeDot]]) against the broadcast per-query
    * weight arrays — corpus floats are never touched after encode.
    * Shortlist of [[Sq8Shortlist]] by approx score, exact cosine
    * re-rank of the shortlist only (the PQ re-rank contract), and
    * the standard sampled recall audit rides along. */
  def knnSq8WithRecall(spark: SparkSession, dir: String, k: Int = TopK): DataFrame = {
    import graft.functions.CatalystText
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val stats = emb.select(posexplode(col("embedding")))
      .groupBy(col("pos")).agg(min(col("col")).as("mn"), max(col("col")).as("mx"))
      .orderBy(col("pos")).collect()
    val mins = stats.map(_.getFloat(1).toDouble)
    val scales = stats.map(r => (r.getFloat(2) - r.getFloat(1)).toDouble / 255.0)
    val codes = emb.select(col("vec_id"),
        CatalystText.sq8_encode(col("embedding"), mins, scales).as("codes"))
      .localCheckpoint(true)
    val queries = emb.filter(col("vec_id") < QueryLimit)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    // per-query weights/constant: tiny broadcast side, HOFs are fine
    val scalesArr = array(scales.map(lit).toIndexedSeq: _*)
    val minsArr = array(mins.map(lit).toIndexedSeq: _*)
    val qPrepped = queries.select(col("query_id"),
      zip_with(col("qv"), scalesArr, (q, s) => q * s).as("w"),
      aggregate(zip_with(col("qv"), minsArr, (q, m) => q * m),
        lit(0.0), (a, x) => a + x).as("qc"))
    val wS = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("neighbor_id").asc)
    val shortlist = codes.crossJoin(broadcast(qPrepped))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (CatalystText.code_dot(col("codes"), col("w")) + col("qc")).as("approx"))
      .withColumn("arank", row_number().over(wS))
      .filter(col("arank") <= Sq8Shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val rescored = shortlist
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nemb")), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("nemb")).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    withRecall(spark, dir,
      rescored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("rank"),
          round(col("sim") * 1e4).cast("long").as("sim_e4")))
  }

  /** Embedding near-duplicate pairs: banded sign-LSH candidates,
    * exact cosine re-check, threshold 0.4. Band-key self-join —
    * near-linear at scale. */
  def embedDup(spark: SparkSession, dir: String): DataFrame = {
    // Measured driver dispatch (round 20, the lshKnnEdges twin
    // family): the band join + distinct is all scheduling at test
    // scale; the twin derives the same 8×2 band keys, scores the same
    // collision pairs, and emits the same thresholded distinct rows
    // (full oracle hash pins it; LocalSimSpec pins both paths). The
    // distributed branch reads the memoized band table, not the
    // corpus projection.
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    Dispatch.gated("embedDup", emb, ExactKnnMaxRows, keys = Seq("vec_id"),
        admit = Seq(lit(LocalSim.twinnable(emb)), count(lit(1)) > 0)) { rs =>
      Some(LocalSim.embedDupPairs(LocalSim.corpusOf(rs),
          EmbeddingDim, LshBands, LshRows, 4000L)
        .toDF("vec_a", "vec_b", "cos_e4")
        .orderBy(col("vec_a"), col("vec_b")))
    } { _ => embedDupDistributed(spark, dir) }
  }

  private def embedDupDistributed(spark: SparkSession, dir: String): DataFrame = {
    val e = banded(spark, dir)
    val a = e.select(col("band"), col("key"),
      col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = e.select(col("band"), col("key"),
      col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    // Score inside the band join and filter by threshold BEFORE the
    // distinct: duplicate band collisions recompute a cheap native
    // cosine, but only qualifying (id, id, score) rows — a tiny
    // fraction — reach the dedup shuffle. Embedding vectors never
    // leave the join stage.
    a.join(b, Seq("band", "key"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(cosine(col("emb_a"), col("emb_b")) * 1e4).cast("long").as("cos_e4"))
      .filter(col("cos_e4") >= 4000)
      .distinct()
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Exact cluster-quality silhouette over the ground-truth `label`
    * assignment — the readout that tells you whether an embedding
    * space actually separates its classes (mean s near 0 = clusters
    * overlap; near 1e6 = tight and far apart). Centroid-form
    * silhouette (the Spark-ML convention: distances to centroids,
    * not all-pairs — O(N·k·d), no N² pair explosion), made
    * BIT-EXACT end to end by a documented e16 quantization:
    * qd = floor(x·65536 + 0.5) per dimension (float·2^16 in double
    * is exact scaling, floor is convention-free), centroid
    * coordinates cd = Σqd div n (truncating integer division —
    * DuckDB `//` matches Spark `div` including negatives), squared
    * distances and the (b−a)·1e6 div max(a,b) score all BIGINT.
    * The quantized centroid deviates from the true mean by under one
    * 2^-16 quantum; in exchange every intermediate is
    * reduction-order free — no float summation-order hazard (the §6
    * float-oracle rule taken to its endpoint). Shape: one
    * posexplode pass (N·d rows), one (label, dim) agg, one join of
    * the dim stream against the broadcast k·d centroid table, one
    * (vec, candidate) agg — at larger k·d a native expression over
    * the intact array replaces the explode (same algebra). */
  def silhouette(spark: SparkSession, dir: String): DataFrame =
    silhouetteOf(Tables.embeddings(spark, dir))

  def silhouetteOf(emb: DataFrame): DataFrame = {
    val dims = emb
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim"),
        floor(col("x").cast("double") * lit(65536d) + lit(0.5d))
          .cast("long").as("qd"))
    val cent = dims.groupBy(col("label"), col("dim"))
      .agg(sum(col("qd")).as("s"), count(lit(1)).as("n"))
      .select(col("label").as("clabel"), col("dim"), expr("s div n").as("cd"))
    val dist = dims.join(broadcast(cent), Seq("dim"))
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(sum((col("qd") - col("cd")) * (col("qd") - col("cd"))).as("d2"))
    val own = dist.filter(col("label") === col("clabel"))
      .select(col("vec_id"), col("label"), col("d2").as("a"))
    val other = dist.filter(col("label") =!= col("clabel"))
      .groupBy(col("vec_id")).agg(min(col("d2")).as("b"))
    own.join(other, Seq("vec_id"))
      .select(col("label"),
        when(greatest(col("a"), col("b")) === 0, lit(0L))
          .otherwise(expr("(b - a) * 1000000 div greatest(a, b)"))
          .as("s_e6"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_points"),
        expr("sum(s_e6) div count(1)").as("mean_s_e6"),
        min(col("s_e6")).as("min_s_e6"), max(col("s_e6")).as("max_s_e6"))
      .orderBy(col("label"))
  }

  /** Embedding-space outlier audit per label — the data-cleaning
    * sibling of [[silhouetteOf]]: points far from their OWN class
    * centroid are mislabeled/corrupt candidates (the "prune by
    * distance-to-centroid" gate SemDeDup-style pipelines run before
    * training). Same e16 quantization contract (exact BIGINT
    * distances, truncating centroid division); the robust threshold
    * is the `q_mad_outliers` machinery applied per label: lower
    * medians by ordered selection under unique (d2, vec_id) orders,
    * outlier = d2 > med + 3·mad exact integer test; farthest point
    * per label by struct-ordered argmax (associative, no rank window
    * over the raw stream). Own-centroid distances only — no ×k
    * candidate join; one posexplode pass, one (label, dim) agg, one
    * broadcast centroid join. */
  /** TwoNN intrinsic-dimension estimate (Facco, d'Errico, Rodriguez
    * & Laio 2017) — "how many dimensions does the corpus actually
    * use", the embedding-audit number next to [[isotropyOf]]'s
    * direction-concentration and pcaPower's variance share: an
    * embedding column can be 64-wide yet live on a ~10-dimensional
    * manifold, and retrieval/quantizer behavior tracks the LATTER.
    * TwoNN needs only each point's two nearest neighbors: μᵢ =
    * r₂/r₁ follows a Pareto(d) law on a locally uniform manifold,
    * and the MLE is d̂ = n / Σ ln μᵢ.
    *
    * Exactness: distances are the e16-quantized integer squared L2
    * (the native [[graft.functions.CatalystText.QuantSqDist]] loop —
    * e_outliers' grid convention made pairwise), so the 2-NN choice
    * is bit-stable under the unique (d², vec_id) order and the
    * oracle states the SAME integers through the polarization
    * identity |qa|²+|qb|²−2⟨qa,qb⟩ (quantized ints are exact in
    * doubles). Each ln μᵢ = ln(d₂²/d₁²)/2 is e6-rounded PER POINT
    * before the integer sum (the per-term rounding rule); the final
    * d̂ is one double tree stated identically. Exact-duplicate
    * points (r₁ = 0) have undefined μ and drop out, per the paper's
    * own preprocessing.
    *
    * Scale shape: dispatched on measured size like [[knnGraphOf]].
    * A bounded corpus (≤ [[ExactKnnMaxRows]]) takes the exact
    * brute-force pair stream — the [[cosineTopKOf]] baseline class
    * (broadcast right side, native tight loop) — which keeps the
    * oracle bit-exact. Above the bound the 2-NN comes from the
    * sign-LSH candidate pairs ([[lshCandidatePairs]], the same
    * blocking scheme knnGraphOf dispatches to) scored by the same
    * native integer distance and reduced by the same min-struct
    * passes — approximate recall (spec-audited), never an n²
    * cartesian: the estimator only ever needs k = 2, the easiest
    * k for a banded shortlist. */
  def intrinsicDim(spark: SparkSession, dir: String): DataFrame =
    intrinsicDimOf(Tables.embeddings(spark, dir))

  def intrinsicDimOf(emb: DataFrame): DataFrame =
    intrinsicDimOf(emb, ExactKnnMaxRows)

  /** Threshold-overridable form so the spec exercises the shortlist
    * branch of the dispatch itself without a 16k-row fixture — the
    * knnGraphOf both-branches discipline. */
  private[graft] def intrinsicDimOf(emb: DataFrame,
      exactMaxRows: Long): DataFrame = {
    // Numbered repartition (AQE-exempt): the corpus arrives as ~1
    // parquet partition, and the broadcast cross join preserves its
    // LEFT side's partitioning — without the pin the whole n² pair
    // scoring + checkpoint runs as one serial task (the wedge-join
    // AQE lesson; measured 8.2 → 2.9 s single-query at sf0.1).
    val parts = emb.sparkSession.sessionState.conf.numShufflePartitions
    val v = emb.select(col("vec_id"), col("embedding"))
      .repartition(parts, col("vec_id"))
      .localCheckpoint(true)
    // Two map-side-combinable min-struct passes instead of a rank
    // window: the 2-NN under the unique (d², b) order is min(struct)
    // and min(struct ≠ first) — the argmax-by-struct convention —
    // which combines PARTIALLY on the map side, so the pair
    // stream never sorts through a window shuffle (measured 6.8 →
    // ~4 s at sf0.1; the "score first, shuffle (id, id, score)"
    // family). The pair stream checkpoints once and feeds both
    // passes.
    val measured = v.count()
    val exact = measured <= exactMaxRows
    val pairs = (if (exact)
      v.toDF("a", "ea")
        .crossJoin(broadcast(v.toDF("b", "eb")))
        .filter(col("a") =!= col("b"))
      else
        // At-scale branch: bare (a, b) candidate ids from the banded
        // self-join, deduped BEFORE the two embedding lookups (the
        // knnGraphFrom discipline — no array column crosses the
        // dedup shuffle; the lookups co-partition as equi-joins
        // instead of broadcasting the corpus).
        lshCandidatePairs(v, measured)
          .select(col("vec_id").as("a"), col("candidate_id").as("b"))
          .dropDuplicates("a", "b")
          .join(v.toDF("a", "ea"), Seq("a"))
          .join(v.toDF("b", "eb"), Seq("b")))
      .select(col("a"), col("b"),
        graft.functions.VectorFunctions.quantSqDist(col("ea"), col("eb"))
          .as("d2"))
      .localCheckpoint(true)
    val m1 = pairs.groupBy(col("a"))
      .agg(min(struct(col("d2"), col("b"))).as("m1"))
      .localCheckpoint(true)
    // m1 is ONE ROW PER CORPUS POINT: broadcast it only on the exact
    // branch (bounded by exactMaxRows). On the shortlist branch an
    // O(n) broadcast would OOM at real corpus scale (round-15
    // ADVICE) — both sides are keyed by `a`, so the plain equi-join
    // co-partitions with the pair stream instead.
    def m1Side = if (exact) broadcast(m1) else m1
    val per = pairs.join(m1Side, Seq("a"))
      .filter(struct(col("d2"), col("b")) =!= col("m1"))
      .groupBy(col("a"))
      .agg(min(struct(col("d2"), col("b"))).as("m2"))
      .join(m1Side, Seq("a"))
      .select(col("m1.d2").as("d1"), col("m2.d2").as("dn2"))
      .filter(col("d1") > 0L)
      .select(expr(
        "CAST(round(ln(CAST(dn2 AS DOUBLE) / d1) * 500000) AS BIGINT)")
        .as("lnmu_e6"))
    per.agg(count(lit(1)).as("n_points"), sum(col("lnmu_e6")).as("sum_lnmu_e6"))
      .select(col("n_points"), col("sum_lnmu_e6"),
        when(col("sum_lnmu_e6") > 0L, expr(
          "CAST(round(CAST(n_points AS DOUBLE) * 1000000 / sum_lnmu_e6" +
            " * 10000) AS BIGINT)"))
          .as("id_e4"))
  }

  def embOutliers(spark: SparkSession, dir: String): DataFrame =
    embOutliersOf(Tables.embeddings(spark, dir))

  def embOutliersOf(emb: DataFrame): DataFrame = {
    val dims = emb
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim"),
        floor(col("x").cast("double") * lit(65536d) + lit(0.5d))
          .cast("long").as("qd"))
    val cent = dims.groupBy(col("label"), col("dim"))
      .agg(sum(col("qd")).as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("dim"), expr("s div n").as("cd"))
    val own = dims.join(broadcast(cent), Seq("label", "dim"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum((col("qd") - col("cd")) * (col("qd") - col("cd"))).as("d2"))
    def lowerMedian(df: DataFrame, value: Column, as: String): DataFrame =
      df.withColumn("rk", row_number().over(
          Window.partitionBy(col("label")).orderBy(value, col("vec_id"))))
        .withColumn("nn", count(lit(1)).over(Window.partitionBy(col("label"))))
        .filter(col("rk") === expr("(nn + 1) div 2"))
        .select(col("label"), value.as(as))
    val med = lowerMedian(own, col("d2"), "med_d2")
    val dev = own.join(broadcast(med), Seq("label"))
      .withColumn("ad", abs(col("d2") - col("med_d2")))
    val mad = lowerMedian(dev, col("ad"), "mad_d2")
    dev.join(broadcast(mad), Seq("label"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_points"),
        max(col("med_d2")).as("med_d2"), max(col("mad_d2")).as("mad_d2"),
        sum(when(col("d2") > col("med_d2") + lit(3) * col("mad_d2"), 1L)
          .otherwise(0L)).as("n_outliers"),
        max(struct(col("d2"), col("vec_id"))).getField("vec_id").as("far_id"))
      .orderBy(col("label"))
  }

  /** Distributed PCA first principal component by power iteration —
    * the whitening/dimensionality primitive of embedding pipelines
    * ("is this space really 64-dimensional"). Two-phase shape, each
    * phase the canonical 100 TB form:
    *
    *  1. EXACT integer Gram accumulation: embeddings quantize e16
    *     (the silhouette contract), center on the floor-div integer
    *     mean, and each partition folds its rows into ONE upper-
    *     triangular d(d+1)/2 Long array via `mapPartitions` (the
    *     documented last-resort escape — a per-partition outer-
    *     product accumulator has no declarative form); partial
    *     arrays reduce associatively. BIGINT sums ⇒ the Gram matrix
    *     is bit-identical under ANY partitioning (spec-pinned) —
    *     the g_pagerank_det contract for linear algebra.
    *  2. Driver-side power iteration on the d×d matrix (fixed 100
    *     iterations, deterministic all-ones start, sign fixed by the
    *     largest-|loading| dimension) — d² doubles is landmark-read
    *     sized; the corpus never moves again.
    *
    * Output: top eigenvalue (variance along PC1, e4 of the
    * quantized-unit scale), its share of total variance (e6), and
    * the top-5 |loading| dimensions. Rows-only + specs (planted
    * anisotropic axis recovery, partitioning invariance, residual
    * ‖Gv − λv‖ bound). */
  def pcaPower(spark: SparkSession, dir: String): DataFrame =
    pcaPowerOf(spark, Tables.embeddings(spark, dir))

  /** e16-quantized vectors as bare long arrays — the exact-integer
    * representation every Gram/eigen pass here consumes. */
  private def quantizedVecs(emb: DataFrame): DataFrame =
    emb.select(
      transform(col("embedding"), x =>
        floor(x.cast("double") * lit(65536d) + lit(0.5d)).cast("long"))
        .as("qv"))

  /** Exact centered Gram over quantized rows: (n, integer floor-div
    * mean, dense symmetric G as doubles — entries are exact integer
    * sums, so the conversion is reduction-order-free). */
  private def gramStats(spark: SparkSession, q: DataFrame)
      : (Long, Array[Long], Array[Array[Double]]) = {
    import spark.implicits._
    val d = EmbeddingDim
    val sums = q.select(posexplode(col("qv")).as(Seq("dim", "v")))
      .groupBy(col("dim")).agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .collect()
    val n = sums.head.getLong(2)
    val mean = Array.ofDim[Long](d)
    sums.foreach(r => mean(r.getInt(0)) = Math.floorDiv(r.getLong(1), n))
    val bMean = spark.sparkContext.broadcast(mean)
    // Upper-triangular exact Gram: G(i,j) = Σ (x_i − μ_i)(x_j − μ_j).
    val tri = q.as[Array[Long]].rdd.mapPartitions { it =>
      val m = bMean.value
      val acc = Array.ofDim[Long](d * (d + 1) / 2)
      it.foreach { row =>
        val c = Array.ofDim[Long](d)
        var i = 0
        while (i < d) { c(i) = row(i) - m(i); i += 1 }
        var k = 0
        i = 0
        while (i < d) {
          var j = i
          while (j < d) { acc(k) += c(i) * c(j); j += 1; k += 1 }
          i += 1
        }
      }
      Iterator.single(acc)
    }.treeReduce { (a, b) =>
      var k = 0
      while (k < a.length) { a(k) += b(k); k += 1 }
      a
    }
    val g = Array.ofDim[Double](d, d)
    var k = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) { g(i)(j) = tri(k).toDouble; g(j)(i) = tri(k).toDouble; j += 1; k += 1 }
      i += 1
    }
    (n, mean, g)
  }

  /** Fixed-iteration power method on a dense symmetric matrix:
    * (top eigenvector under the positive-max-loading sign
    * convention, its eigenvalue, trace). Driver-side over the d×d
    * Gram — never data. */
  private def topEig(g: Array[Array[Double]])
      : (Array[Double], Double, Double) = {
    val d = g.length
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var lambda = 0.0
    var it0 = 0
    while (it0 < 100) {
      val nv = Array.ofDim[Double](d)
      var a = 0
      while (a < d) {
        var s = 0.0
        var b = 0
        while (b < d) { s += g(a)(b) * v(b); b += 1 }
        nv(a) = s
        a += 1
      }
      val norm = math.sqrt(nv.map(x => x * x).sum)
      lambda = norm
      v = nv.map(_ / norm)
      it0 += 1
    }
    // Sign convention: the largest-|loading| dimension is positive.
    val maxDim = v.indices.maxBy(i0 => (math.abs(v(i0)), -i0))
    if (v(maxDim) < 0) v = v.map(x => -x)
    val trace = (0 until d).map(i0 => g(i0)(i0)).sum
    (v, lambda, trace)
  }

  def pcaPowerOf(spark: SparkSession, emb: DataFrame): DataFrame = {
    import spark.implicits._
    val q = quantizedVecs(emb)
    val (n, _, g) = gramStats(spark, q)
    val (v, lambda, trace) = topEig(g)
    val topDims = v.indices.sortBy(i0 => (-math.abs(v(i0)), i0)).take(5)
    Seq((n, math.round(lambda / n * 1e4 / 65536.0 / 65536.0),
      math.round(lambda / trace * 1e6),
      topDims.mkString(","),
      topDims.map(i0 => math.round(v(i0) * 1e4)).mkString(",")))
      .toDF("n_vectors", "pc1_var_e4", "pc1_share_e6",
        "top_dims", "top_loadings_e4")
  }

  /** kNN hubness audit — the known high-dimensional pathology where a
    * few "hub" vectors appear in everyone's neighbor list (skewed
    * in-degree) while anti-hubs appear in none: hub-heavy spaces
    * degrade dedup/retrieval quality and the fix (normalization,
    * re-ranking) starts from this readout. Rides the memoized kNN
    * edge table; in-degrees (zero-filled via a left join on the
    * corpus) summarize to one row: max, p99 by the discrete
    * ⌈0.99·n⌉ ordered selection, anti-hub count, and the in-degree
    * Gini (q_gini's closed form — 0 = uniform, →1e6 = all edges on
    * one hub). All-integer end to end; ranks ride
    * [[Selection.withGlobalRank]]'s range-partitioned distributed
    * rank (the corpus never funnels through one window task) and the
    * row count is a broadcast one-row aggregate, not an unbounded
    * window. */
  def hubness(spark: SparkSession, dir: String, k: Int = TopK): DataFrame = {
    val edges = knnGraph(spark, dir, k)
    val indeg = Tables.embeddings(spark, dir).select(col("vec_id"))
      .join(edges.groupBy(col("neighbor_id").as("vec_id"))
        .agg(count(lit(1)).as("indeg")), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("indeg"), lit(0L)).as("x"))
    val ranked = Selection.withGlobalRank(indeg,
      Seq(col("x"), col("vec_id")), "i")
      .crossJoin(broadcast(indeg.agg(count(lit(1)).as("nn"))))
    ranked.groupBy()
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("i") * col("x")).as("sixy"),
        max(col("x")).as("max_indeg"),
        sum(when(col("x") === 0, 1L).otherwise(0L)).as("n_antihubs"),
        max(when(col("i") === expr("(99 * nn + 99) div 100"),
          col("x"))).as("p99_indeg"))
      .select(col("n").as("n_vectors"), col("max_indeg"),
        col("p99_indeg"), col("n_antihubs"),
        expr("(2 * sixy - (n + 1) * sx) * 1000000 div (n * sx)")
          .as("gini_e6"))
  }

  /** Similarity-score calibration — "is cosine a calibrated
    * predictor of label agreement": over the bounded query sample ×
    * corpus, pairs bucket by e4-rounded cosine (shifted integer
    * floor-division — non-negative, so Spark `div` ≡ DuckDB `//`)
    * and each bucket reports its same-label fraction. A monotone
    * curve justifies thresholding cosine for label-blind dedup; a
    * flat one says the space does not encode the label. One corpus
    * scan, queries broadcast, integer fractions (the e4/verdict
    * conventions). */
  def scoreCalibration(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val q = broadcast(emb.filter(col("vec_id") < QueryLimit)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label")))
    emb.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(
        round(cosine(col("q_emb"), col("embedding")) * 1e4).cast("long")
          .as("sim_e4"),
        (col("label") === col("q_label")).cast("long").as("same"))
      .select(expr("(sim_e4 + 10000) div 1000").as("bucket"),
        col("same"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("same")).as("n_same"))
      .select(col("bucket"), col("n_pairs"), col("n_same"),
        expr("n_same * 10000 div n_pairs").as("same_frac_e4"))
      .orderBy(col("bucket"))
  }

  /** Binary (1-bit) embedding quantization audit — the vector-DB
    * memory end-game: each vector compresses to a 64-bit sign
    * signature (bit i = dim i > 0), candidate ranking is
    * `bit_count(sig XOR q_sig)` (two codegen'd integer ops — a
    * 256× memory cut and the cheapest possible scan), and — per the
    * documented compressed-scoring rule — a Hamming SHORTLIST is
    * exact-re-ranked with true cosine before the final top-k. The
    * readout contrasts recall@k of raw Hamming top-k vs
    * shortlist+re-rank against the exact answer: the audit that
    * justifies the re-rank stage. All orders unique ((dist ASC, id)
    * / (sim DESC, id)); queries broadcast; the corpus never joins
    * itself. Rows-only + specs (re-rank ≥ raw Hamming, planted
    * sign-separable geometry → perfect re-rank recall). */
  def binaryQuant(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    binaryQuantOf(emb, emb.filter(col("vec_id") < QueryLimit)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
  }

  /** 64-bit sign signature of an embedding column. */
  private def signSig(c: Column): Column =
    (0 until EmbeddingDim).foldLeft(lit(0L)) { (acc, i) =>
      acc.bitwiseOR(when(element_at(c, i + 1) > 0f, lit(1L << i))
        .otherwise(lit(0L)))
    }

  def binaryQuantOf(emb: DataFrame, queries: DataFrame,
      k: Int = TopK, shortlist: Int = 100): DataFrame = {
    val truth = cosineTopKOf(emb, queries, k)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
    val corpus = emb.select(col("vec_id"), col("embedding"),
      signSig(col("embedding")).as("sig")).localCheckpoint(true)
    val qs = broadcast(queries.select(col("query_id"),
      signSig(col("q_emb")).as("q_sig")))
    // Score first, shuffle (query_id, vec_id, hd) — the Hamming rank
    // only needs the narrow triple; both embedding arrays re-join
    // AFTER the ≤|q|·shortlist survivors are known (broadcast-sized),
    // so no float array ever crosses the per-query window shuffle.
    val ham = corpus.select(col("vec_id"), col("sig")).crossJoin(qs)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        bit_count(col("sig").bitwiseXOR(col("q_sig"))).as("hd"))
    val wH = Window.partitionBy(col("query_id"))
      .orderBy(col("hd").asc, col("vec_id").asc)
    val shortIds = ham.withColumn("hrk", row_number().over(wH))
      .filter(col("hrk") <= shortlist)
    val short = corpus.select(col("vec_id"), col("embedding"))
      .join(broadcast(shortIds), Seq("vec_id"))
      .join(broadcast(queries.select(col("query_id"), col("q_emb"))),
        Seq("query_id"))
      .localCheckpoint(true)
    def recallOf(ranked: DataFrame): DataFrame =
      ranked.filter(col("rk") <= k)
        .select(col("query_id"), col("vec_id").as("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("hits"))
    val rawHits = recallOf(short.withColumn("rk", col("hrk")))
    val wSim = Window.partitionBy(col("query_id"))
      .orderBy(cosine(col("q_emb"), col("embedding")).desc, col("vec_id"))
    val rerankHits = recallOf(short.withColumn("rk", row_number().over(wSim)))
    val denom = broadcast(truth.agg(count(lit(1)).as("n_truth")))
    rawHits.select(col("hits").as("h_raw"))
      .crossJoin(rerankHits.select(col("hits").as("h_rr")))
      .crossJoin(denom)
      .select(col("n_truth"),
        expr("h_raw * 1000000 div n_truth").as("recall_hamming_e6"),
        expr("h_rr * 1000000 div n_truth").as("recall_rerank_e6"))
  }

  /** Matryoshka truncation audit — "how many leading dimensions does
    * retrieval actually need": recall@k of exact cosine top-k under
    * prefix-truncated embeddings (d, d/2, d/4, d/8) against the
    * full-dimension exact answer, on the bounded query sample (the
    * e_cosine_topk convention). Truncation is a `slice` projection —
    * the corpus scans once per budget with the query side broadcast,
    * and every top-k uses the unique (sim DESC, id) order, so the
    * whole audit is deterministic. The readout is the operating
    * curve for Matryoshka-style embedding serving: pick the smallest
    * budget whose recall clears the application bar and cut index
    * memory by that factor. Rows-only + specs (prefix-concentrated
    * signal → perfect recall at every budget covering it; signal in
    * the tail → degraded truncated recall; exact integers). */
  def matryoshka(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    matryoshkaOf(emb, emb.filter(col("vec_id") < QueryLimit)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
  }

  def matryoshkaOf(emb: DataFrame, queries: DataFrame,
      budgets: Seq[Int] = Seq(EmbeddingDim, EmbeddingDim / 2,
        EmbeddingDim / 4, EmbeddingDim / 8)): DataFrame = {
    def topIds(d: Int): DataFrame = {
      def trunc(c: Column): Column = slice(c, 1, d)
      cosineTopKOf(
        emb.select(col("vec_id"), trunc(col("embedding")).as("embedding")),
        queries.select(col("query_id"), trunc(col("q_emb")).as("q_emb")))
        .select(col("query_id"), col("neighbor_id"))
    }
    val truth = topIds(budgets.max).localCheckpoint(true)
    val denom = broadcast(truth.agg(count(lit(1)).as("n_truth")))
    budgets.sorted(Ordering[Int].reverse).map { d =>
      topIds(d).join(truth, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("hits"))
        .crossJoin(denom)
        .select(lit(d.toLong).as("dim_budget"), col("n_truth"),
          col("hits"),
          expr("hits * 1000000 div n_truth").as("recall_e6"))
    }.reduce(_.unionByName(_)).orderBy(col("dim_budget").desc)
  }

  /** Linear probe on the embedding space — the standard "is the
    * label linearly decodable" representation audit, solved in
    * CLOSED FORM from one distributed pass: ridge least squares
    * w = (XᵀX + λI)⁻¹ Xᵀy over the bias-augmented quantized
    * embeddings. The [[pcaPowerOf]] contract extended to supervised
    * statistics:
    *
    *  1. EXACT integer sufficient statistics: e16-quantized x
    *     (bias dim fixed at 65536 ≙ 1.0), integer y; each partition
    *     folds its rows into ONE upper-triangular XᵀX Long array +
    *     Xᵀy + Σy² via `mapPartitions`; partials reduce
    *     associatively, so the normal equations are bit-identical
    *     under ANY partitioning (spec-pinned).
    *  2. Driver-side solve: (D = d+1 = 65)² doubles, Gaussian
    *     elimination with partial pivoting, λ = 1e-8·trace/D for
    *     conditioning. R² comes from the SAME statistics
    *     (SSE = yᵀy − 2wᵀb + wᵀAw) — no second data pass.
    *
    * The corpus is touched once; nothing but the D(D+1)/2 + D + 3
    * Longs ever moves. (Long accumulators hold to ~2^46 here; a
    * 10¹²-row corpus promotes the same fold to DECIMAL(38,0) — the
    * documented overflow rule.) Output: n, d, r2_e6, top-5 |weight|
    * dims with per-unit weights e4. Rows-only + specs (planted exact
    * linear recovery, partitioning invariance). */
  def linearProbe(spark: SparkSession, dir: String): DataFrame =
    linearProbeOf(spark, Tables.embeddings(spark, dir)
      .select(col("embedding"), col("label").cast("long").as("y")))

  def linearProbeOf(spark: SparkSession, emb: DataFrame): DataFrame = {
    import spark.implicits._
    val d = EmbeddingDim
    val bigD = d + 1
    val triLen = bigD * (bigD + 1) / 2
    val q = emb.select(
      transform(col("embedding"), x =>
        floor(x.cast("double") * lit(65536d) + lit(0.5d)).cast("long"))
        .as("qv"), col("y"))
    val (tri, b, syy, n) = q.as[(Array[Long], Long)].rdd.mapPartitions { it =>
      val a = Array.ofDim[Long](triLen)
      val bb = Array.ofDim[Long](bigD)
      var syy0 = 0L
      var n0 = 0L
      val x = Array.ofDim[Long](bigD)
      it.foreach { case (row, y) =>
        var i = 0
        while (i < d) { x(i) = row(i); i += 1 }
        x(d) = 65536L
        var k = 0
        i = 0
        while (i < bigD) {
          var j = i
          while (j < bigD) { a(k) += x(i) * x(j); j += 1; k += 1 }
          bb(i) += x(i) * y
          i += 1
        }
        syy0 += y * y
        n0 += 1L
      }
      Iterator.single((a, bb, syy0, n0))
    }.treeReduce { (p1, p2) =>
      var k = 0
      while (k < triLen) { p1._1(k) += p2._1(k); k += 1 }
      k = 0
      while (k < bigD) { p1._2(k) += p2._2(k); k += 1 }
      (p1._1, p1._2, p1._3 + p2._3, p1._4 + p2._4)
    }
    // Dense A (+ ridge), then Gaussian elimination w/ partial pivot.
    val a = Array.ofDim[Double](bigD, bigD)
    var k = 0
    var i = 0
    while (i < bigD) {
      var j = i
      while (j < bigD) {
        a(i)(j) = tri(k).toDouble; a(j)(i) = tri(k).toDouble; j += 1; k += 1
      }
      i += 1
    }
    val lambda = (0 until bigD).map(i0 => a(i0)(i0)).sum / bigD * 1e-8
    (0 until bigD).foreach(i0 => a(i0)(i0) += lambda)
    val w = b.map(_.toDouble)
    i = 0
    while (i < bigD) {
      var p = i
      var r = i + 1
      while (r < bigD) { if (math.abs(a(r)(i)) > math.abs(a(p)(i))) p = r; r += 1 }
      if (p != i) {
        val t = a(p); a(p) = a(i); a(i) = t
        val tw = w(p); w(p) = w(i); w(i) = tw
      }
      r = i + 1
      while (r < bigD) {
        val f = a(r)(i) / a(i)(i)
        var c = i
        while (c < bigD) { a(r)(c) -= f * a(i)(c); c += 1 }
        w(r) -= f * w(i)
        r += 1
      }
      i += 1
    }
    i = bigD - 1
    while (i >= 0) {
      var c = i + 1
      var s = w(i)
      while (c < bigD) { s -= a(i)(c) * w(c); c += 1 }
      w(i) = s / a(i)(i)
      i -= 1
    }
    // SSE/SST from the same statistics (A pre-ridge is tri).
    var wAw = 0.0
    k = 0
    i = 0
    while (i < bigD) {
      var j = i
      while (j < bigD) {
        val m = if (i == j) 1.0 else 2.0
        wAw += m * w(i) * w(j) * tri(k).toDouble
        j += 1; k += 1
      }
      i += 1
    }
    val wb = (0 until bigD).map(i0 => w(i0) * b(i0).toDouble).sum
    val sse = math.max(syy.toDouble - 2.0 * wb + wAw, 0.0)
    val sy = b(d).toDouble / 65536.0
    val sst = syy.toDouble - sy * sy / n.toDouble
    val r2e6 = if (sst <= 0) 0L else math.round((1.0 - sse / sst) * 1e6)
    val topDims = (0 until d).sortBy(i0 => (-math.abs(w(i0)), i0)).take(5)
    Seq((n, d,
      r2e6,
      topDims.mkString(","),
      topDims.map(i0 => math.round(w(i0) * 65536.0 * 1e4)).mkString(",")))
      .toDF("n_rows", "dim", "r2_e6", "top_dims", "top_weights_e4")
  }

  /** Per-label embedding-norm distribution — the first audit run on
    * any new embedding dump ("did some shard come out unnormalized /
    * zeroed"): norms e4-round PER ROW before the integer mean (the
    * per-term rule — distributed sum order cannot flip a digit),
    * min/max exact. The norm is the native [[graft.functions
    * .CatalystText.InnerProduct]] self-dot, stated in the oracle as
    * the identical list_dot_product tree. One scan, map-side
    * combine. */
  def normStats(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label").cast("long").as("label"),
        round(sqrt(innerProduct(col("embedding"), col("embedding"))) * 1e4)
          .cast("long").as("norm_e4"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("norm_e4")).as("min_norm_e4"),
        max(col("norm_e4")).as("max_norm_e4"),
        expr("sum(norm_e4) div count(1)").as("mean_norm_e4"))
      .orderBy(col("label"))

  /** Triplet-margin audit on the bounded query sample: for each
    * query, the best same-label and best different-label cosine
    * (e4-rounded per pair, then exact integer max per class) and
    * whether the margin holds — the metric-learning health check
    * ("do labels separate in this space"). One broadcast query scan;
    * only (query, label, sim_e4) rows aggregate. */
  def tripletAudit(spark: SparkSession, dir: String,
      marginE4: Long = 500L): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val q = broadcast(emb.filter(col("vec_id") < QueryLimit)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label")))
    emb.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q_label").cast("long").as("q_label"),
        (col("label") === col("q_label")).as("same"),
        round(cosine(col("q_emb"), col("embedding")) * 1e4).cast("long")
          .as("sim_e4"))
      .groupBy(col("query_id"), col("q_label"))
      .agg(max(when(col("same"), col("sim_e4"))).as("best_same_e4"),
        max(when(!col("same"), col("sim_e4"))).as("best_diff_e4"))
      .select(col("query_id"), col("q_label"), col("best_same_e4"),
        col("best_diff_e4"),
        (col("best_same_e4") >= col("best_diff_e4") + lit(marginE4))
          .as("margin_ok"))
      .orderBy(col("query_id"))
  }

  /** Isotropy / common-direction audit: how much of the corpus's
    * second moment the mean vector explains — ‖μ‖²·n·10⁶ / Σ‖x‖²
    * (anisotropic embedding dumps share a dominant direction, which
    * wrecks cosine retrieval; the fix is mean-centering, and this is
    * the audit that says whether it's needed). Exact end to end: the
    * e16 per-dim quantization and `s div n` centroid of the
    * [[embOutliersOf]] oracle convention, DECIMAL(38) for the final
    * ratio. Two map-side-combinable aggregations over (dim, value)
    * rows. */
  def isotropy(spark: SparkSession, dir: String): DataFrame =
    isotropyOf(Tables.embeddings(spark, dir))

  def isotropyOf(emb: DataFrame): DataFrame = {
    val dims = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim"),
        floor(col("x").cast("double") * lit(65536d) + lit(0.5d))
          .cast("long").as("qd"))
      .localCheckpoint(true)
    val mu2 = dims.groupBy(col("dim"))
      .agg(sum(col("qd")).as("s"), count(lit(1)).as("n"))
      .select(expr("s div n").as("cd"), col("n"))
      .agg(sum(col("cd") * col("cd")).as("mu_norm2_q"), max(col("n")).as("n_vecs"))
    val sq = dims.agg(sum(col("qd") * col("qd")).as("sum_norm2_q"))
    mu2.crossJoin(broadcast(sq))
      .select(col("n_vecs"), col("mu_norm2_q"), col("sum_norm2_q"),
        expr("CAST(CAST(mu_norm2_q AS DECIMAL(38,0)) * n_vecs * 1000000" +
          " div CAST(sum_norm2_q AS DECIMAL(38,0)) AS BIGINT)")
          .as("common_dir_e6"))
  }

  /** Embedding-space drift between corpus snapshots (round 13) —
    * the dense sibling of the `t_drift`/`q_psi` monitors: per
    * dimension, how far the mean vector moved between the
    * deterministic vec_id parity halves (the generation-N-vs-N+1
    * stand-in). Elements ride the e16 per-dim quantization of the
    * [[isotropyOf]] convention; the shift is the DIVISION-FREE
    * cross-multiplied |s_ref·n_cur − s_cur·n_ref| (integer-exact and
    * sign-safe — an integer mean would hit the trunc-vs-floor
    * division divergence on negative per-half sums), carried in
    * DECIMAL(38,0) (HUGEINT on the oracle side): with e16-quantized
    * sums over ~1e9 rows the product exceeds Long and non-ANSI
    * Spark would wrap silently — the qKsTest d_e6 promotion rule,
    * applied BEFORE the multiply, not after. The decimal is
    * internal only; emitted is `shift_e6q`, the e6-scaled bounded
    * mean shift (one truncating div by n_ref·n_cur — the SURVEY §6
    * emitted-type rule, restored driver-hash-green in round 15).
    * Two map-side-combinable aggregations over (dim, parity) —
    * 2·64 output rows regardless of corpus size; the readout an
    * embedding pipeline checks before re-fitting its
    * quantizer/centroids. Ordered by (shift_e6q DESC, dim) so the
    * most-moved dimensions lead. */
  def embedDrift(spark: SparkSession, dir: String): DataFrame =
    embedDriftOf(Tables.embeddings(spark, dir))

  def embedDriftOf(emb: DataFrame): DataFrame =
    emb
      .select(pmod(col("vec_id"), lit(2L)).as("par"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("par"), col("dim"),
        floor(col("x").cast("double") * lit(65536d) + lit(0.5d))
          .cast("long").as("qd"))
      .groupBy(col("dim"))
      .agg(
        sum(when(col("par") === 0L, col("qd")).otherwise(lit(0L))).as("s_ref_q"),
        sum(when(col("par") === 1L, col("qd")).otherwise(lit(0L))).as("s_cur_q"),
        sum(when(col("par") === 0L, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("par") === 1L, 1L).otherwise(0L)).as("n_cur"))
      .select(col("dim").cast("long").as("dim"), col("s_ref_q"),
        col("s_cur_q"), col("n_ref"), col("n_cur"),
        abs(col("s_ref_q").cast("decimal(38,0)") * col("n_cur")
          - col("s_cur_q").cast("decimal(38,0)") * col("n_ref"))
          .cast("decimal(38,0)").as("shift_x"))
      // shift_x stays an INTERNAL decimal; emitted is the bounded
      // per-dim mean shift |s_ref/n_ref − s_cur/n_cur| on the e16
      // grid, e6-scaled via one truncating integer div (the SURVEY
      // §6 emitted-type rule — bounded by 2·65536·1e6 regardless of
      // corpus size, where the raw cross-multiply grows O(n²)).
      .withColumn("shift_e6q",
        expr("CAST(CAST(shift_x AS DECIMAL(38,0)) * 1000000" +
          " div (CAST(n_ref AS DECIMAL(38,0)) * n_cur) AS BIGINT)"))
      .select(col("dim"), col("s_ref_q"), col("s_cur_q"),
        col("n_ref"), col("n_cur"), col("shift_e6q"))
      .orderBy(col("shift_e6q").desc, col("dim").asc)

  /** All-but-the-top whitening audit (Mu & Viswanath 2018) — the FIX
    * for what [[isotropyOf]] and `e_pca_power` diagnose: subtract
    * the mean and project out the top principal direction, then
    * re-measure. Pass 1 is the exact integer Gram + driver-side
    * power method of [[pcaPowerOf]]; the whitening map
    * w = c − (c·v₁)v₁ is applied per row (per-row doubles, no
    * cross-row accumulation) and RE-QUANTIZED to the e16 grid, so
    * pass 2's Gram is again exact-integer and reduction-order-free —
    * the bit-stable rule survives a float transform by re-entering
    * the integer domain immediately. Readout: PC1 variance share and
    * mean-vector energy before vs after (after-mean ≤ d from
    * floor-div rounding; after-share = the old λ₂/trace). Two corpus
    * passes, d×d driver state, nothing else leaves the executors. */
  def abttWhiten(spark: SparkSession, dir: String): DataFrame =
    abttWhitenOf(spark, Tables.embeddings(spark, dir))

  def abttWhitenOf(spark: SparkSession, emb: DataFrame): DataFrame = {
    import spark.implicits._
    val d = EmbeddingDim
    val q1 = quantizedVecs(emb).localCheckpoint(true)
    val (n, mean1, g1) = gramStats(spark, q1)
    val (v1, l1, tr1) = topEig(g1)
    val bM = spark.sparkContext.broadcast(mean1)
    val bV = spark.sparkContext.broadcast(v1)
    val q2 = q1.as[Array[Long]].map { row =>
      val m = bM.value; val v = bV.value
      var p = 0.0
      var i = 0
      while (i < d) { p += (row(i) - m(i)) * v(i); i += 1 }
      Array.tabulate(d)(j => math.round((row(j) - m(j)) - p * v(j)))
    }.toDF("qv")
    val (_, mean2, g2) = gramStats(spark, q2)
    val (_, l2, tr2) = topEig(g2)
    def norm2(m: Array[Long]): Long = m.map(x => x * x).sum
    Seq((n,
      math.round(l1 / tr1 * 1e6), math.round(l2 / tr2 * 1e6),
      norm2(mean1), norm2(mean2)))
      .toDF("n_vectors", "pc1_share_before_e6", "pc1_share_after_e6",
        "mu_norm2_before_q", "mu_norm2_after_q")
  }

  /** Recall@k curve of a blocking scheme against the exact answer on
    * the bounded query sample, k ∈ `ks` — the operating curve behind
    * a single-point recall audit (pick the smallest k whose recall
    * clears the bar). Truth and approximate ranks come from the SAME
    * ks.max-deep tables; per-k recall is one bounded join. */
  def recallCurveOf(emb: DataFrame, cands: DataFrame,
      ks: Seq[Int] = Seq(1, 2, 5, 10)): DataFrame = {
    val kMax = ks.max
    val queries = emb.filter(col("vec_id") < QueryLimit)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val truth = cosineTopKOf(emb, queries, kMax)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("t_rank"))
      .localCheckpoint(true)
    val approx = knnGraphFrom(emb, cands, kMax)
      .join(broadcast(queries.select(col("query_id").as("vec_id"))), Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("neighbor_id"),
        col("rank").as("a_rank"))
      .localCheckpoint(true)
    // Truth denominator from the ACTUAL truth rows at each k, not
    // nq·k — on a corpus with fewer than kMax+1 vectors a query has
    // fewer than k truth neighbors, and the nq·k denominator would
    // report recall < 1 for perfect candidates. One bounded driver
    // read of the (≤ nq·kMax row) rank histogram covers every k.
    val rankHist = truth.groupBy(col("t_rank")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    val joined = truth.join(approx, Seq("query_id", "neighbor_id"))
      .localCheckpoint(true)
    ks.map { k =>
      val nTruth = rankHist.filter(_._1 <= k).values.sum
      joined.filter(col("t_rank") <= k && col("a_rank") <= k)
        .agg(count(lit(1)).as("hits"))
        .select(lit(k.toLong).as("k"), col("hits"),
          lit(nTruth).as("n_truth"),
          expr(s"hits * 1000000 div ${math.max(nTruth, 1L)}").as("recall_e6"))
    }.reduce(_.unionByName(_)).orderBy(col("k"))
  }

  /** [[recallCurveOf]] over the IVF multi-probe candidates — the
    * production blocking scheme's curve. Rows-only + spec
    * (complete candidates → perfect curve; cluster-restricted
    * candidates can only lose recall). */
  def recallCurve(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    recallCurveOf(emb, ivfCandidatePairs(spark, emb, fitIvfCentroids(spark, dir)))
  }
}
