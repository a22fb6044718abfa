package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{CatalystText, TextFunctions => TF}

/** Deduplication operators (SURVEY §2 rows 22–26).
  *
  * Exact dedup is one hash-groupBy. Near-dup never goes O(n²):
  * MinHash+LSH banding and sign-LSH bucketing shuffle on band/bucket
  * keys, so candidate generation is linear in documents + bucket-local
  * pair counts — the property that keeps this runnable at 100 TB.
  */
object Dedup {

  /** Exact dedup: min-doc_id survivor per identical text (md5 key —
    * the groupBy shuffles 16-byte keys, not document bodies). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  val MinhashK = 64
  val MinhashBands = 16

  /** doc_id + minhash signature over distinct word 3-gram shingles. */
  private[graft] def signatures(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TF.minhashSignature(array_distinct(TF.wordShingles(col("text"), 3)), MinhashK)
          .as("sig"))

  /** LSH candidate pairs (doc_a < doc_b) from shared band keys. */
  private def candidatePairs(sigs: DataFrame): DataFrame = {
    val banded = sigs
      .select(col("doc_id"),
        explode(TF.bandKeys(col("sig"), MinhashK, MinhashBands)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val a = banded.select(col("band"), col("key"), col("doc_id").as("doc_a"))
    val b = banded.select(col("band"), col("key"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** MinHash near-dup pairs with estimated Jaccard (e4-scaled),
    * threshold 0.5 — unsorted (composable) form.
    *
    * `sigs` feeds three plan branches (banded explode + both
    * signature-fetch joins); without the checkpoint the full
    * documents-scan → shingle → MinHashSig pipeline would rerun per
    * branch. localCheckpoint materializes the (doc_id, sig) table —
    * 64 longs/row, tiny next to the corpus — so the corpus is
    * scanned and hashed exactly once per query. On a cluster,
    * `persist(DISK_ONLY)` or `checkpoint()` is the durable
    * equivalent. */
  private def minhashPairsRaw(spark: SparkSession, dir: String): DataFrame =
    minhashPairsFrom(signatures(spark, dir).localCheckpoint(true))

  /** Banded candidates scored with estimated Jaccard, UNFILTERED —
    * the one scoring pipeline both the production pairs
    * ([[minhashPairsFrom]], ≥0.5 filter) and the threshold-sweep
    * audit ([[thresholdSweep]], full curve) consume, so a change to
    * candidate generation or scoring can never desync the curve from
    * the pairs it describes. `sigs` must already be materialized
    * (checkpointed/persisted): it feeds the banded explode plus both
    * signature-fetch joins. */
  private def scoredCandidatePairs(sigs: DataFrame): DataFrame =
    candidatePairs(sigs)
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        TF.signatureSimilarityE4(col("sig_a"), col("sig_b"), MinhashK).as("est_jaccard_e4"))

  /** MinHash banded pairs over a prepared (doc_id, sig) table —
    * [[scoredCandidatePairs]] under the production ≥0.5 estimate
    * filter. */
  private[graft] def minhashPairsFrom(sigs: DataFrame): DataFrame =
    scoredCandidatePairs(sigs).filter(col("est_jaccard_e4") >= 5000)

  /** MinHash near-dup pairs with estimated Jaccard (e4-scaled),
    * threshold 0.5. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairsRaw(spark, dir).orderBy(col("doc_a"), col("doc_b"))

  /** Blocking-scheme quality report — the evaluation every LSH
    * deployment runs before trusting it at scale: recall/precision of
    * the MinHash-banded near-dup pairs against a KNOWN positive set.
    * `truthPairs` (src < dst) is the ground truth (planted families,
    * where membership is known by construction — no O(n²) exact
    * sweep); candidates are [[minhashPairs]]' banded +
    * estimate-filtered output over the same table; precision comes
    * from exact-Jaccard VERIFICATION of each candidate (the standard
    * cheap-blocking → exact-verify ladder), so organic corpus
    * near-dups outside the planted truth count as the true positives
    * they are. Ratios are integral e4 divides from exact counts;
    * empty denominators emit null, not an error. One-row report:
    * (n_truth, n_candidates, n_hits, n_verified, recall_e4,
    * precision_e4). */
  def lshQualityOf(docs: DataFrame, truthPairs: DataFrame,
      tauE4: Long = 5000L): DataFrame = {
    val shingled = docs
      .select(col("doc_id"),
        array_distinct(TF.wordShingles(col("text"), 3)).as("sh"))
      .localCheckpoint(true)
    val sigs = shingled
      .select(col("doc_id"), TF.minhashSignature(col("sh"), MinhashK).as("sig"))
      .localCheckpoint(true)
    val cand = minhashPairsFrom(sigs)
      .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
    val truth = truthPairs
      .select(col("src").as("doc_a"), col("dst").as("doc_b"))
      .localCheckpoint(true)
    // recall against KNOWN positives; precision by exact-Jaccard
    // verification of the candidates themselves (the corpus may hold
    // organic near-dups outside the planted truth — verification
    // counts them as the true positives they are)
    val hits = cand.join(truth, Seq("doc_a", "doc_b"), "left_semi")
    val verified = cand
      .join(shingled.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(shingled.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .filter(TF.jaccardE4(col("sh_a"), col("sh_b")) >= tauE4)
    cand.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
      .crossJoin(verified.agg(count(lit(1)).as("n_verified")))
      .select(col("n_truth"), col("n_candidates"), col("n_hits"),
        col("n_verified"),
        expr("(10000 * n_hits) div nullif(n_truth, 0)").as("recall_e4"),
        expr("(10000 * n_verified) div nullif(n_candidates, 0)")
          .as("precision_e4"))
  }

  /** 64-bit SimHash fingerprint per document (custom Catalyst
    * expression — bit-vote over token hashes). */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        CatalystText.simhash64(TF.tokens(col("text"))).as("simhash"))
      .orderBy(col("doc_id"))

  /** SimHash near-dup pairs: split each 64-bit fingerprint into 8
    * byte-bands; pairs sharing any band are candidates (pigeonhole:
    * any pair within Hamming distance 7 shares at least one exact
    * band), then filter by exact Hamming distance ≤ `maxHamming`.
    * Same OR-of-ANDs shape as MinHash banding — band-key equi-join,
    * never O(n²). */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 7): DataFrame =
    simhashPairsRaw(spark, dir, maxHamming).orderBy(col("doc_a"), col("doc_b"))

  private def simhashPairsRaw(spark: SparkSession, dir: String, maxHamming: Int): DataFrame = {
    // fps feeds both sides of the band self-join; checkpoint the
    // (doc_id, fp) table — 16 bytes/row — so the documents scan +
    // tokenize + SimHash runs once, not once per join side.
    val fps = Tables.documents(spark, dir)
      .select(col("doc_id"),
        CatalystText.simhash64(TF.tokens(col("text"))).as("fp"))
      .localCheckpoint(true)
    simhashPairsFrom(fps, maxHamming)
  }

  /** SimHash banded pairs over a prepared (doc_id, fp) table —
    * `fps` must already be materialized (checkpointed/persisted):
    * it feeds both sides of the band self-join. Shared with the
    * multimodal byte-payload near-dup ([[Multimodal.nearDupPairs]]) —
    * the banding is fingerprint-agnostic. */
  private[operators] def simhashPairsFrom(fps: DataFrame, maxHamming: Int): DataFrame = {
    // 8 bands of 8 bits give the pigeonhole recall guarantee only up
    // to Hamming distance 7 (one band must then be untouched); past
    // that, qualifying pairs would be silently missed.
    require(maxHamming <= 7,
      s"simhashPairs: 8x8-bit banding guarantees recall only for maxHamming <= 7, got $maxHamming")
    val bands = (0 until 8).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("fp"), b * 8).bitwiseAND(lit(0xffL)).as("key"))
    }
    val banded = fps.select(col("doc_id"), col("fp"),
        explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("fp"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val a = banded.select(col("band"), col("key"),
      col("doc_id").as("doc_a"), col("fp").as("fp_a"))
    val b = banded.select(col("band"), col("key"),
      col("doc_id").as("doc_b"), col("fp").as("fp_b"))
    a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The dedup VERDICT a training pipeline actually consumes: exact
    * duplicate pairs ∪ MinHash near-dup pairs ∪ SimHash near-dup
    * pairs → connected components over the pair graph → one cluster
    * per document with a deterministic survivor.
    *
    * @return (doc_id, cluster_id, is_survivor) — cluster_id = min
    *         member doc_id; survivor = that min member. Documents in
    *         no pair form singleton clusters (their own survivor).
    *
    * Scale shape: every pair source is banded LSH (near-linear), the
    * pair graph is far smaller than the corpus, and the star
    * contraction runs on (id, id) rows only — no text or signatures
    * move after pair generation. */
  def dupClusters(spark: SparkSession, dir: String,
      includeMinhash: Boolean = true): DataFrame =
    dupClusters(spark, dir, dupPairs(spark, dir, includeMinhash))

  /** The union duplicate-pair table (src, dst) feeding the verdict —
    * exposed so a pipeline can compute it ONCE, persist it, and fan
    * it out to every downstream consumer via the pairs overload of
    * [[dupClusters]]: at 100 TB the pair table is the thing you run
    * once and reuse, not recompute per read. */
  // The per-document signature table (md5 + SimHash + optionally
  // MinHash) is the dedup family's persist-once artifact — the same
  // production shape as the memoized canonical edge build: at 100 TB
  // you compute signatures in one corpus pass, persist them, and fan
  // them out to every pair source and every downstream consumer
  // (d_dup_clusters, p_clean_corpus, incremental runs). Keyed by the
  // documents file's identity; an entry built without MinHash is
  // rebuilt in place when a MinHash consumer arrives, which releases
  // the old table like an eviction does (contract: graft.Memo).
  private val sigMemo = graft.Memo[String, (DataFrame, Boolean)](4)

  // Distinct (doc_id, md5(word n-gram)) rows — the shared input of
  // every corpus-wide n-gram consumer (cross-doc df, containment,
  // decontamination). Same persist-once rationale and keying as the
  // signature table; one corpus scan serves them all.
  private val ngramMemo = graft.Memo[(String, Int), DataFrame](4)

  /** Distinct (doc_id, h = md5(word n-gram)) over the corpus,
    * memoized per (session, data identity, n). */
  private[operators] def ngramHashes(spark: SparkSession, dir: String,
      n: Int): DataFrame =
    ngramMemo(spark, (graft.Memo.fileKey(Seq(s"$dir/documents.parquet")), n)) {
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          explode(array_distinct(TF.wordShingles(col("text"), n))).as("ng"))
        .select(col("doc_id"), md5(col("ng")).as("h"))
        .localCheckpoint(true)
    }

  private[graft] def signatureBase(spark: SparkSession, dir: String,
      includeMinhash: Boolean): DataFrame =
    sigMemo(spark, graft.Memo.fileKey(Seq(s"$dir/documents.parquet")),
        reuse = _._2 || !includeMinhash) {
      val sigCols = Seq(
        col("doc_id"),
        md5(col("text")).as("h"),
        CatalystText.simhash64(TF.tokens(col("text"))).as("fp")) ++
        (if (includeMinhash)
          Seq(TF.minhashSignature(
            array_distinct(TF.wordShingles(col("text"), 3)), MinhashK).as("sig"))
        else Nil)
      (Tables.documents(spark, dir).select(sigCols: _*).localCheckpoint(true),
        includeMinhash)
    }._1

  def dupPairs(spark: SparkSession, dir: String,
      includeMinhash: Boolean = true): DataFrame = {
    // ONE corpus scan computes every per-document signature the pair
    // sources need (memoized across queries — see [[signatureBase]]):
    // the text is read, tokenized and shingled exactly once however
    // many pair sources and queries consume it. At 100 TB this is the
    // difference between one pass over the corpus and three.
    val base = signatureBase(spark, dir, includeMinhash)
    val byHash = base.select(col("doc_id"), col("h"))
    val mins = byHash.groupBy(col("h")).agg(min(col("doc_id")).as("src"))
    val exactPairs = byHash.join(mins, Seq("h"))
      .filter(col("doc_id") =!= col("src"))
      .select(col("src"), col("doc_id").as("dst"))
    val basePairs = exactPairs
      .unionAll(simhashPairsFrom(base.select(col("doc_id"), col("fp")), maxHamming = 7)
        .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    // MinHash is the most expensive pair source; callers composing
    // dedup into a larger pipeline can run on exact+SimHash alone.
    if (includeMinhash)
      basePairs.unionAll(
        minhashPairsFrom(base.select(col("doc_id"), col("sig")))
          .select(col("doc_a").as("src"), col("doc_b").as("dst")))
    else basePairs
  }

  /** Verdict over a PRECOMPUTED (src, dst) duplicate-pair table —
    * the reuse entry point for pipelines that persist the pair table
    * (see [[dupPairs]]) and consume the verdict several times. */
  def dupClusters(spark: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    val comp = graft.graph.ConnectedComponentsDF.run(spark, pairs)
      .select(col("vertex").as("doc_id"), col("component"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .withColumn("is_survivor", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic dedup verdict driven by EXACT pairs only — the
    * oracle-checkable sibling of [[dupClusters]] (MinHash/SimHash
    * pair sets depend on this engine's hash functions; md5 equality
    * is engine-independent, so DuckDB can pin the whole verdict:
    * cluster_id = min doc_id over each identical-text group).
    *
    * Pairs are emitted as CHAINS — each document links to its hash
    * group's PREVIOUS id, not to the group minimum — so the
    * connected-components contraction underneath must walk genuine
    * multi-hop paths to reach the verdict the oracle computes in
    * closed form. A star-shaped pair set would let a single join
    * fake the traversal; chains make the oracle exercise the real
    * CC semantics end-to-end. */
  def dupClustersExact(spark: SparkSession, dir: String): DataFrame =
    dupClusters(spark, dir, exactChainPairs(spark, dir))

  /** Exact-duplicate pairs as per-hash-group CHAINS (each doc links
    * to its group's previous id) — the engine-independent pair source
    * behind [[dupClustersExact]] and the oracle-checked curation
    * composition (`p_clean_corpus_exact`). */
  private[graft] def exactChainPairs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byHash = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
    byHash
      .withColumn("prev", lag(col("doc_id"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev").as("src"), col("doc_id").as("dst"))
  }

  /** Priority-aware exact-dedup survivor selection — the cross-source
    * curation rule min-id survivors can't express: when the same
    * content appears in several sources, KEEP the copy from the most
    * trusted source (curated beats crawled), falling back to the
    * smallest doc_id only within a priority tier. One hash-keyed rank
    * window picks rank 1 per md5 group by (priority desc, doc_id);
    * cluster_id stays the min-id label so downstream joins are
    * stable whichever copy survives. Only (id, hash, priority) rows
    * shuffle — text never leaves its scan.
    *
    * @param priority a Column scoring each row's source trust
    *                 (higher wins). */
  def priorityDedupOf(docs: DataFrame,
      priority: org.apache.spark.sql.Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = docs
      .select(col("doc_id"), col("source"), md5(col("text")).as("h"),
        priority.as("prio"))
    val byHash = Window.partitionBy(col("h"))
    val ranked = h
      .withColumn("rk", row_number().over(
        byHash.orderBy(col("prio").desc, col("doc_id"))))
      .withColumn("cluster_id", min(col("doc_id")).over(byHash))
    val surv = ranked.filter(col("rk") === 1)
      .select(col("h"), col("doc_id").as("survivor_id"))
    ranked.join(surv, Seq("h"))
      .select(col("doc_id"), col("source"), col("cluster_id"),
        col("survivor_id"),
        (col("doc_id") === col("survivor_id")).as("is_survivor"))
      .orderBy(col("doc_id"))
  }

  /** Incremental exact dedup — the production shape where a NEW batch
    * lands against an already-deduped corpus. A new document (doc_id
    * >= `splitId`) survives iff its content hash matches neither the
    * existing corpus (anti-join against the old side's hash set — at
    * scale, the persisted hash artifact of the previous run, not a
    * rescan) nor an earlier document of its own batch
    * (first-occurrence per hash within the batch). Only 16-byte
    * hashes shuffle. */
  def incrementalDedup(spark: SparkSession, dir: String,
      splitId: Long = 250L): DataFrame = {
    val byHash = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .localCheckpoint(true)
    val oldHashes = byHash.filter(col("doc_id") < splitId)
      .select(col("h")).distinct()
    val firstInBatch = byHash.filter(col("doc_id") >= splitId)
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
    firstInBatch
      .join(oldHashes, Seq("h"), "left_anti")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-filter incremental dedup — the MAP-SIDE form of
    * [[incrementalDedup]]: the persisted corpus's hash set compresses
    * to a Bloom filter (~10 bits/doc at fpp 0.01, built with ONE
    * aggregation — `stat.bloomFilter`'s mergeable sketch), and the
    * new batch probes it scan-side through the native
    * [[graft.functions.BloomMightContain]] expression instead of
    * shuffling into a hash anti-join. The guarantee is one-sided:
    * probe=false ⇒ DEFINITELY new (zero false negatives — no dup
    * ever slips through as "new"); probe=true ⇒ re-check exactly.
    * That asymmetry is the production shape: the filter eliminates
    * the (vast) definitely-new majority for free, and only the
    * might-contain residue pays the exact path. Emitted per batch
    * doc: (doc_id, exact_new, ok) where ok pins the no-FN implication
    * ¬exact_new ⇒ probe=true — the oracle states TRUE AS ok, so any
    * false negative hash-fails the driver compare (the cms_ok /
    * recall-audit pattern).
    *
    * Scale: the filter is O(corpus) bits — broadcast-able to ~1e9
    * docs (~1.2 GB at fpp 0.01); past that, shard filters by hash
    * prefix and probe the matching shard (same expression, one
    * filter per shard key). The exact audit join here is the
    * TEST-side verdict, not the scale path. */
  def bloomIncremental(spark: SparkSession, dir: String,
      splitId: Long = 250L, fpp: Double = 0.01): DataFrame = {
    val byHash = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .localCheckpoint(true)
    val base = byHash.filter(col("doc_id") < splitId)
      .select(col("h")).distinct().localCheckpoint(true)
    val bloom = base.stat.bloomFilter("h", math.max(base.count(), 1L), fpp)
    val probe = graft.functions.BloomMightContain(col("h"), bloom)
    byHash.filter(col("doc_id") >= splitId)
      .withColumn("might", probe)
      .join(base.select(col("h"), lit(false).as("en")), Seq("h"), "left")
      .select(col("doc_id"),
        coalesce(col("en"), lit(true)).as("exact_new"),
        (coalesce(col("en"), lit(true)) || col("might")).as("ok"))
      .orderBy(col("doc_id"))
  }

  /** Exact n-gram Jaccard (e4-scaled) computed only on LSH candidate
    * pairs — the verify stage after MinHash candidate generation. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // Shingle ONCE: the checkpointed (doc_id, shingles) table serves
    // both the signature/banding branch and the two exact-Jaccard
    // fetch joins — without it the documents scan + shingling reruns
    // up to 4× (banding sides + both joins). Signatures derive from
    // the checkpointed arrays, so MinHashSig never re-shingles.
    val shingled = Tables.documents(spark, dir)
      .select(col("doc_id"),
        array_distinct(TF.wordShingles(col("text"), 3)).as("sh"))
      .localCheckpoint(true)
    val sigs = shingled
      .select(col("doc_id"), TF.minhashSignature(col("sh"), MinhashK).as("sig"))
      .localCheckpoint(true)
    val pairs = candidatePairs(sigs)
    pairs
      .join(shingled.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(shingled.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        TF.jaccardE4(col("sh_a"), col("sh_b")).as("jaccard_e4"))
      .filter(col("jaccard_e4") >= 3000)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Exact n-gram CONTAINMENT of a bounded query set in the corpus —
    * the asymmetric near-dup signal (quotation, doc-in-doc, partial
    * scrape): containment(q, d) = |S(q) ∩ S(d)| / |S(q)| over
    * distinct word n-gram sets. Symmetric Jaccard misses a small
    * document copied wholesale into a large one (the union term
    * swamps it); containment is exactly that detector.
    *
    * Relational shape: one checkpointed corpus scan explodes to
    * (doc_id, md5(ngram)) rows; query and corpus sides equi-join on
    * the 16-byte hash, aggregate to (q, d) counts, then normalize by
    * |S(q)| — n-gram text never shuffles, and the query side is
    * bounded (broadcastable at scale). */
  def containment(spark: SparkSession, dir: String, maxQueryId: Long = 100L,
      n: Int = 8, minE4: Long = 2500L): DataFrame = {
    val shing = ngramHashes(spark, dir, n) // memoized one-scan table
    val q = shing.filter(col("doc_id") < maxQueryId)
    val qsize = q.groupBy(col("doc_id").as("doc_a")).agg(count(lit(1)).as("n_q"))
    q.select(col("doc_id").as("doc_a"), col("h"))
      .join(shing.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(qsize, Seq("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        round(col("n_common") * lit(1e4) / col("n_q")).cast("long")
          .as("containment_e4"))
      .filter(col("containment_e4") >= minE4)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Cross-document duplicated-n-gram fraction (RefinedWeb-style):
    * for each document, the share of its distinct word n-grams that
    * also appear in at least one OTHER document — the corpus-level
    * boilerplate/template signal (distinct from t_repetition's
    * within-doc duplication and p_decontaminate's vs-benchmark
    * overlap). The n-gram df table and the join back both key on
    * md5(ngram): fixed-width hashes shuffle, n-gram text never does.
    * Ratio is e4 from exact integer counts (order-immune). */
  def crossdocNgrams(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    val shingles = ngramHashes(spark, dir, n) // memoized one-scan table
    val df = shingles.groupBy(col("h"))
      .agg(count(lit(1)).as("ndocs")) // (doc_id, h) is distinct per doc
    shingles.join(df, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_ngrams"), col("n_shared"),
        round(col("n_shared") * lit(1e4) / col("n_ngrams")).cast("long")
          .as("shared_e4"))
      .orderBy(col("doc_id"))
  }

  /** Content-defined chunking dedup (the FastCDC/LBFS idea at token
    * granularity): chunk boundaries fall where a hash of the trailing
    * `w`-token window hits a mask — a content-local rule, so an
    * insertion early in a document shifts only the chunk it lands in,
    * while fixed-width chunking would shift EVERY downstream chunk
    * and destroy dedup. The engine-portable boundary rule is
    * md5(last-w-token gram) leading nibble = '0' (p = 1/16, expected
    * ~16-token chunks); duplicate chunks are those whose reassembled
    * text hashes to a value seen in ≥ 2 distinct documents.
    *
    * Shape: one token explode, then BOTH windows (boundary-flag lag
    * and running-boundary-count) ride the same (doc_id, pos)
    * partitioning — tokens shuffle once, chunk reassembly happens
    * doc-locally, and only 16-byte chunk hashes cross the global
    * frequency shuffle. Output: (doc_id, n_chunks, n_dup_chunks). */
  def cdcChunks(spark: SparkSession, dir: String, w: Int = 3): DataFrame =
    cdcChunksOf(Tables.documents(spark, dir), w)

  /** [[cdcChunks]] over any (doc_id, text) table. */
  def cdcChunksOf(docs: DataFrame, w: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val gram = concat_ws(" ",
      (w - 1 to 1 by -1).map(j => lag(col("tok"), j).over(byPos)) :+ col("tok"): _*)
    // Boundary AFTER token `pos` once a full window exists: chunk id
    // of a token counts the boundaries strictly BEFORE it.
    val chunks = docs
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "tok")))
      .withColumn("b",
        when(col("pos") >= w - 1
          && substring(md5(gram), 1, 1) === "0", 1L).otherwise(0L))
      .withColumn("cid",
        coalesce(sum(col("b")).over(
          byPos.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy(col("doc_id"), col("cid"))
      .agg(md5(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")))).as("h"))
      .localCheckpoint(true)
    val freq = chunks.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
    chunks.join(freq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .orderBy(col("doc_id"))
  }
  /** Winnowing fingerprint near-dup pairs (Schleimer–Wilkerson–Aiken
    * 2003, the MOSS algorithm) — the published selection scheme the
    * d_* family was missing: per document, hash the word k-grams in
    * POSITION order, slide a w-hash window, select each window's
    * minimum hash, and dedupe the selections into the document's
    * fingerprint set. The guarantee (spec-pinned): any shared token
    * run of length >= w+k-1 puts at least one identical window in
    * both documents, so its minimum is selected on both sides — a
    * bounded-density sketch (between n/w and n prints) that can
    * never miss a long match. Pairs then form by fingerprint-key
    * equi-join on narrow (doc, hash) rows — the same
    * score-first/shuffle-narrow shape as every other pair source;
    * no payload, no all-pairs. The per-doc window is partitioned by
    * doc_id (never a global sort), and short documents (< w full
    * windows) legitimately fingerprint to nothing. */
  def winnowPrints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id"))
    // k-gram hash = the 60-bit md5 bridge (round 19): the same
    // oracle-stateable base as the MinHash family, so the window
    // minima — and with them the whole fingerprint selection — sit
    // under the DuckDB hash compare (xxhash64 was engine-only).
    val pos = docs
      .select(col("doc_id"),
        posexplode(TF.wordShingles(col("text"), k)).as(Seq("pos", "ng")))
      .select(col("doc_id"), col("pos"), CatalystText.bridge60(col("ng")).as("h"))
    pos
      .withColumn("wmin",
        min(col("h")).over(byDoc.orderBy(col("pos")).rowsBetween(0, w - 1)))
      .withColumn("nh", count(lit(1)).over(byDoc))
      .filter(col("pos") <= col("nh") - w) // full windows only
      .select(col("doc_id"), col("wmin").as("print"))
      .distinct()
  }

  def winnowPairs(spark: SparkSession, dir: String,
      minShared: Long = 8L): DataFrame = {
    val prints = winnowPrints(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))).localCheckpoint(true)
    prints.as("a").join(prints.as("b"),
        col("a.print") === col("b.print") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_prints"))
      .filter(col("shared_prints") >= minShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Dedup-threshold operating curve — "how many pairs does each
    * Jaccard bar keep": banded MinHash candidates scored once (the
    * [[minhashPairs]] machinery WITHOUT its ≥0.5 production filter),
    * reduced to a ≤21-bucket estimate histogram, then a bounded grid
    * join reads off pairs-surviving-≥t for t = 0, 0.05 … 1.0. The
    * audit run before choosing the cluster threshold: one banded
    * shuffle, the corpus never rescans per threshold. Rows-only +
    * spec (monotone non-increasing; t=0 equals the candidate count;
    * the 0.5 point equals minhashPairs' count). */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val sigs = signatures(spark, dir).localCheckpoint(true)
    val scored = scoredCandidatePairs(sigs)
      .select(col("est_jaccard_e4").as("j_e4"))
    val hist = scored
      .groupBy(expr("j_e4 div 500").as("b"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    spark.range(0, 21).select((col("id") * 500).as("thr_e4"))
      .join(broadcast(hist), col("b") * 500 >= col("thr_e4"), "left")
      .groupBy(col("thr_e4"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_pairs_ge"))
      .orderBy(col("thr_e4"))
  }

  /** LSH band-tuning table (round 13) — the analytic design step
    * BEFORE any banded MinHash run: for every (bands b, rows r)
    * split of the 128-perm signature, the S-curve
    * P(candidate | jaccard s) = 1 − (1 − s^r)^b evaluated on the
    * fixed 21-point s-grid, reduced per scheme to
    *  - `s_star_e6`    — the curve's threshold (1/b)^(1/r), where
    *                     P crosses 1/2-ish: the bar the scheme
    *                     effectively enforces
    *  - `p_at_t_e6`    — P at the production Jaccard bar t = 0.5
    *                     (the [[minhashPairs]] filter)
    *  - `fp_mass_e6`   — Σ P over the grid points below t: candidate
    *                     mass wasted on sub-threshold pairs
    *  - `fn_mass_e6`   — Σ (1 − P) over grid points ≥ t: true pairs
    *                     the blocking misses
    * Each grid term is e6-rounded BEFORE its integer sum and
    * `pow` is bit-identical across engines on this whole grid
    * (verified), so the table is integer-exact under a full oracle.
    * The work is 8 schemes × 21 grid points — nothing scales with
    * the corpus; this is the table you read before paying for the
    * banded shuffle, and `d_lsh_quality` is the a-posteriori audit
    * of the scheme it picks. */
  def lshTune(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val br = Seq((128, 1), (64, 2), (32, 4), (16, 8), (8, 16), (4, 32),
      (2, 64), (1, 128)).toDF("b", "r")
    val grid = spark.range(0, 21).select(col("id").cast("int").as("i"))
    br.crossJoin(broadcast(grid))
      .select(col("b"), col("r"), col("i"),
        expr("CAST(round((1 - pow(1 - pow(i / 20.0, CAST(r AS DOUBLE))," +
          " CAST(b AS DOUBLE))) * 1000000) AS BIGINT)").as("p_e6"))
      .groupBy(col("b"), col("r"))
      .agg(
        sum(when(col("i") === 10, col("p_e6"))).as("p_at_t_e6"),
        sum(when(col("i") < 10, col("p_e6")).otherwise(lit(0L)))
          .as("fp_mass_e6"),
        sum(when(col("i") >= 10, lit(1000000L) - col("p_e6"))
          .otherwise(lit(0L))).as("fn_mass_e6"))
      .select(col("b"), col("r"),
        expr("CAST(round(pow(1.0 / b, 1.0 / r) * 1000000) AS BIGINT)")
          .as("s_star_e6"),
        col("p_at_t_e6"), col("fp_mass_e6"), col("fn_mass_e6"))
      .orderBy(col("b").desc)
  }
}
