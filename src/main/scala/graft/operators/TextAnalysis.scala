package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{CatalystText, TextFunctions => TF}

/** Text analysis operators (SURVEY §2 rows 29–32): all narrow,
  * shuffle-free per-document projections — they pipeline with
  * whatever downstream operator consumes them.
  */
object TextAnalysis {

  /** Token + char counts per document. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    tokenCountsOf(Tables.documents(spark, dir))

  /** Token + char counts over any (doc_id, text) DataFrame — the
    * source-agnostic form (parquet, JSON, streaming all feed it). */
  def tokenCountsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        size(TF.tokens(col("text"))).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy(col("doc_id"))

  /** Quality counters (integer outputs for bit-stable comparison):
    * alpha/digit/space char counts, token stats. */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val nChars = length(t).cast("long")
    val nAlpha = length(regexp_replace(t, "[^A-Za-z]", "")).cast("long")
    val nDigit = length(regexp_replace(t, "[^0-9]", "")).cast("long")
    val nSpace = length(regexp_replace(t, "[^ ]", "")).cast("long")
    val toks = TF.tokens(t)
    Tables.documents(spark, dir)
      .select(col("doc_id"), nChars.as("n_chars"), nAlpha.as("n_alpha"),
        nDigit.as("n_digit"), nSpace.as("n_space"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct_tokens"))
      .orderBy(col("doc_id"))
  }

  /** BPE-style pre-tokenizer pattern (the GPT-2 shape): contraction
    * suffixes, space-prefixed letter runs, digit runs, punctuation
    * runs, residual whitespace. Restricted to constructs Java regex
    * and RE2 (DuckDB) interpret identically so the oracle can share
    * it. */
  val BpeTokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** Token counting the way an LLM-data pipeline estimates cost:
    * whitespace tokens next to BPE-ish regex pre-tokens (total +
    * distinct). regexp_extract_all is a native codegen'd expression —
    * one pass, no UDF. */
  def regexTokens(spark: SparkSession, dir: String): DataFrame = {
    val toks = regexp_extract_all(col("text"), lit(BpeTokenPattern), lit(0))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TF.tokens(col("text"))).cast("long").as("n_ws_tokens"),
        size(toks).cast("long").as("n_bpe_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct_bpe"))
      .orderBy(col("doc_id"))
  }

  /** Heuristic language identification (deterministic; see
    * TextFunctions.langId). */
  def langId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TF.langId(col("text")).as("pred_lang"))
      .orderBy(col("doc_id"))

  /** Corpus-level heavy hitters: top-25 most frequent tokens.
    * explode → groupBy is the exact form; at 100 TB the same query
    * drops in a count-min/partial-TopK pre-aggregation, but exact
    * heavy hitters over token counts is itself map-side combined —
    * the shuffle carries one row per distinct token per partition. */
  def topTokens(spark: SparkSession, dir: String, k: Int = 25): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /** Tokenizer fertility — BPE tokens per word, the standard
    * tokenizer-quality metric ("how many pieces does this vocab cut
    * a word into"), per source: the corpus's word types re-use the
    * MEMOIZED 10-round BPE state (one training loop serves
    * t_bpe_merges, t_bpe_vocab and this), each word's symbol count
    * joins back to per-source word counts (vocab-sized join — the
    * corpus reduces to (source, word, n) first), and fertility is an
    * exact integer ratio. The character baseline (symbols before any
    * merge = |word|+1 with the </w> mark) rides the same rows, so
    * the readout shows how much the learned merges actually buy per
    * source. Rows-only + specs (merges can only shrink fertility:
    * trained ≤ untrained baseline; bounds; invariance via exact
    * integers). */
  def fertility(spark: SparkSession, dir: String, rounds: Int = 10): DataFrame =
    fertilityOf(spark, Tables.documents(spark, dir), rounds)

  def fertilityOf(spark: SparkSession, docs: DataFrame,
      rounds: Int): DataFrame = {
    val (_, state) = bpeCore(spark, docs, rounds)
    val enc = state.select(
      regexp_replace(array_join(col("syms"), ""), "</w>$", "").as("w"),
      size(col("syms")).cast("long").as("n_syms"))
    val words = docs
      .select(col("source"), explode(TF.tokens(lower(col("text")))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
    words.join(enc, Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("n_syms")).as("n_bpe_tokens"),
        sum(col("n") * (length(col("w")) + 1)).as("n_char_syms"))
      .select(col("source"), col("n_words"), col("n_bpe_tokens"),
        expr("n_bpe_tokens * 10000 div n_words").as("fertility_e4"),
        expr("n_char_syms * 10000 div n_words").as("char_baseline_e4"))
      .orderBy(col("source"))
  }

  /** Compression-ratio quality signal — the Gopher-family heuristic
    * the filter stack was missing: highly compressible text (boiler-
    * plate, repeated fragments, degenerate generation) deflates far
    * below prose, so deflate(level 6) output size over raw bytes is
    * a cheap one-pass quality score. The codec is per-row imperative
    * JVM work with no declarative form — the documented
    * `mapPartitions` last resort — and everything after it is exact
    * integer sums, so the readout is bit-identical under any
    * partitioning (spec-pinned; zlib level-6 output is deterministic
    * for fixed input). Per source: docs, byte totals, the aggregate
    * ratio e4, and the count of low-entropy docs (ratio < 0.30). */
  def compressionRatio(spark: SparkSession, dir: String): DataFrame =
    compressionRatioOf(spark, Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text")))

  def compressionRatioOf(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = docs.as[(Long, String, String)].mapPartitions { it =>
      val buf = new Array[Byte](8192)
      it.map { case (id, src, text) =>
        val raw = text.getBytes("UTF-8")
        val d = new java.util.zip.Deflater(6)
        d.setInput(raw)
        d.finish()
        var n = 0L
        while (!d.finished()) n += d.deflate(buf)
        d.end()
        (src, id, raw.length.toLong, n)
      }
    }.toDF("source", "doc_id", "raw_bytes", "comp_bytes")
    rows.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("raw_bytes")).as("raw_bytes"),
        sum(col("comp_bytes")).as("comp_bytes"),
        sum(when(col("comp_bytes") * 10 < col("raw_bytes") * 3, 1L)
          .otherwise(0L)).as("n_low_entropy"))
      .select(col("source"), col("n_docs"), col("raw_bytes"),
        col("comp_bytes"),
        expr("comp_bytes * 10000 div raw_bytes").as("ratio_e4"),
        col("n_low_entropy"))
      .orderBy(col("source"))
  }

  /** Vocabulary coverage curve — the tokenizer-sizing readout ("how
    * much of the corpus do the top 2^k types cover"): token counts
    * rank under the unique (count DESC, token ASC) order with the
    * running covered-token sum, both from [[Selection.withGlobalRank]]'s
    * range-partitioned rank+cumsum (no single-reducer window — the
    * corpus-scale discipline; the ranked table is vocab-bounded, far
    * below corpus size). The 15-row power-of-two budget spine joins
    * by EQUALITY on the budget's effective rank (clamped to vocab) —
    * a broadcast equi-join, not a rank-≤ fanout. coverage_e6 is an
    * exact integer ratio (BIGINT cums — the overflow rule). */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val counts = Tables.documents(spark, dir)
      .select(explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val ranked = Selection.withGlobalRank(counts,
      Seq(col("n").desc, col("token").asc), "rk",
      cumSumOf = Some("n"), cumName = "cum")
    val tot = counts.agg(sum(col("n")).as("tot"),
      count(lit(1)).as("vocab"))
    val spine = (0 to 14).map(k => 1L << k).toDF("rank_budget")
      .crossJoin(tot)
      .withColumn("target", least(col("rank_budget"), col("vocab")))
    ranked.join(broadcast(spine), col("rk") === col("target"))
      .select(col("rank_budget"),
        col("target").as("n_tokens"),
        col("cum").as("covered"),
        expr("cum * 1000000 div tot").as("coverage_e6"))
      .orderBy(col("rank_budget"))
  }

  /** Count-min-sketch heavy hitters with an in-query exact verdict —
    * the BOUNDED-MEMORY form of [[topTokens]] a 100 TB corpus needs:
    * the sketch pass holds w·d = ⌈e/ε⌉·⌈ln 1/δ⌉ counters regardless
    * of vocabulary size, is one codegen'd aggregation (Spark's
    * builtin `count_min_sketch`, mergeable across partitions), and
    * answers any token's frequency to within ε·N overcounting. The
    * exact top-k pass rides along as the AUDIT, exactly like
    * q_approx_distinct / the ANN recall probes: per top token the
    * verdict pins the CMS guarantee est ∈ [n, n + ⌈ε·N⌉] — the
    * sketch's point estimates are read on the driver from the ONE
    * bounded sketch row (k lookups, the bounded-collect class of the
    * landmark reads). Seeded, hence deterministic and
    * oracle-checkable with `TRUE AS cms_ok`. At scale the candidate
    * set comes from any cheap source (per-partition local top-m, a
    * prior day's top-k) and only the sketch pass touches the corpus;
    * here the audit IS the candidate source. */
  def approxTopTokens(spark: SparkSession, dir: String, k: Int = 25,
      eps: Double = 0.0002, confidence: Double = 0.99): DataFrame = {
    import spark.implicits._
    val toks = Tables.documents(spark, dir)
      .select(explode(TF.tokens(col("text"))).as("token"))
    val row = toks.agg(
      expr(s"count_min_sketch(token, ${eps}d, ${confidence}d, 42)").as("sk"),
      count(lit(1)).as("total")).head()
    val sketch = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](0)))
    val errBound = math.ceil(eps * row.getLong(1)).toLong
    val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc).limit(k)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    exact.toSeq.map { case (token, n) =>
      val est = sketch.estimateCount(token)
      (token, n, est >= n && est <= n + errBound)
    }.toDF("token", "n", "cms_ok")
      .orderBy(col("n").desc, col("token").asc)
  }

  /** Gopher-style repetition statistics per document: duplicate-bigram
    * fraction and the share of the most common bigram — the standard
    * "is this document degenerate boilerplate/keyboard-mash" quality
    * gates next to [[quality]]'s character counters. Bigrams are the
    * same word shingles as [[topBigrams]] (short docs yield one
    * whole-text shingle, so every doc reports). One explode + two
    * map-side-combined aggregations; ratios are e4-scaled from exact
    * integer counts, so the compare is bit-stable. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TF.wordShingles(col("text"), 2)).as("bigram"))
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct_bigrams"),
        max(col("c")).as("top_c"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct_bigrams"),
        round((col("n_bigrams") - col("n_distinct_bigrams"))
          * 10000.0 / col("n_bigrams")).cast("long").as("dup_bigram_ratio_e4"),
        round(col("top_c") * 10000.0 / col("n_bigrams")).cast("long")
          .as("top_bigram_frac_e4"))
      .orderBy(col("doc_id"))

  /** Per-document TF-IDF top terms: tf · ln(N/df), top `topN` per doc.
    * Two aggregations (doc-term tf, term df) + one token-keyed join —
    * every shuffle key is a token or (doc, token), never text bodies.
    * Ranking happens on the e4-ROUNDED score so the window order is
    * integer-deterministic across engines (raw doubles could tie-flip
    * on the last ulp between libm implementations); N comes from a
    * parquet metadata-only count. */
  def tfidf(spark: SparkSession, dir: String, topN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = Tables.documents(spark, dir).count()
    // The doc-term table feeds BOTH the df aggregation and the score
    // join; checkpoint it so the corpus is scanned/exploded once (the
    // alternative is two full scans — Catalyst can't reuse the
    // subtree because the two branches aggregate differently).
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = tf.join(dfreq, Seq("token"))
      .withColumn("tfidf_e4",
        round(col("tf") * log(lit(n.toDouble) / col("df")) * 1e4).cast("long"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf_e4").desc, col("token").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("tfidf_e4"), col("rank"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Per-document token entropy: H = Σ (c/n)·ln(n/c) over the
    * document's token frequencies — the lexical-diversity /
    * repetitiveness quality signal (boilerplate and keyword-stuffed
    * spam score far below prose of the same length). Each term is
    * e4-rounded BEFORE the per-document sum, so the result is an
    * integer sum immune to float accumulation order across engines
    * (same contract as [[bigramLogProb]]). One corpus scan: explode →
    * per-(doc, token) counts → per-doc totals derived from the same
    * count table. */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val totals = tf.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"))
    tf.join(totals, Seq("doc_id"))
      .withColumn("term_e4",
        round(col("c").cast("double") / col("n")
          * log(col("n").cast("double") / col("c")) * 1e4).cast("long"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_tokens"), max(col("n_distinct")).as("n_distinct_tokens"),
        sum(col("term_e4")).as("entropy_e4"))
      .orderBy(col("doc_id"))
  }

  /** Corpus bigram language-model score per document: for every
    * bigram occurrence, ln P(w2|w1) = ln(B(w1 w2) / Σ_w B(w1 w))
    * with counts from the corpus itself — a fluency/quality signal
    * (gibberish scores far below prose). Per-occurrence scores are
    * e4-rounded BEFORE the per-document sum so the result is an
    * integer sum, immune to float accumulation order across engines.
    * The occurrence table is checkpointed: it feeds the bigram
    * counts, the prefix counts and the score join — one corpus scan.
    * Single-token documents have no bigrams and drop out (inner
    * semantics, mirrored by the oracle). */
  def bigramLogProb(spark: SparkSession, dir: String): DataFrame = {
    val occ = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TF.wordShingles(col("text"), 2)).as("bigram"))
      .filter(col("bigram").contains(" "))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .localCheckpoint(true)
    val bi = occ.groupBy(col("bigram")).agg(count(lit(1)).as("b"))
    val uni = occ.groupBy(col("w1")).agg(count(lit(1)).as("u"))
    occ.join(bi, Seq("bigram"))
      .join(uni, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(round(log(col("b").cast("double") / col("u")) * 1e4).cast("long"))
          .as("logprob_e4"))
      .orderBy(col("doc_id"))
  }

  /** Corpus unigram surprisal per document (round 16) — the
    * CCNet/Gopher-family "score text against an in-domain LM"
    * quality signal, with the corpus's OWN unigram model standing in
    * for the LM: every token occurrence scores
    * s(w) = ln((T + V) / (c_w + 1)), the add-one-smoothed −ln p̂(w)
    * (T = corpus occurrences, V = vocabulary). Boilerplate scores
    * low; rare-token noise scores high; the mean is the doc-level
    * filter signal. Determinism: s is e4-rounded ONCE per distinct
    * token and multiplied by the in-doc count — integer products and
    * sums, immune to accumulation order (the [[bigramLogProb]]
    * contract; s > 0 always since c+1 ≤ T). Plan shape: (doc, token)
    * counts collapse map-side BEFORE any shuffle, the token-stat
    * join co-partitions on token (corpus-sized vocab never
    * broadcasts), and the (T, V) scalar attaches as a broadcast
    * 1-row aggregate. Whitespace-only docs drop (no occurrences),
    * mirrored in the oracle's WHERE. */
  def surprisal(spark: SparkSession, dir: String): DataFrame =
    surprisalOf(Tables.documents(spark, dir))

  def surprisalOf(docs: DataFrame): DataFrame = {
    val perDoc = docs
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("k"))
      .localCheckpoint(true)
    val uni = perDoc.groupBy(col("token")).agg(sum(col("k")).as("u"))
    val tot = uni.agg(sum(col("u")).as("t_occ"), count(lit(1)).as("v_vocab"))
    perDoc.join(uni, Seq("token"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("k"),
        expr("CAST(round(ln((CAST(t_occ AS DOUBLE) + v_vocab) / (u + 1))" +
          " * 10000) AS BIGINT)").as("s"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"),
        sum(col("k") * col("s")).as("surprisal_e4"))
      .select(col("doc_id"), col("n_tokens"), col("surprisal_e4"),
        expr("surprisal_e4 div greatest(n_tokens, 1)")
          .as("mean_surprisal_e4"))
      .orderBy(col("doc_id"))
  }

  /** Markup-vs-prose routing signal — [[codeDetect]]'s third sibling
    * (prose / code / markup), run before extraction pipelines decide
    * whether a document needs an HTML stripper: tag-run count
    * (`<...>` spans), HTML entity count (`&name;`), and the
    * tag-per-character density, all exact integers from codegen'd
    * regexp_count; the verdict threshold is stated in the output so
    * downstream mixes can re-cut. Pure per-document projection, no
    * shuffle at any scale. */
  def markupDetect(spark: SparkSession, dir: String): DataFrame =
    markupDetectOf(Tables.documents(spark, dir))

  /** [[markupDetect]] over any (doc_id, text) table. */
  def markupDetectOf(docs: DataFrame): DataFrame = {
    val t = col("text")
    val nTags = regexp_count(t, lit("<[^>]+>")).cast("long")
    val nEnts = regexp_count(t, lit("&[a-z]+;")).cast("long")
    docs.select(col("doc_id"), nTags.as("n_tags"), nEnts.as("n_entities"),
        (length(t).cast("long")).as("n_chars"))
      .withColumn("tag_ratio_e4",
        expr("(10000 * n_tags) div greatest(n_chars, 1)"))
      .withColumn("is_markup", col("n_tags") >= 3 || col("n_entities") >= 3)
      .orderBy(col("doc_id"))
  }

  /** Flesch reading-ease readability score — the classic
    * text-difficulty quality signal (206.835 − 1.015·words/sentences
    * − 84.6·syllables/words) over cheap deterministic counters:
    * whitespace tokens, sentence marks ([.!?]+ runs, floor 1), and
    * the standard vowel-group syllable proxy ([aeiouy]+ runs —
    * groups never span whitespace, so the whole-text count equals
    * the per-word sum). All three counters are exact integers from
    * codegen'd regexp_count; the one float expression evaluates the
    * SAME tree from the same integers on both engines, e4-rounded
    * once. Pure per-document projection — no shuffle at any scale. */
  def readability(spark: SparkSession, dir: String): DataFrame =
    readabilityOf(Tables.documents(spark, dir))

  /** [[readability]] over any (doc_id, text) table. */
  def readabilityOf(docs: DataFrame): DataFrame = {
    val t = col("text")
    val w = greatest(size(TF.tokens(t)).cast("long"), lit(1L))
    val s = greatest(regexp_count(t, lit("[.!?]+")).cast("long"), lit(1L))
    val sy = regexp_count(lower(t), lit("[aeiouy]+")).cast("long")
    docs.select(col("doc_id"), w.as("n_words"), s.as("n_sentences"),
        sy.as("n_syllables"))
      .withColumn("flesch_e4",
        round((lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
          - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")))
          * 1e4).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Keywords whose PRESENCE (not frequency) votes for code — kept to
    * forms whitespace tokenization surfaces intact. Shared with the
    * oracle as literal list_contains checks. */
  val CodeKeywords: Seq[String] = Seq("def", "return", "import", "class",
    "if", "else", "for", "while", "var", "val", "function")

  /** Code-vs-prose routing signal (the corpus-composition classifier a
    * training pipeline runs before choosing tokenizers / mix weights):
    * structural-symbol density (`{}[]();=<>` per char, e4-scaled from
    * exact integer counts) plus presence votes from [[CodeKeywords]].
    * Pure per-document projection — codegen'd char-class counts and
    * array_contains flags, no HOF lambdas, pipelines with any upstream
    * source like the rest of the t_* family. The verdict threshold
    * (≥ 3% symbols OR ≥ 3 keyword kinds) is a routing heuristic, not
    * a model — stated in the output so downstream mixes can re-cut. */
  def codeDetect(spark: SparkSession, dir: String): DataFrame =
    codeDetectOf(Tables.documents(spark, dir))

  /** [[codeDetect]] over any (doc_id, text) table. */
  def codeDetectOf(docs: DataFrame): DataFrame = {
    val t = col("text")
    val nChars = length(t).cast("long")
    val nSym = length(regexp_replace(t, "[^{}\\[\\]();=<>]", "")).cast("long")
    val toks = TF.tokens(t)
    val kwHits = CodeKeywords.map(k =>
      when(array_contains(toks, k), 1L).otherwise(0L)).reduce(_ + _)
    docs
      .select(col("doc_id"), nSym.as("n_symbols"),
        round(nSym * lit(1e4) / greatest(nChars, lit(1L))).cast("long")
          .as("sym_ratio_e4"),
        kwHits.as("n_kw_kinds"))
      .withColumn("is_code",
        col("sym_ratio_e4") >= 300 || col("n_kw_kinds") >= 3)
      .orderBy(col("doc_id"))
  }

  /** Held-out language-model scoring — the quality-filter shape a
    * training pipeline runs at selection time: fit add-one-smoothed
    * bigram probabilities on the TRAIN split (p_split's hash
    * convention, so the folds are layout-stable and engine-portable),
    * then score every VAL-split document against that frozen model:
    * P(w2|w1) = (c(w1 w2)+1) / (c(w1)+V), V = train leading-unigram
    * vocabulary. Unseen bigrams and unseen histories both smooth to
    * nonzero mass, so held-out docs always score.
    *
    * Float determinism follows [[bigramLogProb]]'s e4 contract: each
    * bigram's log2-probability term is rounded to an e4 BIGINT before
    * the per-doc sum, making the cross-engine result integer-exact
    * regardless of summation order. Shape: one corpus explode
    * (checkpointed, both splits from the same scan), two map-side
    * combined count tables over the train rows, then the val rows
    * LEFT-join those (token, count) tables — nothing wider than a
    * bigram string shuffles, and the model tables are exactly the
    * train corpus' distinct bigrams/unigrams. */
  def heldoutLm(spark: SparkSession, dir: String, seed: Long = 42L): DataFrame = {
    val hh = substring(md5(concat(col("doc_id").cast("string"),
      lit(s":split:$seed"))), 1, 8)
    val occ = Tables.documents(spark, dir)
      .select(col("doc_id"), hh.as("hh"),
        explode(TF.wordShingles(col("text"), 2)).as("bigram"))
      .filter(col("bigram").contains(" "))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .localCheckpoint(true)
    val train = occ.filter(col("hh") < lit("f5c28f5c"))
    val valOcc = occ.filter(col("hh") >= lit("f5c28f5c")
      && col("hh") < lit("fae147ae"))
    val bi = train.groupBy(col("bigram")).agg(count(lit(1)).as("b"))
    val uni = train.groupBy(col("w1")).agg(count(lit(1)).as("u"))
    // One bounded scalar (the vocabulary size) crosses the driver —
    // a count, not data rows.
    val vocab = train.select(col("w1")).distinct().count()
    valOcc.join(bi, Seq("bigram"), "left")
      .join(uni, Seq("w1"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(round(log2((coalesce(col("b"), lit(0L)).cast("double") + 1.0)
          / (coalesce(col("u"), lit(0L)) + lit(vocab))) * 1e4).cast("long"))
          .as("logprob2_e4"))
      .orderBy(col("doc_id"))
  }

  /** PMI-ranked collocations — the "new york"/"et al" detector next
    * to raw frequency ([[topBigrams]] surfaces COMMON pairs; PMI
    * surfaces ASSOCIATED pairs whose words rarely appear apart):
    * pmi(w1,w2) = ln(c12·N / (c1·c2)) over the bigram-position
    * distribution (c1/c2 = occurrences as first/second word, N =
    * total bigram positions). The e4 contract of [[tfidf]]: ONE
    * double expression with identical casts both sides, rounded to
    * integer BEFORE ranking so the top-k order is deterministic
    * across engines; a min-count gate (c12 ≥ `minCount`) keeps
    * hapax pairs (PMI's known pathology) out of the ranking.
    * Shape: one corpus explode (checkpointed), three map-side
    * combined aggregations over it, two token-keyed joins of the
    * BOUNDED surviving-bigram table — the corpus is scanned once and
    * nothing wider than (token, count) shuffles. */
  def collocations(spark: SparkSession, dir: String, k: Int = 25,
      minCount: Int = 5): DataFrame =
    collocationsOf(Tables.documents(spark, dir), k, minCount)

  /** [[collocations]] over any (doc_id, text) table. */
  def collocationsOf(docs: DataFrame, k: Int = 25,
      minCount: Int = 5): DataFrame = {
    val occ = docs
      .select(explode(TF.wordShingles(col("text"), 2)).as("bigram"))
      .filter(col("bigram").contains(" "))
      .select(col("bigram"),
        substring_index(col("bigram"), " ", 1).as("w1"),
        substring_index(col("bigram"), " ", -1).as("w2"))
      .localCheckpoint(true)
    val nb = occ.count()
    val bi = occ.groupBy(col("bigram"))
      .agg(count(lit(1)).as("b"), min(col("w1")).as("w1"), min(col("w2")).as("w2"))
      .filter(col("b") >= minCount)
    val c1 = occ.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val c2 = occ.groupBy(col("w2")).agg(count(lit(1)).as("c2"))
    bi.join(c1, Seq("w1")).join(c2, Seq("w2"))
      .select(col("bigram"), col("b").as("n"),
        round(log(col("b").cast("double") * nb
          / (col("c1").cast("double") * col("c2"))) * 1e4)
          .cast("long").as("pmi_e4"))
      .orderBy(col("pmi_e4").desc, col("bigram").asc)
      .limit(k)
  }

  /** Corpus bigram frequencies (word 2-gram shingles), top-25. */
  def topBigrams(spark: SparkSession, dir: String, k: Int = 25): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TF.wordShingles(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(k)

  /** Stopword list for quality scoring (lower-cased comparison). */
  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "but", "of", "to", "in", "on", "at",
    "for", "with", "by", "from", "as", "is", "are", "was", "were", "be",
    "it", "this", "that", "not")

  /** Stopword counters per doc: total stopword occurrences and the
    * e4-scaled stopword ratio — the quality signal next to
    * length/punct counters. Counting stays codegen'd: per stopword w,
    * occurrences = size(toks) − size(array_remove(toks, w)) — native
    * array scans, no interpreted per-element lambda (the HOF trap in
    * CLAUDE.md). */
  def stopwordStats(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TF.tokens(lower(col("text"))).as("toks"),
        size(TF.tokens(col("text"))).cast("long").as("n_tokens"))
    val nStop = EnglishStopwords
      .map(w => size(col("toks")) - size(array_remove(col("toks"), w)))
      .reduce(_ + _)
      .cast("long")
    base
      .select(col("doc_id"), col("n_tokens"), nStop.as("n_stopwords"))
      .select(col("doc_id"), col("n_tokens"), col("n_stopwords"),
        round(col("n_stopwords") * 10000.0 / col("n_tokens")).cast("long")
          .as("stop_ratio_e4"))
      .orderBy(col("doc_id"))
  }

  /** PII-ish patterns, restricted to constructs Java regex and RE2
    * read identically (no lookaround — RE2 has none). */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPattern: String = "https?://[^ \\t\\n]+"
  val PhonePattern: String = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"

  /** PII scan + redaction — the compliance pass of a training-data
    * pipeline. Per doc: match counts for email/URL/phone-like
    * patterns and the md5 of the fully redacted text (so the oracle
    * verifies the replacement itself, not just the counts). One
    * narrow projection, codegen'd regex, no shuffle. */
  def piiScan(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(t, EmailPattern, "<EMAIL>"),
        UrlPattern, "<URL>"),
      PhonePattern, "<PHONE>")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_count(t, lit(EmailPattern)).cast("long").as("n_emails"),
        regexp_count(t, lit(UrlPattern)).cast("long").as("n_urls"),
        regexp_count(t, lit(PhonePattern)).cast("long").as("n_phones"),
        md5(redacted).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** Order-sensitive 64-bit rolling-hash fingerprint (custom Catalyst
    * expression). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        CatalystText.rolling_hash64(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))

  /** BPE tokenizer training — the merge-learning phase of byte-pair
    * encoding (Sennrich et al. 2016), the step that turns a raw
    * corpus into the subword vocabulary an LLM trains over. State is
    * the VOCABULARY (distinct lower-cased whitespace words with
    * corpus frequencies, each a symbol sequence ending in the </w>
    * word boundary) — corpus-sized input, vocab-sized everything
    * after, which is what makes BPE training feasible at 100 TB: the
    * corpus is scanned once for word counts and never again. Each
    * round: adjacent symbol pairs explode (vocab·avg_len rows),
    * frequencies sum map-side, the argmax pair under the total
    * (freq DESC, left, right) order is ONE driver-side row (the
    * landmark-read class), and every word rewrites its sequence by a
    * leftmost-greedy non-overlapping fold (aggregate HOF — vocab-
    * sized, not a corpus hot path). localCheckpoint per round keeps
    * the 10-round loop's lineage flat. Ties are deterministic by the
    * (freq DESC, left ASC, right ASC) tiebreak; output is the merge
    * table itself (rank, left, right, merged, pair_freq) — the
    * artifact a tokenizer ships. Rows-only + spec (the Sennrich
    * hand-computed corpus, overlap greediness, tie order). */
  def bpeMerges(spark: SparkSession, dir: String, rounds: Int = 10): DataFrame =
    bpeMergesOf(spark, Tables.documents(spark, dir), rounds)

  def bpeMergesOf(spark: SparkSession, docs: DataFrame, rounds: Int): DataFrame = {
    import spark.implicits._
    val (merges, _) = bpeCore(spark, docs, rounds)
    // `lhs`/`rhs`, not left/right: the merge pair's natural names
    // are SQL reserved words, and the oracle harness's wrapped
    // column list (`SELECT lhs, rhs FROM (...)`) must stay
    // quoting-free on both engines (round-17 conversion).
    merges.toDF("rank", "lhs", "rhs", "merged", "pair_freq")
      .orderBy(col("rank"))
  }

  /** The encoded-corpus token frequency table — the artifact the
    * learned merges exist FOR: every word's final symbol sequence
    * under the merge table, exploded and frequency-weighted. This is
    * the subword vocabulary + counts an embedding matrix initializes
    * from. Top-30 under the unique (freq DESC, symbol) order; all
    * work is vocab-sized (the corpus was scanned once, in
    * [[bpeCore]]). */
  def bpeVocab(spark: SparkSession, dir: String, rounds: Int = 10,
      topN: Int = 30): DataFrame =
    bpeVocabOf(spark, Tables.documents(spark, dir), rounds, topN)

  def bpeVocabOf(spark: SparkSession, docs: DataFrame, rounds: Int,
      topN: Int = 30): DataFrame = {
    val (_, state) = bpeCore(spark, docs, rounds)
    state
      .select(col("freq"), explode(col("syms")).as("symbol"))
      .groupBy(col("symbol")).agg(sum(col("freq")).as("freq"))
      .orderBy(col("freq").desc, col("symbol"))
      .limit(topN)
  }

  // Memoized BPE run per (session, docs plan, input files, rounds):
  // the merge table (t_bpe_merges) and the encoded vocabulary
  // (t_bpe_vocab) share ONE 10-round training loop (contract:
  // graft.Memo).
  private val bpeMemo = graft.Memo[(Int, String, Int),
    (Seq[(Long, String, String, String, Long)], DataFrame)](4)

  private def bpeCore(spark: SparkSession, docs: DataFrame, rounds: Int)
      : (Seq[(Long, String, String, String, Long)], DataFrame) =
    bpeMemo(spark, (docs.queryExecution.analyzed.semanticHash(),
        graft.Memo.dataKey(docs), rounds))(bpeCoreUncached(spark, docs, rounds))

  private def bpeCoreUncached(spark: SparkSession, docs: DataFrame, rounds: Int)
      : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    val vocab = docs
      .select(explode(TF.tokens(lower(col("text")))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        concat(split(col("w"), ""), array(lit("</w>"))).as("syms"))
    var state = vocab.localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val pairs = state
        .select(col("freq"), explode(transform(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          (s, i) => struct(s.as("left"),
            element_at(col("syms"), i.cast("int") + 2).as("right"))))
          .as("p"))
        .groupBy(col("p.left").as("left"), col("p.right").as("right"))
        .agg(sum(col("freq")).as("pair_freq"))
      val top = pairs
        .orderBy(col("pair_freq").desc, col("left"), col("right"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, f) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r.toLong, a, b, a + b, f))
        val next = state
          .select(col("freq"), bpeMergeFold(col("syms"), a, b).as("syms"))
          .localCheckpoint(true)
        state.unpersist(false)
        state = next
        r += 1
      }
    }
    (merges.toSeq, state)
  }

  /** Leftmost-greedy non-overlapping pair merge over a symbol array:
    * fold over positions with (out, skip) state — after emitting a
    * merged pair the next position is consumed. `sequence(1, n)` is
    * safe from the descending-sequence quirk: syms always carries at
    * least (char, </w>). */
  private def bpeMergeFold(syms: org.apache.spark.sql.Column, a: String, b: String) = {
    val zero = struct(lit(Array.empty[String]).as("out"), lit(false).as("skip"))
    aggregate(
      sequence(lit(1), size(syms)), zero,
      (acc, i) => {
        val cur = element_at(syms, i.cast("int"))
        val nxt = element_at(syms, i.cast("int") + 1)
        val isPair = i < size(syms) && cur === lit(a) && nxt === lit(b)
        when(acc.getField("skip"),
          struct(acc.getField("out").as("out"), lit(false).as("skip")))
          .when(isPair,
            struct(concat(acc.getField("out"), array(lit(a + b))).as("out"),
              lit(true).as("skip")))
          .otherwise(
            struct(concat(acc.getField("out"), array(cur)).as("out"),
              lit(false).as("skip")))
      },
      acc => acc.getField("out"))
  }

  /** Corpus-order n-gram novelty curve — for each document (in
    * doc_id ingest order), the fraction of its distinct word 8-grams
    * the corpus has NOT seen in any earlier document. The curation
    * readout behind "is this source still adding information or just
    * repeating the crawl": novelty decays as a corpus saturates, and
    * per-source novelty ranks feeds mix weights. Rides the memoized
    * corpus (doc_id, md5(8-gram)) table (one scan serves
    * containment / decontamination / cross-doc df / this); first-seen
    * owner = min(doc_id) per hash (deterministic), one fixed-width
    * hash-keyed shuffle, counts collapse map-side. */
  def novelty(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    val ng = Dedup.ngramHashes(spark, dir, n)
    val first = ng.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    ng.join(first, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_ngrams"), col("n_novel"),
        expr("n_novel * 10000 div n_ngrams").as("novelty_e4"))
      .orderBy(col("doc_id"))
  }

  /** Per-source lexical-richness profile: vocabulary size, hapax
    * legomena (tokens seen exactly once in the source), hapax share
    * of the vocabulary and the type-token ratio — the corpus-health
    * readout behind "is this source natural text or boilerplate"
    * (natural language sits near 50% hapax; templated text
    * collapses). One explode + two map-side-combinable aggregations;
    * all-integer e6 ratios. */
  def hapaxStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        explode(TF.tokens(lower(col("text")))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(col("n")).as("n_tokens"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("vocab"), col("n_tokens"), col("n_hapax"),
        expr("n_hapax * 1000000 div vocab").as("hapax_e6"),
        expr("vocab * 1000000 div n_tokens").as("ttr_e6"))
      .orderBy(col("source"))

  /** Zipf rank-frequency table: the corpus's top-`k` tokens with
    * their global rank and the rank·frequency product (≈constant
    * under Zipf's law — the sanity plot of every corpus paper). The
    * top-k is a distributed TakeOrdered over map-side-combined token
    * counts (never a global window over the vocabulary); the rank
    * window runs over the ≤k survivors only. */
  def zipf(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val top = Tables.documents(spark, dir)
      .select(explode(TF.tokens(lower(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(k)
    val w = Window.orderBy(col("n").desc, col("token"))
    top.withColumn("rk", row_number().over(w).cast("long"))
      .select(col("rk"), col("token"), col("n"),
        (col("rk") * col("n")).as("rk_x_n"))
      .orderBy(col("rk"))
  }

  /** Sentence-terminator runs — the regex both Java and RE2 read
    * identically (no lookaround). */
  val SentencePattern: String = "[.!?]+"

  /** Per-doc sentence segmentation stats: terminator-run count,
    * tokens, and exact e2 words/chars-per-sentence — the
    * readability-adjacent signal quality filters threshold on
    * (run-on text and fragment soup both stand out). One codegen'd
    * regex projection, no shuffle; zero-sentence docs guarded. */
  def sentenceStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(SentencePattern)).cast("long")
          .as("n_sentences"),
        size(TF.tokens(col("text"))).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .select(col("doc_id"), col("n_sentences"), col("n_tokens"),
        expr("n_tokens * 100 div greatest(n_sentences, 1)").as("wps_e2"),
        expr("n_chars * 100 div greatest(n_sentences, 1)").as("cps_e2"))
      .orderBy(col("doc_id"))

  /** Per-language charset profile: docs, chars, and the share of
    * characters outside printable ASCII — the encoding-health audit
    * (mojibake and wrong-charset crawls spike non-ASCII inside
    * nominally-ASCII languages). The ASCII class spells its
    * whitespace members out CHARACTER BY CHARACTER instead of using
    * \s: Java's \s includes \x0B (vertical tab) while RE2's does not,
    * so `[^\x20-\x7E\s]` silently diverges between Spark and the
    * DuckDB oracle on any document containing U+000B. The explicit
    * class [\x20-\x7E\t\n\x0B\f\r] is read identically by both
    * engines; TextHeuristicsSpec plants a \x0B fixture pinning that
    * it counts as ASCII whitespace. */
  def charsetProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), length(col("text")).cast("long").as("nc"),
        (length(col("text")) -
          length(regexp_replace(col("text"),
            "[^\\x20-\\x7E\\t\\n\\x0B\\f\\r]", "")))
          .cast("long").as("na"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_chars"),
        sum(col("na")).as("n_nonascii"))
      .select(col("lang"), col("n_docs"), col("n_chars"), col("n_nonascii"),
        expr("n_nonascii * 1000000 div greatest(n_chars, 1)")
          .as("nonascii_e6"))
      .orderBy(col("lang"))

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases
    * are maximal stopword-free token runs (capped at 4 words), each
    * word scores deg/freq — deg sums the lengths of the phrases it
    * appears in, freq counts appearances — and a phrase scores the
    * sum of its words' scores. Word scores are e4-floored integers
    * (the per-term rounding rule), so the whole pipeline is exact.
    * The run segmentation is a per-doc cumsum-of-stopwords island
    * id (the gaps-and-islands shape, doc-partitioned — no global
    * window); word stats collapse map-side; the final top-k is a
    * distributed TakeOrdered. */
  def rake(spark: SparkSession, dir: String, k: Int = 25,
      maxLen: Int = 4): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(TF.tokens(lower(col("text")))).as(Seq("pos", "tok")))
      .withColumn("stp",
        when(col("tok").isInCollection(EnglishStopwords), 1L).otherwise(0L))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val phrases = toks
      .withColumn("isl", sum(col("stp")).over(w))
      .filter(col("stp") === 0)
      .groupBy(col("doc_id"), col("isl"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("phrase"),
        count(lit(1)).as("plen"))
      .filter(col("plen") <= maxLen)
      .localCheckpoint(true)
    val wstats = phrases
      .select(explode(split(col("phrase"), " ")).as("w"), col("plen"))
      .groupBy(col("w"))
      .agg(expr("sum(plen) * 10000 div count(1)").as("wscore_e4"))
    phrases.groupBy(col("phrase")).agg(count(lit(1)).as("n_occ"))
      .select(col("phrase"), col("n_occ"),
        explode(split(col("phrase"), " ")).as("w"))
      .join(wstats, Seq("w"))
      .groupBy(col("phrase"), col("n_occ"))
      .agg(sum(col("wscore_e4")).as("score_e4"))
      .orderBy(col("score_e4").desc, col("phrase"))
      .limit(k)
  }

  /** Count-min-sketch accuracy audit over the token stream (round
    * 13; Cormack & Muthukrishnan 2005) — the heavy-hitter sketch a
    * streaming token counter actually deploys, audited against exact
    * counts: a d=4 × w=16 CMS over all token occurrences (cell =
    * Σ counts of tokens hashing there; estimate = min over the 4
    * rows; the one-sided guarantee estimate ≥ truth is the audited
    * invariant), read out for the top-20 true tokens as
    * (token, true count, CMS estimate, overestimate). Bucket hash =
    * first 8 hex chars of md5('cms' ++ seed ++ token) mod w — a
    * standard string hash both engines state identically, so the
    * audit is integer-exact under a full oracle (no RNG, no
    * engine-private hashing). Shape: token counts are one map-side-
    * combinable aggregation; the 4·w-cell sketch is 256 rows
    * (driver-broadcastable at any corpus size — the point of CMS);
    * the top-20 readout joins against it. */
  def cmsTopK(spark: SparkSession, dir: String, d: Int = 4, w: Int = 16,
      k: Int = 20): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    def bucket = expr(s"CAST(conv(substr(md5(concat('cms', " +
      s"CAST(seed AS STRING), token)), 1, 8), 16, 10) AS BIGINT) % $w")
    val cells = counts
      .select(col("token"), col("c"),
        explode(array((0 until d).map(lit): _*)).as("seed"))
      .withColumn("bucket", bucket)
      .groupBy(col("seed"), col("bucket"))
      .agg(sum(col("c")).as("cell"))
    val top = counts
      .orderBy(col("c").desc, col("token").asc)
      .limit(k)
      .select(col("token"), col("c"),
        explode(array((0 until d).map(lit): _*)).as("seed"))
      .withColumn("bucket", bucket)
    top.join(broadcast(cells), Seq("seed", "bucket"))
      .groupBy(col("token"))
      .agg(max(col("c")).as("true_count"), min(col("cell")).as("cms_est"))
      .select(col("token"), col("true_count"), col("cms_est"),
        (col("cms_est") - col("true_count")).as("overestimate"))
      .orderBy(col("true_count").desc, col("token").asc)
  }

  /** Token-distribution drift between two corpus snapshots (round
    * 13) — the Population Stability Index the data-quality monitor
    * runs between crawl generations before retraining ("did the
    * vocabulary shift"). Snapshots here are the deterministic doc_id
    * parity halves (the stand-in for generation N vs N+1); the
    * distributions compare over the top-`v` tokens by combined count
    * (bounded output, unique (count DESC, token) selection), with
    * add-one smoothing so a token absent from one half contributes a
    * finite term. PSI term = (p−q)·ln(p/q), always ≥ 0; each term is
    * e6-rounded from an expression tree stated identically in the
    * oracle (integer numerators/denominators are exact, so only the
    * division/ln tree must match). Shape: one map-side-combinable
    * token count, one bounded top-v, per-term math on v rows; the
    * two totals are a 1-row driver read. */
  def tokenDrift(spark: SparkSession, dir: String, v: Int = 50): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(pmod(col("doc_id"), lit(2L)).as("par"),
        explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(sum(when(col("par") === 0L, 1L).otherwise(0L)).as("c_ref"),
        sum(when(col("par") === 1L, 1L).otherwise(0L)).as("c_cur"))
    val top = counts
      .orderBy((col("c_ref") + col("c_cur")).desc, col("token").asc)
      .limit(v)
      .localCheckpoint(true)
    val tots = top.agg(sum(col("c_ref")), sum(col("c_cur"))).collect().head
    val (denR, denC) = (tots.getLong(0) + v, tots.getLong(1) + v)
    top.select(col("token"), col("c_ref"), col("c_cur"),
      expr(s"CAST(round((CAST(c_ref + 1 AS DOUBLE) / $denR" +
        s" - CAST(c_cur + 1 AS DOUBLE) / $denC)" +
        s" * ln((CAST(c_ref + 1 AS DOUBLE) / $denR)" +
        s" / (CAST(c_cur + 1 AS DOUBLE) / $denC))" +
        " * 1000000) AS BIGINT)").as("psi_e6"))
      .orderBy(col("psi_e6").desc, col("token").asc)
  }

  /** Per-token burstiness for the top-25 corpus tokens — the
    * variance-to-mean ratio of per-document counts over ALL
    * documents (absent docs contribute zero, so only (token, doc)
    * count rows ever exist; the zeros are algebra, not rows):
    * VMR = E[x²]/E[x] − E[x] = ss/tot − tot/N. Poisson scatter sits
    * at 1e6; content words burst far above it while function words
    * sit near it — the signal separating topical from structural
    * vocabulary (Church & Gale 1995). Sufficient statistics are
    * exact integers (Σc, Σc² per token, one corpus doc count); the
    * VMR is the one double tree e6-rounded per row. One map-side
    * (token, doc) fold + a bounded top-25. */
  def tokenBurstiness(spark: SparkSession, dir: String,
      k: Int = 25): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count()
    docs
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("c"))
      .groupBy(col("token"))
      .agg(sum(col("c")).as("tot"), count(lit(1)).as("df"),
        sum(col("c") * col("c")).as("ss"))
      .orderBy(col("tot").desc, col("token").asc)
      .limit(k)
      .select(col("token"), col("tot"), col("df"), col("ss"),
        expr(s"CAST(round((CAST(ss AS DOUBLE) / tot" +
          s" - CAST(tot AS DOUBLE) / ${nDocs}L) * 1000000) AS BIGINT)")
          .as("vmr_e6"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004) — keywords
    * as the high-centrality vertices of the word co-occurrence
    * graph, the graph-analytics sibling of [[rake]]'s phrase
    * heuristic. Vocabulary bounded to the top-`v` corpus tokens
    * (unique (count DESC, token) selection) so the graph is
    * dimension-sized regardless of corpus size; edges = ADJACENT
    * token pairs within a document (window 2), canonical
    * (least, greatest) with corpus-wide counts as weights; the walk
    * is [[graft.graph.GraphOps.pageRankInteger]]'s bit-reproducible
    * integer PageRank — associative-commutative-exact, so the whole
    * fixpoint is partitioning-independent and the oracle unrolls the
    * SAME integer rounds in SQL (the g_pagerank_det contract).
    * Shape: one narrow pair explode (slice+zip, codegen'd — no HOF
    * lambda), two broadcast vocab semi-joins, then rounds over a
    * ≤v-vertex graph. */
  def textRank(spark: SparkSession, dir: String, v: Int = 100,
      topN: Int = 25): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(TF.tokens(col("text")).as("t"))
      .localCheckpoint(true)
    val vocab = toks.select(explode(col("t")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("token").asc).limit(v)
      .select(col("token"))
      .localCheckpoint(true)
    val pairs = toks
      .select(slice(col("t"), lit(1), size(col("t")) - 1).as("xa"),
        slice(col("t"), lit(2), size(col("t")) - 1).as("xb"))
      .select(explode(arrays_zip(col("xa"), col("xb"))).as("p"))
      .select(col("p.xa").as("a"), col("p.xb").as("b"))
      .filter(col("a") =!= col("b"))
      .join(broadcast(vocab.select(col("token").as("a"))), Seq("a"),
        "left_semi")
      .join(broadcast(vocab.select(col("token").as("b"))), Seq("b"),
        "left_semi")
    val edges = pairs
      .select(least(col("a"), col("b")).as("src"),
        greatest(col("a"), col("b")).as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("weight"))
    graft.graph.GraphOps.pageRankInteger(spark, edges)
      .select(col("vertex").as("token"), col("rank_e6"))
      .orderBy(col("rank_e6").desc, col("token").asc)
      .limit(topN)
  }

  /** Pairwise Jensen–Shannon divergence between per-source token
    * distributions — the symmetric, bounded (≤ ln 2) cross-source
    * divergence matrix beside [[tokenDrift]]'s two-cohort PSI: which
    * sources speak the same language, read before mixing weights are
    * chosen. Distributions compare over the top-`v` tokens by
    * corpus count (unique (count DESC, token) selection — bounded,
    * never data-dependent in width) with add-one smoothing over that
    * vocab, so absent tokens contribute finite terms. Each token's
    * JSD term ½(p·ln(p/m) + q·ln(q/m)), m = (p+q)/2, is e6-rounded
    * from one expression tree stated identically in the oracle
    * (integer counts are exact — only the division/ln tree must
    * match), then the per-pair sum is an exact integer fold. Shape:
    * one map-side-combinable (token, source) count, one bounded
    * top-v, a v×|sources| zero-completed grid, and the pair join is
    * sources²/2 × v rows — the source DIMENSION squared, never the
    * corpus. */
  def jsdMatrix(spark: SparkSession, dir: String, v: Int = 50): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(TF.tokens(col("text"))).as("token"))
      .groupBy(col("token"), col("source")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val top = counts.groupBy(col("token")).agg(sum(col("c")).as("ct"))
      .orderBy(col("ct").desc, col("token").asc).limit(v)
      .select(col("token"))
    val srcs = counts.select(col("source")).distinct()
    val grid = top.crossJoin(srcs)
      .join(counts, Seq("token", "source"), "left")
      .select(col("token"), col("source"), coalesce(col("c"), lit(0L)).as("c"))
      .localCheckpoint(true)
    val tots = grid.groupBy(col("source")).agg(sum(col("c")).as("nt"))
    val a = grid.toDF("token", "src_a", "ca")
      .join(broadcast(tots.toDF("src_a", "na")), Seq("src_a"))
    val b = grid.toDF("token", "src_b", "cb")
      .join(broadcast(tots.toDF("src_b", "nb")), Seq("src_b"))
    a.join(b, Seq("token"))
      .filter(col("src_a") < col("src_b"))
      .withColumn("term_e6", expr(
        s"""CAST(round((
           |  CAST(ca + 1 AS DOUBLE) / (na + $v) * ln(
           |    (CAST(ca + 1 AS DOUBLE) / (na + $v)) /
           |    ((CAST(ca + 1 AS DOUBLE) / (na + $v)
           |      + CAST(cb + 1 AS DOUBLE) / (nb + $v)) / 2)) +
           |  CAST(cb + 1 AS DOUBLE) / (nb + $v) * ln(
           |    (CAST(cb + 1 AS DOUBLE) / (nb + $v)) /
           |    ((CAST(ca + 1 AS DOUBLE) / (na + $v)
           |      + CAST(cb + 1 AS DOUBLE) / (nb + $v)) / 2))
           |) / 2 * 1000000) AS BIGINT)""".stripMargin))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_terms"), sum(col("term_e6")).as("jsd_e6"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Yule's K + Simpson's D per source (round 16) — the frequency-
    * SPECTRUM richness statistics that [[hapaxStats]]' vocab/TTR
    * readout can't see (TTR is length-sensitive; K and D are
    * length-invariant, which is why corpus papers report them).
    * K·10² = 10⁶·(Σm² − N)/N² and D·10⁹ = 10⁹·Σm(m−1)/(N(N−1)) fall
    * straight out of the same map-side-combined (source, token)
    * counts as hapax — one extra Σm² ledger, no new shuffle shape.
    * Σm² and N² ride DECIMAL(38,0) (N² passes BIGINT near N≈3e9 —
    * the qGini promotion rule); both emitted ratios are bounded
    * truncating divs stated identically in the oracle. A
    * single-token source (N=1) zeroes Simpson's N(N−1) denominator:
    * CASE-guarded to NULL on BOTH engine sides — Spark `div` yields
    * NULL silently but DuckDB `//` hard-errors, crashing the verify
    * run instead of mismatching (round-16 ADVICE). */
  def yuleK(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"),
        explode(TF.tokens(lower(col("text")))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        sum(col("n")).as("nt"),
        sum(col("n") * col("n")).as("s2"))
      .select(col("source"), col("vocab"),
        col("nt").cast("long").as("n_tokens"),
        expr("CAST((1000000 * (s2 - nt)) div (nt * nt) AS BIGINT)")
          .as("yule_k_e2"),
        expr("""CAST(CASE WHEN nt * (nt - 1) = 0 THEN NULL
          ELSE (1000000000 * (s2 - nt)) div (nt * (nt - 1)) END AS BIGINT)""")
          .as("simpson_e9"))
      .orderBy(col("source"))
}
