package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** N4 — text-analysis operators over the `documents` table, plus the
  * shared tokenization/hashing primitives the dedup family builds on.
  *
  * Cross-engine hash discipline: every hash that feeds a DuckDB oracle
  * is plain integer arithmetic (polynomial char fold, affine maps mod a
  * Mersenne prime) expressible identically in Spark and SQL — never an
  * engine-built-in hash. xxhash64 is used only where the oracle doesn't
  * recompute it (MinHash candidate pruning, whose oracle is the exact
  * jaccard).
  */
object TextOps {

  val P: Long = 2147483647L           // 2^31 - 1
  val HalfP: Long = P / 2
  val FpMod: Long = 1000000007L

  /** Deterministic affine-map constants (a, c); seed fixed so the same
    * values are interpolated into the oracle SQL.
    */
  def affineConstants(seed: Long, n: Int): IndexedSeq[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    IndexedSeq.fill(n)((1L + rng.nextInt((P - 1).toInt).toLong,
      rng.nextInt(P.toInt).toLong))
  }

  /** 64 bit-hash constants for SimHash. */
  val simhashAC: IndexedSeq[(Long, Long)] = affineConstants(43L, 64)

  /** Whitespace tokens of a text column. */
  def tokens(text: Column): Column = split(text, " ")

  /** Polynomial rolling hash of a string column:
    * fold(chars)(acc*31 + ascii) mod 1e9+7. Exactly expressible in
    * DuckDB via list_reduce, so fingerprint queries oracle bit-exactly.
    * Runs as the PolyHash31 codegen kernel (one loop per row).
    */
  def polyHash(s: Column): Column =
    graft.functions.GraftFunctions.polyHash(s, FpMod)

  /** Distinct k-word shingles (default 3) of a text column — the unit
    * set for document-level jaccard (SURVEY §2 N2).
    */
  def wordShingles(text: Column, k: Int = 3): Column = {
    val w = tokens(text)
    when(size(w) >= k,
      array_distinct(transform(
        sequence(lit(1), size(w) - (k - 1)),
        i => concat_ws(" ",
          (0 until k).map(j => element_at(w, i + j)): _*))))
      .otherwise(array().cast(ArrayType(StringType)))
  }

  /** Distinct character n-grams (default 5). */
  def charGrams(text: Column, n: Int = 5): Column =
    when(length(text) >= n,
      array_distinct(transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))
      .otherwise(array().cast(ArrayType(StringType)))

  /** SimHash signature as two unsigned 32-bit halves (lo = bits 0..31).
    * Per token: h = polyHash(tok); bit b votes +1 iff
    * (a_b*h + c_b) mod P >= P/2. A doc's bit is 1 iff its vote sum > 0.
    * Two halves (not one int64) because the oracle engine uses checked
    * 64-bit arithmetic — bit 63 would overflow there.
    *
    * Runs as the fused SimHash64 codegen kernel: one narrow projection
    * per document, no explode, no shuffle at all — the signature step
    * of a 100 TB dedup is a pure map.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      graft.functions.GraftFunctions.simhash64(col(textCol)).as("sh2"))
      .select(col(idCol),
        element_at(col("sh2"), 1).as("sim_lo"),
        element_at(col("sh2"), 2).as("sim_hi"))

  /** Language-ID heuristic: marker-stopword voting with a fixed
    * precedence for ties (en > es > de > fr > unknown).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "los", "de", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "des", "et", "est"))

  def langId(text: Column): Column =
    graft.functions.GraftFunctions.langIdVote(lower(text), langMarkers)

  /** Within-document language-mix flag — the code-switching filter a
    * corpus pipeline runs AFTER document-level langid: a doc whose
    * two word-halves vote for DIFFERENT languages is either genuinely
    * mixed (wrong for monolingual training slices) or a
    * concatenation artifact (two docs glued by a bad extractor);
    * both are exactly what a per-doc vote hides by averaging over
    * the halves. Split is by word index (tokens carry no spaces, so
    * rejoining halves with ' ' reproduces the half-texts exactly —
    * replayed in SQL via list_slice + array_to_string); each half
    * runs the same fused LangIdVote kernel as [[langId]].
    */
  def langMix(docs: DataFrame, idCol: String,
              textCol: String): DataFrame = {
    docs.select(col(idCol), split(col(textCol), " ").as("w"))
      .where(size(col("w")) >= 2)
      .select(col(idCol),
        expr("array_join(slice(w, 1, size(w) div 2), ' ')").as("ta"),
        expr("array_join(slice(w, size(w) div 2 + 1, " +
          "size(w) - size(w) div 2), ' ')").as("tb"))
      .select(col(idCol), langId(col("ta")).as("lang_a"),
        langId(col("tb")).as("lang_b"))
      .withColumn("mixed", col("lang_a") =!= col("lang_b"))
  }

  /** Deterministic integer weight table for the hashed-linear quality
    * classifier (fastText/VW inference shape): weights in [-8, 8],
    * seeded so the exact values are interpolated into the oracle SQL.
    * A trained model would ship its own table; the shape — hash each
    * token into a fixed-width table, sum the hit weights — is the
    * production one.
    */
  val classifierDim: Int = 64
  val classifierWeights: Array[Long] = {
    val rng = new scala.util.Random(7L)
    Array.fill(classifierDim)(rng.nextInt(17).toLong - 8L)
  }

  /** Model-based quality filtering (N4 extension): per-document hashed
    * bag-of-words linear score, pure int64 map (codegen kernel
    * HashedLinearScore — no shuffle, the 100 TB classifier pass), with
    * `kept = score > 0` as the filter verdict.
    */
  def classifyScore(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(col(idCol),
      graft.functions.GraftFunctions.linearScore(
        col(textCol), classifierWeights).as("score"))
      .withColumn("kept", col("score") > 0L)

  /** Quality scoring: token stats + alpha ratio + stopword ratio and a
    * blended score — all integer-derived doubles (deterministic).
    * `extra` columns (e.g. a langId derivation) ride along in the SAME
    * projection, so composite annotators stay one scan + one map
    * instead of self-joining the table per derived column.
    */
  /** The quality stopword list (distinct from the langid markers). */
  val qualityStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is")

  def quality(docs: DataFrame, idCol: String, textCol: String,
              extra: Seq[Column] = Nil): DataFrame = {
    // all five integer counters come from ONE fused loop per row
    // (TokenQualityStats kernel) instead of an interpreted stopword
    // filter + a regex pass + an array_distinct materialization; the
    // repeated `st` references collapse to a single evaluation via
    // whole-stage-codegen subexpression elimination
    val st = graft.functions.GraftFunctions.qualityStats(
      col(textCol), qualityStopwords)
    val nChars = element_at(st, 1)
    val nTok = element_at(st, 2)
    val nStop = element_at(st, 4)
    val alphaChars = element_at(st, 5)
    docs.select(
      col(idCol) +:
      nChars.as("n_chars") +:
      nTok.as("n_tokens") +:
      element_at(st, 3).as("n_distinct_tokens") +:
      (nChars.cast(DoubleType) / nTok.cast(DoubleType)).as("avg_token_len") +:
      (alphaChars.cast(DoubleType) / nChars.cast(DoubleType)).as("alpha_ratio") +:
      (nStop.cast(DoubleType) / nTok.cast(DoubleType)).as("stopword_ratio") +:
      extra: _*)
      .withColumn("quality_score",
        col("alpha_ratio") * lit(0.5) + col("stopword_ratio") * lit(0.5))
  }

  /** Gopher-style hard rule gate (Rae et al. 2021 §A1.1, public — the
    * rule family every pretraining pipeline runs BEFORE model-based
    * scoring). Every verdict is an EXACT INTEGER inequality
    * (cross-multiplied, no ratio doubles), so the keep decision is
    * bit-identical cross-engine and replay-stable:
    *  - wc_ok:    minWords ≤ n_tokens ≤ maxWords (paper: 50..100,000;
    *              those are the defaults here)
    *  - mwl_ok:   mean word length ∈ [3, 10] —
    *              3·n ≤ word_chars ≤ 10·n with word_chars =
    *              n_chars − (n − 1) (single-space-joined contract)
    *  - dup_ok:   distinct-token fraction ≥ 1/2: 2·n_distinct ≥ n
    *              (REPO ADDITION, not a Rae et al. rule — the paper's
    *              repetition gates live in
    *              [[graft.ops.CorpusOps.gopherRepetition]])
    *  - sw_ok:    ≥ 2 quality-stopword hits (paper: "contains at
    *              least two of a stop-word list"; the list here is
    *              the repo's 7-word qualityStopwords, not the paper's)
    *  - alpha_ok: ≥ 80% of WORDS contain at least one alphabetic
    *              character (the paper's rule, per-word not per-char):
    *              5·n_alpha_words ≥ 4·n_tokens
    * keep = all five. DOCUMENTED DEVIATIONS from the paper: the
    * symbol-to-word-ratio (#/ellipsis), bullet-line and
    * ellipsis-ending-line rules are omitted (the corpus contract here
    * is single-line, single-space-joined text), dup_ok is an extra
    * repo rule, and "alphabetic character" is ASCII [a-zA-Z] only —
    * matching the oracle's [a-zA-Z] regex exactly, but a
    * non-Latin-script corpus fails alpha_ok wholesale; swap the
    * kernel's test to Character.isLetter AND the oracle regex to a
    * Unicode class together if one is ever pointed at such a corpus. One fused TokenQualityStats kernel per row —
    * the same single-scan shape as [[quality]]; at 100 TB this is a
    * pure codegen map, no shuffle.
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  minWords: Long = 50L, maxWords: Long = 100000L)
      : DataFrame = {
    val st = graft.functions.GraftFunctions.qualityStats(
      col(textCol), qualityStopwords)
    val nChars = element_at(st, 1)
    val nTok = element_at(st, 2)
    val nDist = element_at(st, 3)
    val nStop = element_at(st, 4)
    val nAlphaWords = element_at(st, 6)
    val wordChars = nChars - (nTok - lit(1L))
    docs.select(col(idCol), nTok.as("n_tokens"),
        (nTok >= minWords && nTok <= maxWords).as("wc_ok"),
        (lit(3L) * nTok <= wordChars &&
          wordChars <= lit(10L) * nTok).as("mwl_ok"),
        (lit(2L) * nDist >= nTok).as("dup_ok"),
        (nStop >= 2L).as("sw_ok"),
        (lit(5L) * nAlphaWords >= lit(4L) * nTok).as("alpha_ok"))
      .withColumn("keep", col("wc_ok") && col("mwl_ok") &&
        col("dup_ok") && col("sw_ok") && col("alpha_ok"))
  }

  /** Term statistics (the integer core of tf-idf; idf left as ints so
    * the oracle avoids cross-libm log()): document frequency and total
    * term frequency per term.
    */
  def termStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    tok.groupBy(col("term"))
      .agg(countDistinct(col(idCol)).as("df"), count(lit(1)).as("tf"))
  }

  /** Collocation mining: top-k adjacent bigrams by PMI — the phrase
    * detector (word2vec's phrase pass / NLTK collocations) that turns
    * "new york" into a unit before tokenizer training. PMI is ranked
    * through ONE correctly-rounded division of exact integer counts,
    * pmi_ratio = (c_ab·N) / (c_a·c_b) as doubles — bit-identical in
    * any engine, no logs (log is monotone, so log-PMI ranks the same).
    * `minCount` kills the hapax noise PMI is notorious for. Shape:
    * one explode for bigrams + one for unigrams, two hash aggregates,
    * broadcast joins of the (vocabulary-sized) count frames, bounded
    * top-k — no sort of the corpus.
    */
  def collocations(docs: DataFrame, textCol: String, k: Int = 50,
                   minCount: Long = 5L): DataFrame = {
    val toks = docs.select(tokens(col(textCol)).as("t"))
    val big = toks
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> struct(element_at(t, i + 1) AS w1, " +
          "element_at(t, i + 2) AS w2))")).as("b"))
      .select(col("b.w1"), col("b.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    val uni = toks
      .select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c_w"))
    // one-row total joined through a single-bucket BroadcastHashJoin
    // (the Similarity.bruteForceTopK pattern): the key must be a
    // non-foldable expression of a real column — a lit(1) pair
    // constant-folds to `true` and degrades to a nested-loop join
    val n = toks
      .select(sum(greatest(size(col("t")) - 1, lit(0))).as("n"))
      .withColumn("__jk", pmod(xxhash64(col("n")), lit(1L)))
    big
      .join(broadcast(uni.select(col("w").as("w1"), col("c_w").as("c_a"))),
        "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("c_w").as("c_b"))),
        "w2")
      .withColumn("__jk", pmod(xxhash64(col("c_ab")), lit(1L)))
      .join(broadcast(n), "__jk")
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        ((col("c_ab") * col("n")).cast(DoubleType) /
          (col("c_a") * col("c_b")).cast(DoubleType)).as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Token-rarity profile: per document, the sum and mean of each
    * token's GLOBAL corpus frequency — the cheap lexical-likelihood
    * filter (a unigram LM without logs): gibberish and OCR noise score
    * low because their tokens are corpus-rare, boilerplate scores
    * high. Integer sums + ONE correctly-rounded division per doc keep
    * it bit-stable cross-engine. Shape: one explode + the
    * vocabulary-sized tf frame broadcast back onto the token stream,
    * one doc-keyed aggregate — two shuffles total, no self-join of the
    * corpus.
    */
  def tokenRarity(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
    toks.join(broadcast(tf), "term")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast(LongType).as("n_tokens"),
        sum(col("tf")).as("sum_tf"))
      .withColumn("mean_tf",
        col("sum_tf").cast(DoubleType) / col("n_tokens").cast(DoubleType))
  }

  /** Bigram language-model likelihood per document — the CCNet/FineWeb
    * LM quality gate (score a doc by how well a corpus-trained n-gram
    * model predicts it) in exact fixed-point arithmetic. Real
    * perplexity sums logs, and float sums are shuffle-order-dependent;
    * instead each bigram contributes the Laplace-smoothed estimate
    * floor((c(w1,w2)+1)·2^20 / (c(w1,·)+V)) — a 20-bit fixed-point
    * p(w2|w1) — and the per-doc INTEGER sum ranks documents the way
    * average bigram likelihood does, bit-identical in any engine and
    * any shuffle order. Smoothing with the vocabulary size V is
    * load-bearing, not a nicety: an UNsmoothed in-corpus ML estimate
    * scores every hapax bigram with a hapax prefix at p=1 (its only
    * continuation), ranking gibberish as perfectly predictable. The
    * one double (`avg_fp`) is a single final division. Shape: one
    * bigram explode feeding a (w1,w2)-keyed count, prefix counts
    * re-aggregated FROM the pair counts (never a second corpus pass),
    * a shuffle join back on the pair key, a vocabulary-bounded
    * broadcast of the prefix table (the tokenRarity precedent: vocab
    * grows sublinearly in corpus size), and the 1-row vocab scalar
    * attached via a constant-key broadcast equi-join (BHJ — the
    * collocations `__jk` pattern, never a BNLJ cross join). Docs with
    * fewer than two tokens carry no bigram evidence and are absent by
    * definition.
    */
  def bigramLm(docs: DataFrame, idCol: String, textCol: String,
               scaleBits: Int = 20): DataFrame = {
    val scale = 1L << scaleBits
    // guard size>=2 BEFORE sequence(1, size-1): sequence(1, 0) yields a
    // DESCENDING [1, 0] rather than an empty array (the delOne lesson)
    val bg = docs.select(col(idCol), tokens(col(textCol)).as("w"))
      .where(size(col("w")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(w[i-1] AS w1, w[i] AS w2))")).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val pc = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_pair"))
    val fc = pc.groupBy(col("w1")).agg(sum(col("c_pair")).as("c_prefix"))
    // vocabulary size over ALL tokens (doc-final-only tokens included,
    // so V is the true unigram vocab, not just the prefix set)
    val vocab = docs.select(explode(tokens(col(textCol))).as("t"))
      .agg(countDistinct(col("t")).as("vocab"))
      .withColumn("__jk", pmod(xxhash64(col("vocab")), lit(1L)))
    bg.join(pc, Seq("w1", "w2"))
      .join(broadcast(fc), Seq("w1"))
      // NON-FOLDABLE constant key on BOTH sides (always 0): a lit key
      // anywhere constant-folds the equi-condition away and plans a
      // BNLJ — the collocations __jk precedent keeps it a
      // single-bucket BroadcastHashJoin
      .withColumn("__jk", pmod(xxhash64(col("c_pair")), lit(1L)))
      .join(broadcast(vocab), Seq("__jk"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast(LongType).as("n_bigrams"),
        sum(expr(s"((c_pair + 1L) * ${scale}L) div (c_prefix + vocab)"))
          .as("fp_sum"))
      .withColumn("avg_fp",
        col("fp_sum").cast(DoubleType) / col("n_bigrams").cast(DoubleType))
  }

  /** KenLM-style per-document negative log-likelihood under the
    * corpus's OWN add-one-smoothed bigram LM — the perplexity quality
    * filter of CCNet/Gopher-era pipelines (public: Wenzek et al. 2020
    * CCNet): rank documents by how surprising they are to a model of
    * the corpus itself; word salad and boilerplate outliers surface at
    * the tails. [[bigramLm]]'s fixed-point avg probability is the
    * log-free sibling used for threshold filtering; this is the real
    * NLL in NATS, the number that's comparable across corpora and
    * matches how the filter is reported in papers.
    *
    * Exactness: each per-bigram term is a DIFFERENCE of two
    * [[graft.functions.DetLn]] calls on exact integers,
    * ln(c_prefix+V) − ln(c_pair+1), weighted by the doc's exact
    * multiplicity of that bigram; the per-doc sum folds over the
    * (w1, w2)-sorted DISTINCT-bigram list (bounded by document
    * length, never corpus size) and one final division yields
    * nats/bigram. The oracle replays DetLn and the fold verbatim.
    *
    * Shape: same three count frames as bigramLm (pair counts, prefix
    * marginals broadcast, one-row vocab), one extra per-doc distinct
    * aggregate; nothing new shuffles.
    */
  def lmPerplexity(docs: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    import graft.functions.GraftFunctions.detLn
    val bg = docs.select(col(idCol), tokens(col(textCol)).as("w"))
      .where(size(col("w")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(1, size(w) - 1), " +
          "i -> struct(w[i-1] AS w1, w[i] AS w2))")).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val dbg = bg.groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("m"))
    val pc = bg.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_pair"))
    val fc = pc.groupBy(col("w1")).agg(sum(col("c_pair")).as("c_prefix"))
    val vocab = docs.select(explode(tokens(col(textCol))).as("t"))
      .agg(countDistinct(col("t")).as("vocab"))
      .withColumn("__jk", pmod(xxhash64(col("vocab")), lit(1L)))
    dbg.join(pc, Seq("w1", "w2"))
      .join(broadcast(fc), Seq("w1"))
      .withColumn("__jk", pmod(xxhash64(col("c_pair")), lit(1L)))
      .join(broadcast(vocab), Seq("__jk"))
      .select(col(idCol), col("w1"), col("w2"), col("m"),
        (col("m").cast(DoubleType) *
          (detLn(col("c_prefix") + col("vocab"))
            - detLn(col("c_pair") + 1L))).as("term"))
      .groupBy(col(idCol))
      .agg(sum(col("m")).as("n_bigrams"),
        collect_list(struct(col("w1"), col("w2"), col("term")))
          .as("ts"))
      .select(col(idCol), col("n_bigrams"),
        (aggregate(sort_array(col("ts")), lit(0.0),
          (acc, t) => acc + t.getField("term"))
          / col("n_bigrams").cast(DoubleType)).as("nll"))
  }

  /** Heaps'-law vocabulary-growth curve: distinct-term and total-token
    * counts at `checkpoints` evenly spaced doc-id cutoffs — the
    * dataset-card diagnostic that says whether a corpus is still
    * contributing new vocabulary or has gone redundant (the growth
    * exponent read off this curve). Exact integers only. Shape: each
    * term's FIRST doc id (one term-keyed aggregate) makes "vocab at
    * cutoff c" a simple count of first_doc < c — no per-checkpoint
    * rescan of the corpus; checkpoints attach by exploding a
    * k-element literal array (never a cross join). The one driver
    * read is the max-doc-id scalar (metadata-scale, the hot-bucket
    * census precedent). Checkpoints whose cutoff lands at 0 docs
    * have no rows on either side of the inner join and are absent.
    */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
                  checkpoints: Int = 5): DataFrame = {
    val maxId = docs.agg(max(col(idCol))).head.getLong(0)
    val cps = (1 to checkpoints).map(k => (maxId + 1) * k / checkpoints)
    val cpArr = array(cps.map(lit(_)): _*)
    val firstDoc = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("t"))
      .groupBy(col("t")).agg(min(col(idCol)).as("first_doc"))
    val vocabAt = firstDoc
      .select(explode(cpArr).as("checkpoint_docs"), col("first_doc"))
      .where(col("first_doc") < col("checkpoint_docs"))
      .groupBy(col("checkpoint_docs"))
      .agg(count(lit(1)).as("vocab_size"))
    val tokensAt = docs
      .select(col(idCol),
        size(tokens(col(textCol))).cast(LongType).as("n"))
      .select(explode(cpArr).as("checkpoint_docs"), col(idCol), col("n"))
      .where(col(idCol) < col("checkpoint_docs"))
      .groupBy(col("checkpoint_docs"))
      .agg(sum(col("n")).as("total_tokens"))
    vocabAt.join(tokensAt, Seq("checkpoint_docs"))
  }

  /** Document fingerprint: rolling polynomial hash of the whole text. */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), polyHash(col(textCol)).as("fingerprint"))

  /** Document chunking: split each document into overlapping windows
    * of `chunkTokens` whitespace tokens with `overlap` tokens shared
    * between neighbors — the canonical context-window preprocessing of
    * an LLM training pipeline. One row per chunk; pure narrow
    * operations (no shuffle): tokens → window count → posexplode of
    * sliced joins.
    */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
                chunkTokens: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap < chunkTokens)
    val stride = chunkTokens - overlap
    val w = tokens(col(textCol))
    val n = size(w)
    // windows needed to cover all n tokens: ceil(max(n-c,0)/s) + 1
    val nChunks = (greatest(n - chunkTokens, lit(0)) + (stride - 1))
      .divide(stride).cast(IntegerType) + lit(1)
    docs.select(col(idCol), w.as("w"), nChunks.as("n_chunks"))
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(0, n_chunks - 1), " +
          s"i -> slice(w, i * $stride + 1, $chunkTokens))")))
      .select(col(idCol),
        col("pos").cast(LongType).as("chunk_idx"),
        size(col("col")).cast(LongType).as("n_chunk_tokens"),
        concat_ws(" ", col("col")).as("chunk_text"))
  }

  /** The fixture subword vocabulary for `wordPieceTokens`: chosen so
    * the corpus words exercise every path — exact hits ("spark",
    * "table"), multi-piece splits ("value" → val+ue, "scan" → sc+an),
    * and single-char OOV fallback ("batch" → b+a+t+ch).
    */
  val wordPieceVocab: Seq[String] = Seq(
    "window", "spark", "table", "sort", "part", "val", "row", "key",
    "ue", "th", "an", "ch", "sc", "e", "a")

  /** Real subword tokenization (N4 beyond the BPE-ish regex count):
    * greedy longest-match WordPiece per whitespace word, single-char
    * fallback — one codegen loop per row (functions.WordPieces).
    * Output: (doc_id, n_pieces, pieces as a space-joined string) —
    * the full segmentation, so the oracle equality is over the exact
    * token sequence, not just counts.
    */
  def wordPieceTokens(docs: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    docs.select(col(idCol),
      graft.functions.GraftFunctions
        .wordPieces(col(textCol), wordPieceVocab).as("p"))
      .select(col(idCol),
        size(col("p")).cast(LongType).as("n_pieces"),
        concat_ws(" ", col("p")).as("pieces"))

  /** Contrastive positive-pair generation (SimCSE/Contriever-style
    * same-document positives): for every document with at least two
    * chunks, pair the anchor (chunk 0) with one deterministically
    * hash-picked OTHER chunk — two views of the same document for a
    * contrastive encoder, with `Similarity.hardNegatives` supplying
    * the negative side. The pick is a pure function of the doc id
    * (replay-stable, no rand()); chunking is `chunkDocs`, and the
    * chunk statistics come from the chunk stream itself — no second
    * text scan. Output: (doc_id, n_chunks, pos_idx, anchor_tokens,
    * pos_tokens).
    */
  def contrastivePairs(docs: DataFrame, idCol: String, textCol: String,
                       chunkTokens: Int = 16, overlap: Int = 4)
      : DataFrame = {
    val chunks = chunkDocs(docs, idCol, textCol, chunkTokens, overlap)
    val stats = chunks.groupBy(col(idCol))
      .agg((max(col("chunk_idx")) + 1L).as("n_chunks"))
      .filter(col("n_chunks") >= 2L)
      .withColumn("pos_idx",
        pmod(polyHash(col(idCol).cast(StringType)),
          col("n_chunks") - 1L) + 1L)
    val anchor = chunks.filter(col("chunk_idx") === 0L)
      .select(col(idCol), col("n_chunk_tokens").as("anchor_tokens"))
    // all three frames derive from `chunks`: renamed join keys keep
    // the self-join unambiguous
    val pos = chunks.select(col(idCol).as("__pid"),
      col("chunk_idx").as("__pidx"),
      col("n_chunk_tokens").as("pos_tokens"))
    stats.join(anchor, Seq(idCol))
      .join(pos, col(idCol) === col("__pid") &&
        col("pos_idx") === col("__pidx"))
      .select(col(idCol), col("n_chunks"), col("pos_idx"),
        col("anchor_tokens"), col("pos_tokens"))
  }

  /** Deterministic train/val/test assignment by CONTENT hash: bucket =
    * polyHash(text) mod 10 → train (bucket < trainBuckets), val, test.
    * Keying the split on content rather than doc id means
    * byte-identical duplicates can never straddle train and eval — the
    * leakage guard an LLM data pipeline needs — and the assignment is
    * a pure map (no shuffle), stable under replays and engine changes
    * (the polynomial hash is replicated verbatim in the oracle SQL).
    */
  def splitAssign(text: Column, trainBuckets: Int = 8,
                  valBuckets: Int = 1): Column = {
    val b = pmod(polyHash(text), lit(10L))
    when(b < trainBuckets, lit("train"))
      .when(b < trainBuckets + valBuckets, lit("val"))
      .otherwise(lit("test"))
  }

  /** BPE-ish pre-tokenizer pattern: letter runs, digit runs, and
    * punctuation runs, each optionally glued to one leading space —
    * the GPT-2-style split shape, restricted to constructs whose
    * semantics are identical in Java regex and the oracle engine's RE2.
    */
  val bpeTokenPattern: String = " ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+"

  /** Token counting, whitespace and BPE-ish: the per-document token
    * budget every LLM-pipeline sizing decision hangs on. Both counts
    * are single-pass scans, no shuffle.
    */
  def tokenCounts(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame =
    docs.select(
      col(idCol),
      size(tokens(col(textCol))).cast(LongType).as("n_ws_tokens"),
      size(regexp_extract_all(col(textCol), lit(bpeTokenPattern), lit(0)))
        .cast(LongType).as("n_bpe_tokens"))

  /** Learn a BPE merge table, Sennrich count-and-merge: the pair-count
    * statistics come from the TOP-K corpus words only (one distributed
    * word count + a TakeOrdered head — the bounded-collect shape the
    * IVF/PQ codebook training already uses), and the merge loop runs on
    * the driver over those K (word, count) rows. Fully deterministic:
    * top-K by (count desc, word asc), best pair by (count desc, pair
    * asc), training-side merges applied left-to-right non-overlapping.
    * At 100 TB the word count is the only distributed stage — its
    * output is vocabulary-sized, and K bounds everything after it.
    */
  def learnBpeMerges(docs: DataFrame, textCol: String,
                     topWords: Int = 256, nMerges: Int = 40)
      : Seq[(String, String)] = {
    val top: Array[(String, Long)] = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(topWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    var segs: Array[(Array[String], Long)] =
      top.map { case (w, c) => (w.map(String.valueOf(_)).toArray, c) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.length < nMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((toks, c) <- segs; j <- 0 until toks.length - 1)
        counts.updateWith((toks(j), toks(j + 1)))(
          o => Some(o.getOrElse(0L) + c))
      if (counts.isEmpty) done = true
      else {
        val ((a, b), _) = counts.toSeq
          .minBy { case ((x, y), c) => (-c, x, y) }
        merges += ((a, b))
        segs = segs.map { case (toks, c) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < toks.length) {
            if (j < toks.length - 1 && toks(j) == a && toks(j + 1) == b) {
              out += a + b; j += 2
            } else { out += toks(j); j += 1 }
          }
          (out.toArray, c)
        }
      }
    }
    merges.toSeq
  }

  /** BPE tokenization of each document against a fixed merge table —
    * the full segmentation (flattened token string + count), pure
    * codegen map over the corpus, no shuffle. See
    * [[graft.functions.BpeEncode]] for the merge semantics the oracle
    * replays.
    */
  def bpeTokens(docs: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame =
    docs.select(col(idCol),
        graft.functions.GraftFunctions
          .bpeEncode(col(textCol), merges).as("t"))
      .select(col(idCol),
        size(col("t")).cast(LongType).as("n_tokens"),
        concat_ws(" ", col("t")).as("toks"))

  /** Email-like pattern, restricted (like [[bpeTokenPattern]]) to
    * constructs whose semantics match between Java regex and RE2. */
  val emailPattern: String =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** PII / identifier scrubbing — the redaction pass every
    * training-data pipeline runs before anything else sees the text:
    * masks email-like tokens then digit runs of >= `minDigits`, and
    * reports per-document match counts (counted on the ORIGINAL text,
    * so an address containing a digit run tallies in both columns).
    * Pure map, no shuffle; the regexes are codegen'd Catalyst
    * `RegExpReplace`/`RegExpExtractAll` with compiled-pattern reuse.
    */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String,
               minDigits: Int = 4): DataFrame = {
    val digitRun = s"[0-9]{$minDigits,}"
    docs.select(
      col(idCol),
      regexp_replace(
        regexp_replace(col(textCol), emailPattern, "<EMAIL>"),
        digitRun, "<NUM>").as("clean_text"),
      size(regexp_extract_all(col(textCol), lit(emailPattern), lit(0)))
        .cast(LongType).as("n_emails"),
      size(regexp_extract_all(col(textCol), lit(digitRun), lit(0)))
        .cast(LongType).as("n_nums"))
  }

  /** N10 — validated payment-card detection: the PII upgrade from
    * "13–19 digits in a row" to "a syntactically valid PAN". Card-like
    * candidates (digit runs with optional single space/dash
    * separators) are extracted per document, normalized, and checked
    * with the Luhn mod-10 expression ([[graft.functions.LuhnValid]],
    * one codegen loop per candidate) — a naive digit-run mask
    * over-redacts order ids and timestamps; the checksum keeps the
    * false-positive rate where a real scrubbing pipeline needs it.
    * Output: one row per candidate with the normalized digits, the
    * validity verdict, and the keep-last-4 mask. Pure map over the
    * corpus — no shuffle, no state; at 100 TB this runs in the same
    * codegen stage as the other stateless corpus filters.
    */
  def piiCards(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val pattern = "[0-9](?:[ -]?[0-9]){12,18}"
    docs.select(col(idCol),
        explode(regexp_extract_all(col(textCol), lit(pattern), lit(0)))
          .as("cand"))
      .withColumn("card_digits", regexp_replace(col("cand"), "[ -]", ""))
      .filter(length(col("card_digits")).between(13, 19))
      .select(col(idCol), col("card_digits"),
        graft.functions.GraftFunctions.luhnValid(col("card_digits"))
          .as("luhn_valid"),
        expr("concat(repeat('*', length(card_digits) - 4), " +
          "substring(card_digits, length(card_digits) - 3, 4))")
          .as("masked"))
  }

  /** N4 — corpus heavy hitters, sketch-then-verify: tokens with
    * frequency > N/theta (stop-word discovery, boilerplate tokens,
    * vocabulary pruning). Pass 1 runs the Misra–Gries aggregate
    * ([[graft.functions.MisraGries]]): O(capacity) memory per task,
    * mergeable partials, candidate superset guaranteed for any
    * frequency > N/(capacity+1). Pass 2 re-counts ONLY the ≤ capacity
    * candidate terms (the `isInCollection` filter drops every other
    * token before the shuffle) and keeps exact counts passing the
    * integer threshold test `cnt·theta > N` — so the result is
    * EXACTLY the true heavy-hitter set, independent of partitioning,
    * and the full-corpus term shuffle an exact top-k would need never
    * happens. `capacity >= theta` is required for the superset
    * guarantee; the default 8× margin keeps candidate counts small
    * even on adversarially flat corpora.
    */
  def heavyHitters(docs: DataFrame, textCol: String, theta: Int = 32,
                   capacity: Int = 256): DataFrame = {
    require(capacity >= theta, "superset guarantee needs capacity >= theta")
    val toks = docs.select(explode(tokens(col(textCol))).as("term"))
    val first = toks.agg(
      graft.functions.GraftFunctions.mgCandidates(col("term"), capacity)
        .as("cand"),
      count(lit(1)).as("n")).head()
    val cand = first.getSeq[String](0)
    val n = first.getLong(1)
    if (cand.isEmpty) toks.select(col("term"),
      lit(0L).as("cnt")).limit(0)
    else toks.filter(col("term").isInCollection(cand))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(theta.toLong) > lit(n))
  }

  /** Count–min sketch frequency probe, gated against exact counts:
    * build ONE depth×2^widthLog2 mergeable counter table over the
    * corpus tokens (`functions.CmsSketch` — bounded memory, bit-
    * deterministic under any partitioning), probe it for the exact
    * top-k terms, and emit the two estimate gates per term:
    * `over_ok` (estimate ≥ true count — the CMS invariant, holds
    * ALWAYS) and `tight_ok` (estimate ≤ true + 4·(2N/width) + 1 — 4×
    * the per-query expectation bound, deterministic for a fixed
    * corpus). The exact side exists to GATE the sketch, the same
    * shape as the ANN recall gates; production probes ad-hoc terms
    * the exact pass never counted.
    *
    * Plan shape: the 1-row sketch joins the top-k frame through the
    * single-bucket non-foldable-key equi-join (the scoredPairs
    * pattern — stays BroadcastHashJoin, never BNLJ); the probe is a
    * codegen'd kernel call. Nothing is collected to the driver.
    */
  def cmsFrequencyCheck(docs: DataFrame, textCol: String,
                        widthLog2: Int = 14, depth: Int = 4,
                        k: Int = 20): DataFrame = {
    import graft.functions.GraftFunctions
    val toks = docs.select(explode(tokens(col(textCol))).as("term"))
    val sk = toks.agg(
      GraftFunctions.cmsSketch(col("term"), widthLog2, depth).as("sk"),
      count(lit(1)).as("n"))
      .withColumn("__jk", pmod(xxhash64(col("n")), lit(1L)))
    val topk = toks.groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(k)
      .withColumn("__jk", pmod(xxhash64(col("term")), lit(1L)))
    val est = GraftFunctions.cmsEstimate(col("sk"), col("term"),
      widthLog2, depth)
    topk.join(broadcast(sk), Seq("__jk")).drop("__jk")
      .select(col("term"), col("cnt"),
        (est >= col("cnt")).as("over_ok"),
        (est <= col("cnt") +
          expr(s"(8 * n) div ${1L << widthLog2} + 1")).as("tight_ok"))
  }
}
