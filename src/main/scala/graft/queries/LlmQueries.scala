package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Tables
import graft.ops.{CorpusOps, Dedup, Graph, Multimodal, Retrieval, Sessionize, Similarity, TextOps, UrlOps}

/** The LLM-data-pipeline query registry (SURVEY.md §2 rows N1–N7):
  * dedup (exact / MinHash / n-gram / SimHash / embedding-cosine),
  * similarity search, text analysis, multimodal decode, sessionization
  * and approx-distinct — each with a DuckDB oracle over the same
  * parquet tables.
  *
  * Oracle-design notes:
  *  - Exact operators (n-gram jaccard, simhash banding, sessionize,
  *    text stats) get oracles that recompute the same definition
  *    independently (brute force or mirrored candidate pipeline).
  *  - LSH-candidate operators (minhash, embedding pairs) are
  *    *verification-exact*: output = {pairs caught by banding} ∩
  *    {exact predicate}. Band parameters are sized so the miss
  *    probability at the oracle's scale is < 1e-7 (see Dedup scaladoc),
  *    making the oracle the plain brute-force predicate.
  *  - Every double in an output is derived from exact integer
  *    arithmetic by a single correctly-rounded op chain (÷, sqrt, ×0.5)
  *    replicated verbatim in the SQL, so values are bit-identical.
  */
object LlmQueries {

  private def docs(s: SparkSession, d: String) = {
    tagDataset(d); Tables.documents(s, d)
  }
  private def emb(s: SparkSession, d: String) = {
    tagDataset(d); Tables.embeddings(s, d)
  }

  /** Pins the oracle-input tag to a dataset dir ([[Sidecars]]). Public
    * so Verify can pin it UP FRONT: a VERIFY_ONLY subset that happens to
    * touch no documents/embeddings table would otherwise re-dump
    * oracle_sql.json with sidecar paths under the "default" tag while
    * the inputs live under the sf-dir tag.
    */
  def tagDataset(d: String): Unit = Sidecars.tagDataset(d)

  /** Driver-visible recall gate shared by the approximate ANN paths:
    * one boolean row that hashes equal to the oracle's `true` iff
    * |approx ∩ exact| / |exact| >= floor (the approx_distinct
    * tolerance pattern).
    */
  private def recallGate(exact: DataFrame, approx: DataFrame,
                         floor: Double): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      // no broadcast hint: both sides are |Q|·k rows at runtime but
      // the approx subtree contains the raw corpus scan, so a static
      // hint would pin an unbounded-by-structure frame to the driver;
      // AQE broadcasts the true (tiny) ranked outputs at execution
      .join(approx
          .select(col("query_id").as("aq"), col("neighbor_id").as("an")),
        col("query_id") === col("aq") && col("neighbor_id") === col("an"),
        "left")
      .agg(count(lit(1)).as("n_exact"), count(col("aq")).as("n_hit"))
      .select(col("n_exact"),
        (col("n_hit").cast(DoubleType) / col("n_exact").cast(DoubleType)
          >= floor).as("recall_ok"))

  /** Writes an ANN oracle input: corpus-side rows `c` tagged
    * `side = 'c'` over query-side rows `q` tagged `side = 'q'`, one
    * sidecar the oracle splits again.
    */
  private def writeSides(dir: String)(c: => DataFrame,
                                      q: => DataFrame): Unit =
    Sidecars.writeOracleInput(dir) {
      c.withColumn("side", lit("c"))
        .unionByName(q.withColumn("side", lit("q")))
    }

  val specs: Seq[QuerySpec] = Seq(
    // N1 — exact dedup by key: representative (min event_id) per
    // (user_id, event_type) group; groups are genuinely multi-row.
    QuerySpec("dedup_exact", (s, d) =>
      Dedup.exactByKey(Tables.events(s, d), Seq("user_id", "event_type"),
        "event_id"),
      """SELECT user_id, event_type, min(event_id) AS keep_id,
        |       count(*) AS n_dups
        |FROM events GROUP BY 1, 2""".stripMargin),
    // N2 — MinHash+LSH near-dup with exact-jaccard verification
    QuerySpec("neardup_minhash", (s, d) =>
      Dedup.minhashPairs(docs(s, d), "doc_id", "text", threshold = 0.5),
      s"""WITH $shingleInterCte
         |SELECT ia AS doc_a, ib AS doc_b,
         |  CAST(inter AS DOUBLE)/CAST(la + lb - inter AS DOUBLE) AS jaccard
         |FROM pint
         |WHERE CAST(inter AS DOUBLE)/CAST(la + lb - inter AS DOUBLE) >= 0.5""".stripMargin),
    // N2 — threshold-tuning artifact: the verified pairs' jaccard
    // mass per decile bucket — "how much sits just above my cutoff"
    // is the first question when moving a dedup threshold; floor
    // bucketing of the same exact jaccard, counts only
    QuerySpec("neardup_histogram", (s, d) =>
      Dedup.minhashPairs(docs(s, d), "doc_id", "text", threshold = 0.5)
        .select(floor(col("jaccard") * lit(10.0)).cast(LongType)
          .as("jaccard_decile"))
        .groupBy(col("jaccard_decile"))
        .agg(count(lit(1)).as("n_pairs")),
      // the neardup_minhash brute pairs bucketed by the same floored
      // exact jaccard
      s"""WITH $shingleInterCte,
         |j AS (SELECT CAST(inter AS DOUBLE)
         |    / CAST(la + lb - inter AS DOUBLE) AS jc FROM pint
         |  WHERE CAST(inter AS DOUBLE)
         |    / CAST(la + lb - inter AS DOUBLE) >= 0.5)
         |SELECT CAST(floor(jc * 10.0) AS BIGINT) AS jaccard_decile,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM j GROUP BY 1""".stripMargin),
    // N2 — edit-distance fuzzy join via FastSS deletion-neighborhood
    // signatures (never all-pairs): ID-variant entity resolution over
    // the first 400 customer names (the synthetic documents vocabulary
    // is 31 distance-separated tokens — zero pairs — so the registry
    // row exercises the operator where distance-1 structure exists;
    // the corpus form, vocabFuzzyPairs, is covered by FuzzyJoinSpec)
    QuerySpec("fuzzy_join", (s, d) =>
      graft.ops.FuzzyJoin.editDistancePairs(
        Tables.customer(s, d).select(col("c_name").as("tok"))
          .orderBy(col("tok")).limit(400), "tok"),
      // all-pairs levenshtein is fine for the oracle: the input is
      // capped at 400 names, so 160k comparisons regardless of sf
      """WITH top AS (SELECT c_name AS tok FROM customer
        |  ORDER BY c_name LIMIT 400)
        |SELECT a.tok AS tok_a, b.tok AS tok_b,
        |  levenshtein(a.tok, b.tok) AS dist
        |FROM top a JOIN top b
        |  ON a.tok < b.tok AND levenshtein(a.tok, b.tok) <= 1""".stripMargin),
    // same join at distance <= 2 via depth-2 deletion neighborhoods
    QuerySpec("fuzzy_join2", (s, d) =>
      graft.ops.FuzzyJoin.editDistancePairs(
        Tables.customer(s, d).select(col("c_name").as("tok"))
          .orderBy(col("tok")).limit(400), "tok", maxDist = 2),
      """WITH top AS (SELECT c_name AS tok FROM customer
        |  ORDER BY c_name LIMIT 400)
        |SELECT a.tok AS tok_a, b.tok AS tok_b,
        |  levenshtein(a.tok, b.tok) AS dist
        |FROM top a JOIN top b
        |  ON a.tok < b.tok AND levenshtein(a.tok, b.tok) <= 2""".stripMargin),
    // record linkage (entity resolution): customers whose names are
    // within 2 edits INSIDE the same nation block, scored by segment
    // agreement — FastSS signatures keyed by (block, signature), the
    // within-block quadratic lives only in the oracle. The verified
    // pair table is the persisted artifact (linkagePairsArtifact)
    QuerySpec("record_linkage", (s, d) =>
      Tables.parquet(s, linkagePairsArtifact(s, d)),
      // within-block all-pairs is the oracle's luxury: blocks are
      // nation-sized here; the Spark plan joins on (block, signature)
      recordLinkageSql("customer")),
    // survivorship: linked pairs → entity clusters → ONE golden row
    // per cluster under deterministic merge rules (min id, longest
    // name, max balance cents, modal segment); singletons flow
    // through — the output IS the master table. Reads the shared
    // pair artifact: the merge pass alone, no FastSS re-join
    QuerySpec("golden_record", (s, d) =>
      graft.ops.FuzzyJoin.goldenRecordFromPairs(Tables.customer(s, d),
        Tables.parquet(s, linkagePairsArtifact(s, d))
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")),
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment",
        round(col("c_acctbal") * 100).cast(LongType)),
      // the within-block quadratic pair set, the op's 4 min-label
      // rounds replayed verbatim, then the same deterministic merge
      // rules (window argmax = the op's struct max)
      goldenRecordSql("customer")),
    // sf1-TRACTABLE capped twins (r14, the embedding_pairs_lowt
    // contract): record_linkage / golden_record / paraphrase_mine are
    // excluded from the full-registry sf1 gate because their ORACLES
    // are quadratic (within-block levenshtein, all-pairs cosine) —
    // the Spark side is fine. Each twin runs the SAME operator over a
    // fixed-size input slice (4096 custkeys / 8192 vec_ids), so the
    // oracle cost is scale-invariant and the operator's correctness
    // is evidenced ABOVE fixture scale instead of resting on fixture
    // gates alone.
    QuerySpec("record_linkage_capped", (s, d) =>
      graft.ops.FuzzyJoin.linkRecords(
        Tables.customer(s, d).filter(col("c_custkey") <= 4096),
        "c_custkey", "c_name", "c_nationkey", Seq("c_mktsegment")),
      // capped twin: same replay over the fixed 4096-custkey slice —
      // oracle cost scale-invariant, so the sf1 gate can run it
      recordLinkageSql(cappedCustomerSrc)),
    QuerySpec("golden_record_capped", (s, d) => {
      val cust = Tables.customer(s, d).filter(col("c_custkey") <= 4096)
      graft.ops.FuzzyJoin.goldenRecordFromPairs(cust,
        graft.ops.FuzzyJoin.linkRecords(cust, "c_custkey", "c_name",
            "c_nationkey", Seq("c_mktsegment"))
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")),
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment",
        round(col("c_acctbal") * 100).cast(LongType))
    },
      // capped twin: record_linkage_capped's slice through the same
      // merge replay
      goldenRecordSql(cappedCustomerSrc)),
    QuerySpec("paraphrase_mine_capped", (s, d) =>
      Dedup.paraphrasePairs(emb(s, d).filter(col("vec_id") < 8192),
        docs(s, d).filter(col("doc_id") < 8192), "vec_id",
        "embedding", "doc_id", "text"),
      // capped twin: same replay over the fixed 8192-id slice (the
      // all-pairs cosine stays 8192² at every scale — sf1-gateable)
      paraphraseMineSql(" WHERE vec_id < 8192", " WHERE doc_id < 8192")),
    // incremental entity resolution (streaming twin of record_linkage,
    // batch-replayed): delta customers probe the persisted master
    // signature index keyed (block, signature); verdict row per delta
    // record — the DedupStream contract with FastSS signatures
    QuerySpec("linkage_probe_stream", (s, d) => {
      val c = Tables.customer(s, d)
        .withColumn("ts", timestamp_seconds(col("c_custkey") * 60))
      // the master signature index is the persisted artifact
      // (linkageIndexArtifact) — deltas probe it; the index rebuild
      // is the once-per-master-change maintenance job, not the probe
      graft.streaming.LinkageStream.probeStream(
          c.filter(col("c_custkey") % 5 === 0),
          Tables.parquet(s, linkageIndexArtifact(s, d)),
          "c_custkey", "c_name", "c_nationkey", Seq("c_mktsegment"),
          "ts")
        .select(col("window.start").as("w_start"), col("id"),
          col("n_matches"), col("best_match_id"), col("best_score"),
          col("is_new"))
    },
      // same blocked quadratic, delta side only; best by (score desc,
      // id asc), window start from the synthetic minute timestamps
      """WITH del AS (SELECT c_custkey, c_name, c_nationkey,
        |    c_mktsegment FROM customer WHERE c_custkey % 5 = 0),
        |mas AS (SELECT c_custkey, c_name, c_nationkey, c_mktsegment
        |  FROM customer WHERE c_custkey % 5 <> 0),
        |cand AS (SELECT d.c_custkey AS id, m.c_custkey AS mid,
        |  CAST(2 - levenshtein(d.c_name, m.c_name)
        |    + CASE WHEN d.c_mktsegment = m.c_mktsegment
        |      THEN 1 ELSE 0 END AS BIGINT) AS score
        |  FROM del d JOIN mas m ON d.c_nationkey = m.c_nationkey
        |  WHERE levenshtein(d.c_name, m.c_name) <= 2),
        |cnt AS (SELECT id, CAST(count(DISTINCT mid) AS BIGINT)
        |    AS n_matches FROM cand GROUP BY 1),
        |best AS (SELECT id, mid AS best_match_id, score AS best_score,
        |  row_number() OVER (PARTITION BY id
        |    ORDER BY score DESC, mid) AS rk FROM cand)
        |SELECT make_timestamp((d.c_custkey*60)//3600*3600*1000000)
        |    AS w_start,
        |  d.c_custkey AS id,
        |  CAST(coalesce(cnt.n_matches, 0) AS BIGINT) AS n_matches,
        |  best.best_match_id, best.best_score,
        |  coalesce(cnt.n_matches, 0) = 0 AS is_new
        |FROM del d LEFT JOIN cnt ON d.c_custkey = cnt.id
        |LEFT JOIN best ON d.c_custkey = best.id AND best.rk = 1""".stripMargin,
      barrier = true),
    // N1/N2 end-to-end — corpus dedup: pairs → connected components →
    // canonical representative per cluster
    QuerySpec("dedup_corpus", (s, d) =>
      Dedup.dedupCorpus(docs(s, d), "doc_id", "text", threshold = 0.5),
      // same pair predicate as neardup_minhash (brute force), then the
      // SAME 4 min-propagation rounds the Spark op runs
      s"""WITH $corpusComponentCtes
         |SELECT id AS doc_id, comp AS canonical_id, id = comp AS kept
         |FROM l4""".stripMargin),
    // N2 — the dedup YIELD report a pipeline logs per run: cluster-size
    // histogram over the corpus components plus documents/tokens the
    // canonical-keep policy drops — the "how much did dedup save"
    // number; exact integers off the same component frame
    QuerySpec("dedup_yield", (s, d) => {
      val dd = docs(s, d)
      val cc = Dedup.dedupCorpus(dd, "doc_id", "text", threshold = 0.5)
      val toks = dd.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast(LongType).as("n_tok"))
      cc.join(toks, "doc_id")
        .groupBy(col("canonical_id"))
        .agg(count(lit(1)).as("cluster_size"),
          sum(when(!col("kept"), 1L).otherwise(0L)).as("dd"),
          sum(when(!col("kept"), col("n_tok")).otherwise(0L)).as("td"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("dd")).as("docs_dropped"),
          sum(col("td")).as("tokens_dropped"))
    },
      // yield replay: the SAME corpus-CC CTE chain as dedup_corpus, then
      // the per-component fold and the size histogram, sums CAST from
      // HUGEINT
      s"""WITH $corpusComponentCtes,
         |cc AS (SELECT id AS doc_id, comp AS canonical_id,
         |  id = comp AS kept FROM l4),
         |tk AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |per AS (SELECT canonical_id, count(*) AS cluster_size,
         |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS dd,
         |  CAST(sum(CASE WHEN kept THEN 0 ELSE n_tok END) AS BIGINT)
         |    AS td
         |  FROM cc JOIN tk USING (doc_id) GROUP BY 1)
         |SELECT cluster_size, count(*) AS n_clusters,
         |  CAST(sum(dd) AS BIGINT) AS docs_dropped,
         |  CAST(sum(td) AS BIGINT) AS tokens_dropped
         |FROM per GROUP BY 1""".stripMargin),
    // N1/N2 — INCREMENTAL dedup: the daily-delta operation. Corpus =
    // docs with doc_id % 5 != 0 (the indexed 80%), batch = the other
    // 20%; each batch doc probes the corpus band index and gets a
    // keep/duplicate verdict + best corpus match. The corpus is never
    // re-paired — per-batch cost is independent of corpus size.
    QuerySpec("dedup_incremental", (s, d) => {
      val dd = docs(s, d)
      Dedup.incrementalDedup(
        dd.filter(col("doc_id") % 5 =!= 0),
        dd.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", threshold = 0.5)
    },
      s"""WITH $shingleInterCte,
         |p AS (SELECT CASE WHEN ia % 5 = 0 THEN ia ELSE ib END AS batch_id,
         |  CASE WHEN ia % 5 = 0 THEN ib ELSE ia END AS corpus_id,
         |  CAST(inter AS DOUBLE)/CAST(la + lb - inter AS DOUBLE) AS jaccard
         |  FROM pint
         |  WHERE (ia % 5 = 0) <> (ib % 5 = 0)
         |    AND CAST(inter AS DOUBLE)/CAST(la + lb - inter AS DOUBLE) >= 0.5),
         |cnt AS (SELECT batch_id, count(*) AS n_matches FROM p GROUP BY 1),
         |best AS (SELECT batch_id, corpus_id AS best_match_id,
         |  jaccard AS best_jaccard,
         |  row_number() OVER (PARTITION BY batch_id
         |    ORDER BY jaccard DESC, corpus_id) AS rk FROM p)
         |SELECT d.doc_id,
         |  CAST(coalesce(cnt.n_matches, 0) AS BIGINT) AS n_matches,
         |  best.best_match_id, best.best_jaccard,
         |  coalesce(cnt.n_matches, 0) = 0 AS keep
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
         |LEFT JOIN cnt ON d.doc_id = cnt.batch_id
         |LEFT JOIN best ON d.doc_id = best.batch_id AND best.rk = 1""".stripMargin),
    // N1/N2 streaming twin, batch path — the SAME operator code the
    // continuously-ingesting pipeline runs (stream-static probe of the
    // persisted band index + windowed verdict aggregate), executed on
    // a batch frame with a deterministic synthetic event time; the
    // true streaming path (watermark, RocksDB, checkpoint restart) is
    // DedupStreamSpec's contract.
    QuerySpec("dedup_incremental_stream", (s, d) => {
      val dd = docs(s, d)
        .withColumn("ts", timestamp_seconds(col("doc_id") * 60))
      val corpus = dd.filter(col("doc_id") % 5 =!= 0)
      val batch = dd.filter(col("doc_id") % 5 === 0)
      graft.streaming.DedupStream.incrementalDedupStream(
          batch,
          Dedup.corpusBandIndex(corpus, "doc_id", "text"),
          graft.streaming.DedupStream.corpusSets(corpus, "doc_id", "text"),
          "doc_id", "text", "ts", threshold = 0.5, windowDur = "1 hour")
        .select(col("window.start").as("w_start"), col("doc_id"),
          col("n_matches"), col("best_match_id"), col("best_jaccard"),
          col("keep"))
    },
      s"""WITH $shingleInterCte,
         |p AS (SELECT CASE WHEN ia % 5 = 0 THEN ia ELSE ib END AS batch_id,
         |  CASE WHEN ia % 5 = 0 THEN ib ELSE ia END AS corpus_id,
         |  CAST(inter AS DOUBLE)/CAST(la + lb - inter AS DOUBLE) AS jaccard
         |  FROM pint
         |  WHERE (ia % 5 = 0) <> (ib % 5 = 0)
         |    AND CAST(inter AS DOUBLE)/CAST(la + lb - inter AS DOUBLE) >= 0.5),
         |cnt AS (SELECT batch_id, count(*) AS n_matches FROM p GROUP BY 1),
         |best AS (SELECT batch_id, corpus_id AS best_match_id,
         |  jaccard AS best_jaccard,
         |  row_number() OVER (PARTITION BY batch_id
         |    ORDER BY jaccard DESC, corpus_id) AS rk FROM p)
         |SELECT make_timestamp((d.doc_id*60)//3600*3600*1000000) AS w_start,
         |  d.doc_id,
         |  CAST(coalesce(cnt.n_matches, 0) AS BIGINT) AS n_matches,
         |  best.best_match_id, best.best_jaccard,
         |  coalesce(cnt.n_matches, 0) = 0 AS keep
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
         |LEFT JOIN cnt ON d.doc_id = cnt.batch_id
         |LEFT JOIN best ON d.doc_id = best.batch_id AND best.rk = 1""".stripMargin),
    // N2 — char-5-gram jaccard via minhash-banded candidates.
    // INPUT-CAPPED at 8192 docs (r14, the embedding_pairs_lowt
    // contract): the fixture corpus has a ~5k-gram CHAR vocabulary,
    // so ANY exact oracle — even PPJoin prefix-filtered — carries
    // ~n²-candidate mass on it (measured 10.6e9 prefix-pair
    // expansions at sf1, the r13 timeout exclusion). The cap binds
    // only above sf0.1 (fixtures ≤ 5000 docs) and keeps the FULL
    // original corpus plus 3k mutated replicas at sf1, making the
    // row sf1-gateable; uncapped char-gram dedup at scale goes
    // through the word-shingle minhash family (dedup_corpus,
    // neardup_minhash — banded, verified, linear).
    QuerySpec("neardup_ngram", (s, d) =>
      Dedup.ngramJaccardPairs(docs(s, d).filter(col("doc_id") < 8192),
        "doc_id", "text", threshold = 0.5, n = 5),
      // inverted-index COUNT form of the brute-force verify: inter(a,b)
      // = the number of shared grams, counted by a group-by over the
      // gram-equality join — exactly |A∩B| on distinct sets, no
      // list_intersect (which made the old all-pairs form the single
      // slowest oracle in the registry: ~50 min of the sf0.1 compare;
      // this form measures 140 s there and is result-identical — r12).
      // Zero-shared-gram pairs drop out of the join; they have
      // jaccard 0 < 0.5, so the filter is lossless. The 2:1 length
      // pre-filter is the PPJoin bound (J >= 0.5 forces |A| <= 2|B|).
      // r14: PPJoin prefix-filtered replay — LOSSLESS for J >= 0.5 (two
      // sets at jaccard >= t must share a gram within their first
      // l - ceil(t*l) + 1 grams under any shared total order; ours is
      // (df ASC, gm) — rarest first). The old all-grams inverted join's
      // candidate mass is sum(df^2) over CHAR-5-grams, which timed out
      // the sf1 gate (>600 s); prefixes keep only rare-gram collisions
      // and the exact intersection verify is unchanged.
      """WITH g AS (SELECT doc_id,
        |  CASE WHEN length(text) >= 5 THEN list_distinct(list_transform(
        |    range(1, length(text)-3), i -> substr(text, i, 5)))
        |  ELSE [] END AS s FROM documents WHERE doc_id < 8192),
        |gr AS (SELECT doc_id, len(s) AS l, unnest(s) AS gm FROM g
        |  WHERE len(s) > 0),
        |df AS (SELECT gm, count(*) AS df FROM gr GROUP BY 1),
        |ordg AS (SELECT gr.doc_id, gr.l, gr.gm,
        |  row_number() OVER (PARTITION BY gr.doc_id
        |    ORDER BY df.df, gr.gm) AS r
        |  FROM gr JOIN df ON gr.gm = df.gm),
        |pref AS (SELECT doc_id, l, gm FROM ordg
        |  WHERE r <= l - CAST(ceil(l * 0.5) AS BIGINT) + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
        |  FROM pref a JOIN pref b ON a.gm = b.gm AND a.doc_id < b.doc_id
        |  WHERE 2 * a.l >= b.l AND 2 * b.l >= a.l),
        |v AS (SELECT c.ia, c.ib, CAST(count(*) AS BIGINT) AS inter,
        |    any_value(a.l) AS la, any_value(b.l) AS lb
        |  FROM cand c
        |  JOIN gr a ON a.doc_id = c.ia
        |  JOIN gr b ON b.doc_id = c.ib AND b.gm = a.gm
        |  GROUP BY 1, 2)
        |SELECT ia AS doc_a, ib AS doc_b,
        |  CAST(inter AS DOUBLE)/CAST(la + lb - inter AS DOUBLE) AS jaccard
        |FROM v WHERE CAST(inter AS DOUBLE)/CAST(la + lb - inter AS DOUBLE) >= 0.5""".stripMargin),
    // N2 — ASYMMETRIC containment pairs |A∩B|/min(|A|,|B|): the
    // quote/subset detector jaccard misses; rare-anchor candidates
    // (df ≤ 64, the cap replayed in the oracle), exact verify
    QuerySpec("containment_pairs", (s, d) =>
      Dedup.containmentPairs(docs(s, d), "doc_id", "text",
        threshold = 0.8, dfCap = 64),
      // the rare-anchor df cap is part of the operator contract and
      // replays here verbatim; containment verified on the raw shingle
      // sets (same sets the hashed kernel intersects)
      s"""WITH $shinglesCte,
        |gr AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |dfc AS (SELECT g FROM gr GROUP BY g
        |  HAVING count(*) > 1 AND count(*) <= 64),
        |anch AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
        |  FROM gr a JOIN gr b ON a.g = b.g AND a.doc_id < b.doc_id
        |  JOIN dfc ON dfc.g = a.g),
        |v AS (SELECT ia, ib,
        |  CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
        |  CAST(len(a.s) AS BIGINT) AS la, CAST(len(b.s) AS BIGINT)
        |    AS lb
        |  FROM anch JOIN sh a ON a.doc_id = ia
        |  JOIN sh b ON b.doc_id = ib)
        |SELECT ia AS doc_a, ib AS doc_b, la AS n_a, lb AS n_b,
        |  CAST(inter AS DOUBLE) / CAST(least(la, lb) AS DOUBLE)
        |    AS containment
        |FROM v
        |WHERE CAST(inter AS DOUBLE) / CAST(least(la, lb) AS DOUBLE)
        |  >= 0.8""".stripMargin),
    // N2 — SimHash near-dup, pigeonhole-exact chunk banding
    QuerySpec("simhash_pairs", (s, d) =>
      Dedup.simhashPairs(docs(s, d), "doc_id", "text", maxDist = 3),
      simhashOracle(3)),
    // N2 — embedding-cosine near-dup via hyperplane-LSH banding, at a
    // SCALE-PLAUSIBLE threshold (0.7): here the per-bit collision
    // probability of a qualifying pair (0.747) separates from the
    // random-pair 0.5, so banding prunes and output tracks true
    // near-dup structure — linear in n, not the ~n² tail a low floor
    // has on unclustered data (r12's 20×-at-10×-data finding). The
    // fixture embeddings are near-random (zero natural pairs at 0.7),
    // so the row PLANTS deterministic near-dups — every 17th vector
    // re-enters with its last dimension negated, cos = 1 − 2·q_d²/Σq²
    // ≈ 0.97 in exact quantized integers — the link_rank
    // synthetic-edge precedent. Bands sized by lshPlan for the floor.
    QuerySpec("embedding_pairs", (s, d) => {
      val e = emb(s, d)
      val planted = e.filter(col("vec_id") % 17 === 0)
        .select((col("vec_id") + lit(1000000000L)).as("vec_id"),
          expr("transform(embedding, (x, i) -> CASE WHEN " +
            "i = size(embedding) - 1 THEN -x ELSE x END)")
            .as("embedding"))
      val plan = Dedup.lshPlan(1.0 - math.acos(0.7) / math.Pi, 1e-7)
      Dedup.embeddingPairs(
        e.select("vec_id", "embedding").unionByName(planted),
        "vec_id", "embedding", threshold = 0.7,
        bands = plan.bands, rowsPerBand = plan.rowsPerBand)
    },
      // brute-force all-pairs over the SAME augmented set (originals +
      // every-17th vector with its last dim negated, id-shifted 1e9)
      s"""WITH aug AS (SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 1000000000, list_transform(embedding,
         |    (x, i) -> CASE WHEN i = len(embedding) THEN -x ELSE x END)
         |  FROM embeddings WHERE vec_id % 17 = 0),
         |q AS (SELECT vec_id,
         |  list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
         |  FROM aug),
         |n AS (SELECT vec_id, qv,
         |  list_sum(list_transform(qv, x -> x*x)) AS nn FROM q),
         |p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
         |  CAST($dotAb AS DOUBLE)
         |    / sqrt(CAST(a.nn AS DOUBLE) * CAST(b.nn AS DOUBLE)) AS cosine
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |SELECT va AS vec_a, vb AS vec_b, cosine FROM p
         |WHERE cosine >= 0.7""".stripMargin),
    // N2 — the θ=0.4 form, kept as an EXPLICITLY OUTPUT-BOUNDED
    // contract: at a floor where random 64-d pairs pass at p≈3e-4 the
    // result set is inherently ~n² on unclustered data (no banding
    // can prune it — the per-bit discrimination ratio is 1.26), so
    // the registered input is CAPPED at 8192 vectors; beyond sf0.1
    // the row's cost is scale-invariant by construction. Uncapped
    // low-floor mining on a real corpus should go through
    // semantic_dedup (cluster-structured) or paraphrase_mine's
    // higher floor instead.
    QuerySpec("embedding_pairs_lowt", (s, d) =>
      Dedup.embeddingPairs(emb(s, d).filter(col("vec_id") < 8192),
        "vec_id", "embedding", threshold = 0.4),
      s"""WITH qc AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id < 8192),
         |q AS (SELECT vec_id,
         |  list_transform(embedding,
         |    x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
         |  FROM qc),
         |n AS (SELECT vec_id, qv,
         |  list_sum(list_transform(qv, x -> x*x)) AS nn FROM q),
         |p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
         |  CAST($dotAb AS DOUBLE)
         |    / sqrt(CAST(a.nn AS DOUBLE) * CAST(b.nn AS DOUBLE)) AS cosine
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |SELECT va AS vec_a, vb AS vec_b, cosine FROM p
         |WHERE cosine >= 0.4""".stripMargin),
    // N2 — paraphrase mining: semantically near (cosine ≥ 0.5, the
    // fixture's structure ceiling; production sets 0.8) yet lexically
    // far (shingle jaccard < 0.3) — the pair class lexical dedup and
    // decontamination cannot catch. Banded semantic candidates sized
    // by lshPlan for the floor + one codegen merge-walk per survivor
    QuerySpec("paraphrase_mine", (s, d) =>
      Dedup.paraphrasePairs(emb(s, d), docs(s, d), "vec_id",
        "embedding", "doc_id", "text"),
      // brute-force cosine ≥ 0.5 + exact 3-word-shingle jaccard on the
      // joined texts (raw strings here, hashed 64-bit sets in the op —
      // the setsim_join trade); empty∪empty pairs are jaccard 1 and
      // excluded, matching the op's no-lexical-evidence contract
      paraphraseMineSql("")),
    // N3 — brute-force top-k cosine (small broadcast query set)
    QuerySpec("topk_cosine", (s, d) => {
      val e = emb(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5)
    },
      topkCosineOracle),
    // N3 — same ranking through the GroupedTopK custom operator
    // (logical node + planner strategy + bounded-heap exec); same
    // oracle SQL as topk_cosine proves plan-level equivalence
    QuerySpec("topk_cosine_exec", (s, d) => {
      val e = emb(s, d)
      Similarity.bruteForceTopKExec(e, e.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5)
    },
      topkCosineOracle),
    // N3 — margin-based bitext/pair mining (CCMatrix/LASER scoring):
    // best cross-label match per BOUNDED anchor batch (1024 smallest-
    // id label-0 vectors — binding only at sf1+; fixtures have ≤ 200
    // per label), ranked by cosine normalized against both endpoints'
    // in-batch k-NN neighborhood means — exact-integer cosines +
    // rank-ordered IEEE folds keep every margin bit-identical to the
    // DuckDB refold. The r13 unbounded form was a disguised cartesian
    // (45×/decade at sf10); candidates now stream, anchors broadcast.
    QuerySpec("margin_mine", (s, d) =>
      Similarity.marginMine(emb(s, d), "vec_id", "embedding", "label",
        labelA = 0, labelB = 1, k = 4, maxAnchors = 1024),
      s"""WITH $quantCte,
         |xs AS (SELECT n.vec_id AS x_id, n.qv, n.nn FROM n
         |  JOIN embeddings e ON e.vec_id = n.vec_id WHERE e.label = 0
         |  ORDER BY n.vec_id LIMIT 1024),
         |ys AS (SELECT n.vec_id AS y_id, n.qv, n.nn FROM n
         |  JOIN embeddings e ON e.vec_id = n.vec_id WHERE e.label = 1),
         |pairs AS (SELECT a.x_id, b.y_id,
         |  CAST($dotAb AS DOUBLE)
         |    / sqrt(CAST(a.nn AS DOUBLE) * CAST(b.nn AS DOUBLE)) AS cosine
         |  FROM xs a CROSS JOIN ys b),
         |rx AS (SELECT x_id, cosine, row_number() OVER (PARTITION BY x_id
         |  ORDER BY cosine DESC, y_id) AS rnk FROM pairs),
         |px AS (SELECT x_id, list_reduce(
         |    list(CAST(cosine AS DOUBLE) ORDER BY rnk),
         |    (acc, v) -> acc + v) / 4 AS pen_x
         |  FROM rx WHERE rnk <= 4 GROUP BY x_id),
         |ry AS (SELECT y_id, cosine, row_number() OVER (PARTITION BY y_id
         |  ORDER BY cosine DESC, x_id) AS rnk FROM pairs),
         |py AS (SELECT y_id, list_reduce(
         |    list(CAST(cosine AS DOUBLE) ORDER BY rnk),
         |    (acc, v) -> acc + v) / 4 AS pen_y
         |  FROM ry WHERE rnk <= 4 GROUP BY y_id),
         |m AS (SELECT p.x_id, p.y_id, p.cosine,
         |  p.cosine * 2.0 / (px.pen_x + py.pen_y) AS margin
         |  FROM pairs p JOIN px USING (x_id) JOIN py USING (y_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY x_id
         |  ORDER BY margin DESC, y_id) AS mrk FROM m)
         |SELECT x_id, y_id, cosine, margin FROM r WHERE mrk = 1""".stripMargin),
    // N3 — embedding-space health: pairwise cosine between per-SOURCE
    // centroids (cos of sums == cos of means, so the whole chain to
    // the final cosine is exact integer arithmetic; raw vectors never
    // shuffle — only groups×dim BIGINT sums do)
    QuerySpec("centroid_separation", (s, d) =>
      Similarity.centroidSeparation(emb(s, d), "vec_id", "embedding",
        docs(s, d), "doc_id", "source"),
      """WITH q AS (SELECT d.source AS grp,
        |    list_transform(e.embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
        |u AS (SELECT grp, unnest(qv) AS v,
        |    unnest(range(1, len(qv) + 1)) AS pos FROM q),
        |sm AS (SELECT grp, pos, CAST(sum(v) AS BIGINT) AS sv
        |  FROM u GROUP BY 1, 2),
        |cnt AS (SELECT grp, count(*) AS n FROM q GROUP BY 1),
        |nrm AS (SELECT grp, CAST(sum(sv * sv) AS BIGINT) AS nn
        |  FROM sm GROUP BY 1),
        |dots AS (SELECT a.grp AS src_a, b.grp AS src_b,
        |    CAST(sum(a.sv * b.sv) AS BIGINT) AS dot
        |  FROM sm a JOIN sm b ON a.pos = b.pos AND a.grp < b.grp
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, na.n AS n_a, nb.n AS n_b, dot,
        |  CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(nna.nn AS DOUBLE)) * sqrt(CAST(nnb.nn AS DOUBLE)))
        |    AS cos
        |FROM dots
        |JOIN cnt na ON na.grp = src_a JOIN cnt nb ON nb.grp = src_b
        |JOIN nrm nna ON nna.grp = src_a
        |JOIN nrm nnb ON nnb.grp = src_b""".stripMargin),
    // N3 scale path — IVF top-k. The coarse quantizer is driver-trained
    // k-means (deterministic, but not SQL-recomputable), so the oracle
    // reads the MATERIALIZED cell assignments (written here to
    // `ivfCellsDir` at plan-build time) and recomputes exact top-k
    // within the probed cells — full hash equivalence, no rows-only gap.
    QuerySpec("ivf_topk", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 8)
      val cts = centroids32("all", s, d, e)
      writeSides(ivfCellsDir)(
        Similarity.ivfCells(e, "vec_id", "embedding", cts, n = 2),
        Similarity.ivfCells(q, "vec_id", "embedding", cts, n = 12))
      Similarity.ivfTopKWith(cts, e, q, "vec_id", "embedding",
        k = 5, nProbe = 12, nAssign = 2)
    },
      s"""WITH $quantCte,
         |${cellCand(ivfCellsDir)},
         |$rerankTop5""".stripMargin),
    // N3 — FILTERED vector search (pre-filter strategy): top-5 among
    // even-label corpus vectors only, probes widened 12→16 for the
    // thinner cells; own cells sidecar so the oracle reranks exactly
    // within the probed, predicate-eligible set
    QuerySpec("ivf_topk_filtered", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 8)
      val cts = centroids32("all", s, d, e)
      val pred = col("label") % 2 === 0
      writeSides(ivfFiltCellsDir)(
        Similarity.ivfCells(e.filter(pred), "vec_id", "embedding", cts,
          n = 2),
        Similarity.ivfCells(q, "vec_id", "embedding", cts, n = 16))
      Similarity.ivfTopKFiltered(cts, e, pred, q, "vec_id",
        "embedding", k = 5, nProbe = 16, nAssign = 2)
    },
      // the ivf_topk rerank over the FILTERED sidecar (corpus side
      // already predicate-restricted at materialization)
      s"""WITH $quantCte,
         |${cellCand(ivfFiltCellsDir)},
         |$rerankTop5""".stripMargin),
    // N3 — INCREMENTAL ANN: the daily-delta twin of dedup_incremental
    // for vectors. Corpus (doc_id % 5 != 0) builds a PERSISTED IVF
    // index artifact (vec_id, cell, quantized vec, self-dot) once; the
    // batch (the other 20%) probes the read-back artifact without
    // touching raw corpus vectors — per-batch cost independent of how
    // many batches probed before.
    QuerySpec("ann_incremental", (s, d) => {
      val e = emb(s, d)
      val corpus = e.filter(col("vec_id") % 5 =!= 0)
      val batch = e.filter(col("vec_id") % 5 === 0)
      val cts = centroids32("corpus", s, d, corpus)
      val indexDir = Sidecars.artifact("ann_index", d)
      Similarity.ivfIndex(corpus, "vec_id", "embedding", cts, nAssign = 2)
        .write.mode("overwrite").parquet(indexDir)
      val index = Tables.parquet(s, indexDir)
      writeSides(annCellsDir)(
        index.select("vec_id", "cell"),
        Similarity.ivfCells(batch, "vec_id", "embedding", cts, n = 8))
      Similarity.ivfProbeIndex(cts, index, batch, "vec_id", "embedding",
        k = 5, nProbe = 8)
    },
      s"""WITH $quantCte,
         |${cellCand(annCellsDir)},
         |$rerankTop5""".stripMargin),
    // N3 — the PROBE-ONLY bench twin of ann_incremental: the serving
    // index is built once per dataset (annProbeArtifact); every call
    // reads it back and probes, what production pays per daily batch.
    // Output is row-identical to ann_incremental (same deterministic
    // centroid training, corpus/batch split, and probe parameters).
    QuerySpec("ann_incremental_probe", (s, d) => {
      val e = emb(s, d)
      val batch = e.filter(col("vec_id") % 5 === 0)
      val (cts, indexDir) = annProbeArtifact(s, d)
      val index = Tables.parquet(s, indexDir)
      writeSides(annProbeCellsDir)(
        index.select("vec_id", "cell"),
        Similarity.ivfCells(batch, "vec_id", "embedding", cts, n = 8))
      Similarity.ivfProbeIndex(cts, index, batch, "vec_id", "embedding",
        k = 5, nProbe = 8)
    },
      s"""WITH $quantCte,
         |${cellCand(annProbeCellsDir)},
         |$rerankTop5""".stripMargin),
    // N3 streaming twin, batch path — the ANN SERVING shape: query
    // vectors probe the IVF index and rank via the mergeable
    // bounded-heap TopKAgg (k hits of state per key — the
    // streaming-legal rank), windowed on a deterministic synthetic
    // event time. The true streaming path (watermark, RocksDB,
    // micro-batches) is AnnStreamSpec's contract; rows here must equal
    // ann_incremental's plus the window column.
    QuerySpec("ann_stream_probe", (s, d) => {
      val e = emb(s, d)
      val corpus = e.filter(col("vec_id") % 5 =!= 0)
      val batch = e.filter(col("vec_id") % 5 === 0)
        .withColumn("ts", timestamp_seconds(col("vec_id") * 60))
      val cts = centroids32("corpus", s, d, corpus)
      val index = Similarity.ivfIndex(corpus, "vec_id", "embedding", cts,
        nAssign = 2)
      writeSides(annStreamCellsDir)(
        index.select("vec_id", "cell"),
        Similarity.ivfCells(batch, "vec_id", "embedding", cts, n = 8))
      graft.streaming.AnnStream.ivfProbeStream(cts, index, batch,
          "vec_id", "embedding", "ts", k = 5, nProbe = 8,
          windowDur = "1 hour")
        .select(col("window.start").as("w_start"), col("query_id"),
          col("neighbor_id"), col("rnk"), col("cosine"))
    },
      s"""WITH $quantCte,
         |${cellCand(annStreamCellsDir)},
         |$rerankCtes
         |SELECT make_timestamp((query_id*60)//3600*3600*1000000)
         |    AS w_start,
         |  query_id, neighbor_id, rnk, cosine FROM r WHERE rnk <= 5""".stripMargin),
    // N3 — IVF INDEX MAINTENANCE: the day-2 operation of a persisted
    // vector store — delete tombstoned ids, upsert the day's delta,
    // centroids FIXED (retraining is a scheduled rebuild, not
    // maintenance). The probe runs over the maintained index, and the
    // oracle's corpus-side cell assignments are recomputed FROM
    // SCRATCH over the final corpus — so a green hash proves the
    // maintained index is row-equivalent to a full rebuild, the
    // invariant that makes daily delta-cost (broadcast anti-join +
    // delta map) safe to run for months.
    QuerySpec("ann_index_upsert", (s, d) => {
      val e = emb(s, d)
      val isBatch = col("vec_id") % 5 === 0
      val corpus0 = e.filter(!isBatch && col("vec_id") % 7 =!= 0)
      val adds = e.filter(!isBatch && col("vec_id") % 7 === 0)
      val dels = e.filter(col("vec_id") % 11 === 0)
      val batch = e.filter(isBatch)
      val cts = centroids32("corpus0", s, d, corpus0)
      val maintained = Similarity.ivfIndexUpsert(
        Similarity.ivfIndexDelete(
          Similarity.ivfIndex(corpus0, "vec_id", "embedding", cts,
            nAssign = 2),
          dels, "vec_id"),
        adds, "vec_id", "embedding", cts, nAssign = 2)
      // final corpus after delete-then-upsert: (corpus0 minus dels)
      // plus ALL adds (an added id tombstoned earlier is re-added)
      val finalCorpus = e.filter(!isBatch &&
        ((col("vec_id") % 7 =!= 0 && col("vec_id") % 11 =!= 0) ||
          col("vec_id") % 7 === 0))
      writeSides(annUpsertCellsDir)(
        Similarity.ivfCells(finalCorpus, "vec_id", "embedding", cts, n = 2),
        Similarity.ivfCells(batch, "vec_id", "embedding", cts, n = 8))
      Similarity.ivfProbeIndex(cts, maintained, batch, "vec_id",
        "embedding", k = 5, nProbe = 8)
    },
      s"""WITH $quantCte,
         |${cellCand(annUpsertCellsDir)},
         |$rerankTop5""".stripMargin),
    // N3 — per-cell posting census of the persisted index: the skew
    // signal (probe tail latency follows the largest probed cell)
    // that schedules the rare retrain. Oracle recomputes assignments
    // from scratch and aggregates in SQL.
    QuerySpec("ann_cell_stats", (s, d) => {
      val e = emb(s, d)
      val corpus = e.filter(col("vec_id") % 5 =!= 0)
      val cts = centroids32("corpus", s, d, corpus)
      Sidecars.writeOracleInput(annCellStatsDir) {
        Similarity.ivfCells(corpus, "vec_id", "embedding", cts, n = 2)
          .withColumn("side", lit("c"))
      }
      Similarity.ivfCellStats(
          Similarity.ivfIndex(corpus, "vec_id", "embedding", cts,
            nAssign = 2))
        .select(col("cell").cast(LongType).as("cell"),
          col("n_postings"), col("min_vec_id"), col("max_vec_id"))
    },
      s"""SELECT CAST(cell AS BIGINT) AS cell,
         |  count(*) AS n_postings,
         |  min(vec_id) AS min_vec_id,
         |  max(vec_id) AS max_vec_id
         |FROM '$annCellStatsDir/*.parquet' WHERE side = 'c'
         |GROUP BY 1""".stripMargin),
    // N3 — the PERSISTED posting-store form of index maintenance:
    // the same delete/upsert day as ann_index_upsert, but applied as
    // an append-only changelog on disk (AnnIndexStore: seq'd posting
    // generations + tombstones, latest-wins read, no rewrite of
    // untouched files) and probed from the read-back store. The
    // oracle recomputes the final corpus' cells from scratch, so a
    // green hash proves changelog-resolution == rebuild through the
    // persisted bytes.
    QuerySpec("ann_index_store", (s, d) => {
      // store build + cells sidecar are built once per dataset
      // (annStoreArtifact); later calls time the latest-wins read +
      // probe. Maintenance-day cost stays benchmarked by
      // ann_index_upsert.
      val (cts, store) = annStoreArtifact(s, d)
      val e = emb(s, d)
      val batch = e.filter(col("vec_id") % 5 === 0)
      val maintained = graft.sources.AnnIndexStore.read(s, store)
      Similarity.ivfProbeIndex(cts, maintained, batch, "vec_id",
        "embedding", k = 5, nProbe = 8)
    },
      s"""WITH $quantCte,
         |${cellCand(annStoreCellsDir)},
         |$rerankTop5""".stripMargin),
    // N3 — INCREMENTAL ANN over the COMPRESSED index: ann_incremental
    // persists raw-quantized postings; a 100 TB vector store persists
    // IVF cells + PQ codes (ivfPqIndex, ~24 B/posting) as the serving
    // artifact instead. The batch probes the read-back index (ADC
    // candidates touch only codes), and the exact refine fetches the
    // bounded survivor set from the corpus by key. Oracle sidecars
    // (cells + codes) DERIVE FROM THE ARTIFACT, so the hash check
    // covers the persisted bytes, not a parallel in-memory build.
    QuerySpec("ann_incremental_ivfpq", (s, d) => {
      val e = emb(s, d)
      val corpus = e.filter(col("vec_id") % 5 =!= 0)
      val batch = e.filter(col("vec_id") % 5 === 0)
      val cts = centroids32("corpus", s, d, corpus)
      val cbs = pqCodebooks("corpus", s, d, corpus)
      val indexDir = Sidecars.artifact("ann_ivfpq_index", d)
      Similarity.ivfPqIndex(corpus, "vec_id", "embedding", cts, cbs,
          nAssign = 2)
        .write.mode("overwrite").parquet(indexDir)
      val index = Tables.parquet(s, indexDir)
      // probe width DERIVES from the cell count (Similarity.
      // ivfPqProbePlan — the k/32 rule the recall gate uses, now
      // inherited by the serving path); the sidecar's probed-cell
      // set must derive identically so the oracle replays the same
      // candidates
      val (npD, _) = Similarity.ivfPqProbePlan(cts.length)
      writeSides(annIvfpqCellsDir)(
        index.select("vec_id", "cell"),
        Similarity.ivfCells(batch, "vec_id", "embedding", cts, n = npD))
      Sidecars.writeOracleInput(annIvfpqCodesDir) {
        index.dropDuplicates("vec_id")
          .select(col("vec_id"),
            posexplode(col("codes")).as(Seq("subspace", "code")))
          .select(col("vec_id"),
            col("subspace").cast(LongType).as("subspace"),
            col("code").cast(LongType).as("code"))
      }
      Sidecars.writeOracleInput(annIvfpqCodebookDir) {
        Similarity.pqCodebookTable(s, cbs)
      }
      // nProbe/rerankFactor omitted → the derived ivfPqProbePlan
      // (byte-identical at fixture scale where cts.length = 32)
      Similarity.ivfPqProbeIndex(cts, cbs, index, corpus, batch,
        "vec_id", "embedding", k = 5)
    },
      // the ivf_topk oracle pattern over ann_incremental's materialized
      // cells: candidates = corpus-index cells x batch probe cells,
      // exact quantized cosine, top-5
      // the ivfpq_topk ADC replay, but over sidecars DERIVED from the
      // persisted serving index (cells+codes are the artifact's bytes);
      // queries are the 20% batch, candidates the 80% corpus
      s"""WITH $quantCte,
         |qs AS (SELECT vec_id, qv, nn FROM n WHERE vec_id % 5 = 0),
         |${cellCand(annIvfpqCellsDir, "cand0")},
         |${pqCodeCtes(annIvfpqCodesDir, annIvfpqCodebookDir)},
         |$cellAdcContrib,
         |$adcReconCtes,
         |kc AS (SELECT GREATEST(32, CAST(round(32 * sqrt(
         |    count(*) / 2000.0)) AS BIGINT)) AS kcells
         |  FROM embeddings WHERE vec_id % 5 <> 0),
         |cut AS (SELECT 5 * GREATEST(20, CAST(ceil(
         |    20 * (kcells / 32.0)) AS BIGINT)) AS rcut FROM kc),
         |${candWindow("recon_cos DESC", "recon", "(SELECT rcut FROM cut)")},
         |$rerankTop5""".stripMargin),
    // N3 — driver-visible recall gate for the IVF scale path: recall@5
    // vs the IN-PLAN exact top-k (same corpus, 50 queries), emitted as
    // one boolean row. Hashes equal to the oracle's `true` iff recall
    // >= 0.9 — the approx_distinct tolerance pattern, so the
    // approximate operator's quality is checked by the correctness
    // gate itself, not only by LshRecallSpec.
    QuerySpec("ivf_recall", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 50)
      recallGate(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
        Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 5,
          nCentroids = 32, nProbe = 12, nAssign = 2),
        floor = 0.9)
    },
      recallGateOracle),
    // N3 — the filtered path holds the same floor: exact FILTERED
    // brute force vs the pre-filter IVF at the widened probe count —
    // the gate that proves widening 12→16 actually restored recall
    // over the thinner cells
    QuerySpec("ivf_filtered_recall", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 50)
      val pred = col("label") % 2 === 0
      recallGate(
        Similarity.bruteForceTopK(e.filter(pred), q, "vec_id",
          "embedding", k = 5),
        Similarity.ivfTopKFiltered(
          Similarity.trainCentroids(e, "vec_id", "embedding", 32,
            sampleCap = 4096),
          e, pred, q, "vec_id", "embedding", k = 5, nProbe = 16,
          nAssign = 2),
        floor = 0.9)
    },
      // the recall gate's exact side restricted to the predicate-
      // eligible corpus (labels joined back from embeddings)
      s"""WITH $quantCte,
         |qs AS (SELECT vec_id, qv, nn FROM n WHERE vec_id < 50),
         |cf AS (SELECT n.vec_id, qv, nn FROM n
         |  JOIN embeddings e ON e.vec_id = n.vec_id
         |  WHERE e.label % 2 = 0),
         |scored AS (SELECT b.vec_id AS query_id,
         |  a.vec_id AS neighbor_id,
         |  CAST($dotAb AS DOUBLE)
         |    / sqrt(CAST(a.nn AS DOUBLE) * CAST(b.nn AS DOUBLE))
         |    AS cosine
         |  FROM cf a JOIN qs b ON a.vec_id <> b.vec_id),
         |r AS (SELECT query_id,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS rnk
         |  FROM scored)
         |SELECT count(*) AS n_exact, true AS recall_ok
         |FROM r WHERE rnk <= 5""".stripMargin),
    // N3 — same gate for the hyperplane-LSH path. The asserted floor is
    // the documented multiprobe floor 0.25, NOT 0.9: this fixture's true
    // neighbors sit at cosine ~0.3-0.4 where 8-bit sign-LSH recall is
    // bounded by construction (see Similarity.lshTopK scaladoc and
    // LshRecallSpec) — ivfTopK is the scale path for such corpora.
    // N3 — Matryoshka truncation evaluation: recall@5 of exact top-k
    // over the FIRST 16/32/48 dims vs the full 64 — the
    // dimension-truncation study that decides what an ANN tier can
    // serve (MRL serving trades dims for memory); a MEASUREMENT row
    // (exact integer dot chains at every width), not a gate — the
    // fixture's random embeddings have no matryoshka structure, so
    // the numbers are the honest baseline a trained-MRL model beats
    QuerySpec("mrl_eval", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 50)
      val exact = Similarity.bruteForceTopK(e, q, "vec_id",
          "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"))
        // materialized once (r15): this 250-row frame is joined in
        // every per-dim union branch, and each branch otherwise
        // re-ran the full-dim brute-force pass (4 corpus scans → 6)
        .localCheckpoint()
      Seq(16, 32, 48).map { dim =>
        val eT = e.withColumn("embedding",
          expr(s"slice(embedding, 1, $dim)"))
        val approx = Similarity.bruteForceTopK(eT,
            eT.filter(col("vec_id") < 50), "vec_id", "embedding", k = 5)
          .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
        // no broadcast hint (the recallGate rationale): the ranked
        // frame is tiny at runtime but its subtree holds the raw
        // corpus scan — AQE broadcasts the true size at execution
        exact.join(approx,
            col("query_id") === col("aq") &&
              col("neighbor_id") === col("an"), "left")
          .agg(count(lit(1)).as("n_exact"), count(col("aq")).as("n_hit"))
          .select(lit(dim.toLong).as("dim"), col("n_exact"),
            col("n_hit"),
            (col("n_hit").cast(DoubleType) /
              col("n_exact").cast(DoubleType)).as("recall"))
      }.reduce(_ unionAll _)
    },
      // full replay at every width: quantized slices (round-then-slice
      // == slice-then-round, the transform is per-element), the same
      // (cosine DESC, neighbor_id) rank, hit counts by pair join
      {
        def dimCtes(dm: String, slice: String) =
          s"""q$dm AS (SELECT vec_id, list_transform($slice,
             |  x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
             |  FROM embeddings),
             |n$dm AS (SELECT vec_id, qv,
             |  list_sum(list_transform(qv, x -> x*x)) AS nn FROM q$dm),
             |s$dm AS (SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
             |  CAST(list_sum(list_transform(range(1, len(a.qv)+1),
             |    i -> a.qv[i]*b.qv[i])) AS DOUBLE)
             |    / sqrt(CAST(a.nn AS DOUBLE)*CAST(b.nn AS DOUBLE)) AS cosine
             |  FROM n$dm a JOIN (SELECT * FROM n$dm WHERE vec_id < 50) b
             |    ON a.vec_id <> b.vec_id),
             |r$dm AS (SELECT query_id, neighbor_id FROM
             |  (SELECT query_id, neighbor_id, row_number() OVER
             |    (PARTITION BY query_id
             |     ORDER BY cosine DESC, neighbor_id) AS rk FROM s$dm)
             |  WHERE rk <= 5)""".stripMargin
        def row(dm: Int) =
          s"""SELECT CAST($dm AS BIGINT) AS dim,
             |  (SELECT count(*) FROM rf) AS n_exact,
             |  (SELECT count(*) FROM rf JOIN r$dm
             |     USING (query_id, neighbor_id)) AS n_hit,
             |  CAST((SELECT count(*) FROM rf JOIN r$dm
             |     USING (query_id, neighbor_id)) AS DOUBLE)
             |    / CAST((SELECT count(*) FROM rf) AS DOUBLE)
             |    AS recall""".stripMargin
        s"""WITH ${dimCtes("f", "embedding")},
           |${Seq(16, 32, 48).map(dm =>
             dimCtes(dm.toString, s"embedding[1:$dm]")).mkString(",\n")}
           |${Seq(16, 32, 48).map(row).mkString("\nUNION ALL\n")}"""
          .stripMargin
      },
      barrier = true),
    QuerySpec("lsh_recall", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 50)
      recallGate(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
        Similarity.lshTopK(e, q, "vec_id", "embedding", k = 5),
        floor = 0.25)
    },
      recallGateOracle,
      barrier = true),
    // N3 compressed-scan path — PQ top-k (ADC candidates over 16
    // one-byte codes/row + exact rerank of the top 10k). The codebooks
    // are driver-trained (deterministic, not SQL-recomputable), so the
    // oracle reads the MATERIALIZED per-subspace code assignments and
    // codebook table and replays the exact integer ADC chain — full
    // hash equivalence, no rows-only gap (the ivf_topk pattern).
    // Parameters from the PqSpec sweep: m=16/cps=32/rf=10 = recall
    // .964 on the 50-query gate at 16x scan compression.
    QuerySpec("pq_topk", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 8)
      val cbs = pqCodebooks("all", s, d, e)
      Sidecars.writeOracleInput(pqCodesDir) {
        Similarity.pqCodes(e, "vec_id", "embedding", cbs)
      }
      Sidecars.writeOracleInput(pqCodebookDir) {
        Similarity.pqCodebookTable(s, cbs)
      }
      Similarity.pqTopK(cbs, e, q, "vec_id", "embedding",
        k = 5, rerankFactor = 40)
    },
      // replay the exact ADC chain over the MATERIALIZED codes+codebook:
      // same candidate window (reconstructed cosine from integer adc and
      // norms), same exact rerank — every double is the same one-division
      // chain, so the output hash-matches bit-for-bit
      s"""WITH $quantCte,
         |qs AS (SELECT vec_id, qv, nn FROM n WHERE vec_id < 8),
         |${pqCodeCtes(pqCodesDir, pqCodebookDir)},
         |contrib AS (SELECT c.vec_id AS neighbor_id, q.vec_id AS query_id,
         |  list_sum(list_transform(range(1, len(cb.centroid)+1),
         |    i -> cb.centroid[i] * q.qv[cb.sub_off + i])) AS part
         |  FROM codes c
         |  JOIN cb ON c.subspace = cb.subspace AND c.code = cb.code
         |  JOIN qs q ON c.vec_id <> q.vec_id),
         |$adcReconCtes,
         |${candWindow("recon_cos DESC", "recon", "200")},
         |$rerankTop5""".stripMargin),
    // N3 — recall gate for the PQ path (the ivf_recall pattern). The
    // ADC candidate window is rf=40 (200 deep), measured (recall@5
    // vs exact top-5, the figures below are the record):
    // like BQ, a fixed-depth window loses recall as the corpus grows —
    // rf=10 held 0.964 at 500 vectors but fell to 0.888 at 5000;
    // rf=40 gives 0.988 there, and the exact rerank still touches a
    // bounded 200 vectors per query, corpus-size independent.
    QuerySpec("pq_recall", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 50)
      val cbs = pqCodebooks("all", s, d, e)
      recallGate(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
        Similarity.pqTopK(cbs, e, q, "vec_id", "embedding",
          k = 5, rerankFactor = 40),
        floor = 0.9)
    },
      recallGateOracle),
    // N3 — binary-quantization (sign-bit) top-k: 256-bit hyperplane
    // signatures, XOR+popcount candidate scan (8× compression vs
    // float32), exact quantized-cosine rerank on the 100-deep window.
    // Signatures materialize for the oracle (pq_topk pattern).
    QuerySpec("bq_topk", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 8)
      writeSides(bqSigsDir)(
        Similarity.bqSignatures(e, "vec_id", "embedding", 256),
        Similarity.bqSignatures(q, "vec_id", "embedding", 256))
      Similarity.bqTopK(e, q, "vec_id", "embedding", k = 5,
        nBits = 256, rerankFactor = 80)
    },
      // hamming + rerank replayed over the MATERIALIZED signatures: the
      // candidate window is the same (ham, neighbor_id)-ordered top-50,
      // the rerank the same quantized-cosine chain — bit-exact across
      // engines (xor/bit_count on int64 are two's-complement in both)
      s"""WITH $quantCte,
         |sc AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |  CAST(s0 AS BIGINT) AS s0, CAST(s1 AS BIGINT) AS s1,
         |  CAST(s2 AS BIGINT) AS s2, CAST(s3 AS BIGINT) AS s3
         |  FROM '$bqSigsDir/*.parquet' WHERE side = 'c'),
         |sq AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |  CAST(s0 AS BIGINT) AS s0, CAST(s1 AS BIGINT) AS s1,
         |  CAST(s2 AS BIGINT) AS s2, CAST(s3 AS BIGINT) AS s3
         |  FROM '$bqSigsDir/*.parquet' WHERE side = 'q'),
         |h AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  CAST(bit_count(xor(c.s0, q.s0)) AS BIGINT)
         |     + CAST(bit_count(xor(c.s1, q.s1)) AS BIGINT)
         |     + CAST(bit_count(xor(c.s2, q.s2)) AS BIGINT)
         |     + CAST(bit_count(xor(c.s3, q.s3)) AS BIGINT) AS ham
         |  FROM sc c JOIN sq q ON c.vec_id <> q.vec_id),
         |${candWindow("ham", "h", "400")},
         |$rerankCtes
         |SELECT query_id, neighbor_id, rnk, cosine
         |FROM r WHERE rnk <= 5""".stripMargin),
    // N3 — recall gate for the BQ path (ivf_recall pattern). The
    // candidate window is rf=80 (400 deep), measured (recall@5 vs
    // exact top-5, the figures below are the record): a
    // sign-only 256-bit code needs a deeper window as the corpus
    // grows — rf=20 holds 0.9 at 500 vectors but drops to 0.856 at
    // 5000, rf=80 gives 0.984 there (and the rerank still touches a
    // bounded 400 vectors per query, corpus-size independent).
    QuerySpec("bq_recall", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 50)
      recallGate(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
        Similarity.bqTopK(e, q, "vec_id", "embedding", k = 5,
          nBits = 256, rerankFactor = 80),
        floor = 0.9)
    },
      recallGateOracle),
    // N3 — scalar-quantization (SQ8) top-k: per-dimension int8 codes
    // against corpus max-abs scales (one calibration aggregate),
    // exact integer scaled-dot candidate scan + exact rerank. Codes
    // and scales materialize for the oracle (pq_topk pattern).
    QuerySpec("sq8_topk", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 8)
      val maxs = Similarity.sq8Calibrate(e, "embedding", 64)
      writeSides(sq8CodesDir)(
        Similarity.sq8Codes(e, "vec_id", "embedding", maxs),
        Similarity.sq8Codes(q, "vec_id", "embedding", maxs))
      Sidecars.writeOracleInput(sq8MaxsDir) {
        import s.implicits._
        maxs.zipWithIndex.map { case (m, i) => (i.toLong, m) }.toSeq
          .toDF("dim", "m")
      }
      Similarity.sq8TopK(e, q, "vec_id", "embedding", maxs,
        k = 5, rerankFactor = 20)
    },
      // the scaled-dot candidate scan + exact rerank replayed over the
      // MATERIALIZED codes and per-dim scales: Σ a_d·b_d·m_d² is plain
      // int64 arithmetic in both engines
      s"""WITH $quantCte,
         |ml AS (SELECT list(m ORDER BY dim) AS ml
         |  FROM '$sq8MaxsDir/*.parquet'),
         |cc AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, codes
         |  FROM '$sq8CodesDir/*.parquet' WHERE side = 'c'),
         |cq AS (SELECT CAST(vec_id AS BIGINT) AS vec_id, codes
         |  FROM '$sq8CodesDir/*.parquet' WHERE side = 'q'),
         |ap AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  CAST(list_sum(list_transform(range(1, len(c.codes)+1),
         |    d -> c.codes[d] * q.codes[d] * ml.ml[d] * ml.ml[d]))
         |    AS BIGINT) AS approx
         |  FROM cc c JOIN cq q ON c.vec_id <> q.vec_id, ml),
         |${candWindow("approx DESC", "ap", "100")},
         |$rerankCtes
         |SELECT query_id, neighbor_id, rnk, cosine
         |FROM r WHERE rnk <= 5""".stripMargin),
    // N3 — recall gate for the SQ8 path (ivf_recall pattern): SQ8
    // keeps magnitudes, so at the same 8x compression as BQ the gate
    // holds a higher floor
    QuerySpec("sq8_recall", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 50)
      val maxs = Similarity.sq8Calibrate(e, "embedding", 64)
      recallGate(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
        Similarity.sq8TopK(e, q, "vec_id", "embedding", maxs,
          k = 5, rerankFactor = 20),
        floor = 0.95)
    },
      recallGateOracle),
    // N3 — the IVFADC composition (FAISS IVF+PQ): cells prune, codes
    // score, exact rerank finishes. Cells/codes/codebook materialize
    // to their own dirs (identical training is deterministic, but
    // separate paths keep the queries un-coupled in one Verify run).
    QuerySpec("ivfpq_topk", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 8)
      val cts = centroids32("all", s, d, e)
      val cbs = pqCodebooks("all", s, d, e)
      writeSides(ivfpqCellsDir)(
        Similarity.ivfCells(e, "vec_id", "embedding", cts, n = 2),
        Similarity.ivfCells(q, "vec_id", "embedding", cts, n = 14))
      Sidecars.writeOracleInput(ivfpqCodesDir) {
        Similarity.pqCodes(e, "vec_id", "embedding", cbs)
      }
      Sidecars.writeOracleInput(ivfpqCodebookDir) {
        Similarity.pqCodebookTable(s, cbs)
      }
      Similarity.ivfPqTopK(cts, cbs, e, q, "vec_id", "embedding",
        k = 5, nProbe = 14, nAssign = 2, rerankFactor = 20)
    },
      // the IVFADC composition: candidates gated by the materialized
      // cell join, scored by the same replayed ADC chain as pq_topk,
      // finished by the same exact rerank
      s"""WITH $quantCte,
         |qs AS (SELECT vec_id, qv, nn FROM n WHERE vec_id < 8),
         |${cellCand(ivfpqCellsDir, "cand0")},
         |${pqCodeCtes(ivfpqCodesDir, ivfpqCodebookDir)},
         |$cellAdcContrib,
         |$adcReconCtes,
         |${candWindow("recon_cos DESC", "recon", "100")},
         |$rerankTop5""".stripMargin),
    // N3 — recall gate for the composed path (floor from PqSpec's
    // measurement on the 50-query set)
    QuerySpec("ivfpq_recall", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 50)
      val cts = centroids32("all", s, d, e)
      val cbs = pqCodebooks("all", s, d, e)
      // BOTH approximation knobs scale with the √n cell count
      // (k/32 — anchored so k=32, both committed fixture scales,
      // keeps (14, 20) byte-identical): the r12 √n rule alone let
      // recall decay and the r13 FULL sf1 gate caught it (0.828 at
      // k=101 with the fixture-scale knobs). Measured at sf1
      // (PERF_NOTES.md, r12 findings §13b): nProbe must grow with the cell count (14 →
      // recall ≤ 0.78 even with a deep rerank) AND the ADC rerank cut
      // must grow with per-cell occupancy (√n — rf=20 caps at 0.828
      // regardless of nProbe; the true neighbors rank below a FIXED
      // cut as PQ error mass grows). (45, 63) at k=101 → 0.960.
      val scale = cts.length / 32.0
      recallGate(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
        Similarity.ivfPqTopK(cts, cbs, e, q, "vec_id", "embedding",
          k = 5, nProbe = math.max(14, math.ceil(14 * scale).toInt),
          nAssign = 2,
          rerankFactor = math.max(20, math.ceil(20 * scale).toInt)),
        floor = 0.9)
    },
      recallGateOracle),
    // N3 — kNN label classification: the downstream consumer of
    // similarity search in a data pipeline (label propagation / weak
    // supervision): majority label over the exact top-5 neighbors,
    // ties to the smallest label. Corpus labels broadcast-join onto
    // the ranked pairs; one extra narrow shuffle for the vote.
    QuerySpec("knn_classify", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 50)
      val votes = Similarity
        .bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
        // no broadcast hint: the label map is the FULL corpus (id →
        // label), unbounded at scale — AQE broadcasts it while it
        // fits and shuffle-joins beyond; the ranked-pairs side is the
        // bounded one (|Q|·k rows)
        .join(e.select(col("vec_id").as("neighbor_id"),
          col("label")), Seq("neighbor_id"))
        .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(col("votes").desc, col("label").asc)
      votes.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("label").as("pred_label"),
          col("votes"))
    },
      s"""WITH $quantCte,
         |qs AS (SELECT vec_id, qv, nn FROM n WHERE vec_id < 50),
         |scored AS (SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         |  CAST($dotAb AS DOUBLE)
         |    / sqrt(CAST(a.nn AS DOUBLE) * CAST(b.nn AS DOUBLE)) AS cosine
         |  FROM n a JOIN qs b ON a.vec_id <> b.vec_id),
         |r AS (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS rnk FROM scored),
         |v AS (SELECT r.query_id, e.label, count(*) AS votes
         |  FROM r JOIN embeddings e ON r.neighbor_id = e.vec_id
         |  WHERE r.rnk <= 5 GROUP BY 1, 2),
         |p AS (SELECT query_id, label, votes,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY votes DESC, label) AS rk FROM v)
         |SELECT query_id, label AS pred_label,
         |  CAST(votes AS BIGINT) AS votes
         |FROM p WHERE rk = 1""".stripMargin),
    // N3 — hard-negative mining: per anchor, the top-5 most-similar
    // vectors with a DIFFERENT label (contrastive-training prep);
    // bounded-heap GroupedTopK ranking, exact quantized cosine
    QuerySpec("hard_negatives", (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < 50)
      Similarity.hardNegatives(e, q, "vec_id", "embedding", "label", k = 5)
    },
      // the topk_cosine chain with labels joined on both sides and the
      // different-label predicate in the pair filter
      s"""WITH $quantCte,
         |nl AS (SELECT n.vec_id, n.qv, n.nn, e.label FROM n
         |  JOIN embeddings e ON n.vec_id = e.vec_id),
         |qs AS (SELECT vec_id, qv, nn, label FROM nl WHERE vec_id < 50),
         |scored AS (SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
         |  a.label AS neg_label,
         |  CAST($dotAb AS DOUBLE)
         |    / sqrt(CAST(a.nn AS DOUBLE) * CAST(b.nn AS DOUBLE)) AS cosine
         |  FROM nl a JOIN qs b
         |  ON a.vec_id <> b.vec_id AND a.label <> b.label),
         |${rankCte(" neg_label,")}
         |SELECT query_id, neighbor_id, neg_label, rnk, cosine FROM r
         |WHERE rnk <= 5""".stripMargin),
    // N2/N3 — SemDeDup: k-means cells (same driver-trained coarse
    // quantizer as IVF), within-cell exact quantized cosine, min-id
    // greedy keep. Cell assignments materialize beside the ivf cells
    // so the oracle compares the exact same partition.
    QuerySpec("semantic_dedup", (s, d) => {
      val e = emb(s, d)
      val cts = centroids32("all", s, d, e)
      Sidecars.writeOracleInput(semdedupCellsDir) {
        Similarity.semanticCells(e, "vec_id", "embedding", cts)
      }
      Similarity.semanticDedup(e, "vec_id", "embedding", cts, tau = 0.3)
    },
      // exact within-cell pairs over the MATERIALIZED cell assignments
      // (ivf_topk pattern) — same partition, same quantized cosine, same
      // min-id greedy, so every column hash-matches including the doubles
      s"""WITH $quantCte,
         |cells AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |  CAST(cell AS BIGINT) AS cell
         |  FROM '$semdedupCellsDir/*.parquet'),
         |m AS (SELECT c.vec_id, c.cell, n.qv, n.nn
         |  FROM cells c JOIN n ON c.vec_id = n.vec_id),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  CAST($dotAb AS DOUBLE)
         |    / sqrt(CAST(a.nn AS DOUBLE) * CAST(b.nn AS DOUBLE)) AS cosine
         |  FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |s AS (SELECT id_b AS vec_id, CAST(count(*) AS BIGINT) AS n_similar,
         |  min(id_a) AS dup_of FROM p WHERE cosine >= 0.3 GROUP BY 1)
         |SELECT c.vec_id, c.cell,
         |  CAST(coalesce(s.n_similar, 0) AS BIGINT) AS n_similar,
         |  s.dup_of, s.n_similar IS NULL AS keep
         |FROM cells c LEFT JOIN s ON c.vec_id = s.vec_id""".stripMargin,
      barrier = true),
    // N4 — BM25 keyword retrieval (rational-idf variant; see
    // Retrieval scaladoc for the cross-engine exactness argument)
    // N4 — the PERSISTED serving form of keyword retrieval: a full
    // inverted-index posting store maintained by append-only deltas
    // (TextIndexStore: seq'd generations + tombstones, latest-wins per
    // doc, 64-way term-bucket partitioning), probed by the same
    // rational-BM25 chain as bm25_search. The store is built once per
    // dataset; the timed query is the daily probe of the read-back store.
    // Oracle recomputes BM25 from scratch over the final corpus —
    // green hash proves changelog-resolution == rebuild.
    QuerySpec("text_index_store", (s, d) => {
      val dir = textIndexArtifact(s, d)
      graft.sources.TextIndexStore.bm25Probe(s, dir,
        Seq("spark", "stream", "vector", "query"), k = 10)
    },
      // from-scratch BM25 over the post-changelog corpus: a green hash
      // proves the store's latest-wins resolution reproduced it exactly
      s"""WITH fin AS (SELECT doc_id, text FROM documents
        |  WHERE (doc_id % 7 <> 0 AND doc_id % 11 <> 0)
        |     OR doc_id % 7 = 0),
        |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM fin),
        |$bm25Top10""".stripMargin),
    // N4 — SEARCH-AS-A-STREAM, batch path: fixed request set (term
    // subsets over the fixture vocabulary) probing the persisted text
    // index through bm25ProbeStream's exact plan — static-side
    // precomputed BM25 partials, term-sorted deterministic fold,
    // TopKAgg ranking. The streaming run of the same function is
    // asserted stream==batch in TextIndexStoreSpec.
    QuerySpec("text_probe_stream", (s, d) => {
      // the scored-postings serving artifact, built once per dataset:
      // the timed query is the request fan-in + fold + top-k, which
      // is what a serving tier pays per trigger
      val scoredDir = Sidecars.derived("text_scored", s, d, "documents") {
        val dir = textIndexArtifact(s, d)
        val (posts, stats) = graft.sources.TextIndexStore.read(s, dir)
        val srow = stats.agg(count(lit(1)).as("n"),
          sum(col("dl")).as("sl")).head()
        val out = Sidecars.artifact("text_scored", d)
        graft.streaming.TextIndexStream
          .scorePostings(posts, srow.getLong(0), srow.getLong(1))
          .write.mode("overwrite").parquet(out)
        out
      }
      import s.implicits._
      val reqs = (0 until 8).map { r =>
        val terms = r % 4 match {
          case 0 => Seq("spark", "stream")
          case 1 => Seq("vector", "query")
          case 2 => Seq("spark", "query", "vector")
          case _ => Seq("stream")
        }
        (new java.sql.Timestamp(1700000000000L + r * 60000L),
          r.toLong, terms)
      }.toDF("ts", "req_id", "terms")
      graft.streaming.TextIndexStream.probeScored(
          Tables.parquet(s, scoredDir), reqs, "ts", "req_id",
          "terms", k = 10)
        .select(col("req_id"), col("doc_id"), col("rk"), col("score"))
    },
      // the same rational-idf BM25 chain, term order and association
      // order replicated verbatim (see Retrieval.bm25TopK scaladoc)
      // per-request replay over the post-changelog corpus: same score_t
      // rationals, the SAME term-sorted left fold (list_reduce over
      // [0.0] ++ list(score ORDER BY term)), same (score desc, doc)
      // rank order as TopKAgg
      """WITH fin AS (SELECT doc_id, text FROM documents
        |  WHERE (doc_id % 7 <> 0 AND doc_id % 11 <> 0)
        |     OR doc_id % 7 = 0),
        |d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM fin),
        |l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(dl) AS BIGINT) AS sum_len FROM l),
        |e AS (SELECT doc_id, dl, unnest(toks) AS term FROM l),
        |tfq AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM e WHERE term IN ('spark', 'stream', 'vector', 'query')
        |  GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfq
        |  GROUP BY 1),
        |sc AS (SELECT tfq.doc_id, tfq.term,
        |  (CAST(2*(st.n_docs - dfq.df) + 1 AS DOUBLE)
        |     / CAST(2*dfq.df + 1 AS DOUBLE))
        |  * (CAST(44*tfq.tf*st.sum_len AS DOUBLE)
        |     / CAST(20*tfq.tf*st.sum_len + 6*st.sum_len
        |            + 18*tfq.dl*st.n_docs AS DOUBLE)) AS score_t
        |  FROM tfq JOIN dfq ON tfq.term = dfq.term CROSS JOIN st),
        |req AS (SELECT * FROM (VALUES
        |  (0, ['spark', 'stream']), (1, ['vector', 'query']),
        |  (2, ['spark', 'query', 'vector']), (3, ['stream']),
        |  (4, ['spark', 'stream']), (5, ['vector', 'query']),
        |  (6, ['spark', 'query', 'vector']), (7, ['stream']))
        |  AS t(req_id, terms)),
        |hit AS (SELECT req_id, doc_id, sc.term, score_t
        |  FROM req JOIN sc ON list_contains(req.terms, sc.term)),
        |ag AS (SELECT req_id, doc_id,
        |  list_reduce(list_prepend(0.0, list(score_t ORDER BY term)),
        |    (a, b) -> a + b) AS score
        |  FROM hit GROUP BY 1, 2),
        |r AS (SELECT req_id, doc_id, score,
        |  row_number() OVER (PARTITION BY req_id
        |    ORDER BY score DESC, doc_id) AS rk FROM ag)
        |SELECT CAST(req_id AS BIGINT) AS req_id, doc_id,
        |  CAST(rk AS BIGINT) AS rk, score FROM r
        |WHERE rk <= 10""".stripMargin),
    QuerySpec("bm25_search", (s, d) =>
      Retrieval.bm25TopK(docs(s, d), "doc_id", "text", bm25Terms, k = 10),
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |$bm25Top10""".stripMargin),
    // N4 — pseudo-relevance feedback: seed BM25 round, co-occurrence
    // term census over the top-10 feedback docs (≤3-row driver read),
    // expanded second round over the sorted union term set — the
    // Rocchio recall lever, every step deterministic so the oracle
    // replays both rounds verbatim
    QuerySpec("prf_search", (s, d) =>
      Retrieval.prfSearch(docs(s, d), "doc_id", "text",
        Seq("stream", "vector")),
      // both PRF rounds replayed: seed scoring → top-10 feedback docs →
      // distinct-term census (df-in-feedback ≥ 2, top-3 by cnt then
      // term) → expanded scoring over the sorted union, sorted IEEE fold
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks
        |  FROM d),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(dl) AS BIGINT) AS sum_len FROM l),
        |e AS (SELECT doc_id, dl, unnest(toks) AS term FROM l),
        |tf1 AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM e WHERE term IN ('stream', 'vector') GROUP BY 1, 2, 3),
        |df1 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf1
        |  GROUP BY 1),
        |sc1 AS (SELECT tf1.doc_id, tf1.term,
        |  (CAST(2*(st.n_docs - df1.df) + 1 AS DOUBLE)
        |     / CAST(2*df1.df + 1 AS DOUBLE))
        |  * (CAST(44*tf1.tf*st.sum_len AS DOUBLE)
        |     / CAST(20*tf1.tf*st.sum_len + 6*st.sum_len
        |            + 18*tf1.dl*st.n_docs AS DOUBLE)) AS score_t
        |  FROM tf1 JOIN df1 ON tf1.term = df1.term CROSS JOIN st),
        |ag1 AS (SELECT doc_id,
        |  list_reduce(list_prepend(0.0, list(score_t ORDER BY term)),
        |    (a, b) -> a + b) AS score
        |  FROM sc1 GROUP BY 1),
        |top1 AS (SELECT doc_id FROM ag1
        |  ORDER BY score DESC, doc_id LIMIT 10),
        |cand AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM (
        |    SELECT DISTINCT e.doc_id, e.term
        |    FROM e JOIN top1 USING (doc_id)
        |    WHERE e.term NOT IN ('stream', 'vector') AND e.term <> '')
        |  GROUP BY 1 HAVING count(*) >= 2),
        |ex AS (SELECT term FROM cand ORDER BY cnt DESC, term LIMIT 3),
        |t2 AS (SELECT term FROM ex
        |       UNION SELECT unnest(['stream', 'vector'])),
        |tf2 AS (SELECT e.doc_id, e.dl, e.term,
        |  CAST(count(*) AS BIGINT) AS tf
        |  FROM e JOIN t2 ON e.term = t2.term GROUP BY 1, 2, 3),
        |df2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf2
        |  GROUP BY 1),
        |sc2 AS (SELECT tf2.doc_id, tf2.term,
        |  (CAST(2*(st.n_docs - df2.df) + 1 AS DOUBLE)
        |     / CAST(2*df2.df + 1 AS DOUBLE))
        |  * (CAST(44*tf2.tf*st.sum_len AS DOUBLE)
        |     / CAST(20*tf2.tf*st.sum_len + 6*st.sum_len
        |            + 18*tf2.dl*st.n_docs AS DOUBLE)) AS score_t
        |  FROM tf2 JOIN df2 ON tf2.term = df2.term CROSS JOIN st),
        |ag2 AS (SELECT doc_id,
        |  list_reduce(list_prepend(0.0, list(score_t ORDER BY term)),
        |    (a, b) -> a + b) AS score
        |  FROM sc2 GROUP BY 1),
        |r AS (SELECT doc_id, score,
        |  row_number() OVER (ORDER BY score DESC, doc_id) AS rk
        |  FROM ag2)
        |SELECT doc_id, CAST(rk AS BIGINT) AS rk, score FROM r
        |WHERE rk <= 10""".stripMargin),
    // N3/N4 — hybrid retrieval: Reciprocal Rank Fusion of the BM25
    // arm and the SimHash sign-embedding arm for the same query —
    // ranks, not scores, fuse, so no cross-scale calibration; each
    // arm a bounded top-50 pool
    QuerySpec("hybrid_search", (s, d) =>
      Retrieval.hybridTopK(docs(s, d), "doc_id", "text", bm25Terms,
        hybridQuerySig, k = 10),
      // both arms replayed in SQL (bm25 pool at 50, simhash sig CTE),
      // the same fixed two-term RRF tree
      {
        val (qlo, qhi) = hybridQuerySig
        val termList = bm25Terms.map(t => s"'$t'").mkString(", ")
        val pcols = bm25Terms.map(t =>
          s"coalesce(max(CASE WHEN term = '$t' THEN score_t END), 0.0) " +
            s"AS s_$t").mkString(",\n  ")
        val totalFold = bm25Terms.map(t => s"s_$t")
          .reduceLeft((a, b) => s"($a + $b)")
        s"""WITH $simhashSigCte,
           |d AS (SELECT doc_id, string_split(text, ' ') AS toks
           |  FROM documents),
           |l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks
           |  FROM d),
           |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(dl) AS BIGINT) AS sum_len FROM l),
           |e AS (SELECT doc_id, dl, unnest(toks) AS term FROM l),
           |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
           |  FROM e WHERE term IN ($termList) GROUP BY 1, 2, 3),
           |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
           |  GROUP BY 1),
           |sc AS (SELECT tf.doc_id, tf.term,
           |  (CAST(2*(st.n_docs - dfq.df) + 1 AS DOUBLE)
           |     / CAST(2*dfq.df + 1 AS DOUBLE))
           |  * (CAST(44*tf.tf*st.sum_len AS DOUBLE)
           |     / CAST(20*tf.tf*st.sum_len + 6*st.sum_len
           |            + 18*tf.dl*st.n_docs AS DOUBLE)) AS score_t
           |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN st),
           |p AS (SELECT doc_id, $pcols FROM sc GROUP BY 1),
           |r AS (SELECT doc_id, $totalFold AS score FROM p),
           |sp AS (SELECT doc_id, CAST(row_number() OVER (
           |    ORDER BY score DESC, doc_id) AS BIGINT) AS rk_sparse
           |  FROM r QUALIFY rk_sparse <= 50),
           |hmm AS (SELECT doc_id,
           |  CAST(bit_count(xor(sim_lo, CAST($qlo AS BIGINT)))
           |     + bit_count(xor(sim_hi, CAST($qhi AS BIGINT)))
           |    AS BIGINT) AS hamming FROM sig),
           |dn AS (SELECT doc_id, CAST(row_number() OVER (
           |    ORDER BY hamming, doc_id) AS BIGINT) AS rk_dense
           |  FROM hmm QUALIFY rk_dense <= 50),
           |f AS (SELECT coalesce(sp.doc_id, dn.doc_id) AS doc_id,
           |  sp.rk_sparse, dn.rk_dense,
           |  coalesce(CAST(1 AS DOUBLE)
           |      / (CAST(60 AS DOUBLE) + CAST(sp.rk_sparse AS DOUBLE)),
           |    0.0)
           |  + coalesce(CAST(1 AS DOUBLE)
           |      / (CAST(60 AS DOUBLE) + CAST(dn.rk_dense AS DOUBLE)),
           |    0.0) AS rrf
           |  FROM sp FULL JOIN dn ON sp.doc_id = dn.doc_id)
           |SELECT doc_id, CAST(row_number() OVER (
           |    ORDER BY rrf DESC, doc_id) AS BIGINT) AS rk,
           |  rrf, rk_sparse, rk_dense
           |FROM f QUALIFY rk <= 10""".stripMargin
      }),
    // N4 — exact-phrase search via positional inverted index: one
    // explode to (doc, match-start, slot) and one aggregation that
    // checks every phrase slot filled (see Retrieval.phraseSearch).
    // Two phrases in one result: a 2-gram with volume, and a phrase
    // with a DUPLICATED term ("a a the") proving the slot machinery
    // against the oracle, overlaps included
    QuerySpec("phrase_search", (s, d) => {
      def one(ph: Seq[String]) =
        Retrieval.phraseSearch(docs(s, d), "doc_id", "text", ph)
          .withColumn("phrase", lit(ph.mkString(" ")))
      one(Seq("table", "part")).unionByName(one(Seq("a", "a", "the")))
        .select(col("phrase"), col("doc_id"), col("n_matches"),
          col("first_pos"))
    },
      // positional phrase semantics replayed exactly: 1-based DuckDB
      // list index i ⇔ Spark 0-based pos i-1; overlapping matches count
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |p2 AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 1))
        |  AS i, toks FROM t),
        |m2 AS (SELECT doc_id, i FROM p2
        |  WHERE toks[i] = 'table' AND toks[i+1] = 'part'),
        |p3 AS (SELECT doc_id, unnest(generate_series(1, len(toks) - 2))
        |  AS i, toks FROM t),
        |m3 AS (SELECT doc_id, i FROM p3
        |  WHERE toks[i] = 'a' AND toks[i+1] = 'a' AND toks[i+2] = 'the')
        |SELECT 'table part' AS phrase, doc_id,
        |  CAST(count(*) AS BIGINT) AS n_matches,
        |  CAST(min(i) - 1 AS BIGINT) AS first_pos FROM m2 GROUP BY doc_id
        |UNION ALL
        |SELECT 'a a the' AS phrase, doc_id,
        |  CAST(count(*) AS BIGINT) AS n_matches,
        |  CAST(min(i) - 1 AS BIGINT) AS first_pos FROM m3
        |  GROUP BY doc_id""".stripMargin),
    // N3 — per-label centroid summary (class prototypes), long-form
    // exact-integer sums + one-division means
    QuerySpec("label_centroids", (s, d) =>
      Similarity.labelCentroids(emb(s, d), "label", "embedding"),
      s"""WITH $quantCte,
         |m AS (SELECT e.label, q.qv FROM q
         |  JOIN embeddings e ON q.vec_id = e.vec_id),
         |x AS (SELECT label,
         |  unnest(range(0, len(qv))) AS dim, unnest(qv) AS v FROM m)
         |SELECT label, CAST(dim AS BIGINT) AS dim,
         |  CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(v) AS BIGINT) AS sum_q,
         |  CAST(sum(v) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_q
         |FROM x GROUP BY 1, 2""".stripMargin),
    // N3 — deterministic JL projection 64 -> 16 dims (hash-derived ±1
    // weights, exact int64 components — oracle replays the weight hash)
    QuerySpec("rp_project", (s, d) =>
      Similarity.randomProject(emb(s, d), "vec_id", "embedding",
        outDim = 16, inDim = 64),
      // the ±1 weight of coordinate (j, i) is the parity of the same
      // 31-polynomial fold of "rp:j:i" the Spark kernel precomputes
      s"""WITH $quantCte,
         |w AS (SELECT j, i0,
         |  CASE WHEN ${sqlPolyHash(
               "'rp:' || CAST(j AS VARCHAR) || ':' || CAST(i0 AS VARCHAR)")}
         |    % 2 = 0 THEN 1 ELSE -1 END AS wt
         |  FROM range(0, 16) t1(j), range(0, 64) t2(i0)),
         |p AS (SELECT q.vec_id, w.j AS out_dim,
         |  CAST(sum(w.wt * q.qv[w.i0 + 1]) AS BIGINT) AS value
         |  FROM q, w GROUP BY 1, 2)
         |SELECT vec_id, out_dim, value FROM p""".stripMargin),
    // data-adaptive axis beside rp_project's oblivious sketch: top
    // principal component — exact integer Gram in one distributed
    // pass, 8 power-iteration rounds on the driver in one
    // written-down IEEE order, bit-replayed by the oracle
    QuerySpec("pca_power", (s, d) =>
      Similarity.pcaTopComponent(emb(s, d), "embedding"),
      // exact integer Gram (full matrix — equals the op's mirrored
      // upper triangle exactly), then the op's 8 power rounds with the
      // identical per-term add order: matvec folds ascending j, norm²
      // ascending i, one sqrt, one division per element
      {
        val steps = (1 to 8).map { k =>
          s"""p$k AS (SELECT list_transform(mv, x -> x / sqrt(n2)) AS v
             |  FROM (SELECT mv, list_reduce(list_prepend(0.0,
             |      list_transform(mv, x -> x * x)), (a, b) -> a + b)
             |      AS n2
             |    FROM (SELECT list_transform(gm.m, row ->
             |        list_reduce(list_prepend(0.0,
             |          list_transform(range(1, len(row) + 1),
             |            jj -> CAST(row[jj] AS DOUBLE) * v[jj])),
             |          (a, b) -> a + b)) AS mv
             |      FROM p${k - 1}, gm)))""".stripMargin
        }.mkString(",\n")
        s"""WITH $quantCte,
           |e AS (SELECT vec_id, generate_subscripts(qv, 1) AS i,
           |  unnest(qv) AS val FROM q),
           |gc AS (SELECT a.i AS i, b.i AS j,
           |  CAST(sum(a.val * b.val) AS BIGINT) AS g
           |  FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY 1, 2),
           |rows_ AS (SELECT i, list(g ORDER BY j) AS row FROM gc
           |  GROUP BY i),
           |gm AS (SELECT list(row ORDER BY i) AS m FROM rows_),
           |p0 AS (SELECT list_transform(range(1, len(m) + 1),
           |  k -> CASE WHEN k = 1 THEN 1.0 ELSE 0.0 END) AS v FROM gm),
           |$steps,
           |fin AS (SELECT v, list_transform(gm.m, row ->
           |    list_reduce(list_prepend(0.0,
           |      list_transform(range(1, len(row) + 1),
           |        jj -> CAST(row[jj] AS DOUBLE) * v[jj])),
           |      (a, b) -> a + b)) AS gv
           |  FROM p8, gm),
           |ev AS (SELECT v, list_reduce(list_prepend(0.0,
           |    list_transform(range(1, len(v) + 1),
           |      ii -> v[ii] * gv[ii])), (a, b) -> a + b) AS eigval
           |  FROM fin)
           |SELECT CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS i,
           |  unnest(v) AS loading, eigval FROM ev""".stripMargin
      }),
    // DBSCAN over the same 2-D embedding projection: density
    // clustering from scale-safe parts — grid-bucketed ε-neighbor
    // join, neighbor-count core test, componentMin core-graph CC
    // (bounded 4-round min-label, replayed round-for-round by the
    // oracle), min-label border attach. Deterministic labels (min
    // core id), so the full assignment hash-compares.
    QuerySpec("dbscan_cluster", (s, d) => {
      val pts = emb(s, d).select(col("vec_id").as("id"),
        round(element_at(col("embedding"), 1).cast(DoubleType) * 1000)
          .cast(LongType).as("x"),
        round(element_at(col("embedding"), 2).cast(DoubleType) * 1000)
          .cast(LongType).as("y"))
      graft.ops.Spatial.dbscan(pts, "id", "x", "y", eps = 20L,
        minPts = 4)
    },
      // quadratic neighbor replay + the SAME 4 min-label rounds as the
      // Spark op's componentMin (bounded-iteration contract, like the
      // dedup_corpus oracle)
      {
        val rounds = (1 to 4).map { k =>
          s"""l$k AS (SELECT l.id,
             |  least(l.comp, coalesce(min(n.comp), l.comp)) AS comp
             |  FROM l${k - 1} l LEFT JOIN sym e ON l.id = e.s
             |  LEFT JOIN l${k - 1} n ON e.d = n.id
             |  GROUP BY l.id, l.comp)""".stripMargin
        }.mkString(",\n")
        s"""WITH p AS (SELECT vec_id AS id,
           |  CAST(round(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)
           |    AS x,
           |  CAST(round(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT)
           |    AS y
           |  FROM embeddings),
           |cg AS (SELECT id, x, y, x // 20 AS cx, y // 20 AS cy FROM p),
           |offs AS (SELECT dx, dy FROM (VALUES (-1), (0), (1)) t(dx),
           |  (VALUES (-1), (0), (1)) u(dy)),
           |nb AS (SELECT a.id AS ia, b.id AS ib
           |  FROM cg a CROSS JOIN offs o
           |  JOIN cg b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
           |  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
           |    <= 400),
           |core AS (SELECT ia AS id FROM nb GROUP BY 1
           |  HAVING count(*) >= 4),
           |ce AS (SELECT nb.ia, nb.ib FROM nb
           |  JOIN core ca ON nb.ia = ca.id
           |  JOIN core cb ON nb.ib = cb.id
           |  WHERE nb.ia < nb.ib),
           |sym AS (SELECT ia AS s, ib AS d FROM ce
           |        UNION ALL SELECT ib, ia FROM ce),
           |l0 AS (SELECT id, id AS comp FROM core),
           |$rounds,
           |border AS (SELECT nb.ia AS id, min(l4.comp) AS comp
           |  FROM nb JOIN l4 ON nb.ib = l4.id
           |  WHERE nb.ia <> nb.ib
           |    AND nb.ia NOT IN (SELECT id FROM core)
           |  GROUP BY 1)
           |SELECT id, 'core' AS role, comp AS cluster FROM l4
           |UNION ALL
           |SELECT id, 'border' AS role, comp AS cluster FROM border
           |UNION ALL
           |SELECT p.id, 'noise' AS role, CAST(-1 AS BIGINT) AS cluster
           |FROM p WHERE p.id NOT IN (SELECT id FROM l4)
           |  AND p.id NOT IN (SELECT id FROM border)""".stripMargin
      }),
    // planar radius join (Spatial.selfRadiusPairs): ε-neighborhood
    // pairs over the embeddings' first-2-dim projection scaled to
    // integer milli-units — grid-bucketed 5-cell half-neighborhood
    // equi-join + exact int64 distance² verify (each unordered pair
    // meets exactly once; r15 — the 9-cell ordered form shuffled the
    // probe side 1.8× wider and emitted every pair twice); the
    // quadratic pair filter exists ONLY in the oracle. Unordered
    // (id_a < id_b), self-pairs excluded — rows identical to the
    // previous radiusJoin + id_a < id_b form.
    QuerySpec("spatial_join", (s, d) => {
      val pts = emb(s, d).select(col("vec_id").as("id"),
        round(element_at(col("embedding"), 1).cast(DoubleType) * 1000)
          .cast(LongType).as("x"),
        round(element_at(col("embedding"), 2).cast(DoubleType) * 1000)
          .cast(LongType).as("y"))
      graft.ops.Spatial.selfRadiusPairs(pts, "id", "x", "y",
        radius = 20L)
    },
      // quadratic ε-neighborhood replay of the grid-bucketed join
      """WITH p AS (SELECT vec_id,
        |  CAST(round(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)
        |    AS x,
        |  CAST(round(CAST(embedding[2] AS DOUBLE) * 1000) AS BIGINT)
        |    AS y
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |    AS dist2
        |FROM p a JOIN p b ON a.vec_id < b.vec_id
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        |  <= 400""".stripMargin),
    // N4 — heavy hitters: Misra–Gries candidates (bounded-memory,
    // mergeable) + exact verify pass; output is exactly the true
    // freq > N/32 term set (see TextOps.heavyHitters scaladoc)
    QuerySpec("heavy_hitters", (s, d) =>
      TextOps.heavyHitters(docs(s, d), "text", theta = 32),
      // exact recount of the sketch-then-verify output: the true
      // freq·32 > N term set, integer threshold — the sketch never
      // appears because its verify pass makes the result exact
      """WITH e AS (SELECT unnest(string_split(text, ' ')) AS term
        |  FROM documents)
        |SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM e
        |GROUP BY term
        |HAVING count(*) * 32 > (SELECT count(*) FROM e)""".stripMargin),
    // N4 — count–min sketch point-frequency probe, exact-gated (the
    // recall-gate pattern): over_ok is the CMS always-overcount
    // invariant, tight_ok the 4× expectation bound — both
    // deterministic for the fixed corpus and seeded hashes
    QuerySpec("cms_frequency", (s, d) =>
      TextOps.cmsFrequencyCheck(docs(s, d), "text"),
      // the estimate itself needs 64-bit wrapping multiplies DuckDB
      // cannot express; the gates are the deterministic contract (the
      // recall-gate pattern) — the exact counts anchor the hash
      """WITH e AS (SELECT unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM e
        |  GROUP BY 1),
        |t AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 20)
        |SELECT term, cnt, true AS over_ok, true AS tight_ok
        |FROM t""".stripMargin),
    // corpus op — deterministic global training shuffle: reproducible
    // (shard, pos) placement from the ids alone, one shuffle + one
    // per-shard sort
    QuerySpec("global_shuffle", (s, d) =>
      CorpusOps.globalShuffle(docs(s, d), "doc_id", nShards = 8),
      s"""WITH h AS (SELECT doc_id,
         |  ${sqlPolyHash("'shard:' || CAST(doc_id AS VARCHAR)")} % 8
         |    AS shard,
         |  ${sqlPolyHash("'order:' || CAST(doc_id AS VARCHAR)")}
         |    AS order_h
         |  FROM documents)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard
         |    ORDER BY order_h, doc_id) AS BIGINT) AS pos
         |FROM h""".stripMargin),
    // corpus op — dense global row ids without a single-partition
    // global sort: per-shard windows + an nShards-row offset join
    QuerySpec("global_ids", (s, d) =>
      CorpusOps.globalIds(docs(s, d), "doc_id", nShards = 64),
      // the global order is DEFINED as (shard, doc_id), so one global
      // row_number reproduces per-shard rank + offset exactly
      s"""WITH s AS (SELECT doc_id,
         |  ${sqlPolyHash("CAST(doc_id AS VARCHAR)")} % 64 AS shard
         |  FROM documents)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (ORDER BY shard, doc_id) AS BIGINT)
         |    AS global_id
         |FROM s""".stripMargin),
    // corpus op — curriculum ordering: global easy->hard training
    // position (64-char length buckets, hash-shuffled within bucket)
    // via the census+offset trick — a global sort with no global sort
    QuerySpec("curriculum_order", (s, d) =>
      CorpusOps.curriculumOrder(docs(s, d), "doc_id",
        expr("n_chars div 64")),
      // the global order is DEFINED as (bucket, order_h, doc_id), so one
      // global row_number reproduces per-bucket rank + census offset
      s"""WITH h AS (SELECT doc_id, n_chars // 64 AS bucket,
         |  ${sqlPolyHash("'curr:' || CAST(doc_id AS VARCHAR)")}
         |    AS order_h
         |  FROM documents)
         |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
         |  CAST(row_number() OVER (ORDER BY bucket, order_h, doc_id)
         |    AS BIGINT) AS pos
         |FROM h""".stripMargin),
    // corpus op — link-graph authority (the CommonCrawl-style domain
    // quality signal): integer PageRank, 3 synchronous steps, one
    // shuffle join per step; the link graph is synthesized
    // deterministically from the dense doc ids (the corpus carries no
    // hyperlinks) — real deployments feed their own edge list
    QuerySpec("link_rank", (s, d) => {
      val dd = docs(s, d)
      val n = dd.count()
      Graph.pageRank(dd, "doc_id",
        Graph.syntheticLinks(dd, "doc_id", n), iters = 3)
    },
      {
        def step(prev: String, out: String): String =
          s"""$out AS (SELECT d.doc_id AS node,
             |  150000000000 + COALESCE(SUM(r.rank // 3), 0) * 85 // 100
             |    AS rank
             |  FROM documents d
             |  LEFT JOIN e ON e.dst = d.doc_id
             |  LEFT JOIN $prev r ON r.node = e.src
             |  GROUP BY 1)""".stripMargin
        s"""WITH ${linkEdges("e")},
           |r0 AS (SELECT doc_id AS node,
           |  CAST(1000000000000 AS BIGINT) AS rank FROM documents),
           |${step("r0", "r1")},
           |${step("r1", "r2")},
           |${step("r2", "r3")}
           |SELECT node, CAST(rank AS BIGINT) AS rank FROM r3""".stripMargin
      },
      barrier = true),
    // corpus op — link-graph triangle census: per-node triangle count
    // + local clustering coefficient (the link-farm density signal
    // beside link_rank's authority), degree-ordered orientation so
    // each triangle surfaces exactly once; same synthesized edge list
    // as link_rank
    QuerySpec("graph_triangles", (s, d) => {
      val dd = docs(s, d)
      val n = dd.count()
      Graph.triangles(dd, "doc_id", Graph.syntheticLinks(dd, "doc_id", n))
    },
      // naive id-ordered a<b<c enumeration — fine at oracle scale; the
      // engine's degree-ordered orientation finds the identical set
      s"""WITH $undirectedLinks,
        |d AS (SELECT node, count(*) AS degree FROM
        |  (SELECT a AS node FROM u UNION ALL SELECT b FROM u)
        |  GROUP BY 1),
        |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM u e1 JOIN u e2 ON e2.a = e1.b
        |  JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b),
        |pn AS (SELECT node, count(*) AS n_tri FROM
        |  (SELECT x AS node FROM t UNION ALL SELECT y FROM t
        |   UNION ALL SELECT z FROM t) GROUP BY 1)
        |SELECT doc_id AS node,
        |  CAST(COALESCE(d.degree, 0) AS BIGINT) AS degree,
        |  CAST(COALESCE(pn.n_tri, 0) AS BIGINT) AS n_tri,
        |  CASE WHEN COALESCE(d.degree, 0) >= 2
        |    THEN CAST(COALESCE(pn.n_tri, 0) * 2 AS DOUBLE)
        |      / CAST(d.degree * (d.degree - 1) AS DOUBLE)
        |    ELSE 0.0 END AS lcc
        |FROM documents
        |LEFT JOIN d ON d.node = doc_id
        |LEFT JOIN pn ON pn.node = doc_id""".stripMargin,
      barrier = true),
    // graph op — Newman degree assortativity over the same undirected
    // link graph: hub-to-hub vs hub-to-leaf mixing in one exact-integer
    // Pearson (both-orientation edge ends, one division)
    QuerySpec("graph_assortativity", (s, d) => {
      val dd = docs(s, d)
      val n = dd.count()
      Graph.assortativity(Graph.syntheticLinks(dd, "doc_id", n))
    },
      // same undirected edge set; moments over both-orientation edge
      // ends, one division
      s"""WITH $undirectedLinks,
        |d AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM
        |  (SELECT a AS node FROM u UNION ALL SELECT b FROM u)
        |  GROUP BY 1),
        |dir AS (SELECT a AS s, b AS t FROM u
        |  UNION ALL SELECT b, a FROM u),
        |p AS (SELECT dx.degree AS x, dy.degree AS y FROM dir
        |  JOIN d dx ON dx.node = dir.s JOIN d dy ON dy.node = dir.t),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |  CAST(sum(x) AS BIGINT) AS sx,
        |  CAST(sum(x * y) AS BIGINT) AS sxy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx FROM p)
        |SELECT m, sx, sxy, sxx,
        |  CAST(m * sxy - sx * sx AS DOUBLE)
        |    / CAST(m * sxx - sx * sx AS DOUBLE) AS r
        |FROM a""".stripMargin),
    // corpus op — k-core peel (k=6, 6 bounded rounds) over the same
    // link graph: the dense-core trust filter; oracle replays every
    // round verbatim
    QuerySpec("graph_kcore", (s, d) => {
      val dd = docs(s, d)
      val n = dd.count()
      Graph.kCore(dd, "doc_id",
        Graph.syntheticLinks(dd, "doc_id", n), k = 6)
    },
      // the same 6 peel rounds, round for round
      {
        val rounds = (1 to 6).map { r =>
          s"""e$r AS (SELECT u.a, u.b FROM u
             |  JOIN a${r - 1} x ON u.a = x.node
             |  JOIN a${r - 1} y ON u.b = y.node),
             |a$r AS (SELECT node FROM (SELECT node, count(*) AS deg FROM
             |  (SELECT a AS node FROM e$r UNION ALL SELECT b FROM e$r)
             |  GROUP BY 1) WHERE deg >= 6)""".stripMargin
        }.mkString(",\n")
        s"""WITH $undirectedLinks,
           |dg AS (SELECT node, count(*) AS deg FROM
           |  (SELECT a AS node FROM u UNION ALL SELECT b FROM u)
           |  GROUP BY 1),
           |a0 AS (SELECT doc_id AS node FROM documents),
           |$rounds
           |SELECT d0.doc_id AS node,
           |  CAST(coalesce(dg.deg, 0) AS BIGINT) AS degree,
           |  (a6.node IS NOT NULL) AS in_kcore
           |FROM documents d0
           |LEFT JOIN dg ON d0.doc_id = dg.node
           |LEFT JOIN a6 ON d0.doc_id = a6.node""".stripMargin
      }),
    // corpus op — label-propagation communities (4 synchronous
    // rounds, most-frequent-neighbor label, min tie-break) over the
    // same link graph: the topic-cluster signal, where componentMin
    // is identity and k-core is density; oracle replays each round
    QuerySpec("graph_communities", (s, d) => {
      val dd = docs(s, d)
      val n = dd.count()
      Graph.labelPropagation(dd, "doc_id",
        Graph.syntheticLinks(dd, "doc_id", n))
    },
      // the same 4 LPA rounds: per-node most-frequent neighbor label,
      // row_number pick with the identical (count desc, label asc)
      // tie-break
      {
        val rounds = (1 to 4).map { k =>
          s"""n$k AS (SELECT e.s AS node, l.lbl, count(*) AS c
             |  FROM sym e JOIN l${k - 1} l ON e.d = l.node
             |  GROUP BY 1, 2),
             |p$k AS (SELECT node, lbl FROM (SELECT node, lbl,
             |  row_number() OVER (PARTITION BY node
             |    ORDER BY c DESC, lbl) AS rn FROM n$k) WHERE rn = 1),
             |l$k AS (SELECT l.node, coalesce(p.lbl, l.lbl) AS lbl
             |  FROM l${k - 1} l LEFT JOIN p$k p ON l.node = p.node)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH $undirectedLinks,
           |sym AS (SELECT a AS s, b AS d FROM u
           |        UNION ALL SELECT b, a FROM u),
           |l0 AS (SELECT doc_id AS node, doc_id AS lbl FROM documents),
           |$rounds
           |SELECT node, lbl AS community FROM l4""".stripMargin
      }),
    // corpus op — link prediction over the same graph: top-50
    // non-adjacent pairs by Adamic-Adar, with the resource-allocation
    // score beside it; witness folds in (deg, w) order
    QuerySpec("link_predict", (s, d) => {
      val dd = docs(s, d)
      val n = dd.count()
      Graph.linkPredict(Graph.syntheticLinks(dd, "doc_id", n))
    },
      // same synthetic edge set; witness folds replay the op's
      // (deg, w)-ordered IEEE additions via ordered list aggregation;
      // 1/ln(deg) terms through the DetLn series replay
      s"""WITH $undirectedLinks,
        |d AS (SELECT node, count(*) AS deg FROM
        |  (SELECT a AS node FROM u UNION ALL SELECT b FROM u)
        |  GROUP BY 1),
        |nb AS (SELECT a AS w, b AS x FROM u
        |       UNION ALL SELECT b, a FROM u),
        |pr AS (SELECT n1.x AS u, n1.w AS w, n2.x AS v
        |  FROM nb n1 JOIN nb n2 ON n1.w = n2.w AND n1.x < n2.x),
        |cand AS (SELECT pr.u, pr.v, pr.w FROM pr
        |  LEFT JOIN u e ON e.a = pr.u AND e.b = pr.v
        |  WHERE e.a IS NULL),
        |wd AS (SELECT cand.u, cand.v, cand.w, d.deg
        |  FROM cand JOIN d ON d.node = cand.w),
        |g AS (SELECT u, v, count(*) AS n_common,
        |  list_reduce(list_prepend(0.0,
        |    list(1.0 / (${OracleSql.detLn("deg")})
        |      ORDER BY deg, w)),
        |    (a, b) -> a + b) AS aa_score,
        |  list_reduce(list_prepend(0.0,
        |    list(1.0 / CAST(deg AS DOUBLE) ORDER BY deg, w)),
        |    (a, b) -> a + b) AS ra_score
        |  FROM wd GROUP BY 1, 2)
        |SELECT u AS node_a, v AS node_b,
        |  CAST(n_common AS BIGINT) AS n_common, aa_score, ra_score
        |FROM g ORDER BY aa_score DESC, node_a, node_b
        |LIMIT 50""".stripMargin),
    // N4 — trigram-accelerated substring search (the pg_trgm LIKE
    // pattern): posting intersection of the pattern's trigrams prunes
    // to candidates, exact instr verify on survivors; the oracle is
    // the full-scan strpos
    QuerySpec("trgm_search", (s, d) =>
      Retrieval.trigramSearch(docs(s, d), "doc_id", "text",
        "sort table"),
      """SELECT doc_id,
        |  CAST(strpos(text, 'sort table') AS BIGINT) AS pos
        |FROM documents WHERE strpos(text, 'sort table') > 0"""
        .stripMargin),
    // corpus op — seed-distance: bounded-hop BFS from the trusted
    // seed list (doc_id < 5) over the same synthesized link graph;
    // crawl-depth quality signal, unreached = -1
    QuerySpec("graph_bfs", (s, d) => {
      val dd = docs(s, d)
      val n = dd.count()
      Graph.bfsDistance(dd, "doc_id",
        Graph.syntheticLinks(dd, "doc_id", n), col("doc_id") < 5L)
    },
      // bounded recursion replays the hop relaxation; min(dist) per
      // node collapses the path multiplicity the recursive walk emits
      s"""WITH RECURSIVE ${linkEdges("e")},
        |walk(node, dist) AS (
        |  SELECT doc_id, 0 FROM documents WHERE doc_id < 5
        |  UNION ALL
        |  SELECT e.dst, walk.dist + 1 FROM walk
        |  JOIN e ON e.src = walk.node WHERE walk.dist < 3),
        |best AS (SELECT node, min(dist) AS dist FROM walk GROUP BY 1)
        |SELECT doc_id AS node,
        |  CAST(COALESCE(best.dist, -1) AS BIGINT) AS dist
        |FROM documents LEFT JOIN best ON best.node = doc_id""".stripMargin),
    // corpus op — HITS hubs/authorities over the same link graph:
    // the directory-vs-content split beside link_rank's single
    // authority; max-renormalized integer rounds, oracle-replayed
    QuerySpec("graph_hits", (s, d) => {
      val dd = docs(s, d)
      val n = dd.count()
      Graph.hits(dd, "doc_id", Graph.syntheticLinks(dd, "doc_id", n))
    },
      // same edge set; each half-round re-aggregates and
      // max-renormalizes with the op's exact HUGEINT product
      {
        def round(k: Int): String =
          s"""ar$k AS (SELECT d.doc_id AS node,
             |  COALESCE(SUM(hp.hub), 0) AS raw
             |  FROM documents d LEFT JOIN e ON e.dst = d.doc_id
             |  LEFT JOIN h${k - 1} hp ON hp.node = e.src GROUP BY 1),
             |a$k AS (SELECT node,
             |  CASE WHEN (SELECT max(raw) FROM ar$k) > 0
             |    THEN CAST(raw AS HUGEINT) * 1000000000
             |      // (SELECT max(raw) FROM ar$k)
             |    ELSE 0 END AS auth FROM ar$k),
             |hr$k AS (SELECT d.doc_id AS node,
             |  COALESCE(SUM(ap.auth), 0) AS raw
             |  FROM documents d LEFT JOIN e ON e.src = d.doc_id
             |  LEFT JOIN a$k ap ON ap.node = e.dst GROUP BY 1),
             |h$k AS (SELECT node,
             |  CASE WHEN (SELECT max(raw) FROM hr$k) > 0
             |    THEN CAST(raw AS HUGEINT) * 1000000000
             |      // (SELECT max(raw) FROM hr$k)
             |    ELSE 0 END AS hub FROM hr$k)""".stripMargin
        s"""WITH ${linkEdges("e")},
           |h0 AS (SELECT doc_id AS node,
           |  CAST(1000000000 AS BIGINT) AS hub FROM documents),
           |${round(1)},
           |${round(2)},
           |${round(3)}
           |SELECT h3.node, CAST(h3.hub AS BIGINT) AS hub,
           |  CAST(a3.auth AS BIGINT) AS auth
           |FROM h3 JOIN a3 USING (node)""".stripMargin
      }),
    // corpus op — personalized PageRank from the same trusted seed
    // list: seed-restricted teleport, integer fixed-point rounds;
    // "how much seed authority flows here" beside graph_bfs's hops
    QuerySpec("graph_ppr", (s, d) => {
      val dd = docs(s, d)
      val n = dd.count()
      Graph.personalizedPageRank(dd, "doc_id",
        Graph.syntheticLinks(dd, "doc_id", n), col("doc_id") < 5L)
    },
      // same rounds with the teleport term gated to the seed set
      {
        def step(prev: String, out: String): String =
          s"""$out AS (SELECT d.doc_id AS node,
             |  CASE WHEN d.doc_id < 5 THEN 150000000000 ELSE 0 END
             |    + COALESCE(SUM(r.rank // 3), 0) * 85 // 100 AS rank
             |  FROM documents d
             |  LEFT JOIN e ON e.dst = d.doc_id
             |  LEFT JOIN $prev r ON r.node = e.src
             |  GROUP BY 1)""".stripMargin
        s"""WITH ${linkEdges("e")},
           |r0 AS (SELECT doc_id AS node,
           |  CASE WHEN doc_id < 5 THEN CAST(1000000000000 AS BIGINT)
           |       ELSE 0 END AS rank FROM documents),
           |${step("r0", "r1")},
           |${step("r1", "r2")},
           |${step("r2", "r3")}
           |SELECT node, node < 5 AS seed, CAST(rank AS BIGINT) AS rank
           |FROM r3""".stripMargin
      },
      barrier = true),
    // eval metric — exact Mann-Whitney AUC: does document length rank
    // English membership? (midrank ties, one division at the end)
    QuerySpec("rank_auc", (s, d) =>
      graft.ops.Eval.rankAuc(docs(s, d), "n_chars",
        col("lang") === "en"),
      // integer PageRank unrolled: the synthetic affine-mod link graph
      // rebuilt in SQL, then the three steps as chained CTEs — every
      // rank a pure Long chain (DIV-truncated per-edge contributions,
      // 15/85 damping in integer hundredths), so the fold is
      // bit-identical regardless of join or partition order; odeg is 3
      // by construction (the Spark side computes it from the edge list)
      """WITH g AS (SELECT n_chars AS s, count(*) AS n,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS np
        |  FROM documents GROUP BY 1),
        |r AS (SELECT *, sum(n) OVER (ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS endRank FROM g),
        |m AS (SELECT np, endRank * 2 - n + 1 AS mid2, n FROM r),
        |a AS (SELECT CAST(sum(np * mid2) AS BIGINT) AS sum2r,
        |    CAST(sum(np) AS BIGINT) AS n_pos,
        |    CAST(sum(n - np) AS BIGINT) AS n_neg FROM m)
        |SELECT n_pos, n_neg,
        |  CAST(sum2r - n_pos * (n_pos + 1) AS DOUBLE)
        |    / CAST(n_pos * n_neg * 2 AS DOUBLE) AS auc
        |FROM a WHERE n_pos > 0 AND n_neg > 0""".stripMargin),
    // eval metric — the capture-curve companion of rank_auc: decile
    // gain/lift table of the same length-ranks-English question under
    // the (score DESC, doc_id) total order; census-offset ranking,
    // no global row sort
    QuerySpec("cumulative_gain", (s, d) =>
      graft.ops.Eval.cumulativeGain(docs(s, d), "doc_id",
        col("n_chars"), col("lang") === "en"),
      // the oracle ranks directly (a global row_number is fine HERE);
      // the op's census-offset ranking is proven equal to this total
      // (score DESC, id) order
      """WITH d0 AS (SELECT doc_id AS id, n_chars AS s,
        |  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p
        |  FROM documents),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(p) AS BIGINT) AS tot_pos FROM d0),
        |r AS (SELECT p, row_number() OVER (ORDER BY s DESC, id)
        |  AS rn FROM d0),
        |dec AS (SELECT ((rn - 1) * 10) // (SELECT n FROM t)
        |    AS decile,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(p) AS BIGINT) AS n_pos
        |  FROM r GROUP BY 1),
        |cum AS (SELECT decile, n_rows, n_pos,
        |  CAST(sum(n_pos) OVER (ORDER BY decile ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_pos FROM dec)
        |SELECT decile, n_rows, n_pos, cum_pos,
        |  CAST(cum_pos AS DOUBLE)
        |    / CAST((SELECT tot_pos FROM t) AS DOUBLE) AS capture,
        |  CAST(n_pos * (SELECT n FROM t) AS DOUBLE)
        |    / CAST(n_rows * (SELECT tot_pos FROM t) AS DOUBLE)
        |    AS lift
        |FROM cum""".stripMargin),
    // embedding-space health — per-label mean pairwise inner product
    // via the Gram-sum identity ‖Σv‖² − Σ‖v‖² (within-cluster
    // tightness, the companion of centroid_separation's between-
    // cluster angle); O(n·d) partial sums, never the pair frame
    QuerySpec("label_cohesion", (s, d) =>
      Similarity.labelCohesion(emb(s, d), "label", "embedding"),
      // Gram-sum identity replayed over the quantized lists; norms sum
      // over (row, dim) flattened cells — same total as per-row ‖v‖²
      """WITH q AS (SELECT CAST(label AS BIGINT) AS label,
        |  list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
        |    AS qv
        |  FROM embeddings),
        |u AS (SELECT label, unnest(qv) AS v,
        |  unnest(range(1, len(qv) + 1)) AS pos FROM q),
        |sm AS (SELECT label, pos, CAST(sum(v) AS BIGINT) AS sv
        |  FROM u GROUP BY 1, 2),
        |ss AS (SELECT label, sum(CAST(sv AS HUGEINT) * sv) AS sum_sq
        |  FROM sm GROUP BY 1),
        |nr AS (SELECT label, sum(v * v) AS norm_sq
        |  FROM u GROUP BY 1),
        |cn AS (SELECT label, CAST(count(*) AS BIGINT) AS n
        |  FROM q GROUP BY 1)
        |SELECT label, n,
        |  CAST(sum_sq - norm_sq AS BIGINT) AS pair_dot_sum,
        |  CAST(CAST(sum_sq - norm_sq AS BIGINT) AS DOUBLE)
        |    / CAST(n * (n - 1) AS DOUBLE) AS mean_pair_dot
        |FROM cn JOIN ss USING (label) JOIN nr USING (label)
        |WHERE n > 1""".stripMargin),
    // N4 — quality scoring
    QuerySpec("text_quality", (s, d) => TextOps.quality(docs(s, d), "doc_id", "text"),
      """WITH b AS (SELECT doc_id, text, string_split(text, ' ') AS w,
        |  CAST(length(text) AS BIGINT) AS n_chars FROM documents),
        |m AS (SELECT doc_id, n_chars,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_tokens,
        |  CAST(len(list_filter(w, t -> t='the' OR t='a' OR t='of' OR t='and'
        |    OR t='to' OR t='in' OR t='is')) AS BIGINT) AS n_stop,
        |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS alpha
        |  FROM b)
        |SELECT doc_id, n_chars, n_tokens, n_distinct_tokens,
        |  CAST(n_chars AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS avg_token_len,
        |  CAST(alpha AS DOUBLE)/CAST(n_chars AS DOUBLE) AS alpha_ratio,
        |  CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE) AS stopword_ratio,
        |  CAST(alpha AS DOUBLE)/CAST(n_chars AS DOUBLE)*0.5
        |    + CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE)*0.5 AS quality_score
        |FROM m""".stripMargin),
    // N4 — the Gopher hard-rule gate: five exact-integer per-doc rules
    // (word count, mean word length, distinct fraction, stopword
    // presence, alpha fraction) + the combined keep verdict; one fused
    // kernel pass, no doubles anywhere in the decision
    QuerySpec("gopher_rules", (s, d) =>
      TextOps.gopherRules(docs(s, d), "doc_id", "text"),
      // the five integer rule inequalities replayed verbatim; word_chars
      // = n_chars − (n_tokens − 1) (single-space contract), alpha = a-z
      // count (the kernel's definition)
      s"""WITH b AS (SELECT doc_id, string_split(text, ' ') AS w,
         |  CAST(length(text) AS BIGINT) AS n_chars FROM documents),
         |m AS (SELECT doc_id, n_chars,
         |  CAST(len(w) AS BIGINT) AS n,
         |  CAST(len(list_distinct(w)) AS BIGINT) AS nd,
         |  CAST(len(list_filter(w, t -> t IN ('the','a','of','and',
         |    'to','in','is'))) AS BIGINT) AS ns,
         |  CAST(len(list_filter(w,
         |    t -> regexp_matches(t, '[a-zA-Z]'))) AS BIGINT) AS naw
         |  FROM b),
         |r AS (SELECT doc_id, n, nd, ns, naw,
         |  n_chars - (n - 1) AS wc FROM m)
         |SELECT doc_id, n AS n_tokens,
         |  n >= 50 AND n <= 100000 AS wc_ok,
         |  3 * n <= wc AND wc <= 10 * n AS mwl_ok,
         |  2 * nd >= n AS dup_ok,
         |  ns >= 2 AS sw_ok,
         |  5 * naw >= 4 * n AS alpha_ok,
         |  (n >= 50 AND n <= 100000) AND (3 * n <= wc AND wc <= 10 * n)
         |    AND 2 * nd >= n AND ns >= 2 AND 5 * naw >= 4 * n
         |    AS keep
         |FROM r""".stripMargin),
    // N4 — Simpson character-diversity quality signal: probability two
    // random chars of the doc are equal — the log-free entropy
    // stand-in, exact integers via the CharSimpson codegen kernel
    // (one pass per row, chars never explode into a shuffle)
    QuerySpec("char_diversity", (s, d) =>
      docs(s, d).select(col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars_t"),
        graft.functions.GraftFunctions.charSimpsonNum(col("text"))
          .as("simpson_num"))
        .where(col("n_chars_t") >= 2)
        .withColumn("simpson", col("simpson_num").cast(DoubleType) /
          (col("n_chars_t") * (col("n_chars_t") - 1))
            .cast(DoubleType)),
      // Simpson replay: per-code-point counts via substr over a
      // generate_series index, the same Σc(c−1) integer sum (CAST from
      // HUGEINT), one division
      """WITH ch AS (SELECT doc_id, substr(text, i, 1) AS ch,
        |    count(*) AS c
        |  FROM (SELECT doc_id, text,
        |        unnest(generate_series(1, length(text))) AS i
        |        FROM documents)
        |  GROUP BY 1, 2),
        |sn AS (SELECT doc_id, CAST(sum(c*(c-1)) AS BIGINT)
        |    AS simpson_num FROM ch GROUP BY 1)
        |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars_t,
        |  sn.simpson_num,
        |  CAST(sn.simpson_num AS DOUBLE)
        |    / CAST(length(d.text) * (length(d.text) - 1) AS DOUBLE)
        |    AS simpson
        |FROM documents d JOIN sn USING (doc_id)
        |WHERE length(d.text) >= 2""".stripMargin),
    // N4 — term document/total frequency (tf-idf integer core)
    QuerySpec("term_stats", (s, d) => TextOps.termStats(docs(s, d), "doc_id", "text"),
      """SELECT term, count(DISTINCT doc_id) AS df, count(*) AS tf
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |      FROM documents)
        |GROUP BY term""".stripMargin),
    // N4 — token-level vocabulary drift: top-20 terms by |rate-per-
    // million change| between the corpus halves — feature_psi sees
    // THAT a distribution moved, this names WHICH tokens moved;
    // integer rpm (n·1e6 div total), TakeOrderedAndProject top-k
    QuerySpec("term_trends", (s, d) => {
      val tk = docs(s, d).select((col("doc_id") % 2 === 0).as("a"),
        explode(split(col("text"), " ")).as("tok"))
      val cnt = tk.groupBy(col("tok"))
        .agg(sum(when(col("a"), 1L).otherwise(0L)).as("na"),
          sum(when(!col("a"), 1L).otherwise(0L)).as("nb"))
      val tot = tk.agg(sum(when(col("a"), 1L).otherwise(0L)).as("ta"),
          sum(when(!col("a"), 1L).otherwise(0L)).as("tb"))
        .withColumn("__jk", pmod(xxhash64(col("ta")), lit(1L)))
      cnt.withColumn("__jk", pmod(xxhash64(col("na")), lit(1L)))
        .join(broadcast(tot), Seq("__jk"))
        .select(col("tok"), col("na"), col("nb"),
          expr("(na * 1000000L) div ta").as("rpm_a"),
          expr("(nb * 1000000L) div tb").as("rpm_b"))
        .withColumn("delta_ppm", col("rpm_b") - col("rpm_a"))
        .orderBy(abs(col("delta_ppm")).desc, col("tok"))
        .limit(20)
    },
      // integer rates per million over half totals, top-20 under the
      // identical (|delta| DESC, tok) total order
      """WITH tk AS (SELECT doc_id % 2 = 0 AS a,
        |  unnest(string_split(text, ' ')) AS tok FROM documents),
        |cnt AS (SELECT tok,
        |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |  CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT)
        |    AS nb
        |  FROM tk GROUP BY 1),
        |tot AS (SELECT
        |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ta,
        |  CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT)
        |    AS tb
        |  FROM tk),
        |r AS (SELECT tok, na, nb,
        |  (na * 1000000) // ta AS rpm_a,
        |  (nb * 1000000) // tb AS rpm_b
        |  FROM cnt, tot)
        |SELECT tok, na, nb, rpm_a, rpm_b,
        |  rpm_b - rpm_a AS delta_ppm
        |FROM r ORDER BY abs(rpm_b - rpm_a) DESC, tok LIMIT 20"""
        .stripMargin),
    // N4 — collocation mining: top-50 adjacent bigrams by PMI, the
    // phrase-detection pass before tokenizer training; ranked through
    // one correctly-rounded division of exact integer counts (log is
    // monotone — log-PMI ranks identically), min-count 5 floor
    QuerySpec("collocations", (s, d) =>
      TextOps.collocations(docs(s, d), "text"),
      // PMI replay: same integer counts, same single division, same
      // (ratio desc, w1, w2) total order
      """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
        |b AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM
        |  (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        |   FROM t)),
        |cb AS (SELECT w1, w2, count(*) AS c_ab FROM b
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |cu AS (SELECT w, count(*) AS c_w FROM
        |  (SELECT unnest(t) AS w FROM t) GROUP BY 1),
        |nn AS (SELECT sum(greatest(len(t) - 1, 0)) AS n FROM t),
        |s AS (SELECT w1, w2, c_ab, a.c_w AS c_a, bb.c_w AS c_b,
        |  CAST(c_ab * n AS DOUBLE) / CAST(a.c_w * bb.c_w AS DOUBLE)
        |    AS pmi_ratio
        |  FROM cb JOIN cu a ON cb.w1 = a.w
        |  JOIN cu bb ON cb.w2 = bb.w, nn),
        |r AS (SELECT *, row_number() OVER
        |  (ORDER BY pmi_ratio DESC, w1, w2) AS rk FROM s)
        |SELECT w1, w2, c_ab, c_a, c_b, pmi_ratio FROM r
        |WHERE rk <= 50""".stripMargin),
    // N4 — lexical-likelihood filter: per-doc sum/mean of global token
    // frequency (a unigram LM without logs; integer sums + one
    // division)
    QuerySpec("token_rarity", (s, d) =>
      TextOps.tokenRarity(docs(s, d), "doc_id", "text"),
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT term, count(*) AS tf FROM t GROUP BY 1)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(tf.tf) AS BIGINT) AS sum_tf,
        |  CAST(sum(tf.tf) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS mean_tf
        |FROM t JOIN tf USING (term) GROUP BY 1""".stripMargin),
    // N4 — bigram-LM quality gate (the CCNet/FineWeb perplexity filter
    // shape): per-doc sum of 20-bit fixed-point p(w2|w1), exact
    // integers end to end so the score is shuffle-order- and
    // engine-independent; one final division for the mean
    QuerySpec("bigram_lm", (s, d) =>
      TextOps.bigramLm(docs(s, d), "doc_id", "text"),
      // bigram-LM replay: pair counts, prefix counts re-aggregated from
      // them, the same 20-bit fixed-point floor division (`//` floors,
      // Spark `div` truncates — identical on the non-negative counts),
      // and the same single final division; sums CAST from HUGEINT
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |b AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM
        |  (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
        |   FROM t WHERE len(w) >= 2)),
        |pc AS (SELECT w1, w2, count(*) AS c_pair FROM b GROUP BY 1, 2),
        |fc AS (SELECT w1, CAST(sum(c_pair) AS BIGINT) AS c_prefix
        |  FROM pc GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS vocab FROM
        |  (SELECT unnest(string_split(text, ' ')) AS tok FROM documents))
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(((c_pair + 1) * 1048576) // (c_prefix + vocab))
        |    AS BIGINT) AS fp_sum,
        |  CAST(sum(((c_pair + 1) * 1048576) // (c_prefix + vocab))
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_fp
        |FROM b JOIN pc USING (w1, w2) JOIN fc USING (w1) CROSS JOIN v
        |GROUP BY 1""".stripMargin),
    // N4 — the same filter in NATS: per-doc negative log-likelihood
    // under the corpus's own add-one bigram LM, each term a DetLn
    // difference on exact integers, per-doc (w1,w2)-sorted fold, one
    // division — the paper-comparable perplexity number beside
    // bigram_lm's fixed-point screen
    QuerySpec("lm_perplexity", (s, d) =>
      TextOps.lmPerplexity(docs(s, d), "doc_id", "text"),
      // same count CTEs; each term a DetLn difference replayed verbatim,
      // per-doc fold over the (w1,w2)-sorted distinct-bigram list
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |b AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM
        |  (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1))
        |     AS i
        |   FROM t WHERE len(w) >= 2)),
        |db AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS m
        |  FROM b GROUP BY 1, 2, 3),
        |pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_pair
        |  FROM b GROUP BY 1, 2),
        |fc AS (SELECT w1, CAST(sum(c_pair) AS BIGINT) AS c_prefix
        |  FROM pc GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS vocab
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok
        |    FROM documents)),
        |terms AS (SELECT doc_id, w1, w2, m,
        |  CAST(m AS DOUBLE) *
        |    (${OracleSql.detLn("c_prefix + vocab")}
        |      - ${OracleSql.detLn("c_pair + 1")}) AS term
        |  FROM db JOIN pc USING (w1, w2) JOIN fc USING (w1)
        |  CROSS JOIN v)
        |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
        |  list_reduce(list_prepend(0.0,
        |      list(term ORDER BY w1, w2)), (a, b) -> a + b)
        |    / CAST(sum(m) AS DOUBLE) AS nll
        |FROM terms GROUP BY 1""".stripMargin),
    // N4 — serving twin of bigram_lm: model trained on 4/5 of the
    // corpus, held-out fifth scored as a (batch-replayed) stream;
    // coalesce(0) on the left joins IS the Laplace back-off for
    // unseen bigrams/prefixes
    QuerySpec("bigram_lm_stream", (s, d) => {
      val dd = docs(s, d)
        .withColumn("ts", timestamp_seconds(col("doc_id") * 60))
      val model = graft.streaming.LmScoreStream.trainModel(
        dd.filter(col("doc_id") % 5 =!= 0), "text")
      graft.streaming.LmScoreStream.scoreStream(
          dd.filter(col("doc_id") % 5 === 0), model,
          "doc_id", "text", "ts")
        .select(col("window.start").as("w_start"), col("doc_id"),
          col("n_bigrams"), col("fp_sum"), col("avg_fp"))
    },
      // serving replay: model CTEs over the 4/5 corpus, held-out probes
      // LEFT-joined (coalesce(0) = the Laplace back-off), same fixed-
      // point floor division, window start from the synthetic ts
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |cb AS (SELECT w[i] AS w1, w[i + 1] AS w2 FROM
        |  (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
        |   FROM t WHERE doc_id % 5 <> 0 AND len(w) >= 2)),
        |pc AS (SELECT w1, w2, count(*) AS c_pair FROM cb GROUP BY 1, 2),
        |fc AS (SELECT w1, CAST(sum(c_pair) AS BIGINT) AS c_prefix
        |  FROM pc GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS vocab FROM
        |  (SELECT unnest(string_split(text, ' ')) AS tok
        |   FROM documents WHERE doc_id % 5 <> 0)),
        |pb AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM
        |  (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
        |   FROM t WHERE doc_id % 5 = 0 AND len(w) >= 2))
        |SELECT make_timestamp((doc_id*60)//3600*3600*1000000)
        |    AS w_start,
        |  doc_id, count(*) AS n_bigrams,
        |  CAST(sum(((coalesce(c_pair, 0) + 1) * 1048576)
        |    // (coalesce(c_prefix, 0) + vocab)) AS BIGINT) AS fp_sum,
        |  CAST(sum(((coalesce(c_pair, 0) + 1) * 1048576)
        |    // (coalesce(c_prefix, 0) + vocab)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS avg_fp
        |FROM pb LEFT JOIN pc USING (w1, w2) LEFT JOIN fc USING (w1)
        |CROSS JOIN v
        |GROUP BY 1, 2""".stripMargin),
    // N4 — Heaps'-law vocabulary growth at 5 doc-count checkpoints:
    // per-term FIRST doc id makes each checkpoint a count, never a
    // rescan; the dataset-card redundancy diagnostic
    QuerySpec("vocab_growth", (s, d) =>
      TextOps.vocabGrowth(docs(s, d), "doc_id", "text"),
      // Heaps replay: first-doc per term, the same (max+1)*k//5 integer
      // cutoffs, counts vs first_doc/doc_id strictly below each cutoff
      """WITH n AS (SELECT max(doc_id) + 1 AS nd FROM documents),
        |ks AS (SELECT unnest(generate_series(1, 5)) AS k),
        |cp AS (SELECT CAST((nd * k) // 5 AS BIGINT) AS checkpoint_docs
        |  FROM n CROSS JOIN ks),
        |t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |fd AS (SELECT tok, min(doc_id) AS first_doc FROM t GROUP BY 1),
        |v AS (SELECT checkpoint_docs, count(*) AS vocab_size
        |  FROM cp JOIN fd ON fd.first_doc < cp.checkpoint_docs
        |  GROUP BY 1),
        |dt AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |tt AS (SELECT checkpoint_docs, CAST(sum(n) AS BIGINT)
        |    AS total_tokens
        |  FROM cp JOIN dt ON dt.doc_id < cp.checkpoint_docs
        |  GROUP BY 1)
        |SELECT checkpoint_docs, vocab_size, total_tokens
        |FROM v JOIN tt USING (checkpoint_docs)""".stripMargin),
    // N4 — Zipf-law fit beside Heaps' growth: ln(freq) on ln(rank)
    // over the top-100 terms, both logs through the DetLn series,
    // moments folded in rank order; natural corpora sit near -1
    QuerySpec("zipf_fit", (s, d) =>
      CorpusOps.zipfFit(docs(s, d), "text"),
      // same top-100 vocabulary, DetLn series replay, rank-ordered
      // moment folds, the written-down closed form
      s"""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |vc AS (SELECT tok, count(*) AS cnt FROM tk WHERE tok <> ''
         |  GROUP BY 1),
         |tks AS (SELECT tok, cnt FROM vc ORDER BY cnt DESC, tok
         |  LIMIT 100),
         |rk AS (SELECT row_number() OVER (ORDER BY cnt DESC, tok)
         |  AS r, cnt FROM tks),
         |tt AS (SELECT r, ${OracleSql.detLn("r")} AS x,
         |  ${OracleSql.detLn("cnt")} AS y FROM rk),
         |ag AS (SELECT CAST(count(*) AS BIGINT) AS k,
         |  list_reduce(list_prepend(0.0, list(x ORDER BY r)),
         |    (a, b) -> a + b) AS sx,
         |  list_reduce(list_prepend(0.0, list(y ORDER BY r)),
         |    (a, b) -> a + b) AS sy,
         |  list_reduce(list_prepend(0.0, list(x * x ORDER BY r)),
         |    (a, b) -> a + b) AS sxx,
         |  list_reduce(list_prepend(0.0, list(x * y ORDER BY r)),
         |    (a, b) -> a + b) AS sxy
         |  FROM tt),
         |sl AS (SELECT k AS n_terms,
         |  (CAST(k AS DOUBLE) * sxy - sx * sy)
         |    / (CAST(k AS DOUBLE) * sxx - sx * sx) AS slope, sx, sy
         |  FROM ag)
         |SELECT n_terms, slope,
         |  (sy - slope * sx) / CAST(n_terms AS DOUBLE) AS intercept
         |FROM sl""".stripMargin),
    // N2 — EXACT set-similarity self-join (All-Pairs/PPJoin prefix
    // filtering) on 3-shingle sets at Jaccard >= 0.6: the theorem-
    // backed counterpart of the banded MinHash join — no false
    // negatives, no all-pairs stage (rarest-first prefix buckets)
    QuerySpec("setsim_join", (s, d) =>
      graft.ops.SetSimJoin.jaccardJoin(docs(s, d), "doc_id", "text"),
      // exact brute-force replay: the equi-join on shared shingles is a
      // lossless pre-filter (J >= 0.6 > 0 requires a common shingle),
      // then the same integer Jaccard test and single division
      s"""WITH $setSimShinglesCtes,
        |e AS (SELECT doc_id, len(ts) AS l, unnest(ts) AS sh FROM s),
        |v AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*) AS inter,
        |    any_value(a.l) AS na, any_value(b.l) AS nb
        |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter,
        |  CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
        |  CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)
        |    AS jaccard
        |FROM v WHERE inter * 10 >= 6 * (na + nb - inter)""".stripMargin),
    // N2 — EXACT incremental similarity: the daily delta probes the
    // persisted corpus prefix index (df table = the frozen global
    // order, prefix postings, shingle sets) and gets every qualifying
    // pair BY THEOREM, the corpus never re-paired — the exact
    // counterpart of dedup_incremental's banded probe
    QuerySpec("setsim_incremental", (s, d) => {
      val dd = docs(s, d)
      val idx = graft.ops.SetSimJoin.prefixIndex(
        dd.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
      graft.ops.SetSimJoin.probeDelta(
        dd.filter(col("doc_id") % 5 === 0), idx, "doc_id", "text")
    },
      // brute-force delta-vs-corpus replay over the same lossless
      // shared-shingle pre-filter
      s"""WITH $setSimShinglesCtes,
        |dd AS (SELECT * FROM s WHERE doc_id % 5 = 0),
        |cc AS (SELECT * FROM s WHERE doc_id % 5 <> 0),
        |e1 AS (SELECT doc_id, len(ts) AS l, unnest(ts) AS sh FROM dd),
        |e2 AS (SELECT doc_id, len(ts) AS l, unnest(ts) AS sh FROM cc),
        |v AS (SELECT a.doc_id AS delta_id, b.doc_id AS corpus_id,
        |    count(*) AS inter,
        |    any_value(a.l) AS n_d, any_value(b.l) AS n_c
        |  FROM e1 a JOIN e2 b ON a.sh = b.sh
        |  GROUP BY 1, 2)
        |SELECT delta_id, corpus_id, CAST(inter AS BIGINT) AS inter,
        |  CAST(n_d AS BIGINT) AS n_d, CAST(n_c AS BIGINT) AS n_c,
        |  CAST(inter AS DOUBLE) / CAST(n_d + n_c - inter AS DOUBLE)
        |    AS jaccard
        |FROM v WHERE inter * 10 >= 6 * (n_d + n_c - inter)""".stripMargin),
    // N2 — the EXACT in-flight near-dup gate (streaming twin of the
    // prefix-index probe, batch-replayed): per held-out doc, verdict
    // row with n_matches/best match/keep — DedupStream's contract
    // with the prefix-filter theorem instead of banding probability
    QuerySpec("setsim_probe_stream", (s, d) => {
      val dd = docs(s, d)
        .withColumn("ts", timestamp_seconds(col("doc_id") * 60))
      val idx = graft.ops.SetSimJoin.prefixIndex(
        dd.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
      graft.streaming.SetSimStream.exactProbeStream(
          dd.filter(col("doc_id") % 5 === 0), idx,
          "doc_id", "text", "ts", windowDur = "1 hour")
        .select(col("window.start").as("w_start"), col("doc_id"),
          col("n_matches"), col("best_match_id"), col("best_jaccard"),
          col("keep"))
    },
      // verdict replay over the same brute-force delta-vs-corpus pairs:
      // count + (jaccard desc, id) best + keep, window start from the
      // synthetic ts; only docs with >= 1 shingle carry a verdict
      s"""WITH $setSimShinglesCtes,
        |dd AS (SELECT * FROM s WHERE doc_id % 5 = 0),
        |cc AS (SELECT * FROM s WHERE doc_id % 5 <> 0),
        |e1 AS (SELECT doc_id, len(ts) AS l, unnest(ts) AS sh FROM dd),
        |e2 AS (SELECT doc_id, len(ts) AS l, unnest(ts) AS sh FROM cc),
        |v AS (SELECT a.doc_id AS delta_id, b.doc_id AS corpus_id,
        |    count(*) AS inter,
        |    any_value(a.l) AS n_d, any_value(b.l) AS n_c
        |  FROM e1 a JOIN e2 b ON a.sh = b.sh
        |  GROUP BY 1, 2),
        |p AS (SELECT delta_id, corpus_id,
        |    CAST(inter AS DOUBLE) / CAST(n_d + n_c - inter AS DOUBLE)
        |      AS jaccard
        |  FROM v WHERE inter * 10 >= 6 * (n_d + n_c - inter)),
        |cnt AS (SELECT delta_id, count(*) AS n_matches FROM p
        |  GROUP BY 1),
        |best AS (SELECT delta_id, corpus_id AS best_match_id,
        |    jaccard AS best_jaccard,
        |    row_number() OVER (PARTITION BY delta_id
        |      ORDER BY jaccard DESC, corpus_id) AS rk FROM p)
        |SELECT make_timestamp((d.doc_id*60)//3600*3600*1000000)
        |    AS w_start,
        |  d.doc_id,
        |  CAST(coalesce(cnt.n_matches, 0) AS BIGINT) AS n_matches,
        |  best.best_match_id, best.best_jaccard,
        |  coalesce(cnt.n_matches, 0) = 0 AS keep
        |FROM (SELECT doc_id FROM dd) d
        |LEFT JOIN cnt ON d.doc_id = cnt.delta_id
        |LEFT JOIN best ON d.doc_id = best.delta_id AND best.rk = 1"""
        .stripMargin,
      barrier = true),
    // N2 — MEASURED recall of the banded MinHash join against the
    // exact prefix-filtered join at the same threshold and the same
    // hashed shingle sets: the cross-validation row that ties the
    // probabilistic family to its exact counterpart (at r=4,b=32 a
    // true 0.6-Jaccard pair collides with p≈0.99; the planted pairs
    // sit higher, so the 0.9 floor holds with margin at both scales)
    QuerySpec("neardup_recall", (s, d) => {
      val dd = docs(s, d)
      val exact = graft.ops.SetSimJoin.jaccardJoin(dd, "doc_id", "text")
        .select(col("doc_a"), col("doc_b"))
      val banded = Dedup.minhashPairs(dd, "doc_id", "text",
          threshold = 0.6)
        .select(col("doc_a").as("ba"), col("doc_b").as("bb"))
      // no broadcast hint (the recallGate rationale): pair frames are
      // small at runtime, unbounded by structure — AQE decides
      exact.join(banded,
          col("doc_a") === col("ba") && col("doc_b") === col("bb"),
          "left")
        .agg(count(lit(1)).as("n_exact"), count(col("ba")).as("n_hit"))
        .select(col("n_exact"),
          (col("n_hit").cast(DoubleType) /
            col("n_exact").cast(DoubleType) >= 0.9).as("recall_ok"))
    },
      // the recall-gate oracle shape: exact pair count recomputed from
      // scratch, recall_ok asserted true (a Spark-side gate failure
      // hash-mismatches the row)
      s"""WITH $setSimShinglesCtes,
        |e AS (SELECT doc_id, len(ts) AS l, unnest(ts) AS sh FROM s),
        |v AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*) AS inter,
        |    any_value(a.l) AS na, any_value(b.l) AS nb
        |  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT count(*) AS n_exact, true AS recall_ok
        |FROM v WHERE inter * 10 >= 6 * (na + nb - inter)""".stripMargin),
    // N4 — polynomial document fingerprint
    QuerySpec("fingerprint", (s, d) => TextOps.fingerprint(docs(s, d), "doc_id", "text"),
      s"""SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(range(1, length(text)+1),
         |    i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
         |  (acc, c) -> (acc*31+c) % ${TextOps.FpMod}) AS fingerprint
         |FROM documents""".stripMargin),
    // N4 — language-ID heuristic
    QuerySpec("langid", (s, d) =>
      docs(s, d).select(col("doc_id"), TextOps.langId(col("text")).as("lang_id")),
      {
        val (counts, best, cases) = langVoteSql
        s"""WITH b AS (SELECT doc_id, string_split(lower(text), ' ') AS w
           |  FROM documents),
           |c AS (SELECT doc_id,
           |  $counts
           |  FROM b),
           |m AS (SELECT doc_id, c_en, c_es, c_de, c_fr, $best AS best FROM c)
           |SELECT doc_id, CASE
           |  $cases
           |  ELSE 'unknown' END AS lang_id
           |FROM m""".stripMargin
      }),
    // N4 — within-doc code-switching flag: the two word-halves each
    // run the fused LangIdVote kernel; disagreement marks mixed or
    // glued documents that a whole-doc vote averages away
    QuerySpec("lang_mix", (s, d) =>
      TextOps.langMix(docs(s, d), "doc_id", "text"),
      // the langid vote replayed per word-half (list_slice bounds match
      // Spark's slice(start, length) exactly)
      {
        val markers = TextOps.langMarkers
        def counts(wcol: String, sfx: String) = markers.map {
          case (lang, ms) =>
            val pred = ms.map(m => s"t='$m'").mkString(" OR ")
            s"len(list_filter($wcol, t -> $pred)) AS c_${lang}_$sfx"
        }.mkString(",\n  ")
        def best(sfx: String) = markers.map { case (lang, _) =>
          s"c_${lang}_$sfx"
        }.reduce((x, y) => s"greatest($x, $y)")
        def cases(sfx: String) = markers.map { case (lang, _) =>
          s"WHEN c_${lang}_$sfx > 0 AND c_${lang}_$sfx = best_$sfx " +
            s"THEN '$lang'"
        }.mkString("\n  ")
        s"""WITH b0 AS (SELECT doc_id, string_split(lower(text), ' ')
           |    AS w FROM documents),
           |b AS (SELECT doc_id,
           |  list_slice(w, 1, len(w) // 2) AS wa,
           |  list_slice(w, len(w) // 2 + 1, len(w)) AS wb
           |  FROM b0 WHERE len(w) >= 2),
           |c AS (SELECT doc_id,
           |  ${counts("wa", "a")},
           |  ${counts("wb", "b")}
           |  FROM b),
           |m AS (SELECT *, ${best("a")} AS best_a, ${best("b")} AS best_b
           |  FROM c),
           |v AS (SELECT doc_id,
           |  CASE ${cases("a")} ELSE 'unknown' END AS lang_a,
           |  CASE ${cases("b")} ELSE 'unknown' END AS lang_b
           |  FROM m)
           |SELECT doc_id, lang_a, lang_b, lang_a <> lang_b AS mixed
           |FROM v""".stripMargin
      }),
    // N3 — embedding-space drift between corpus slices (id-parity
    // stand-in for old/new crawl): centroid cosine + per-slice mean
    // squared norm, exact integer moments, raw vectors never shuffle
    QuerySpec("embedding_drift", (s, d) =>
      Similarity.embeddingDrift(emb(s, d), "embedding",
        col("vec_id") % 2 === 1),
      // centroid_separation's moment chain with slice = id parity
      """WITH q AS (SELECT vec_id % 2 AS s,
        |  list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
        |    AS qv
        |  FROM embeddings),
        |u AS (SELECT s, unnest(qv) AS v,
        |  unnest(range(1, len(qv) + 1)) AS pos FROM q),
        |sm AS (SELECT s, pos, CAST(sum(v) AS BIGINT) AS sv
        |  FROM u GROUP BY 1, 2),
        |m AS (SELECT sum(CAST(a.sv AS HUGEINT) * b.sv) AS dot,
        |  sum(CAST(a.sv AS HUGEINT) * a.sv) AS na2,
        |  sum(CAST(b.sv AS HUGEINT) * b.sv) AS nb2
        |  FROM sm a JOIN sm b ON a.pos = b.pos
        |    AND a.s = 0 AND b.s = 1),
        |cn AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM q
        |  GROUP BY 1),
        |nr AS (SELECT s, CAST(sum(v * v) AS BIGINT) AS ns FROM u
        |  GROUP BY 1)
        |SELECT
        |  (SELECT n FROM cn WHERE s = 0) AS n_a,
        |  (SELECT n FROM cn WHERE s = 1) AS n_b,
        |  CAST(dot AS DOUBLE) / (sqrt(CAST(na2 AS DOUBLE))
        |    * sqrt(CAST(nb2 AS DOUBLE))) AS cos_centroids,
        |  CAST((SELECT ns FROM nr WHERE s = 0) AS DOUBLE)
        |    / CAST((SELECT n FROM cn WHERE s = 0) AS DOUBLE)
        |    AS mean_norm_sq_a,
        |  CAST((SELECT ns FROM nr WHERE s = 1) AS DOUBLE)
        |    / CAST((SELECT n FROM cn WHERE s = 1) AS DOUBLE)
        |    AS mean_norm_sq_b
        |FROM m""".stripMargin),
    // N4 — whitespace + BPE-ish token counting
    QuerySpec("token_counts", (s, d) =>
      TextOps.tokenCounts(docs(s, d), "doc_id", "text"),
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '${TextOps.bpeTokenPattern}'))
         |    AS BIGINT) AS n_bpe_tokens
         |FROM documents""".stripMargin),
    // N4 — context-window chunking (16-token windows, 4 overlap, so
    // the ~50-token fixture docs produce genuinely multi-chunk output)
    QuerySpec("chunk_docs", (s, d) =>
      TextOps.chunkDocs(docs(s, d), "doc_id", "text",
        chunkTokens = 16, overlap = 4),
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |p AS (SELECT doc_id, w,
        |  CAST((greatest(len(w) - 16, 0) + 11) // 12 + 1 AS INTEGER)
        |    AS n_chunks FROM b),
        |e AS (SELECT doc_id, w,
        |  unnest(range(0, n_chunks)) AS chunk_idx FROM p),
        |s AS (SELECT doc_id, chunk_idx,
        |  w[chunk_idx*12 + 1 : chunk_idx*12 + 16] AS c FROM e)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(len(c) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(c, ' ') AS chunk_text
        |FROM s""".stripMargin),
    // N4 — REAL subword tokenization: greedy longest-match WordPiece
    // against a fixed vocabulary, full segmentation compared (not
    // just counts); the oracle replays the greedy loop as a
    // recursive CTE with the vocabulary inlined longest-first
    QuerySpec("wordpiece", (s, d) =>
      TextOps.wordPieceTokens(docs(s, d), "doc_id", "text"),
      // the greedy WordPiece loop as a recursive CTE: each step peels
      // the longest-prefix vocab match (or one OOV char) off the
      // remaining word; the piece sequence re-joins in (word, piece)
      // order
      s"""WITH RECURSIVE t AS (SELECT doc_id, string_split(text, ' ')
         |    AS toks FROM documents),
         |w AS (SELECT doc_id, i AS wi, toks[i] AS word FROM
         |  (SELECT doc_id, toks,
         |    unnest(generate_series(1, len(toks))) AS i FROM t)),
         |seg AS (
         |  SELECT doc_id, wi, word AS rest, 0 AS pi,
         |    CAST(NULL AS VARCHAR) AS piece FROM w
         |  UNION ALL
         |  SELECT doc_id, wi, substr(rest, length(m) + 1), pi + 1, m
         |  FROM (SELECT doc_id, wi, rest, pi, $wordPieceCase AS m
         |        FROM seg WHERE rest <> '')),
         |p AS (SELECT doc_id, wi, pi, piece FROM seg
         |  WHERE piece IS NOT NULL)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pieces,
         |  string_agg(piece, ' ' ORDER BY wi, pi) AS pieces
         |FROM p GROUP BY doc_id""".stripMargin,
      barrier = true),
    // N4 — REAL BPE: merge table driver-trained on the corpus's top
    // words (Sennrich count-and-merge, bounded collect), apply as a
    // codegen kernel (lowest-rank pair, leftmost occurrence, one merge
    // per step); the oracle replays the apply loop as a recursive CTE
    // over the persisted merge table, full segmentation compared
    QuerySpec("bpe_tokenize", (s, d) =>
      TextOps.bpeTokens(docs(s, d), "doc_id", "text", bpeArtifact(s, d)),
      // the BPE apply loop as a recursive CTE over the persisted merge
      // table: each word starts as '|c1|...|cn|'; each step joins
      // LATERAL to the lowest-rank merge whose '|a|b|' pattern occurs
      // and splices its leftmost occurrence — exactly the kernel's
      // (min-rank, leftmost, one-per-step) semantics; the fixpoint row
      // per word is arg_max(seq, step)
      bpeSegSql + """
         |SELECT doc_id,
         |  CAST(sum(len(string_split(trim(seq, '|'), '|'))) AS BIGINT)
         |    AS n_tokens,
         |  string_agg(replace(trim(seq, '|'), '|', ' '), ' '
         |    ORDER BY wi) AS toks
         |FROM fin GROUP BY doc_id""".stripMargin,
      barrier = true),
    // N4 — tokenizer fertility per language: tokens/word and
    // chars/token of the SAME BPE segmentation bpe_tokenize replays —
    // the dataset-card row behind "is this tokenizer efficient for
    // this language mix"; exact integer sums, one division each
    QuerySpec("tokenizer_fertility", (s, d) => {
      val dd = docs(s, d)
      val toks = TextOps.bpeTokens(dd, "doc_id", "text",
          bpeArtifact(s, d))
        .select(col("doc_id"), col("n_tokens"))
      dd.select(col("doc_id"), col("lang"),
          size(TextOps.tokens(col("text"))).cast(LongType)
            .as("n_words"),
          length(translate(col("text"), " ", "")).cast(LongType)
            .as("n_chars"))
        .join(toks, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
        .where(col("n_tokens") > 0L && col("n_words") > 0L)
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_tokens"), col("n_chars"),
          (col("n_tokens").cast(DoubleType) /
            col("n_words").cast(DoubleType)).as("fertility"),
          (col("n_chars").cast(DoubleType) /
            col("n_tokens").cast(DoubleType)).as("chars_per_token"))
    },
      // the same recursive segmentation, folded per language
      bpeSegSql + """,
         |dt AS (SELECT doc_id,
         |  CAST(sum(len(string_split(trim(seq, '|'), '|'))) AS BIGINT)
         |    AS n_tokens FROM fin GROUP BY 1),
         |dm AS (SELECT doc_id, lang,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars
         |  FROM documents)
         |SELECT dm.lang, count(*) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS n_words,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  CAST(sum(n_tokens) AS DOUBLE) / CAST(sum(n_words) AS DOUBLE)
         |    AS fertility,
         |  CAST(sum(n_chars) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE)
         |    AS chars_per_token
         |FROM dm JOIN dt USING (doc_id) GROUP BY 1
         |HAVING sum(n_tokens) > 0 AND sum(n_words) > 0""".stripMargin),
    // N4 — top terms per language: term counts ranked per group; the
    // RankLimitToGroupedTopK rule plans this through the bounded-heap
    // custom operator automatically
    QuerySpec("top_terms_per_lang", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("cnt").desc, col("term").asc)
      docs(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("lang"), col("term"), col("cnt"),
          col("rnk").cast(LongType).as("rnk"))
    },
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |c AS (SELECT lang, term, count(*) AS cnt FROM t GROUP BY 1, 2),
        |r AS (SELECT lang, term, cnt,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY cnt DESC, term) AS BIGINT) AS rnk FROM c)
        |SELECT lang, term, cnt, rnk FROM r WHERE rnk <= 5""".stripMargin),
    // N4 — model-based quality filter: hashed-linear classifier score
    // (fastText inference shape), pure int64 map, kept = score > 0
    QuerySpec("quality_classify", (s, d) =>
      TextOps.classifyScore(docs(s, d), "doc_id", "text"),
      s"""WITH scored AS (
         |  SELECT doc_id, $classifierScoreSql AS score
         |  FROM documents)
         |SELECT doc_id, score, score > 0 AS kept FROM scored""".stripMargin),
    // top-5 keywords per doc by rational-idf TF-IDF (score = tf·N/df,
    // one exact division) — tf/df shuffle pair + bounded-heap
    // GroupedTopK, stopword tier dropped by the length floor
    QuerySpec("doc_keywords", (s, d) =>
      graft.ops.Retrieval.docKeywords(docs(s, d), "doc_id", "text"),
      """WITH tk AS (SELECT doc_id,
        |    unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk
        |  WHERE length(term) >= 4 GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM documents),
        |sc AS (SELECT doc_id, term, tf, df,
        |    CAST(tf * n AS DOUBLE) / CAST(df AS DOUBLE) AS score
        |  FROM tf JOIN dfq USING (term), nn),
        |rk AS (SELECT doc_id, term, tf, df, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term) AS BIGINT) AS rk FROM sc)
        |SELECT doc_id, rk, term, tf, df, score
        |FROM rk WHERE rk <= 5""".stripMargin),
    // DLT priority sampling ∝ n_chars: top-100 by w/u with the
    // fold31-Knuth u — deterministic weighted sample, no full-corpus
    // shuffle (TakeOrderedAndProject)
    QuerySpec("weighted_sample", (s, d) =>
      graft.ops.CorpusOps.prioritySample(docs(s, d), "doc_id",
        col("n_chars")),
      """WITH b AS (SELECT doc_id, n_chars AS w,
        |    ((doc_id % 2147483648 + doc_id // 2147483648)
        |      % 2147483648 * 2654435761) % 4294967296 + 1 AS u
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, w, u,
        |  CAST(w AS DOUBLE) / CAST(u AS DOUBLE) AS priority
        |FROM b ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin),
    // reliability diagram of the hashed-linear score against the
    // lang=='en' tag: equi-width decile bins from a two-long driver
    // census, mean score vs observed rate per bin (the calibration
    // machinery; a trained classifier plugs in its own score+label)
    QuerySpec("calibration_bins", (s, d) => {
      val dd = docs(s, d)
      graft.ops.Eval.calibrationBins(
        dd.select(graft.functions.GraftFunctions.linearScore(
            col("text"), TextOps.classifierWeights).as("score"),
          col("lang")),
        "score", col("lang") === "en")
    },
      // same scored CTE; equi-width decile bins with SQL-side (min,
      // max) census — (s-lo) >= 0 so // floor == Spark's div truncate
      s"""WITH scored AS (
         |  SELECT $classifierScoreSql AS s,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM documents),
         |b AS (SELECT min(s) AS lo, max(s) - min(s) + 1 AS width
         |  FROM scored),
         |binned AS (SELECT ((s - lo) * 10) // width AS bin, s, y
         |  FROM scored, b)
         |SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
         |  CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS mean_score,
         |  CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    AS pos_rate
         |FROM binned GROUP BY 1""".stripMargin),
    // isotonic (PAV) fit over the same deciles via the minimax
    // identity: interval means are single divisions of exact prefix
    // sums, min/max are order-free — the monotone calibration map a
    // trained classifier ships with
    QuerySpec("isotonic_fit", (s, d) => {
      val dd = docs(s, d)
      graft.ops.Eval.isotonicCalibration(
        dd.select(graft.functions.GraftFunctions.linearScore(
            col("text"), TextOps.classifierWeights).as("score"),
          col("lang")),
        "score", col("lang") === "en")
    },
      // the same deciles, then the minimax identity: iso(i) =
      // max_{j<=i} min_{k>=i} mean(j..k) — comparisons over identical
      // single-division doubles, bit-equal to the op by construction
      s"""WITH scored AS (
         |  SELECT $classifierScoreSql AS s,
         |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM documents),
         |bb AS (SELECT min(s) AS lo, max(s) - min(s) + 1 AS width
         |  FROM scored),
         |binned AS (SELECT ((s - lo) * 10) // width AS bin, y
         |  FROM scored, bb),
         |bins AS (SELECT bin, count(*) AS n,
         |  CAST(sum(y) AS BIGINT) AS n_pos FROM binned GROUP BY 1),
         |ms AS (SELECT a.bin AS j, c.bin AS k,
         |  CAST((SELECT sum(x.n_pos) FROM bins x
         |     WHERE x.bin BETWEEN a.bin AND c.bin) AS DOUBLE)
         |  / CAST((SELECT sum(x.n) FROM bins x
         |     WHERE x.bin BETWEEN a.bin AND c.bin) AS DOUBLE) AS m
         |  FROM bins a JOIN bins c ON a.bin <= c.bin),
         |f1 AS (SELECT ms.j, i.bin AS i, min(ms.m) AS mn
         |  FROM ms JOIN bins i ON ms.j <= i.bin AND ms.k >= i.bin
         |  GROUP BY 1, 2),
         |f2 AS (SELECT i AS bin, max(mn) AS iso_rate FROM f1
         |  GROUP BY 1)
         |SELECT bins.bin, bins.n, bins.n_pos,
         |  CAST(bins.n_pos AS DOUBLE) / CAST(bins.n AS DOUBLE)
         |    AS pos_rate,
         |  f2.iso_rate
         |FROM bins JOIN f2 USING (bin)""".stripMargin),
    // N10 — Luhn-validated card detection: candidates come from a
    // deterministic per-doc synthetic PAN (the fixture corpus carries
    // no digits) embedded with dash separators plus a short decoy run;
    // the op extracts, normalizes, checksum-validates (LuhnValid
    // codegen kernel) and masks. The oracle re-derives the same PAN
    // with integer arithmetic and refolds the Luhn sum in SQL.
    QuerySpec("pii_cards", (s, d) => {
      val pan = concat(
        lpad(((col("doc_id") * lit(2654435761L)) % lit(999999999999999L))
          .cast("string"), 15, "0"),
        (col("doc_id") % 10).cast("string"))
      val synth = docs(s, d).select(col("doc_id"),
        concat(lit("card "),
          substring(pan, 1, 4), lit("-"), substring(pan, 5, 4),
          lit("-"), substring(pan, 9, 4), lit("-"), substring(pan, 13, 4),
          lit(" ref 123")).as("txt"))
      TextOps.piiCards(synth, "doc_id", "txt")
    },
      """WITH c AS (SELECT doc_id,
        |  lpad(CAST((doc_id * 2654435761) % 999999999999999 AS VARCHAR),
        |       15, '0') || CAST(doc_id % 10 AS VARCHAR) AS pan
        |  FROM documents),
        |t AS (SELECT doc_id,
        |  'card ' || substr(pan, 1, 4) || '-' || substr(pan, 5, 4) || '-'
        |    || substr(pan, 9, 4) || '-' || substr(pan, 13, 4)
        |    || ' ref 123' AS txt FROM c),
        |e AS (SELECT doc_id,
        |  unnest(regexp_extract_all(txt, '[0-9](?:[ -]?[0-9]){12,18}'))
        |    AS cand FROM t),
        |n AS (SELECT doc_id,
        |  regexp_replace(cand, '[ -]', '', 'g') AS card_digits FROM e),
        |f AS (SELECT doc_id, card_digits FROM n
        |  WHERE len(card_digits) BETWEEN 13 AND 19)
        |SELECT doc_id, card_digits,
        |  list_sum(list_transform(range(1, len(card_digits) + 1),
        |    i -> CASE WHEN (len(card_digits) - i) % 2 = 1
        |      THEN CASE WHEN 2 * CAST(substr(card_digits, i, 1) AS INT) > 9
        |           THEN 2 * CAST(substr(card_digits, i, 1) AS INT) - 9
        |           ELSE 2 * CAST(substr(card_digits, i, 1) AS INT) END
        |      ELSE CAST(substr(card_digits, i, 1) AS INT) END)) % 10 = 0
        |    AS luhn_valid,
        |  repeat('*', len(card_digits) - 4)
        |    || substr(card_digits, len(card_digits) - 3, 4) AS masked
        |FROM f""".stripMargin),
    // N4 — lang-ID confusion counts against the fixture's labeled lang
    QuerySpec("langid_confusion", (s, d) =>
      docs(s, d).select(col("lang"),
        TextOps.langId(col("text")).as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n")),
      {
        val (counts, best, cases) = langVoteSql
        s"""WITH b AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w
           |  FROM documents),
           |c AS (SELECT doc_id, lang,
           |  $counts
           |  FROM b),
           |m AS (SELECT doc_id, lang, c_en, c_es, c_de, c_fr,
           |  $best AS best FROM c),
           |p AS (SELECT lang, CASE
           |  $cases
           |  ELSE 'unknown' END AS pred FROM m)
           |SELECT lang, pred, count(*) AS n FROM p GROUP BY 1, 2""".stripMargin
      }),
    // the classifier card's headline row: P/R/F1 of the hashed
    // linear English detector against the lang label — exact counts,
    // one division each, written-down F1
    QuerySpec("classifier_prf", (s, d) =>
      graft.ops.Eval.binaryPrf(
        docs(s, d).select(
          graft.functions.GraftFunctions.linearScore(col("text"),
            TextOps.classifierWeights).as("sc"),
          col("lang")),
        col("sc") > 0L, col("lang") === "en"),
      // hashed-score CTE, exact counts, the same guarded divisions
      s"""WITH sc AS (SELECT doc_id,
         |  $classifierScoreSql
         |    AS s FROM documents),
         |j AS (SELECT sc.s > 0 AS p, d.lang = 'en' AS t
         |  FROM documents d JOIN sc USING (doc_id)),
         |w AS (SELECT count(*) AS n,
         |  CAST(sum(CASE WHEN p AND t THEN 1 ELSE 0 END) AS BIGINT)
         |    AS tp,
         |  CAST(sum(CASE WHEN p AND NOT t THEN 1 ELSE 0 END)
         |    AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN NOT p AND t THEN 1 ELSE 0 END)
         |    AS BIGINT) AS fn,
         |  CAST(sum(CASE WHEN NOT p AND NOT t THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tn
         |  FROM j),
         |f AS (SELECT *,
         |  CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE)
         |    / CAST(tp + fp AS DOUBLE) ELSE 0.0 END AS precision,
         |  CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE)
         |    / CAST(tp + fn AS DOUBLE) ELSE 0.0 END AS recall
         |  FROM w)
         |SELECT n, tp, fp, fn, tn, precision, recall,
         |  CASE WHEN precision + recall > 0.0 THEN
         |    2.0 * (precision * recall) / (precision + recall)
         |  ELSE 0.0 END AS f1
         |FROM f""".stripMargin),
    // do the two English detectors agree beyond chance, and do their
    // ERROR RATES differ — Cohen's kappa + McNemar between the
    // marker-vote langid and the hashed linear classifier, truth =
    // the lang column; exact integers until one division each
    QuerySpec("classifier_agreement", (s, d) =>
      graft.ops.Eval.classifierAgreement(
        docs(s, d).select(
          TextOps.langId(col("text")).as("li"),
          graft.functions.GraftFunctions.linearScore(col("text"),
            TextOps.classifierWeights).as("sc"),
          col("lang")),
        col("li") === "en", col("sc") > 0L, col("lang") === "en"),
      // langid CASE ladder + the hashed-score CTE, then the exact
      // integer kappa/McNemar rearrangements
      {
        val (counts, best, cases) = langVoteSql
        s"""WITH bw AS (SELECT doc_id,
           |  string_split(lower(text), ' ') AS w FROM documents),
           |cc0 AS (SELECT doc_id, $counts FROM bw),
           |mm AS (SELECT doc_id, c_en, c_es, c_de, c_fr,
           |  $best AS best FROM cc0),
           |li AS (SELECT doc_id, CASE
           |  $cases
           |  ELSE 'unknown' END AS lang_id FROM mm),
           |sc AS (SELECT doc_id, $classifierScoreSql
           |    AS s FROM documents),
           |j AS (SELECT li.lang_id = 'en' AS a, sc.s > 0 AS b,
           |  d.lang = 'en' AS t
           |  FROM documents d JOIN li USING (doc_id)
           |  JOIN sc USING (doc_id)),
           |w AS (SELECT count(*) AS n,
           |  CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS HUGEINT)
           |    AS n11,
           |  CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
           |    AS HUGEINT) AS n10,
           |  CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
           |    AS HUGEINT) AS n01,
           |  CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
           |    AS HUGEINT) AS n00,
           |  CAST(sum(CASE WHEN a = t AND b <> t THEN 1 ELSE 0 END)
           |    AS BIGINT) AS bb,
           |  CAST(sum(CASE WHEN a <> t AND b = t THEN 1 ELSE 0 END)
           |    AS BIGINT) AS cc
           |  FROM j),
           |f AS (SELECT *,
           |  (n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)
           |    AS p,
           |  CAST(n AS HUGEINT) * n AS n2 FROM w)
           |SELECT CAST(n AS BIGINT) AS n,
           |  CAST(n11 + n00 AS BIGINT) AS n_agree,
           |  CASE WHEN n2 - p > 0 THEN
           |    CAST((n11 + n00) * n - p AS DOUBLE)
           |      / CAST(n2 - p AS DOUBLE)
           |  ELSE 0.0 END AS kappa,
           |  bb AS b, cc AS c,
           |  CASE WHEN bb + cc > 0 THEN
           |    CAST(CAST(bb - cc AS HUGEINT) * (bb - cc) AS DOUBLE)
           |      / CAST(bb + cc AS DOUBLE)
           |  ELSE 0.0 END AS mcnemar_chi2
           |FROM f""".stripMargin
      }),
    // N4 pipeline — deterministic stratified train/val/test split by
    // content hash, reported per (lang, split): the reproducible data
    // split every training run hangs on. Content-hash keying keeps
    // exact duplicates inside one split (no train/eval leakage).
    QuerySpec("stratified_split", (s, d) =>
      docs(s, d).select(col("lang"),
          TextOps.splitAssign(col("text")).as("split"),
          size(TextOps.tokens(col("text"))).cast(LongType).as("n_tok"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens")),
      s"""WITH f AS (SELECT lang,
         |  ${sqlPolyHash("text")} % 10 AS b,
         |  len(string_split(text, ' ')) AS n_tok FROM documents),
         |s AS (SELECT lang,
         |  CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val'
         |       ELSE 'test' END AS split, n_tok FROM f)
         |SELECT lang, split, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM s GROUP BY 1, 2""".stripMargin),
    // N2/N4 audit — the WHY of cluster_split: count near-dup pairs
    // that STRADDLE the naive content-hash split (same pair predicate
    // as neardup_minhash, split labels normalized to an unordered
    // pair) — the train/eval leakage a per-doc hash split permits
    QuerySpec("split_leakage", (s, d) => {
      val dd = docs(s, d)
      val sp = dd.select(col("doc_id"),
        TextOps.splitAssign(col("text")).as("split"))
      Dedup.minhashPairs(dd, "doc_id", "text", threshold = 0.5)
        .join(sp.select(col("doc_id").as("doc_a"),
          col("split").as("split_a")), "doc_a")
        .join(sp.select(col("doc_id").as("doc_b"),
          col("split").as("split_b")), "doc_b")
        .groupBy(least(col("split_a"), col("split_b")).as("split_lo"),
          greatest(col("split_a"), col("split_b")).as("split_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("leaked", col("split_lo") =!= col("split_hi"))
    },
      // the neardup_minhash pair predicate + the polyHash split replay,
      // pair labels normalized to an unordered (lo, hi)
      s"""WITH $shingleInterCte,
         |pr AS (SELECT ia, ib FROM pint
         |  WHERE CAST(inter AS DOUBLE)
         |    / CAST(la + lb - inter AS DOUBLE) >= 0.5),
         |spl AS (SELECT doc_id,
         |  CASE WHEN ${sqlPolyHash("text")} % 10 < 8 THEN 'train'
         |       WHEN ${sqlPolyHash("text")} % 10 < 9 THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM documents)
         |SELECT least(a.split, b.split) AS split_lo,
         |  greatest(a.split, b.split) AS split_hi,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  least(a.split, b.split) <> greatest(a.split, b.split)
         |    AS leaked
         |FROM pr JOIN spl a ON a.doc_id = ia
         |JOIN spl b ON b.doc_id = ib
         |GROUP BY 1, 2, 4""".stripMargin),
    // N2/N4 pipeline — cluster-aware split: near-dup COMPONENTS are
    // the split key (8/1/1 by canonical_id), so paraphrase pairs can
    // never straddle train/eval — the leakage guarantee an exact
    // content-hash split cannot give
    QuerySpec("cluster_split", (s, d) =>
      CorpusOps.clusterSplit(docs(s, d), "doc_id", "text",
        threshold = 0.5),
      // dedup_corpus's CC CTE chain, then the 8/1/1 canonical_id bucket
      s"""WITH $corpusComponentCtes,
         |cc AS (SELECT id AS doc_id, comp AS canonical_id FROM l4),
         |tk AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |j AS (SELECT CASE WHEN canonical_id % 10 < 8 THEN 'train'
         |    WHEN canonical_id % 10 < 9 THEN 'val'
         |    ELSE 'test' END AS split, canonical_id, n_tok
         |  FROM cc JOIN tk USING (doc_id))
         |SELECT split,
         |  CAST(count(DISTINCT canonical_id) AS BIGINT) AS n_clusters,
         |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM j GROUP BY 1""".stripMargin),
    // N1/N2/N4 end-to-end — the C4-style corpus cleanup an LLM data
    // pipeline actually ships: near-dup removal (keep the canonical
    // representative) ∩ quality floor, annotated with language ID and
    // token budget. Composes dedupCorpus + quality + langId in ONE
    // plan: the dedup side reduces to a doc_id semi-join key set, the
    // quality/langid side is a pure map — so the whole cleanup is one
    // candidate-bounded dedup plus one broadcast-able semi join at any
    // scale.
    QuerySpec("corpus_clean", (s, d) => {
      val dd = docs(s, d)
      val kept = Dedup.dedupCorpus(dd, "doc_id", "text", threshold = 0.5)
        .filter(col("kept")).select("doc_id")
      // quality metrics and language id ride in ONE projection (one
      // scan, one map) — never a self-join of the table per derived
      // column — then a single semi join against the kept set
      TextOps.quality(dd, "doc_id", "text",
          extra = Seq(TextOps.langId(col("text")).as("lang_id")))
        .select(col("doc_id"), col("n_tokens"), col("quality_score"),
          col("lang_id"))
        .join(kept, Seq("doc_id"), "left_semi")
        .filter(col("quality_score") >= 0.44)
    },
      {
        // dedup_corpus's pair predicate + the SAME 4 propagation rounds,
        // then quality + langid recomputed per the text_quality / langid
        // oracles, intersected exactly as the Spark plan does
        val (counts, best, cases) = langVoteSql
        s"""WITH $corpusComponentCtes,
           |keep AS (SELECT id AS doc_id FROM l4 WHERE id = comp),
           |qb AS (SELECT doc_id, text, string_split(text, ' ') AS w,
           |  CAST(length(text) AS BIGINT) AS n_chars FROM documents),
           |qm AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
           |  CAST(len(list_filter(w, t -> t='the' OR t='a' OR t='of' OR t='and'
           |    OR t='to' OR t='in' OR t='is')) AS BIGINT) AS n_stop,
           |  CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS alpha,
           |  n_chars FROM qb),
           |q AS (SELECT doc_id, n_tokens,
           |  CAST(alpha AS DOUBLE)/CAST(n_chars AS DOUBLE)*0.5
           |    + CAST(n_stop AS DOUBLE)/CAST(n_tokens AS DOUBLE)*0.5 AS quality_score
           |  FROM qm),
           |lb AS (SELECT doc_id, string_split(lower(text), ' ') AS w
           |  FROM documents),
           |lc AS (SELECT doc_id,
           |  $counts
           |  FROM lb),
           |lm AS (SELECT doc_id, c_en, c_es, c_de, c_fr, $best AS best FROM lc),
           |lid AS (SELECT doc_id, CASE
           |  $cases
           |  ELSE 'unknown' END AS lang_id FROM lm)
           |SELECT q.doc_id, q.n_tokens, q.quality_score, lid.lang_id
           |FROM q JOIN lid ON q.doc_id = lid.doc_id
           |JOIN keep ON q.doc_id = keep.doc_id
           |WHERE q.quality_score >= 0.44""".stripMargin
      }),
    // N6 — sessionization, gaps-and-islands form
    QuerySpec("sessionize", (s, d) =>
      Sessionize.gapsAndIslands(Tables.events(s, d), gapSeconds = 1800),
      s"""WITH ${OracleSql.sessionStarts()},
        |s AS (SELECT user_id, ts,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
        |  FROM f)
        |SELECT user_id, sess_id, min(ts) AS sess_start, max(ts) AS sess_end,
        |  count(*) AS n_events
        |FROM s GROUP BY 1, 2""".stripMargin),
    // N6 — inter-session return gaps: days between a user's
    // consecutive session starts, summarized by exact rank selection
    // over the day-domain gap census — the "how long until they come
    // back" retention number beside cohort_retention's matrix
    QuerySpec("session_gaps", (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val wk = W.partitionBy(col("user_id")).orderBy(col("sess_start"))
      val gaps = Sessionize
        .gapsAndIslands(Tables.events(s, d), gapSeconds = 1800)
        .withColumn("nxt", lead(col("sess_start"), 1).over(wk))
        .where(col("nxt").isNotNull)
        .select(expr("(unix_micros(nxt) - unix_micros(sess_start))" +
          " div 86400000000L").as("gap_days"))
      val wc = W.orderBy(col("gap_days"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val wAll = W.rowsBetween(W.unboundedPreceding,
        W.unboundedFollowing)
      gaps.groupBy(col("gap_days")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(wc))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .agg(max(col("n")).as("n_gaps"),
          min(when(col("cum") >= expr("(n + 1) div 2"),
            col("gap_days"))).as("p50_days"),
          min(when(col("cum") >= expr("(9 * n + 9) div 10"),
            col("gap_days"))).as("p90_days"))
    },
      // the sessionize CTE; per-user lead, day-census rank selection
      s"""WITH ${OracleSql.sessionStarts()},
        |s AS (SELECT user_id, ts,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS sess_id
        |  FROM f),
        |sess AS (SELECT user_id, sess_id, min(ts) AS sess_start
        |  FROM s GROUP BY 1, 2),
        |g AS (SELECT user_id, sess_start,
        |  lead(sess_start) OVER (PARTITION BY user_id
        |    ORDER BY sess_start) AS nxt FROM sess),
        |gd AS (SELECT (epoch_us(nxt) - epoch_us(sess_start))
        |    // 86400000000 AS gap_days
        |  FROM g WHERE nxt IS NOT NULL),
        |c AS (SELECT gap_days, CAST(count(*) AS BIGINT) AS cnt
        |  FROM gd GROUP BY 1),
        |cum AS (SELECT gap_days,
        |  CAST(sum(cnt) OVER (ORDER BY gap_days ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST((SELECT sum(cnt) FROM c) AS BIGINT) AS n FROM c)
        |SELECT max(n) AS n_gaps,
        |  min(CASE WHEN cum >= (n + 1) // 2 THEN gap_days END)
        |    AS p50_days,
        |  min(CASE WHEN cum >= (9 * n + 9) // 10 THEN gap_days END)
        |    AS p90_days
        |FROM cum""".stripMargin),
    // N6 — daily bounce rate over the same session assignment: share
    // of single-event sessions per session-start day, the engagement
    // KPI read of sessionize; exact counts, one division
    QuerySpec("bounce_rate", (s, d) =>
      Sessionize.gapsAndIslands(Tables.events(s, d), gapSeconds = 1800)
        .groupBy(expr("unix_micros(sess_start) div 86400000000L")
          .as("day"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("n_events") === 1L, 1L).otherwise(0L))
            .as("n_bounced"))
        .select(col("day"), col("n_sessions"), col("n_bounced"),
          (col("n_bounced").cast(org.apache.spark.sql.types.DoubleType)
            / col("n_sessions")
              .cast(org.apache.spark.sql.types.DoubleType))
            .as("bounce_rate")),
      // the sessionize CTE aggregated to session-start days
      s"""WITH ${OracleSql.sessionStarts()},
        |s AS (SELECT user_id, ts,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS sess_id
        |  FROM f),
        |sess AS (SELECT user_id, sess_id, min(ts) AS sess_start,
        |  count(*) AS n_events FROM s GROUP BY 1, 2),
        |d AS (SELECT epoch_us(sess_start) // 86400000000 AS day,
        |  n_events FROM sess)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_bounced,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS bounce_rate
        |FROM d GROUP BY 1""".stripMargin),
    // N6 — streaming sessionizer (flatMapGroupsWithState: event-driven
    // closes + watermark-timeout closes), batch-replayed: end-of-input
    // closes every open session, so the row shares sessionize's
    // session set minus the per-user ordinal
    QuerySpec("sessionize_stream", (s, d) =>
      graft.streaming.SessionStream.sessionStream(
          Tables.events(s, d), gapSeconds = 1800)
        .select(col("user_id"),
          timestamp_micros(col("sess_start_us")).as("sess_start"),
          timestamp_micros(col("sess_end_us")).as("sess_end"),
          col("n_events")),
      // same session-assignment CTE; the streaming twin carries no
      // per-user ordinal, so the ordinal groups but is not selected
      s"""WITH ${OracleSql.sessionStarts()},
        |s AS (SELECT user_id, ts,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
        |  FROM f)
        |SELECT user_id, min(ts) AS sess_start, max(ts) AS sess_end,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sess_id""".stripMargin),
    // N6 — capacity gauge over the same session assignment: peak
    // concurrent sessions per day. Two-level sweep line — boundaries
    // pre-aggregated to minute-grain net deltas so the global running
    // sum only ever sees a calendar-bounded frame (≤ 44 640 rows for
    // a month at ANY data volume; allowlisted in PlanQualitySpec)
    QuerySpec("peak_concurrency", (s, d) =>
      Sessionize.peakConcurrency(Tables.events(s, d), gapSeconds = 1800),
      s"""WITH ${OracleSql.sessionStarts()},
        |s AS (SELECT user_id, ts,
        |  sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM f),
        |se AS (SELECT user_id, sess_id, min(epoch_us(ts)) AS smin,
        |    max(epoch_us(ts)) AS smax FROM s GROUP BY 1, 2),
        |dlt AS (SELECT smin // 60000000 AS minute, 1 AS delta FROM se
        |  UNION ALL
        |  SELECT smax // 60000000 + 1, -1 FROM se),
        |g AS (SELECT minute, CAST(sum(delta) AS BIGINT) AS delta
        |  FROM dlt GROUP BY 1),
        |r AS (SELECT minute, CAST(sum(delta) OVER (ORDER BY minute
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS live FROM g)
        |SELECT CAST(minute // 1440 AS BIGINT) AS day_idx,
        |  CAST(max(live) AS BIGINT) AS peak_concurrent
        |FROM r GROUP BY 1""".stripMargin),
    // N6 — sessionization, native session_window form
    // top-20 most common session paths (first 5 steps) — the
    // path-analysis / Sankey input over the same session assignment
    QuerySpec("top_paths", (s, d) =>
      Sessionize.topPaths(Tables.events(s, d)),
      s"""WITH ${OracleSql.sessionStarts(", event_type")},
        |s AS (SELECT user_id, ts, event_id, event_type,
        |  sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
        |    AS sess_id FROM f),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id,
        |    sess_id ORDER BY ts, event_id) AS rn FROM s),
        |p AS (SELECT user_id, sess_id,
        |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM r WHERE rn <= 5 GROUP BY 1, 2),
        |c AS (SELECT path, count(*) AS n_sessions FROM p GROUP BY 1)
        |SELECT path, n_sessions FROM c
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin),
    // session-basket association rules over the same session
    // assignment: support / both confidences / lift per type pair,
    // pair unfold bounded by the type vocabulary per session
    QuerySpec("session_assoc", (s, d) =>
      Sessionize.sessionAssoc(Tables.events(s, d), gapSeconds = 1800),
      // same session-assignment CTE; distinct (session, type) baskets,
      // identical one-division ratio chain
      s"""WITH ${OracleSql.sessionStarts(", event_type")},
        |s AS (SELECT user_id, event_type,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS sess_id
        |  FROM f),
        |st AS (SELECT DISTINCT user_id, sess_id, event_type FROM s),
        |ns AS (SELECT count(*) AS n FROM
        |  (SELECT DISTINCT user_id, sess_id FROM st)),
        |sg AS (SELECT event_type, count(*) AS n_t FROM st GROUP BY 1),
        |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_ab
        |  FROM st a JOIN st b ON a.user_id = b.user_id
        |    AND a.sess_id = b.sess_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b,
        |  sa.n_t AS n_a, sb.n_t AS n_b, n_ab,
        |  CAST(n AS BIGINT) AS n_sessions,
        |  CAST(n_ab AS DOUBLE) / CAST(n AS DOUBLE) AS support,
        |  CAST(n_ab AS DOUBLE) / CAST(sa.n_t AS DOUBLE) AS conf_a_to_b,
        |  CAST(n_ab AS DOUBLE) / CAST(sb.n_t AS DOUBLE) AS conf_b_to_a,
        |  CAST(n_ab * n AS DOUBLE) / CAST(sa.n_t * sb.n_t AS DOUBLE)
        |    AS lift
        |FROM pr
        |JOIN sg sa ON sa.event_type = pr.type_a
        |JOIN sg sb ON sb.event_type = pr.type_b, ns
        |WHERE n_ab >= 2""".stripMargin),
    QuerySpec("sessionize_native", (s, d) =>
      Sessionize.sessionWindow(Tables.events(s, d), gap = "30 minutes"),
      s"""WITH ${OracleSql.sessionStarts()},
        |s AS (SELECT user_id, ts,
        |  sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM f)
        |SELECT user_id, min(ts) AS sess_start, count(*) AS n_events
        |FROM s GROUP BY user_id, sess_id""".stripMargin),
    // N5 — REAL header decode (PNG IHDR / JPEG SOF scan / GIF) over
    // synthesized-but-valid payloads; the oracle checks the round trip
    // parse(synthesize(w, h)) == (w, h) per row. Expression form.
    QuerySpec("multimodal_meta", (s, d) =>
      Multimodal.decodeMeta(Multimodal.imagePayload(docs(s, d))),
      // the synthesized headers carry w = 16 + doc_id % 317,
      // h = 16 + 7·doc_id % 211; header+trailer overhead is 23 bytes for
      // JPEG (SOI + SOF0 + EOI), 33 for PNG (sig + IHDR), 14 for GIF
      // (GIF89a + screen descriptor + trailer). Spark recovers all of it
      // by PARSING the bytes — equality here proves the parser.
      multimodalMetaOracle),
    // N5 — second image family: BMP (incl. the top-down
    // negative-height encoding) + WebP VP8X through the same
    // magic-dispatch decode; oracle = round trip of the dim formulas
    QuerySpec("image_meta_ext", (s, d) =>
      Multimodal.decodeMeta(Multimodal.imagePayloadExt(docs(s, d))),
      // BMP is 54 header bytes, WebP VP8X 30; dims share the base
      // formulas (the negative-height BMPs decode to the same
      // magnitude, which is the point)
      """WITH b AS (SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS tlen
        |  FROM documents)
        |SELECT doc_id,
        |  tlen + CASE doc_id % 2 WHEN 0 THEN 54 ELSE 30 END
        |    AS byte_len,
        |  16 + doc_id % 317 AS width,
        |  16 + (doc_id * 7) % 211 AS height,
        |  CAST(1 AS BIGINT) AS n_frames,
        |  CASE doc_id % 2 WHEN 0 THEN 'bmp' ELSE 'webp' END AS fmt
        |FROM b""".stripMargin),
    // N5 — TIFF joins the real-parser family: IFD walk in BOTH byte
    // orders (the "MM" big-endian half is what LE-only parsers get
    // wrong), tags 256/257, bounds-checked against truncation
    QuerySpec("image_meta_tiff", (s, d) =>
      Multimodal.decodeMeta(Multimodal.tiffPayload(docs(s, d))),
      // round trip: header adds 38 bytes in both byte orders; dims per
      // the shared family formulas
      """WITH b AS (SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS tlen
        |  FROM documents)
        |SELECT doc_id, tlen + 38 AS byte_len,
        |  16 + doc_id % 317 AS width,
        |  16 + (doc_id * 7) % 211 AS height,
        |  CAST(1 AS BIGINT) AS n_frames,
        |  'tiff' AS fmt
        |FROM b""".stripMargin),
    // N5 — same decode, per-partition batched (mapPartitions) form
    QuerySpec("multimodal_decode", (s, d) =>
      Multimodal.decodePartition(s, Multimodal.imagePayload(docs(s, d))).toDF(),
      multimodalMetaOracle),
    // N5 — resize planning on decoded metadata
    QuerySpec("multimodal_resize", (s, d) =>
      Multimodal.resizeDims(
        Multimodal.decodeMeta(Multimodal.imagePayload(docs(s, d)))),
      """WITH m AS (SELECT doc_id,
        |  16 + doc_id % 317 AS width,
        |  16 + (doc_id * 7) % 211 AS height
        |  FROM documents)
        |SELECT doc_id, width, height,
        |  CASE WHEN width >= height THEN 224
        |       ELSE width * 224 // height END AS out_w,
        |  CASE WHEN width >= height THEN height * 224 // width
        |       ELSE 224 END AS out_h
        |FROM m""".stripMargin),
    // N5 — REAL audio header decode (RIFF/WAVE chunk walk) over
    // synthesized valid PCM WAVs; oracle = round trip like the images
    QuerySpec("audio_meta", (s, d) =>
      Multimodal.decodeAudioMeta(Multimodal.audioPayload(docs(s, d))),
      // WAV: 44-byte header (RIFF+fmt+data preamble) + text as PCM data;
      // channels/rate ride in the fmt chunk, n_samples = data/blockAlign
      """WITH b AS (SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS tlen,
        |  1 + doc_id % 2 AS channels,
        |  8000 + (doc_id * 13) % 40000 AS sample_rate
        |  FROM documents)
        |SELECT doc_id, tlen + 44 AS byte_len, channels, sample_rate,
        |  CAST(16 AS BIGINT) AS bits,
        |  tlen // (channels * 2) AS n_samples,
        |  'wav' AS fmt
        |FROM b""".stripMargin),
    // N5 — REAL video header decode (MP4 nested box walk to
    // moov/mvhd + trak/tkhd) over synthesized valid MP4s
    QuerySpec("video_meta", (s, d) =>
      Multimodal.decodeVideoMeta(Multimodal.videoPayload(docs(s, d))),
      // MP4: ftyp(20) + moov(216: mvhd 108 + trak 100) + mdat header(8)
      // + text as the mdat payload; duration ticks = (1+doc_id%7200)*9000
      // at timescale 90000 → exactly (1+doc_id%7200)*100 ms
      """WITH b AS (SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS tlen
        |  FROM documents)
        |SELECT doc_id, tlen + 244 AS byte_len,
        |  (1 + doc_id % 7200) * 100 AS duration_ms,
        |  160 + (doc_id % 8) * 80 AS width,
        |  120 + (doc_id % 6) * 60 AS height,
        |  'mp4' AS fmt
        |FROM b""".stripMargin),
    // N5 — mixed-corpus magic-byte dispatch: detect the modality of
    // every blob and decode with the matching parser, one codegen pass
    QuerySpec("media_catalog", (s, d) => Multimodal.mediaCatalog(docs(s, d)),
      // dispatch: modality by doc_id % 3 (image→all-jpeg branch of the
      // synthesizer, audio→wav, video→mp4); dims per the family formulas
      """WITH b AS (SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS tlen
        |  FROM documents)
        |SELECT doc_id,
        |  tlen + CASE doc_id % 3 WHEN 0 THEN 23 WHEN 1 THEN 44
        |    ELSE 244 END AS byte_len,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |    ELSE 'video' END AS kind,
        |  CASE doc_id % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'wav'
        |    ELSE 'mp4' END AS fmt,
        |  CASE doc_id % 3 WHEN 0 THEN 16 + doc_id % 317
        |       WHEN 1 THEN 8000 + (doc_id * 13) % 40000
        |       ELSE 160 + (doc_id % 8) * 80 END AS dim1,
        |  CASE doc_id % 3 WHEN 0 THEN 16 + (doc_id * 7) % 211
        |       WHEN 1 THEN 1 + doc_id % 2
        |       ELSE 120 + (doc_id % 6) * 60 END AS dim2
        |FROM b""".stripMargin),
    // N5 — frame sampling: binary slices, one row per frame
    QuerySpec("frame_sample", (s, d) =>
      Multimodal.frameSample(Multimodal.withPayload(docs(s, d))),
      {
        // ASCII fixture ⇒ byte slicing == char substr (parity asserted:
        // octet_length == length for every row, checked in AvroOcf-era
        // fixture analysis); replays the exact slicing arithmetic
        s"""WITH b AS (SELECT doc_id, text,
           |  CAST(length(text) AS BIGINT) AS n FROM documents),
           |p AS (SELECT doc_id, text, n, 1 + n % 30 AS n_frames,
           |  greatest(1, n // (1 + n % 30)) AS stride FROM b),
           |f AS (SELECT doc_id, n AS byte_len,
           |  unnest(range(0, n_frames)) AS frame_idx, text, stride FROM p),
           |s AS (SELECT doc_id, byte_len, frame_idx,
           |  substr(text, CAST(frame_idx * stride + 1 AS BIGINT),
           |         CAST(stride AS BIGINT)) AS fr FROM f)
           |SELECT doc_id, byte_len, frame_idx,
           |  CAST(length(fr) AS BIGINT) AS frame_len,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_transform(range(1, length(fr)+1),
           |      i -> CAST(ascii(substr(fr, i, 1)) AS BIGINT))),
           |    (acc, c) -> (acc*31+c) % ${TextOps.FpMod}) AS frame_fp
           |FROM s""".stripMargin
      }),
    // N5 — bag-of-bytes feature extraction (ByteHistogram kernel)
    QuerySpec("byte_histogram", (s, d) =>
      Multimodal.byteHistogram(Multimodal.withPayload(docs(s, d))),
      """WITH c AS (SELECT doc_id,
        |  unnest(list_transform(range(1, length(text)+1),
        |    i -> ascii(substr(text, i, 1)) % 16)) AS bucket
        |  FROM documents),
        |counts AS (SELECT doc_id, bucket, count(*) AS cnt
        |  FROM c GROUP BY doc_id, bucket),
        |all_buckets AS (SELECT d.doc_id, b.bucket
        |  FROM (SELECT DISTINCT doc_id FROM documents) d,
        |       (SELECT unnest(range(0, 16)) AS bucket) b)
        |SELECT a.doc_id, CAST(a.bucket AS BIGINT) AS bucket,
        |  CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
        |FROM all_buckets a LEFT JOIN counts c
        |  ON a.doc_id = c.doc_id AND a.bucket = c.bucket""".stripMargin),
    // N7 — approx distinct with an in-query tolerance check: the row
    // hashes equal to the oracle iff the HLL++ estimate is within 5%.
    // rsd is pinned at 0.01 so the 5% tolerance is a ~5-sigma bound —
    // the default rsd 0.05 makes "within 5%" a one-sigma coin flip
    // that failed at sf0.1 (est. 1500 missed by >5%)
    // r15: distinct FIRST, then both aggregates over the distinct
    // frame — the mixed distinct/non-distinct aggregate planned an
    // Expand (2× every event row) + a two-phase distinct; the HLL++
    // sketch is duplicate-insensitive (registers are maxes over
    // per-value hashes), so approx over the distinct user set is
    // bit-identical and countDistinct becomes a plain count
    QuerySpec("approx_distinct", (s, d) =>
      Tables.events(s, d).select(col("user_id")).distinct()
        .agg(approx_count_distinct(col("user_id"), 0.01).as("approx"),
          count(lit(1)).as("exact_cnt"))
        .select(col("exact_cnt"),
          (abs(col("approx") - col("exact_cnt")).cast(DoubleType) /
            col("exact_cnt").cast(DoubleType) <= 0.05).as("within_tol")),
      """SELECT count(DISTINCT user_id) AS exact_cnt, true AS within_tol
        |FROM events""".stripMargin,
      barrier = true),
    // N7 — INCREMENTAL distinct: per-day HLL sketches (DataSketches
    // hll_sketch_agg, lgK=14 ≈ 0.8% rsd) persisted as the daily-job
    // artifact, rolled up by hll_union_agg over the READ-BACK binaries
    // — the day's distinct-count cost never rescans history, and any
    // date range unions in O(days) sketch rows. The in-query exact
    // count is the GATE only (approx_distinct tolerance pattern: the
    // row hashes equal to the oracle's `true` iff the union estimate
    // lands within 5%).
    QuerySpec("distinct_users_sketch", (s, d) => {
      val ev = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val dir = hllDailyArtifact(s, d)
      val appr = Tables.parquet(s, dir)
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))")
          .as("approx"))
        .withColumn("__jk", pmod(xxhash64(col("approx")), lit(1L)))
      ev.agg(countDistinct(col("user_id")).as("exact_cnt"))
        .withColumn("__jk", pmod(xxhash64(col("exact_cnt")), lit(1L)))
        .join(broadcast(appr), "__jk")
        .select(col("exact_cnt"),
          (abs(col("approx") - col("exact_cnt")).cast(DoubleType) /
            col("exact_cnt").cast(DoubleType) <= 0.05).as("within_tol"))
    },
      """SELECT count(DISTINCT user_id) AS exact_cnt, true AS within_tol
        |FROM events""".stripMargin),
    // N7 — sketch ALGEBRA: pairwise audience overlap between event
    // segments by inclusion-exclusion over HLL sketches
    // (est(A)+est(B)-est(A∪B) via the scalar hll_union) — the
    // cross-segment analysis that at 100 TB runs on sketch rows, not
    // raw users. Exact overlap rides along as the gate (the per-user
    // segment list is bounded by the segment vocabulary, so the
    // user-keyed equi-self-join is scalable — never an inequality
    // join): the row hashes equal to the oracle iff every estimate
    // lands within 5% of the exact union size.
    QuerySpec("audience_overlap", (s, d) => {
      val ue = Tables.events(s, d)
        .select(col("event_type").as("seg"), col("user_id")).distinct()
      val sizes = ue.groupBy(col("seg")).agg(count(lit(1)).as("n"))
      val exact = ue.select(col("seg").as("seg_a"), col("user_id"))
        .join(ue.select(col("seg").as("seg_b"), col("user_id")), "user_id")
        .filter(col("seg_a") < col("seg_b"))
        .groupBy(col("seg_a"), col("seg_b"))
        .agg(count(lit(1)).as("exact_overlap"))
      val sk = ue.groupBy(col("seg"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      exact
        .join(broadcast(sk.select(col("seg").as("seg_a"),
          col("sk").as("sk_a"))), "seg_a")
        .join(broadcast(sk.select(col("seg").as("seg_b"),
          col("sk").as("sk_b"))), "seg_b")
        .join(broadcast(sizes.select(col("seg").as("seg_a"),
          col("n").as("n_a"))), "seg_a")
        .join(broadcast(sizes.select(col("seg").as("seg_b"),
          col("n").as("n_b"))), "seg_b")
        .select(col("seg_a"), col("seg_b"), col("exact_overlap"),
          col("n_a"), col("n_b"),
          (expr("hll_sketch_estimate(sk_a)")
            + expr("hll_sketch_estimate(sk_b)")
            - expr("hll_sketch_estimate(hll_union(sk_a, sk_b))"))
            .as("approx_overlap"))
        .select(col("seg_a"), col("seg_b"), col("exact_overlap"),
          (abs(col("approx_overlap") - col("exact_overlap"))
            .cast(DoubleType) /
            (col("n_a") + col("n_b") - col("exact_overlap"))
              .cast(DoubleType) <= 0.05).as("within_tol"))
    },
      """WITH ue AS (SELECT DISTINCT event_type AS seg, user_id
        |  FROM events)
        |SELECT a.seg AS seg_a, b.seg AS seg_b,
        |  count(*) AS exact_overlap, true AS within_tol
        |FROM ue a JOIN ue b ON a.user_id = b.user_id AND a.seg < b.seg
        |GROUP BY 1, 2""".stripMargin),
    // N7 — rolling 7-day active users from the SAME daily sketches:
    // each day unions its trailing week's sketch rows (a 7-offset
    // explode + equi-join — never an inequality join), estimates, and
    // gates against the exact rolling distinct (which itself uses the
    // offset-explode shape: every (day, user) row fans to the 7 days
    // it supports). The DAU/WAU pattern where history is never
    // re-scanned — only seven sketch rows per day.
    QuerySpec("rolling_wau_sketch", (s, d) => {
      val daily = Tables.parquet(s, hllDailyArtifact(s, d))
      val win = daily.select(col("day").as("d0"))
        .withColumn("off", explode(array((0 to 6).map(lit(_)): _*)))
        .select(col("d0"), date_sub(col("d0"), col("off")).as("day"))
        .join(daily, "day")
        .groupBy(col("d0"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))")
          .as("approx"))
      val ev = Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val exact = ev
        .withColumn("off", explode(array((0 to 6).map(lit(_)): _*)))
        .select(date_add(col("day"), col("off")).as("d0"),
          col("user_id"))
        .join(daily.select(col("day").as("d0")), Seq("d0"), "left_semi")
        .groupBy(col("d0"))
        .agg(countDistinct(col("user_id")).as("exact_wau"))
      exact.join(win, "d0")
        .select(col("d0").as("day"), col("exact_wau"),
          (abs(col("approx") - col("exact_wau")).cast(DoubleType) /
            col("exact_wau").cast(DoubleType) <= 0.05).as("within_tol"))
    },
      """WITH ev AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM ev)
        |SELECT d.day, CAST(count(DISTINCT e.user_id) AS BIGINT)
        |    AS exact_wau, true AS within_tol
        |FROM days d JOIN ev e ON e.day BETWEEN d.day - 6 AND d.day
        |GROUP BY 1""".stripMargin),
    // Corpus ops — benchmark decontamination: train docs sharing any
    // 3-word shingle with the content-hash test split
    QuerySpec("decontaminate", (s, d) =>
      CorpusOps.decontaminate(docs(s, d), "doc_id", "text"),
      decontaminateOracle,
      barrier = true),
    // the same decontamination with a distributed-built Bloom
    // pre-filter on the corpus gram stream (the eval-side-outgrows-
    // broadcast shape); exact by construction — Bloom false positives
    // die in the gram-string join, false negatives don't exist — so it
    // shares decontaminate's oracle verbatim
    // the Bloom is the once-per-eval-set-release artifact, so the
    // timed query is the daily corpus pass, not the filter build
    QuerySpec("decontaminate_bloom", (s, d) =>
      CorpusOps.decontaminateBloom(docs(s, d), "doc_id", "text",
        prebuilt = Some(Sidecars.derived("eval_bloom", s, d, "documents") {
          CorpusOps.evalGramBloom(docs(s, d), "doc_id", "text")
        })),
      decontaminateOracle,
      barrier = true),
    // Corpus ops — global span dedup: per-doc fraction of 5-word spans
    // that also occur in another document (C4 boilerplate profile)
    // the trailing always-true filter on a COMPUTED column is an
    // evaluation barrier for the bench harness: count() would
    // otherwise eliminate the unique-key left join and the whole
    // gram pipeline with it, timing a bare scan (measured at sf0.1:
    // 0.30 s counted vs 31 s evaluated, r13 PERF_NOTES). Values are
    // untouched — shared_frac ≥ 0 by construction — so the oracle is
    // identical.
    QuerySpec("span_dedup", (s, d) =>
      CorpusOps.spanDedupStats(docs(s, d), "doc_id", "text")
        .filter(col("shared_frac") >= 0.0),
      s"""WITH t5 AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents),
         |s5 AS (SELECT doc_id,
         |  CASE WHEN len(w) >= 5 THEN list_distinct(list_transform(
         |    range(1, len(w)-3),
         |    i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])))
         |  ELSE [] END AS s FROM t5),
         |ex AS (SELECT doc_id, ${sqlPolyHash("gs")} AS g
         |  FROM (SELECT doc_id, unnest(s) AS gs FROM s5)),
         |fr AS (SELECT g, count(*) AS ndw FROM ex GROUP BY g),
         |per AS (SELECT ex.doc_id, count(*) AS ng,
         |  sum(CASE WHEN fr.ndw >= 2 THEN 1 ELSE 0 END) AS ns
         |  FROM ex JOIN fr USING(g) GROUP BY ex.doc_id)
         |SELECT s5.doc_id,
         |  CAST(coalesce(per.ng, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(per.ns, 0) AS BIGINT) AS n_shared_grams,
         |  CASE WHEN coalesce(per.ng, 0) = 0 THEN 0.0
         |       ELSE CAST(per.ns AS DOUBLE) / CAST(per.ng AS DOUBLE)
         |  END AS shared_frac
         |FROM s5 LEFT JOIN per USING(doc_id)""".stripMargin),
    // Corpus ops — the Lee et al. ExactSubstr REMOVAL pass: every
    // k-gram occurrence duplicated anywhere in the corpus is deleted
    // except the global canonical copy; the oracle replays the mask
    // (positional union → kept-token rebuild) in SQL. Trailing filter:
    // the span_dedup evaluation barrier, same reasoning.
    QuerySpec("substring_dedup", (s, d) =>
      CorpusOps.substringDedup(docs(s, d), "doc_id", "text")
        .filter(col("n_masked") >= 0L),
      // ExactSubstr replay: same positional 5-grams, same global
      // count/arg-min (lexicographic (doc_id, p) — the op's struct MIN),
      // positional-union mask, kept-token rebuild ordered by position
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |ex AS (SELECT doc_id, unnest(range(1, len(w) - 3)) AS p,
        |  unnest(list_transform(range(1, len(w) - 3),
        |    i -> array_to_string(w[i:i+4], ' '))) AS g
        |  FROM w WHERE len(w) >= 5),
        |fr AS (SELECT g, count(*) AS c, min(doc_id) AS cd
        |  FROM ex GROUP BY g),
        |cn AS (SELECT ex.g, min(ex.p) AS cp FROM ex
        |  JOIN fr ON fr.g = ex.g AND ex.doc_id = fr.cd GROUP BY ex.g),
        |ms AS (SELECT ex.doc_id, ex.p FROM ex JOIN fr USING (g)
        |  JOIN cn USING (g)
        |  WHERE fr.c >= 2 AND NOT (ex.doc_id = fr.cd AND ex.p = cn.cp)),
        |cov AS (SELECT DISTINCT doc_id, j FROM
        |  (SELECT doc_id, unnest(range(p, p + 5)) AS j FROM ms)),
        |msk AS (SELECT doc_id, count(*) AS n_masked FROM cov
        |  GROUP BY 1),
        |toks AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS j
        |  FROM w),
        |kept AS (SELECT t.doc_id, t.j FROM toks t LEFT JOIN cov c
        |  ON c.doc_id = t.doc_id AND c.j = t.j WHERE c.j IS NULL),
        |clean AS (SELECT k.doc_id,
        |  array_to_string(list(ww.w[k.j] ORDER BY k.j), ' ') AS ct
        |  FROM kept k JOIN w ww ON ww.doc_id = k.doc_id
        |  GROUP BY k.doc_id)
        |SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(msk.n_masked, 0) AS BIGINT) AS n_masked,
        |  coalesce(clean.ct, '') AS clean_text
        |FROM w LEFT JOIN msk USING (doc_id)
        |LEFT JOIN clean USING (doc_id)""".stripMargin),
    // URL-stage curation (the crawl pipeline's first stage, before
    // any text processing): canonicalize — synthetic messy URLs
    // (case, default ports, tracking params, fragments, trailing
    // slashes) normalized by pure string ops
    QuerySpec("url_canon", (s, d) =>
      docs(s, d).select(col("doc_id"),
        UrlOps.syntheticUrl(col("source"), col("doc_id")).as("url"))
        .withColumn("canon_url", UrlOps.canonicalizeUrl(col("url"))),
      (urlSynthCte +
        "\nSELECT doc_id, url, " + urlCanonExpr + " AS canon_url FROM c5"),
      barrier = true),
    // URL-level exact dedup: distinct raw URLs collide after
    // canonicalization (the id%97 bucket construction) → real
    // duplicate clusters; keep = first crawl (min id)
    QuerySpec("url_dedup", (s, d) =>
      UrlOps.urlDedup(docs(s, d).select(col("doc_id"),
        UrlOps.syntheticUrl(col("source"), col("doc_id")).as("url")),
        "url", "doc_id"),
      (urlSynthCte +
        s"""
           |SELECT $urlCanonExpr AS url, count(*) AS n_docs,
           |  min(doc_id) AS keep_id FROM c5 GROUP BY 1""".stripMargin)),
    // domain blocklist filter + per-domain keep/drop census
    QuerySpec("domain_filter", (s, d) =>
      UrlOps.domainFilter(docs(s, d).select(col("doc_id"),
        UrlOps.syntheticUrl(col("source"), col("doc_id")).as("url")),
        "url", "doc_id",
        Seq("src3.example.com", "src7.example.com",
          "src15.example.com")),
      (urlSynthCte +
        s"""
           |SELECT host AS domain,
           |  host IN ('src3.example.com', 'src7.example.com',
           |    'src15.example.com') AS blocked,
           |  count(*) AS n_docs, min(doc_id) AS min_id
           |FROM c5 GROUP BY 1, 2""".stripMargin)),
    // Corpus ops — Gopher-style repetition stats (pure map)
    QuerySpec("repetition_stats", (s, d) =>
      CorpusOps.repetitionStats(docs(s, d), "doc_id", "text"),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |b AS (SELECT doc_id, w,
        |  CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)),
        |    i -> concat_ws(' ', w[i], w[i+1]))
        |  ELSE [] END AS bg FROM t),
        |bx AS (SELECT doc_id, unnest(bg) AS g FROM b),
        |c AS (SELECT doc_id, g, count(*) AS c FROM bx GROUP BY 1, 2),
        |tops AS (SELECT doc_id, max(c) AS topc FROM c GROUP BY doc_id),
        |base AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_tokens,
        |  CAST(len(bg) AS BIGINT) AS n_bigrams FROM b)
        |SELECT base.doc_id, n_tokens, n_distinct_tokens, n_bigrams,
        |  CAST(coalesce(tops.topc, 0) AS BIGINT) AS top_bigram_count,
        |  CAST(n_tokens - n_distinct_tokens AS DOUBLE)
        |    / CAST(n_tokens AS DOUBLE) AS dup_token_frac,
        |  CASE WHEN n_bigrams = 0 THEN 0.0
        |       ELSE CAST(coalesce(tops.topc, 0) AS DOUBLE)
        |          / CAST(n_bigrams AS DOUBLE)
        |  END AS top_bigram_frac
        |FROM base LEFT JOIN tops USING(doc_id)""".stripMargin),
    // Corpus ops — the paper-exact multi-n repetition rules (Rae et
    // al. 2021 §A1.1): top 2/3/4-gram CHAR fractions at 0.20/0.18/0.16
    // + duplicate 5..10-gram CHAR fractions (positional union) at
    // 0.15..0.10, exact-integer verdicts throughout
    QuerySpec("gopher_repetition", (s, d) =>
      CorpusOps.gopherRepetition(docs(s, d), "doc_id", "text"),
      // distinct n-gram counts on RAW string shingles (hashed 64-bit in
      // the op — the setsim trade); verdicts replay the integer
      // cross-multiplications; short docs: NULL fractions, true verdicts
      // the paper-exact char-fraction replay: top n-gram coverage via
      // group/window argmax (count DESC, gram ASC — the kernel's
      // tie-break), duplicate n-gram coverage via the positional UNION
      // (unnest positions → DISTINCT covered word index → sum of word
      // lengths), both normalized by word chars
      {
        def gram(n: Int) = (0 until n).map(k =>
          if (k == 0) "w[i]" else s"w[i+$k]").mkString(", ")
        val topCtes = Seq(2, 3, 4).map { n =>
          s"""p$n AS (SELECT doc_id, unnest(list_transform(
             |    range(1, len(w) - ${n - 2}),
             |    i -> concat_ws(' ', ${gram(n)}))) AS g
             |  FROM base WHERE n >= $n),
             |t$n AS (SELECT doc_id,
             |    CAST(c * (length(g) - ${n - 1}) AS BIGINT) AS cov
             |  FROM (SELECT doc_id, g, count(*) AS c, row_number() OVER
             |      (PARTITION BY doc_id ORDER BY count(*) DESC, g ASC)
             |      AS rn
             |    FROM p$n GROUP BY doc_id, g) WHERE rn = 1)""".stripMargin
        }
        val dupCtes = (5 to 10).map { n =>
          s"""q$n AS (SELECT doc_id,
             |    unnest(range(1, len(w) - ${n - 2})) AS i,
             |    unnest(list_transform(range(1, len(w) - ${n - 2}),
             |      i -> concat_ws(' ', ${gram(n)}))) AS g
             |  FROM base WHERE n >= $n),
             |d$n AS (SELECT DISTINCT doc_id, j FROM (
             |    SELECT doc_id, unnest(range(i, i + $n)) AS j FROM (
             |      SELECT doc_id, i,
             |        count(*) OVER (PARTITION BY doc_id, g) AS c
             |      FROM q$n) WHERE c >= 2)),
             |c$n AS (SELECT d$n.doc_id,
             |    CAST(sum(length(b.w[d$n.j])) AS BIGINT) AS cov
             |  FROM d$n JOIN base b ON b.doc_id = d$n.doc_id
             |  GROUP BY 1)""".stripMargin
        }
        // (family, n, threshold numerator/denominator, cov expression)
        val thresh = Seq(("top", 2, 1, 5), ("top", 3, 9, 50),
          ("top", 4, 4, 25), ("dup", 5, 3, 20), ("dup", 6, 7, 50),
          ("dup", 7, 13, 100), ("dup", 8, 3, 25), ("dup", 9, 11, 100),
          ("dup", 10, 1, 10))
        val outCols = thresh.map { case (fam, n, num, den) =>
          val cov = if (fam == "top") s"t$n.cov"
          else s"coalesce(c$n.cov, 0)"
          s"""  CASE WHEN b.n >= $n AND b.wchars > 0 THEN
             |    CAST($cov AS DOUBLE) / CAST(b.wchars AS DOUBLE) END
             |    AS frac_${fam}_$n,
             |  (b.n < $n OR b.wchars = 0) OR $cov * $den <= b.wchars * $num
             |    AS ok_${fam}_$n""".stripMargin
        }.mkString(",\n")
        val joins = (Seq(2, 3, 4).map(n => s"t$n") ++
          (5 to 10).map(n => s"c$n"))
          .map(t => s"LEFT JOIN $t ON $t.doc_id = b.doc_id").mkString("\n")
        val repOk = thresh.map { case (fam, n, _, _) => s"ok_${fam}_$n" }
          .mkString(" AND ")
        s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS w,
           |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
           |  CAST(list_sum(list_transform(string_split(text, ' '),
           |    x -> length(x))) AS BIGINT) AS wchars FROM documents),
           |${(topCtes ++ dupCtes).mkString(",\n")}
           |SELECT *, ($repOk) AS rep_ok FROM (
           |SELECT b.doc_id, b.n AS n_tokens, b.wchars AS n_wchars,
           |$outCols
           |FROM base b
           |$joins)""".stripMargin
      },
      barrier = true),
    // Corpus ops — deterministic per-source mixing quotas
    QuerySpec("domain_mix", (s, d) =>
      CorpusOps.domainMix(docs(s, d), "doc_id", "source"),
      {
        val srcHash = sqlPolyHash("source")
        val docHash = sqlPolyHash("(source || ':' || CAST(doc_id AS VARCHAR))")
        s"""WITH q AS (SELECT source, doc_id,
           |  $srcHash % 60 + 20 AS quota_pct FROM documents),
           |b AS (SELECT source, quota_pct,
           |  CASE WHEN $docHash % 100 < quota_pct THEN 1 ELSE 0 END AS keep
           |  FROM q)
           |SELECT source, CAST(quota_pct AS BIGINT) AS quota_pct,
           |  count(*) AS n_docs, CAST(sum(keep) AS BIGINT) AS n_kept
           |FROM b GROUP BY 1, 2""".stripMargin
      }),
    // Corpus ops — token-budget allocation by closed-form integer
    // water-filling (target = half the corpus): min(supply, level)
    // per source, level from sorted prefix sums, remainder to the
    // largest caps — the mixture-planning solve, allocations sum to
    // the target exactly
    QuerySpec("mixture_plan", (s, d) =>
      CorpusOps.mixturePlan(docs(s, d), "source", "text", 1L, 2L),
      """WITH caps AS (SELECT source,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS cap
        |  FROM documents GROUP BY 1),
        |r AS (SELECT source, cap,
        |  CAST(row_number() OVER (ORDER BY cap, source) AS BIGINT) AS j,
        |  sum(cap) OVER (ORDER BY cap, source ROWS UNBOUNDED PRECEDING)
        |    AS p,
        |  CAST(count(*) OVER () AS BIGINT) AS n,
        |  sum(cap) OVER () AS total FROM caps),
        |t AS (SELECT *, total * 1 // 2 AS target,
        |  p + (n - j) * cap AS reach FROM r),
        |s AS (SELECT *, min(CASE WHEN reach >= target THEN j END)
        |  OVER () AS jstar FROM t),
        |x AS (SELECT *, coalesce(max(CASE WHEN j = jstar - 1 THEN p END)
        |  OVER (), 0) AS pPrev FROM s),
        |y AS (SELECT *, (target - pPrev) // (n - jstar + 1) AS level,
        |  (target - pPrev) % (n - jstar + 1) AS rem FROM x)
        |SELECT source, cap, CAST(target AS BIGINT) AS target,
        |  CAST(CASE WHEN j < jstar THEN cap
        |    ELSE least(cap, level +
        |      CASE WHEN j > n - rem THEN 1 ELSE 0 END) END AS BIGINT)
        |    AS alloc
        |FROM y""".stripMargin),
    // temperature mixing (T=2, the multilingual data-recipe rule):
    // shares ∝ √n over the source census, exact-budget landing by
    // largest remainder, epochs>1 emitted honestly for boosted tails
    QuerySpec("mixture_temperature", (s, d) =>
      CorpusOps.mixtureTemperature(docs(s, d), "source", "text",
        1L, 2L),
      // the same closed-form water-fill: sorted prefix sums, first
      // segment reaching the target, DIV/mod level + largest-cap
      // remainder
      // √n shares over the source-sorted fold; floor + largest
      // remainder replayed in the op's rank order
      """WITH caps AS (SELECT source AS src,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS cap
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(cap) AS BIGINT) AS total,
        |  list_reduce(list_prepend(0.0,
        |    (SELECT list(sqrt(CAST(cap AS DOUBLE)) ORDER BY src)
        |     FROM caps)), (a, b) -> a + b) AS wsum
        |  FROM caps),
        |b AS (SELECT total * 1 // 2 AS budget, wsum FROM t),
        |j AS (SELECT src, cap, sqrt(CAST(cap AS DOUBLE)) AS w,
        |  CAST(budget AS DOUBLE) * sqrt(CAST(cap AS DOUBLE)) / wsum
        |    AS raw, budget
        |  FROM caps, b),
        |f AS (SELECT src, cap, w, budget,
        |  CAST(floor(raw) AS BIGINT) AS base,
        |  raw - floor(raw) AS frac FROM j),
        |r AS (SELECT *,
        |  CAST(budget - (SELECT sum(base) FROM f) AS BIGINT) AS rr,
        |  CAST(row_number() OVER (ORDER BY frac DESC, src)
        |    AS BIGINT) AS rk FROM f)
        |SELECT src AS source, cap AS n_tokens, w AS weight,
        |  base + CASE WHEN rk <= rr THEN 1 ELSE 0 END
        |    AS alloc_tokens,
        |  CAST(base + CASE WHEN rk <= rr THEN 1 ELSE 0 END AS DOUBLE)
        |    / CAST(cap AS DOUBLE) AS epochs
        |FROM r""".stripMargin),
    // Corpus ops — exact-N-per-group sampling: take exactly k docs per
    // language, chosen by content-hash rank (deterministic, replay-
    // stable, no rand()). The row_number()<=k filter is rewritten into
    // the bounded-heap GroupedTopK custom operator by the
    // RankLimitToGroupedTopK rule — per-group state is k rows, never
    // the full group sort.
    QuerySpec("sample_per_lang", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("hsh"), col("doc_id"))
      docs(s, d)
        .select(col("lang"), col("doc_id"),
          TextOps.polyHash(col("text")).as("hsh"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 20)
        .select(col("lang"), col("doc_id"), col("hsh"),
          col("rnk").cast(LongType).as("rnk"))
    },
      s"""WITH h AS (SELECT lang, doc_id,
         |  ${sqlPolyHash("text")} AS hsh FROM documents),
         |r AS (SELECT lang, doc_id, hsh,
         |  CAST(row_number() OVER (PARTITION BY lang
         |    ORDER BY hsh, doc_id) AS BIGINT) AS rnk FROM h)
         |SELECT lang, doc_id, hsh, rnk FROM r WHERE rnk <= 20""".stripMargin),
    // N3/N4 end-to-end — RAG chunk retrieval: documents → overlapping
    // chunks → 64-bit SimHash sign-embedding per chunk → global top-20
    // chunks for a fixed text query by hamming distance (angular
    // similarity on sign vectors, the bq_topk geometry applied to
    // TEXT). Exact integers end to end; the global top-k plans as
    // TakeOrderedAndProject, never a global sort
    QuerySpec("rag_chunk_search", (s, d) => {
      val chunks = TextOps.chunkDocs(docs(s, d), "doc_id", "text",
        chunkTokens = 16, overlap = 4)
      val sigs = chunks.select(col("doc_id"), col("chunk_idx"),
        graft.functions.GraftFunctions.simhash64(col("chunk_text"))
          .as("sg"))
        .select(col("doc_id"), col("chunk_idx"),
          element_at(col("sg"), 1).as("sim_lo"),
          element_at(col("sg"), 2).as("sim_hi"))
      Sidecars.writeOracleInput(ragSigsDir)(sigs)
      val (qlo, qhi) = ragQuerySig
      val scored = sigs.withColumn("hamming",
        (bit_count(col("sim_lo").bitwiseXOR(lit(qlo))) +
          bit_count(col("sim_hi").bitwiseXOR(lit(qhi)))).cast(LongType))
        .select(col("doc_id"), col("chunk_idx"), col("hamming"))
      val top = scored
        .orderBy(col("hamming"), col("doc_id"), col("chunk_idx"))
        .limit(20)
      top.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("hamming"), col("doc_id"), col("chunk_idx")))
          .cast(LongType))
    },
      // the bq_topk hamming replay over the materialized chunk
      // signatures; the probe signature is the same interpolated
      // constant the Spark plan uses
      {
        val (qlo, qhi) = ragQuerySig
        s"""WITH s AS (SELECT * FROM '$ragSigsDir/*.parquet'),
           |h AS (SELECT doc_id, chunk_idx,
           |  CAST(bit_count(xor(sim_lo, CAST($qlo AS BIGINT)))
           |     + bit_count(xor(sim_hi, CAST($qhi AS BIGINT)))
           |    AS BIGINT) AS hamming FROM s),
           |r AS (SELECT doc_id, chunk_idx, hamming,
           |  CAST(row_number() OVER (ORDER BY hamming, doc_id, chunk_idx)
           |    AS BIGINT) AS rk FROM h)
           |SELECT doc_id, chunk_idx, hamming, rk FROM r
           |WHERE rk <= 20""".stripMargin
      }),
    // N3/N4 — late-interaction (ColBERT MaxSim) retrieval: every query
    // TOKEN scores against the doc's best chunk, score = Σ_t (64 −
    // min-hamming) — one aggregate over the SAME chunk-signature
    // artifact rag_chunk_search materializes; exact integers
    QuerySpec("late_interaction", (s, d) => {
      val chunks = TextOps.chunkDocs(docs(s, d), "doc_id", "text",
        chunkTokens = 16, overlap = 4)
      val sigs = chunks.select(col("doc_id"), col("chunk_idx"),
          graft.functions.GraftFunctions.simhash64(col("chunk_text"))
            .as("sg"))
        .select(col("doc_id"), col("chunk_idx"),
          element_at(col("sg"), 1).as("sim_lo"),
          element_at(col("sg"), 2).as("sim_hi"))
      Sidecars.writeOracleInput(ragSigsDir)(sigs)
      Retrieval.lateInteractionTopK(sigs,
        bm25Terms.map(simhashSigOf), k = 10)
    },
      // the same materialized chunk signatures; per-term min-hamming
      // folded per doc, score = Σ (64 − h_t)
      {
        val qs = bm25Terms.map(simhashSigOf)
        val mins = qs.zipWithIndex.map { case ((lo, hi), i) =>
          s"CAST(min(bit_count(xor(sim_lo, CAST($lo AS BIGINT))) + " +
            s"bit_count(xor(sim_hi, CAST($hi AS BIGINT)))) AS BIGINT) " +
            s"AS h_$i"
        }.mkString(",\n  ")
        val score = qs.indices.map(i => s"(64 - h_$i)").mkString(" + ")
        val hcols = qs.indices.map(i => s"h_$i").mkString(", ")
        s"""WITH s AS (SELECT * FROM '$ragSigsDir/*.parquet'),
           |m AS (SELECT doc_id, $mins FROM s GROUP BY 1),
           |sc AS (SELECT doc_id, CAST($score AS BIGINT) AS score,
           |  $hcols FROM m)
           |SELECT doc_id, CAST(row_number() OVER (
           |    ORDER BY score DESC, doc_id) AS BIGINT) AS rk,
           |  score, $hcols
           |FROM sc QUALIFY rk <= 10""".stripMargin
      }),
    // N4 — contrastive positive pairs: anchor chunk 0 + a hash-picked
    // other chunk per multi-chunk doc (two views of one document;
    // hard_negatives is the negative side)
    QuerySpec("contrastive_pairs", (s, d) =>
      TextOps.contrastivePairs(docs(s, d), "doc_id", "text",
        chunkTokens = 16, overlap = 4),
      // the seq_pack chunk-count replay + polyHash pick: pos_idx =
      // hash(doc_id) % (n_chunks-1) + 1; token counts from the slice
      // widths least(16, n - idx*12)
      s"""WITH b AS (SELECT doc_id, len(string_split(text, ' ')) AS n
         |  FROM documents),
         |p AS (SELECT doc_id, n,
         |  CAST((greatest(n - 16, 0) + 11) // 12 + 1 AS BIGINT)
         |    AS n_chunks FROM b),
         |e AS (SELECT doc_id, n, n_chunks,
         |  ${sqlPolyHash("CAST(doc_id AS VARCHAR)")} % (n_chunks - 1) + 1
         |    AS pos_idx
         |  FROM p WHERE n_chunks >= 2)
         |SELECT doc_id, n_chunks, CAST(pos_idx AS BIGINT) AS pos_idx,
         |  CAST(least(16, n) AS BIGINT) AS anchor_tokens,
         |  CAST(least(16, n - pos_idx * 12) AS BIGINT) AS pos_tokens
         |FROM e""".stripMargin),
    // Corpus ops — sequence packing: chunk stream → fixed-length
    // training sequences (concat-and-split, per-shard)
    QuerySpec("seq_pack", (s, d) =>
      CorpusOps.seqPack(
        TextOps.chunkDocs(docs(s, d), "doc_id", "text",
          chunkTokens = 16, overlap = 4),
        "doc_id", "chunk_idx", "n_chunk_tokens",
        seqLen = 64, shards = 8),
      """WITH b AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |p AS (SELECT doc_id, w,
        |  CAST((greatest(len(w) - 16, 0) + 11) // 12 + 1 AS INTEGER)
        |    AS n_chunks FROM b),
        |e AS (SELECT doc_id, w,
        |  unnest(range(0, n_chunks)) AS chunk_idx FROM p),
        |s AS (SELECT doc_id, chunk_idx,
        |  CAST(len(w[chunk_idx*12 + 1 : chunk_idx*12 + 16]) AS BIGINT)
        |    AS nt, doc_id % 8 AS shard FROM e),
        |win AS (SELECT shard, nt,
        |  sum(nt) OVER (PARTITION BY shard
        |    ORDER BY doc_id, chunk_idx) AS cum FROM s)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST((cum - 1) // 64 AS BIGINT) AS seq_id,
        |  count(*) AS n_chunks, CAST(sum(nt) AS BIGINT) AS n_tokens
        |FROM win GROUP BY 1, 2""".stripMargin),
    // Corpus ops — deterministic dataloader sharding: every doc gets a
    // shard (Knuth multiplicative hash of doc_id — uniform, seedless,
    // reproducible across runs and engines: exact integer arithmetic,
    // no engine-specific hash) and a pseudo-random position within its
    // shard — the (num_workers, worker_rank, index) contract a
    // distributed training job reads by. The per-shard window is
    // 64-way parallel (each sorts n/64 rows); no global order anywhere.
    QuerySpec("train_shards", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
      docs(s, d)
        .select(col("doc_id"),
          // fold to 31 bits BEFORE the Knuth multiply: b < 2^31 keeps
          // b*2654435761 < 2^63, so the arithmetic is exact (no ANSI
          // overflow, no silent wrap divergence) for every
          // NON-NEGATIVE doc_id — the corpus id contract (synthetic
          // ids >= 0; negative ids would diverge from the oracle on
          // %-sign and div-vs-floor semantics)
          expr("(doc_id % 2147483648L + doc_id div 2147483648L) " +
            "% 2147483648L").as("b"))
        .withColumn("h",
          pmod(col("b") * lit(2654435761L), lit(4294967296L)))
        .withColumn("shard", pmod(col("h"), lit(64L)))
        .withColumn("pos", row_number().over(w).cast(LongType))
        .select(col("doc_id"), col("shard"), col("pos"))
    },
      // exact integer Knuth hash replayed verbatim: shard assignment and
      // intra-shard order are engine-independent by construction
      """WITH b AS (SELECT doc_id,
        |  (doc_id % 2147483648 + doc_id // 2147483648)
        |    % 2147483648 AS b FROM documents),
        |h AS (SELECT doc_id,
        |  (b * 2654435761) % 4294967296 AS h FROM b),
        |s AS (SELECT doc_id, h, h % 64 AS shard FROM h)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard
        |    ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM s""".stripMargin),
    // Corpus ops — deterministic MIXTURE SAMPLING: per-source doc
    // budgets (the data-mixture step of corpus assembly: upweight
    // src0/src1, floor everything else), filled lowest-Knuth-hash
    // first so the sample is reproducible across runs and engines.
    // Selection runs through GroupedTopK at k = max budget — bounded
    // O(sources x maxBudget) reducer state however large each source
    // is — then the per-source budget trims the rank. No global sort,
    // no per-source history sort.
    QuerySpec("mixture_sample", (s, d) => {
      val budget = coalesce(
        element_at(map(lit("src0"), lit(15L), lit("src1"), lit(10L)),
          col("source")), lit(5L))
      val hashed = docs(s, d)
        .select(col("doc_id"), col("source"),
          expr("(doc_id % 2147483648L + doc_id div 2147483648L) " +
            "% 2147483648L").as("b"))
        .withColumn("h",
          pmod(col("b") * lit(2654435761L), lit(4294967296L)))
      graft.plans.GroupedTopK(hashed, Seq("source"),
        Seq(("h", true), ("doc_id", true)), k = 15, rankName = "rk")
        .filter(col("rk") <= budget)
        .select(col("doc_id"), col("source"), col("rk"))
    },
      // the GroupedTopK selection replayed as a rank window + the same
      // per-source budget CASE — exact integer hash, bit-identical
      """WITH b AS (SELECT doc_id, source,
        |  (doc_id % 2147483648 + doc_id // 2147483648)
        |    % 2147483648 AS b FROM documents),
        |h AS (SELECT doc_id, source,
        |  (b * 2654435761) % 4294967296 AS h FROM b),
        |r AS (SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY h, doc_id) AS BIGINT) AS rk FROM h)
        |SELECT doc_id, source, rk FROM r
        |WHERE rk <= CASE source WHEN 'src0' THEN 15
        |                        WHEN 'src1' THEN 10 ELSE 5 END""".stripMargin),
    // JSONL interchange round trip: write the corpus as line-delimited
    // JSON (the standard LLM corpus format), read it back with an
    // EXPLICIT schema — at 100 TB schema inference is a second full
    // scan, so the read declares its schema up front — and prove
    // content fidelity with per-lang doc/char/text-length aggregates
    QuerySpec("jsonl_roundtrip", (s, d) => {
      val dir = graft.tools.TempDirs.create("graft_jsonl")
      docs(s, d).write.mode("overwrite").json(dir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      s.read.schema(schema).json(dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(length(col("text"))).as("sum_text_len"))
    },
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len
        |FROM documents GROUP BY 1""".stripMargin))

  // ------------------------------------------------------------------ //
  // Shared oracle SQL and sidecar artifacts                            //
  // ------------------------------------------------------------------ //

  /** Shared SQL: 3-word shingle sets per doc (mirror of
    * TextOps.wordShingles).
    */
  private val shinglesCte =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT doc_id,
      |  CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
      |    range(1, len(w)-1), i -> concat_ws(' ', w[i], w[i+1], w[i+2])))
      |  ELSE [] END AS s FROM toks)""".stripMargin

  /** Shared SQL: exact pairwise shingle-intersection sizes via the
    * inverted-index COUNT form — `pint(ia < ib, inter, la, lb)` where
    * inter = |s_a ∩ s_b| counted by a group-by over the
    * shingle-equality join (exactly the intersection size on DISTINCT
    * sets). Replaces the all-pairs double-list_intersect verify that
    * dominated the sf0.1 compare (the whole dedup family ran
    * 90-220 s/oracle there; this form is seconds) — result-identical
    * because zero-intersection pairs, the only ones the join drops,
    * can never pass a jaccard/containment threshold > 0.
    */
  private val shingleInterCte =
    s"""$shinglesCte,
       |shl AS (SELECT doc_id, len(s) AS l, unnest(s) AS g FROM sh
       |  WHERE len(s) > 0),
       |pint AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
       |    CAST(count(*) AS BIGINT) AS inter,
       |    any_value(a.l) AS la, any_value(b.l) AS lb
       |  FROM shl a JOIN shl b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  /** Shared SQL: the near-dup components of Dedup.dedupCorpus — the
    * neardup_minhash pairs (jaccard >= 0.5) and the SAME 4
    * min-propagation rounds the op runs — ending in `l4(id, comp)`.
    */
  private def corpusComponentCtes: String = {
    val rounds = (1 to 4).map { k =>
      s"""l$k AS (SELECT l.id, least(l.comp, coalesce(min(n.comp), l.comp)) AS comp
         |  FROM l${k - 1} l LEFT JOIN sym e ON l.id = e.s
         |  LEFT JOIN l${k - 1} n ON e.d = n.id
         |  GROUP BY l.id, l.comp)""".stripMargin
    }.mkString(",\n")
    s"""$shingleInterCte,
       |pr AS (SELECT ia, ib FROM pint
       |  WHERE CAST(inter AS DOUBLE)
       |      / CAST(la + lb - inter AS DOUBLE) >= 0.5),
       |sym AS (SELECT ia AS s, ib AS d FROM pr
       |        UNION ALL SELECT ib, ia FROM pr),
       |l0 AS (SELECT doc_id AS id, doc_id AS comp FROM documents),
       |$rounds""".stripMargin
  }

  /** Shared SQL: the rational-idf BM25 top-10 of [[bm25Terms]] over
    * `d(doc_id, toks)` — per-term scores, their fixed-order sum and
    * the (score DESC, doc_id) rank (see Retrieval.bm25TopK).
    */
  private def bm25Top10: String =
    """l AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM d),
      |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(dl) AS BIGINT) AS sum_len FROM l),
      |e AS (SELECT doc_id, dl, unnest(toks) AS term FROM l),
      |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM e WHERE term IN ('spark', 'stream', 'vector', 'query')
      |  GROUP BY 1, 2, 3),
      |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
      |  GROUP BY 1),
      |sc AS (SELECT tf.doc_id, tf.term,
      |  (CAST(2*(st.n_docs - dfq.df) + 1 AS DOUBLE)
      |     / CAST(2*dfq.df + 1 AS DOUBLE))
      |  * (CAST(44*tf.tf*st.sum_len AS DOUBLE)
      |     / CAST(20*tf.tf*st.sum_len + 6*st.sum_len
      |            + 18*tf.dl*st.n_docs AS DOUBLE)) AS score_t
      |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN st),
      |p AS (SELECT doc_id,
      |  coalesce(max(CASE WHEN term = 'spark' THEN score_t END), 0.0)
      |    AS s_spark,
      |  coalesce(max(CASE WHEN term = 'stream' THEN score_t END), 0.0)
      |    AS s_stream,
      |  coalesce(max(CASE WHEN term = 'vector' THEN score_t END), 0.0)
      |    AS s_vector,
      |  coalesce(max(CASE WHEN term = 'query' THEN score_t END), 0.0)
      |    AS s_query
      |  FROM sc GROUP BY 1),
      |r AS (SELECT doc_id, s_spark, s_stream, s_vector, s_query,
      |  ((s_spark + s_stream) + s_vector) + s_query AS score FROM p),
      |k AS (SELECT doc_id,
      |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
      |    AS rk,
      |  score, s_spark, s_stream, s_vector, s_query FROM r)
      |SELECT * FROM k WHERE rk <= 10""".stripMargin

  /** Shared SQL: the LangIdVote replay over a word list `w` — the
    * per-language marker counts `c_<lang>`, their maximum, and the
    * CASE arms naming the first language at that maximum.
    */
  private def langVoteSql: (String, String, String) = {
    val markers = TextOps.langMarkers
    val counts = markers.map { case (lang, ms) =>
      val pred = ms.map(m => s"t='$m'").mkString(" OR ")
      s"len(list_filter(w, t -> $pred)) AS c_$lang"
    }.mkString(",\n  ")
    val best = markers.map { case (lang, _) => s"c_$lang" }
      .reduce((a, b) => s"greatest($a, $b)")
    val cases = markers.map { case (lang, _) =>
      s"WHEN c_$lang > 0 AND c_$lang = best THEN '$lang'"
    }.mkString("\n  ")
    (counts, best, cases)
  }

  /** Shared SQL: the LinearScore kernel's replay over `text` — each
    * token's polyHash fingerprint indexes the hashed weight table
    * (1-based), weights summed as BIGINT, 0 for an empty document.
    */
  private def classifierScoreSql: String = {
    val ws = TextOps.classifierWeights
      .map(w => s"CAST($w AS BIGINT)").mkString("[", ", ", "]")
    s"""CAST(coalesce(list_sum(list_transform(
       |    string_split(text, ' '),
       |    t -> ($ws)[1 + CAST(list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, length(t)+1),
       |          i -> CAST(ascii(substr(t, i, 1)) AS BIGINT))),
       |      (acc, c) -> (acc*31+c) % ${TextOps.FpMod})
       |      % ${TextOps.classifierDim} AS INT)])), 0) AS BIGINT)""".stripMargin
  }

  /** Shared SQL: the set-similarity join's shingle sets — each doc's
    * distinct 3-word shingles `s(doc_id, ts)`, docs of 3+ words only.
    */
  private def setSimShinglesCtes: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS w
      |  FROM documents),
      |s AS (SELECT doc_id, list_distinct(list_transform(
      |    range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ts
      |  FROM t WHERE len(w) >= 3)""".stripMargin

  /** Shared SQL: the polynomial char-fold hash of an arbitrary string
    * expression (mirror of TextOps.polyHash / the PolyHash31 kernel).
    * Pass a parenthesized expression if it contains operators.
    */
  /** Shared URL-oracle SQL: the deterministic synthetic URL of
    * UrlOps.syntheticUrl replayed verbatim (doc_id ≥ 0 in every
    * fixture incl. negfix, so `%` == pmod), then the
    * canonicalizeUrl parse chain as CTEs ending in `c5` with columns
    * (doc_id, url, scheme, host, port, cp, cq).
    */
  private val urlSynthCte: String =
    """WITH u AS (SELECT doc_id,
      |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) ||
      |  '://' ||
      |  (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END)
      |  || '.Example.COM' ||
      |  (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE '' END) ||
      |  '/crawl/' || CAST(doc_id % 97 AS VARCHAR) ||
      |  (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
      |  (CASE WHEN doc_id % 4 = 0 THEN
      |      '?utm_source=feed&page=' || CAST(doc_id % 97 % 7 AS VARCHAR)
      |    WHEN doc_id % 4 = 1 THEN
      |      '?page=' || CAST(doc_id % 97 % 7 AS VARCHAR) ||
      |        '&utm_campaign=x'
      |    WHEN doc_id % 4 = 2 THEN '?fbclid=AbC123'
      |    ELSE '' END) ||
      |  (CASE WHEN doc_id % 3 = 1 THEN '#section-2' ELSE '' END)
      |  AS url FROM documents),
      |c1 AS (SELECT doc_id, url,
      |  lower(split_part(url, '://', 1)) AS scheme,
      |  split_part(url, '://', 2) AS rest FROM u),
      |c1b AS (SELECT *, least(
      |    CASE WHEN instr(rest, '/') > 0 THEN instr(rest, '/')
      |      ELSE length(rest) + 1 END,
      |    CASE WHEN instr(rest, '?') > 0 THEN instr(rest, '?')
      |      ELSE length(rest) + 1 END,
      |    CASE WHEN instr(rest, '#') > 0 THEN instr(rest, '#')
      |      ELSE length(rest) + 1 END) AS cut FROM c1),
      |c2 AS (SELECT *, substr(rest, 1, cut - 1) AS hostport,
      |  substr(rest, cut) AS tail FROM c1b),
      |c3 AS (SELECT *, lower(split_part(hostport, ':', 1)) AS host,
      |  CASE WHEN contains(hostport, ':')
      |    THEN split_part(hostport, ':', 2) ELSE '' END AS port,
      |  split_part(tail, '#', 1) AS nofrag FROM c2),
      |c4 AS (SELECT *, split_part(nofrag, '?', 1) AS path,
      |  CASE WHEN contains(nofrag, '?')
      |    THEN split_part(nofrag, '?', 2) ELSE '' END AS query
      |  FROM c3),
      |c5 AS (SELECT doc_id, url, scheme, host, port,
      |  CASE WHEN path LIKE '%/' AND length(path) > 1
      |    THEN substr(path, 1, length(path) - 1) ELSE path END AS cp,
      |  array_to_string(list_filter(string_split(query, '&'),
      |    p -> NOT (substr(p, 1, 4) = 'utm_' OR
      |      substr(p, 1, 7) = 'fbclid=' OR substr(p, 1, 6) = 'gclid=')
      |      AND p <> ''), '&') AS cq
      |  FROM c4)""".stripMargin

  private val urlCanonExpr: String =
    """scheme || '://' || host ||
      |  (CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
      |     AND NOT (scheme = 'https' AND port = '443')
      |   THEN ':' || port ELSE '' END) || cp ||
      |  (CASE WHEN cq <> '' THEN '?' || cq ELSE '' END)""".stripMargin

  private def sqlPolyHash(e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(1, length($e)+1),
       |      i -> CAST(ascii(substr($e, i, 1)) AS BIGINT))),
       |    (acc, c) -> (acc*31+c) % ${TextOps.FpMod})""".stripMargin

  /** Shared oracle for both ANN recall gates: the exact top-5 count
    * over the 50-query set plus the `true` the gate row must hash to.
    */
  private lazy val recallGateOracle: String =
    s"""WITH $quantCte,
       |qs AS (SELECT vec_id, qv, nn FROM n WHERE vec_id < 50),
       |scored AS (SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
       |  CAST($dotAb AS DOUBLE)
       |    / sqrt(CAST(a.nn AS DOUBLE) * CAST(b.nn AS DOUBLE)) AS cosine
       |  FROM n a JOIN qs b ON a.vec_id <> b.vec_id),
       |r AS (SELECT query_id,
       |  row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS rnk
       |  FROM scored)
       |SELECT count(*) AS n_exact, true AS recall_ok
       |FROM r WHERE rnk <= 5""".stripMargin

  /** Shared oracle for topk_cosine and topk_cosine_exec: one brute-force
    * top-5 for both proves the custom operator plan-equivalent.
    */
  private def topkCosineOracle: String =
    s"""WITH $quantCte,
       |qs AS (SELECT vec_id, qv, nn FROM n WHERE vec_id < 8),
       |scored AS (SELECT b.vec_id AS query_id, a.vec_id AS neighbor_id,
       |  CAST($dotAb AS DOUBLE)
       |    / sqrt(CAST(a.nn AS DOUBLE) * CAST(b.nn AS DOUBLE)) AS cosine
       |  FROM n a JOIN qs b ON a.vec_id <> b.vec_id),
       |${rankCte()}
       |SELECT query_id, neighbor_id, rnk, cosine FROM r WHERE rnk <= 5""".stripMargin

  /** Where `ivf_topk` materializes its deterministic cell assignments
    * for the DuckDB oracle (the coarse quantizer is driver-trained, so
    * the oracle reads the SAME assignments instead of recomputing
    * k-means in SQL). Evaluated identically by the query closure and
    * the oracle string within one Verify run.
    */
  private def ivfCellsDir: String = Sidecars.oracleInput("ivf_cells")

  /** ivf_topk_filtered's own cell sidecar (the filtered corpus posts
    * differently, and subset Verify runs must not depend on ivf_topk
    * having written its sidecar first).
    */
  private def ivfFiltCellsDir: String = Sidecars.oracleInput("ivf_filt_cells")

  /** The ann_* rows' oracle-side cell materializations (ivfCellsDir
    * pattern).
    */
  private def annCellsDir: String = Sidecars.oracleInput("ann_cells")
  private def annProbeCellsDir: String =
    Sidecars.oracleInput("ann_probe_cells")
  private def annUpsertCellsDir: String =
    Sidecars.oracleInput("ann_upsert_cells")
  private def annStoreCellsDir: String =
    Sidecars.oracleInput("ann_store_cells")
  private def annCellStatsDir: String = Sidecars.oracleInput("ann_cellstats")
  private def annStreamCellsDir: String =
    Sidecars.oracleInput("ann_stream_cells")

  /** ann_incremental_probe's serving artifact: trained centroids and
    * the persisted IVF index, reused until the embeddings change.
    */
  private def annProbeArtifact(s: SparkSession, d: String)
      : (Array[Array[Long]], String) =
    Sidecars.derived("ann_probe_index", s, d, "embeddings") {
      val e = emb(s, d)
      val corpus = e.filter(col("vec_id") % 5 =!= 0)
      val cts = centroids32("corpus", s, d, corpus)
      val dir = Sidecars.artifact("ann_probe_index", d)
      Similarity.ivfIndex(corpus, "vec_id", "embedding", cts, nAssign = 2)
        .write.mode("overwrite").parquet(dir)
      (cts, dir)
    }

  /** The shared coarse quantizer per (dataset, corpus shape), trained
    * once like the artifact every daily job loads in production (the
    * premise of ivfIndexUpsert's fixed-centroid contract).
    *
    * CELL COUNT SCALES WITH THE CORPUS (the FAISS √n rule): at fixed
    * k, an IVF probe scans nProbe/k of the corpus PER QUERY, so a
    * query set growing with the corpus costs Θ(q·n/k) — quadratic.
    * The r12 sf1 slope run measured exactly that: the ann_* family
    * landed 16-23× at 10× data with k pinned at 32. k =
    * max(32, 32·√(n/2000)) keeps the per-cell posting count (and the
    * clusters' granularity, hence recall at fixed nProbe) roughly
    * constant and the probe at Θ(q·√n). Anchored so BOTH fixture
    * scales keep k = 32 exactly — every committed oracle artifact is
    * byte-identical; only larger corpora (the sf1 run: k = 91) get
    * more cells. One count() job per training.
    */
  private def centroids32(tag: String, s: SparkSession, d: String,
                          emb: => DataFrame): Array[Array[Long]] =
    Sidecars.derived(s"centroids32_$tag", s, d, "embeddings") {
      val corpus = emb
      val k = math.max(32, math.round(
        32.0 * math.sqrt(corpus.count() / 2000.0)).toInt)
      Similarity.trainCentroids(corpus, "vec_id", "embedding", k)
    }

  /** The shared PQ codebooks per (dataset, corpus shape), trained once
    * as [[centroids32]] is.
    */
  private def pqCodebooks(tag: String, s: SparkSession, d: String,
                          emb: => DataFrame): Array[Array[Array[Long]]] =
    Sidecars.derived(s"pq_codebooks_$tag", s, d, "embeddings") {
      Similarity.trainPqCodebooks(emb, "vec_id", "embedding",
        m = 16, codesPerSub = 32)
    }

  /** text_index_store's changelog-day build:
    * base corpus (doc_id % 7 != 0) at seq 0, tombstones (% 11 == 0) at
    * seq 1, the % 7 == 0 docs appended at seq 2 (resurrecting any
    * tombstoned among them — strictly-higher seq wins). Final live
    * corpus: (%7 != 0 && %11 != 0) || %7 == 0.
    */
  private def textIndexArtifact(s: SparkSession, d: String): String =
    Sidecars.derived("text_index", s, d, "documents") {
      val dd = docs(s, d)
      val dir = Sidecars.artifact("text_index", d)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(dir), s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      graft.sources.TextIndexStore.append(
        dd.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", dir, 0L)
      graft.sources.TextIndexStore.tombstone(
        dd.filter(col("doc_id") % 11 === 0), "doc_id", dir, 1L)
      graft.sources.TextIndexStore.append(
        dd.filter(col("doc_id") % 7 === 0), "doc_id", "text", dir, 2L)
      // end-of-day compaction: steady-state probes read ONE seq and no
      // tombstones — the state a serving tier actually reads (r11
      // PERF_NOTES: the multi-seq resolution ran 3 extra jobs per
      // probe and drove the 1.2-2.6 s bench swing). Latest-wins
      // resolution stays in the tested path: compact() runs the same
      // resolve() here, and the oracle still proves probe == rebuild.
      graft.sources.TextIndexStore.compact(s, dir, 3L)
      dir
    }

  /** The per-day HLL sketch artifact shared by distinct_users_sketch
    * and rolling_wau_sketch: one (day, sk) row per calendar day —
    * the daily job's output, any rollup unions sketch rows only.
    */
  private def hllDailyArtifact(s: SparkSession, d: String): String =
    Sidecars.derived("hll_sketches", s, d, "events") {
      val out = Sidecars.artifact("hll_sketches", d)
      Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("user_id"))
        .groupBy(col("day"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
        .coalesce(1).write.mode("overwrite").parquet(out)
      out
    }

  /** ann_index_store's store build: the changelog day (base append,
    * tombstone day, add day) plus the oracle's cells sidecar; returns
    * (centroids, store dir).
    */
  private def annStoreArtifact(s: SparkSession, d: String)
      : (Array[Array[Long]], String) =
    Sidecars.derived("ann_store", s, d, "embeddings") {
      val e = emb(s, d)
      val isBatch = col("vec_id") % 5 === 0
      val corpus0 = e.filter(!isBatch && col("vec_id") % 7 =!= 0)
      val adds = e.filter(!isBatch && col("vec_id") % 7 === 0)
      val dels = e.filter(col("vec_id") % 11 === 0)
      val batch = e.filter(isBatch)
      val cts = centroids32("corpus0", s, d, corpus0)
      val store = Sidecars.artifact("ann_store", d)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(store), s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(store), true)
      graft.sources.AnnIndexStore.append(corpus0, "vec_id", "embedding",
        cts, store, 0L)
      graft.sources.AnnIndexStore.tombstone(dels, "vec_id", store, 1L)
      graft.sources.AnnIndexStore.append(adds, "vec_id", "embedding",
        cts, store, 2L)
      // end-of-day compaction (see textIndexArtifact's note): the
      // steady-state read is single-seq, tombstone-free — what a
      // serving tier pays daily; resolution is exercised inside
      // compact() and the oracle still proves probe == rebuild
      graft.sources.AnnIndexStore.compact(s, store, 3L)
      val finalCorpus = e.filter(!isBatch &&
        ((col("vec_id") % 7 =!= 0 && col("vec_id") % 11 =!= 0) ||
          col("vec_id") % 7 === 0))
      writeSides(annStoreCellsDir)(
        Similarity.ivfCells(finalCorpus, "vec_id", "embedding", cts, n = 2),
        Similarity.ivfCells(batch, "vec_id", "embedding", cts, n = 8))
      (cts, store)
    }

  /** The linkage family's persisted artifacts: the VERIFIED PAIR
    * TABLE and the master SIGNATURE INDEX of a master-data pipeline,
    * rebuilt when the customer records change and read by
    * record_linkage / golden_record / linkage_probe_stream instead of
    * re-pairing the corpus. Values are byte-identical to the inline
    * form (parquet round-trip of a deterministic frame), so each row
    * keeps its independent oracle.
    */
  private def linkagePairsArtifact(s: SparkSession, d: String): String =
    Sidecars.derived("linkage_pairs", s, d, "customer") {
      val dir = Sidecars.artifact("linkage_pairs", d)
      graft.ops.FuzzyJoin.linkRecords(Tables.customer(s, d),
          "c_custkey", "c_name", "c_nationkey", Seq("c_mktsegment"))
        .write.mode("overwrite").parquet(dir)
      dir
    }
  private def linkageIndexArtifact(s: SparkSession, d: String): String =
    Sidecars.derived("linkage_index", s, d, "customer") {
      val dir = Sidecars.artifact("linkage_index", d)
      val master = Tables.customer(s, d).filter(col("c_custkey") % 5 =!= 0)
      graft.streaming.LinkageStream.nameIndex(master, "c_custkey",
          "c_name", "c_nationkey", Seq("c_mktsegment"))
        .write.mode("overwrite").parquet(dir)
      dir
    }

  /** bpe_tokenize's merge-table artifact: learned once per dataset and
    * persisted for the oracle's recursive-CTE replay —
    * the trained-model-as-artifact shape of the IVF centroids. pat/rep
    * are the '|'-separated substring forms the SQL splices with
    * ('|a|b|' → '|ab|'); tokens never contain '|' (whitespace words).
    */
  private def bpeMergesDir: String = Sidecars.oracleInput("bpe_merges")
  private def bpeArtifact(s: SparkSession, d: String)
      : Seq[(String, String)] =
    Sidecars.derived("bpe_merges", s, d, "documents") {
      val merges = TextOps.learnBpeMerges(docs(s, d), "text")
      val rows = merges.zipWithIndex.map { case ((a, b), r) =>
        (r, s"|$a|$b|", s"|$a$b|")
      }
      import s.implicits._
      Sidecars.writeOracleInput(bpeMergesDir)(rows.toDF("rank", "pat", "rep"))
      merges
    }

  /** Shared SQL: bpe_tokenize's apply loop as a recursive CTE over the
    * persisted merge table — each word starts as '|c1|...|cn|', each
    * step splices the leftmost occurrence of the lowest-rank merge
    * that occurs — ending in `fin(doc_id, wi, seq)`, each word's
    * fixpoint. Some of its lines start with `||`, so it is prepended
    * to a margin-stripped literal, never interpolated into one.
    */
  private def bpeSegSql: String =
    s"""WITH RECURSIVE
       |m AS (SELECT rank, pat, rep FROM '$bpeMergesDir/*.parquet'),
       |w AS (SELECT doc_id, i AS wi, toks[i] AS word FROM
       |  (SELECT doc_id, toks,
       |    unnest(generate_series(1, len(toks))) AS i
       |   FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |         FROM documents))),
       |chars AS (SELECT doc_id, wi,
       |  '|' || string_agg(substr(word, ci, 1), '|' ORDER BY ci)
       |      || '|' AS seq
       |  FROM w, unnest(generate_series(1, length(word))) t(ci)
       |  GROUP BY doc_id, wi),
       |seg AS (
       |  SELECT doc_id, wi, seq, 0 AS step FROM chars
       |  UNION ALL
       |  SELECT s.doc_id, s.wi,
       |    substr(s.seq, 1, b.p - 1) || b.rep
       |      || substr(s.seq, b.p + length(b.pat)),
       |    s.step + 1
       |  FROM seg s, LATERAL (
       |    SELECT m.pat, m.rep, position(m.pat IN s.seq) AS p
       |    FROM m WHERE position(m.pat IN s.seq) > 0
       |    ORDER BY m.rank LIMIT 1) b),
       |fin AS (SELECT doc_id, wi, arg_max(seq, step) AS seq
       |  FROM seg GROUP BY 1, 2)""".stripMargin

  /** The WordPieces greedy loop as SQL: one CASE arm per vocab entry,
    * longest-first with lexical tie-break — the exact match order the
    * expression uses (functions.WordPieces.ordered).
    */
  private def wordPieceCase: String =
    TextOps.wordPieceVocab.sortBy(v => (-v.length, v))
      .map(v => s"WHEN starts_with(rest, '$v') THEN '$v'")
      .mkString("CASE ", " ", " ELSE substr(rest, 1, 1) END")

  /** rag_chunk_search's materialized chunk signatures. */
  private def ragSigsDir: String = Sidecars.oracleInput("rag_sigs")

  /** The fixed retrieval query for rag_chunk_search, and its SimHash
    * signature computed ONCE via the kernel's interpreted eval — the
    * same constant is a literal in the Spark plan and in the oracle
    * SQL, so both engines score against the identical probe.
    */
  private val ragQueryText = "spark stream window agg"
  private def simhashSigOf(text: String): (Long, Long) = {
    val arr = graft.functions.SimHash64(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(text),
        org.apache.spark.sql.types.StringType))
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray()
    (arr(0), arr(1))
  }
  private lazy val ragQuerySig: (Long, Long) = simhashSigOf(ragQueryText)
  // hybrid_search probes with the SAME text on both arms: the bm25
  // terms joined by spaces
  private lazy val hybridQuerySig: (Long, Long) =
    simhashSigOf(bm25Terms.mkString(" "))

  /** pq_topk's materialized per-subspace code assignments and codebook
    * table (ivfCellsDir pattern — separate paths so queries can't
    * clobber each other within one Verify run).
    */
  private def pqCodesDir: String = Sidecars.oracleInput("pq_codes")
  private def pqCodebookDir: String = Sidecars.oracleInput("pq_codebook")

  /** bq_topk's materialized packed sign signatures (both sides). */
  private def bqSigsDir: String = Sidecars.oracleInput("bq_sigs")

  /** sq8_topk's materialized code vectors and per-dim scales. */
  private def sq8CodesDir: String = Sidecars.oracleInput("sq8_codes")
  private def sq8MaxsDir: String = Sidecars.oracleInput("sq8_maxs")

  /** ivfpq_topk's materialized sidecars (cells + codes + codebook). */
  private def ivfpqCellsDir: String = Sidecars.oracleInput("ivfpq_cells")
  private def ivfpqCodesDir: String = Sidecars.oracleInput("ivfpq_codes")
  private def ivfpqCodebookDir: String = Sidecars.oracleInput("ivfpq_codebook")

  /** ann_incremental_ivfpq's oracle sidecars (cells derive from the
    * read-back index; codes/codebook alongside).
    */
  private def annIvfpqCellsDir: String =
    Sidecars.oracleInput("ann_ivfpq_cells")
  private def annIvfpqCodesDir: String =
    Sidecars.oracleInput("ann_ivfpq_codes")
  private def annIvfpqCodebookDir: String =
    Sidecars.oracleInput("ann_ivfpq_codebook")

  /** semantic_dedup's materialized cell assignments (ivfCellsDir
    * pattern — same lifecycle, separate path so the two queries can't
    * clobber each other within one Verify run).
    */
  private def semdedupCellsDir: String = Sidecars.oracleInput("semdedup_cells")

  /** The fixed query-term set for bm25_search; the left-to-right order
    * here is the score association order replicated in the oracle.
    */
  private val bm25Terms = Seq("spark", "stream", "vector", "query")

  /** Shared oracle for both multimodal decode forms: the dimensions
    * and format the synthesized headers CARRY — Spark must recover
    * them by parsing payload bytes (ImageHeaders), so equality proves
    * the parser round-trips.
    */
  private val multimodalMetaOracle: String =
    """WITH b AS (SELECT doc_id,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS tlen
      |  FROM documents)
      |SELECT doc_id,
      |  tlen + CASE doc_id % 3 WHEN 0 THEN 23 WHEN 1 THEN 33
      |    ELSE 14 END AS byte_len,
      |  16 + doc_id % 317 AS width,
      |  16 + (doc_id * 7) % 211 AS height,
      |  CAST(1 AS BIGINT) AS n_frames,
      |  CASE doc_id % 3 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
      |    ELSE 'gif' END AS fmt
      |FROM b""".stripMargin

  /** Shared SQL: milli-quantized int64 embeddings with self dot product
    * (mirror of Dedup.quantize / Dedup.qdot).
    */
  private val quantCte =
    """q AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (SELECT vec_id, qv,
      |  list_sum(list_transform(qv, x -> x*x)) AS nn FROM q)""".stripMargin

  private val dotAb =
    "list_sum(list_transform(range(1, len(a.qv)+1), i -> a.qv[i]*b.qv[i]))"

  /** Shared SQL: the replay of [[Graph.syntheticLinks]] — three
    * pseudo-random out-links per document, never a self-link — as
    * `edges(src, dst)`.
    */
  private def linkEdges(edges: String): String =
    s"""nn AS (SELECT count(*) AS n FROM documents),
       |$edges AS (SELECT src, m + CASE WHEN m >= src THEN 1 ELSE 0 END
       |    AS dst FROM
       |  (SELECT doc_id AS src,
       |     (doc_id * 1103515245 + j * 12345) % (n - 1) AS m
       |   FROM documents, nn, unnest([1, 2, 3]) AS t(j)))""".stripMargin

  /** Shared SQL: [[linkEdges]] as the undirected graph, one
    * `u(a, b)` row per edge with a < b.
    */
  private def undirectedLinks: String =
    s"""${linkEdges("raw")},
       |u AS (SELECT DISTINCT least(src, dst) AS a,
       |    greatest(src, dst) AS b FROM raw WHERE src <> dst)""".stripMargin

  /** Shared SQL: `r`, each query's neighbors in `scored` ranked by
    * (cosine DESC, neighbor_id) — the order every top-k kernel breaks
    * ties in — carrying the extra `scored` columns `cols`.
    */
  private def rankCte(cols: String = ""): String =
    s"""r AS (SELECT query_id, neighbor_id,$cols
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk, cosine
       |  FROM scored)""".stripMargin

  /** Shared SQL: the exact rerank of the candidate pairs
    * `cand(query_id, neighbor_id)` — quantized cosine over [[quantCte]]'s
    * `n` — ending in [[rankCte]]'s `r`.
    */
  private def rerankCtes: String =
    s"""scored AS (SELECT cand.query_id, cand.neighbor_id,
       |  CAST($dotAb AS DOUBLE)
       |    / sqrt(CAST(a.nn AS DOUBLE) * CAST(b.nn AS DOUBLE)) AS cosine
       |  FROM cand JOIN n a ON cand.neighbor_id = a.vec_id
       |            JOIN n b ON cand.query_id = b.vec_id),
       |${rankCte()}""".stripMargin

  /** Shared SQL: the approximate top-5 oracles' tail — [[rerankCtes]]
    * and the top 5 of `r`.
    */
  private def rerankTop5: String =
    s"""$rerankCtes
       |SELECT query_id, neighbor_id, rnk, cosine FROM r WHERE rnk <= 5""".stripMargin

  /** Shared SQL: the IVF candidate pairs — every query-side vector
    * (`side = 'q'`) against the corpus-side vectors in its probed
    * cells — from the cell sidecar at `dir`, as `cand`.
    */
  private def cellCand(dir: String, cand: String = "cand"): String =
    s"""cells AS (SELECT * FROM '$dir/*.parquet'),
       |$cand AS (SELECT DISTINCT qc.vec_id AS query_id,
       |    cc.vec_id AS neighbor_id
       |  FROM (SELECT vec_id, cell FROM cells WHERE side = 'q') qc
       |  JOIN (SELECT vec_id, cell FROM cells WHERE side = 'c') cc
       |    ON qc.cell = cc.cell AND qc.vec_id <> cc.vec_id)""".stripMargin

  /** Shared SQL: the candidate window of a compressed-scan oracle —
    * the `depth` first pairs of `src` per query by (`order`,
    * neighbor_id), as `cand`.
    */
  private def candWindow(order: String, src: String, depth: String): String =
    s"""cand AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY $order, neighbor_id) AS crk FROM $src)
       |  WHERE crk <= $depth)""".stripMargin

  /** Shared SQL: a PQ oracle input — per-subspace `codes` and the
    * codebook `cb` from their sidecars — and each coded vector's
    * reconstructed squared norm `nr`.
    */
  private def pqCodeCtes(codesDir: String, codebookDir: String): String =
    s"""codes AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
       |  CAST(subspace AS BIGINT) AS subspace, CAST(code AS BIGINT) AS code
       |  FROM '$codesDir/*.parquet'),
       |cb AS (SELECT CAST(subspace AS BIGINT) AS subspace,
       |  CAST(code AS BIGINT) AS code, CAST(sub_off AS BIGINT) AS sub_off,
       |  centroid, CAST(cnorm AS BIGINT) AS cnorm
       |  FROM '$codebookDir/*.parquet'),
       |nr AS (SELECT c.vec_id, CAST(sum(cb.cnorm) AS BIGINT) AS nn_r
       |  FROM codes c JOIN cb ON c.subspace = cb.subspace
       |    AND c.code = cb.code
       |  GROUP BY 1)""".stripMargin

  /** Shared SQL: the IVFADC `contrib` — each subspace's integer ADC
    * term for the cell-gated pairs `cand0` against query vectors `qs`.
    */
  private def cellAdcContrib: String =
    """contrib AS (SELECT c0.query_id, c0.neighbor_id,
      |  list_sum(list_transform(range(1, len(cb.centroid)+1),
      |    i -> cb.centroid[i] * q.qv[cb.sub_off + i])) AS part
      |  FROM cand0 c0
      |  JOIN codes c ON c0.neighbor_id = c.vec_id
      |  JOIN cb ON c.subspace = cb.subspace AND c.code = cb.code
      |  JOIN qs q ON c0.query_id = q.vec_id)""".stripMargin

  /** Shared SQL: the integer ADC score per pair (`ad`) and its
    * reconstructed cosine (`recon`), one division, as the kernel.
    */
  private def adcReconCtes: String =
    """ad AS (SELECT query_id, neighbor_id,
      |  CAST(sum(part) AS BIGINT) AS adc
      |  FROM contrib GROUP BY 1, 2),
      |recon AS (SELECT ad.query_id, ad.neighbor_id,
      |  CAST(ad.adc AS DOUBLE)
      |    / sqrt(CAST(nr.nn_r AS DOUBLE) * CAST(q.nn AS DOUBLE))
      |    AS recon_cos
      |  FROM ad JOIN nr ON ad.neighbor_id = nr.vec_id
      |  JOIN qs q ON ad.query_id = q.vec_id)""".stripMargin

  /** The fixed slice the `_capped` linkage twins replay over — 4096
    * smallest custkeys, so the block-quadratic oracle cost is
    * scale-invariant and the sf1 gate can afford it.
    */
  private val cappedCustomerSrc =
    "(SELECT * FROM customer WHERE c_custkey <= 4096)"

  /** paraphrase_mine's replay — brute-force cosine + exact shingle
    * jaccard — parameterized by optional WHERE suffixes on the
    * embeddings/documents scans so the primary row and its capped
    * twin share one definition. `embWhere` defaults both ways to
    * empty (the primary row's full-corpus form).
    */
  private def paraphraseMineSql(embWhere: String,
                                docWhere: String = ""): String =
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000) AS BIGINT)) AS qv
       |  FROM embeddings$embWhere),
       |n AS (SELECT vec_id, qv,
       |  list_sum(list_transform(qv, x -> x*x)) AS nn FROM q),
       |t AS (SELECT doc_id, string_split(text, ' ') AS w
       |  FROM documents$docWhere),
       |sh AS (SELECT doc_id,
       |  CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
       |    range(1, len(w)-1),
       |    i -> concat_ws(' ', w[i], w[i+1], w[i+2])))
       |  ELSE [] END AS ts FROM t),
       |p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
       |  CAST($dotAb AS DOUBLE)
       |    / sqrt(CAST(a.nn AS DOUBLE) * CAST(b.nn AS DOUBLE)) AS cosine
       |  FROM n a JOIN n b ON a.vec_id < b.vec_id),
       |j AS (SELECT va, vb, cosine,
       |  CAST(len(list_intersect(sa.ts, sb.ts)) AS BIGINT) AS inter,
       |  len(sa.ts) + len(sb.ts) AS un
       |  FROM p JOIN sh sa ON sa.doc_id = va
       |  JOIN sh sb ON sb.doc_id = vb
       |  WHERE cosine >= 0.5)
       |SELECT va AS doc_a, vb AS doc_b, cosine,
       |  CASE WHEN un - inter > 0
       |    THEN CAST(inter AS DOUBLE) / CAST(un - inter AS DOUBLE)
       |    ELSE 1.0 END AS jaccard
       |FROM j
       |WHERE CASE WHEN un - inter > 0
       |    THEN CAST(inter AS DOUBLE) / CAST(un - inter AS DOUBLE)
       |    ELSE 1.0 END < 0.3""".stripMargin

  /** record_linkage's within-block quadratic replay, parameterized by
    * the customer source so the primary row and its capped twin share
    * one definition.
    */
  private def recordLinkageSql(src: String): String =
    s"""SELECT least(a.c_custkey, b.c_custkey) AS id_a,
       |  greatest(a.c_custkey, b.c_custkey) AS id_b,
       |  a.c_nationkey AS block,
       |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist,
       |  CAST(CASE WHEN a.c_mktsegment = b.c_mktsegment
       |    THEN 1 ELSE 0 END AS BIGINT) AS n_agree,
       |  CAST(2 - levenshtein(a.c_name, b.c_name)
       |    + CASE WHEN a.c_mktsegment = b.c_mktsegment
       |      THEN 1 ELSE 0 END AS BIGINT) AS score
       |FROM $src a JOIN $src b
       |  ON a.c_nationkey = b.c_nationkey
       | AND a.c_custkey < b.c_custkey
       |WHERE levenshtein(a.c_name, b.c_name) <= 2""".stripMargin

  /** golden_record's replay — the within-block quadratic pair set,
    * the op's 4 min-label CC rounds verbatim, then the deterministic
    * merge rules — parameterized like [[recordLinkageSql]].
    */
  private def goldenRecordSql(src: String): String = {
    val rounds = (1 to 4).map { k =>
      s"""l$k AS (SELECT l.id,
         |  least(l.comp, coalesce(min(n.comp), l.comp)) AS comp
         |  FROM l${k - 1} l LEFT JOIN sym e ON l.id = e.s
         |  LEFT JOIN l${k - 1} n ON e.d = n.id
         |  GROUP BY l.id, l.comp)""".stripMargin
    }.mkString(",\n")
    s"""WITH pr AS (SELECT a.c_custkey AS s, b.c_custkey AS d
       |  FROM $src a JOIN $src b
       |    ON a.c_nationkey = b.c_nationkey
       |   AND a.c_custkey < b.c_custkey
       |  WHERE levenshtein(a.c_name, b.c_name) <= 2),
       |sym AS (SELECT s, d FROM pr UNION ALL SELECT d, s FROM pr),
       |l0 AS (SELECT c_custkey AS id, c_custkey AS comp
       |  FROM $src),
       |$rounds,
       |base AS (SELECT l4.comp, c.c_custkey AS id, c.c_name AS nm,
       |    CAST(c.c_nationkey AS BIGINT) AS blk,
       |    c.c_mktsegment AS cat,
       |    CAST(round(c.c_acctbal * 100) AS BIGINT) AS num
       |  FROM $src c JOIN l4 ON l4.id = c.c_custkey),
       |ag AS (SELECT comp, min(id) AS golden_id,
       |    count(*) AS n_members, min(blk) AS block,
       |    max(num) AS max_cents
       |  FROM base GROUP BY 1),
       |nm1 AS (SELECT comp, nm AS name FROM
       |  (SELECT comp, nm, row_number() OVER (PARTITION BY comp
       |     ORDER BY length(nm) DESC, nm DESC) AS rn FROM base)
       |  WHERE rn = 1),
       |ct AS (SELECT comp, cat, count(*) AS cnt FROM base
       |  GROUP BY 1, 2),
       |md AS (SELECT comp, cat AS cat_mode FROM
       |  (SELECT comp, cat, row_number() OVER (PARTITION BY comp
       |     ORDER BY cnt DESC, cat DESC) AS rn FROM ct)
       |  WHERE rn = 1)
       |SELECT golden_id, CAST(n_members AS BIGINT) AS n_members,
       |  block, name, max_cents, cat_mode
       |FROM ag JOIN nm1 USING (comp) JOIN md USING (comp)""".stripMargin
  }

  /** SimHash oracle: recompute the 64 affine votes per doc with the
    * exact TextOps constants interpolated, then all-pairs hamming.
    * Brute force is fine at oracle scale (500 docs → 125k pairs).
    */
  /** The per-doc 64-bit SimHash signature as SQL CTEs ending in
    * `sig(doc_id, sim_lo, sim_hi)` — shared by simhashOracle and the
    * hybrid_search dense arm.
    */
  private def simhashSigCte: String = {
    val votes = (0 until 64).map { b =>
      val (a, c) = TextOps.simhashAC(b)
      s"sum(CASE WHEN ($a*h+$c)%${TextOps.P} >= ${TextOps.HalfP} THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n  ")
    val lo = (0 until 32).map(b =>
      s"(CASE WHEN v$b>0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)")
      .mkString("+")
    val hi = (32 until 64).map(b =>
      s"(CASE WHEN v$b>0 THEN CAST(${1L << (b - 32)} AS BIGINT) ELSE 0 END)")
      .mkString("+")
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |h AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(range(1, length(tok)+1),
       |    i -> CAST(ascii(substr(tok, i, 1)) AS BIGINT))),
       |  (acc, c) -> (acc*31+c) % ${TextOps.FpMod}) AS h FROM tok),
       |votes AS (SELECT doc_id,
       |  $votes
       |  FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, $lo AS sim_lo, $hi AS sim_hi FROM votes)""".stripMargin
  }

  private def simhashOracle(maxDist: Int): String = {
    s"""WITH $simhashSigCte
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.sim_lo, b.sim_lo))
       |     + bit_count(xor(a.sim_hi, b.sim_hi)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sim_lo, b.sim_lo))
       |    + bit_count(xor(a.sim_hi, b.sim_hi)) <= $maxDist""".stripMargin
  }

  /** Shared by decontaminate and decontaminate_bloom: the Bloom
    * variant is exact by construction, so both compare to the same
    * brute-force overlap SQL.
    */
  private lazy val decontaminateOracle: String =
    s"""WITH $shinglesCte,
         |f AS (SELECT doc_id, ${sqlPolyHash("text")} % 10 AS b
         |  FROM documents),
         |eg AS (SELECT DISTINCT unnest(sh.s) AS g
         |  FROM sh JOIN f USING(doc_id) WHERE f.b >= 9),
         |tg AS (SELECT sh.doc_id, unnest(sh.s) AS g
         |  FROM sh JOIN f USING(doc_id) WHERE f.b < 8),
         |hits AS (SELECT tg.doc_id, count(*) AS n
         |  FROM tg JOIN eg USING(g) GROUP BY tg.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(hits.n, 0) AS BIGINT) AS n_contaminated_grams,
         |  coalesce(hits.n, 0) > 0 AS contaminated
         |FROM (SELECT sh.doc_id FROM sh JOIN f USING(doc_id)
         |      WHERE f.b < 8) d
         |LEFT JOIN hits USING(doc_id)""".stripMargin
}
