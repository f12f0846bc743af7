package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions

/** N1/N2 — the deduplication family for an LLM-data pipeline: exact,
  * MinHash+LSH, SimHash, n-gram jaccard (AllPairs-style), and
  * embedding-cosine near-dup.
  *
  * Everything is expressed as explode → shuffle-on-candidate-key →
  * verify joins: at 100 TB the candidate-generation step is the only
  * O(n·k) shuffle and verification touches candidate pairs only —
  * never the O(n²) cross product. The brute-force O(n²) form exists
  * only inside the DuckDB oracles at sf0.01.
  */
object Dedup {

  /** N1 — exact dedup: canonical representative (min id) per identical
    * key. A single hash aggregation; streaming twin is
    * `dropDuplicatesWithinWatermark` (covered in tests).
    */
  def exactByKey(df: DataFrame, keyCols: Seq[String],
                 idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** An LSH banding plan: `bands` bands of `rowsPerBand` hashes;
    * `missProb` = P[a pair at the target collision probability shares
    * NO band] = (1 - p^r)^b; `fpFactor` = expected bands shared by a
    * pair at `pLow` ≈ b·pLow^r (the candidate-cost driver).
    */
  case class LshPlan(rowsPerBand: Int, bands: Int,
                     missProb: Double, fpFactor: Double) {
    def signatureWidth: Int = rowsPerBand * bands
  }

  /** Size LSH band parameters from the miss budget instead of folklore.
    * For each rows-per-band r, the minimal band count b satisfies
    * (1 - p^r)^b ≤ maxMiss, where `p` is a qualifying pair's per-hash
    * collision probability (MinHash: p = the jaccard threshold;
    * hyperplane LSH: p = 1 - acos(s)/π). Among the (r, b) meeting the
    * budget within `maxWidth` total hashes (the map-side signature
    * cost), pick the one minimizing the false-positive factor
    * b·pLow^r — expected band collisions for an UNinteresting pair
    * (hyperplane: pLow = 0.5, a random high-d pair). At 100 TB the
    * shuffle is O(n·b) but the verify join is O(collisions), and a
    * small r also concentrates rows into few buckets per band — the
    * shape the hot-bucket cap then truncates (recall loss) — so FP
    * factor, not signature width, is the right objective.
    * The r10 sweep (PERF_NOTES.md, r10 findings §2; s=0.4 ⇒ p≈0.631,
    * sf0.1 idle, min of 3: (4,96)→3.18 s, (5,160)→2.12, (6,256)→1.83,
    * (7,400)→1.69) confirms the objective empirically — runtime tracks the FP
    * factor b·pLow^r (6.0, 5.0, 4.0, 3.1), while the signature cost
    * of even r·b=1536 hashes stays under 0.5 s — which is why the
    * default width budget is 2048, not the 512 an earlier round
    * shipped (that cap was what held the old (4,96) default);
    * embeddingPairs' shipped (6,256) is this function's pick at
    * maxMiss=1e-7 (minimal b=247 rounded up to 256).
    */
  def lshPlan(p: Double, maxMiss: Double, pLow: Double = 0.5,
              maxWidth: Int = 2048, maxBands: Int = 4096): LshPlan = {
    require(p > 0 && p < 1 && maxMiss > 0 && maxMiss < 1)
    require(pLow >= 0 && pLow < 1)
    val candidates = (1 to 16).flatMap { r =>
      val pr = math.pow(p, r)
      // minimal bands: (1-p^r)^b <= maxMiss
      val b = math.ceil(math.log(maxMiss) / math.log1p(-pr)).toInt
      if (b >= 1 && b <= maxBands && r * b <= maxWidth)
        Some(LshPlan(r, b, math.pow(1 - pr, b), b * math.pow(pLow, r)))
      else None
    }
    require(candidates.nonEmpty,
      s"no plan within width<=$maxWidth, bands<=$maxBands meets " +
        s"miss<=$maxMiss at p=$p")
    candidates.minBy(pl => (pl.fpFactor, pl.signatureWidth))
  }

  /** Candidate pairs from LSH banding: input (id, bandIdx, bandHash)
    * exploded rows. One aggregation groups each band bucket's ids,
    * then in-bucket pairs unfold locally — a single shuffle on the
    * bucket key AND a single evaluation of the (expensive) signature
    * subtree, where a self-join would shuffle twice and recompute the
    * signatures per side. Bucket sizes — duplicate-cluster sizes, not
    * corpus size — bound the pair blow-up, so the in-bucket unfold is
    * tiny on a healthy corpus.
    *
    * `maxBucket` is the 100 TB safety valve: a degenerate bucket (web
    * boilerplate, empty-ish docs — thousands of near-identical texts
    * landing on one band hash) would otherwise unfold O(n²) pairs in
    * ONE task and wedge the stage. Buckets above the cap are excluded
    * from pair generation. This is an EXPLICIT RECALL TRADE, stated
    * plainly: byte-identical members of a capped cluster are still
    * caught by the exact-dedup pass (content fingerprint), but
    * near-identical-yet-distinct members lose their near-dup pairs —
    * with a >maxBucket-sized cluster the alternative is a stage that
    * never finishes. Raise maxBucket (or pre-strip the boilerplate
    * field driving the collisions) when that recall matters; every
    * bucket at or below the cap is unaffected, so fixture-scale
    * results are bit-identical to the uncapped form. The cap bounds
    * per-task work at maxBucket²/2 pairs regardless of corpus
    * pathology.
    */
  private def bandPairs(bands: DataFrame, idCol: String,
                        maxBucket: Int = 4096): DataFrame =
    bands.groupBy(col("band_idx"), col("band_hash"))
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids) - i - 1), y ->
          |    struct(least(x, y) AS id_a, greatest(x, y) AS id_b))))"""
          .stripMargin)).as("p"))
      .select(col("p.id_a"), col("p.id_b")).distinct()

  /** Banded minhash candidates + exact-jaccard verify, shared by the
    * word-shingle and char-gram near-dup ops: `sets` = (id, setCol)
    * where setCol is a sorted distinct array<bigint> of element hashes
    * (HashedWordShingles / HashedCharGrams — the string sets never
    * materialize). MinHashBands (one codegen loop per row) → band
    * bucket self-join → verify exact jaccard via a sorted-merge
    * intersection on the hashed sets. Verification makes LSH false
    * positives harmless; band config makes false negatives vanishingly
    * rare for genuinely similar sets (p_miss = (1-s⁴)³², < 1e-12 at
    * s=0.9).
    */
  private def bandedJaccardPairs(sets: DataFrame, idCol: String,
                                 setCol: String, threshold: Double,
                                 numPerms: Int, bands: Int,
                                 maxBucket: Int): DataFrame = {
    // one eager materialization of the hashed sets: the frame feeds
    // the band explode AND both sides of the verify join — without it
    // the gram kernel re-runs corpus-wide three times (~1 s of a
    // 2.4 s dedup_corpus at sf0.1, worse for char grams). The verify
    // joins' build side is the candidate list, so the stats-less
    // checkpoint cannot mis-broadcast the corpus (the r11 linkage
    // lesson checked).
    val setsM = sets.localCheckpoint()
    val banded = setsM
      .select(col(idCol), posexplode(
        GraftFunctions.minhashBands(col(setCol), numPerms, bands)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
    verifyJaccard(bandPairs(banded, idCol, maxBucket), setsM, idCol,
      setCol, threshold)
  }

  /** Threshold-derived minhash band plan (r13): lshPlan(threshold,
    * 1e-7 miss, pLow = 0.05 background word-shingle jaccard,
    * maxWidth = 1024). The folklore (128 perms, 32 bands, r = 4) plan
    * carried a 12.7% miss probability for a pair sitting exactly AT
    * s = 0.5 — invisible at sf0.01/sf0.1 (whose pair population has no
    * threshold-boundary members, so 13 rounds of exact oracle compares
    * stayed green) and exposed by the r13 FULL sf1 gate, where the
    * 40%-mutation replicas create boundary pairs: 7 of 390 oracle
    * pairs missed. At 0.5 this derives (r = 4, b = 250, 1000 perms) —
    * signature cost ×7.8, map-side and fused — restoring
    * verification-exactness to the advertised budget at EVERY
    * s ≥ threshold, not just at the fixture's observed pair mass.
    */
  def minhashPlanFor(threshold: Double): LshPlan =
    lshPlan(threshold, 1e-7, pLow = 0.05, maxWidth = 1024)

  /** The 0.5-threshold instance shared by the incremental-dedup index
    * and its streaming probe (both sides must sign identically).
    */
  lazy val plan05: LshPlan = minhashPlanFor(0.5)

  /** Resolve an explicit (numPerms, bands) override against the
    * threshold-derived plan. Both-or-neither: a PARTIAL override
    * (e.g. bands set, numPerms defaulted) used to fall back to the
    * derived plan silently, ignoring the caller's half — now it
    * throws, because a half-specified band plan has no well-defined
    * miss budget to fall back on.
    */
  private[graft] def resolveBandPlan(threshold: Double, numPerms: Int,
                                     bands: Int): (Int, Int) = {
    require((numPerms > 0) == (bands > 0),
      s"numPerms and bands must be overridden together (or neither); " +
        s"got numPerms=$numPerms, bands=$bands")
    if (numPerms > 0) (numPerms, bands)
    else {
      val pl = minhashPlanFor(threshold)
      (pl.signatureWidth, pl.bands)
    }
  }

  /** N2 — MinHash + LSH near-dup pairs with exact-jaccard verification:
    * word-shingle hash sets → minhash band signatures sized by
    * [[minhashPlanFor]] (graft.functions.MinHashBands) → band-bucket
    * join → verify exact jaccard ≥ threshold on the shingle sets.
    * numPerms/bands ≤ 0 (the default) derives the plan from the
    * threshold's miss budget; explicit values override — both
    * together or neither (a partial override throws).
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.5,
                   numPerms: Int = -1, bands: Int = -1,
                   maxBucket: Int = 4096): DataFrame = {
    val (np, nb) = resolveBandPlan(threshold, numPerms, bands)
    bandedJaccardPairs(
      // floor BEFORE the shingle/minhash kernels: a one-partition scan
      // would serialize them (Parallelism.floor is a no-op at scale).
      // Empty-set docs are dropped via the equivalent CHEAP text
      // predicate (shingles empty iff < 3 tokens), not size(kernel):
      // a kernel-valued filter re-evaluates the whole gram kernel
      // under every projection branch it pushes below.
      Parallelism.floor(docs
          .filter(size(split(col(textCol), " ")) >= 3))
        .select(col(idCol),
          GraftFunctions.hashedWordShingles(col(textCol), 3).as("sh")),
      idCol, "sh", threshold, np, nb, maxBucket)
  }

  /** Exact jaccard verification of candidate pairs against the hashed
    * set column (sorted distinct array<bigint>); emits
    * (doc_a, doc_b, jaccard).
    */
  private def verifyJaccard(cands: DataFrame, sets: DataFrame,
                            idCol: String, setCol: String,
                            threshold: Double): DataFrame = {
    val sa = sets.select(col(idCol).as("id_a"), col(setCol).as("set_a"))
    val sb = sets.select(col(idCol).as("id_b"), col(setCol).as("set_b"))
    cands.join(sa, "id_a").join(sb, "id_b")
      .withColumn("inter",
        GraftFunctions.sortedIntersectCount(col("set_a"), col("set_b")))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (size(col("set_a")) + size(col("set_b")) - col("inter"))
          .cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("jaccard"))
  }

  /** N2 — char-n-gram-jaccard near-dup pairs: minhash-banded candidate
    * generation + exact-jaccard verification over distinct 5-gram sets.
    *
    * Why banding and not an inverted-index (AllPairs/prefix-filter)
    * join: candidate volume of a gram-inverted index is Σ_g df(g)²,
    * which explodes on low-lexical-diversity corpora — on the sf0.1
    * fixture it is 46M pairs (measured), and a prefix filter makes it
    * *worse* (89M) because rare grams are still shared by hundreds of
    * docs. Banded candidates are O(n·bands) regardless of corpus
    * diversity, which is the property that survives 100 TB. The output
    * is verification-exact: every candidate is checked against the true
    * jaccard, so false positives never surface; misses need a pair
    * sitting essentially at the threshold — the brute-force DuckDB
    * oracle confirms none on the fixture.
    *
    * Band tuning (r=8 rows × 32 bands, 256 perms): char-gram sets of
    * same-vocabulary documents share a high random-pair baseline
    * similarity (s₀ ≈ 0.35 measured), so the r=4 default that fits
    * word shingles admits 32·s₀⁴ ≈ 0.5 expected colliding bands PER
    * RANDOM PAIR — 775k candidates on the sf0.1 fixture, and the
    * exact-verify join over ~500-element gram arrays was >80% of query
    * time. r=8 cuts the random-pair factor to 32·s₀⁸ ≈ 0.007 (~12k
    * candidates) while the miss budget stays closed: true near-dup
    * pairs sit at jaccard ≥ 0.93 where (1-s⁸)³² < 5e-12 (< 1.5e-8
    * even at s = 0.9). Doubled signature cost (256 perms) is map-side,
    * Mersenne-folded, and ~0.2 s — the trade that survives scale.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double = 0.5, n: Int = 5,
                        numPerms: Int = 256, bands: Int = 32,
                        maxBucket: Int = 4096): DataFrame =
    bandedJaccardPairs(
      // length(text) >= n is the exact empty-gram-set predicate; see
      // minhashPairs for why it must not be size(kernel)
      Parallelism.floor(docs.filter(length(col(textCol)) >= n))
        .select(col(idCol),
          GraftFunctions.hashedCharGrams(col(textCol), n).as("g")),
      idCol, "g", threshold, numPerms, bands, maxBucket)

  /** N2 — SimHash near-dup pairs: 64-bit signatures, hamming ≤ maxDist.
    * Banding into (maxDist+1) chunks is exact by pigeonhole: a pair
    * within hamming ≤ d must agree on at least one of d+1 chunks, so
    * the bucket join misses nothing AMONG buckets within `maxBucket` —
    * the hot-bucket cap (see bandPairs) trades exactness away only for
    * degenerate >maxBucket clusters, where the uncapped unfold would
    * not terminate usefully anyway. Default d=3 → 4 × 16-bit chunks.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3, maxBucket: Int = 4096): DataFrame = {
    val sigs = TextOps.simhash(docs, idCol, textCol)
    val chunks = Seq(
      pmod(col("sim_lo"), lit(65536L)).as("c0"),
      pmod(shiftright(col("sim_lo"), 16), lit(65536L)).as("c1"),
      pmod(col("sim_hi"), lit(65536L)).as("c2"),
      pmod(shiftright(col("sim_hi"), 16), lit(65536L)).as("c3"))
    val withChunks = sigs.select(
      (col(idCol) +: col("sim_lo") +: col("sim_hi") +: chunks): _*)
    val banded = withChunks.select(col(idCol),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band_idx"),
          col(s"c$i").as("band_hash"))): _*)).as("b"))
      .select(col(idCol), col("b.band_idx").as("band_idx"),
        col("b.band_hash").as("band_hash"))
    val cands = bandPairs(banded, idCol, maxBucket)
    val sa = withChunks.select(col(idCol).as("id_a"),
      col("sim_lo").as("lo_a"), col("sim_hi").as("hi_a"))
    val sb = withChunks.select(col(idCol).as("id_b"),
      col("sim_lo").as("lo_b"), col("sim_hi").as("hi_b"))
    cands.join(sa, "id_a").join(sb, "id_b")
      .withColumn("hamming",
        (bit_count(expr("lo_a ^ lo_b")) + bit_count(expr("hi_a ^ hi_b")))
          .cast(LongType))
      .filter(col("hamming") <= maxDist)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("hamming"))
  }

  /** Min-label propagation over an undirected pair graph: after
    * `iters` rounds every node holds the minimum id reachable within
    * `iters` hops — the full component min whenever the component
    * diameter is ≤ iters (near-dup clusters are clique-like, diameter
    * 1-2; the default 4 adds slack). Each round is one shuffle join on
    * the edge key + one aggregation — the bounded-iteration connected
    * components that scales (GraphX-style propagation without the
    * framework); the DuckDB oracle replays the SAME round count, so
    * results match on any topology.
    *
    * Precondition: pair endpoints ⊆ ids (every caller passes either
    * the pair universe itself or a superset) — the r14 linked-only
    * propagation below re-attaches ids WITHOUT edges as their own
    * component, but an edge endpoint MISSING from ids would now
    * propagate its label where the all-ids form ignored it.
    */
  def componentMin(ids: DataFrame, pairs: DataFrame,
                   iters: Int = 4): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val sym = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      // tiny (pair count); persisted because every propagation round
      // re-reads it — without this the candidate-generation subtree
      // would re-execute per round
      .persist()
    // debug-path enforcement of the endpoints ⊆ ids precondition: a
    // violating caller would get silently different labels (an
    // out-of-universe endpoint's min id propagates into in-universe
    // nodes where the pre-r14 all-ids form ignored the edge). Off by
    // default — one anti-join + limit(1) count when enabled, so CI can
    // turn it on without taxing production plans.
    if (java.lang.Boolean.getBoolean("graft.componentMin.checkUniverse")) {
      val orphans = sym.select(col("src").as("id")).distinct()
        .join(ids.select(col("id")), Seq("id"), "left_anti")
        .limit(1).count()
      require(orphans == 0L,
        "componentMin: pair endpoint outside the id universe — " +
          "callers must pass ids ⊇ all pair endpoints")
    }
    // r14: propagate over LINKED ids only (the golden_record r11
    // lesson, now inside the operator so every caller inherits it).
    // An id with no edge never appears in nbrMin, so its label is its
    // own id after every round — carrying the full id universe
    // through `iters` joins + eager checkpoints (dedupCorpus shipped
    // all 50k docs through 4 rounds for a few hundred linked ones)
    // buys nothing. Unlinked ids re-attach with comp = id at the end:
    // results identical on any topology.
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
    var converged = false
    // exact early-exit state (r15): per-node labels are monotone
    // non-increasing, so Σcomp (exact DECIMAL(38,0) — no overflow at
    // any node count) is unchanged across a round IFF no node changed;
    // comparing round sums replaces the old per-round prev-column +
    // changed-count filter, which needed a LEFT join of the previous
    // labels back into every step.
    var prevSum: java.math.BigDecimal = null
    var round = 0
    (1 to iters).foreach { _ => if (!converged) {
      round += 1
      // one join + one aggregate per round (r15): min over
      // {own label} ∪ {neighbor labels} — the union branch carries the
      // node's own label through the SAME min aggregate, replacing the
      // previous join→groupBy→left-join→least chain (one exchange and
      // one join fewer per round); identical labels by definition of
      // least(own, min(neighbors)).
      val stepPlan = sym
        .join(labels.select(col("id").as("dst"), col("comp")), "dst")
        .select(col("src").as("id"), col("comp"))
        .unionAll(labels)
        .groupBy(col("id"))
        .agg(min(col("comp")).as("comp"))
      // exact early exit (r15): propagation is a deterministic
      // function of (labels, edges), so a round that changed NOTHING
      // makes every remaining round the identity — skipping them
      // yields bit-identical labels on any topology (the oracle's
      // fixed-round replay is unaffected: its extra rounds are the
      // same no-ops). Near-dup components are clique-like and
      // converge in 1-2 rounds, so this routinely halves the round
      // count. Per-node labels are monotone non-increasing, so Σcomp
      // is unchanged across a round IFF no node changed; the sum
      // accumulates in DECIMAL(38,0) (cast BEFORE the aggregate — a
      // Long sum wraps at scale, and a wrapped sum colliding across
      // rounds would fake convergence and silently mislabel). The sum
      // rides the CHECKPOINT job via observe(), so each round stays
      // ONE pass over step — no separate convergence action (local
      // stage latency, 2 actions/round, was the CC family's measured
      // fixture-scale tail; same-JVM A/B in OPTIMIZATION_r15.md §5).
      val obs = new org.apache.spark.sql.Observation(s"ccsum_r$round")
      val observed = stepPlan.observe(obs,
        sum(col("comp")
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as("s"))
      // truncate lineage each round: without this the plan nests the
      // previous round's join tree (≈90 join nodes at iters=4) and
      // analysis/stage-DAG cost grows superlinearly in `iters` — at
      // real-graph iteration counts the PLANNER becomes the
      // bottleneck before the data does. Eager, so the loop's work
      // materializes round by round and `sym` can be released below.
      // (On a cluster with an HDFS checkpoint dir, `checkpoint()` is
      // the durable equivalent; localCheckpoint is the right local
      // form.)
      val step = observed.localCheckpoint()
      val s = obs.get.apply("s").asInstanceOf[java.math.BigDecimal]
      converged = prevSum != null && prevSum.compareTo(s) == 0
      prevSum = s
      labels = step
    }}
    // labels is materialized by the eager checkpoint above, so the
    // cached edge set can be dropped without recomputing anything
    sym.unpersist()
    ids.select(col("id"))
      .join(labels.select(col("id"), col("comp").as("__linked_comp")),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("__linked_comp"), col("id")).as("comp"))
  }

  /** N1/N2 end-to-end — corpus dedup: near-dup pairs (minhash-banded,
    * exact-verified) → connected components → one canonical
    * representative (min id) per cluster. Output: every doc with its
    * canonical id and whether it is the kept representative — the
    * operation an LLM-data pipeline actually runs on 100 TB of text.
    */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
                  threshold: Double = 0.5, iters: Int = 4): DataFrame = {
    val prs = minhashPairs(docs, idCol, textCol, threshold)
    componentMin(docs.select(col(idCol).as("id")), prs, iters)
      .select(col("id").as("doc_id"), col("comp").as("canonical_id"),
        (col("id") === col("comp")).as("kept"))
  }

  /** Quantized embedding vector (milli-units as int64): makes every
    * dot product exact integer arithmetic — order-independent and
    * bit-identical across engines (see Similarity).
    */
  def quantize(vec: Column): Column =
    transform(vec, x => round(x * lit(1000.0)).cast(LongType))

  /** Exact integer dot product of two quantized vectors (codegen
    * kernel graft.functions.QuantizedDot).
    */
  def qdot(a: Column, b: Column): Column = GraftFunctions.qdot(a, b)

  /** N2 — embedding-cosine near-dup pairs ≥ threshold: hyperplane-LSH
    * banded candidate generation (graft.functions.HyperplaneBands, one
    * codegen'd loop per row) + exact quantized-cosine verification —
    * the same bucketed shape as minhashPairs, never the O(n²) cross
    * product (the brute-force form lives only in the DuckDB oracle).
    *
    * Miss probability per pair at cosine s: (1 − p^r)^b with
    * p = 1 − arccos(s)/π; defaults r=6, b=256 give 6e-8 at s=0.4.
    * Candidate mass for the near-orthogonal bulk scales with b/2^r
    * (4.0 at the default vs 6.0 for r=4,b=96), and candidates are
    * verified exactly, so false positives only cost compute, never
    * correctness. At petabyte corpus scale raise rowsPerBand (bucket
    * selectivity grows 2^r) and bands together — (7,400) holds the
    * 1e-7 budget with ratio 3.1 — trading posting volume (∝ b) for
    * candidate volume (∝ b/2^r) as n² grows against n.
    */
  def embeddingPairs(emb: DataFrame, idCol: String, vecCol: String,
                     threshold: Double = 0.4,
                     bands: Int = 256, rowsPerBand: Int = 6): DataFrame = {
    val q = emb.select(col(idCol), quantize(col(vecCol)).as("q"))
      .withColumn("nn", qdot(col("q"), col("q")))
    val banded = q
      .select(col(idCol), posexplode(
        GraftFunctions.hyperplaneBands(col("q"), bands, rowsPerBand)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
    // No pre-verify distinct: at a low threshold (0.4 ⇒ wide bands)
    // candidate multiplicity is high and a distinct would shuffle the
    // full candidate stream once more. The QuantizedDot verify is one
    // codegen loop per candidate row, so verifying duplicates is
    // cheaper than deduplicating them; survivors (tiny) dedupe at the
    // end. The dims side is small per bucket, and the verify joins
    // broadcast under AQE. Measured in r10 (same-JVM A/B, sf0.1
    // regenerated data, min of 3, with the probe-side repartition
    // below; the "r10 embeddingPairsGrouped lesson" of
    // OPTIMIZATION_r15.md §6): this self-join shape 2.9-3.2 s vs
    // 12.4 s for the bandPairs group-unfold+distinct twin —
    // collect_list over the fat band explode dominates there, while
    // jaccard-style ops (narrower bands, higher thresholds) favor
    // grouping. Band-parameter sweep within the <1e-7 miss budget at
    // s=0.4 (same run): (r=6,b=256) 1.83 s and (7,400) 1.69 s BEAT
    // (4,96) 3.18, (5,160) 2.12, (3,56) 3.01, (3,64) 3.20 — higher r
    // prunes the near-orthogonal candidate bulk (b/2^r) faster than
    // the extra posting rows cost. Default moved to (6, 256); (7,400)
    // sits exactly AT the 1e-7 budget, too thin a margin to default.
    // The probe side MUST be spread across shuffle partitions by the
    // join key before the bucket self-join: a small embeddings file
    // arrives as ONE scan partition, and without this repartition the
    // whole candidate production + verify chain runs in a single task
    // (measured sf0.1: 12.5M candidate rows at ~2M rows/s on one
    // thread — 6 s of a 7 s query; repartitioned it fans out across
    // all cores). Join strategy stays with AQE: at this scale the
    // build side broadcasts (so the repartitioned side's partitioning
    // sets the parallelism); at corpus scale both sides are large and
    // the planner's shuffle join REUSES this key-repartition for the
    // probe side instead of adding one.
    val a = banded.select(col(idCol).as("id_a"), col("band_idx"),
        col("band_hash"))
      .repartition(col("band_idx"), col("band_hash"))
    val b = banded.select(col(idCol).as("id_b"), col("band_idx"),
      col("band_hash"))
    val cands = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val sa = q.select(col(idCol).as("id_a"), col("q").as("q_a"),
      col("nn").as("nn_a"))
    val sb = q.select(col(idCol).as("id_b"), col("q").as("q_b"),
      col("nn").as("nn_b"))
    cands.join(sa, "id_a").join(sb, "id_b")
      .withColumn("cosine", qdot(col("q_a"), col("q_b")).cast(DoubleType) /
        sqrt(col("nn_a").cast(DoubleType) * col("nn_b").cast(DoubleType)))
      .filter(col("cosine") >= threshold)
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"),
        col("cosine"))
      .dropDuplicates("vec_a", "vec_b")
  }

  /** N2 extension — PARAPHRASE MINING: pairs that are semantically
    * near (embedding cosine ≥ cosFloor) but lexically FAR (word-
    * shingle jaccard < jacCeil) — the complement of near-dup dedup,
    * and the pair class lexical dedup/decontamination CANNOT catch:
    * reworded boilerplate, templated rewrites, benchmark paraphrases
    * leaking across train/eval splits. Emits
    * (doc_a, doc_b, cosine, jaccard), ids joined embedding↔document.
    *
    * Scale shape: candidates come from the SAME hyperplane-banded
    * self-join as [[embeddingPairs]], with the band plan SIZED FOR
    * THE FLOOR by [[lshPlan]] — at a high floor (the production
    * setting, e.g. 0.8 ⇒ p≈0.795 vs the random-pair 0.5) bands
    * discriminate strongly and candidate volume tracks the true-pair
    * structure, not n². The lexical side joins each SURVIVING pair's
    * hashed sorted-distinct shingle sets (the setsim_join
    * representation) and verifies with one codegen merge-walk per
    * pair — lexical cost ∝ semantic pairs, never corpus². Pairs with
    * BOTH shingle sets empty count as lexically identical
    * (jaccard 1) and are excluded — a short-text pair carries no
    * lexical evidence of being a paraphrase.
    *
    * ID-SPACE CONTRACT: `emb`'s id column and `docs`'s id column must
    * be the same key space. The doc join is a LEFT join so a vec id
    * with no document row SURFACES as a null-jaccard output row
    * (semantic evidence present, lexical evidence missing) instead of
    * silently dropping the pair — a mismatched id space shows up in
    * the result, not as an empty frame.
    */
  def paraphrasePairs(emb: DataFrame, docs: DataFrame, idCol: String,
                      vecCol: String, docIdCol: String, textCol: String,
                      cosFloor: Double = 0.5, jacCeil: Double = 0.3,
                      shingleK: Int = 3): DataFrame = {
    val plan = lshPlan(1.0 - math.acos(cosFloor) / math.Pi, 1e-7)
    val sem = embeddingPairs(emb, idCol, vecCol, cosFloor,
      bands = plan.bands, rowsPerBand = plan.rowsPerBand)
    val sh = docs.select(col(docIdCol).as("__id"),
      GraftFunctions.hashedWordShingles(col(textCol), shingleK)
        .as("__sh"))
    val inter = GraftFunctions.sortedIntersectCount(col("sh_a"),
      col("sh_b"))
    val unionSz = size(col("sh_a")) + size(col("sh_b"))
    sem
      .join(sh.select(col("__id").as("vec_a"), col("__sh").as("sh_a")),
        Seq("vec_a"), "left")
      .join(sh.select(col("__id").as("vec_b"), col("__sh").as("sh_b")),
        Seq("vec_b"), "left")
      .withColumn("__i", inter)
      .withColumn("jaccard",
        when(col("sh_a").isNull || col("sh_b").isNull,
          lit(null).cast(DoubleType))
        .when(unionSz - col("__i") > 0,
          col("__i").cast(DoubleType) /
            (unionSz - col("__i")).cast(DoubleType))
          .otherwise(lit(1.0)))
      .filter(col("jaccard").isNull || col("jaccard") < jacCeil)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"),
        col("cosine"), col("jaccard"))
  }

  /** The corpus side of incremental dedup: minhash band postings for
    * every corpus doc, with hot buckets (> maxBucket members) excluded
    * at INDEX BUILD time — the same explicit recall trade as bandPairs,
    * paid once per index build instead of per lookup. In production the
    * result is persisted (parquet bucketed by band_hash) and reused by
    * every daily batch; here it is built inline from the corpus frame.
    */
  def corpusBandIndex(corpus: DataFrame, idCol: String, textCol: String,
                      numPerms: Int = plan05.signatureWidth,
                      bands: Int = plan05.bands,
                      maxBucket: Int = 4096): DataFrame = {
    // materialize the postings ONCE (r15): the frame feeds both the
    // bucket-size aggregate and the output join, and without the eager
    // checkpoint the shingle+sign kernels (numPerms hashes per shingle,
    // the index build's dominant compute) ran corpus-wide TWICE. The
    // rows are narrow (id, band_idx, band_hash) — |corpus|·bands ×
    // ~20 bytes.
    val cBands = corpus
      .filter(size(split(col(textCol), " ")) >= 3)
      .select(col(idCol),
        GraftFunctions.hashedWordShingles(col(textCol), 3).as("sh"))
      .select(col(idCol), posexplode(
        GraftFunctions.minhashBands(col("sh"), numPerms, bands)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
      .localCheckpoint()
    // exclude HOT buckets by broadcast anti-join (r15): the old form
    // kept COLD buckets through a left-semi join, but nearly every
    // bucket is cold (most band hashes are unique), so the "filter"
    // shuffled ~|corpus|·bands posting rows against an equally large
    // cold-key set. The hot set (> maxBucket members) is tiny by
    // construction — a handful of degenerate boilerplate clusters —
    // and broadcasting it makes the exclusion a map-side probe with
    // zero shuffle. Same rows out: NOT cold ⟺ hot.
    val hotBuckets = cBands.groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("bkt_n"))
      .filter(col("bkt_n") > maxBucket)
      .drop("bkt_n")
    cBands.join(broadcast(hotBuckets), Seq("band_idx", "band_hash"),
      "left_anti")
  }

  /** N1/N2 — INCREMENTAL dedup: the operation a 100 TB pipeline runs
    * daily. The full corpus is never re-paired; instead the new batch's
    * band postings probe the (persisted, amortized) corpus band index,
    * candidates verify against exact jaccard, and each batch doc gets a
    * keep/duplicate verdict plus its best corpus match.
    *
    * Scale shape: the batch (small side) broadcasts into the index join,
    * so the corpus index never shuffles — per-batch cost is
    * O(|batch|·bands + candidates), independent of corpus size. The
    * in-batch near-dup resolution for kept docs is a separate
    * `dedupCorpus` over the (small) kept batch.
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, idCol: String,
                       textCol: String, threshold: Double = 0.5,
                       numPerms: Int = -1, bands: Int = -1,
                       maxBucket: Int = 4096): DataFrame = {
    val (np, nb) = resolveBandPlan(threshold, numPerms, bands)
    incrementalDedupWithIndex(
      corpusBandIndex(corpus, idCol, textCol, np, nb, maxBucket),
      corpus, batch, idCol, textCol, threshold, np, nb)
  }

  /** `incrementalDedup` against a PRE-BUILT band index — the shape the
    * daily job actually runs: the index is written once per index
    * build (`corpusBandIndex(...).write.partitionBy("band_idx")
    * .parquet(path)`) and every batch reads it back instead of
    * re-signing the corpus. The corpus frame is still needed for the
    * exact-jaccard verify, but only candidate rows are shingled (a
    * broadcast semi-join prunes first); in production the verify side
    * can read a persisted (id, shingles) table the same way.
    */
  def incrementalDedupWithIndex(index: DataFrame, corpus: DataFrame,
                                batch: DataFrame, idCol: String,
                                textCol: String, threshold: Double = 0.5,
                                numPerms: Int = 128,
                                bands: Int = 32): DataFrame = {
    // eagerly materialized: feeds the band explode, the Bloom build
    // and the verify join — without it the batch re-signs per consumer
    val bSets = batch
      .filter(size(split(col(textCol), " ")) >= 3)
      .select(col(idCol),
        GraftFunctions.hashedWordShingles(col(textCol), 3).as("sh"))
      .localCheckpoint()
    // materialized too (r15): the posting frame feeds the Bloom build
    // and the candidate join — two separate actions — and each one
    // re-ran the batch sign kernel (numPerms hashes per shingle) over
    // the checkpointed sets. Narrow rows, |batch|·bands of them.
    val bBands = bSets
      .select(col(idCol), posexplode(
        GraftFunctions.minhashBands(col("sh"), numPerms, bands)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
      .localCheckpoint()
    // r14: Bloom pre-filter over the batch's band keys (guide §3.2).
    // The r13 threshold-derived plan widened bands 32 → 250, so the
    // batch posting list outgrew AQE's broadcast threshold and the
    // documented "the corpus index never shuffles" contract silently
    // broke — the candidate join shuffled ALL |corpus|·bands postings.
    // A Bloom over the batch's fused band keys (16 bits/key, no false
    // negatives; fp only admits extra postings that the exact
    // (band_idx, band_hash) join then drops) broadcasts at ~2 bytes
    // per batch posting and kills non-matching index postings IN THE
    // SCAN, so the surviving index side is candidate-sized and AQE
    // broadcasts it — neither the index nor the batch shuffles,
    // restoring the O(|batch|·bands + candidates) contract at any
    // corpus size.
    def bandKey(c1: Column, c2: Column) = xxhash64(c1, c2)
    val bKeys = bBands.select(
      bandKey(col("band_idx"), col("band_hash")).as("k"))
    // |bKeys| is exactly |bSets|·bands (posexplode emits every band),
    // so sizing the Bloom from the cheap materialized-sets count skips
    // a whole pass over the posting frame; the bit count is identical
    // to the old bKeys.count() form.
    val nKeys = math.max(1L, bSets.count() * bands)
    val bloom = graft.functions.GraftBloom.build(bKeys, "k",
      graft.functions.GraftBloom.sizeBits(nKeys, 16), 6)
    val cands = index
      .select(col(idCol).as("corpus_id"), col("band_idx"), col("band_hash"))
      .filter(GraftFunctions.bloomMightContain(
        bandKey(col("band_idx"), col("band_hash")), bloom))
      // no broadcast HINT on the batch side: the batch is small by
      // CONTRACT (a daily increment), not by structure — AQE
      // broadcasts the true size at runtime (keeping the index
      // unshuffled) and falls back to a shuffle join for a batch too
      // large to pin to the driver
      .join(bBands.select(col(idCol).as("batch_id"),
        col("band_idx"), col("band_hash")), Seq("band_idx", "band_hash"))
      .select("batch_id", "corpus_id").distinct()
    // shingle ONLY candidate corpus rows: the broadcast semi-join on
    // candidate ids prunes the corpus before the (expensive) signature
    // expression runs — the verify cost tracks candidates, and with a
    // keyed corpus store the scan itself prunes too
    val cSets = corpus.select(col(idCol).as("corpus_id"), col(textCol))
      .join(broadcast(cands.select("corpus_id").distinct()),
        Seq("corpus_id"), "left_semi")
      .select(col("corpus_id"),
        GraftFunctions.hashedWordShingles(col(textCol), 3).as("set_c"))
      .filter(size(col("set_c")) > 0)
    val verified = cands
      // batch sets: same no-hint rationale as the band probe above
      .join(bSets.select(col(idCol).as("batch_id"),
        col("sh").as("set_b")), "batch_id")
      .join(cSets, "corpus_id")
      .withColumn("inter",
        GraftFunctions.sortedIntersectCount(col("set_b"), col("set_c")))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (size(col("set_b")) + size(col("set_c")) - col("inter"))
          .cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("batch_id"))
      .orderBy(col("jaccard").desc, col("corpus_id").asc)
    val best = verified.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("batch_id"), col("corpus_id").as("best_match_id"),
        col("jaccard").as("best_jaccard"))
    val counts = verified.groupBy("batch_id")
      .agg(count(lit(1)).as("n_matches"))
    batch.select(col(idCol).as("batch_id"))
      .join(counts, Seq("batch_id"), "left")
      .join(best, Seq("batch_id"), "left")
      .select(col("batch_id").as("doc_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("best_match_id"), col("best_jaccard"),
        (coalesce(col("n_matches"), lit(0L)) === 0).as("keep"))
  }

  /** N2 — CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|) ≥ t over
    * word-shingle sets. The asymmetric member of the dedup family:
    * jaccard (minhashPairs) misses "document B is embedded inside the
    * much larger A" — a quote, a mirrored article inside a portal
    * page, a doc re-crawled with boilerplate — because the union in
    * the denominator dilutes the overlap, while containment stays at
    * 1.0. The quote/subset detector every crawl-dedup stage runs
    * beside the symmetric one.
    *
    * Candidates come from a RARE-ANCHOR inverted index, not minhash
    * bands (band collision probability equals JACCARD, exactly the
    * quantity that's low here): two docs are candidates iff they
    * share at least one shingle with document frequency ≤ dfCap.
    * That df cap bounds every posting bucket (≤ dfCap ids → ≤ dfCap²/2
    * pairs per gram, the bandPairs bound), and the semantics are
    * honest: a contained doc ALL of whose shingles are corpus-common
    * is boilerplate, which span_dedup/repetition_stats own. The df
    * threshold is part of the operator's contract and the oracle
    * replays it verbatim — verification against the exact containment
    * makes anchor false positives harmless.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.8,
                       dfCap: Int = 64): DataFrame = {
    val sets = Parallelism.floor(docs
        .filter(size(split(col(textCol), " ")) >= 3))
      .select(col(idCol),
        GraftFunctions.hashedWordShingles(col(textCol), 3).as("sh"))
    val grams = sets.select(col(idCol), explode(col("sh")).as("g"))
    val rare = grams.groupBy(col("g"))
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= dfCap)
    val cands = rare
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids) - i - 1), y ->
          |    struct(least(x, y) AS id_a, greatest(x, y) AS id_b))))"""
          .stripMargin)).as("p"))
      .select(col("p.id_a"), col("p.id_b")).distinct()
    val sa = sets.select(col(idCol).as("id_a"), col("sh").as("set_a"))
    val sb = sets.select(col(idCol).as("id_b"), col("sh").as("set_b"))
    cands.join(sa, "id_a").join(sb, "id_b")
      .withColumn("inter",
        GraftFunctions.sortedIntersectCount(col("set_a"), col("set_b")))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        size(col("set_a")).cast(LongType).as("n_a"),
        size(col("set_b")).cast(LongType).as("n_b"),
        (col("inter").cast(DoubleType) /
          least(size(col("set_a")), size(col("set_b")))
            .cast(DoubleType)).as("containment"))
      .filter(col("containment") >= threshold)
  }
}
