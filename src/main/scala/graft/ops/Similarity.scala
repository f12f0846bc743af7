package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions

/** N3 — similarity search over an embedding column (Array[Float]).
  *
  * Cosine is computed over milli-quantized int64 vectors (Dedup.quantize)
  * so every dot product is exact integer arithmetic: the score — and
  * therefore the ranking — is bit-identical regardless of partitioning,
  * engine, or summation order. sqrt/division on the exact integers are
  * IEEE-correctly-rounded, hence also deterministic.
  */
object Similarity {

  /** Broadcast-side boundedness, DECLARED in the plan: sort by the id
    * column, keep the first `max` rows. Every brute-force/compressed-
    * scan op here broadcasts its query/anchor frame into a
    * single-bucket join whose fan-out is |Q| per corpus row — correct
    * ONLY while |Q| is genuinely small. The cap is a no-op for every
    * honoring caller (registry query sets are ≤ 50 ids at every
    * scale); a contract-violating caller gets a deterministic
    * truncation (smallest ids win) instead of an unbounded driver
    * broadcast, and the resulting GlobalLimit node is the
    * machine-checkable declaration [[graft.plans.PlanChecks]]'
    * degenerate-join audit keys on.
    */
  private def capped(df: DataFrame, idCol: String, max: Int): DataFrame =
    df.orderBy(col(idCol)).limit(max)

  /** Default declared bound for broadcast query/anchor frames. */
  val MaxBroadcastQueries = 8192

  /** Brute-force top-k cosine: the correctness baseline. Queries are
    * broadcast (small side), the corpus streams once; per-query ranking
    * is a windowed row_number with (score desc, id) tie-break.
    * Cost O(|Q|·N·d) — the right plan whenever |Q| is small; the 100 TB
    * path for large |Q| is lshTopK below.
    */
  private def scoredPairs(emb: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String): DataFrame = {
    // The all-pairs product is expressed as a single-bucket
    // BroadcastHashJoin: both sides carry a constant-valued join key
    // built from a non-foldable expression (pmod(xxhash64(id), 1) ≡ 0
    // — FoldablePropagation cannot fold attribute-rooted hashes, so
    // Catalyst keeps the equi-join instead of degrading to a
    // BroadcastNestedLoopJoin). Work is identical to the cross product
    // by construction — every corpus row meets every broadcast query
    // row — but the probe stays on the codegen'd BroadcastHashJoin
    // path and the self-pair exclusion is an explicit post-join
    // filter rather than a per-pair nested-loop predicate.
    val corpus = Parallelism.floor(emb)
      .select(col(idCol).as("neighbor_id"),
        Dedup.quantize(col(vecCol)).as("q_n"))
      .withColumn("nn_n", Dedup.qdot(col("q_n"), col("q_n")))
      .withColumn("__jk", pmod(xxhash64(col("neighbor_id")), lit(1L)))
    val qs = capped(queries.select(col(idCol).as("query_id"),
      Dedup.quantize(col(vecCol)).as("q_q")),
      "query_id", MaxBroadcastQueries)
      .withColumn("nn_q", Dedup.qdot(col("q_q"), col("q_q")))
      .withColumn("__jk", pmod(xxhash64(col("query_id")), lit(1L)))
    corpus.join(broadcast(qs), Seq("__jk")).drop("__jk")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        Dedup.qdot(col("q_n"), col("q_q")).cast(DoubleType) /
          sqrt(col("nn_n").cast(DoubleType) * col("nn_q").cast(DoubleType)))
  }

  def bruteForceTopK(emb: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scoredPairs(emb, queries, idCol, vecCol)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rnk").cast(LongType).as("rnk"), col("cosine"))
  }

  /** bruteForceTopK through the GroupedTopK custom operator
    * (graft.plans): per-group bounded heaps instead of the window
    * form's full per-group sort — O(groups·k) state instead of
    * O(partition) sort state. Identical output; proven by the shared
    * DuckDB oracle (`topk_cosine_exec` vs `topk_cosine`).
    */
  def bruteForceTopKExec(emb: DataFrame, queries: DataFrame, idCol: String,
                         vecCol: String, k: Int = 5): DataFrame =
    graft.plans.GroupedTopK(
      scoredPairs(emb, queries, idCol, vecCol),
      Seq("query_id"),
      Seq("cosine" -> false, "neighbor_id" -> true), k, "rnk")
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        col("cosine"))

  /** Hard-negative mining — the contrastive-training consumer of
    * similarity search: for each anchor vector, the top-k most-cosine-
    * similar corpus vectors with a DIFFERENT label ("looks the same,
    * isn't" — the near-miss examples a triplet/contrastive loss needs
    * to sharpen a decision boundary). Same single-bucket broadcast
    * shape as bruteForceTopK (anchors are the small side by contract);
    * the different-label predicate is one codegen'd comparison on the
    * probe stream, and ranking runs through the bounded-heap
    * GroupedTopK operator — per-anchor state is k rows, never a
    * per-partition sort. At 100 TB the corpus side streams once; for
    * large anchor sets the LSH/IVF candidate generators compose in
    * front exactly as for plain top-k.
    */
  def hardNegatives(emb: DataFrame, anchors: DataFrame, idCol: String,
                    vecCol: String, labelCol: String,
                    k: Int = 5): DataFrame = {
    val corpus = emb.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neg_label"),
      Dedup.quantize(col(vecCol)).as("q_n"))
      .withColumn("nn_n", Dedup.qdot(col("q_n"), col("q_n")))
      .withColumn("__jk", pmod(xxhash64(col("neighbor_id")), lit(1L)))
    val qs = capped(anchors.select(col(idCol).as("query_id"),
      col(labelCol).as("label_q"),
      Dedup.quantize(col(vecCol)).as("q_q")),
      "query_id", MaxBroadcastQueries)
      .withColumn("nn_q", Dedup.qdot(col("q_q"), col("q_q")))
      .withColumn("__jk", pmod(xxhash64(col("query_id")), lit(1L)))
    val pairs = corpus.join(broadcast(qs), Seq("__jk")).drop("__jk")
      .filter(col("neighbor_id") =!= col("query_id") &&
        col("neg_label") =!= col("label_q"))
      .withColumn("cosine",
        Dedup.qdot(col("q_n"), col("q_q")).cast(DoubleType) /
          sqrt(col("nn_n").cast(DoubleType) * col("nn_q").cast(DoubleType)))
    graft.plans.GroupedTopK(pairs, Seq("query_id"),
      Seq("cosine" -> false, "neighbor_id" -> true), k, "rnk")
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        col("rnk"), col("cosine"))
  }

  /** Random-hyperplane LSH top-k with multiprobe: the scale path. Each
    * vector gets an nBits-bit sign signature from fixed pseudo-random
    * hyperplanes (HyperplaneBands with a single band — deterministic
    * weights, no RNG state); the corpus lands in its signature bucket
    * once, and each query probes every bucket within hamming distance
    * `probeDist` of its own signature (C(nBits,≤d) buckets — 37 for
    * nBits=8, d=2), which recovers the recall a single-bucket probe
    * loses. Recall < 1 by construction — asserted ≥ 0.9 against
    * bruteForceTopK in LshRecallSpec, not the SQL oracle.
    *
    * At 100 TB: signatures are one narrow int column; the bucket join
    * shuffles each corpus row once to its bucket; only the small query
    * side multiplies by the probe count and it stays broadcast.
    */
  def lshTopK(emb: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int = 5, nBits: Int = 8,
              probeDist: Int = 2): DataFrame = {
    def signature(qvec: org.apache.spark.sql.Column) =
      element_at(
        graft.functions.GraftFunctions.hyperplaneBands(qvec, 1, nBits), 1)
    val corpus = Parallelism.floor(emb)
      .select(col(idCol).as("neighbor_id"),
        Dedup.quantize(col(vecCol)).as("q_n"))
      .withColumn("nn_n", Dedup.qdot(col("q_n"), col("q_n")))
      .withColumn("bucket", signature(col("q_n")))
    // all XOR masks with ≤ probeDist of the nBits low bits set
    val masks = (0L until (1L << nBits))
      .filter(m => java.lang.Long.bitCount(m) <= probeDist)
    val qs = capped(queries.select(col(idCol).as("query_id"),
      Dedup.quantize(col(vecCol)).as("q_q")),
      "query_id", MaxBroadcastQueries)
      .withColumn("nn_q", Dedup.qdot(col("q_q"), col("q_q")))
      .withColumn("sig", signature(col("q_q")))
      .withColumn("bucket",
        explode(array(masks.map(m => col("sig").bitwiseXOR(lit(m))): _*)))
      .drop("sig")
    val scored = corpus.join(broadcast(qs), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        Dedup.qdot(col("q_n"), col("q_q")).cast(DoubleType) /
          sqrt(col("nn_n").cast(DoubleType) * col("nn_q").cast(DoubleType)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rnk").cast(LongType).as("rnk"), col("cosine"))
  }

  /** Train the IVF coarse quantizer: spherical k-means (Lloyd) on a
    * bounded pseudo-random sample of the corpus, entirely driver-side —
    * the FAISS-style practice: the quantizer trains on a sample capped
    * independently of corpus size, so a 100 TB corpus still trains on
    * `sampleCap` vectors. The hash-ordered sample and fixed iteration
    * count make the centroids deterministic.
    */
  def trainCentroids(emb: DataFrame, idCol: String, vecCol: String,
                     nCentroids: Int = 32, iters: Int = 5,
                     sampleCap: Int = 4096): Array[Array[Long]] = {
    val sample = emb
      .select(Dedup.quantize(col(vecCol)).as("q"), col(idCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleCap)
      .select("q").collect()
      .map(_.getSeq[Long](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    val dim = sample.head.length
    val c = math.min(nCentroids, sample.length)
    var centroids = sample.take(c).map(_.clone())
    def cosScore(v: Array[Long], ct: Array[Long]): Double = {
      var dot = 0L; var nc = 0L
      var i = 0
      while (i < dim) { dot += v(i) * ct(i); nc += ct(i) * ct(i); i += 1 }
      if (nc == 0) Double.MinValue else dot / math.sqrt(nc.toDouble)
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(c)(new Array[Long](dim))
      val counts = new Array[Int](c)
      sample.foreach { v =>
        var best = 0; var bestS = Double.MinValue
        var j = 0
        while (j < c) {
          val s = cosScore(v, centroids(j))
          if (s > bestS) { bestS = s; best = j }
          j += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(c) { j =>
        if (counts(j) == 0) centroids(j)
        else Array.tabulate(dim)(i =>
          math.round(sums(j)(i).toDouble / counts(j)))
      }
      it += 1
    }
    centroids
  }

  /** N3 scale path — IVF top-k: corpus vectors land in the cell of
    * their nearest coarse centroid (one narrow int column, one codegen
    * assignment loop per row); each query probes its `nProbe` nearest
    * cells. Unlike hyperplane LSH, the cells adapt to the data
    * distribution, which keeps recall high even when true neighbors
    * sit at weak cosine (this fixture's top-5 live at ~0.3-0.4, where
    * 8-bit LSH recall collapses — measured in LshRecallSpec).
    *
    * At 100 TB: the cell column partitions the corpus once; queries
    * (small side) broadcast, multiplied only by nProbe. Recall/cost
    * tunes with (nCentroids, nProbe) exactly like an IVF index.
    */
  def ivfTopK(emb: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int = 5, nCentroids: Int = 32,
              nProbe: Int = 8, nAssign: Int = 2,
              sampleCap: Int = 4096): DataFrame =
    ivfTopKWith(
      trainCentroids(emb, idCol, vecCol, nCentroids, sampleCap = sampleCap),
      emb, queries, idCol, vecCol, k, nProbe, nAssign)

  /** The cell assignment of `ivfTopKWith`, exposed as a DataFrame
    * `(id, cell)` (one row per assigned/probed cell) so the
    * assignments can be materialized for an external exact-rerank
    * oracle: given the same centroids, the cells here and inside
    * ivfTopKWith are the same deterministic expression.
    */
  def ivfCells(df: DataFrame, idCol: String, vecCol: String,
               centroids: Array[Array[Long]], n: Int): DataFrame =
    Parallelism.floor(df).select(col(idCol), explode(
      GraftFunctions.nearestCentroids(
        Dedup.quantize(col(vecCol)), centroids, n)).as("cell"))

  /** FILTERED vector search — IVF top-k restricted to corpus vectors
    * satisfying a metadata predicate ("only English docs", "only
    * in-stock items"): the operation every production vector store
    * advertises, with the classic strategy fork. This is the
    * PRE-FILTER form — the predicate cuts the corpus BEFORE posting,
    * so cells thin out, probes scan only eligible vectors, and k is
    * always filled from eligible candidates; the caller WIDENS nProbe
    * versus the unfiltered index (thinner cells ⇒ the same recall
    * needs more cells — the registry row runs 16 vs ivf_topk's 12).
    * Post-filtering (rank first, filter after) is only right when the
    * predicate is too expensive to evaluate per corpus row or the
    * index is shared and immutable; under a selective predicate it
    * silently underfills k, which is the failure mode this form
    * avoids. Everything downstream is [[ivfTopKWith]] unchanged —
    * exact quantized cosines, score-then-dedupe, bounded ranking.
    */
  def ivfTopKFiltered(centroids: Array[Array[Long]], emb: DataFrame,
                      corpusPred: Column, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      nProbe: Int, nAssign: Int): DataFrame =
    ivfTopKWith(centroids, emb.filter(corpusPred), queries, idCol,
      vecCol, k, nProbe, nAssign)

  def ivfTopKWith(centroids: Array[Array[Long]], emb: DataFrame,
                  queries: DataFrame, idCol: String, vecCol: String,
                  k: Int, nProbe: Int, nAssign: Int): DataFrame = {
    // multi-assignment: each corpus vector posts into its nAssign
    // nearest cells (index grows nAssign×, recall of border vectors
    // recovers — the standard IVF multi-assignment trade).
    val corpus = Parallelism.floor(emb)
      .select(col(idCol).as("neighbor_id"),
        Dedup.quantize(col(vecCol)).as("q_n"))
      .withColumn("nn_n", Dedup.qdot(col("q_n"), col("q_n")))
      .withColumn("cell", explode(
        GraftFunctions.nearestCentroids(col("q_n"), centroids, nAssign)))
    val qs = capped(queries.select(col(idCol).as("query_id"),
      Dedup.quantize(col(vecCol)).as("q_q")),
      "query_id", MaxBroadcastQueries)
      .withColumn("nn_q", Dedup.qdot(col("q_q"), col("q_q")))
      .withColumn("cell", explode(
        GraftFunctions.nearestCentroids(col("q_q"), centroids, nProbe)))
    // A pair can meet in several probed cells — dedupe before ranking.
    // Score FIRST, then dedupe on the three scalar columns: a
    // dropDuplicates that still carries the vector arrays plans as a
    // SortAggregate-with-first(array) behind two exchanges (measured
    // ~2 s of a 2.3 s probe at sf0.1), while the scalar form is one
    // codegen HashAggregate. The cosine is deterministic per pair, so
    // scoring duplicates ≤ nProbe times costs one fused loop each and
    // no correctness.
    val scored = corpus.join(broadcast(qs), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine",
        Dedup.qdot(col("q_n"), col("q_q")).cast(DoubleType) /
          sqrt(col("nn_n").cast(DoubleType) * col("nn_q").cast(DoubleType)))
      .select("query_id", "neighbor_id", "cosine")
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rnk").cast(LongType).as("rnk"), col("cosine"))
  }

  /** Train product-quantization codebooks (Jégou et al. 2011, the
    * FAISS PQ family): the quantized vector splits into `m` contiguous
    * subspaces (remainder dims go to the earlier subspaces) and each
    * subspace gets its own `codesPerSub`-entry k-means codebook,
    * trained by L2 Lloyd on the SAME bounded hash-ordered driver
    * sample as trainCentroids — a 100 TB corpus still trains on
    * `sampleCap` vectors, and the fixed sample order + iteration count
    * make every codebook deterministic.
    */
  /** The persisted-IVF index artifact — the daily-delta ANN workflow's
    * reusable half (the `incrementalDedup` band-index precedent, for
    * vectors): one row per (vector, assigned cell) carrying the
    * quantized vector and its self-dot, so probing needs NO access to
    * the raw corpus. Written once per index build; each day's batch
    * probes it via `ivfProbeIndex`. At 100 TB the index is a parquet
    * table partitionable by cell — a probe touches nProbe cells' rows,
    * never the corpus.
    */
  def ivfIndex(emb: DataFrame, idCol: String, vecCol: String,
               centroids: Array[Array[Long]], nAssign: Int = 2): DataFrame =
    Parallelism.floor(emb).select(col(idCol).as("vec_id"),
      Dedup.quantize(col(vecCol)).as("q"))
      .withColumn("nn", Dedup.qdot(col("q"), col("q")))
      .withColumn("cell", explode(
        GraftFunctions.nearestCentroids(col("q"), centroids, nAssign)))
      .select("vec_id", "cell", "q", "nn")

  /** Upsert a vector delta into a persisted IVF index WITHOUT
    * retraining: postings for incoming ids are dropped first
    * (re-embedding a document re-assigns its cells — overwrite-by-id
    * semantics), then fresh postings for the delta append. Centroids
    * stay FIXED across maintenance — the production invariant: moving
    * the coarse quantizer moves every assignment, which IS a rebuild,
    * so retraining is a scheduled rare event while upserts run daily.
    *
    * Maintained-equals-rebuilt is exact (asserted in SimilarityOpsSpec
    * and by the `ann_index_upsert` oracle, whose corpus-side cells are
    * recomputed from scratch): with fixed centroids, assignment is a
    * pure function of the vector, so (index \ ids) ∪ assign(delta) ==
    * assign(finalCorpus).
    *
    * At 100 TB: the delta is broadcast into a left-anti join (no
    * shuffle of the index), fresh postings are a pure map over the
    * delta, and on a cell-partitioned parquet store the rewrite
    * touches only the delta's cells (dynamic partition overwrite) —
    * daily cost scales with the delta, never the corpus.
    */
  def ivfIndexUpsert(index: DataFrame, adds: DataFrame, idCol: String,
                     vecCol: String, centroids: Array[Array[Long]],
                     nAssign: Int = 2): DataFrame =
    index.join(broadcast(adds.select(col(idCol).as("vec_id")).distinct()),
        Seq("vec_id"), "left_anti")
      .unionByName(ivfIndex(adds, idCol, vecCol, centroids, nAssign))

  /** Tombstone ids out of a persisted IVF index (the delete half of
    * maintenance): a broadcast left-anti join on the posting key —
    * never a rewrite of untouched cells.
    */
  def ivfIndexDelete(index: DataFrame, ids: DataFrame,
                     idCol: String): DataFrame =
    index.join(broadcast(ids.select(col(idCol).as("vec_id")).distinct()),
      Seq("vec_id"), "left_anti")

  /** Per-cell posting census of a persisted IVF index — the serving
    * health metric: probe tail latency follows the largest probed
    * cell, so skew here (dead centroids, hot cells after months of
    * upserts under fixed centroids) is the signal that schedules the
    * rare retrain+rebuild. One map-side-combinable aggregation.
    */
  def ivfCellStats(index: DataFrame): DataFrame =
    index.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_postings"),
        min(col("vec_id")).as("min_vec_id"),
        max(col("vec_id")).as("max_vec_id"))

  /** Probe a persisted IVF index with a (small, broadcast) query
    * batch: each query fans out to its nProbe nearest cells, the
    * index side streams once through a cell-keyed hash join, pairs
    * that met in several probed cells dedupe before the exact
    * quantized-cosine rank. Per-batch cost is independent of how many
    * batches were probed before — the index is immutable.
    */
  def ivfProbeIndex(centroids: Array[Array[Long]], index: DataFrame,
                    queries: DataFrame, idCol: String, vecCol: String,
                    k: Int = 5, nProbe: Int = 8): DataFrame = {
    val qs = capped(queries.select(col(idCol).as("query_id"),
      Dedup.quantize(col(vecCol)).as("q_q")),
      "query_id", MaxBroadcastQueries)
      .withColumn("nn_q", Dedup.qdot(col("q_q"), col("q_q")))
      .withColumn("cell", explode(
        GraftFunctions.nearestCentroids(col("q_q"), centroids, nProbe)))
    // score-then-dedupe on scalars — see ivfTopKWith for why the
    // array-carrying dropDuplicates is the expensive form
    val scored = Parallelism.floor(index).join(broadcast(qs), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine",
        Dedup.qdot(col("q"), col("q_q")).cast(DoubleType) /
          sqrt(col("nn").cast(DoubleType) * col("nn_q").cast(DoubleType)))
      .select("query_id", "vec_id", "cosine")
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rnk").cast(LongType).as("rnk"), col("cosine"))
  }

  /** The persisted IVFADC serving index (`ivfIndex`'s compressed
    * sibling — FAISS's on-disk IVF+PQ layout): one row per (vector,
    * assigned cell) carrying ONLY the `m` one-byte PQ codes and the
    * reconstructed norm — ~24 B of payload per posting at m=16, not
    * the raw or quantized vector. At 100 TB of vectors this is the
    * difference between an index that fits hot storage and one that
    * IS the corpus; partition the parquet by cell and a probe reads
    * nProbe cells' postings, nothing else.
    */
  def ivfPqIndex(emb: DataFrame, idCol: String, vecCol: String,
                 centroids: Array[Array[Long]],
                 codebooks: Array[Array[Array[Long]]],
                 nAssign: Int = 2): DataFrame =
    emb.select(col(idCol).as("vec_id"),
        Dedup.quantize(col(vecCol)).as("q"))
      .withColumn("codes", GraftFunctions.pqEncode(col("q"), codebooks))
      .withColumn("nn_r",
        GraftFunctions.pqReconNorm(col("codes"), codebooks))
      .withColumn("cell", explode(
        GraftFunctions.nearestCentroids(col("q"), centroids, nAssign)))
      .select("vec_id", "cell", "codes", "nn_r")

  /** Probe a persisted IVFADC index: the ADC candidate stage touches
    * ONLY the read-back index (cell-keyed join, 16-byte code scan,
    * integer ADC scoring — `ivfPqTopK`'s exact arithmetic), and the
    * final refine fetches just the per-query top `k*rerankFactor`
    * survivors' vectors from `corpus` BY KEY — bounded point lookups
    * (FAISS's refine stage), not a corpus scan. Per-batch cost is
    * independent of how many batches probed before.
    *
    * nProbe/rerankFactor ≤ 0 (the default) DERIVES them from the
    * centroid count: base (8, 20) at 32 cells, scaled by
    * centroids.length/32 — the √n cell rule thins each cell as the
    * corpus grows, so a FIXED probe width loses recall exactly the
    * way the r13 sf1 gate caught in ivfpq_recall (0.828 at 10× with
    * the fixture constants; nProbe must track the cell count and the
    * ADC rerank cut the per-cell PQ error mass). The k/32 rule lived
    * only in the GATE row until r14 — the serving row kept fixture
    * constants, leaving the exact caught bug class latent for every
    * other caller; deriving here makes every caller inherit it.
    * Explicit values still override (the anchored gate rows).
    */
  /** The derived serving probe plan for an IVFADC index with `nCells`
    * coarse cells: base (nProbe 8, rerankFactor 20) at the 32-cell
    * fixture anchor, both scaled by nCells/32 — the same rule the
    * ivfpq_recall gate applies to its own (stricter, base-14) probe.
    * Measured at sf1 (20k vectors, 101 cells → np 26, rf 64): recall
    * 0.924 vs in-plan exact top-5 (PERF_NOTES.md r12 §13b; the fixture
    * constants this replaces measured 0.828 there — the r13 sf1-gate
    * bug class, now closed for every caller).
    */
  def ivfPqProbePlan(nCells: Int): (Int, Int) = {
    val cellScale = nCells / 32.0
    (math.max(8, math.ceil(8 * cellScale).toInt),
      math.max(20, math.ceil(20 * cellScale).toInt))
  }

  def ivfPqProbeIndex(centroids: Array[Array[Long]],
                      codebooks: Array[Array[Array[Long]]],
                      index: DataFrame, corpus: DataFrame,
                      queries: DataFrame, idCol: String, vecCol: String,
                      k: Int = 5, nProbe: Int = -1,
                      rerankFactor: Int = -1): DataFrame = {
    val (npD, rfD) = ivfPqProbePlan(centroids.length)
    val np = if (nProbe > 0) nProbe else npD
    val rf = if (rerankFactor > 0) rerankFactor else rfD
    val qsFlat = capped(queries.select(col(idCol).as("query_id"),
      Dedup.quantize(col(vecCol)).as("q_q")),
      "query_id", MaxBroadcastQueries)
      .withColumn("nn_q", Dedup.qdot(col("q_q"), col("q_q")))
    val qs = qsFlat.withColumn("cell", explode(
      GraftFunctions.nearestCentroids(col("q_q"), centroids, np)))
    // ADC-score then dedupe on scalars (see ivfTopKWith); the query
    // vector the exact rerank needs is re-attached to the tiny
    // rank-cut survivor set by a broadcast join instead of riding
    // through the dedup aggregate as a first(array)
    val recon = Parallelism.floor(index).join(broadcast(qs), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("recon_cos",
        GraftFunctions.pqAdcDot(col("codes"), col("q_q"), codebooks)
          .cast(DoubleType) /
          sqrt(col("nn_r").cast(DoubleType) * col("nn_q").cast(DoubleType)))
      .select("query_id", "vec_id", "recon_cos")
      .dropDuplicates("query_id", "vec_id")
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("recon_cos").desc, col("vec_id").asc)
    val cand = recon.withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= k * rf)
      .join(broadcast(qsFlat), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("q_q"), col("nn_q"))
    rerankExact(
      corpus.select(col(idCol).as("neighbor_id"),
        Dedup.quantize(col(vecCol)).as("q_n")),
      cand, k)
  }

  def trainPqCodebooks(emb: DataFrame, idCol: String, vecCol: String,
                       m: Int = 8, codesPerSub: Int = 32, iters: Int = 5,
                       sampleCap: Int = 4096): Array[Array[Array[Long]]] = {
    val sample = emb
      .select(Dedup.quantize(col(vecCol)).as("q"), col(idCol))
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleCap)
      .select("q").collect()
      .map(_.getSeq[Long](0).toArray)
    require(sample.nonEmpty, "empty corpus")
    val dim = sample.head.length
    require(m >= 1 && m <= dim, s"m=$m out of range for dim=$dim")
    val base = dim / m
    val rem = dim % m
    val subDims = Array.tabulate(m)(s => base + (if (s < rem) 1 else 0))
    val offs = subDims.scanLeft(0)(_ + _).init
    Array.tabulate(m) { s =>
      val off = offs(s)
      val sd = subDims(s)
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, off, off + sd))
      val c = math.min(codesPerSub, sub.length)
      var cb = sub.take(c).map(_.clone())
      def l2(v: Array[Long], ct: Array[Long]): Long = {
        var d = 0L; var i = 0
        while (i < sd) { val x = v(i) - ct(i); d += x * x; i += 1 }
        d
      }
      var it = 0
      while (it < iters) {
        val sums = Array.fill(c)(new Array[Long](sd))
        val counts = new Array[Int](c)
        sub.foreach { v =>
          var best = 0; var bestD = Long.MaxValue
          var j = 0
          while (j < c) {
            val d = l2(v, cb(j))
            if (d < bestD) { bestD = d; best = j }
            j += 1
          }
          counts(best) += 1
          var i = 0
          while (i < sd) { sums(best)(i) += v(i); i += 1 }
        }
        cb = Array.tabulate(c) { j =>
          if (counts(j) == 0) cb(j)
          else Array.tabulate(sd)(i =>
            math.round(sums(j)(i).toDouble / counts(j)))
        }
        it += 1
      }
      cb
    }
  }

  /** The per-subspace code assignments of `pqTopK`, exposed long-form
    * `(vec_id, subspace, code)` for external-oracle materialization
    * (the ivfCells pattern): given the same codebooks, these and the
    * codes inside pqTopK are the same deterministic expression.
    */
  def pqCodes(df: DataFrame, idCol: String, vecCol: String,
              codebooks: Array[Array[Array[Long]]]): DataFrame =
    df.select(col(idCol).as("vec_id"),
        posexplode(GraftFunctions.pqEncode(
          Dedup.quantize(col(vecCol)), codebooks))
          .as(Seq("subspace", "code")))
      .select(col("vec_id"), col("subspace").cast(LongType).as("subspace"),
        col("code").cast(LongType).as("code"))

  /** The codebooks themselves as a DataFrame `(subspace, code,
    * sub_off, centroid, cnorm)` — materialized beside the codes so an
    * external oracle can replay the exact ADC arithmetic.
    */
  def pqCodebookTable(spark: org.apache.spark.sql.SparkSession,
                      codebooks: Array[Array[Array[Long]]]): DataFrame = {
    import spark.implicits._
    val offs = graft.functions.PqCodebooks.offsets(codebooks)
    codebooks.zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (ct, code) =>
        (s.toLong, code.toLong, offs(s).toLong, ct.toSeq,
          ct.map(x => x * x).sum)
      }
    }.toSeq.toDF("subspace", "code", "sub_off", "centroid", "cnorm")
  }

  /** N3 compressed-scan path — PQ top-k with asymmetric distance
    * computation and exact rerank: the corpus is scanned as `m` small
    * integer codes per row (64-dim float vector → 16 one-byte codes =
    * 16× smaller than the raw vector, the reason PQ exists at
    * 100 TB); candidates rank by the reconstructed cosine
    * adc / sqrt(nn_recon · nn_q) — every term an exact int64 (PqAdcDot
    * / PqReconNorm lookups), so candidate selection is deterministic —
    * and the top `k·rerankFactor` per query are then re-scored against
    * their EXACT vectors (a second, id-bounded fetch: candidates
    * broadcast, corpus joined by id) to produce the final top-k.
    *
    * Plan shape at scale: one codes scan (narrow columns) against
    * broadcast queries, a per-query bounded candidate window, and an
    * exact-fetch join whose probe side is |Q|·R rows. The queries
    * multiply the scan only through the broadcast, never a shuffle of
    * the corpus.
    */
  def pqTopK(codebooks: Array[Array[Array[Long]]], emb: DataFrame,
             queries: DataFrame, idCol: String, vecCol: String,
             k: Int = 5, rerankFactor: Int = 4): DataFrame = {
    val corpus = emb.select(col(idCol).as("neighbor_id"),
      Dedup.quantize(col(vecCol)).as("q_n"))
    val codes = corpus
      .select(col("neighbor_id"),
        GraftFunctions.pqEncode(col("q_n"), codebooks).as("codes"))
      .withColumn("nn_r", GraftFunctions.pqReconNorm(col("codes"), codebooks))
      .withColumn("__jk", pmod(xxhash64(col("neighbor_id")), lit(1L)))
    val qs = capped(queries.select(col(idCol).as("query_id"),
      Dedup.quantize(col(vecCol)).as("q_q")),
      "query_id", MaxBroadcastQueries)
      .withColumn("nn_q", Dedup.qdot(col("q_q"), col("q_q")))
      .withColumn("__jk", pmod(xxhash64(col("query_id")), lit(1L)))
    val recon = codes.join(broadcast(qs), Seq("__jk")).drop("__jk")
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("recon_cos",
        GraftFunctions.pqAdcDot(col("codes"), col("q_q"), codebooks)
          .cast(DoubleType) /
          sqrt(col("nn_r").cast(DoubleType) * col("nn_q").cast(DoubleType)))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("recon_cos").desc, col("neighbor_id").asc)
    val cand = recon.withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= k * rerankFactor)
      .select(col("query_id"), col("neighbor_id"), col("q_q"), col("nn_q"))
    rerankExact(corpus, cand, k)
  }

  /** Shared exact-rerank tail of the compressed ANN paths: fetch the
    * full vectors of the `(query, neighbor)` candidates (candidates
    * broadcast — |Q|·R rows — corpus joined by id) and re-rank by the
    * exact quantized cosine to the final top-k.
    */
  private def rerankExact(corpus: DataFrame, cand: DataFrame,
                          k: Int): DataFrame = {
    val exact = corpus
      .withColumn("nn_n", Dedup.qdot(col("q_n"), col("q_n")))
      .join(broadcast(cand), Seq("neighbor_id"))
      .withColumn("cosine",
        Dedup.qdot(col("q_n"), col("q_q")).cast(DoubleType) /
          sqrt(col("nn_n").cast(DoubleType) * col("nn_q").cast(DoubleType)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    exact.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"),
        col("rnk").cast(LongType).as("rnk"), col("cosine"))
  }

  /** N3 — the full FAISS "IVFADC" composition: IVF cells prune the
    * candidate space (each corpus vector posts into `nAssign` cells,
    * each query probes its `nProbe` nearest — candidate cost is the
    * probed fraction of the corpus, not all of it), PQ codes score
    * the survivors by reconstructed cosine WITHOUT touching full
    * vectors, and the exact rerank re-scores only the per-query
    * top `k·rerankFactor`. At 100 TB this is the index layout that
    * makes ANN feasible at all: the partition key is the cell, the
    * scanned payload is 16 bytes of codes, and full vectors are
    * fetched for a bounded candidate set.
    *
    * Every stage is the same deterministic integer arithmetic as its
    * standalone parent (ivfTopKWith / pqTopK), so the composition is
    * oracle-checkable end-to-end from materialized cells + codes.
    */
  def ivfPqTopK(centroids: Array[Array[Long]],
                codebooks: Array[Array[Array[Long]]],
                emb: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int = 5,
                nProbe: Int = 12, nAssign: Int = 2,
                rerankFactor: Int = 10): DataFrame = {
    val corpus = emb.select(col(idCol).as("neighbor_id"),
      Dedup.quantize(col(vecCol)).as("q_n"))
    val codes = corpus
      .withColumn("codes", GraftFunctions.pqEncode(col("q_n"), codebooks))
      .withColumn("nn_r", GraftFunctions.pqReconNorm(col("codes"), codebooks))
      .withColumn("cell", explode(GraftFunctions.nearestCentroids(
        col("q_n"), centroids, nAssign)))
      .select(col("neighbor_id"), col("codes"), col("nn_r"), col("cell"))
    val qsFlat = capped(queries.select(col(idCol).as("query_id"),
      Dedup.quantize(col(vecCol)).as("q_q")),
      "query_id", MaxBroadcastQueries)
      .withColumn("nn_q", Dedup.qdot(col("q_q"), col("q_q")))
    val qs = qsFlat.withColumn("cell", explode(
      GraftFunctions.nearestCentroids(col("q_q"), centroids, nProbe)))
    // score-then-dedupe on scalars + broadcast re-attach of the query
    // vector for the exact rerank (see ivfPqProbeIndex)
    val recon = codes.join(broadcast(qs), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("recon_cos",
        GraftFunctions.pqAdcDot(col("codes"), col("q_q"), codebooks)
          .cast(DoubleType) /
          sqrt(col("nn_r").cast(DoubleType) * col("nn_q").cast(DoubleType)))
      .select("query_id", "neighbor_id", "recon_cos")
      .dropDuplicates("query_id", "neighbor_id")
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("recon_cos").desc, col("neighbor_id").asc)
    val cand = recon.withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= k * rerankFactor)
      .join(broadcast(qsFlat), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("q_q"), col("nn_q"))
    rerankExact(corpus, cand, k)
  }

  /** N3 — deterministic JL compression of the embedding corpus: each
    * quantized vector maps to `outDim` exact-int64 components under
    * the hash-derived ±1 matrix (RademacherProject). Long-form output
    * (vec_id, out_dim, value) — no array re-assembly, no row-order
    * sensitivity. Pure map, zero shuffle; the standard pre-pass that
    * cuts LSH/dedup/clustering cost by inDim/outDim at 100 TB while
    * preserving pairwise geometry within the JL bound.
    */
  def randomProject(emb: DataFrame, idCol: String, vecCol: String,
                    outDim: Int, inDim: Int): DataFrame =
    emb.select(col(idCol).as("vec_id"),
        posexplode(GraftFunctions.rademacherProject(
          Dedup.quantize(col(vecCol)), outDim, inDim))
          .as(Seq("out_dim", "value")))
      .select(col("vec_id"), col("out_dim").cast(LongType).as("out_dim"),
        col("value"))

  /** N3 — per-label centroid summary of the embedding corpus (class
    * prototypes: nearest-centroid classifier init, drift monitoring,
    * per-class norm stats). One narrow shuffle on (label, dim) after a
    * posexplode of the quantized vector; sums are exact int64, the
    * mean is the single correctly-rounded division the oracle
    * replicates. Output long-form (label, dim, n_vecs, sum_q, mean_q)
    * — no array re-assembly, so no row-order sensitivity anywhere.
    */
  def labelCentroids(emb: DataFrame, labelCol: String,
                     vecCol: String): DataFrame =
    emb.select(col(labelCol).as("label"),
        posexplode(Dedup.quantize(col(vecCol))).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim").cast(LongType).as("dim"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("v")).as("sum_q"))
      .withColumn("mean_q",
        col("sum_q").cast(DoubleType) / col("n_vecs").cast(DoubleType))

  /** The single-nearest-cell assignment used by `semanticDedup`,
    * exposed as `(vec_id, cell)` so the assignments can be
    * materialized for the external exact oracle (the ivfCells
    * pattern): given the same centroids, this and the assignment
    * inside semanticDedup are the same deterministic expression.
    */
  def semanticCells(emb: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Long]]): DataFrame =
    emb.select(col(idCol).as("vec_id"),
      GraftFunctions.nearestCentroids(
        Dedup.quantize(col(vecCol)), centroids, 1)(0)
        .cast(LongType).as("cell"))

  /** N2/N3 — SemDeDup-style semantic deduplication (Abbas et al.,
    * arXiv:2303.09540): cluster the embedding corpus with the coarse
    * k-means quantizer, then compare pairs WITHIN a cluster only and
    * drop any vector that has a smaller-id neighbor at cosine ≥ tau.
    * Unlike `embeddingPairs` (hyperplane-LSH candidates, a recall
    * trade tuned for high thresholds), the cell partition adapts to
    * the data distribution, so it stays effective at the moderate
    * thresholds (~0.3) where semantic near-dups of this fixture live
    * and where sign-LSH recall collapses (measured in LshRecallSpec).
    *
    * Scale shape: one shuffle on the cell key; pair cost is bounded by
    * Σ|cell|², controlled by nCentroids (SemDeDup practice: k grows
    * with corpus so E|cell| stays ~10³-10⁴). The keep verdict is the
    * deterministic min-id greedy — a pure aggregation over the pair
    * set, no iteration.
    *
    * Output: (vec_id, cell, n_similar, dup_of, keep) — dup_of is the
    * smallest-id suppressor, null for kept vectors.
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Long]],
                    tau: Double): DataFrame = {
    val assigned = Parallelism.floor(emb)
      .select(col(idCol).as("vec_id"),
        Dedup.quantize(col(vecCol)).as("q"))
      .withColumn("cell", GraftFunctions.nearestCentroids(
        col("q"), centroids, 1)(0).cast(LongType))
      .withColumn("nn", Dedup.qdot(col("q"), col("q")))
    val a = assigned.select(col("vec_id").as("id_a"), col("cell"),
      col("q").as("q_a"), col("nn").as("nn_a"))
    val b = assigned.select(col("vec_id").as("id_b"), col("cell"),
      col("q").as("q_b"), col("nn").as("nn_b"))
    val sup = a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(Dedup.qdot(col("q_a"), col("q_b")).cast(DoubleType) /
        sqrt(col("nn_a").cast(DoubleType) * col("nn_b").cast(DoubleType))
        >= tau)
      .groupBy(col("id_b").as("vec_id"))
      .agg(count(lit(1)).as("n_similar"), min(col("id_a")).as("dup_of"))
    assigned.select("vec_id", "cell").join(sup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_similar"), lit(0L)).as("n_similar"),
        col("dup_of"),
        col("n_similar").isNull.as("keep"))
  }

  /** Packed sign-bit signatures for binary quantization: nBits
    * hyperplane signs (the SAME deterministic family as lshTopK /
    * embedding LSH — SigKernels.hyperplaneWeights) packed into
    * nBits/64 long columns s0..s{w-1}. Pure function of the vector:
    * replayable by the oracle from a materialized copy.
    */
  def bqSignatures(df: DataFrame, idCol: String, vecCol: String,
                   nBits: Int): DataFrame = {
    require(nBits % 64 == 0, s"nBits must pack whole longs, got $nBits")
    val words = nBits / 64
    df.select(col(idCol).as("vec_id"),
        GraftFunctions.hyperplaneBands(
          Dedup.quantize(col(vecCol)), words, 64).as("__sig"))
      .select(col("vec_id") +:
        (0 until words).map(i =>
          element_at(col("__sig"), i + 1).as(s"s$i")): _*)
  }

  /** Per-dimension symmetric scales for SQ8: corpus max-abs of each
    * milli-quantized dimension (floored at 1). ONE aggregate pass —
    * at 100 TB a map-side max-reduce, no vector shuffle; the result
    * (dim longs) is a plan-time constant like the IVF centroids.
    */
  def sq8Calibrate(df: DataFrame, vecCol: String, dim: Int): Array[Long] = {
    val q = df.select(Dedup.quantize(col(vecCol)).as("__q"))
    val row = q.agg(
      greatest(max(abs(element_at(col("__q"), 1))), lit(1L)).as("m0"),
      (1 until dim).map(i =>
        greatest(max(abs(element_at(col("__q"), i + 1))), lit(1L))
          .as(s"m$i")): _*).collect().head
    Array.tabulate(dim)(row.getLong)
  }

  /** SQ8 code vectors (one signed byte per dimension, carried as
    * int64 for arithmetic): pure function of (vector, scales) —
    * replayable by the oracle from a materialized copy.
    */
  def sq8Codes(df: DataFrame, idCol: String, vecCol: String,
               maxs: Array[Long]): DataFrame =
    df.select(col(idCol).as("vec_id"),
      graft.functions.GraftFunctions.sq8Encode(
        Dedup.quantize(col(vecCol)), maxs).as("codes"))

  /** N3 compressed-scan path — scalar-quantization (SQ8) top-k: the
    * candidate stage scans ONLY the code vectors (1 byte/dim at rest —
    * 8× vs float32, the FAISS SQ8 trade), scoring candidates by the
    * exact integer scaled dot Σ a_d·b_d·m_d² (ScaledDot kernel, one
    * codegen loop per pair) — keeping the rerankFactor·k best
    * (tie-break neighbor_id) through the bounded-heap GroupedTopK,
    * then exact quantized-cosine rerank by id. Near-lossless for
    * near-isotropic embeddings (recall@5 = 1.0 on the fixture gate —
    * sq8_recall), vs BQ's 0.97 at the same 8× compression: SQ8 keeps
    * magnitudes where BQ keeps only signs. Deterministic end to end →
    * full DuckDB oracle over materialized codes + scales (pq_topk
    * pattern).
    *
    * At 100 TB: the code table (id + dim bytes) is what scans; queries
    * broadcast; the rerank joins |Q|·rerankFactor·k candidate rows
    * back to full vectors by id — the wide embedding column is never
    * scanned twice.
    */
  def sq8TopK(emb: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, maxs: Array[Long], k: Int = 5,
              rerankFactor: Int = 20): DataFrame = {
    // single-bucket equi key (not a constant: a lit would fold to a
    // nested-loop cross join) — the bqTopK broadcast-join shape
    val csig = sq8Codes(emb, idCol, vecCol, maxs)
      .withColumnRenamed("vec_id", "neighbor_id")
      .withColumn("__jk", pmod(xxhash64(col("neighbor_id")), lit(1L)))
    val qsig = capped(sq8Codes(queries, idCol, vecCol, maxs)
      .select(col("vec_id").as("query_id"), col("codes").as("qcodes")),
      "query_id", MaxBroadcastQueries)
      .withColumn("__jk", pmod(xxhash64(col("query_id")), lit(1L)))
    val cand = graft.plans.GroupedTopK(
      csig.join(broadcast(qsig), Seq("__jk")).drop("__jk")
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("approx", graft.functions.GraftFunctions
          .scaledDot(col("codes"), col("qcodes"), maxs))
        .select("query_id", "neighbor_id", "approx"),
      Seq("query_id"), Seq("approx" -> false, "neighbor_id" -> true),
      k * rerankFactor, "crk")
      .select("query_id", "neighbor_id")
    val n = emb.select(col(idCol).as("neighbor_id"),
        Dedup.quantize(col(vecCol)).as("q_n"))
      .withColumn("nn_n", Dedup.qdot(col("q_n"), col("q_n")))
    val q = capped(queries.select(col(idCol).as("query_id"),
        Dedup.quantize(col(vecCol)).as("q_q")),
      "query_id", MaxBroadcastQueries)
      .withColumn("nn_q", Dedup.qdot(col("q_q"), col("q_q")))
    val scored = cand.join(n, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine",
        Dedup.qdot(col("q_n"), col("q_q")).cast(DoubleType) /
          sqrt(col("nn_n").cast(DoubleType) * col("nn_q").cast(DoubleType)))
    graft.plans.GroupedTopK(scored, Seq("query_id"),
      Seq("cosine" -> false, "neighbor_id" -> true), k, "rnk")
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        col("cosine"))
  }

  /** N3 — binary-quantization (BQ) top-k: the compressed-scan path.
    * The candidate stage touches ONLY the packed signatures — per
    * query, hamming distance is w XOR+popcount word ops
    * (`bit_count(sN ^ tN)`, whole-stage codegen, 32 bytes/vector at
    * nBits=256 vs 256 bytes of float32 — 8×; 128 bits measured
    * recall .76 on the near-isotropic fixture, 256 → .97) — keeping the
    * rerankFactor·k hamming-nearest (tie-break neighbor_id) through
    * the bounded-heap GroupedTopK. The exact quantized-cosine rerank
    * then joins just the candidates back to the full vectors by id.
    * sign(w·q) preserves angle locality (Goemans–Williamson / random
    * hyperplane rounding — the same property lshTopK buckets exploit;
    * PAPERS.md random-projection LSH), so hamming on signatures is a
    * monotone-ish proxy for cosine and the deep candidate window
    * recovers what the proxy misorders. Deterministic end to end →
    * full DuckDB oracle over materialized signatures (pq_topk
    * pattern); recall gated in-plan by `bq_recall`.
    *
    * At 100 TB: the signature table (id + w longs) is what scans;
    * queries broadcast; the rerank's corpus join is an equi hash join
    * on id over |Q|·rerankFactor·k rows — the wide embedding column
    * is never scanned twice.
    */
  def bqTopK(emb: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int = 5, nBits: Int = 256,
             rerankFactor: Int = 20): DataFrame = {
    val words = nBits / 64
    val csig = bqSignatures(emb, idCol, vecCol, nBits)
      .withColumnRenamed("vec_id", "neighbor_id")
      .withColumn("__jk", pmod(xxhash64(col("neighbor_id")), lit(1L)))
    val qsig = capped(bqSignatures(queries, idCol, vecCol, nBits)
      .select(col("vec_id").as("query_id") +:
        (0 until words).map(i => col(s"s$i").as(s"t$i")): _*),
      "query_id", MaxBroadcastQueries)
      .withColumn("__jk", pmod(xxhash64(col("query_id")), lit(1L)))
    val ham = (0 until words)
      .map(i => bit_count(col(s"s$i").bitwiseXOR(col(s"t$i"))))
      .reduce(_ + _).cast(LongType)
    val cand = graft.plans.GroupedTopK(
      csig.join(broadcast(qsig), Seq("__jk")).drop("__jk")
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("ham", ham)
        .select("query_id", "neighbor_id", "ham"),
      Seq("query_id"), Seq("ham" -> true, "neighbor_id" -> true),
      k * rerankFactor, "crk")
      .select("query_id", "neighbor_id")
    val n = emb.select(col(idCol).as("neighbor_id"),
        Dedup.quantize(col(vecCol)).as("q_n"))
      .withColumn("nn_n", Dedup.qdot(col("q_n"), col("q_n")))
    val q = capped(queries.select(col(idCol).as("query_id"),
        Dedup.quantize(col(vecCol)).as("q_q")),
      "query_id", MaxBroadcastQueries)
      .withColumn("nn_q", Dedup.qdot(col("q_q"), col("q_q")))
    val scored = cand.join(n, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine",
        Dedup.qdot(col("q_n"), col("q_q")).cast(DoubleType) /
          sqrt(col("nn_n").cast(DoubleType) * col("nn_q").cast(DoubleType)))
    graft.plans.GroupedTopK(scored, Seq("query_id"),
      Seq("cosine" -> false, "neighbor_id" -> true), k, "rnk")
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        col("cosine"))
  }

  /** Margin-based bitext/pair mining (the CCMatrix/LASER recipe,
    * Artetxe & Schwenk margin scoring): mine the best cross-group
    * match per anchor, scored not by raw cosine but by the RATIO of
    * the pair's cosine to the mean of both endpoints' k-NN
    * neighborhoods — raw cosine over-selects "hub" vectors that are
    * close to everything; the margin normalizes each side by how
    * promiscuous it is. margin(x,y) = 2·cos(x,y) / (penₖ(x) + penₖ(y))
    * with penₖ(v) = mean of v's top-k cross-group cosines.
    *
    * Determinism discipline: cosines are exact-integer-derived
    * (milli-quantized dots), and each penalty mean folds its top-k
    * scores in rank order via `aggregate(sort_array(...))` — a fixed
    * IEEE summation order, so margins are bit-identical across
    * partitionings and engines (the DuckDB oracle folds the same
    * ordered list with `list_reduce`).
    *
    * BOUNDED-ANCHOR CONTRACT (r14 — replaces the r13 all-pairs form,
    * whose constant-key broadcast join was a disguised cartesian:
    * Θ(n²) pair mass measured at 45×/decade at sf10, plus a driver
    * broadcast of one ENTIRE label side). The anchor side is the
    * `maxAnchors` smallest-id label-A vectors (TakeOrderedAndProject,
    * never a full sort) and is the ONLY broadcast side; label-B
    * candidates stream once, so the pair stage is |anchors|·n_B —
    * linear per data decade. Both penalty means are computed within
    * the mined batch's pair set (pen_x over the anchor's full
    * candidate neighborhood, pen_y over the candidate's cosines TO
    * the anchor batch — exactly the numbers a per-batch CCMatrix
    * shard sees). Production mines a large anchor set as successive
    * bounded batches, or composes an N3 candidate generator
    * (IVF/LSH) in front — the margin math is unchanged. The anchor
    * limit doubles as the machine-checkable boundedness declaration
    * [[graft.plans.PlanChecks]] keys on.
    */
  def marginMine(emb: DataFrame, idCol: String, vecCol: String,
                 labelCol: String, labelA: Int, labelB: Int,
                 k: Int = 4, maxAnchors: Int = 1024): DataFrame = {
    val x = emb.filter(col(labelCol) === labelA)
      .select(col(idCol).as("x_id"), Dedup.quantize(col(vecCol)).as("q_x"))
      .orderBy(col("x_id")).limit(maxAnchors)
      .withColumn("nn_x", Dedup.qdot(col("q_x"), col("q_x")))
      .withColumn("__jk", pmod(xxhash64(col("x_id")), lit(1L)))
    val y = emb.filter(col(labelCol) === labelB)
      .select(col(idCol).as("y_id"), Dedup.quantize(col(vecCol)).as("q_y"))
      .withColumn("nn_y", Dedup.qdot(col("q_y"), col("q_y")))
      .withColumn("__jk", pmod(xxhash64(col("y_id")), lit(1L)))
    // candidates STREAM; only the bounded anchor batch broadcasts
    val pairs = y.join(broadcast(x), Seq("__jk")).drop("__jk")
      .withColumn("cosine",
        Dedup.qdot(col("q_x"), col("q_y")).cast(DoubleType) /
          sqrt(col("nn_x").cast(DoubleType) * col("nn_y").cast(DoubleType)))
      .select("x_id", "y_id", "cosine")

    def penalty(keyCol: String, otherCol: String, out: String) = {
      val ranked = graft.plans.GroupedTopK(pairs, Seq(keyCol),
        Seq("cosine" -> false, otherCol -> true), k, "rnk")
      ranked.groupBy(keyCol).agg(
        (aggregate(
          sort_array(collect_list(struct(col("rnk"), col("cosine")))),
          lit(0.0),
          (acc, s) => acc + s.getField("cosine")) / k).as(out))
    }
    val px = penalty("x_id", "y_id", "pen_x")
    val py = penalty("y_id", "x_id", "pen_y")

    val scored = pairs
      // px is ≤ maxAnchors rows — broadcast by declaration; py is one
      // row per STREAMED candidate (unbounded), so no broadcast hint:
      // AQE picks broadcast at small scale, shuffle join beyond it
      .join(broadcast(px), Seq("x_id"))
      .join(py, Seq("y_id"))
      .withColumn("margin",
        col("cosine") * lit(2.0) / (col("pen_x") + col("pen_y")))
    graft.plans.GroupedTopK(scored, Seq("x_id"),
      Seq("margin" -> false, "y_id" -> true), 1, "mrk")
      .select(col("x_id"), col("y_id"), col("cosine"), col("margin"))
  }

  /** Embedding-space health monitor: pairwise cosine between
    * per-group CENTROIDS (e.g. per corpus source) — collapsed
    * representation shows up as cross-group cosines drifting toward
    * 1, and a day-over-day run of the same op is the embedding-drift
    * gate of a training pipeline.
    *
    * cos(mean_a, mean_b) = cos(sum_a, sum_b) — scale invariance drops
    * the 1/n division, so the whole chain to the final cosine is
    * exact integer arithmetic on milli-quantized components
    * ([[Dedup.quantize]]): per-(group, dim) BIGINT sums (one shuffle
    * of groups×dim rows after map-side combine — the raw vectors
    * never shuffle), then group-pair dots over the TINY sums frame.
    * The cosine itself is three correctly-rounded IEEE ops on exact
    * integers — bit-identical cross-engine. Envelope: the dot is
    * bounded by dim·(n·|q|max)² — BIGINT-safe through ~1e6 rows/group
    * at dim 64, |q|max 2000; past that, widen the sums to
    * DECIMAL(38,0) before the pair join.
    */
  def centroidSeparation(vectors: DataFrame, idCol: String,
                         vecCol: String, labels: DataFrame,
                         labelIdCol: String,
                         groupCol: String): DataFrame = {
    val q = vectors
      .join(labels.select(col(labelIdCol).as("__lid"),
          col(groupCol).as("grp")),
        col(idCol) === col("__lid"))
      .select(col("grp"), Dedup.quantize(col(vecCol)).as("qv"))
    val sums = q
      .select(col("grp"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy(col("grp"), col("pos")).agg(sum(col("v")).as("sv"))
    val counts = q.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    val norms = sums.groupBy(col("grp"))
      .agg(sum(col("sv") * col("sv")).as("nn"))
    val a = sums.select(col("grp").as("src_a"), col("pos"),
      col("sv").as("sa"))
    val b = sums.select(col("grp").as("src_b"), col("pos"),
      col("sv").as("sb"))
    a.join(b, Seq("pos")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(col("sa") * col("sb")).as("dot"))
      .join(broadcast(counts.select(col("grp").as("src_a"),
        col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(counts.select(col("grp").as("src_b"),
        col("n").as("n_b"))), Seq("src_b"))
      .join(broadcast(norms.select(col("grp").as("src_a"),
        col("nn").as("nn_a"))), Seq("src_a"))
      .join(broadcast(norms.select(col("grp").as("src_b"),
        col("nn").as("nn_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("dot"),
        (col("dot").cast(DoubleType) /
          (sqrt(col("nn_a").cast(DoubleType)) *
            sqrt(col("nn_b").cast(DoubleType)))).as("cos"))
  }

  /** Top principal component by power iteration on the exact integer
    * Gram matrix — the PCA primitive next to [[randomProject]]'s
    * oblivious sketch: the data-adaptive axis (dominant eigenvector
    * of XᵀX) that drives whitening, dimensionality diagnostics, and
    * the "is this embedding space collapsing" health check.
    *
    * Distribution/exactness split: the DATA-sized work is one pass —
    * milli-quantized vectors (Dedup.quantize) explode to (i, j, qᵢ·qⱼ)
    * cells with j ≥ i and hash-aggregate to the d(d+1)/2 upper
    * triangle of G = QᵀQ, EXACT integer sums that commute under any
    * partitioning. Only the d×d Gram (d² longs — a plan-time-constant
    * artifact like the IVF codebooks, NOT data-sized) comes to the
    * driver, where `iters` rounds of power iteration run in doubles
    * with ONE written-down op order: mᵢ = Σⱼ G(i,j)·v(j) ascending j,
    * norm² = Σ mᵢ² ascending i, v′ = m/√norm², seed v₀ = e₀; finally
    * λ = Σᵢ v(i)·(Gv)(i). The oracle replays the same chain on the
    * same integers, so loadings and eigenvalue hash-compare bitwise.
    * Output: one row per dimension (i, loading, eigval).
    *
    * 100 TB shape: the explode is d²/2 cells per row map-side-combined
    * before one shuffle of at most (partitions·d²/2) partial cells;
    * nothing driver-side scales with row count. Convergence: fixed
    * `iters` (like pageRank/kCore's bounded rounds) — deterministic
    * artifact over converged-ness, and 8 rounds separate any
    * non-degenerate top eigenpair of a real Gram far beyond double
    * resolution of the released loadings' use.
    */
  def pcaTopComponent(vectors: DataFrame, vecCol: String,
                      iters: Int = 8): DataFrame = {
    val q = vectors.select(Dedup.quantize(col(vecCol)).as("q"))
    val upper = q
      .select(col("q"), posexplode(col("q")).as(Seq("i", "qi")))
      .select(col("i"), col("qi"),
        posexplode(col("q")).as(Seq("j", "qj")))
      .where(col("j") >= col("i"))
      .groupBy(col("i"), col("j"))
      .agg(sum(col("qi") * col("qj")).as("g"))
      .collect()
    require(upper.nonEmpty, "pcaTopComponent: empty input")
    val d = upper.iterator.map(_.getInt(1)).max + 1
    val g = Array.ofDim[Long](d, d)
    upper.foreach { r =>
      val (i, j, v) = (r.getInt(0), r.getInt(1), r.getLong(2))
      g(i)(j) = v
      g(j)(i) = v
    }
    def matvec(v: Array[Double]): Array[Double] = {
      val m = new Array[Double](d)
      var i = 0
      while (i < d) {
        var acc = 0.0
        var j = 0
        while (j < d) { acc += g(i)(j).toDouble * v(j); j += 1 }
        m(i) = acc
        i += 1
      }
      m
    }
    var v = Array.tabulate(d)(i => if (i == 0) 1.0 else 0.0)
    (1 to iters).foreach { _ =>
      val m = matvec(v)
      var norm2 = 0.0
      var i = 0
      while (i < d) { norm2 += m(i) * m(i); i += 1 }
      val nrm = math.sqrt(norm2)
      v = m.map(_ / nrm)
    }
    val gv = matvec(v)
    var eig = 0.0
    var i = 0
    while (i < d) { eig += v(i) * gv(i); i += 1 }
    val s = vectors.sparkSession
    s.createDataFrame(
      v.toSeq.zipWithIndex.map { case (l, idx) => (idx.toLong, l, eig) })
      .toDF("i", "loading", "eigval")
  }

  /** Per-label embedding cohesion — mean pairwise inner product of a
    * label's vectors WITHOUT materializing pairs, via the sum-vector
    * identity Σ_{i≠j}⟨vᵢ,vⱼ⟩ = ‖Σv‖² − Σ‖v‖² (the Gram-sum trick;
    * with ~unit embeddings this IS mean pairwise cosine): the
    * within-cluster tightness number next to centroidSeparation's
    * BETWEEN-cluster angle — "is this label a coherent region or a
    * grab bag", the first diagnostic on a labeled embedding dump.
    *
    * Shape: one posexplode to (label, dim) partial sums (O(n·d) rows,
    * ONE shuffle keyed by label·dim), one per-row norm aggregate —
    * never the O(n²) pair frame the naive form needs. Exactness:
    * quantized-integer components (Dedup.quantize), so ‖Σv‖² and
    * Σ‖v‖² are exact DECIMAL(38,0)/BIGINT sums and the mean is ONE
    * division; bit-identical to the oracle by construction.
    */
  def labelCohesion(emb: DataFrame, labelCol: String,
                    vecCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val q = emb.select(col(labelCol).cast(LongType).as("label"),
      Dedup.quantize(col(vecCol)).as("qv"))
    val sums = q
      .select(col("label"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("v")).as("sv"))
      .groupBy(col("label"))
      .agg(sum(col("sv").cast(dec) * col("sv").cast(dec)).as("sum_sq"))
    val norms = q
      .select(col("label"),
        graft.ops.Dedup.qdot(col("qv"), col("qv")).as("nn"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("nn").cast(dec)).as("norm_sq"))
    norms.join(broadcast(sums), "label")
      .where(col("n") > 1L)
      // outputs cast to BIGINT for the cross-engine compare (exact at
      // |qv|≤1000, d=64 up to ~4e5 vectors/label; internal sums ride
      // DECIMAL(38,0) here and HUGEINT in the oracle — sv*sv squares
      // on BIGINT would wrap first, so both engines widen BEFORE
      // squaring and the documented bound is the output cast's)
      .select(col("label"), col("n"),
        (col("sum_sq") - col("norm_sq")).cast(LongType)
          .as("pair_dot_sum"),
        ((col("sum_sq") - col("norm_sq")).cast(DoubleType) /
          (col("n") * (col("n") - 1L)).cast(DoubleType))
          .as("mean_pair_dot"))
  }

  /** Embedding-space drift between two corpus slices (old vs new
    * crawl, model v1 vs v2 re-embed, A/B encoder): cosine between the
    * slice CENTROIDS (cos of sums = cos of means) plus each slice's
    * mean squared norm — the two numbers that catch an encoder
    * version bump or a domain shift before any downstream ANN recall
    * quietly degrades. The cross-slice sibling of
    * [[centroidSeparation]] (which compares LABEL groups within one
    * snapshot).
    *
    * Exactness: quantized-integer per-dim sums (one shuffle keyed by
    * slice·dim), all moments DECIMAL(38,0), one cosine = one division
    * over two IEEE sqrts of exact casts; mean norms one division
    * each. Raw vectors never shuffle — only 2·d sums do.
    */
  def embeddingDrift(emb: DataFrame, vecCol: String,
                     isNew: Column): DataFrame = {
    val dec = DecimalType(38, 0)
    val q = emb.select(when(isNew, 1L).otherwise(0L).as("s"),
      Dedup.quantize(col(vecCol)).as("qv"))
    val sums = q
      .select(col("s"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy(col("s"), col("pos")).agg(sum(col("v")).as("sv"))
    val a = sums.filter(col("s") === 0L)
      .select(col("pos"), col("sv").as("sa"))
    val b = sums.filter(col("s") === 1L)
      .select(col("pos"), col("sv").as("sb"))
    val moms = a.join(b, "pos")
      .agg(sum(col("sa").cast(dec) * col("sb").cast(dec)).as("dot"),
        sum(col("sa").cast(dec) * col("sa").cast(dec)).as("na2"),
        sum(col("sb").cast(dec) * col("sb").cast(dec)).as("nb2"))
      .withColumn("__jk", pmod(xxhash64(col("dot")), lit(1L)))
    val cnt = q.select(col("s"),
        graft.ops.Dedup.qdot(col("qv"), col("qv")).as("nn"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n"), sum(col("nn")).as("norm_sq"))
    // each slice census is the ≤1 row of its group key; limit(1) is a
    // no-op DECLARING that bound (a Filter over a grouped aggregate
    // is structurally opaque to PlanChecks)
    val ca = cnt.filter(col("s") === 0L).limit(1)
      .select(col("n").as("n_a"), col("norm_sq").as("ns_a"))
      .withColumn("__jk", pmod(xxhash64(col("n_a")), lit(1L)))
    val cb = cnt.filter(col("s") === 1L).limit(1)
      .select(col("n").as("n_b"), col("norm_sq").as("ns_b"))
      .withColumn("__jk", pmod(xxhash64(col("n_b")), lit(1L)))
    moms.join(broadcast(ca), Seq("__jk")).join(broadcast(cb), Seq("__jk"))
      .select(col("n_a"), col("n_b"),
        (col("dot").cast(DoubleType) /
          (sqrt(col("na2").cast(DoubleType)) *
            sqrt(col("nb2").cast(DoubleType)))).as("cos_centroids"),
        (col("ns_a").cast(DoubleType) / col("n_a").cast(DoubleType))
          .as("mean_norm_sq_a"),
        (col("ns_b").cast(DoubleType) / col("n_b").cast(DoubleType))
          .as("mean_norm_sq_b"))
  }
}
