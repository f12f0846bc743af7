package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Dedup.componentMin semantics: bounded-iteration min propagation —
  * cliques collapse fully, chains collapse within the iteration
  * radius, singletons stay themselves (matching the generated oracle,
  * which replays the same round count).
  */
class DedupComponentsSpec extends SparkSuite {

  private def run(n: Long, edges: Seq[(Long, Long)], iters: Int) = {
    val s = spark
    import s.implicits._
    val ids = (0L until n).toDF("id")
    val pairs = edges.toDF("doc_a", "doc_b")
    Dedup.componentMin(ids, pairs, iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("clique collapses to its min id in one round") {
    val comp = run(5, Seq((1L, 2L), (1L, 3L), (2L, 3L)), iters = 1)
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(0L) == 0L && comp(4L) == 4L, "singletons untouched")
  }

  test("a chain collapses fully within the iteration radius") {
    // path 0-1-2-3-4-5-6-7: min label must travel 7 hops; each round
    // moves it one hop, so 7 rounds are needed
    val chain = (0L until 7L).map(i => (i, i + 1))
    val full = run(8, chain, iters = 7)
    assert(full.values.forall(_ == 0L), s"got $full")
    // with fewer rounds the far end has not converged yet — the
    // DOCUMENTED bounded-iteration semantics the oracle mirrors
    val partial = run(8, chain, iters = 3)
    assert(partial(3L) == 0L && partial(7L) != 0L, s"got $partial")
  }

  test("debug universe check fails loudly on an edge endpoint outside " +
    "the id universe (the documented endpoints ⊆ ids precondition)") {
    System.setProperty("graft.componentMin.checkUniverse", "true")
    try {
      // in-universe edges still pass under the check
      val ok = run(3, Seq((0L, 1L)), iters = 1)
      assert(ok(0L) == 0L && ok(1L) == 0L && ok(2L) == 2L)
      // endpoint 9 is outside ids(0..2): must throw, not mislabel
      val e = intercept[Exception] { run(3, Seq((1L, 9L)), iters = 1) }
      assert(e.getMessage.contains("id universe"), e.getMessage)
    } finally System.clearProperty("graft.componentMin.checkUniverse")
  }

  test("dedupCorpus keeps exactly one representative per duplicate set") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again today"),
      (11L, "the quick brown fox jumps over the lazy dog again today"),
      (12L, "the quick brown fox jumps over the lazy dog again tonight"),
      (20L, "completely unrelated text about spark structured streaming"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupCorpus(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byDoc = out.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byDoc(10L) == ((10L, true)))
    assert(byDoc(11L) == ((10L, false)), "near-identical doc collapses")
    assert(byDoc(12L)._1 == 10L, "transitively similar doc joins cluster")
    assert(byDoc(20L) == ((20L, true)), "unrelated doc is its own rep")
  }

  test("hot-bucket cap bounds pair generation; exact dedup still catches " +
    "the capped cluster") {
    val s = spark
    import s.implicits._
    // 60 byte-identical docs (a degenerate boilerplate cluster: every
    // band bucket holds all 60) + 2 genuine near-dups + singletons
    val boiler = (0L until 60L).map(i => (i, "alpha beta gamma delta " +
      "epsilon zeta eta theta iota kappa"))
    val pairDocs = Seq(
      (100L, "one two three four five six seven eight nine ten"),
      (101L, "one two three four five six seven eight nine eleven"),
      (200L, "completely different words that match nothing else here"))
    val docs = (boiler ++ pairDocs).toDF("doc_id", "text")
    // capped below the cluster size: the 60-doc bucket is excluded,
    // bounding the unfold, while the small bucket still pairs up
    val capped = Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5, maxBucket = 32)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.forall { case (a, b) => a >= 100L && b >= 100L },
      s"boilerplate cluster must be capped out, got ${capped.take(5).toSeq}")
    assert(capped.contains((100L, 101L)), "real near-dup pair must survive")
    // the capped cluster is byte-identical, so the exact-dedup pass
    // (content fingerprint) catches all 60 as one group
    val exact = Dedup.exactByKey(docs, Seq("text"), "doc_id")
      .filter(col("n_dups") === 60).count()
    assert(exact === 1L)
    // and with the default cap the same input is uncapped (bucket 60
    // <= 4096): all boilerplate pairs reappear
    val uncapped = Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5)
      .filter(col("doc_a") < 60 && col("doc_b") < 60).count()
    assert(uncapped === 60L * 59L / 2L)
  }

  test("incrementalDedup: batch docs get a verdict against the corpus " +
    "index, never against each other") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "an entirely different document about structured streaming"),
      (3L, "the quick brown fox jumps over the lazy dog again tonight"))
      .toDF("doc_id", "text")
    val batch = Seq(
      // near-dup of corpus docs 1 and 3 → duplicate, best = highest
      // jaccard (doc 1 differs by one word vs doc 10's text)
      (10L, "the quick brown fox jumps over the lazy dog again today"),
      // novel text → keep
      (11L, "completely novel content that matches no corpus entry"),
      // two identical batch docs: both keep — in-batch duplicates are
      // NOT each other's matches (that's the follow-up dedupCorpus)
      (12L, "fresh unseen words for the incremental batch verdict"),
      (13L, "fresh unseen words for the incremental batch verdict"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(corpus, batch, "doc_id", "text",
        threshold = 0.5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), if (r.isNullAt(2)) -1L
        else r.getLong(2), r.getBoolean(4)))).toMap
    assert(out(10L)._1 == 2L, s"doc 10 matches corpus 1 and 3: $out")
    assert(out(10L)._2 == 1L, "best match is the exact-text corpus doc")
    assert(!out(10L)._3, "duplicate → not kept")
    assert(out(11L) == ((0L, -1L, true)), "novel doc keeps, null match")
    assert(out(12L) == ((0L, -1L, true)) && out(13L) == ((0L, -1L, true)),
      "in-batch twins both keep against the corpus")
  }

  test("incrementalDedup: hot corpus buckets are excluded at index " +
    "build; exact matches to the hot cluster still verdict via other " +
    "bands") {
    val s = spark
    import s.implicits._
    // 50 identical corpus docs form a hot bucket in every band
    val boiler = (0L until 50L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val corpus = (boiler :+
      ((100L, "one two three four five six seven eight nine ten")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (200L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (201L, "one two three four five six seven eight nine eleven"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(corpus, batch, "doc_id", "text",
        threshold = 0.5, maxBucket = 16)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    // doc 200's only candidates sit in capped-out buckets → it KEEPS
    // (the documented recall trade; production pairs this with the
    // exact-fingerprint pass, which catches byte-identical text)
    assert(out(200L), "capped cluster produces no near-dup verdict")
    assert(!out(201L), "cold-bucket near-dup still detected")
  }

  test("incrementalDedup against a PERSISTED band index gives the same " +
    "verdicts as the inline build") {
    val s = spark
    import s.implicits._
    val corpus = (0L until 40L).map(i =>
      (i, s"corpus doc number $i with some shared words and tail_$i"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (100L, "corpus doc number 7 with some shared words and tail_7"),
      (101L, "totally novel payload nothing shared here at all okay"))
      .toDF("doc_id", "text")
    val dir = tmpDir("band_index")
    Dedup.corpusBandIndex(corpus, "doc_id", "text")
      .write.mode("overwrite").partitionBy("band_idx").parquet(dir)
    val persisted = Dedup.incrementalDedupWithIndex(
        s.read.parquet(dir), corpus, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(4)))
      .toSet
    val inline = Dedup.incrementalDedup(corpus, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(4)))
      .toSet
    assert(persisted === inline, s"persisted=$persisted inline=$inline")
    assert(persisted.exists { case (id, _, keep) => id == 101L && keep })
    assert(persisted.exists { case (id, _, keep) => id == 100L && !keep })
  }

  test("lshPlan: lowest candidate cost that meets the miss budget") {
    // the r10 sweep point (PERF_NOTES.md): s=0.4 => p = 1 - acos(0.4)/pi
    val p = 1.0 - math.acos(0.4) / math.Pi
    assert(math.abs(p - 0.631) < 1e-3)
    // the documented sweep magnitudes reproduce through the formula
    def miss(r: Int, b: Int) = math.pow(1 - math.pow(p, r), b)
    assert(miss(3, 64) < 1e-8 && miss(3, 64) > 1e-9)
    assert(miss(4, 96) < 1e-7 && miss(4, 96) > 1e-8)
    assert(miss(6, 256) < 1e-7 && miss(6, 256) > 1e-8)

    for (pp <- Seq(0.3, 0.5, 0.6312, 0.8, 0.95);
         budget <- Seq(1e-3, 1e-6, 1e-9)) {
      val plan = Dedup.lshPlan(pp, budget, pLow = 0.5)
      assert(plan.missProb <= budget,
        s"p=$pp budget=$budget -> $plan misses too often")
      assert(plan.signatureWidth <= 2048)
      // brute-force: no in-budget plan has a lower FP factor
      val better = for {
        r <- 1 to 16; b <- 1 to 4096
        if r * b <= 2048 &&
          math.pow(1 - math.pow(pp, r), b) <= budget &&
          b * math.pow(0.5, r) < plan.fpFactor - 1e-12
      } yield (r, b)
      assert(better.isEmpty,
        s"p=$pp budget=$budget: $plan beaten by ${better.take(3)}")
    }
    // embeddingPairs' shipped (6, 256) is this frontier's pick at its
    // miss budget (the planner's minimal b=247 rounds up to the
    // shipped 256 = 6 hashes x 64-band words x 4)
    val shipped = Dedup.lshPlan(p, 1e-7)
    assert(shipped.rowsPerBand == 6 && (shipped.bands max 256) == 256,
      s"got $shipped")
  }
}
