package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** A persisted FULL-TEXT posting store maintained by append-only
  * deltas — [[AnnIndexStore]]'s pattern applied to the BM25 inverted
  * index, so keyword retrieval gets the same serving story as vector
  * retrieval: the corpus is indexed once, each day appends only its
  * delta, and probes read back postings without ever re-tokenizing
  * history.
  *
  *   - `append(docs, seq)` tokenizes the delta and writes its posting
  *     rows (doc_id, term, tf, dl) under `postings/seq=<n>/`
  *     partitioned by a 64-way term-hash bucket — probes for a fixed
  *     term set scan only those terms' buckets — plus the delta's
  *     per-doc stats rows (doc_id, dl) under `docstats/seq=<n>/`
  *     (BM25's corpus-wide N and ΣL must count hit-less documents
  *     too, which postings alone cannot).
  *   - `tombstone(ids, seq)` appends marker rows; deletes never touch
  *     posting files. A re-added doc resurrects (higher seq wins), a
  *     re-indexed doc's old postings lose to its new seq — identical
  *     latest-wins algebra to the ANN store, resolved per doc_id.
  *   - `compact` folds the changelog into one seq and clears
  *     tombstones.
  *
  * Writes are idempotent per seq (overwrite of that seq's directory),
  * so a streaming maintenance loop is exactly-once under micro-batch
  * replay. 100 TB story: a day's delta writes only its own files;
  * resolution joins run against the (broadcast-sized) latest-seq and
  * tombstone frames; probe scans stay bucket-pruned.
  */
object TextIndexStore {

  val NumBuckets = 64

  private def postingsDir(dir: String) = s"$dir/postings"
  private def docstatsDir(dir: String) = s"$dir/docstats"
  private def tombsDir(dir: String) = s"$dir/tombstones"

  private def bucketOf(term: org.apache.spark.sql.Column) =
    pmod(xxhash64(term), lit(NumBuckets.toLong)).cast("int")

  /** Tokenize one delta into posting + docstat rows and append them as
    * `seq=<n>`; idempotent per seq.
    */
  def append(docs: DataFrame, idCol: String, textCol: String,
             dir: String, seq: Long): Unit = {
    val toks = docs.select(col(idCol).cast(LongType).as("doc_id"),
        split(col(textCol), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast(LongType).as("dl"),
        col("toks"))
    toks.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .withColumn("bucket", bucketOf(col("term")))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"${postingsDir(dir)}/seq=$seq")
    toks.select(col("doc_id"), col("dl"))
      .write.mode("overwrite").parquet(s"${docstatsDir(dir)}/seq=$seq")
  }

  /** Append tombstones for `ids` as `seq=<n>`; idempotent per seq. */
  def tombstone(ids: DataFrame, idCol: String, dir: String,
                seq: Long): Unit =
    ids.select(col(idCol).cast(LongType).as("doc_id")).distinct()
      .write.mode("overwrite").parquet(s"${tombsDir(dir)}/seq=$seq")

  /** The live (postings, docstats) pair. Postings are row-equivalent
    * to indexing the current corpus from scratch (asserted by the
    * `text_index_store` rebuild-equivalence oracle).
    */
  def read(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (tombs, nTombSeqs) = SeqDirs.read(spark, tombsDir(dir))
    val (postsRaw, nPostSeqs) = SeqDirs.read(spark, postingsDir(dir))
    val (statsRaw, nStatSeqs) = SeqDirs.read(spark, docstatsDir(dir))
    // compacted fast path: one generation and no tombstones means
    // every row is live BY CONSTRUCTION — the latest-wins join (a
    // full-scan aggregate + broadcast build per frame) would resolve
    // nothing. This is the read a serving tier pays at steady state.
    def resolved(raw: DataFrame, nSeqs: Int): DataFrame =
      if (nSeqs == 1 && nTombSeqs == 0 || raw.isEmpty) raw
      else SeqDirs.latestWins(raw, tombs, "doc_id")
    val posts = resolved(postsRaw, nPostSeqs)
    val stats = resolved(statsRaw, nStatSeqs)
    (if (nPostSeqs == 0 || posts.isEmpty) spark.emptyDataFrame
     else posts.select("doc_id", "term", "tf", "dl", "bucket"),
     if (nStatSeqs == 0 || stats.isEmpty) spark.emptyDataFrame
     else stats.select("doc_id", "dl"))
  }

  /** BM25 top-k over the read-back store for a fixed term set — the
    * serving probe: the posting scan filters to the query terms'
    * hash buckets (partition-pruned), corpus stats are one bounded
    * aggregate over docstats, and the scoring chain is
    * [[graft.ops.Retrieval.bm25TopK]]'s exact rational arithmetic
    * verbatim (same k1 = 6/5, b = 3/4 clearing, same left-to-right
    * association), so the probe hashes equal to a from-scratch BM25
    * of the live corpus.
    */
  def bm25Probe(spark: SparkSession, dir: String, terms: Seq[String],
                k: Int = 10): DataFrame = {
    require(terms.nonEmpty && terms == terms.distinct, "distinct terms")
    val (posts, stats) = read(spark, dir)
    if (posts.isEmpty) {
      // un-appended store: empty result with the probe's schema
      val schema = org.apache.spark.sql.types.StructType(
        Seq(org.apache.spark.sql.types.StructField("doc_id", LongType),
          org.apache.spark.sql.types.StructField("rk", LongType),
          org.apache.spark.sql.types.StructField("score", DoubleType)) ++
        terms.map(t => org.apache.spark.sql.types.StructField(
          s"s_$t", DoubleType)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    val statsRow = stats.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("sum_len")).head()
    val nDocs = lit(statsRow.getLong(0))
    val sumLen = lit(statsRow.getLong(1))
    // bucket predicate over foldable bucketOf(lit(term)) expressions:
    // constant-folds to literals, so the partition column prunes files
    val tf = posts
      .filter(terms.map(t => col("bucket") === bucketOf(lit(t)))
        .reduce(_ || _))
      .filter(col("term").isInCollection(terms))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), "term")
      .withColumn("score_t",
        ((lit(2L) * (nDocs - col("df")) + lit(1L)).cast(DoubleType)
          / (lit(2L) * col("df") + lit(1L)).cast(DoubleType))
        * ((lit(44L) * col("tf") * sumLen).cast(DoubleType)
          / (lit(20L) * col("tf") * sumLen + lit(6L) * sumLen
            + lit(18L) * col("dl") * nDocs).cast(DoubleType)))
    val perTerm = terms.map(t =>
      coalesce(max(when(col("term") === t, col("score_t"))), lit(0.0))
        .as(s"s_$t"))
    val pivoted = scored.groupBy("doc_id")
      .agg(perTerm.head, perTerm.tail: _*)
    val total = terms.map(t => col(s"s_$t")).reduceLeft(_ + _)
    val top = pivoted.withColumn("score", total)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
    top.withColumn("rk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast(LongType))
      .select(col("doc_id") +: col("rk") +: col("score") +:
        terms.map(t => col(s"s_$t")): _*)
  }

  /** Fold the changelog into one `seq=<compactSeq>` generation and
    * clear tombstones (AnnIndexStore.compact's staging discipline).
    */
  def compact(spark: SparkSession, dir: String, compactSeq: Long): Unit = {
    val (posts, stats) = read(spark, dir)
    val p = posts.select("doc_id", "term", "tf", "dl", "bucket").cache()
    val st = stats.select("doc_id", "dl").cache()
    p.count(); st.count() // materialize BEFORE deleting inputs
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    p.write.mode("overwrite").partitionBy("bucket")
      .parquet(s"${postingsDir(dir)}/seq=$compactSeq")
    st.write.mode("overwrite")
      .parquet(s"${docstatsDir(dir)}/seq=$compactSeq")
    SeqDirs.dropAllBut(fs, postingsDir(dir), compactSeq)
    SeqDirs.dropAllBut(fs, docstatsDir(dir), compactSeq)
    val td = new org.apache.hadoop.fs.Path(tombsDir(dir))
    if (fs.exists(td)) fs.delete(td, true)
    p.unpersist(); st.unpersist()
  }
}
