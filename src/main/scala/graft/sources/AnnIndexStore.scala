package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.ops.{Dedup, Similarity}

/** A persisted IVF posting store maintained by APPEND-ONLY deltas —
  * the on-disk form of `Similarity.ivfIndexUpsert/Delete` that never
  * rewrites untouched data (the `OcfMaintenance` changelog pattern,
  * applied to vector postings):
  *
  *   - `append(adds, seq)` writes the delta's postings under
  *     `postings/seq=<n>/`, partitioned by cell — new files only.
  *   - `tombstone(ids, seq)` appends (vec_id, seq) marker rows under
  *     `tombstones/seq=<n>/` — deletes never touch posting files.
  *   - `read` resolves LATEST-WINS per vector: the postings of a
  *     vector's highest append seq survive iff no tombstone with a
  *     seq at or above it exists. A re-added id resurrects (its new
  *     seq beats the old tombstone); a re-embedded id's old postings
  *     lose to its new seq.
  *   - `compact` folds the changelog into a single seq and drops the
  *     tombstones — the rare rewrite, scheduled like OCF compaction.
  *
  * Writes are idempotent per seq (`overwrite` of that seq's
  * subdirectory), which is what makes the STREAMING maintenance twin
  * (`AnnStream.indexMaintainStream`) exactly-once under micro-batch
  * replay: re-running a failed epoch rewrites the same files.
  *
  * 100 TB story: a day's delta writes only its own files; `read`'s
  * resolution joins are on vec_id against the (small) latest-seq and
  * tombstone tables — broadcast — and the posting scan itself stays
  * cell-partitioned, so probes keep reading only probed cells.
  */
object AnnIndexStore {

  private def postingsDir(dir: String) = s"$dir/postings"
  private def tombsDir(dir: String) = s"$dir/tombstones"

  /** Append one delta's postings (assignment under FIXED centroids)
    * as `seq=<n>`; idempotent — replaying a seq overwrites its own
    * files and nothing else.
    */
  def append(adds: DataFrame, idCol: String, vecCol: String,
             centroids: Array[Array[Long]], dir: String, seq: Long,
             nAssign: Int = 2): Unit =
    Similarity.ivfIndex(adds, idCol, vecCol, centroids, nAssign)
      .write.mode("overwrite")
      .partitionBy("cell")
      .parquet(s"${postingsDir(dir)}/seq=$seq")

  /** Append tombstones for `ids` as `seq=<n>`; idempotent per seq. */
  def tombstone(ids: DataFrame, idCol: String, dir: String,
                seq: Long): Unit =
    ids.select(col(idCol).cast(LongType).as("vec_id")).distinct()
      .write.mode("overwrite").parquet(s"${tombsDir(dir)}/seq=$seq")

  /** The live index: latest-wins resolution of the posting changelog
    * against the tombstones. Row-equivalent to
    * `Similarity.ivfIndex(currentCorpus)` under the same centroids
    * (asserted in AnnIndexStoreSpec and the `ann_index_store` oracle).
    * A compacted store (one generation, no tombstones) skips the
    * resolution joins — every row is live by construction; that is
    * the steady-state serving read.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val (posts, nPostSeqs) = SeqDirs.read(spark, postingsDir(dir))
    if (nPostSeqs == 0 || posts.isEmpty) return spark.emptyDataFrame
    val (tombs, nTombSeqs) = SeqDirs.read(spark, tombsDir(dir))
    val resolved =
      if (nPostSeqs == 1 && nTombSeqs == 0) posts
      else SeqDirs.latestWins(posts, tombs, "vec_id")
    resolved.select(col("vec_id"), col("cell").cast("int").as("cell"),
      col("q"), col("nn"))
  }

  /** Fold the changelog into a single `seq=<compactSeq>` generation
    * and clear the tombstones: the scheduled rewrite that bounds
    * changelog length (OCF-compaction analogue). Readers before the
    * swap see the old generations; the write is staged under the new
    * seq before old seqs are removed.
    */
  def compact(spark: SparkSession, dir: String, compactSeq: Long): Unit = {
    val live = read(spark, dir).withColumn("seq_keep", lit(compactSeq))
    val staged = live.select("vec_id", "cell", "q", "nn").cache()
    staged.count() // materialize BEFORE deleting inputs
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    staged.write.mode("overwrite").partitionBy("cell")
      .parquet(s"${postingsDir(dir)}/seq=$compactSeq")
    SeqDirs.dropAllBut(fs, postingsDir(dir), compactSeq)
    val tdir = new org.apache.hadoop.fs.Path(tombsDir(dir))
    if (fs.exists(tdir)) fs.delete(tdir, true)
    staged.unpersist()
  }
}
