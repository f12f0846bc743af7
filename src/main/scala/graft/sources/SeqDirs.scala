package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, max}

import graft.engine.Tables

/** The `seq=<n>` generation directories of the append-only index
  * stores ([[AnnIndexStore]], [[TextIndexStore]]): one directory per
  * appended delta, folded into one by compaction.
  */
private[sources] object SeqDirs {
  private def isSeq(st: FileStatus): Boolean =
    st.isDirectory && st.getPath.getName.startsWith("seq=")

  /** (frame, generation count) for a seq'd directory — the count lets
    * a read skip latest-wins resolution on a compacted store.
    */
  def read(spark: SparkSession, base: String): (DataFrame, Int) = {
    val fs = FileSystem.get(
      new java.net.URI(base), spark.sparkContext.hadoopConfiguration)
    val p = new Path(base)
    if (!fs.exists(p)) return (spark.emptyDataFrame, 0)
    val seqs = fs.listStatus(p).toSeq.filter(isSeq).map(_.getPath.toString)
    if (seqs.isEmpty) (spark.emptyDataFrame, 0)
    else (Tables.parquet(spark, seqs, Some(base)), seqs.size)
  }

  /** Latest-wins resolution of a seq'd changelog keyed by `id`: a
    * key's rows from its highest seq survive unless a tombstone at or
    * above that seq exists — a later re-add (strictly higher seq)
    * resurrects. Both resolution joins build on broadcast-sized
    * per-key maxima.
    */
  def latestWins(rows: DataFrame, tombs: DataFrame, id: String)
      : DataFrame = {
    val latest = rows.groupBy(col(id).as("l_id"))
      .agg(max(col("seq")).as("l_seq"))
    val live = rows.join(broadcast(latest),
      col(id) === col("l_id") && col("seq") === col("l_seq"))
    if (tombs.isEmpty) live
    else {
      val dmax = tombs.groupBy(col(id).as("d_id"))
        .agg(max(col("seq")).as("d_seq"))
      live.join(broadcast(dmax), col(id) === col("d_id"), "left_outer")
        .filter(col("d_seq").isNull || col("l_seq") > col("d_seq"))
    }
  }

  /** Compaction's sweep: delete every generation under `base` except
    * `seq=<keep>`, the folded one just written.
    */
  def dropAllBut(fs: FileSystem, base: String, keep: Long): Unit =
    fs.listStatus(new Path(base)).toSeq
      .filter(st => isSeq(st) && st.getPath.getName != s"seq=$keep")
      .foreach(st => fs.delete(st.getPath, true))
}
