package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Relational

/** Streaming twin of [[Relational.maintainAggregate]]: a CDC changelog
  * stream folds into a PERSISTED (count, sum) summary, one generation
  * per micro-batch, exactly-once under epoch replay — the streaming
  * materialized-view maintenance a 100 TB deployment runs instead of
  * nightly recomputes.
  *
  * Disk protocol (single writer — the streaming query): the summary
  * lives at `dir/gen=<n>`; a zero-byte `_applied-<batchId>-<gen>`
  * marker commits each fold. On `apply(batch, id)`:
  *  - `id` already marked → skip whole (foreachBatch re-delivers the
  *    last batch when the driver died between sink work and the
  *    checkpoint commit; folding it twice would double the deltas);
  *  - otherwise read the latest MARKED generation, fold the delta,
  *    overwrite `gen=<latest+1>`, then create the marker. A crash
  *    between write and marker leaves an orphan generation that the
  *    replay deterministically overwrites (same generation number —
  *    latest is resolved from markers, never from directory listing),
  *    so the half-applied state is invisible.
  * Work per trigger is delta-sized: one changelog aggregate + one
  * keyed outer join against the summary — history is never rescanned.
  */
class IvmApplier(spark: SparkSession, dir: String, keyCol: String)
    extends Serializable {

  private def summarySchema = StructType(Seq(
    StructField(keyCol, LongType), StructField("n_events", LongType),
    StructField("sum_cents", LongType)))

  private def fs = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (batchId, gen) pairs already committed. */
  private def markers(): Seq[(Long, Long)] = {
    val d = new Path(dir)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_applied-"))
      .map { n =>
        val parts = n.stripPrefix("_applied-").split("-")
        (parts(0).toLong, parts(1).toLong)
      }
  }

  private def latestGen(): Option[Long] =
    markers().map(_._2).maxOption

  /** The current summary — empty (correct-schema) frame before the
    * first applied batch.
    */
  def latestSummary(): DataFrame = latestGen() match {
    case Some(g) => spark.read.schema(summarySchema).parquet(s"$dir/gen=$g")
    case None => spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], summarySchema)
  }

  /** foreachBatch body. Changelog rows: (keyCol, op I|U|D, old_cents,
    * new_cents).
    */
  def apply(changelog: DataFrame, batchId: Long): Unit = {
    val applied = markers()
    if (applied.exists(_._1 == batchId)) return // replayed epoch
    val gen = applied.map(_._2).maxOption.getOrElse(-1L) + 1L
    Relational.maintainAggregate(latestSummary(), changelog, keyCol)
      .write.mode("overwrite").parquet(s"$dir/gen=$gen")
    val marker = new Path(dir, s"_applied-$batchId-$gen")
    require(fs.createNewFile(marker) || fs.exists(marker),
      s"ivm: marker create failed for $marker")
  }

  /** Drop generations older than the latest `keep` (storage GC; the
    * latest marked generation is never touched).
    */
  def pruneGenerations(keep: Int = 2): Int = {
    val gens = markers().map(_._2).sorted
    val victims = gens.dropRight(keep)
    victims.foreach { g =>
      fs.delete(new Path(s"$dir/gen=$g"), true)
      markers().filter(_._2 == g).foreach { case (b, _) =>
        fs.delete(new Path(dir, s"_applied-$b-$g"), false)
      }
    }
    victims.size
  }
}

object IvmStream {
  /** Wire a streaming changelog into the applier:
    * `writeStream.foreachBatch(IvmStream.sink(spark, dir, keyCol))`.
    */
  def sink(spark: SparkSession, dir: String, keyCol: String)
      : (DataFrame, Long) => Unit = {
    val applier = new IvmApplier(spark, dir, keyCol)
    (batch, id) => applier.apply(batch, id)
  }
}
