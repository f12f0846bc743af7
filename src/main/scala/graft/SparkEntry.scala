package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.engine.{KafkaShape, Tables}
import graft.ops.StreamOps
import graft.queries.Queries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The rebuild of the reference's one shipped analytical query: Kafka
    * record decode → tokenize → sliding-window word count at the
    * reference's TRUE geometry — 10-minute window, 2-SECOND slide
    * (reference `examples/.../KafkaWordCount.scala:67-72`,
    * `reduceByKeyAndWindow(_+_, _-_, Minutes(10), Seconds(2), 2)`).
    *
    * Not `window(ts, "10 minutes", "2 seconds")`: that plans an Expand
    * with 300 projections per row (and a janino-breaking generated
    * switch). The slice-aggregated form (per-2s-slice counts + a
    * per-word 299-slice bounded RANGE window) is the inverse-function
    * incremental trick in relational form — no Expand, one shuffle.
    */
  def entry(spark: SparkSession): DataFrame =
    StreamOps.wordCountSlidingSlices(
      KafkaShape.decodeUtf8(
        KafkaShape.fromEvents(Tables.events(spark, "/root/testdata/sf0.001"))))

  /** One entry per implemented operator from SURVEY.md §2, built once
    * from the registry rows ([[Queries.rows]]). */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.rows.map { case (n, q) => n -> q.query }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables, resolved on each call (see [[QuerySpec]]). */
  def oracleSql: Map[String, String] =
    Queries.rows.map { case (n, q) => n -> q.oracle }
}
