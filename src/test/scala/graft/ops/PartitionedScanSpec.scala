package graft.ops

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.engine.Tables

/** Hive-style directory partitioning must prune at PLANNING time: an
  * equality filter on the partition column appears as a
  * PartitionFilter on the scan and only the matching directory's
  * files are read — data filters never see the other partitions.
  */
class PartitionedScanSpec extends SparkSuite {

  test("event_type filter prunes to one partition directory") {
    val s = spark
    val d = "/root/testdata/sf0.001"
    val dir = tmpDir("part_events")
    Tables.events(s, d)
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val q = s.read.parquet(dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"))
    q.collect()
    val plan = q.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty,
      "equality on the partition column must become a PartitionFilter")
    // the pruned file listing holds exactly the purchase directory
    val dirs = scan.relation.location.listFiles(
        scan.partitionFilters, scan.dataFilters)
      .flatMap(_.files.map(_.getPath.getParent.getName)).distinct
    assert(dirs == Seq("event_type=purchase"), dirs.toString)
    // and the rows equal the flat-table filter
    val expect = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"))
      .collect().map(_.getLong(0)).toSet
    assert(q.collect().map(_.getLong(0)).toSet == expect)
  }

  test("dim-filtered join over the partitioned layout plans dynamic " +
      "partition pruning on the fact scan") {
    val s = spark
    import s.implicits._
    val d = "/root/testdata/sf0.001"
    val dir = tmpDir("part_events_dpp")
    Tables.events(s, d)
      .write.mode("overwrite").partitionBy("event_type")
      .parquet(s"$dir/events")
    // file-based dim: a literal local frame would constant-fold its
    // filter and leave DPP nothing to key on
    Seq(("click", "tracked"), ("purchase", "tracked"),
        ("view", "ignored"))
      .toDF("event_type", "status")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val dim = s.read.parquet(s"$dir/dim")
    withSQLConf(
        "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
        "spark.sql.adaptive.enabled" -> "false") {
      val q = s.read.parquet(s"$dir/events")
        .join(dim.filter(col("status") === "tracked")
          .select("event_type"), Seq("event_type"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"expected a dynamicpruning partition filter on the scan:\n$plan")
      // and the rows equal the flat-table filter
      val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expect = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expect)
    }
  }
}
