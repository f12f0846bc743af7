package graft.ops

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The point of a bucketed layout is the plan: a join of two tables
  * bucketed + sorted on the join key with MATCHING bucket counts must
  * plan with ZERO shuffle exchanges and no sort — the write-time
  * shuffle is amortized over every downstream join. This spec pins
  * that property (rows proven equal to the plain shuffled join).
  */
class BucketedJoinSpec extends SparkSuite {

  private def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case e: ShuffleExchangeExec => e }.size
  }

  test("join of co-bucketed sorted tables plans zero exchanges") {
    val s = spark
    import s.implicits._
    val base = tmpDir("bkt")
    s.sql("DROP TABLE IF EXISTS bkt_left")
    s.sql("DROP TABLE IF EXISTS bkt_right")
    (1L to 1000L).map(k => (k % 97, k)).toDF("k", "lv")
      .write.option("path", s"$base/left")
      .bucketBy(4, "k").sortBy("k").saveAsTable("bkt_left")
    (1L to 500L).map(k => (k % 97, k * 10)).toDF("k", "rv")
      .write.option("path", s"$base/right")
      .bucketBy(4, "k").sortBy("k").saveAsTable("bkt_right")
    withSQLConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val j = s.table("bkt_left")
        .join(s.table("bkt_right"), Seq("k"))
      assert(exchanges(j) == 0, j.queryExecution.executedPlan.toString)
      // same rows as the un-bucketed (shuffled) join
      val plain = (1L to 1000L).map(k => (k % 97, k)).toDF("k", "lv")
        .join((1L to 500L).map(k => (k % 97, k * 10)).toDF("k", "rv"),
          Seq("k"))
      assert(j.collect().map(_.toSeq).toSet ==
        plain.collect().map(_.toSeq).toSet)
      // control: the SAME join without bucketing shuffles both sides
      val unbucketed = s.read.parquet(s"$base/left")
        .join(s.read.parquet(s"$base/right"), Seq("k"))
      assert(exchanges(unbucketed) == 2)
    }
  }

  test("registry bucketed_join row: aggregate over the co-located " +
      "join shuffles only for the groupBy") {
    val s = spark
    val d = "/root/testdata/sf0.001"
    withSQLConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val df = graft.SparkEntry.queries("bucketed_join")(s, d)
      // one exchange for the groupBy(o_orderpriority); the join itself
      // is exchange-free on the bucketed layout
      assert(exchanges(df) == 1,
        df.queryExecution.executedPlan.toString)
      assert(df.collect().map(r => r.getLong(1)).sum > 0)
    }
  }
}
