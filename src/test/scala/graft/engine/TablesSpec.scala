package graft.engine

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types._

import graft.SparkSuite

/** The parquet schema memo behind [[Tables.parquet]]: a repeated read
  * of an unchanged table launches no Spark job, and any change that
  * could change the inferred schema (rewritten files, an inference
  * setting) is read as a fresh read would read it.
  */
class TablesSpec extends SparkSuite {

  /** Spark jobs `body` launches from this thread, counted by a
    * listener; a fence job in its own group proves every earlier
    * job-start event has been delivered before the count is read.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID}"
    val fence = s"$group-fence"
    val jobs = new AtomicInteger(0)
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`fence`) => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      body
      sc.setJobGroup(fence, "fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, TimeUnit.SECONDS), "fence job never seen")
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a second read of an unchanged table launches no Spark job") {
    val dir = tmpDir("tables_memo")
    spark.range(100).selectExpr("id", "cast(id as string) AS s")
      .write.parquet(s"$dir/t.parquet")
    assert(jobsOf(Tables.table(spark, dir, "t")) >= 1,
      "the first read infers the schema with a job")
    var again: DataFrame = null
    assert(jobsOf { again = Tables.table(spark, dir, "t") } == 0)
    assert(again.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(again.count() == 100)
  }

  test("a table rewritten at the same path is read with its new schema") {
    val p = s"${tmpDir("tables_rewrite")}/t.parquet"
    spark.range(3).toDF("a").write.parquet(p)
    assert(Tables.parquet(spark, p).schema.fieldNames.toSeq == Seq("a"))
    assert(Tables.parquet(spark, p).schema.fieldNames.toSeq == Seq("a"))
    spark.range(3).selectExpr("cast(id AS string) AS b")
      .write.mode("overwrite").parquet(p)
    val back = Tables.parquet(spark, p)
    assert(back.schema == spark.read.parquet(p).schema)
    assert(back.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("0", "1", "2"))
  }

  /** One parquet file written outside Spark (no Spark schema in its
    * footer, so the inference settings apply) with an INT64
    * TIMESTAMP(NANOS) `ts` — the layout earlier generators wrote.
    */
  private def writeNanos(dir: String, nanos: Seq[Long]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    val rows = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ts, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", ts))
    } finally w.close()
  }

  test("switching nanosAsLong gives the type that setting infers") {
    val p = s"${tmpDir("tables_nanos")}/n.parquet"
    writeNanos(p, Seq(5000L))
    def fresh = Try(spark.read.parquet(p).schema("ts").dataType)
    def memo = Try(Tables.parquet(spark, p).schema("ts").dataType)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(key, "true") {
      assert(memo.toOption.contains(LongType))
      assert(memo.toOption.contains(LongType))
      assert(Tables.parquet(spark, p).head().getLong(1) == 5000L)
    }
    withConf(key, "false") {
      val (m, f) = (memo, fresh)
      assert(m.isFailure == f.isFailure && m.toOption == f.toOption,
        s"memo $m, fresh $f")
      assert(!m.toOption.contains(LongType))
    }
  }

  test("a partitionBy directory keeps its partition column last, " +
      "with the same type") {
    val p = s"${tmpDir("tables_parts")}/pt.parquet"
    spark.range(20)
      .selectExpr("id", "cast(id % 3 AS int) AS part", "cast(id AS string) AS s")
      .write.partitionBy("part").parquet(p)
    val first = Tables.parquet(spark, p)
    var second: DataFrame = null
    assert(jobsOf { second = Tables.parquet(spark, p) } == 0)
    assert(second.schema == first.schema)
    assert(second.schema.last == first.schema.last &&
      second.schema.last.name == "part" &&
      second.schema.last.dataType == IntegerType)
    assert(second.collect().toSet == spark.read.parquet(p).collect().toSet)
  }

  test("events on fixture A, then a differently typed ts at the same " +
      "path: the re-read equals a fresh read") {
    val dir = tmpDir("tables_events")
    val path = s"$dir/events.parquet"
    spark.range(5).selectExpr("id AS event_id",
        "cast(timestamp_seconds(id * 60) AS timestamp_ntz) AS ts")
      .write.parquet(path)
    val a = Tables.events(spark, dir)
    assert(a.schema("ts").dataType == TimestampType)
    assert(a.count() == 5)
    // fixture B: instants before 1970, as TIMESTAMP(NANOS)
    val shift = 1735689600L
    new java.io.File(path).listFiles().foreach(_.delete())
    writeNanos(path, (0L until 5L).map(i => (i * 60 - shift) * 1000000000L))
    val b = Tables.events(spark, dir)
    assert(b.schema("ts").dataType == TimestampType)
    assert(b.orderBy("event_id").collect().map(r =>
        (r.getLong(0), r.getTimestamp(1).getTime)).toSeq ==
      (0L until 5L).map(i => (i, (i * 60 - shift) * 1000L)))
  }

  private def relationOf(df: DataFrame): BaseRelation =
    df.queryExecution.analyzed.collectFirst {
      case lr: LogicalRelation => lr.relation
    }.get

  private def sessionOf(df: DataFrame): SparkSession =
    relationOf(df).sqlContext.sparkSession

  test("two events reads of one path self-join with distinct attribute " +
      "ids") {
    val d = "/root/testdata/sf0.001"
    val (a, b) = (Tables.events(spark, d), Tables.events(spark, d))
    def userId(df: DataFrame) =
      df.queryExecution.analyzed.output.find(_.name == "user_id").get.exprId
    assert(userId(a) != userId(b))
    // every user with n events pairs n * n times
    val pairs = spark.read.parquet(s"$d/events.parquet")
      .groupBy("user_id").count()
      .agg(sum(col("count") * col("count"))).head().getLong(0)
    assert(a.join(b, a("user_id") === b("user_id")).count() == pairs)
  }

  test("a memo hit reuses its session's relation; a second SparkSession " +
      "gets its own") {
    val p = s"${tmpDir("tables_sessions")}/t.parquet"
    spark.range(100).toDF("a").write.parquet(p)
    val other = spark.newSession()
    val first = Tables.parquet(spark, p)
    assert(relationOf(Tables.parquet(spark, p)) eq relationOf(first))
    val theirs = Tables.parquet(other, p)
    assert(sessionOf(first) eq spark)
    assert(sessionOf(theirs) eq other)
    assert(sessionOf(Tables.parquet(spark, p)) eq spark)
    assert(theirs.count() == 100)
  }

  test("events on a MICROS fixture leaves nanosAsLong as the caller set it") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(key, "false") {
      val ev = Tables.events(spark, "/root/testdata/sf0.001")
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.count() > 0)
      assert(spark.conf.get(key) == "false")
    }
  }
}
