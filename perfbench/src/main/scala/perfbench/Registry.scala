package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.SQLExecution

import graft.SparkEntry
import perfbench.Stats.M

/** registry_batch: a closed loop, one `SparkEntry.queries` row at a
  * time, over the sf0.1-shaped fixture. The seed draws a stratified
  * sample (one row per band of every stratum in strata.txt); each
  * sampled row runs once untimed in set-up, writing the result the
  * oracle check reads, then the sample is timed in whole cycles.
  */
object Registry {

  /** About the time of one timed cycle over a 12-row sample at
    * local[4], in s; a run times round(seconds / NominalCycleS) cycles.
    */
  val NominalCycleS = 8.0

  /** One row execution: build (calling the registry closure, with any
    * eager driver-side job), plan (forcing the executed plan) and exec
    * (running it to completion, no sink). Times in ms.
    */
  final case class Exec(name: String, op: String, startMs: Double,
                        buildEnd: Double, planEnd: Double, endMs: Double)

  def execRow(ctx: Ctx, name: String, op: String): Exec = {
    val sc = ctx.spark.sparkContext
    sc.setLocalProperty(SparkStats.OpKey, op)
    try {
      val a = Clock.nowMs
      val df = SparkEntry.queries(name)(ctx.spark, ctx.fixtureDir)
      val b = Clock.nowMs
      val qe = df.queryExecution
      qe.executedPlan
      val c = Clock.nowMs
      SQLExecution.withNewExecutionId(qe, Some(name)) {
        qe.toRdd.foreach(_ => ())
      }
      Exec(name, op, a, b, c, Clock.nowMs)
    } finally {
      sc.setLocalProperty(SparkStats.OpKey, null)
      // rows are independent: drop whatever a row cached
      ctx.spark.catalog.clearCache()
    }
  }

  def sample(ctx: Ctx): Seq[(String, String)] =
    Gen.registrySample(ctx.seed, Gen.readStrata(ctx.strataPath),
      SparkEntry.queries.keySet)

  def run(ctx: Ctx): Result = {
    val res = new Result("registry_batch")
    val rows = sample(ctx)
    val outDir = ctx.dir("rows")

    // set-up: the warm pass, which also writes each row's checked result
    val s0 = System.nanoTime()
    graft.queries.LlmQueries.tagDataset(ctx.fixtureDir)
    val warmFailed = rows.map(_._2).filterNot { name =>
      try {
        SparkEntry.queries(name)(ctx.spark, ctx.fixtureDir)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        true
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        false
      } finally ctx.spark.catalog.clearCache()
    }.toSet
    val setupS = (System.nanoTime() - s0) / 1e9

    // timed: a fixed number of whole cycles over the sample, so every
    // row runs equally often and the latency sample has a fixed size
    val workloadId = ctx.tracer.newId()
    val live = rows.map(_._2).filterNot(warmFailed)
    val execs = mutable.ArrayBuffer[Exec]()
    var i = 0
    var timedFailed = 0
    val cycles = math.max(1, math.round(ctx.seconds / NominalCycleS).toInt)
    val t0 = Clock.nowMs
    (1 to cycles).foreach(_ => live.foreach { name =>
      i += 1
      try execs += execRow(ctx, name, s"row:$i")
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
        timedFailed += 1
      }
    })
    val t1 = Clock.nowMs
    val lat = execs.map(e => e.endMs - e.startMs).toSeq
    res.putEndToEnd(setupS, execs.size / (lat.sum / 1000.0), lat)
    res.attempted = rows.size + i
    res.failed = warmFailed.size + timedFailed
    val oracles = SparkEntry.oracleSql
    res.info("rows") = rows.map { case (stratum, name) =>
      mutable.LinkedHashMap[String, Any]("name" -> name,
        "stratum" -> stratum, "warm_ok" -> !warmFailed(name),
        "out" -> s"$outDir/$name",
        "oracle_sql" -> oracles.getOrElse(name, null),
        "timed_ms" -> execs.filter(_.name == name)
          .map(e => e.endMs - e.startMs).toSeq)
    }
    res.info("row_executions") = execs.size
    res.info("cycles") = cycles

    if (ctx.traced) {
      val t = ctx.tracer
      t.add(Span(workloadId, 0, "registry_batch", "workload", t0, t1))
      execs.foreach { e =>
        val id = t.newId()
        t.add(Span(id, workloadId, e.op, "row", e.startMs, e.endMs))
        Seq(("build", e.startMs, e.buildEnd), ("plan", e.buildEnd, e.planEnd),
          ("exec", e.planEnd, e.endMs)).foreach { case (k, a, b) =>
          t.add(Span(t.newId(), id, e.op, k, a, b))
        }
      }
      Layers.spark(ctx, j => j.op.startsWith("row:"), execs.size,
        (t1 - t0) / 1000.0, res)
      val jobs = ctx.sparkStats.jobs.values.asScala.toSeq.groupBy(_.op)
      val n = math.max(1, execs.size).toDouble
      def mean(f: Exec => Double) = execs.map(f).sum / n
      res.layers("queries.build_ms") =
        M(Stats.median(execs.map(e => e.buildEnd - e.startMs).toSeq), "ms")
      res.layers("plans.plan_ms") =
        M(Stats.median(execs.map(e => e.planEnd - e.buildEnd).toSeq), "ms")
      res.layers("queries.exec_ms") =
        M(Stats.median(execs.map(e => e.endMs - e.planEnd).toSeq), "ms")
      res.layers("queries.jobs") =
        M(mean(e => jobs.getOrElse(e.op, Nil).size), "count")
      res.layers("queries.eager_jobs") = M(mean(e =>
        jobs.getOrElse(e.op, Nil).count(_.startMs < e.buildEnd)), "count")
      val perOp = execs.map { e =>
        val s = ctx.sparkStats.summary(_.op == e.op)
        (s.stages.toDouble, s.tasks.toDouble)
      }
      res.layers("queries.stages") = M(perOp.map(_._1).sum / n, "count")
      res.layers("queries.tasks") = M(perOp.map(_._2).sum / n, "count")
      res.layers("load.offered_rps") =
        M(execs.size / ((t1 - t0) / 1000.0), "1/s")
    }
    res
  }

  /** Sizing pass over every registry row: the first
    * (cold) execution writes the result for the oracle check, then one
    * warm execution is timed. Used to build strata.txt.
    */
  def sizing(ctx: Ctx): Seq[mutable.LinkedHashMap[String, Any]] = {
    graft.queries.LlmQueries.tagDataset(ctx.fixtureDir)
    val outDir = ctx.dir("rows")
    val names = SparkEntry.queries.keySet.toSeq.sorted
    val rows = names.map { name =>
      val m = mutable.LinkedHashMap[String, Any]("name" -> name)
      try {
        val a = System.nanoTime()
        SparkEntry.queries(name)(ctx.spark, ctx.fixtureDir)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        m("cold_ms") = (System.nanoTime() - a) / 1e6
        val e = execRow(ctx, name, s"size:$name")
        m("warm_ms") = e.endMs - e.startMs
        m("out") = s"$outDir/$name"
      } catch { case e: Exception => m("error") = String.valueOf(e.getMessage) }
      System.err.println(s"[perfbench] sized $m")
      m
    }
    val oracles = SparkEntry.oracleSql
    rows.foreach(m => m("oracle_sql") =
      oracles.getOrElse(m("name").toString, null))
    rows
  }
}
