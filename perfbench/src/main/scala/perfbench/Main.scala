package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import perfbench.Stats.M

/** What a workload run needs: the session, its seed and window, where it
  * may write, and the tracing hooks (null/disabled when untraced).
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
                     runDir: String, fixtureDir: String,
                     strataPath: String, tracer: Tracer,
                     sparkStats: SparkStats) {
  def traced: Boolean = tracer.enabled
  def dir(name: String): String = {
    val p = Paths.get(runDir, name)
    Files.createDirectories(p)
    p.toString
  }
}

/** One workload run: end-to-end metrics, per-layer metrics (traced runs
  * only), operation counts and free-form facts for the output.
  */
final class Result(val workload: String) {
  var attempted = 0L
  var failed = 0L
  val endToEnd = mutable.LinkedHashMap[String, M]()
  val layers = mutable.LinkedHashMap[String, M]()
  val info = mutable.LinkedHashMap[String, Any]()

  /** The five end-to-end metrics every workload reports from its run. */
  def putEndToEnd(setupS: Double, throughput: Double,
                  latenciesMs: Seq[Double]): Unit = {
    val (tp, tail) = Stats.tail(latenciesMs)
    endToEnd("setup_s") = M(setupS, "s")
    endToEnd("throughput_per_s") = M(throughput, "1/s")
    endToEnd("latency_p50_ms") = M(Stats.median(latenciesMs), "ms")
    endToEnd("latency_tail_ms") = M(tail, "ms")
    endToEnd("peak_rss_mb") = M(Main.peakRssMb(), "MB")
    info("latency_samples") = latenciesMs.size
    info("latencies_ms") = latenciesMs
    info("latency_tail_percentile") = tp
  }
}

object Main {
  /** local[4]: one task slot per core of the 4-core benchmark host. */
  val Cores = 4
  val Workloads = Seq("ingest_wordcount", "docs_5stage", "registry_batch")

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  def session(cores: Int, runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state" +
          ".RocksDBStateStoreProvider")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def runOne(name: String, ctx: Ctx): Result = name match {
    case "ingest_wordcount" => Ingest.run(ctx)
    case "docs_5stage" => Docs.run(ctx)
    case "registry_batch" => Registry.run(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Traced run: the workload with spans and listeners on, then the
    * kernel probes; docs_5stage adds its local[1] baseline last, since
    * that replaces the session. The untraced reference for the tracing
    * overhead is a separate JVM (run.py).
    */
  def runTraced(name: String, base: Ctx): Result = {
    val stats = new SparkStats
    base.spark.sparkContext.addSparkListener(stats)
    val tracer = new Tracer(true)
    val res = runOne(name, base.copy(tracer = tracer, sparkStats = stats))
    base.spark.sparkContext.removeSparkListener(stats)
    Layers.probes(base, res)
    Layers.selfTimes(tracer, res)
    tracer.writeJson(s"${base.runDir}/spans.json")
    if (name == "docs_5stage") {
      val one = Docs.local1Baseline(base)
      res.layers("baseline.local1_docs_per_s") =
        one.endToEnd("throughput_per_s")
      res.attempted += one.attempted
      res.failed += one.failed
    }
    Layers.complete(res)
    res
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    val runDir = a("run-dir")
    val out = a("out")

    def ctx(dir: String) = Ctx(session(Cores, runDir), seed, seconds,
      dir, a("fixture"), a("strata"), new Tracer(false), null)
    if (workload == "registry_sizing") {
      val rows = Registry.sizing(ctx(runDir))
      Files.writeString(Paths.get(out), Stats.json(rows))
      SparkSession.getDefaultSession.foreach(_.stop())
      return
    }
    val names = if (workload == "all") Workloads else Seq(workload)
    require(names.forall(Workloads.contains), s"unknown workload $workload")
    val results = names.map { n =>
      val c = ctx(Paths.get(runDir, n).toString)
      val r = if (trace) runTraced(n, c) else runOne(n, c)
      r.info("seed") = seed
      r
    }
    val body = results.map { r =>
      Stats.json(mutable.LinkedHashMap("workload" -> r.workload,
        "attempted" -> r.attempted, "failed" -> r.failed,
        "end_to_end" -> r.endToEnd, "per_layer" -> r.layers,
        "info" -> r.info))
    }.mkString("[\n", ",\n", "\n]\n")
    Files.writeString(Paths.get(out), body)
    SparkSession.getDefaultSession.foreach(_.stop())
  }
}
