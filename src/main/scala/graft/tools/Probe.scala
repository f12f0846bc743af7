package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import graft.SparkEntry

/** The one diagnostic main for registry rows. Modes:
  *
  *  - `plan <sfDir> <tag> <suffix> <query>...` writes
  *    `explain("formatted")` of named rows to
  *    `plans/<tag>/<query>_<suffix>.txt`, so before/after plan claims in
  *    OPTIMIZATION notes are checkable without running Spark (e.g.
  *    `plan <sfDir> r14 before decontaminate decontaminate_bloom`).
  *  - `rows <sfDir> <q1,q2,...>` prints OUTPUT row counts and wall time
  *    of named rows — separates output-driven scaling (a result set
  *    growing super-linearly with the input) from plan defects when
  *    reading the sf0.1→sf1 slope table. Env: SPARK_GRAFT_CPUS (default
  *    32), SPARK_GRAFT_SHOW=1 also shows the first 10 rows.
  *  - `noop <sfDir> [outFile]` is the registry-wide bench-fidelity
  *    sweep: for EVERY row, time a noop-sink write (evaluates every
  *    output column — what Verify pays) against a count() (what Bench
  *    times). A row whose count is far below its noop is a row whose
  *    kernels the bench is NOT measuring: count()'s column pruning can
  *    eliminate a unique-key left join and the whole expression
  *    pipeline under it (r13 found span_dedup benching 0.30 s counted
  *    vs 31 s evaluated). Such rows need `barrier = true` in their
  *    [[graft.queries.QuerySpec]] so a kernel regression can never hide
  *    from the committed bench. Writes one JSON line per row {name,
  *    noop, count, ratio} plus a summary (default noop_sweep.json);
  *    flag rule: noop / max(count, 0.05) > 2 AND the absolute gap
  *    exceeds 0.2 s (sub-tenth-second rows are all noise at this
  *    granularity).
  *  - `smoke [query sfDir]` smoke-runs the flagship entry query
  *    (rows > 0, the contract's smoke check), or prints a row's
  *    formatted plan and its row count.
  *
  * Usage: runMain graft.tools.Probe <plan|rows|noop|smoke> [args...]
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe <plan|rows|noop|smoke> [args...]"
    require(args.nonEmpty, usage)
    val rest = args.tail
    args.head match {
      case "plan" => plan(rest)
      case "rows" => rows(rest)
      case "noop" => noop(rest)
      case "smoke" => smoke(rest)
      case other => throw new IllegalArgumentException(s"$usage (got $other)")
    }
  }

  private def session(cpus: String, logLevel: String): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def plan(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: Probe plan <sfDir> <tag> <suffix> <query>...")
    val (sfDir, tag, suffix, names) =
      (args(0), args(1), args(2), args.drop(3))
    val spark = session("8", "ERROR")
    val dir = Paths.get("plans", tag)
    Files.createDirectories(dir)
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(dir.resolve(s"${name}_$suffix.txt"), txt)
      println(s"[plan] wrote ${dir.resolve(s"${name}_$suffix.txt")}")
    }
    spark.stop()
  }

  private def rows(args: Array[String]): Unit = {
    require(args.length == 2, "usage: Probe rows <sfDir> <q1,q2,...>")
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "WARN")
    System.setProperty("graft.ivf.cells.skipWrite", "true")
    val show = sys.env.get("SPARK_GRAFT_SHOW").contains("1")
    names.foreach { n =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(n)(spark, dir)
      val c = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[rows] $n%-28s rows=$c%12d  $sec%8.2f s")
      if (show) df.show(10, truncate = false)
    }
    spark.stop()
  }

  private def noop(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Probe noop <sfDir> [outFile]")
    val d = args(0)
    val out = args.lift(1).getOrElse("noop_sweep.json")
    // bench conditions: sidecar materialization off (Bench sets the
    // same flag — the sweep judges the BENCH's fidelity)
    System.setProperty("graft.ivf.cells.skipWrite", "true")
    val spark = session("32", "ERROR")
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        try {
          // warm once (JIT + shuffle files), then min of 2 per mode
          fn(spark, d).write.mode("overwrite").format("noop").save()
          val noop = (1 to 2).map(_ => time {
            fn(spark, d).write.mode("overwrite").format("noop").save()
          }).min
          val cnt = (1 to 2).map(_ => time { fn(spark, d).count() }).min
          val ratio = noop / math.max(cnt, 0.05)
          val flagged = ratio > 2.0 && (noop - cnt) > 0.2
          println(f"[noop] $name%-28s noop=$noop%7.3f count=$cnt%7.3f " +
            f"ratio=$ratio%6.2f ${if (flagged) "FLAG" else ""}")
          (name, noop, cnt, ratio, flagged, "")
        } catch {
          case e: Throwable =>
            println(s"[noop] $name ERROR ${e.getMessage}")
            (name, -1.0, -1.0, -1.0, false, String.valueOf(e.getMessage))
        }
    }
    val flaggedNames = rows.filter(_._5).map(_._1)
    val json = new StringBuilder
    json.append("{\"sf\":\"").append(d).append("\",\"rows\":[")
    json.append(rows.map { case (n, no, c, r, f, err) =>
      if (err.nonEmpty)
        s"""{"name":"$n","error":"${err.replace('"', '\'')}"}"""
      else
        f"""{"name":"$n","noop":$no%.3f,"count":$c%.3f,"ratio":$r%.2f,"flag":$f}"""
    }.mkString(","))
    json.append("],\"flagged\":[")
    json.append(flaggedNames.map(n => s""""$n"""").mkString(","))
    json.append("]}")
    Files.write(Paths.get(out), json.toString.getBytes("UTF-8"))
    println(s"[noop] flagged: ${flaggedNames.mkString(", ")}")
    println(s"[noop] wrote $out")
    spark.stop()
  }

  private def smoke(args: Array[String]): Unit = {
    val spark = session("8", "WARN")
    args.headOption match {
      case None =>
        val df = SparkEntry.entry(spark)
        println(s"entry schema: ${df.schema.simpleString}")
        println(s"entry rows: ${df.count()}")
      case Some(name) =>
        require(args.length == 2, "usage: Probe smoke [query sfDir]")
        val df = SparkEntry.queries(name)(spark, args(1))
        df.explain("formatted")
        println(s"$name rows: ${df.count()}")
    }
    spark.stop()
  }
}
