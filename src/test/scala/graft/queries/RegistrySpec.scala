package graft.queries

import graft.{SparkEntry, SparkSuite}

/** Driver-contract sanity: row names are unique, and every registered
  * query builds an analyzable plan against the smallest fixture (schema
  * resolution errors surface here instead of inside the driver's verify
  * run). Every row carries its oracle by construction ([[QuerySpec]]).
  */
class RegistrySpec extends SparkSuite {

  test("a repeated row name is rejected, not silently dropped") {
    val row = QuerySpec("dup_row", (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException](
      Queries.byName(Seq(row, QuerySpec("other_row", row.query, "SELECT 2"),
        row)))
    assert(e.getMessage.contains("dup_row") &&
      !e.getMessage.contains("other_row"), e.getMessage)
  }

  test("every query analyzes against sf0.001") {
    val d = "/root/testdata/sf0.001"
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val df = fn(spark, d)
          assert(df.schema.fields.nonEmpty)
          None
        } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every oracle renders to SQL with no uninterpolated fragment") {
    // a shared fragment spliced into a literal that lacks the `s`
    // interpolator survives as `$name` / `${...}` text, which only
    // DuckDB would reject
    LlmQueries.tagDataset("/root/testdata/sf0.001")
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).collect {
      case (name, sql)
          if sql.trim.isEmpty || "\\$[A-Za-z_{]".r.findFirstIn(sql).nonEmpty =>
        name
    }
    assert(bad.isEmpty, s"oracles with empty or unrendered SQL: $bad")
  }

  test("evaluation barriers survive optimization under count() pruning") {
    // r14: barrier v1 (`xxhash64(*).isNotNull`) was constant-folded by
    // NullPropagation and the bench silently went back to timing
    // pruned skeletons. This pins the current idiom: the barrier must
    // still be in the OPTIMIZED plan of the count-shaped aggregate
    // Bench executes.
    val d = "/root/testdata/sf0.001"
    for (name <- Seq("url_canon", "approx_distinct")) {
      val opt = SparkEntry.queries(name)(spark, d).groupBy().count()
        .queryExecution.optimizedPlan.toString
      assert(opt.contains("graft_eval_barrier") && opt.contains("xxhash64"),
        s"$name: the evaluation barrier folded out of the optimized " +
          "plan — count() is timing a pruned skeleton again")
    }
  }

  test("evaluation barrier is not pushed below the row's projection") {
    // r14: barrier v2 (deterministic pmod(xxhash64) predicate) was
    // PUSHED below the projection, substituting aliases with their
    // defining expressions — rows fanning one kernel into many output
    // columns then evaluated the kernel once per column inside
    // FilterExec (no subexpression elimination there):
    // gopher_repetition benched 24.1 s against a 0.48 s noop cost.
    // Pin: the Filter line carrying the barrier must reference only
    // attributes, never an inlined kernel call.
    val d = "/root/testdata/sf0.001"
    val opt = SparkEntry.queries("gopher_repetition")(spark, d).groupBy().count()
      .queryExecution.optimizedPlan.toString
    val filterLines = opt.linesIterator
      .filter(_.contains("graft_eval_barrier")).toSeq
    assert(filterLines.nonEmpty,
      "gopher_repetition: barrier missing from the optimized plan")
    assert(!filterLines.exists(_.contains("gopher_coverage")),
      "gopher_repetition: the barrier predicate inlines the " +
        "gopher_coverage kernel — it was pushed below the projection " +
        "and the bench over-measures the kernel once per column")
  }
}
