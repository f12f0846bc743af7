package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** The driver-facing query registry: every SURVEY.md §2 operator that is
  * implemented is one [[QuerySpec]] row — a named DataFrame builder plus
  * its DuckDB oracle over the same parquet tables — in one of three
  * section files: [[StreamQueries]], [[RelationalQueries]],
  * [[LlmQueries]].
  *
  * Column-name discipline: every computed column is aliased identically
  * in the Spark query and the oracle SQL (the driver sorts columns by
  * name before hashing). Float discipline: see graft.ops.Relational.
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame

  private[queries] def events(s: SparkSession, d: String) = Tables.events(s, d)

  /** Every registry row by name, built once. */
  lazy val rows: Map[String, QuerySpec] =
    byName(StreamQueries.specs ++ RelationalQueries.specs ++ LlmQueries.specs)

  /** Rows keyed by name. A repeated name throws: a `Map(...)` literal
    * would silently keep the last of two equal keys and drop a row.
    */
  def byName(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val repeated = specs.groupBy(_.name).collect {
      case (n, g) if g.size > 1 => n
    }
    require(repeated.isEmpty,
      s"repeated registry row names: ${repeated.toSeq.sorted.mkString(", ")}")
    specs.map(q => q.name -> q).toMap
  }

  /** Evaluation barrier: an always-true filter on a hash of EVERY
    * output column — `pmod(xxhash64(*), 2) < 2` holds for every row
    * (pmod lands in [0, 2)), so no row is dropped and no value
    * changes; because the predicate references every column,
    * ColumnPruning cannot strip any computation below it — count()
    * now pays what a real consumer pays. One codegen'd hash per row
    * of overhead.
    *
    * The predicate must be one Catalyst can neither FOLD nor PUSH.
    * History of the idiom (each failure caught by a noop sweep/bench
    * re-run and now pinned by RegistrySpec):
    *  - v1 `xxhash64(*).isNotNull`: silently erased by
    *    NullPropagation — xxhash64 is non-nullable, so `IsNotNull`
    *    rewrote to `Literal(true)` and the filter dropped out.
    *  - v2 `pmod(xxhash64(*), 2) < 2`: unfoldable, but DETERMINISTIC,
    *    so PushPredicateThroughNonJoin pushed it below the row's
    *    projection, substituting each alias with its defining
    *    expression — for rows that fan one expensive kernel into many
    *    output columns the predicate then held one kernel call PER
    *    COLUMN, and FilterExec does no subexpression elimination:
    *    gopher_repetition benched 24.1 s against a 0.48 s noop cost
    *    (kernel evaluated ~25x per row). An over-measuring barrier is
    *    as dishonest as a pruned one.
    *  - v3 (current): [[graft.functions.EvalBarrier]] — an always-true
    *    NON-DETERMINISTIC predicate over the same xxhash64 fold, PLUS
    *    a nondeterministic salt column under the filter. The predicate
    *    being nondeterministic is not enough: PushPredicateThroughNonJoin
    *    gates the Project case on `fields.forall(_.deterministic)` — the
    *    PROJECT's fields, not the condition — so any predicate is pushed
    *    through an all-deterministic projection. Salting the projection
    *    with `monotonically_increasing_id()` (referenced by the barrier
    *    hash so pruning can't drop it) fails that gate, the filter stays
    *    above the projection, and each kernel runs exactly once (the
    *    projection's own subexpression elimination) — what a real
    *    consumer pays. The outer select restores the original schema,
    *    so Verify output is byte-identical.
    */
  private[queries] def evalBarrier(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq
    df.withColumn("__barrier_salt", monotonically_increasing_id())
      .filter(graft.functions.GraftFunctions.evalBarrier(
        xxhash64((cols :+ "__barrier_salt").map(col): _*)))
      .select(cols.map(col): _*)
  }
}

/** One registry row: its name, DataFrame builder and DuckDB oracle SQL.
  *
  * `oracle` is by-name and resolved on each call: the LLM oracles
  * interpolate sidecar dirs namespaced by the dataset tag the builders
  * record at run time, and a value fixed at object init would freeze
  * the "default" tag before any query has run.
  *
  * `barrier` marks rows whose committed bench under-measured (r14
  * registry-wide noop sweep, noop_sweep.json): count() prunes every
  * output column a filter doesn't need, which eliminates window
  * expressions, non-key aggregate expressions, and unique-key left
  * joins — the bench then times a count()-pruned skeleton while Verify
  * pays the kernels (worst offenders: decontaminate 25×,
  * approx_distinct 12×; the flagged rows are every sweep row with
  * noop/count > 2, plus url_canon — 1.7× at sf0.1 but 24× at sf1
  * where the canon kernel dominates the scan, and, from the r14
  * barrier-v3 sweep, mrl_eval and lsh_recall, whose per-prefix rerank
  * arms and verify arrays fold away under count). [[query]] wraps
  * these in [[Queries.evalBarrier]] so EVERY consumer (Bench, Probe's
  * noop and plan modes) times the evaluated operator; Verify output is
  * unchanged (the filter is identically true and adds no column).
  */
final class QuerySpec(val name: String, build: Queries.Q,
                      oracleSql: => String, val barrier: Boolean) {
  /** The registry closure: `build`, behind the evaluation barrier when
    * `barrier` is set. */
  val query: Queries.Q =
    if (barrier) (s, d) => Queries.evalBarrier(build(s, d)) else build
  def oracle: String = oracleSql
}

object QuerySpec {
  def apply(name: String, build: Queries.Q, oracle: => String,
            barrier: Boolean = false): QuerySpec =
    new QuerySpec(name, build, oracle, barrier)
}
