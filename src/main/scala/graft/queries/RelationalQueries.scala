package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Tables
import graft.ops.{AsOf, Relational, Sessionize, Skew, TextOps}

/** Relational-breadth registry rows (TPC-H-ish queries, event
  * analytics, layouts, profiling and statistics), each with its DuckDB
  * oracle beside its builder.
  */
object RelationalQueries {
  import Queries.events

  /** Shared oracle SQL for the `props` JSON field's integer `k` — the
    * ONE place that owns the serialization assumption (the Spark side
    * reads via get_json_object, which is format-agnostic; the regex is
    * spacing-tolerant so a fixture re-serialization can't break only
    * the oracle). Three rows replay it: props_json, props_variant,
    * feature_psi.
    */
  private val sqlPropsK: String =
    """CAST(regexp_extract(props, '"k":\s*([0-9]+)', 1) AS BIGINT)"""

  /** Shared oracle SQL: `g(h)`, every grid step from `b.lo` to `b.hi`. */
  private def gridSteps: String =
    "(SELECT unnest(generate_series(lo, hi)) AS h FROM b) g"

  /** Shared oracle SQL: the dense hourly series of
    * [[graft.ops.TimeSeries]] — whole hours since the 2024-01-01 grid
    * origin, event counts `cnt(h, event_type, c)`, and `grid`, the
    * global hour span × every event type.
    */
  private def hourGridCtes: String =
    s"""e AS (SELECT (epoch_us(ts) - 1704067200000000)
       |    // 3600000000 AS h, event_type FROM events),
       |cnt AS (SELECT h, event_type, count(*) AS c FROM e
       |  GROUP BY 1, 2),
       |b AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
       |grid AS (SELECT g.h, t.event_type FROM
       |  $gridSteps,
       |  (SELECT DISTINCT event_type FROM events) t)""".stripMargin

  /** [[hourGridCtes]] zero-filled into `dense(h, event_type, c)`, the
    * series every hourly time-series oracle reads.
    */
  private def denseHours(dense: String): String =
    s"""$hourGridCtes,
       |$dense AS (SELECT grid.h, grid.event_type, COALESCE(cnt.c, 0) AS c
       |  FROM grid LEFT JOIN cnt USING (h, event_type))""".stripMargin

  /** Shared oracle SQL: each type's hour count and total over
    * [[denseHours]]`("dense")` (`st`), and every hour's n-scaled
    * deviation from the type mean, `d(event_type, h, dev)`.
    */
  private def hourDevCtes: String =
    """st AS (SELECT event_type, count(*) AS n_hours,
      |    sum(c) AS total FROM dense GROUP BY 1),
      |d AS (SELECT dense.event_type, h,
      |    c * n_hours - total AS dev FROM dense
      |  JOIN st USING (event_type))""".stripMargin

  /** Shared oracle SQL: the as-of rows' sides — clicks `c(user_id,
    * click_id, click_ts)` and purchases `p(user_id, purchase_id,
    * purchase_ts)`, as [[clicksAndPurchases]] builds them.
    */
  private def clickPurchaseCtes: String =
    """c AS (SELECT user_id, event_id AS click_id, ts AS click_ts
      |  FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
      |  FROM events WHERE event_type = 'purchase')""".stripMargin

  /** Shared oracle SQL: [[activationCohort]] — each user's first-event
    * day `f0` and first-purchase day `p0`, and `du(t, ev)`, the days
    * to first purchase capped at 3 and whether it came. `arm` adds
    * leading `du` columns.
    */
  private def cohortCtes(arm: String = ""): String =
    s"""e AS (SELECT user_id, event_type,
       |  epoch_us(ts) // 86400000000 AS day FROM events),
       |f0 AS (SELECT user_id, min(day) AS f FROM e GROUP BY 1),
       |p0 AS (SELECT user_id, min(day) AS p FROM e
       |  WHERE event_type = 'purchase' GROUP BY 1),
       |du AS (SELECT$arm
       |  CASE WHEN p IS NOT NULL AND p - f <= 3 THEN p - f
       |       ELSE 3 END AS t,
       |  p IS NOT NULL AND p - f <= 3 AS ev
       |  FROM f0 LEFT JOIN p0 USING (user_id))""".stripMargin

  /** Shared oracle SQL: the survival census over [[cohortCtes]]' `du` —
    * users and events per day `c(t, n_at, d)` and each day's risk set
    * `r(t, n_at, d, n_risk)`.
    */
  private def riskSetCtes: String =
    """c AS (SELECT t, count(*) AS n_at,
      |  CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM du GROUP BY 1),
      |r AS (SELECT t, n_at, d,
      |  CAST((SELECT sum(n_at) FROM c)
      |    - coalesce(sum(n_at) OVER (ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) AS n_risk
      |  FROM c)""".stripMargin

  /** Shared oracle for quantile_sketch and quantile_sketch_stream: the
    * full-data sketch replay — identical integer bucket/lower ladders
    * and ceil-rank arithmetic, every number exact — so the day-sharded
    * build's green hash proves the merge identity.
    */
  private def quantileSketchOracle: String =
    s"""WITH v AS (SELECT event_type,
       |  CAST(round(value * 100) AS BIGINT) AS c FROM events),
       |bk AS (SELECT event_type, ${OracleSql.qBucket("c")}
       |  AS bucket FROM v),
       |sk AS (SELECT event_type, bucket, count(*) AS cnt FROM bk
       |  GROUP BY 1, 2),
       |cu AS (SELECT event_type, bucket, cnt,
       |  sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
       |    ROWS UNBOUNDED PRECEDING) AS cum,
       |  sum(cnt) OVER (PARTITION BY event_type) AS n,
       |  ${OracleSql.qLower("bucket")} AS lb FROM sk)
       |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       |  min(CASE WHEN cum >= (n * 1 + 1) // 2 THEN lb END) AS p50,
       |  min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN lb END) AS p90,
       |  min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN lb END)
       |    AS p99
       |FROM cu GROUP BY 1""".stripMargin

  /** Shared oracle SQL: psi_drift's replay for the feature `valueExpr`
    * — smoothed 10-bin reference/current split, each term's divisions
    * and DetLn difference in the op's order, bin-ordered fold — up to
    * the `psi` column of its select over `tot`.
    */
  private def psiSql(valueExpr: String): String = {
    val lnr = OracleSql.detLn("(cr + 1) * (nc + b)")
    val lnc = OracleSql.detLn("(cc + 1) * (nr + b)")
    s"""WITH r AS (SELECT
       |  epoch_us(ts) < 1705276800000000 AS rf,
       |  $valueExpr AS c FROM events),
       |mm AS (SELECT min(c) AS lo, max(c) - min(c) + 1 AS width
       |  FROM r),
       |bn AS (SELECT ((c - lo) * 10) // width AS bin,
       |  sum(CASE WHEN rf THEN 1 ELSE 0 END) AS cr,
       |  sum(CASE WHEN NOT rf THEN 1 ELSE 0 END) AS cc
       |  FROM r, mm GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS b,
       |  CAST(sum(cr) AS BIGINT) AS nr,
       |  CAST(sum(cc) AS BIGINT) AS nc FROM bn),
       |terms AS (SELECT bin,
       |  (CAST(cr + 1 AS DOUBLE) / CAST(nr + b AS DOUBLE)
       |   - CAST(cc + 1 AS DOUBLE) / CAST(nc + b AS DOUBLE))
       |  * (($lnr) - ($lnc)) AS term
       |  FROM bn, tot)
       |SELECT b AS n_bins, nr AS n_ref, nc AS n_cur,
       |  (SELECT list_reduce(list_prepend(0.0,
       |     (SELECT list(term ORDER BY bin) FROM terms)),
       |     (x, y) -> x + y)) AS psi""".stripMargin
  }

  /** Shared oracle SQL: the two-feature OLS of per-user spend `y` on
    * event count `x1` and active days `x2` — exact HUGEINT moments over
    * the users `pu` kept by `where`, and the Cramer determinants
    * `det`, `d0`..`d2` in `coef`.
    */
  private def olsCramerCtes(where: String, coef: String): String =
    s"""pu AS (SELECT user_id,
       |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
       |    AS y,
       |  count(*) AS x1,
       |  CAST(count(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT)
       |    AS x2
       |  FROM events GROUP BY 1),
       |m AS (SELECT count(*) AS n,
       |  sum(CAST(x1 AS HUGEINT)) AS s1,
       |  sum(CAST(x2 AS HUGEINT)) AS s2,
       |  sum(CAST(y AS HUGEINT)) AS sy,
       |  sum(CAST(x1 AS HUGEINT) * x1) AS s11,
       |  sum(CAST(x1 AS HUGEINT) * x2) AS s12,
       |  sum(CAST(x2 AS HUGEINT) * x2) AS s22,
       |  sum(CAST(x1 AS HUGEINT) * y) AS s1y,
       |  sum(CAST(x2 AS HUGEINT) * y) AS s2y
       |  FROM pu$where),
       |$coef AS (SELECT *,
       |  CAST(n AS HUGEINT) * (s11 * s22 - s12 * s12)
       |    - s1 * (s1 * s22 - s12 * s2)
       |    + s2 * (s1 * s12 - s11 * s2) AS det,
       |  sy * (s11 * s22 - s12 * s12)
       |    - s1 * (s1y * s22 - s12 * s2y)
       |    + s2 * (s1y * s12 - s11 * s2y) AS d0,
       |  CAST(n AS HUGEINT) * (s1y * s22 - s12 * s2y)
       |    - sy * (s1 * s22 - s12 * s2)
       |    + s2 * (s1 * s2y - s1y * s2) AS d1,
       |  CAST(n AS HUGEINT) * (s11 * s2y - s1y * s12)
       |    - s1 * (s1 * s2y - s1y * s2)
       |    + sy * (s1 * s12 - s11 * s2) AS d2
       |  FROM m)""".stripMargin

  /** Shared oracle for skyline_frontier and its incremental twin: the
    * full-corpus 2-d frontier by the quadratic-free running max.
    */
  private def skylineOracle: String =
    """WITH t AS (SELECT
      |  CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
      |  CAST(round(l_quantity * 100) AS BIGINT) AS qty_cents
      |  FROM lineitem),
      |c AS (SELECT price_cents, max(qty_cents) AS qty_cents
      |  FROM t GROUP BY 1)
      |SELECT price_cents, qty_cents FROM (
      |  SELECT price_cents, qty_cents,
      |    max(qty_cents) OVER (ORDER BY price_cents DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mq
      |  FROM c)
      |WHERE mq IS NULL OR qty_cents > mq""".stripMargin

  /** Shared oracle SQL: the A/B census — per user, the arm
    * (user_id % 2) and spend cents before (`x`) and after (`y`) the
    * 2024-01-15 split, as `pu`.
    */
  private def abUsersCte: String =
    """pu AS (SELECT user_id, max(user_id % 2) AS arm,
      |  coalesce(sum(CASE WHEN epoch_us(ts) < 1705276800000000
      |    THEN CAST(round(value * 100) AS BIGINT) END), 0) AS x,
      |  coalesce(sum(CASE WHEN epoch_us(ts) >= 1705276800000000
      |    THEN CAST(round(value * 100) AS BIGINT) END), 0) AS y
      |  FROM events GROUP BY 1)""".stripMargin

  /** Shared oracle SQL: per-arm user counts and HUGEINT pre/post sums
    * over [[abUsersCte]] (`n_a`, `sx_a`, `sy_a`, then arm b's).
    */
  private def abArmSums: String =
    """sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
      |  sum(CASE WHEN arm = 0 THEN CAST(x AS HUGEINT) ELSE 0 END)
      |    AS sx_a,
      |  sum(CASE WHEN arm = 0 THEN CAST(y AS HUGEINT) ELSE 0 END)
      |    AS sy_a,
      |  sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
      |  sum(CASE WHEN arm = 1 THEN CAST(x AS HUGEINT) ELSE 0 END)
      |    AS sx_b,
      |  sum(CASE WHEN arm = 1 THEN CAST(y AS HUGEINT) ELSE 0 END)
      |    AS sy_b""".stripMargin

  /** Shared oracle SQL: the daily spend census `daily(day, cents)`. */
  private def dailyCentsCte: String =
    """daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |    AS cents
      |  FROM events GROUP BY 1)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q1_pricing", (s, d) => Relational.pricingSummary(Tables.lineitem(s, d)),
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base_price,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |          * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS sum_disc_price,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |          * (100 - CAST(round(l_discount*100) AS BIGINT))
        |          * (100 + CAST(round(l_tax*100) AS BIGINT))) AS DOUBLE)/1000000.0 AS sum_charge,
        | count(*) AS count_order,
        | (CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0)/count(*) AS avg_qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2""".stripMargin,
      barrier = true),
    QuerySpec("q3_top_orders", (s, d) => Relational.topOrders(
      Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d)),
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |          * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1998-03-15'
        |GROUP BY 1, 2, 3 ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin),
    QuerySpec("q5_region_revenue", (s, d) => Relational.regionRevenue(
      Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d),
      Tables.nation(s, d), Tables.region(s, d)),
      """SELECT n_name,
        | CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |          * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1""".stripMargin),
    QuerySpec("anti_no_orders", (s, d) => Relational.customersWithoutOrders(
      Tables.customer(s, d), Tables.orders(s, d)),
      """SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '1998-01-01')""".stripMargin),
    QuerySpec("semi_active_nations", (s, d) => Relational.suppliersInActiveNations(
      Tables.supplier(s, d), Tables.customer(s, d)),
      """SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS s_nationkey
        |FROM supplier s
        |WHERE EXISTS (SELECT 1 FROM customer c
        |              WHERE c.c_nationkey = s.s_nationkey
        |                AND c.c_mktsegment = 'BUILDING')""".stripMargin),
    QuerySpec("window_rank", (s, d) => Relational.topPartsPerBrand(Tables.part(s, d)),
      """SELECT p_brand, rk, p_partkey, p_retailprice FROM (
        | SELECT p_brand,
        |        CAST(row_number() OVER (PARTITION BY p_brand
        |          ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rk,
        |        p_partkey, p_retailprice FROM part) t
        |WHERE rk <= 3""".stripMargin),
    QuerySpec("rollup_summary", (s, d) => Relational.rollupSummary(Tables.lineitem(s, d)),
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),
    QuerySpec("big_orders", (s, d) => Relational.bigOrders(
      Tables.lineitem(s, d), Tables.orders(s, d)),
      """SELECT o_orderkey, o_totalprice, n_lines FROM orders JOIN
        | (SELECT l_orderkey, count(*) AS n_lines FROM lineitem
        |  GROUP BY 1 HAVING count(*) >= 6) t
        | ON o_orderkey = l_orderkey""".stripMargin),
    // set difference (EXCEPT → left-anti on pre-projected keys)
    // cube: all 2^k grouping combinations in one pass (partial aggs
    // expand grouping sets map-side; one shuffle total)
    QuerySpec("cube_summary", (s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity") * 100).cast(LongType))
            .as("qty_cents")),
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT)
        |    AS qty_cents
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin),
    // intersect: customers active in BOTH years (completes the set-op
    // family with except_churned) — plans as a left-semi over
    // pre-projected distinct key sets
    QuerySpec("intersect_loyal", (s, d) => {
      // intersect already returns distinct rows (Distinct over a
      // left-semi) — no explicit distinct on the inputs.
      // year-as-range (not year(col)): a raw-column range predicate
      // reaches the parquet scan as PushedFilters and skips whole
      // row groups by min/max stats; year() would force a full scan.
      def inYear(y: Int) =
        col("o_orderdate") >= lit(s"$y-01-01").cast("date") &&
          col("o_orderdate") <= lit(s"$y-12-31").cast("date")
      val o = Tables.orders(s, d)
      o.filter(inYear(1996)).select(col("o_custkey"))
        .intersect(o.filter(inYear(1998)).select(col("o_custkey")))
    },
      """SELECT o_custkey FROM orders
        |WHERE year(o_orderdate) = 1996
        |INTERSECT
        |SELECT o_custkey FROM orders
        |WHERE year(o_orderdate) = 1998""".stripMargin),
    QuerySpec("except_churned", (s, d) =>
      Relational.churnedCustomers(Tables.orders(s, d)),
      """SELECT DISTINCT o_custkey FROM orders
        |WHERE year(o_orderdate) = 1996
        |EXCEPT
        |SELECT DISTINCT o_custkey FROM orders
        |WHERE year(o_orderdate) = 1998""".stripMargin),
    // pivot with explicit value list (single pass, map-side combine)
    QuerySpec("pivot_events", (s, d) =>
      Relational.eventTypePivot(Tables.events(s, d)),
      """SELECT user_id % 8 AS kpartition,
        |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  count(*) FILTER (WHERE event_type = 'error') AS n_error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS n_view
        |FROM events GROUP BY 1""".stripMargin),
    // robust anomaly flags: lower-median + MAD per event type, summary
    // per group (the flagged rows are the op's output; the registry row
    // aggregates so the compare is group-sized). Doubles are selected
    // elements and IEEE products, never sums — bit-stable both engines.
    QuerySpec("anomaly_mad", (s, d) =>
      Relational.robustAnomalies(
          Tables.events(s, d).select(col("event_type"), col("value")),
          "event_type", "value")
        .groupBy(col("event_type"), col("med"), col("mad"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("is_anom"), 1L).otherwise(0L)).as("n_anom")),
      // lower medians as rank-selected elements (rn = (n+1) DIV 2), the
      // MAD fold and 3.0x boundary as the same IEEE ops as the plan
      """WITH v AS (SELECT event_type AS g, value AS v FROM events),
        |r AS (SELECT g, v,
        |  row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |  count(*) OVER (PARTITION BY g) AS n FROM v),
        |med AS (SELECT g, v AS med FROM r WHERE rn = (n + 1) // 2),
        |a AS (SELECT v.g, v.v, m.med, abs(v.v - m.med) AS adev
        |  FROM v JOIN med m ON v.g = m.g),
        |r2 AS (SELECT g, adev,
        |  row_number() OVER (PARTITION BY g ORDER BY adev) AS rn,
        |  count(*) OVER (PARTITION BY g) AS n FROM a),
        |mad AS (SELECT g, adev AS mad FROM r2 WHERE rn = (n + 1) // 2)
        |SELECT a.g AS event_type, a.med, mad.mad,
        |  count(*) AS n_events,
        |  CAST(sum(CASE WHEN a.adev > 3.0 * mad.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_anom
        |FROM a JOIN mad ON a.g = mad.g
        |GROUP BY 1, 2, 3""".stripMargin),
    // pre-join skew triage: the per-key histogram summary that decides
    // whether a join needs Skew.saltedJoin and at what factor. p99 is
    // an exact rank-selected element found by TWO-PASS selection: pass
    // 1 reduces the per-key counts to a (cnt → freq) histogram whose
    // cardinality is bounded by the VALUE DOMAIN of per-key counts
    // (thousands at any scale), never by key count; the cumulative
    // walk to rank ceil(0.99·n) happens on that driver-side census
    // (the hot-bucket-census pattern, bounded like BPE top-256 /
    // k-means sample caps). No global-order window anywhere: the old
    // row_number().over(orderBy(cnt)) funneled every per-key count row
    // through ONE task — at 1e9 users, a single-task sort of 1e9 rows.
    // Salt = integer ceil of max/mean capped at 32, BigInt-safe.
    QuerySpec("skew_report", (s, d) => {
      val counts = Tables.events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"))
      val hist = counts.groupBy(col("cnt"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("cnt"))
        .collect()
      val nKeys = hist.iterator.map(_.getLong(1)).sum
      val total = hist.iterator.map(r => r.getLong(0) * r.getLong(1)).sum
      val maxCnt = if (hist.isEmpty) 0L else hist.last.getLong(0)
      val rank = math.ceil(0.99 * nKeys).toLong
      var cum = 0L
      var p99 = 0L
      hist.foreach { r =>
        if (cum < rank) { cum += r.getLong(1); if (cum >= rank) p99 = r.getLong(0) }
      }
      val salt = if (total == 0L) 0L
        else ((BigInt(maxCnt) * nKeys + total - 1) / total).min(32).toLong
      s.range(1).select(
        lit(nKeys).as("n_keys"), lit(total).as("total"),
        lit(maxCnt).as("max_cnt"), lit(p99).as("p99_cnt"),
        lit(total.toDouble / nKeys).as("mean_cnt"),
        lit(salt).as("salt"))
    },
      // the same rank-selected p99 + integer ceil salt
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events
        |  GROUP BY 1),
        |r AS (SELECT cnt,
        |  row_number() OVER (ORDER BY cnt, user_id) AS rn,
        |  count(*) OVER () AS n FROM c)
        |SELECT max(n) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total,
        |  max(cnt) AS max_cnt,
        |  max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
        |    THEN cnt END) AS p99_cnt,
        |  CAST(sum(cnt) AS DOUBLE) / CAST(max(n) AS DOUBLE) AS mean_cnt,
        |  CAST(least(32, (max(cnt) * max(n) + sum(cnt) - 1) // sum(cnt))
        |    AS BIGINT) AS salt
        |FROM r""".stripMargin),
    // dataset fingerprints: an ORDER-INDEPENDENT content hash per
    // table (bit_xor of the per-row polynomial hash over a canonical
    // column rendering — integers only, so both engines render
    // identically) — the reproducibility stamp a pipeline logs per
    // stage to prove two runs consumed byte-identical inputs, shuffle
    // layout notwithstanding. XOR commutes, so no sort, no overflow.
    QuerySpec("dataset_fingerprint", (s, d) => {
      import graft.ops.TextOps
      def fp(df: DataFrame, stage: String,
             rowStr: org.apache.spark.sql.Column) = df
        .select(TextOps.polyHash(rowStr).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("fingerprint"))
        .select(lit(stage).as("stage"), col("n_rows"),
          col("fingerprint"))
      val docsFp = fp(Tables.documents(s, d), "documents",
        concat_ws("|", col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("text")))
      val evFp = fp(Tables.events(s, d), "events",
        concat_ws("|", col("event_id"), col("user_id"),
          col("event_type"), round(col("value") * 100).cast(LongType),
          unix_micros(col("ts"))))
      docsFp.unionByName(evFp)
    },
      // same canonical rendering, same char-fold hash, same XOR fold
      {
        def ph(e: String): String =
          s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(range(1, length($e)+1),
             |      i -> CAST(ascii(substr($e, i, 1)) AS BIGINT))),
             |    (acc, c) -> (acc*31+c) % 1000000007)""".stripMargin
        s"""WITH dr AS (SELECT CAST(doc_id AS VARCHAR) || '|' || lang
           |    || '|' || source || '|' || CAST(n_chars AS VARCHAR)
           |    || '|' || text AS rs FROM documents),
           |dh AS (SELECT ${ph("rs")} AS h FROM dr),
           |er AS (SELECT CAST(event_id AS VARCHAR) || '|'
           |    || CAST(user_id AS VARCHAR) || '|' || event_type || '|'
           |    || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
           |    || '|' || CAST(epoch_us(ts) AS VARCHAR) AS rs FROM events),
           |eh AS (SELECT ${ph("rs")} AS h FROM er)
           |SELECT 'documents' AS stage, CAST(count(*) AS BIGINT)
           |    AS n_rows, bit_xor(h) AS fingerprint FROM dh
           |UNION ALL
           |SELECT 'events', CAST(count(*) AS BIGINT), bit_xor(h)
           |FROM eh""".stripMargin
      }),
    // cohort retention — THE telemetry query of the reference's
    // domain: users grouped by first-seen week, the retention matrix
    // as distinct active users per (cohort, week offset). Two
    // aggregates + one user-keyed join; weeks truncated to dates so
    // both engines agree on the grain
    QuerySpec("cohort_retention", (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("week"))
      val cohort = ev.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort"))
      ev.distinct()
        .join(cohort, "user_id")
        .withColumn("week_offset",
          expr("CAST(datediff(week, cohort) AS BIGINT) DIV 7"))
        .groupBy(col("cohort"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },
      """WITH w AS (SELECT DISTINCT user_id,
        |  CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
        |c AS (SELECT user_id, min(week) AS cohort FROM w GROUP BY 1)
        |SELECT c.cohort, CAST(date_diff('day', c.cohort, w.week) // 7
        |    AS BIGINT) AS week_offset,
        |  CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
        |FROM w JOIN c ON w.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin),
    // inequality audit: exact Gini of per-user spend over VALUE
    // groups (whole-dollar quantization bounds the rank-window frame
    // by the value domain; sums are non-negative so div == floor)
    QuerySpec("gini_spend", (s, d) =>
      graft.ops.Eval.giniGrouped(
        Tables.events(s, d).groupBy(col("user_id"))
          .agg(sum(round(col("value") * 100).cast(LongType))
            .as("cents"))
          // floor, not div — and the oracle floors EXPLICITLY too
          // (DuckDB's integer `//` truncates toward zero, measured
          // r11; the r12 negfix sweep caught the old `//` replay):
          // a negative spend total must bucket identically
          // cross-engine
          .select(expr("CAST(floor(cents / 100) AS BIGINT)")
            .as("dollars")),
        "dollars"),
      // HUGEINT product sums mirror the DECIMAL(38,0) chain; one
      // division at the end
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events GROUP BY 1),
        |g AS (SELECT CAST(floor(cents / 100) AS BIGINT) AS x FROM u),
        |grp AS (SELECT x, count(*) AS n FROM g GROUP BY 1),
        |r AS (SELECT x, n, CAST(sum(n) OVER (ORDER BY x
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS endrank FROM grp),
        |m AS (SELECT x, n, endrank * 2 - n + 1 AS mid2 FROM r),
        |a AS (SELECT sum(CAST(x AS HUGEINT) * n * mid2) AS s2,
        |  CAST(sum(x * n) AS BIGINT) AS t,
        |  CAST(sum(n) AS BIGINT) AS n_rows FROM m)
        |SELECT n_rows, t AS total,
        |  CAST(s2 - CAST(n_rows + 1 AS HUGEINT) * t AS DOUBLE)
        |    / CAST(CAST(n_rows AS HUGEINT) * t AS DOUBLE) AS gini
        |FROM a WHERE t > 0""".stripMargin),
    // Benford first-digit audit of the value cents — the fabricated-
    // data / unit-mix smoke alarm; expectations are shared literals
    QuerySpec("benford_values", (s, d) =>
      graft.ops.Eval.benfordAudit(Tables.events(s, d),
        round(col("value") * 100)),
      // same nine literals; share/dev one division/subtraction
      {
        // STRING→double (correctly rounded in both engines): a bare
        // decimal literal parses as DECIMAL in DuckDB, whose →DOUBLE
        // conversion is an int/10^k float division — off by 1 ulp once
        // the scaled integer exceeds 2^53
        val vals = graft.ops.Eval.BenfordP.zipWithIndex.map {
          case (p, i) => s"(${i + 1}, CAST('$p' AS DOUBLE))"
        }.mkString(", ")
        s"""WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS c
           |  FROM events WHERE CAST(round(value * 100) AS BIGINT) > 0),
           |d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT)
           |    AS digit FROM c),
           |g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
           |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM g),
           |b(digit, p) AS (VALUES $vals)
           |SELECT g.digit, g.n,
           |  CAST(g.n AS DOUBLE) / CAST(t.nt AS DOUBLE) AS share,
           |  b.p AS benford_p,
           |  CAST(g.n AS DOUBLE) / CAST(t.nt AS DOUBLE) - b.p AS dev
           |FROM g CROSS JOIN t JOIN b ON g.digit = b.digit""".stripMargin
      }),
    // concentration-curve points over the same dollar groups: share
    // of total spend held by the top 1/10/50% of users, boundary tie
    // groups apportioned by integer count — exact to one division
    QuerySpec("spend_concentration", (s, d) =>
      graft.ops.Eval.concentration(
        Tables.events(s, d).groupBy(col("user_id"))
          .agg(sum(round(col("value") * 100).cast(LongType))
            .as("cents"))
          // floor, not div — see gini_spend
          .select(expr("CAST(floor(cents / 100) AS BIGINT)")
            .as("dollars")),
        "dollars"),
      // same descending value-group cumulation, same integer ceil and
      // boundary apportioning
      """WITH u AS (SELECT user_id,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events GROUP BY 1),
        |g AS (SELECT CAST(floor(cents / 100) AS BIGINT) AS x FROM u),
        |grp AS (SELECT x, count(*) AS n FROM g GROUP BY 1),
        |r AS (SELECT x, n,
        |  CAST(sum(n) OVER (ORDER BY x DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
        |  CAST(sum(x * n) OVER (ORDER BY x DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_s,
        |  CAST(sum(n) OVER () AS BIGINT) AS n_rows,
        |  CAST(sum(x * n) OVER () AS BIGINT) AS total FROM grp),
        |p AS (SELECT unnest([1, 10, 50]) AS pct),
        |j AS (SELECT r.*, CAST(p.pct AS BIGINT) AS pct,
        |  (n_rows * p.pct + 99) // 100 AS m FROM r CROSS JOIN p)
        |SELECT pct, m AS n_top,
        |  cum_s - x * (cum_n - m) AS top_units, total,
        |  CAST(cum_s - x * (cum_n - m) AS DOUBLE)
        |    / CAST(total AS DOUBLE) AS share
        |FROM j WHERE total > 0 AND cum_n - n < m AND m <= cum_n""".stripMargin),
    // feature-dependence audit: contingency lift (log-free PMI) per
    // (event_type, cents-bucket) cell — exact joint/marginal BIGINTs,
    // one division; marginals re-aggregated from the cell frame, the
    // grand total through a single-bucket BHJ (no cartesian)
    QuerySpec("contingency_lift", (s, d) =>
      graft.ops.Eval.contingencyLift(
        Tables.events(s, d).select(col("event_type"),
          least(lit(7L), expr(
            "floor(CAST(round(value * 100) AS BIGINT) / 5000)"))
            .as("vb")),
        "event_type", "vb"),
      // same exact-integer cells/marginals, same single division
      """WITH e AS (SELECT event_type AS x,
        |  least(7, CAST(floor(CAST(round(value * 100) AS BIGINT) / 5000) AS BIGINT)) AS y
        |  FROM events),
        |cells AS (SELECT x, y, count(*) AS n_xy FROM e GROUP BY 1, 2),
        |xm AS (SELECT x, CAST(sum(n_xy) AS BIGINT) AS n_x
        |  FROM cells GROUP BY 1),
        |ym AS (SELECT y, CAST(sum(n_xy) AS BIGINT) AS n_y
        |  FROM cells GROUP BY 1),
        |t AS (SELECT CAST(sum(n_x) AS BIGINT) AS n FROM xm)
        |SELECT cells.x AS event_type, cells.y AS vb, n_xy, n_x, n_y, n,
        |  CAST(n_xy * n AS DOUBLE) / CAST(n_x * n_y AS DOUBLE) AS lift
        |FROM cells JOIN xm USING (x) JOIN ym USING (y) CROSS JOIN t""".stripMargin),
    // feature-drift monitor: add-one-smoothed chi-square between the
    // even/odd event-id snapshots per event type over fixed cents
    // buckets; every term two IEEE roundings from exact integers, the
    // 8-term sum folded in fixed bucket order
    QuerySpec("drift_chi2", (s, d) => {
      val ev = Tables.events(s, d)
      Relational.distributionDrift(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1),
        "event_type", "value")
    },
      // same smoothed terms, same fixed-order fold
      {
        val tcols = (0 until 8).map(i =>
          s"coalesce(max(CASE WHEN b = $i THEN term END), 0.0) AS t_$i")
          .mkString(",\n        |  ")
        val foldSum = (1 until 8)
          .foldLeft("t_0") { case (acc, i) => s"($acc + t_$i)" }
        s"""WITH e AS (SELECT event_type AS g, event_id,
           |  least(7, CAST(round(value * 100) AS BIGINT) // 5000) AS b
           |  FROM events),
           |rr AS (SELECT g, b, count(*) AS r FROM e
           |  WHERE event_id % 2 = 0 GROUP BY 1, 2),
           |oo AS (SELECT g, b, count(*) AS o FROM e
           |  WHERE event_id % 2 = 1 GROUP BY 1, 2),
           |grid AS (SELECT coalesce(rr.g, oo.g) AS g,
           |  coalesce(rr.b, oo.b) AS b, coalesce(rr.r, 0) AS r,
           |  coalesce(oo.o, 0) AS o
           |  FROM rr FULL JOIN oo ON rr.g = oo.g AND rr.b = oo.b),
           |tot AS (SELECT g, sum(r) + 8 AS rt, sum(o) + 8 AS ot
           |  FROM grid GROUP BY 1),
           |tm AS (SELECT grid.g, b,
           |  (CAST((o + 1) * rt AS DOUBLE) - CAST((r + 1) * ot AS DOUBLE))
           |    AS num,
           |  CAST((r + 1) * ot * rt AS DOUBLE) AS den
           |  FROM grid JOIN tot ON grid.g = tot.g),
           |tt AS (SELECT g, b, num * num / den AS term FROM tm),
           |p AS (SELECT g,
           |  $tcols
           |  FROM tt GROUP BY 1)
           |SELECT p.g AS event_type,
           |  CAST(rt - 8 AS BIGINT) AS n_ref,
           |  CAST(ot - 8 AS BIGINT) AS n_cur,
           |  $foldSum AS chi2,
           |  $foldSum > 18.48 AS drifted
           |FROM p JOIN tot ON p.g = tot.g""".stripMargin
      }),
    // incremental view maintenance: a persisted per-user (count, sum)
    // summary + a deterministic CDC day (inserts id%10==0, deletes
    // id%13==0, updates id%7==0 at +5 cents, disjoint) folded by
    // maintainAggregate — delta-sized work, one keyed outer join,
    // never a fact rescan; the oracle recomputes the final state from
    // scratch, so a green hash proves maintained == recomputed
    QuerySpec("ivm_user_totals", (s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast(LongType).as("cents"))
      val base = ev.filter(col("event_id") % 10 =!= 0)
      val summary = base.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
      val inserts = ev.filter(col("event_id") % 10 === 0)
        .select(col("user_id"), lit("I").as("op"),
          lit(null).cast(LongType).as("old_cents"),
          col("cents").as("new_cents"))
      val deletes = base.filter(col("event_id") % 13 === 0 &&
          col("event_id") % 7 =!= 0)
        .select(col("user_id"), lit("D").as("op"),
          col("cents").as("old_cents"),
          lit(null).cast(LongType).as("new_cents"))
      val updates = base.filter(col("event_id") % 7 === 0 &&
          col("event_id") % 13 =!= 0)
        .select(col("user_id"), lit("U").as("op"),
          col("cents").as("old_cents"),
          (col("cents") + 5L).as("new_cents"))
      Relational.maintainAggregate(summary,
        inserts.unionByName(deletes).unionByName(updates), "user_id")
    },
      // scratch recompute of the post-changelog state: per event the
      // CDC day resolves to present/absent/new-value by the same
      // disjoint id classes; a green hash proves the delta fold equals
      // this recompute
      """WITH e AS (SELECT user_id, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |fin AS (
        |  SELECT user_id, cents FROM e WHERE event_id % 10 = 0
        |  UNION ALL
        |  SELECT user_id,
        |    CASE WHEN event_id % 7 = 0 AND event_id % 13 <> 0
        |      THEN cents + 5 ELSE cents END AS cents
        |  FROM e WHERE event_id % 10 <> 0
        |    AND NOT (event_id % 13 = 0 AND event_id % 7 <> 0))
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM fin GROUP BY 1""".stripMargin),
    // running z-score flags (the streaming-shaped anomaly form:
    // flag-then-update against prior history, exact integer/decimal
    // cross-multiplied predicate); AnomalyStream is the serving twin
    QuerySpec("anomaly_running", (s, d) =>
      Relational.runningAnomalies(Tables.events(s, d),
          "event_type", "value", "ts", "event_id")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("is_anom"), 1L).otherwise(0L)).as("n_anom")),
      // the same cross-multiplied DECIMAL(38,0) predicate over
      // preceding-frame integer sums; the empty first frame short-
      // circuits on n >= 30
      """WITH e AS (SELECT event_type AS g, ts, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |w AS (SELECT g, x,
        |  count(*) OVER pre AS n, sum(x) OVER pre AS s,
        |  sum(x * x) OVER pre AS q
        |  FROM e WINDOW pre AS (PARTITION BY g ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT g AS event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN n >= 30 AND
        |    CAST(x * n - s AS DECIMAL(38,0))
        |      * CAST(x * n - s AS DECIMAL(38,0))
        |    > 9 * (CAST(n AS DECIMAL(38,0)) * CAST(q AS DECIMAL(38,0))
        |      - CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0)))
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_anom
        |FROM w GROUP BY 1""".stripMargin),
    // Q12-shape conditional aggregation
    QuerySpec("ship_priority", (s, d) => Relational.shipMonthPriority(
      Tables.lineitem(s, d), Tables.orders(s, d)),
      """SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin),
    // exact per-group quantiles (windowed discrete selection)
    QuerySpec("price_quantiles", (s, d) =>
      Relational.priceQuantiles(Tables.orders(s, d)),
      """WITH s AS (SELECT o_orderpriority,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS pc, o_orderkey
        |  FROM orders),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY pc, o_orderkey) AS rn,
        |  count(*) OVER (PARTITION BY o_orderpriority) AS n FROM s)
        |SELECT o_orderpriority,
        |  max(CASE WHEN rn = ceil(0.5 * n) THEN pc END) AS p50_cents,
        |  max(CASE WHEN rn = ceil(0.9 * n) THEN pc END) AS p90_cents
        |FROM r GROUP BY 1""".stripMargin,
      barrier = true),
    // quantile SCALE path: percentile_approx (mergeable KLL-style
    // sketch, map-side combinable — no per-group sort) gated against
    // the in-plan exact windowed quantiles with a 1% tolerance; the
    // row hashes equal to the oracle's `true` iff the sketch is within
    // tolerance (the approx_distinct pattern). At 100 TB the windowed
    // exact form sorts every group; the sketch is the plan to run.
    QuerySpec("price_quantiles_approx", (s, d) => {
      val exact = Relational.priceQuantiles(Tables.orders(s, d))
      val approx = Tables.orders(s, d)
        .select(col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast(LongType).as("pc"))
        .groupBy(col("o_orderpriority"))
        .agg(percentile_approx(col("pc"),
          array(lit(0.5), lit(0.9)), lit(10000)).as("ap"))
      exact.join(approx, "o_orderpriority")
        .select(col("o_orderpriority"),
          (abs(element_at(col("ap"), 1) - col("p50_cents"))
            .cast(DoubleType) / col("p50_cents").cast(DoubleType)
            <= 0.01).as("p50_ok"),
          (abs(element_at(col("ap"), 2) - col("p90_cents"))
            .cast(DoubleType) / col("p90_cents").cast(DoubleType)
            <= 0.01).as("p90_ok"))
    },
      """SELECT o_orderpriority, true AS p50_ok, true AS p90_ok
        |FROM orders GROUP BY 1""".stripMargin,
      barrier = true),
    // stream-stream attribution join, batch form (same code runs on
    // streams with bounded state — StreamingEquivalenceSpec): each
    // purchase within 30 minutes after a same-user click
    QuerySpec("attribution_join", (s, d) => {
      val ev = events(s, d)
      graft.streaming.JoinStream.clickAttribution(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          horizonSeconds = 1800, joinType = "inner")
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          col("click_ts"), col("purchase_ts"))
    },
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
        |       c.ts AS click_ts, p.ts AS purchase_ts
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""".stripMargin),
    // stream-stream LEFT OUTER attribution (JoinStream): purchases
    // matched to same-user clicks in the trailing hour; purchases
    // with NO qualifying click survive once, null-padded. In
    // streaming the null verdict is emitted only when the click
    // watermark proves no match can still arrive
    // (StreamStreamJoinSpec); this batch replay is the plain interval
    // left join the oracle states.
    QuerySpec("stream_stream_join", (s, d) => {
      val ev = events(s, d)
      graft.streaming.JoinStream.clickAttribution(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        horizonSeconds = 3600, joinType = "left_outer")
    },
      s"""WITH $clickPurchaseCtes
        |SELECT p.user_id, p.purchase_id, p.purchase_ts,
        |  c.click_id, c.click_ts
        |FROM p LEFT JOIN c ON c.user_id = p.user_id
        | AND c.click_ts <= p.purchase_ts
        | AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR""".stripMargin),
    // bucketed co-located join: both sides pre-bucketed on the join
    // key (bucketedTables), so the fact-fact join plans with ZERO
    // exchanges — the write-once-join-many layout (no-Exchange plan
    // asserted in BucketedJoinSpec; correctness here vs the plain
    // join oracle). The groupBy after it is the only shuffle.
    QuerySpec("bucketed_join", (s, d) => {
      val (liT, orT) = bucketedTables(s, d)
      s.table(liT)
        .join(s.table(orT), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(round(col("l_extendedprice") * 100).cast(LongType))
            .as("rev_cents"))
    },
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS rev_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin),
    // per-key token-bucket throttle (RateLimitStream): capacity 2
    // tokens, one token per 4 h of EVENT time — the alert-storm /
    // abuse damper, run here as the streaming operator's batch
    // replay (same fold; stream==batch + semantics-preserving state
    // eviction in RateLimitStreamSpec). Integer balance units make
    // every verdict exact; the oracle replays the per-user fold as a
    // recursive CTE.
    QuerySpec("rate_limit", (s, d) =>
      graft.streaming.RateLimitStream.rateLimit(
          events(s, d), capacityTokens = 2, periodSec = 14400)
        .toDF(),
      """WITH RECURSIVE e AS (SELECT user_id, event_id,
        |  epoch_us(ts) AS us,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS rn
        |  FROM events),
        |f AS (
        |  SELECT user_id, rn, us, event_id,
        |    CAST(14400000000 AS BIGINT) AS bal, true AS accepted
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.us, e.event_id,
        |    CASE WHEN least(28800000000, f.bal + (e.us - f.us))
        |           >= 14400000000
        |         THEN least(28800000000, f.bal + (e.us - f.us))
        |           - 14400000000
        |         ELSE least(28800000000, f.bal + (e.us - f.us)) END,
        |    least(28800000000, f.bal + (e.us - f.us)) >= 14400000000
        |  FROM e JOIN f ON e.user_id = f.user_id AND e.rn = f.rn + 1)
        |SELECT user_id, event_id, accepted FROM f""".stripMargin),
    // Bloom semi-join reduction: the fact side is pre-filtered by a
    // broadcast Bloom over the (filtered) dim side's join keys BEFORE
    // it shuffles — at 100 TB this is the difference between
    // shuffling the whole fact table and shuffling the ~selectivity%
    // that can possibly match (what Spark's runtime row-level filters
    // do; here explicit, sized from the dim count, reusable across
    // queries as a published artifact). False positives are over-keep
    // only; the exact join removes them, so the row hashes equal to
    // the plain join oracle. Reduction factor asserted in
    // BloomJoinSpec.
    QuerySpec("bloom_semijoin", (s, d) => {
      import graft.functions.{GraftBloom, GraftFunctions}
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val bloom = GraftBloom.build(
        urgent.select(col("o_orderkey").as("h")), "h",
        GraftBloom.sizeBits(math.max(1L, urgent.count()), 16), 6)
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"))
        .filter(GraftFunctions.bloomMightContain(col("l_orderkey"), bloom))
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(round(col("l_extendedprice") * 100).cast(LongType))
            .as("rev_cents"))
    },
      """SELECT count(*) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS rev_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin),
    // 2-D skyline (Pareto frontier): the price-volume tradeoff curve
    // over lineitem — grid-pruned two-phase (per-x reduce, bounded
    // bucket-census dominance thresholds, within-bucket window); the
    // quadratic dominance self-join exists ONLY in the oracle
    QuerySpec("skyline_frontier", (s, d) =>
      graft.ops.Skyline.frontier2d(
        Tables.lineitem(s, d).select(
          round(col("l_extendedprice") * 100).cast(LongType)
            .as("price_cents"),
          round(col("l_quantity") * 100).cast(LongType)
            .as("qty_cents")),
        "price_cents", "qty_cents"),
      skylineOracle),
    // partition-pruned scan: events re-laid-out partitionBy
    // (event_type); the equality filter prunes to ONE directory at
    // planning time (PartitionFilters, PartitionedScanSpec) — the
    // layout counterpart of bucketed_join. Oracle = the same filter
    // over the flat table.
    QuerySpec("partitioned_scan", (s, d) => {
      val dir = partitionedEventsDir(s, d)
      Tables.parquet(s, s"$dir/events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(round(col("value") * 100).cast(LongType)).as("cents"))
    },
      """SELECT user_id, count(*) AS n_purchases,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin),
    // DYNAMIC partition pruning: the fact side is the partitioned
    // layout, the filter lives on a joined dim — the partitions to
    // read are only known at RUN time, when the dim's broadcast
    // result seeds a dynamicpruning subquery on the fact's partition
    // column (asserted in PartitionedScanSpec). Static pruning's
    // runtime sibling; completes the layout family with bucketed_join
    // and partitioned_scan.
    QuerySpec("dpp_scan", (s, d) => {
      val dir = partitionedEventsDir(s, d)
      val dim = Tables.parquet(s, s"$dir/dim")
      Tables.parquet(s, s"$dir/events")
        .join(dim.filter(col("status") === "tracked")
          .select("event_type"), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast(LongType)).as("cents"))
    },
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY 1""".stripMargin),
    // Spark 4 VARIANT ingestion: props parsed ONCE into the binary
    // semi-structured type, fields read by path (variant_get) without
    // a declared schema — the open-schema JSON path next to
    // props_json's typed from_json. The oracle extracts k with a
    // regex, independent of either engine's JSON machinery.
    QuerySpec("props_variant", (s, d) =>
      events(s, d)
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'bigint')")
            .as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k")),
      s"""WITH e AS (SELECT event_type,
        |  $sqlPropsK
        |    AS k FROM events)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k
        |FROM e GROUP BY 1""".stripMargin,
      barrier = true),
    // INCREMENTAL skyline maintenance: the frontier is a mergeable
    // summary — skyline(A ∪ B) = skyline(skyline(A) ∪ B) — so a daily
    // delta updates yesterday's (persisted, frontier-sized) artifact
    // in work proportional to |frontier| + |delta|, never re-scanning
    // the corpus. The oracle is the FULL-corpus dominance filter:
    // a green hash proves the merge identity end to end.
    QuerySpec("skyline_incremental", (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast(LongType)
          .as("price_cents"),
        round(col("l_quantity") * 100).cast(LongType).as("qty_cents"))
      val corpus = li.filter(col("l_orderkey") % 10 =!= 0)
        .drop("l_orderkey")
      val delta = li.filter(col("l_orderkey") % 10 === 0)
        .drop("l_orderkey")
      val yesterdays = graft.ops.Skyline.frontier2d(corpus,
        "price_cents", "qty_cents")
      graft.ops.Skyline.frontier2d(yesterdays.unionByName(delta),
        "price_cents", "qty_cents")
    },
      // the incremental path must land on the full-corpus frontier
      skylineOracle),
    // skew-mitigated join: salted fact-dim join, row-identical to the
    // plain join (the oracle IS the plain join)
    QuerySpec("salted_join", (s, d) =>
      Skew.saltedJoin(
        Tables.lineitem(s, d)
          .select(col("l_suppkey").as("suppkey"), col("l_orderkey"),
            col("l_quantity")),
        Tables.supplier(s, d)
          .select(col("s_suppkey").as("suppkey"), col("s_name")),
        key = "suppkey", saltBy = "l_orderkey")
        .groupBy(col("suppkey"), col("s_name"))
        .agg(count(lit(1)).as("n_lines"),
          sum(round(col("l_quantity") * 100).cast(LongType)).as("qty_cents")),
      """SELECT l_suppkey AS suppkey, s_name,
        |  count(*) AS n_lines,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_cents
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2""".stripMargin),
    // semi-structured extraction: typed from_json over the events
    // props payload (Catalyst JsonToStructs, codegen-reachable), then
    // a per-type profile — the props column never leaves the scan
    // unparsed at 100 TB, and the parse is a pure map
    QuerySpec("props_json", (s, d) => {
      val k = from_json(col("props"), StructType(Seq(
        StructField("k", LongType)))).getField("k")
      events(s, d).select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .withColumn("avg_k",
          col("sum_k").cast(DoubleType) / col("n_events").cast(DoubleType))
    },
      // the oracle extracts k with a regex rather than a JSON reader so
      // the check is independent of the engine-side parser under test
      s"""WITH e AS (SELECT event_type,
        |  $sqlPropsK AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  min(k) AS min_k, max(k) AS max_k,
        |  CAST(sum(k) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_k
        |FROM e GROUP BY 1""".stripMargin,
      barrier = true),
    // feature engineering, time-series form: per-event rolling window
    // features (3-event moving sum, delta vs previous event) over each
    // user's event stream — a rows-frame window, one shuffle on
    // user_id then per-key sorted runs, no global sort. Integer cents
    // keep the rolling sums hash-exact.
    QuerySpec("user_rolling", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val w3 = w.rowsBetween(-2, 0)
      events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          round(col("value") * 100).cast(LongType).as("cents"))
        .withColumn("cents_ma3", sum(col("cents")).over(w3))
        .withColumn("delta_cents",
          col("cents") - coalesce(lag(col("cents"), 1).over(w), lit(0L)))
        .drop("ts")
    },
      """WITH e AS (SELECT user_id, event_id, ts,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT user_id, event_id, cents,
        |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cents_ma3,
        |  cents - coalesce(lag(cents) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id), 0) AS delta_cents
        |FROM e""".stripMargin,
      barrier = true),
    // as-of join (inclusive, left semantics): every purchase matched
    // to the user's latest click at-or-before it — merge-based (one
    // shuffle + per-key sort), never an inequality join
    QuerySpec("asof_join", (s, d) => {
      val (clicks, purchases) = clicksAndPurchases(events(s, d))
      AsOf.asofJoin(clicks, purchases,
        key = "user_id", buildTs = "click_ts", probeTs = "purchase_ts",
        buildTie = "click_id")
    },
      s"""WITH $clickPurchaseCtes,
        |j AS (SELECT p.user_id, p.purchase_id, p.purchase_ts,
        |    c.click_id, c.click_ts,
        |    row_number() OVER (PARTITION BY p.purchase_id
        |      ORDER BY c.click_ts DESC, c.click_id DESC) AS rn
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id
        |    AND c.click_ts <= p.purchase_ts)
        |SELECT user_id, purchase_id, purchase_ts, click_id, click_ts
        |FROM j WHERE rn = 1""".stripMargin),
    // NEAREST as-of: each purchase to the user's closest click in
    // EITHER direction (exact integer |Δt|, tie → backward) — two
    // proven merge passes + a probe-keyed decision join
    QuerySpec("asof_nearest", (s, d) => {
      val (clicks, purchases) = clicksAndPurchases(events(s, d))
      AsOf.asofJoinNearest(clicks, purchases,
        key = "user_id", buildTs = "click_ts", probeTs = "purchase_ts",
        buildTie = "click_id", probeId = "purchase_id")
    },
      // both directional winners brute-forced with the kernels' exact
      // tie orders (backward: max ts then max id; forward: min ts then
      // min id), then the op's decision predicate verbatim
      s"""WITH $clickPurchaseCtes,
        |bk AS (SELECT purchase_id, click_id AS b_id, click_ts AS b_ts
        |  FROM (SELECT p.purchase_id, c.click_id, c.click_ts,
        |    row_number() OVER (PARTITION BY p.purchase_id
        |      ORDER BY c.click_ts DESC, c.click_id DESC) AS rn
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.click_ts <= p.purchase_ts) WHERE rn = 1),
        |fw AS (SELECT purchase_id, click_id AS f_id, click_ts AS f_ts
        |  FROM (SELECT p.purchase_id, c.click_id, c.click_ts,
        |    row_number() OVER (PARTITION BY p.purchase_id
        |      ORDER BY c.click_ts ASC, c.click_id ASC) AS rn
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.click_ts >= p.purchase_ts) WHERE rn = 1),
        |dec AS (SELECT p.user_id, p.purchase_id, p.purchase_ts,
        |  b_id, b_ts, f_id, f_ts,
        |  epoch_us(p.purchase_ts) - epoch_us(b_ts) AS db,
        |  epoch_us(f_ts) - epoch_us(p.purchase_ts) AS df,
        |  (f_ts IS NULL OR (b_ts IS NOT NULL AND
        |    epoch_us(p.purchase_ts) - epoch_us(b_ts)
        |      <= epoch_us(f_ts) - epoch_us(p.purchase_ts)))
        |    AS use_back
        |  FROM p LEFT JOIN bk USING (purchase_id)
        |  LEFT JOIN fw USING (purchase_id))
        |SELECT user_id, purchase_id, purchase_ts,
        |  CASE WHEN use_back THEN b_id ELSE f_id END AS click_id,
        |  CASE WHEN use_back THEN b_ts ELSE f_ts END AS click_ts,
        |  CASE WHEN b_ts IS NULL AND f_ts IS NULL THEN NULL
        |    WHEN use_back THEN 'backward' ELSE 'forward' END
        |    AS direction,
        |  CAST(CASE WHEN use_back THEN db ELSE df END AS BIGINT)
        |    AS delta_us
        |FROM dec""".stripMargin),
    // forward as-of (inclusive): every purchase matched to the user's
    // EARLIEST click at-or-after it — the mirror merge (flipped frame,
    // first() carry), e.g. "next touchpoint after conversion"
    QuerySpec("asof_join_forward", (s, d) => {
      val (clicks, purchases) = clicksAndPurchases(events(s, d))
      AsOf.asofJoinForward(clicks, purchases,
        key = "user_id", buildTs = "click_ts", probeTs = "purchase_ts",
        buildTie = "click_id")
    },
      s"""WITH $clickPurchaseCtes,
        |j AS (SELECT p.user_id, p.purchase_id, p.purchase_ts,
        |    c.click_id, c.click_ts,
        |    row_number() OVER (PARTITION BY p.purchase_id
        |      ORDER BY c.click_ts ASC, c.click_id ASC) AS rn
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id
        |    AND c.click_ts >= p.purchase_ts)
        |SELECT user_id, purchase_id, purchase_ts, click_id, click_ts
        |FROM j WHERE rn = 1""".stripMargin),
    // bucketed time-proximity range join: per event, how many other
    // events (any user) landed within ±60 s — the oracle runs the n²
    // inequality self-join this formulation avoids
    QuerySpec("range_prox", (s, d) =>
      AsOf.timeProximityCount(events(s, d), "event_id", "ts", 60),
      // two-sided BETWEEN instead of abs(Δ): the abs() form defeats
      // DuckDB's IEJoin and degrades to a serial nested loop (~n²
      // single-threaded at sf0.1); the range conjunction is the same
      // predicate and IEJoin-able
      """SELECT e.event_id, count(e2.event_id) AS n_concurrent
        |FROM events e LEFT JOIN events e2
        |  ON e2.event_id <> e.event_id
        | AND epoch_us(e2.ts) >= epoch_us(e.ts) - 60000000
        | AND epoch_us(e2.ts) <= epoch_us(e.ts) + 60000000
        |GROUP BY 1""".stripMargin,
      barrier = true),
    // interval overlap join: user sessions × busy hourly windows
    // (hours with >= 25 events), per-window session/user load — the
    // oracle runs the n² inequality join this bucketing avoids
    QuerySpec("interval_join", (s, d) => {
      val ev = events(s, d)
      val sessions = Sessionize.gapsAndIslands(ev)
        .select(col("user_id"), col("sess_start"), col("sess_end"))
      val windows = ev
        .groupBy(date_trunc("HOUR", col("ts")).as("w_start"))
        .agg(count(lit(1)).as("cnt")).filter(col("cnt") >= 25)
        .select(col("w_start"),
          (col("w_start") + expr("INTERVAL 1 HOUR")
            - expr("INTERVAL 1 MICROSECOND")).as("w_end"))
      AsOf.intervalJoin(sessions, windows,
        "sess_start", "sess_end", "w_start", "w_end", bucketSec = 3600L)
        .groupBy(col("w_start"))
        .agg(count(lit(1)).as("n_sessions"),
          countDistinct(col("user_id")).as("n_users"))
    },
      s"""WITH ${OracleSql.sessionStarts()},
        |s AS (SELECT user_id, ts,
        |  sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM f),
        |sess AS (SELECT user_id, min(ts) AS sess_start,
        |  max(ts) AS sess_end FROM s GROUP BY user_id, sess_id),
        |w AS (SELECT date_trunc('hour', ts) AS w_start, count(*) AS cnt
        |  FROM events GROUP BY 1 HAVING count(*) >= 25)
        |SELECT w.w_start, count(*) AS n_sessions,
        |  count(DISTINCT user_id) AS n_users
        |FROM w JOIN sess
        |  ON sess.sess_start <= w.w_start + INTERVAL 1 HOUR
        |                        - INTERVAL 1 MICROSECOND
        | AND w.w_start <= sess.sess_end
        |GROUP BY 1""".stripMargin),
    // snapshot diff: per-user aggregates of an early snapshot
    // (event_id < 5000) vs the full table, every key classified
    QuerySpec("snapshot_diff", (s, d) => {
      def snap(df: DataFrame) = df.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast(LongType)).as("value_cents"))
      val ev = events(s, d)
      Relational.snapshotDiff(
        snap(ev.filter(col("event_id") < 5000)), snap(ev), "user_id")
    },
      """WITH o AS (SELECT user_id, count(*) AS n_events,
        |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
        |      AS value_cents
        |  FROM events WHERE event_id < 5000 GROUP BY 1),
        |n AS (SELECT user_id, count(*) AS n_events,
        |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
        |      AS value_cents
        |  FROM events GROUP BY 1)
        |SELECT coalesce(o.user_id, n.user_id) AS user_id,
        |  o.n_events AS old_n_events, o.value_cents AS old_value_cents,
        |  n.n_events AS new_n_events, n.value_cents AS new_value_cents,
        |  CASE WHEN o.user_id IS NULL THEN 'added'
        |       WHEN n.user_id IS NULL THEN 'removed'
        |       WHEN o.n_events IS DISTINCT FROM n.n_events
        |         OR o.value_cents IS DISTINCT FROM n.value_cents
        |         THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON o.user_id = n.user_id""".stripMargin),
    // N9 CDC apply: the event stream read as a changelog on user_id —
    // every event upserts (event_type, props, value), 'error' acts as
    // the delete tombstone; final state = latest op per key, with
    // tombstoned keys absent
    QuerySpec("cdc_apply", (s, d) =>
      Relational.cdcApply(
        events(s, d).select(col("user_id"), col("event_id"),
          col("event_type"), col("props"), col("value")),
        Seq("user_id"), "event_id",
        col("event_type") === "error"),
      """WITH r AS (SELECT user_id, event_id, event_type, props, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id, event_type, props, value
        |FROM r WHERE rn = 1 AND event_type <> 'error'""".stripMargin),
    // CDC hygiene audit over the same changelog: keys whose upserted
    // value-bucket FLAPS (changes on >= 8 consecutive ops) — the
    // oscillating-dimension smell that bloats SCD2 history and
    // invalidates latest-wins caching; per-key partitioned lag, all
    // integers
    QuerySpec("cdc_flapping", (s, d) => {
      val wk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("CAST(floor(CAST(round(value * 100) AS BIGINT)" +
            " / 5000) AS BIGINT)").as("b"))
        .withColumn("prev", lag(col("b"), 1).over(wk))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_ops"),
          sum(when(col("prev").isNotNull && col("prev") =!= col("b"),
            1L).otherwise(0L)).as("n_changes"))
        .withColumn("flapping", col("n_changes") >= 8L)
    },
      // per-key lag over the changelog order; flap = bucket transition
      """WITH v AS (SELECT user_id, event_id,
        |  CAST(floor(CAST(round(value * 100) AS BIGINT) / 5000)
        |    AS BIGINT) AS b FROM events),
        |l AS (SELECT user_id, b, lag(b) OVER (PARTITION BY user_id
        |  ORDER BY event_id) AS prev FROM v)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_ops,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> b
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> b
        |    THEN 1 ELSE 0 END) AS BIGINT) >= 8 AS flapping
        |FROM l GROUP BY 1""".stripMargin),
    // PII scrub over the event payloads: mask email-like tokens and
    // digit runs, count matches (pure map — no shuffle)
    QuerySpec("pii_scrub", (s, d) =>
      TextOps.piiScrub(events(s, d), "event_id", "props", minDigits = 2),
      """SELECT event_id,
        |  regexp_replace(regexp_replace(props,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g'), '[0-9]{2,}', '<NUM>', 'g') AS clean_text,
        |  CAST(len(regexp_extract_all(props,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(props, '[0-9]{2,}')) AS BIGINT)
        |    AS n_nums
        |FROM events""".stripMargin,
      barrier = true),
    // data-quality audit gate: every expectation a codegen'd boolean
    // in ONE aggregate pass (never a scan per check) + key uniqueness;
    // two checks intentionally fail on the fixture (value<=400 and the
    // event_type enum missing 'error') so both verdicts are exercised
    QuerySpec("data_audit", (s, d) =>
      Relational.dataAudit(events(s, d),
        Seq(
          "event_id_not_null" -> col("event_id").isNotNull,
          "user_id_not_null" -> col("user_id").isNotNull,
          "value_positive" -> (col("value") > 0),
          "value_le_400" -> (col("value") <= 400),
          "event_type_known" -> col("event_type")
            .isin("click", "view", "purchase", "signup"),
          "ts_in_2024" ->
            (col("ts") >= lit("2024-01-01").cast(TimestampType) &&
              col("ts") < lit("2025-01-01").cast(TimestampType))),
        uniqueKeys = Seq("event_id")),
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN coalesce(event_id IS NOT NULL, false)
        |    THEN 0 ELSE 1 END) AS BIGINT) AS v_eid,
        |  CAST(sum(CASE WHEN coalesce(user_id IS NOT NULL, false)
        |    THEN 0 ELSE 1 END) AS BIGINT) AS v_uid,
        |  CAST(sum(CASE WHEN coalesce(value > 0, false)
        |    THEN 0 ELSE 1 END) AS BIGINT) AS v_pos,
        |  CAST(sum(CASE WHEN coalesce(value <= 400, false)
        |    THEN 0 ELSE 1 END) AS BIGINT) AS v_400,
        |  CAST(sum(CASE WHEN coalesce(event_type IN
        |    ('click', 'view', 'purchase', 'signup'), false)
        |    THEN 0 ELSE 1 END) AS BIGINT) AS v_enum,
        |  CAST(sum(CASE WHEN coalesce(ts >= TIMESTAMP '2024-01-01'
        |    AND ts < TIMESTAMP '2025-01-01', false)
        |    THEN 0 ELSE 1 END) AS BIGINT) AS v_ts,
        |  CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS u_eid
        |  FROM events)
        |SELECT 'event_id_not_null' AS check_name, n AS n_rows,
        |  v_eid AS n_violations, v_eid = 0 AS pass FROM a
        |UNION ALL SELECT 'user_id_not_null', n, v_uid, v_uid = 0 FROM a
        |UNION ALL SELECT 'value_positive', n, v_pos, v_pos = 0 FROM a
        |UNION ALL SELECT 'value_le_400', n, v_400, v_400 = 0 FROM a
        |UNION ALL SELECT 'event_type_known', n, v_enum, v_enum = 0 FROM a
        |UNION ALL SELECT 'ts_in_2024', n, v_ts, v_ts = 0 FROM a
        |UNION ALL SELECT 'unique:event_id', n, u_eid, u_eid = 0
        |  FROM a""".stripMargin),
    // window-rank family: percent_rank / cume_dist / dense_rank per
    // user over exact integer cents (ties are real and both engines
    // agree on the SQL-standard peer semantics)
    QuerySpec("rank_features", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("cents"))
      events(s, d)
        .select(col("user_id"), col("event_id"),
          round(col("value") * 100).cast(LongType).as("cents"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .withColumn("drk", dense_rank().over(w).cast(LongType))
    },
      """WITH t AS (SELECT user_id, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT user_id, event_id, cents,
        |  percent_rank() OVER (PARTITION BY user_id ORDER BY cents)
        |    AS pr,
        |  cume_dist() OVER (PARTITION BY user_id ORDER BY cents) AS cd,
        |  CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY cents)
        |    AS BIGINT) AS drk
        |FROM t""".stripMargin,
      barrier = true),
    // equi-depth buckets: per-priority price quartiles via ntile —
    // the window sorts within each group's partition, never globally
    QuerySpec("ntile_stats", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("pc"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast(LongType).as("pc"),
          col("o_orderkey"))
        .withColumn("q", ntile(4).over(w).cast(LongType))
        .groupBy(col("o_orderpriority"), col("q"))
        .agg(count(lit(1)).as("n"), min(col("pc")).as("min_cents"),
          max(col("pc")).as("max_cents"))
    },
      """WITH s AS (SELECT o_orderpriority,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS pc, o_orderkey
        |  FROM orders),
        |t AS (SELECT o_orderpriority, pc,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderpriority
        |    ORDER BY pc, o_orderkey) AS BIGINT) AS q FROM s)
        |SELECT o_orderpriority, q, count(*) AS n,
        |  min(pc) AS min_cents, max(pc) AS max_cents
        |FROM t GROUP BY 1, 2""".stripMargin),
    // incremental adoption metric: per-day new users and the running
    // cumulative count. Two hash aggs collapse the stream to
    // day-grained rows BEFORE the running sum, so the ordered window
    // runs over #days rows (bounded by calendar, not data volume) —
    // the only safe place for a global-order window at 100 TB
    QuerySpec("cumulative_users", (s, d) => {
      val firstSeen = events(s, d).groupBy(col("user_id"))
        .agg(min(date_trunc("DAY", col("ts"))).as("day"))
      val wc = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      firstSeen.groupBy(col("day")).agg(count(lit(1)).as("n_new"))
        .withColumn("n_cum", sum(col("n_new")).over(wc))
    },
      """WITH f AS (SELECT user_id,
        |  CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS day
        |  FROM events GROUP BY 1),
        |d AS (SELECT day, count(*) AS n_new FROM f GROUP BY 1)
        |SELECT day, n_new,
        |  CAST(sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS n_cum
        |FROM d""".stripMargin),
    // ordered funnel by first occurrence: signup → click → purchase
    // with strictly increasing first-event times; one hash agg per
    // user then one global rollup — no window, no self-join
    QuerySpec("funnel_counts", (s, d) => {
      def firstTs(t: String) =
        min(when(col("event_type") === t, col("ts"))).as(s"t_$t")
      events(s, d).groupBy(col("user_id"))
        .agg(firstTs("signup"), firstTs("click"), firstTs("purchase"))
        .select(
          count(lit(1)).as("n_users"),
          sum(when(col("t_signup").isNotNull, 1L).otherwise(0L))
            .as("n_signup"),
          sum(when(col("t_click") > col("t_signup"), 1L).otherwise(0L))
            .as("n_signup_click"),
          sum(when(col("t_click") > col("t_signup") &&
            col("t_purchase") > col("t_click"), 1L).otherwise(0L))
            .as("n_full_funnel"))
    },
      """WITH p AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
        |  min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        |  FROM events GROUP BY 1)
        |SELECT count(*) AS n_users,
        |  CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN t_click > t_signup THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_signup_click,
        |  CAST(sum(CASE WHEN t_click > t_signup
        |    AND t_purchase > t_click THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_full_funnel
        |FROM p""".stripMargin),
    // sequence-model prep: each user's full event history as one
    // ordered row (type sequence + time span). collect_list state is
    // the user's history — bounded by events-per-key like seq_pack,
    // the inherent cost of sequence packing; sort_array orders the
    // (ts, event_id, type) structs deterministically
    QuerySpec("user_sequences", (s, d) =>
      events(s, d)
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))).as("h"))
        .select(col("user_id"),
          size(col("h")).cast(LongType).as("n_events"),
          concat_ws(",",
            transform(col("h"), x => x.getField("event_type"))).as("seq"),
          (unix_micros(element_at(col("h"), -1).getField("ts")) -
            unix_micros(element_at(col("h"), 1).getField("ts")))
            .as("span_us")),
      """SELECT user_id, count(*) AS n_events,
        |  array_to_string(list(event_type ORDER BY ts, event_id), ',')
        |    AS seq,
        |  max(epoch_us(ts)) - min(epoch_us(ts)) AS span_us
        |FROM events GROUP BY 1""".stripMargin),
    // RANGE-frame rolling features: per event, activity in the
    // trailing hour by VALUE range (peers at equal timestamps share
    // one frame, so the result is insensitive to their shuffle order —
    // the reason this uses range, not a rows frame, on a ts that can
    // tie)
    QuerySpec("user_rolling_range", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("us"))
        .rangeBetween(-3600000000L, 0L)
      events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          round(col("value") * 100).cast(LongType).as("cents"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("cents_1h", sum(col("cents")).over(w))
        .drop("us")
    },
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT user_id, event_id, cents,
        |  count(*) OVER (PARTITION BY user_id ORDER BY us
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_1h,
        |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY us
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cents_1h
        |FROM e""".stripMargin,
      barrier = true),
    // feature engineering: one row of model features per user (count /
    // cardinality / integer-cents value / error rate) — single hash
    // aggregate, map-side combinable except the exact countDistinct
    QuerySpec("user_features", (s, d) =>
      events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"),
          sum(round(col("value") * 100).cast(LongType)).as("value_cents"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("n_errors"),
          max(col("event_id")).as("last_event_id"))
        .withColumn("error_rate",
          col("n_errors").cast(DoubleType) /
            col("n_events").cast(DoubleType)),
      """SELECT user_id, count(*) AS n_events,
        |  count(DISTINCT event_type) AS n_types,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS value_cents,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_errors,
        |  max(event_id) AS last_event_id,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS error_rate
        |FROM events GROUP BY 1""".stripMargin),
    // time-series resample: per (hour, type) OHLC bars — open/close by
    // deterministic min_by/max_by over (ts, event_id), one algebraic
    // hash aggregate (streaming-legal; see graft.streaming.OhlcStream)
    QuerySpec("ohlc_bars", (s, d) => graft.ops.TimeSeries.ohlcBars(events(s, d)),
      // open/close via row_number under the same (ts, event_id) total
      // order the Spark min_by/max_by struct uses
      """WITH e AS (SELECT date_trunc('hour', ts) AS hour_start,
        |    event_type, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |r AS (SELECT *,
        |  row_number() OVER (PARTITION BY hour_start, event_type
        |    ORDER BY ts, event_id) AS rn,
        |  row_number() OVER (PARTITION BY hour_start, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rd FROM e)
        |SELECT hour_start, event_type,
        |  max(CASE WHEN rn = 1 THEN c END) AS open_cents,
        |  max(c) AS high_cents, min(c) AS low_cents,
        |  max(CASE WHEN rd = 1 THEN c END) AS close_cents,
        |  count(*) AS n_events
        |FROM r GROUP BY 1, 2""".stripMargin),
    // per-user linear trend: closed-form OLS slope over exact BIGINT
    // sums, one double division at the end
    QuerySpec("trend_slope", (s, d) =>
      graft.ops.TimeSeries.trendSlope(events(s, d), "user_id"),
      """WITH e AS (SELECT user_id,
        |    (epoch_us(ts) - 1704067200000000) // 3600000000 AS x,
        |    CAST(round(value * 100) AS BIGINT) AS y FROM events),
        |s AS (SELECT user_id, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM e GROUP BY 1)
        |SELECT user_id, n,
        |  CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cph
        |FROM s WHERE n * sxx - sx * sx <> 0""".stripMargin),
    // N9 — SCD type-2: the change feed versioned into
    // [valid_from, valid_to) dimension rows, last version open-ended
    // point-in-time feature join: each purchase joins the signup-
    // profile VERSION valid at purchase time (no future leakage) —
    // one backward as-of join on the SCD2 build, never a range join;
    // the oracle runs the interval formulation and hash-matches
    QuerySpec("pit_join", (s, d) => {
      val ev = events(s, d)
      val dim = Relational.scdType2(
        ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("event_id"),
            round(col("value") * 100).cast(LongType)
              .as("profile_cents")),
        "user_id", "ts", "event_id", Seq("profile_cents"))
      graft.ops.AsOf.pointInTimeJoin(dim,
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts"), col("event_id")),
          "user_id", "ts")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("profile_cents"), col("version_n"))
    },
      // the interval formulation of the same semantics
      """WITH su AS (SELECT user_id, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS profile_cents
        |  FROM events WHERE event_type = 'signup'),
        |v AS (SELECT user_id, ts AS valid_from, profile_cents,
        |    lead(ts) OVER w AS valid_to,
        |    CAST(row_number() OVER w AS BIGINT) AS version_n
        |  FROM su WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts, event_id)),
        |p AS (SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.user_id, p.event_id, p.ts,
        |  v.profile_cents, v.version_n
        |FROM p LEFT JOIN v ON p.user_id = v.user_id
        |  AND v.valid_from <= p.ts
        |  AND (v.valid_to IS NULL OR p.ts < v.valid_to)""".stripMargin,
      barrier = true),
    QuerySpec("scd2_build", (s, d) =>
      Relational.scdType2(
        events(s, d).select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"),
          round(col("value") * 100).cast(LongType).as("cents")),
        "user_id", "ts", "event_id", Seq("event_type", "cents")),
      """SELECT user_id, ts AS valid_from, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents,
        |  lead(ts) OVER w AS valid_to,
        |  row_number() OVER w AS version_n,
        |  lead(ts) OVER w IS NULL AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
      barrier = true),
    // time-weighted average: each value weighted by how long it was
    // current (exact integer cents·micros sums, one division)
    QuerySpec("twap", (s, d) =>
      graft.ops.TimeSeries.twap(events(s, d), "user_id"),
      """WITH g AS (SELECT user_id,
        |    CAST(round(value * 100) AS BIGINT) AS c,
        |    epoch_us(lead(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) - epoch_us(ts) AS gap_us
        |  FROM events),
        |a AS (SELECT user_id, sum(c * gap_us) AS ws,
        |    sum(gap_us) AS span_us
        |  FROM g WHERE gap_us IS NOT NULL GROUP BY 1)
        |SELECT user_id, CAST(span_us AS BIGINT) AS span_us,
        |  CAST(ws AS DOUBLE) / CAST(span_us AS DOUBLE) AS twap_cents
        |FROM a WHERE span_us > 0""".stripMargin),
    // first-order Markov transition matrix of event types along each
    // user's timeline
    QuerySpec("event_transitions", (s, d) =>
      graft.ops.TimeSeries.eventTransitions(events(s, d), "user_id"),
      """WITH p AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, to_type, n,
        |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p
        |FROM c JOIN t USING (from_type)""".stripMargin),
    // Poisson dispersion index (variance/mean) of hourly arrivals per
    // type over the same dense grid — the burstiness number that sizes
    // partitions and admission buffers; exact integer sums, ONE division
    QuerySpec("arrival_dispersion", (s, d) =>
      graft.ops.TimeSeries.arrivalDispersion(events(s, d)),
      // same dense-hourly CTE family; D = (n*S2 - S1^2)/((n-1)*S1),
      // integer numerator/denominator, sums CAST from HUGEINT, one division
      s"""WITH ${denseHours("d")}
        |SELECT event_type, count(*) AS n_hours,
        |  CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c*c) AS BIGINT) AS s2,
        |  CAST(count(*)*sum(c*c) - sum(c)*sum(c) AS DOUBLE)
        |    / CAST((count(*)-1)*sum(c) AS DOUBLE) AS dispersion
        |FROM d GROUP BY 1""".stripMargin),
    // cross-series Pearson correlation of hourly volumes per
    // event-type pair, zero-filled over the global hour range
    QuerySpec("series_corr", (s, d) =>
      graft.ops.TimeSeries.seriesCorr(events(s, d)),
      s"""WITH ${denseHours("d")},
        |p AS (SELECT a.event_type AS type_a, b2.event_type AS type_b,
        |    a.c AS x, b2.c AS y
        |  FROM d a JOIN d b2 ON a.h = b2.h
        |    AND a.event_type < b2.event_type),
        |s AS (SELECT type_a, type_b, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
        |    sum(x*x) AS sxx, sum(y*y) AS syy
        |  FROM p GROUP BY 1, 2)
        |SELECT type_a, type_b, CAST(n AS BIGINT) AS n_hours,
        |  CAST(n*sxy - sx*sy AS DOUBLE)
        |    / sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
        |         * CAST(n*syy - sy*sy AS DOUBLE)) AS r
        |FROM s WHERE n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0""".stripMargin),
    // Spearman rho over the same series — monotone association,
    // midranks exact at 2x integer scale
    QuerySpec("series_spearman", (s, d) =>
      graft.ops.TimeSeries.seriesSpearman(events(s, d)),
      s"""WITH ${denseHours("d")},
        |rk AS (SELECT event_type, h,
        |    rank() OVER (PARTITION BY event_type ORDER BY c) * 2
        |      + count(*) OVER (PARTITION BY event_type, c) - 1
        |      AS mid2 FROM d),
        |p AS (SELECT a.event_type AS type_a, b2.event_type AS type_b,
        |    a.mid2 AS x, b2.mid2 AS y
        |  FROM rk a JOIN rk b2 ON a.h = b2.h
        |    AND a.event_type < b2.event_type),
        |s AS (SELECT type_a, type_b, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
        |    sum(x*x) AS sxx, sum(y*y) AS syy
        |  FROM p GROUP BY 1, 2)
        |SELECT type_a, type_b, CAST(n AS BIGINT) AS n_hours,
        |  CAST(n*sxy - sx*sy AS DOUBLE)
        |    / sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
        |         * CAST(n*syy - sy*sy AS DOUBLE)) AS rho
        |FROM s WHERE n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0""".stripMargin),
    // CUSUM level-shift changepoint per type over the same dense
    // hourly series — division-free scaled deviations, peak via the
    // bounded-heap exec
    QuerySpec("cusum_changepoint", (s, d) =>
      graft.ops.TimeSeries.cusumChangepoint(events(s, d)),
      s"""WITH ${denseHours("d")},
        |r AS (SELECT *,
        |    count(*) OVER (PARTITION BY event_type) AS n_hours,
        |    sum(c) OVER (PARTITION BY event_type) AS total FROM d),
        |cu AS (SELECT *, sum(c * n_hours - total) OVER
        |    (PARTITION BY event_type ORDER BY h
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cusum FROM r),
        |p AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(cusum) DESC, h) AS rk FROM cu)
        |SELECT event_type,
        |  make_timestamp((h + 473352) * 3600000000) AS cp_hour,
        |  CAST(abs(cusum) AS BIGINT) AS peak_scaled,
        |  CAST(CASE WHEN cusum > 0 THEN 1 WHEN cusum < 0 THEN -1
        |    ELSE 0 END AS BIGINT) AS sign,
        |  CAST(n_hours AS BIGINT) AS n_hours
        |FROM p WHERE rk = 1""".stripMargin),
    // lag-1..24 autocorrelation per type over the dense hourly
    // series — exact n-scaled-deviation products in DECIMAL(38,0),
    // one division; periodicity shows as the lag-24 spike
    QuerySpec("series_acf", (s, d) =>
      graft.ops.TimeSeries.seriesAcf(events(s, d)),
      // same dense-hourly CTE as series_corr; n-scaled deviations, the
      // lag pairing as an equi-join on h + lag, DECIMAL(38,0) products
      s"""WITH ${denseHours("dense")},
        |$hourDevCtes,
        |p AS (SELECT d.event_type, k.lag,
        |    CAST(d.dev AS DECIMAL(38,0))
        |      * CAST(d2.dev AS DECIMAL(38,0)) AS prod
        |  FROM d
        |  JOIN (SELECT unnest(range(1, 25)) AS lag) k ON true
        |  JOIN d d2 ON d2.event_type = d.event_type
        |    AND d2.h = d.h + k.lag),
        |num AS (SELECT event_type, lag, count(*) AS n_pairs,
        |    sum(prod) AS num FROM p GROUP BY 1, 2),
        |den AS (SELECT event_type,
        |    sum(CAST(dev AS DECIMAL(38,0))
        |      * CAST(dev AS DECIMAL(38,0))) AS den
        |  FROM d GROUP BY 1)
        |SELECT num.event_type, CAST(lag AS BIGINT) AS lag,
        |  n_pairs, CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS r_acf
        |FROM num JOIN den ON num.event_type = den.event_type
        |WHERE den > 0""".stripMargin),
    // effective sample size from those lag correlations: n/(1+2Σρ) —
    // "how many independent observations is this autocorrelated
    // series worth"; lag-ordered fold, two IEEE ops + one division
    QuerySpec("series_ess", (s, d) =>
      graft.ops.TimeSeries.seriesEss(events(s, d)),
      // the series_acf moments; lag-ordered fold to τ, one division
      s"""WITH ${denseHours("dense")},
        |$hourDevCtes,
        |p AS (SELECT d.event_type, k.lag,
        |    CAST(d.dev AS DECIMAL(38,0))
        |      * CAST(d2.dev AS DECIMAL(38,0)) AS prod
        |  FROM d
        |  JOIN (SELECT unnest(range(1, 25)) AS lag) k ON true
        |  JOIN d d2 ON d2.event_type = d.event_type
        |    AND d2.h = d.h + k.lag),
        |num AS (SELECT event_type, lag, sum(prod) AS num
        |  FROM p GROUP BY 1, 2),
        |den AS (SELECT event_type,
        |    sum(CAST(dev AS DECIMAL(38,0))
        |      * CAST(dev AS DECIMAL(38,0))) AS den
        |  FROM d GROUP BY 1),
        |acf AS (SELECT num.event_type, lag,
        |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS r_acf
        |  FROM num JOIN den ON num.event_type = den.event_type
        |  WHERE den > 0),
        |tau AS (SELECT event_type,
        |  1.0 + 2.0 * list_reduce(list_prepend(0.0,
        |    (list(r_acf ORDER BY lag))), (a, b) -> a + b) AS tau
        |  FROM acf GROUP BY event_type)
        |SELECT tau.event_type,
        |  CAST(st.n_hours AS BIGINT) AS n_hours, tau,
        |  CAST(st.n_hours AS DOUBLE) / tau AS ess
        |FROM tau JOIN st ON st.event_type = tau.event_type"""
        .stripMargin),
    // Holt double-exponential one-step backtest vs naive over the
    // daily census — 2^16 fixed-point integer recurrence (floor
    // divisions only), bit-replayed as a recursive CTE in the oracle
    QuerySpec("holt_linear", (s, d) =>
      graft.ops.TimeSeries.holtLinear(events(s, d)),
      // the fixed-point Holt recurrence replayed step-by-step as a
      // recursive CTE; floor division matches the op's floorDiv
      """WITH RECURSIVE daily AS (SELECT
        |  epoch_us(ts) // 86400000000 AS day,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |  FROM events GROUP BY 1),
        |idx AS (SELECT cents,
        |  row_number() OVER (ORDER BY day) AS i FROM daily),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
        |rec(i, l, t, sae) AS (
        |  SELECT CAST(1 AS BIGINT), cents * 65536,
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT rec.i + 1,
        |    (idx.cents * 65536 + 3 * (rec.l + rec.t)) // 4,
        |    ((idx.cents * 65536 + 3 * (rec.l + rec.t)) // 4
        |      - rec.l + 3 * rec.t) // 4,
        |    rec.sae + abs(idx.cents * 65536 - (rec.l + rec.t))
        |  FROM rec JOIN idx ON idx.i = rec.i + 1),
        |fin AS (SELECT sae FROM rec, nn WHERE rec.i = nn.n),
        |nv AS (SELECT CAST(sum(abs(cents - prev) * 65536) AS BIGINT)
        |    AS naive
        |  FROM (SELECT cents, lag(cents) OVER (ORDER BY i) AS prev
        |    FROM idx) WHERE prev IS NOT NULL)
        |SELECT n AS n_days, sae AS holt_sae_fp, naive AS naive_sae_fp,
        |  CAST(sae AS DOUBLE) / CAST(n - 1 AS DOUBLE) / 65536.0
        |    AS holt_mae_cents,
        |  CASE WHEN sae < naive THEN 'holt' ELSE 'naive' END AS winner
        |FROM fin, nv, nn""".stripMargin),
    // robust location: 10%-trimmed mean of event value per type —
    // per-group rank selection (partitioned windows), exact kept-sum,
    // one division
    QuerySpec("trimmed_mean", (s, d) =>
      Relational.trimmedMean(events(s, d), "event_type",
        round(col("value") * 100), "event_id"),
      // per-group rank selection; k = (n div 10) dropped each side,
      // exact kept-cents sum, one division
      """WITH v AS (SELECT event_type AS g,
        |  CAST(round(value * 100) AS BIGINT) AS c, event_id AS tb
        |  FROM events),
        |r AS (SELECT g, c,
        |  row_number() OVER (PARTITION BY g ORDER BY c, tb) AS rn,
        |  count(*) OVER (PARTITION BY g) AS n FROM v),
        |kkk AS (SELECT g, c, rn, CAST(n AS BIGINT) AS n,
        |  CAST(n AS BIGINT) // 10 AS k FROM r)
        |SELECT g AS event_type, CAST(max(n) AS BIGINT) AS n,
        |  CAST(max(k) AS BIGINT) AS n_trimmed_each,
        |  CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(sum(c) AS BIGINT) AS kept_cents,
        |  CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS trimmed_mean_cents
        |FROM kkk WHERE rn > k AND rn <= n - k
        |GROUP BY 1""".stripMargin),
    // shuffle-layout balance audit: bucket the key domain with the
    // replayable fold31-Knuth hash into 32 shuffle buckets and report
    // the spread — the pre-flight check that a key makes a SANE
    // shuffle/bucketing column (skew_report's hash-layout sibling:
    // that one profiles raw key frequency; this one profiles the
    // post-hash partition sizes the exchange will actually see)
    QuerySpec("hash_balance", (s, d) => {
      val u = pmod(
        expr("(user_id % 2147483648L + user_id div 2147483648L)" +
          " % 2147483648L") * lit(2654435761L),
        lit(4294967296L))
      events(s, d)
        .select(pmod(u, lit(32L)).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("n_rows"),
          min(col("n")).as("min_bucket"), max(col("n")).as("max_bucket"))
        .select(col("n_buckets"), col("n_rows"), col("min_bucket"),
          col("max_bucket"),
          ((col("max_bucket") * col("n_buckets")).cast(DoubleType) /
            col("n_rows").cast(DoubleType)).as("imbalance"))
    },
      // the same fold31-Knuth bucketing replayed; spread summary, one
      // division
      """WITH u AS (SELECT
        |  ((user_id % 2147483648 + user_id // 2147483648)
        |    % 2147483648) * 2654435761 % 4294967296 % 32 AS bucket
        |  FROM events),
        |b AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM u
        |  GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(min(n) AS BIGINT) AS min_bucket,
        |  CAST(max(n) AS BIGINT) AS max_bucket,
        |  CAST(max(n) * count(*) AS DOUBLE)
        |    / CAST(sum(n) AS DOUBLE) AS imbalance
        |FROM b""".stripMargin),
    // TPC-H Q21-shaped only-late-supplier: the EXISTS/NOT-EXISTS
    // correlated pattern via the aggregate rewrite — no self-joins,
    // top-20 as TakeOrderedAndProject
    QuerySpec("q21_late_supplier", (s, d) =>
      Relational.q21OnlyLateSupplier(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.supplier(s, d)),
      // the same aggregate rewrite; top-20 under the identical
      // (numwait DESC, suppkey) total order
      """WITH li AS (SELECT l.l_orderkey, l.l_suppkey,
        |  l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS late
        |  FROM lineitem l JOIN orders o
        |    ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'),
        |po AS (SELECT l_orderkey,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
        |  CAST(count(DISTINCT CASE WHEN late THEN l_suppkey END)
        |    AS BIGINT) AS n_late_supp
        |  FROM li GROUP BY 1),
        |ls AS (SELECT DISTINCT l_orderkey, l_suppkey FROM li
        |  WHERE late),
        |w AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS numwait
        |  FROM ls JOIN po USING (l_orderkey)
        |  WHERE n_supp >= 2 AND n_late_supp = 1
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, w.numwait
        |FROM w JOIN supplier s ON s.s_suppkey = w.l_suppkey
        |ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin),
    // hour-of-day seasonal index per type over the same dense
    // series — exact integer products, one division per cell
    QuerySpec("seasonal_profile", (s, d) =>
      graft.ops.TimeSeries.seasonalProfile(events(s, d)),
      s"""WITH ${denseHours("dense")},
        |st AS (SELECT event_type, count(*) AS n_hours,
        |    sum(c) AS total FROM dense GROUP BY 1)
        |SELECT dense.event_type, ((h % 24) + 24) % 24 AS hod,
        |  count(*) AS n_hod_hours,
        |  CAST(sum(c) AS BIGINT) AS events_at_hod,
        |  CAST(sum(c) * max(n_hours) AS DOUBLE)
        |    / CAST(max(total) * count(*) AS DOUBLE) AS seasonal_index
        |FROM dense JOIN st USING (event_type)
        |WHERE total > 0
        |GROUP BY 1, 2""".stripMargin),
    // residual alarm over that baseline: hours beyond 3 sigma of their
    // (type, hour-of-day) slot mean — the test rearranged to
    // (c·n − s)² > 9(n·ss − s²), exact BIGINTs, NO doubles in the
    // decision
    QuerySpec("seasonal_anomaly", (s, d) =>
      graft.ops.TimeSeries.seasonalAnomaly(events(s, d)),
      // the same dense grid; the 3-sigma test as exact integer products
      // on both sides of the inequality
      s"""WITH $hourGridCtes,
        |dense AS (SELECT grid.h, grid.event_type,
        |  CAST(COALESCE(cnt.c, 0) AS BIGINT) AS c
        |  FROM grid LEFT JOIN cnt USING (h, event_type)),
        |slot AS (SELECT event_type, ((h % 24) + 24) % 24 AS hod,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s,
        |  CAST(sum(c * c) AS BIGINT) AS ss
        |  FROM dense GROUP BY 1, 2)
        |SELECT dense.event_type, ((h % 24) + 24) % 24 AS hod, h, c,
        |  (c * n - s) * (c * n - s) AS dev2,
        |  9 * (n * ss - s * s) AS thr9
        |FROM dense JOIN slot ON slot.event_type = dense.event_type
        |  AND slot.hod = ((dense.h % 24) + 24) % 24
        |WHERE (c * n - s) * (c * n - s) > 9 * (n * ss - s * s)"""
        .stripMargin),
    // one-feature decision stump: best value-bucket threshold for
    // "predicts purchase" by exact weighted Gini — census window +
    // struct-min argmin, one double division per side
    QuerySpec("decision_stump", (s, d) =>
      graft.ops.Eval.decisionStump(events(s, d),
        round(col("value") * 100), col("event_type") === "purchase"),
      // bucket-census cumulative split search replayed; gini_w in the
      // op's written-down order, argmin by (gini_w, thr) ORDER + LIMIT
      """WITH v AS (SELECT CAST(floor(
        |    CAST(round(value * 100) AS BIGINT) / 500) AS BIGINT)
        |    AS b,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS p
        |  FROM events),
        |census AS (SELECT b, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(p) AS BIGINT) AS np FROM v GROUP BY 1),
        |cum AS (SELECT b,
        |  CAST(sum(cnt) OVER w AS BIGINT) AS nl,
        |  CAST(sum(np) OVER w AS BIGINT) AS pl,
        |  CAST((SELECT sum(cnt) FROM census) AS BIGINT) AS n,
        |  CAST((SELECT sum(np) FROM census) AS BIGINT) AS p
        |  FROM census WINDOW w AS (ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |side AS (SELECT (b + 1) * 500 AS thr_cents, nl, pl,
        |  n - nl AS nr, p - pl AS pr, n, nl - pl AS ql,
        |  (n - nl) - (p - pl) AS qr
        |  FROM cum WHERE nl < n),
        |g AS (SELECT thr_cents, nl, pl, nr, pr,
        |  (CAST(nl * nl - pl * pl - ql * ql AS DOUBLE)
        |      / CAST(nl AS DOUBLE)
        |    + CAST(nr * nr - pr * pr - qr * qr AS DOUBLE)
        |      / CAST(nr AS DOUBLE)) / CAST(n AS DOUBLE) AS gini_w
        |  FROM side)
        |SELECT thr_cents, nl AS n_left, pl AS pos_left,
        |  nr AS n_right, pr AS pos_right, gini_w
        |FROM g ORDER BY gini_w, thr_cents LIMIT 1""".stripMargin),
    // missing-data fill: linear interpolation of the mean value over
    // gap slots of the dense 10-minute grid, nearest observed slot
    // either side, no extrapolation past the edges
    QuerySpec("interpolate_gaps", (s, d) =>
      graft.ops.TimeSeries.interpolateGaps(events(s, d)),
      // same dense grid, same carry-forward/back windows, same fixed
      // IEEE interpolation tree
      s"""WITH e AS (SELECT event_type,
        |  (epoch_us(ts) - 1704067200000000) // 600000000 AS h,
        |  CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |obs AS (SELECT event_type, h, CAST(sum(c) AS BIGINT) AS s,
        |  count(*) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(h) AS lo, max(h) AS hi FROM e),
        |grid AS (SELECT t.event_type, g.h FROM
        |  (SELECT DISTINCT event_type FROM events) t,
        |  $gridSteps),
        |j AS (SELECT grid.event_type, grid.h, obs.s, obs.n
        |  FROM grid LEFT JOIN obs USING (event_type, h)),
        |w AS (SELECT event_type, h, n,
        |  last_value(CASE WHEN n IS NOT NULL THEN h END IGNORE NULLS)
        |    OVER (PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hp,
        |  last_value(CASE WHEN n IS NOT NULL THEN s END IGNORE NULLS)
        |    OVER (PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS sp,
        |  last_value(CASE WHEN n IS NOT NULL THEN n END IGNORE NULLS)
        |    OVER (PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS np,
        |  first_value(CASE WHEN n IS NOT NULL THEN h END IGNORE NULLS)
        |    OVER (PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS hn,
        |  first_value(CASE WHEN n IS NOT NULL THEN s END IGNORE NULLS)
        |    OVER (PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS sn,
        |  first_value(CASE WHEN n IS NOT NULL THEN n END IGNORE NULLS)
        |    OVER (PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nn
        |  FROM j)
        |SELECT event_type, h, hp, hn,
        |  (CAST(sp AS DOUBLE) / CAST(np AS DOUBLE)
        |      * CAST(hn - h AS DOUBLE)
        |    + CAST(sn AS DOUBLE) / CAST(nn AS DOUBLE)
        |      * CAST(h - hp AS DOUBLE))
        |    / CAST(hn - hp AS DOUBLE) AS v_interp
        |FROM w WHERE n IS NULL AND hp IS NOT NULL AND hn IS NOT NULL""".stripMargin,
      barrier = true),
    // one-step forecast backtest: naive vs seasonal-naive MAE per
    // type over the paired scorable hours; exact |e| sums, the
    // winner decided by an integer compare
    QuerySpec("forecast_backtest", (s, d) =>
      graft.ops.TimeSeries.forecastBacktest(events(s, d)),
      s"""WITH ${denseHours("dense")},
        |lg AS (SELECT event_type, c,
        |    lag(c, 1) OVER w AS pn, lag(c, 24) OVER w AS ps
        |  FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY h))
        |SELECT event_type, count(*) AS n_scored,
        |  CAST(sum(abs(c - pn)) AS BIGINT) AS sae_naive,
        |  CAST(sum(abs(c - ps)) AS BIGINT) AS sae_seasonal,
        |  CAST(sum(abs(c - pn)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS mae_naive,
        |  CAST(sum(abs(c - ps)) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS mae_seasonal,
        |  sum(abs(c - ps)) < sum(abs(c - pn)) AS seasonal_wins
        |FROM lg WHERE ps IS NOT NULL
        |GROUP BY 1""".stripMargin),
    // fixed-horizon LTV: mean day-7/14/30 cumulative cents over
    // exactly the users whose window covers each horizon
    QuerySpec("ltv_horizons", (s, d) =>
      Relational.ltvHorizons(events(s, d)),
      """WITH e AS (SELECT user_id,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |mx AS (SELECT max(day) AS md FROM e),
        |fs AS (SELECT user_id, min(day) AS f FROM e GROUP BY 1),
        |pu AS (SELECT e.user_id, f,
        |    sum(CASE WHEN day < f + 7 THEN c ELSE 0 END) AS s7,
        |    sum(CASE WHEN day < f + 14 THEN c ELSE 0 END) AS s14,
        |    sum(CASE WHEN day < f + 30 THEN c ELSE 0 END) AS s30
        |  FROM e JOIN fs USING (user_id) GROUP BY 1, 2),
        |x AS (SELECT CAST(7 AS BIGINT) AS horizon, s7 AS cents, f
        |    FROM pu
        |  UNION ALL SELECT CAST(14 AS BIGINT), s14, f FROM pu
        |  UNION ALL SELECT CAST(30 AS BIGINT), s30, f FROM pu)
        |SELECT horizon, count(*) AS n_users,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS avg_cents
        |FROM x, mx WHERE md - f >= horizon - 1
        |GROUP BY 1""".stripMargin),
    // l-diversity census: distinct event types per (hod, spend
    // bucket) class — the attribute-disclosure audit beside
    // k_anonymity
    QuerySpec("l_diversity", (s, d) =>
      Relational.lDiversity(
        events(s, d).select(col("event_type"),
          hour(col("ts")).as("hod"),
          // floor semantics, matching k_anonymity's bucket note
          expr("floor(CAST(round(value * 100) AS BIGINT) / 500)")
            .cast(LongType).as("vb")),
        Seq("hod", "vb"), "event_type", l = 3),
      """WITH e AS (SELECT hour(ts) AS hod, event_type,
        |    CAST(floor(CAST(round(value * 100) AS BIGINT) / 500) AS BIGINT) AS vb
        |  FROM events),
        |c AS (SELECT hod, vb,
        |    count(DISTINCT event_type) AS l_div,
        |    count(*) AS class_size FROM e GROUP BY 1, 2)
        |SELECT l_div, count(*) AS n_classes,
        |  CAST(sum(class_size) AS BIGINT) AS n_rows,
        |  l_div < 3 AS risky
        |FROM c GROUP BY 1""".stripMargin),
    // survival analysis: Kaplan-Meier time-to-first-purchase within a
    // 3-day activation window — users converting by day W step the
    // curve, the rest are administratively censored at W (the
    // activation-funnel read of KM); S(t) folds on the driver over
    // the day-domain-bounded census in ONE written-down IEEE order
    // the oracle's ordered list_reduce replays
    QuerySpec("km_conversion", (s, d) => {
      val users = activationCohort(events(s, d))
      graft.ops.Eval.kaplanMeier(users, "dur", "converted")
    },
      // the same census, risk-set cumsum, and ordered product fold
      s"""WITH ${cohortCtes()},
        |$riskSetCtes,
        |ev2 AS (SELECT t, n_risk, d FROM r WHERE d > 0),
        |rn AS (SELECT t, n_risk, d,
        |  row_number() OVER (ORDER BY t) AS k FROM ev2)
        |SELECT t, n_risk, d AS n_events,
        |  list_reduce(list_prepend(1.0,
        |    (SELECT list(1.0 - CAST(d AS DOUBLE)
        |       / CAST(n_risk AS DOUBLE) ORDER BY t) FROM ev2)[1:k]),
        |    (a, b) -> a * b) AS surv
        |FROM rn""".stripMargin),
    // restricted mean survival time over the same cohort/curve: the
    // censoring-proof one-number effect summary; product + area folds
    // driver-side in the written-down order, prefix-replayed oracle
    QuerySpec("km_rmst", (s, d) => {
      val users = activationCohort(events(s, d))
      graft.ops.Eval.rmst(users, "dur", "converted", tau = 3L)
    },
      // the same census; per-grid-day survival via prefix products
      // (j = event days <= k), area by the day-ordered fold
      s"""WITH ${cohortCtes()},
        |$riskSetCtes,
        |evx AS (SELECT t, n_risk, d FROM r WHERE d > 0 AND t < 3),
        |pl AS (SELECT coalesce(list(1.0 - CAST(d AS DOUBLE)
        |    / CAST(n_risk AS DOUBLE) ORDER BY t), []) AS ps FROM evx),
        |days AS (SELECT unnest(range(0, 3)) AS k),
        |jx AS (SELECT days.k,
        |  CAST(count(evx.t) AS BIGINT) AS j
        |  FROM days LEFT JOIN evx ON evx.t <= days.k GROUP BY days.k),
        |sk AS (SELECT k, list_reduce(list_prepend(1.0,
        |    (SELECT ps FROM pl)[1:CAST(j AS INT)]),
        |    (a, b) -> a * b) AS s FROM jx)
        |SELECT CAST(3 AS BIGINT) AS tau,
        |  (SELECT CAST(sum(n_at) AS BIGINT) FROM c) AS n_users,
        |  (SELECT s FROM sk WHERE k = 2) AS surv_tau,
        |  list_reduce(list_prepend(0.0,
        |    (SELECT list(s ORDER BY k) FROM sk)), (a, b) -> a + b)
        |    AS rmst_days""".stripMargin),
    // log-rank test over the same activation cohort, arms by id
    // parity (the A/B assignment): one χ²₁ row (o1, e1, var, chi2),
    // folds driver-side in the written-down order like km_conversion
    QuerySpec("km_logrank", (s, d) => {
      val users = activationCohort(events(s, d))
      graft.ops.Eval.logRank(users, pmod(col("user_id"), lit(2)) === 0,
        "dur", "converted")
    },
      // the same census; risk sets by cumulative subtraction; E and V
      // folded by ordered list_reduce in the op's per-term op order
      s"""WITH ${cohortCtes(" user_id % 2 = 0 AS a,")},
        |c AS (SELECT t, count(*) AS n_at,
        |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_at_a,
        |  CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |  CAST(sum(CASE WHEN ev AND a THEN 1 ELSE 0 END) AS BIGINT)
        |    AS o1
        |  FROM du GROUP BY 1),
        |r AS (SELECT t, d, o1,
        |  CAST((SELECT sum(n_at) FROM c) - coalesce(sum(n_at)
        |    OVER w1, 0) AS BIGINT) AS n,
        |  CAST((SELECT sum(n_at_a) FROM c) - coalesce(sum(n_at_a)
        |    OVER w1, 0) AS BIGINT) AS n1
        |  FROM c WINDOW w1 AS (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |ev2 AS (SELECT t, d, o1, n, n1 FROM r WHERE d > 0),
        |terms AS (SELECT t,
        |  CAST(d * n1 AS DOUBLE) / CAST(n AS DOUBLE) AS eterm,
        |  CASE WHEN n > 1 THEN
        |    CAST(d * n1 AS DOUBLE) / CAST(n AS DOUBLE)
        |    * (CAST(n - n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |    * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))
        |  ELSE 0.0 END AS vterm
        |  FROM ev2),
        |agg AS (SELECT
        |  (SELECT CAST(sum(o1) AS BIGINT) FROM ev2) AS o1,
        |  list_reduce(list_prepend(0.0,
        |    (SELECT list(eterm ORDER BY t) FROM terms)),
        |    (x, y) -> x + y) AS e1,
        |  list_reduce(list_prepend(0.0,
        |    (SELECT list(vterm ORDER BY t) FROM terms)),
        |    (x, y) -> x + y) AS var_lr)
        |SELECT o1, e1, var_lr,
        |  CASE WHEN var_lr > 0 THEN
        |    ((CAST(o1 AS DOUBLE) - e1) * (CAST(o1 AS DOUBLE) - e1))
        |      / var_lr
        |  ELSE 0.0 END AS chi2
        |FROM agg""".stripMargin),
    // NDCG@10 of the train-popularity ranking against held-out
    // orders — the graded ranking metric at its honest baseline;
    // log2 discounts as DetLn divisions, bounded per-customer folds
    QuerySpec("ndcg_popularity", (s, d) => {
      val eng = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey").as("cust"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"),
          col("l_partkey").as("item")),
          col("o_orderkey") === col("l_orderkey"))
      graft.ops.Recommend.ndcgPopularity(
        eng.where(col("l_orderkey") % 10L =!= 0L),
        eng.where(col("l_orderkey") % 10L === 0L))
    },
      // same top-10 census; discounts and both folds replay the op's
      // DetLn divisions and ascending-rank add order
      {
        val dln2 = OracleSql.detLn("2")
        val dlnR1 = OracleSql.detLn("r + 1")
        val dlnRR1 = OracleSql.detLn("rr + 1")
        s"""WITH eng AS (SELECT o.o_custkey AS cust,
           |  l.l_partkey AS item, l.l_orderkey AS ok
           |  FROM orders o JOIN lineitem l
           |    ON o.o_orderkey = l.l_orderkey),
           |pop AS (SELECT item, cnt FROM (SELECT item, count(*) AS cnt
           |    FROM eng WHERE ok % 10 <> 0 GROUP BY 1)
           |  ORDER BY cnt DESC, item LIMIT 10),
           |topk AS (SELECT item,
           |  row_number() OVER (ORDER BY cnt DESC, item) AS r FROM pop),
           |td AS (SELECT item, r, ($dln2) / ($dlnR1) AS d FROM topk),
           |ep AS (SELECT DISTINCT cust, item FROM eng
           |  WHERE ok % 10 = 0),
           |hits AS (SELECT cust,
           |  list_reduce(list_prepend(0.0, list(d ORDER BY r)),
           |    (x, y) -> x + y) AS dcg
           |  FROM ep JOIN td USING (item) GROUP BY cust),
           |mcnt AS (SELECT cust, CAST(count(*) AS BIGINT) AS m FROM ep
           |  GROUP BY 1),
           |kk AS (SELECT CAST(count(*) AS BIGINT) AS kn FROM td),
           |j AS (SELECT mcnt.cust, m, coalesce(hits.dcg, 0.0) AS dcg,
           |  list_reduce(list_prepend(0.0,
           |    list_transform(range(1, least(m, kn) + 1),
           |      rr -> ($dln2) / ($dlnRR1))),
           |    (x, y) -> x + y) AS idcg
           |  FROM mcnt LEFT JOIN hits USING (cust), kk)
           |SELECT cust, m AS n_eval_items, dcg, idcg,
           |  dcg / idcg AS ndcg
           |FROM j""".stripMargin
      }),
    // split-conformal interval on the per-user spend model: fit OLS
    // on users%3==0, calibrate q_hat at 90% on ==1, report exact
    // coverage on ==2 — distribution-free uncertainty on top of
    // ols_fit's exact coefficients
    QuerySpec("conformal_interval", (s, d) =>
      graft.ops.Eval.conformalInterval(
        events(s, d).groupBy(col("user_id"))
          .agg(sum(round(col("value") * 100).cast(LongType)).as("y"),
            count(lit(1)).as("x1"),
            countDistinct(expr("unix_micros(ts) div 86400000000L"))
              .as("x2")),
        "user_id", col("y"), col("x1"), col("x2"),
        col("user_id") % 3L),
      // Cramer fit on the train split, written-down residuals, ceil
      // rank selection, exact coverage ratio
      s"""WITH ${olsCramerCtes(" WHERE user_id % 3 = 0", "dd")},
        |cf AS (SELECT CAST(n AS BIGINT) AS n_train,
        |  CAST(d0 AS DOUBLE) / CAST(det AS DOUBLE) AS b0,
        |  CAST(d1 AS DOUBLE) / CAST(det AS DOUBLE) AS b1,
        |  CAST(d2 AS DOUBLE) / CAST(det AS DOUBLE) AS b2
        |  FROM dd WHERE det <> 0),
        |cal AS (SELECT user_id,
        |  abs(CAST(y AS DOUBLE) - ((b0 + b1 * CAST(x1 AS DOUBLE))
        |    + b2 * CAST(x2 AS DOUBLE))) AS r
        |  FROM pu, cf WHERE user_id % 3 = 1),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM cal),
        |q AS (SELECT max(r) AS q_hat FROM
        |  (SELECT r, row_number() OVER (ORDER BY r, user_id) AS rn
        |   FROM cal), nc
        |  WHERE rn <= ((n_cal + 1) * 9 + 9) // 10),
        |tst AS (SELECT abs(CAST(y AS DOUBLE)
        |    - ((b0 + b1 * CAST(x1 AS DOUBLE))
        |      + b2 * CAST(x2 AS DOUBLE))) AS r
        |  FROM pu, cf WHERE user_id % 3 = 2)
        |SELECT cf.n_train, nc.n_cal,
        |  (SELECT count(*) FROM tst) AS n_test, q.q_hat,
        |  (SELECT CAST(sum(CASE WHEN r <= q.q_hat THEN 1 ELSE 0 END)
        |     AS DOUBLE) FROM tst)
        |    / (SELECT CAST(count(*) AS DOUBLE) FROM tst) AS coverage
        |FROM cf, nc, q""".stripMargin),
    // median spend per type with the distribution-free sign-test CI:
    // rank selection at normal-approx ranks — uncertainty on a
    // quantile with no distributional assumption on values
    QuerySpec("median_ci", (s, d) =>
      graft.ops.Eval.medianCi(events(s, d), "event_type",
        round(col("value") * 100).cast(LongType)),
      // identical rank arithmetic (the one float excursion is the
      // written-down lo_rank formula); selections exact integers
      """WITH g AS (SELECT event_type AS gp,
        |  CAST(round(value * 100) AS BIGINT) AS v, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |cu AS (SELECT gp, v, c,
        |  sum(c) OVER (PARTITION BY gp ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |  sum(c) OVER (PARTITION BY gp) AS n FROM g),
        |r AS (SELECT *, greatest(1, CAST(floor((CAST(n AS DOUBLE)
        |  - 1.959963984540054 * sqrt(CAST(n AS DOUBLE))) / 2.0)
        |  AS BIGINT)) AS lo_rank FROM cu)
        |SELECT gp AS event_type, CAST(max(n) AS BIGINT) AS n,
        |  min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS median,
        |  min(CASE WHEN cum >= lo_rank THEN v END) AS ci_lo,
        |  min(CASE WHEN cum >= n - lo_rank + 1 THEN v END) AS ci_hi
        |FROM r GROUP BY 1""".stripMargin,
      barrier = true),
    // Kendall tau-b leaderboard stability: did the top-100 parts'
    // popularity order reshuffle between order-key halves — exact
    // concordance counting over the bounded top list
    QuerySpec("rank_stability", (s, d) =>
      graft.ops.Eval.rankStability(
        Tables.lineitem(s, d).select(col("l_partkey"),
          col("l_orderkey")),
        "l_partkey", col("l_orderkey") % 2L === 0L),
      // same top census; pair counting is symmetric so any strict
      // pairing gives the op's exact integers; one sqrt, one division
      """WITH b AS (SELECT l_partkey AS e, l_orderkey % 2 = 0 AS h1
        |  FROM lineitem),
        |t AS (SELECT e, count(*) AS c1 FROM b WHERE h1 GROUP BY 1
        |  ORDER BY c1 DESC, e LIMIT 100),
        |r AS (SELECT t.e, t.c1, coalesce(s.c2, 0) AS c2 FROM t
        |  LEFT JOIN (SELECT e, count(*) AS c2 FROM b WHERE NOT h1
        |    GROUP BY 1) s USING (e)),
        |p AS (SELECT a.c1 AS x1, a.c2 AS y1, bb.c1 AS x2,
        |  bb.c2 AS y2 FROM r a JOIN r bb ON a.e < bb.e),
        |c AS (SELECT
        |  CAST(sum(CASE WHEN x1 <> x2 AND y1 <> y2
        |    AND (x1 - x2) * (y1 - y2) > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS conc,
        |  CAST(sum(CASE WHEN x1 <> x2 AND y1 <> y2
        |    AND (x1 - x2) * (y1 - y2) < 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS disc,
        |  CAST(sum(CASE WHEN x1 = x2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS t1,
        |  CAST(sum(CASE WHEN y1 = y2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS t2
        |  FROM p),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) * (count(*) - 1) // 2 AS BIGINT) AS n0
        |  FROM r)
        |SELECT n AS n_items, n0 AS n_pairs, conc AS concordant,
        |  disc AS discordant,
        |  CAST(conc - disc AS DOUBLE)
        |    / sqrt(CAST(n0 - t1 AS DOUBLE) * CAST(n0 - t2 AS DOUBLE))
        |    AS tau_b
        |FROM c, nn""".stripMargin),
    // two-proportion z-squared on purchase rates by arm: the rate
    // sibling of ab_welch — exact integer products, one division
    QuerySpec("two_proportion_z", (s, d) =>
      graft.ops.Eval.twoProportionZ(events(s, d),
        col("user_id") % 2L, col("event_type") === "purchase"),
      // same HUGEINT rearrangement, one division
      """WITH w AS (SELECT
        |  sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
        |  sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
        |    THEN 1 ELSE 0 END) AS k_a,
        |  sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS n_b,
        |  sum(CASE WHEN user_id % 2 <> 0 AND event_type = 'purchase'
        |    THEN 1 ELSE 0 END) AS k_b
        |  FROM events),
        |f AS (SELECT CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b, CAST(k_a AS BIGINT) AS k_a,
        |  CAST(k_b AS BIGINT) AS k_b,
        |  CAST(k_a AS HUGEINT) * n_b - CAST(k_b AS HUGEINT) * n_a
        |    AS num,
        |  CAST(n_a AS HUGEINT) * n_b * (k_a + k_b)
        |    * (n_a + n_b - k_a - k_b) AS den
        |  FROM w
        |  WHERE n_a > 0 AND n_b > 0 AND k_a + k_b > 0
        |    AND n_a + n_b > k_a + k_b)
        |SELECT n_a, n_b, k_a, k_b,
        |  CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS rate_a,
        |  CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS rate_b,
        |  CAST(num * num * (n_a + n_b) AS DOUBLE)
        |    / CAST(den AS DOUBLE) AS z2
        |FROM f""".stripMargin),
    // quantile treatment effects: arm difference of EXACT p50/p90/
    // p99 spend — where in the distribution the arms differ; pure
    // integer rank selection, windows partitioned by arm
    QuerySpec("qte_arms", (s, d) =>
      graft.ops.Eval.quantileTreatment(events(s, d),
        col("user_id") % 2L === 0L,
        round(col("value") * 100).cast(LongType)),
      // identical ceil-rank arithmetic per arm; all-integer outputs
      """WITH g AS (SELECT user_id % 2 = 0 AS a,
        |  CAST(round(value * 100) AS BIGINT) AS v, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |cu AS (SELECT a, v, c,
        |  sum(c) OVER (PARTITION BY a ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS cum,
        |  sum(c) OVER (PARTITION BY a) AS n FROM g),
        |pa AS (SELECT a, CAST(max(n) AS BIGINT) AS n,
        |  min(CASE WHEN cum >= (n * 1 + 1) // 2 THEN v END) AS p50,
        |  min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN v END) AS p90,
        |  min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN v END)
        |    AS p99
        |  FROM cu GROUP BY 1),
        |w AS (SELECT
        |  max(CASE WHEN a THEN n END) AS n_a,
        |  max(CASE WHEN NOT a THEN n END) AS n_b,
        |  max(CASE WHEN a THEN p50 END) AS p50_a,
        |  max(CASE WHEN NOT a THEN p50 END) AS p50_b,
        |  max(CASE WHEN a THEN p90 END) AS p90_a,
        |  max(CASE WHEN NOT a THEN p90 END) AS p90_b,
        |  max(CASE WHEN a THEN p99 END) AS p99_a,
        |  max(CASE WHEN NOT a THEN p99 END) AS p99_b
        |  FROM pa)
        |SELECT n_a, n_b, p50_a, p50_b, p50_b - p50_a AS qte50,
        |  p90_a, p90_b, p90_b - p90_a AS qte90,
        |  p99_a, p99_b, p99_b - p99_a AS qte99
        |FROM w WHERE n_a IS NOT NULL AND n_b IS NOT NULL"""
        .stripMargin),
    // one-way ANOVA screen: does epoch-day-of-week move spend —
    // exact per-group moments, driver fold in group order
    QuerySpec("anova_dow", (s, d) =>
      graft.ops.Eval.anovaF(events(s, d),
        expr("(unix_micros(ts) div 86400000000L) % 7"),
        round(col("value") * 100).cast(LongType)),
      // exact HUGEINT moments; per-group terms and SSB/SSW/F replay
      // the op's written-down order via the g-ordered fold
      """WITH r AS (SELECT (epoch_us(ts) // 86400000000) % 7 AS g,
        |  CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |gr AS (SELECT g, count(*) AS n,
        |  sum(CAST(c AS HUGEINT)) AS s,
        |  sum(CAST(c AS HUGEINT) * c) AS q FROM r GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |  CAST(sum(n) AS BIGINT) AS n, sum(s) AS st, sum(q) AS qt
        |  FROM gr),
        |t1 AS (SELECT list_reduce(list_prepend(0.0,
        |  (SELECT list(CAST(s * s AS DOUBLE) / CAST(n AS DOUBLE)
        |     ORDER BY g) FROM gr)),
        |  (x, y) -> x + y) AS t1v),
        |fin AS (SELECT k, n, t1v,
        |  t1v - CAST(st * st AS DOUBLE) / CAST(n AS DOUBLE) AS ssb,
        |  CAST(qt AS DOUBLE) - t1v AS ssw FROM tot, t1)
        |SELECT k, n, ssb, ssw,
        |  (ssb / CAST(k - 1 AS DOUBLE))
        |    / (ssw / CAST(n - k AS DOUBLE)) AS f_stat
        |FROM fin""".stripMargin),
    // mutual information (nats) between event type and hour-of-day:
    // the single-number dependence score over the lift table,
    // ln through DetLn on integer products, cell-ordered fold
    QuerySpec("mutual_info", (s, d) =>
      graft.ops.Eval.mutualInfo(
        events(s, d).select(col("event_type"),
          expr("(unix_micros(ts) div 3600000000L) % 24").as("hod")),
        "event_type", "hod"),
      // cell-ordered fold of (p_xy)·(DetLn(n_xy·n) − DetLn(n_x·n_y))
      {
        val lnj = OracleSql.detLn("nxy * n")
        val lnm = OracleSql.detLn("nx * ny")
        s"""WITH r AS (SELECT event_type AS x,
           |  (epoch_us(ts) // 3600000000) % 24 AS y FROM events),
           |cl AS (SELECT x, y, count(*) AS nxy FROM r GROUP BY 1, 2),
           |mx AS (SELECT x, CAST(sum(nxy) AS BIGINT) AS nx FROM cl
           |  GROUP BY 1),
           |my AS (SELECT y, CAST(sum(nxy) AS BIGINT) AS ny FROM cl
           |  GROUP BY 1),
           |tt AS (SELECT CAST(sum(nxy) AS BIGINT) AS n,
           |  CAST(count(*) AS BIGINT) AS n_cells FROM cl),
           |terms AS (SELECT cl.x, cl.y,
           |  (CAST(nxy AS DOUBLE) / CAST(n AS DOUBLE))
           |    * (($lnj) - ($lnm)) AS term
           |  FROM cl JOIN mx USING (x) JOIN my USING (y), tt)
           |SELECT n, n_cells,
           |  (SELECT list_reduce(list_prepend(0.0,
           |     (SELECT list(term ORDER BY x, y) FROM terms)),
           |     (a, b) -> a + b)) AS mi_nats
           |FROM tt""".stripMargin
      }),
    // per-user behavioral entropy: diversity of the event-type mix
    // in nats — ln(c/n) as DetLn differences, category-ordered fold;
    // windows nowhere, fully distributed
    QuerySpec("behavior_entropy", (s, d) =>
      graft.ops.Eval.mixEntropy(events(s, d), "user_id",
        "event_type"),
      // flat per-(user, type) terms with DetLn differences, then the
      // type-ordered fold per user; negation after the fold
      {
        val lnC = OracleSql.detLn("c")
        val lnN = OracleSql.detLn("n")
        s"""WITH ct AS (SELECT user_id AS e, event_type AS t,
           |  count(*) AS c FROM events GROUP BY 1, 2),
           |tot AS (SELECT e, CAST(sum(c) AS BIGINT) AS n,
           |  CAST(count(*) AS BIGINT) AS n_types FROM ct GROUP BY 1),
           |terms AS (SELECT ct.e, ct.t,
           |  (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
           |    * (($lnC) - ($lnN)) AS term
           |  FROM ct JOIN tot ON ct.e = tot.e),
           |h AS (SELECT e, -(list_reduce(list_prepend(0.0,
           |    list(term ORDER BY t)), (x, y) -> x + y)) AS entropy
           |  FROM terms GROUP BY e)
           |SELECT tot.e AS user_id, n AS n_events, n_types, entropy
           |FROM tot JOIN h ON tot.e = h.e""".stripMargin
      }),
    // overdispersion audit: per event type, Fano factor of the
    // per-active-user count distribution — var >> mean is the
    // burst/bot signature; exact DECIMAL moments
    QuerySpec("overdispersion", (s, d) =>
      graft.ops.Eval.overdispersion(events(s, d), "event_type",
        "user_id"),
      // exact HUGEINT moments; written-down mean/var/fano divisions
      """WITH cu AS (SELECT event_type AS g, user_id, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT g, count(*) AS n,
        |  sum(CAST(c AS HUGEINT)) AS s,
        |  sum(CAST(c AS HUGEINT) * c) AS q FROM cu GROUP BY 1),
        |t AS (SELECT g, n,
        |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_c,
        |  CAST(CAST(n AS HUGEINT) * q - s * s AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) AS var_c
        |  FROM m WHERE n > 1 AND s > 0)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n_entities,
        |  mean_c, var_c, var_c / mean_c AS fano
        |FROM t""".stripMargin),
    // empirical-Bayes conversion smoothing: per-user purchase rate
    // shrunk toward the pooled prior at strength tau=20 — the CTR
    // shrinkage a ranking feature ships instead of raw rates
    QuerySpec("eb_smooth", (s, d) =>
      graft.ops.Eval.ebSmooth(events(s, d), "user_id",
        col("event_type") === "purchase"),
      // pooled prior one division; per-row written-down arithmetic
      """WITH pu AS (SELECT user_id, count(*) AS n,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |    END) AS BIGINT) AS k
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |  CAST(sum(k) AS BIGINT) AS kk FROM pu)
        |SELECT user_id, CAST(n AS BIGINT) AS n, k,
        |  CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS raw_rate,
        |  (CAST(k AS DOUBLE) + 20.0
        |     * (CAST(kk AS DOUBLE) / CAST(nn AS DOUBLE)))
        |    / CAST(n + 20 AS DOUBLE) AS smoothed
        |FROM pu, tot""".stripMargin),
    // Wald SPRT ledger: daily cumulative LLR of purchase rate
    // 1/20 (H0) vs 3/50 (H1), boundaries ±ln 19 — the "can we stop
    // yet" read; ln constants via DetLn differences
    QuerySpec("sprt_ledger", (s, d) =>
      graft.ops.Eval.sprtLedger(events(s, d),
        expr("unix_micros(ts) div 86400000000L"),
        col("event_type") === "purchase"),
      // DetLn-difference constants, day-ordered cumulative counts,
      // identical boundary comparisons
      {
        val c1 = s"((${OracleSql.detLn("6")}) - (${OracleSql.detLn("5")}))"
        val c2 = s"((${OracleSql.detLn("94")}) - (${OracleSql.detLn("95")}))"
        val lnA = s"(${OracleSql.detLn("19")})"
        s"""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
           |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS c
           |  FROM events),
           |g AS (SELECT day, CAST(sum(c) AS BIGINT) AS dc,
           |  CAST(count(*) - sum(c) AS BIGINT) AS dfl FROM e
           |  GROUP BY 1),
           |cu AS (SELECT day,
           |  CAST(sum(dc) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
           |    AS BIGINT) AS conv,
           |  CAST(sum(dfl) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
           |    AS BIGINT) AS fail FROM g),
           |l AS (SELECT day, conv, fail,
           |  CAST(conv AS DOUBLE) * $c1 + CAST(fail AS DOUBLE) * $c2
           |    AS llr FROM cu)
           |SELECT day, conv, fail, llr,
           |  CASE WHEN llr >= $lnA THEN 'accept_h1'
           |       WHEN llr <= -$lnA THEN 'accept_h0'
           |       ELSE 'continue' END AS verdict
           |FROM l""".stripMargin
      }),
    // exact two-sample KS: did the arms' value distributions move —
    // max |cumA*nB - cumB*nA| over the whole-dollar value domain,
    // one division at the end (the gini value-group discipline)
    QuerySpec("ks_test", (s, d) =>
      graft.ops.Eval.ksTest(events(s, d), col("user_id") % 2L === 0L,
        round(col("value") * 100).cast(LongType)),
      // dollar-domain cumulative counts, exact integer cross products,
      // one division
      """WITH g AS (SELECT
        |  CAST(round(value * 100) AS BIGINT) // 100 AS v,
        |  sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
        |  sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS cb
        |  FROM events GROUP BY 1),
        |c AS (SELECT v, ca, cb,
        |  sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuma,
        |  sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb,
        |  sum(ca) OVER () AS na, sum(cb) OVER () AS nb FROM g),
        |m AS (SELECT CAST(max(na) AS BIGINT) AS n_a,
        |  CAST(max(nb) AS BIGINT) AS n_b,
        |  CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS d_num
        |  FROM c)
        |SELECT n_a, n_b, d_num,
        |  CAST(d_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS d_stat
        |FROM m WHERE n_a > 0 AND n_b > 0""".stripMargin),
    // PSI between the pre-Jan-15 reference and the current period:
    // Laplace-smoothed equi-width bins, ln(p/q) through DetLn on
    // integer products — the industry drift score made bit-exact
    QuerySpec("psi_drift", (s, d) =>
      graft.ops.Eval.psiDrift(events(s, d),
        expr("unix_micros(ts) < 1705276800000000L"),
        round(col("value") * 100).cast(LongType)),
      // same smoothed bins; each term's divisions/subtractions and the
      // DetLn replay run in the op's order; bin-ordered fold
      s"""${psiSql("CAST(round(value * 100) AS BIGINT)")}
         |FROM tot""".stripMargin),
    // the multi-feature monitoring SWEEP over the same split: one PSI
    // row per feature (spend, hour-of-day, dow, payload k) — the
    // "which input drifted" table a model monitor actually pages on;
    // each feature is the psi_drift machinery verbatim, feature list
    // bounded
    QuerySpec("feature_psi", (s, d) => {
      val ev = events(s, d)
      val isRef = expr("unix_micros(ts) < 1705276800000000L")
      val feats: Seq[(String, org.apache.spark.sql.Column)] = Seq(
        "value_cents" -> round(col("value") * 100).cast(LongType),
        "hour_of_day" ->
          expr("(unix_micros(ts) div 3600000000L) % 24"),
        "day_of_week" ->
          expr("((unix_micros(ts) div 86400000000L) + 4L) % 7L"),
        "props_k" ->
          expr("CAST(get_json_object(props, '$.k') AS BIGINT)"))
      // one-pass sweep (r15): the per-feature psiDrift calls cost 2
      // actions × 4 features = 8 table scans; psiDriftMulti computes
      // the same rows (bit-identical folds) from one projection + one
      // aggregate + one binning pass
      graft.ops.Eval.psiDriftMulti(ev, isRef, feats)
    },
      // the psi_drift replay once per feature expression, UNION ALL
      {
        def one(nm: String, valueExpr: String): String =
          s"""SELECT * FROM (
             |${psiSql(valueExpr)},
             |  '$nm' AS feature
             |FROM tot)""".stripMargin
        Seq(
          one("value_cents", "CAST(round(value * 100) AS BIGINT)"),
          one("hour_of_day", "(epoch_us(ts) // 3600000000) % 24"),
          one("day_of_week",
            "((epoch_us(ts) // 86400000000) + 4) % 7"),
          one("props_k", sqlPropsK))
          .mkString("\nUNION ALL\n")
      }),
    // Nelson-Aalen cumulative hazard over the same activation
    // cohort: the survival trio's third member — sum fold of d/n in
    // ascending-t order beside km_conversion's product
    QuerySpec("na_hazard", (s, d) => {
      val users = activationCohort(events(s, d))
      graft.ops.Eval.nelsonAalen(users, "dur", "converted")
    },
      // the km census with the product fold swapped for the hazard SUM
      // fold, same ordered prefix list_reduce
      s"""WITH ${cohortCtes()},
        |$riskSetCtes,
        |ev2 AS (SELECT t, n_risk, d FROM r WHERE d > 0),
        |rn AS (SELECT t, n_risk, d,
        |  row_number() OVER (ORDER BY t) AS k FROM ev2)
        |SELECT t, n_risk, d AS n_events,
        |  list_reduce(list_prepend(0.0,
        |    (SELECT list(CAST(d AS DOUBLE)
        |       / CAST(n_risk AS DOUBLE) ORDER BY t) FROM ev2)[1:k]),
        |    (a, b) -> a + b) AS cumhaz
        |FROM rn""".stripMargin),
    // Theil-Sen robust trend over daily spend totals: median of all
    // pairwise slopes, median residual intercept — rank selection
    // only, immune to flash-sale outlier days that drag OLS
    QuerySpec("theil_sen", (s, d) =>
      graft.ops.TimeSeries.theilSen(events(s, d)),
      // bounded day-domain census; slope/intercept by rank selection
      // under the written-down total orders — comparisons only
      s"""WITH $dailyCentsCte,
        |pr AS (SELECT a.day AS di, b.day AS dj,
        |  CAST(b.cents - a.cents AS DOUBLE)
        |    / CAST(b.day - a.day AS DOUBLE) AS sl
        |  FROM daily a JOIN daily b ON a.day < b.day),
        |cnts AS (SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM daily) AS nd,
        |  (SELECT CAST(count(*) AS BIGINT) FROM pr) AS np),
        |sel AS (SELECT sl FROM (SELECT sl, di, dj,
        |    row_number() OVER (ORDER BY sl, di, dj) AS rn FROM pr),
        |  cnts WHERE rn = (np + 1) // 2),
        |res AS (SELECT CAST(cents AS DOUBLE)
        |    - (SELECT sl FROM sel) * CAST(day AS DOUBLE) AS r, day
        |  FROM daily),
        |ic AS (SELECT r FROM (SELECT r, day,
        |    row_number() OVER (ORDER BY r, day) AS rn FROM res),
        |  cnts WHERE rn = (nd + 1) // 2)
        |SELECT nd AS n_days, np AS n_pairs,
        |  (SELECT sl FROM sel) AS slope_cpd,
        |  (SELECT r FROM ic) AS intercept_c
        |FROM cnts""".stripMargin),
    // Mann-Kendall trend SIGNIFICANCE over the same daily census as
    // theil_sen: exact integer S and 18-scaled tie-corrected
    // variance; z (one sqrt, two divisions) and the alpha=0.05
    // verdict are the only non-integers
    QuerySpec("mann_kendall", (s, d) =>
      graft.ops.TimeSeries.mannKendall(events(s, d)),
      // the same daily census; S from the pair walk, ties grouped on
      // equal totals, z replaying the op's exact (s∓1)/sqrt(var18/18)
      s"""WITH $dailyCentsCte,
        |p AS (SELECT CASE WHEN b.cents > a.cents THEN 1
        |    WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sg
        |  FROM daily a JOIN daily b ON a.day < b.day),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM daily
        |  GROUP BY cents HAVING count(*) > 1),
        |c AS (SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n,
        |  (SELECT CAST(coalesce(sum(sg), 0) AS BIGINT) FROM p) AS s,
        |  (SELECT CAST(coalesce(sum(tt * (tt - 1) * (2 * tt + 5)), 0)
        |    AS BIGINT) FROM t) AS tie18),
        |v AS (SELECT n, s,
        |  n * (n - 1) * (2 * n + 5) - tie18 AS var18 FROM c),
        |z AS (SELECT n, s, var18,
        |  CASE WHEN s > 0 THEN CAST(s - 1 AS DOUBLE)
        |      / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |    WHEN s < 0 THEN CAST(s + 1 AS DOUBLE)
        |      / sqrt(CAST(var18 AS DOUBLE) / 18.0)
        |    ELSE 0.0 END AS z FROM v)
        |SELECT n AS n_days, s AS s_stat, var18, z,
        |  CASE WHEN z > 1.959963984540054 THEN 'increasing'
        |    WHEN z < -1.959963984540054 THEN 'decreasing'
        |    ELSE 'none' END AS trend
        |FROM z""".stripMargin),
    // Wald-Wolfowitz runs test over the same census: regime-clustering
    // vs oscillation — rank-selected median reference, exact integer
    // run counts, normal-approx z in a written-down order
    QuerySpec("runs_test", (s, d) =>
      graft.ops.TimeSeries.runsTest(events(s, d)),
      // rank-selected lower median, median-equal days dropped, run
      // boundaries under the day order, z in the op's op order
      s"""WITH $dailyCentsCte,
        |r AS (SELECT day, cents,
        |  row_number() OVER (ORDER BY cents, day) AS rn,
        |  (SELECT CAST(count(*) AS BIGINT) FROM daily) AS nd
        |  FROM daily),
        |med AS (SELECT cents AS mc FROM r WHERE rn = (nd + 1) // 2),
        |sg AS (SELECT day,
        |  CASE WHEN cents > (SELECT mc FROM med) THEN 1 ELSE -1 END
        |    AS sg
        |  FROM daily WHERE cents <> (SELECT mc FROM med)),
        |l AS (SELECT sg, lag(sg) OVER (ORDER BY day) AS prev FROM sg),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |  CAST(sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n1,
        |  CAST(sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n2,
        |  CAST(sum(CASE WHEN prev IS NULL OR prev <> sg THEN 1
        |    ELSE 0 END) AS BIGINT) AS runs
        |  FROM l),
        |w AS (SELECT m, n1, n2, runs, n1 * n2 * 2 AS a FROM agg
        |  WHERE n1 > 0 AND n2 > 0 AND m > 1)
        |SELECT m, n1, n2, runs,
        |  (CAST(runs AS DOUBLE)
        |    - (CAST(a AS DOUBLE) / CAST(m AS DOUBLE) + 1.0))
        |  / sqrt(CAST(a * (a - m) AS DOUBLE)
        |       / CAST(m * m * (m - 1) AS DOUBLE)) AS z
        |FROM w""".stripMargin),
    // Durbin-Watson residual autocorrelation per type over the dense
    // hourly deviations — DECIMAL(38,0) products, one division,
    // per-type partitioned lag
    QuerySpec("durbin_watson", (s, d) =>
      graft.ops.TimeSeries.durbinWatson(events(s, d)),
      // dense-grid deviations as in series_acf; num/den DECIMAL
      // products, one division
      s"""WITH ${denseHours("dense")},
        |$hourDevCtes,
        |l AS (SELECT event_type, dev,
        |  lag(dev) OVER (PARTITION BY event_type ORDER BY h) AS prev
        |  FROM d),
        |agg AS (SELECT event_type,
        |  sum(CASE WHEN prev IS NOT NULL THEN
        |    CAST(dev - prev AS DECIMAL(38,0))
        |      * CAST(dev - prev AS DECIMAL(38,0)) END) AS num,
        |  sum(CAST(dev AS DECIMAL(38,0))
        |    * CAST(dev AS DECIMAL(38,0))) AS den
        |  FROM l GROUP BY 1)
        |SELECT agg.event_type, CAST(st.n_hours AS BIGINT) AS n_hours,
        |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS dw
        |FROM agg JOIN st ON st.event_type = agg.event_type
        |WHERE den > 0""".stripMargin),
    // XmR control chart over daily totals — Shewhart limits
    // x̄ ± 2.66·m̄R from the moving range, per-day verdicts; exact
    // integer sums, four written-order IEEE ops for the limits
    QuerySpec("xmr_chart", (s, d) =>
      graft.ops.TimeSeries.xmrChart(events(s, d)),
      // daily census; moving-range sum via lag, limits in the op's
      // written order, verdicts by double comparison
      s"""WITH $dailyCentsCte,
        |l AS (SELECT day, cents,
        |  lag(cents) OVER (ORDER BY day) AS prev FROM daily),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(cents) AS BIGINT) AS s,
        |  CAST(sum(abs(cents - prev)) AS BIGINT) AS smr FROM l),
        |m AS (SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |    AS xbar,
        |  CAST(smr AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS mrbar
        |  FROM t WHERE n > 1),
        |lim AS (SELECT xbar, mrbar, xbar + 2.66 * mrbar AS ucl,
        |  xbar - 2.66 * mrbar AS lcl FROM m)
        |SELECT day, cents, xbar, mrbar, ucl, lcl,
        |  CAST(cents AS DOUBLE) > ucl OR CAST(cents AS DOUBLE) < lcl
        |    AS out_of_control
        |FROM daily, lim""".stripMargin),
    // cross-sectional anomaly: the type that moved DIFFERENTLY from
    // its peers that day — leave-one-out 3σ rearranged to
    // (c·k − s)² > 9(k·ss − s²), exact BIGINT decision
    QuerySpec("peer_anomaly", (s, d) =>
      graft.ops.TimeSeries.peerAnomaly(events(s, d)),
      // (day, type) census; leave-one-out moments by subtraction, the
      // integer inequality on both sides
      """WITH cnt AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |  event_type, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |daily AS (SELECT day, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(c) AS BIGINT) AS s_all,
        |  CAST(sum(c * c) AS BIGINT) AS ss_all
        |  FROM cnt GROUP BY 1),
        |j AS (SELECT cnt.day, event_type, c,
        |  n_types - 1 AS k, s_all - c AS s,
        |  ss_all - c * c AS ss
        |  FROM cnt JOIN daily ON daily.day = cnt.day
        |  WHERE n_types >= 3)
        |SELECT day, event_type, c,
        |  (c * k - s) * (c * k - s) AS dev2,
        |  9 * (k * ss - s * s) AS thr9
        |FROM j
        |WHERE (c * k - s) * (c * k - s) > 9 * (k * ss - s * s)"""
        .stripMargin),
    // observed user tenure (last − first activity, days): p50/p90 by
    // rank selection over the calendar-bounded tenure census + exact
    // mean — the engagement-span complement of session_gaps'
    // time-to-return
    QuerySpec("user_tenure", (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val ten = events(s, d).groupBy(col("user_id"))
        .agg(expr("(unix_micros(max(ts)) - unix_micros(min(ts)))" +
          " div 86400000000L").as("tenure_days"))
      val wc = W.orderBy(col("tenure_days"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val wAll = W.rowsBetween(W.unboundedPreceding,
        W.unboundedFollowing)
      ten.groupBy(col("tenure_days")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(wc))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .agg(max(col("n")).as("n_users"),
          sum(col("tenure_days") * col("cnt")).as("tenure_sum"),
          min(when(col("cum") >= expr("(n + 1) div 2"),
            col("tenure_days"))).as("p50_days"),
          min(when(col("cum") >= expr("(9 * n + 9) div 10"),
            col("tenure_days"))).as("p90_days"))
        .select(col("n_users"), col("p50_days"), col("p90_days"),
          (col("tenure_sum").cast(DoubleType) /
            col("n_users").cast(DoubleType)).as("mean_days"))
    },
      // tenure census; rank selection + exact mean
      """WITH t AS (SELECT user_id,
        |  (epoch_us(max(ts)) - epoch_us(min(ts))) // 86400000000
        |    AS tenure_days
        |  FROM events GROUP BY 1),
        |c AS (SELECT tenure_days, CAST(count(*) AS BIGINT) AS cnt
        |  FROM t GROUP BY 1),
        |cum AS (SELECT tenure_days, cnt,
        |  CAST(sum(cnt) OVER (ORDER BY tenure_days ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST((SELECT sum(cnt) FROM c) AS BIGINT) AS n FROM c)
        |SELECT max(n) AS n_users,
        |  min(CASE WHEN cum >= (n + 1) // 2 THEN tenure_days END)
        |    AS p50_days,
        |  min(CASE WHEN cum >= (9 * n + 9) // 10 THEN tenure_days
        |    END) AS p90_days,
        |  CAST((SELECT CAST(sum(tenure_days * cnt) AS BIGINT)
        |    FROM c) AS DOUBLE) / CAST(max(n) AS DOUBLE) AS mean_days
        |FROM cum""".stripMargin),
    // do big buyers repeat big? Pearson r between each purchase and
    // the same user's PREVIOUS purchase — per-user partitioned lag,
    // exact integer moments, the series_corr final expression
    QuerySpec("repeat_value_corr", (s, d) => {
      val wk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100).cast(LongType).as("c"))
        .withColumn("prev", lag(col("c"), 1).over(wk))
        .where(col("prev").isNotNull)
        .agg(count(lit(1)).as("n"), sum(col("prev")).as("sx"),
          sum(col("c")).as("sy"), sum(col("prev") * col("c")).as("sxy"),
          sum(col("prev") * col("prev")).as("sxx"),
          sum(col("c") * col("c")).as("syy"))
        .where(col("n") * col("sxx") - col("sx") * col("sx") > 0L &&
          col("n") * col("syy") - col("sy") * col("sy") > 0L)
        .select(col("n"),
          ((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast(DoubleType) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast(DoubleType) *
              (col("n") * col("syy") - col("sy") * col("sy"))
                .cast(DoubleType))).as("r"))
    },
      // per-user lag pairs; the series_corr closed form
      """WITH p AS (SELECT user_id, ts, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS c FROM events
        |  WHERE event_type = 'purchase'),
        |l AS (SELECT c, lag(c) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id) AS prev FROM p),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(prev) AS BIGINT) AS sx,
        |  CAST(sum(c) AS BIGINT) AS sy,
        |  CAST(sum(prev * c) AS BIGINT) AS sxy,
        |  CAST(sum(prev * prev) AS BIGINT) AS sxx,
        |  CAST(sum(c * c) AS BIGINT) AS syy
        |  FROM l WHERE prev IS NOT NULL)
        |SELECT n,
        |  CAST(n * sxy - sx * sy AS DOUBLE)
        |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |         * CAST(n * syy - sy * sy AS DOUBLE)) AS r
        |FROM a WHERE n * sxx - sx * sx > 0
        |  AND n * syy - sy * sy > 0""".stripMargin),
    // 1-D earth mover's distance between the Jan-1..14 and Jan-15+
    // value distributions over the $5 bucket grid — cross-multiplied
    // CDFs keep every per-bucket term an exact BIGINT, one division
    QuerySpec("emd_drift", (s, d) => {
      val ev = events(s, d)
      graft.ops.Eval.emdDrift(
        ev.filter(expr("unix_micros(ts) < 1705276800000000L")),
        ev.filter(expr("unix_micros(ts) >= 1705276800000000L")),
        round(col("value") * 100))
    },
      // cross-multiplied CDFs over the shared $5 grid; BIGINT sum, one
      // division
      """WITH a AS (SELECT CAST(floor(
        |    CAST(round(value * 100) AS BIGINT) / 500) AS BIGINT)
        |    AS bkt FROM events
        |  WHERE epoch_us(ts) < 1705276800000000),
        |b AS (SELECT CAST(floor(
        |    CAST(round(value * 100) AS BIGINT) / 500) AS BIGINT)
        |    AS bkt FROM events
        |  WHERE epoch_us(ts) >= 1705276800000000),
        |ga AS (SELECT bkt, CAST(count(*) AS BIGINT) AS na FROM a
        |  GROUP BY 1),
        |gb AS (SELECT bkt, CAST(count(*) AS BIGINT) AS nb FROM b
        |  GROUP BY 1),
        |grid AS (SELECT coalesce(ga.bkt, gb.bkt) AS bkt,
        |  coalesce(na, 0) AS na, coalesce(nb, 0) AS nb
        |  FROM ga FULL OUTER JOIN gb ON ga.bkt = gb.bkt),
        |cum AS (SELECT bkt,
        |  CAST(sum(na) OVER w AS BIGINT) AS ca,
        |  CAST(sum(nb) OVER w AS BIGINT) AS cb,
        |  CAST((SELECT sum(na) FROM grid) AS BIGINT) AS ta,
        |  CAST((SELECT sum(nb) FROM grid) AS BIGINT) AS tb,
        |  coalesce(lead(bkt) OVER (ORDER BY bkt) - bkt, 1) AS gap
        |  FROM grid WINDOW w AS (ORDER BY bkt
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT ta AS n_a, tb AS n_b,
        |  CAST(sum(abs(ca * tb - cb * ta) * gap) AS BIGINT)
        |    AS emd_num,
        |  CAST(sum(abs(ca * tb - cb * ta) * gap) AS DOUBLE)
        |    / CAST(ta * tb AS DOUBLE) AS emd_buckets
        |FROM cum GROUP BY 1, 2
        |HAVING ta > 0 AND tb > 0""".stripMargin),
    // Cramér's V between event type and day-of-week index — the
    // [0,1]-normalized association strength over the contingency
    // cells; chi2 via the zero-cell-free identity ΣO²n/(nx·ny) − n,
    // cross-cell sum by the (x,y)-sorted fold
    QuerySpec("cramers_v", (s, d) =>
      graft.ops.Eval.cramersV(events(s, d), col("event_type"),
        expr("(unix_micros(ts) div 86400000000L) % 7")),
      // observed-cell chi2 identity; term order pinned by the (x,y)
      // sorted list fold, V one sqrt of one division
      """WITH e AS (SELECT event_type AS x,
        |  (epoch_us(ts) // 86400000000) % 7 AS y FROM events),
        |cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS o
        |  FROM e GROUP BY 1, 2),
        |nx AS (SELECT x, CAST(sum(o) AS BIGINT) AS nx
        |  FROM cells GROUP BY 1),
        |ny AS (SELECT y, CAST(sum(o) AS BIGINT) AS ny
        |  FROM cells GROUP BY 1),
        |c0 AS (SELECT
        |  (SELECT CAST(sum(nx) AS BIGINT) FROM nx) AS n,
        |  (SELECT CAST(count(*) AS BIGINT) FROM nx) AS r_levels,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ny) AS c_levels),
        |terms AS (SELECT x, y,
        |  CAST(o * o AS DOUBLE) * CAST((SELECT n FROM c0) AS DOUBLE)
        |    / CAST(nx * ny AS DOUBLE) AS term
        |  FROM cells JOIN nx USING (x) JOIN ny USING (y)),
        |f AS (SELECT list_reduce(list_prepend(0.0,
        |    (SELECT list(term ORDER BY x, y) FROM terms)),
        |  (a, b) -> a + b) AS sm)
        |SELECT n, r_levels, c_levels,
        |  sm - CAST(n AS DOUBLE) AS chi2,
        |  sqrt((sm - CAST(n AS DOUBLE))
        |    / CAST(n * least(r_levels - 1, c_levels - 1) AS DOUBLE))
        |    AS v
        |FROM c0, f
        |WHERE r_levels > 1 AND c_levels > 1""".stripMargin),
    // odds ratio + Wald CI for purchase × weekend (dow with the +4
    // Sunday-origin convention): ln(OR) as a DetLn difference on
    // integer products, se from four reciprocals in written order
    QuerySpec("odds_ratio", (s, d) =>
      graft.ops.Eval.oddsRatio(events(s, d),
        expr("((unix_micros(ts) div 86400000000L) + 4L) % 7L IN (0, 6)"),
        col("event_type") === "purchase"),
      // DetLn on the exact integer products a·d and b·c; the four
      // reciprocals summed left-to-right as written
      s"""WITH e AS (SELECT event_type = 'purchase' AS pos,
        |  ((epoch_us(ts) // 86400000000) + 4) % 7 IN (0, 6) AS ex
        |  FROM events),
        |t AS (SELECT
        |  CAST(sum(CASE WHEN pos AND ex THEN 1 ELSE 0 END)
        |    AS BIGINT) AS a,
        |  CAST(sum(CASE WHEN pos AND NOT ex THEN 1 ELSE 0 END)
        |    AS BIGINT) AS b,
        |  CAST(sum(CASE WHEN NOT pos AND ex THEN 1 ELSE 0 END)
        |    AS BIGINT) AS c,
        |  CAST(sum(CASE WHEN NOT pos AND NOT ex THEN 1 ELSE 0 END)
        |    AS BIGINT) AS d
        |  FROM e),
        |w AS (SELECT * FROM t
        |  WHERE a > 0 AND b > 0 AND c > 0 AND d > 0),
        |l AS (SELECT a, b, c, d,
        |  ${OracleSql.detLn("a * d")}
        |    - ${OracleSql.detLn("b * c")} AS ln_or,
        |  sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
        |    + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE))
        |    AS se
        |  FROM w)
        |SELECT a, b, c, d, ln_or, se,
        |  ln_or - 1.959963984540054 * se AS lo,
        |  ln_or + 1.959963984540054 * se AS hi
        |FROM l""".stripMargin),
    // Tukey median polish of the same type × dow table — robust
    // additive decomposition by alternating median sweeps, all
    // integers, the bounded census on the driver (theilSen rule)
    QuerySpec("median_polish", (s, d) =>
      graft.ops.Eval.medianPolish(events(s, d), col("event_type"),
        expr("(unix_micros(ts) div 86400000000L) % 7"),
        round(col("value") * 100)),
      // each sweep replayed as windowed rank selection (lower median),
      // effects recentered exactly as the op does; all BIGINT
      {
        def sweep(k: Int, prev: Int): String =
          s"""rm$k AS (SELECT r, v AS m FROM (
             |  SELECT r, v,
             |    row_number() OVER (PARTITION BY r ORDER BY v) AS rn,
             |    count(*) OVER (PARTITION BY r) AS n FROM re$prev)
             |  WHERE rn = (n + 1) // 2),
             |rea$k AS (SELECT re$prev.r, c, v - m AS v FROM re$prev
             |  JOIN rm$k ON rm$k.r = re$prev.r),
             |roa$k AS (SELECT ro$prev.r, e + m AS e FROM ro$prev
             |  JOIN rm$k ON rm$k.r = ro$prev.r),
             |rom$k AS (SELECT e AS m FROM (SELECT e,
             |    row_number() OVER (ORDER BY e) AS rn,
             |    count(*) OVER () AS n FROM roa$k)
             |  WHERE rn = (n + 1) // 2),
             |ro$k AS (SELECT r, e - (SELECT m FROM rom$k) AS e
             |  FROM roa$k),
             |cm$k AS (SELECT c, v AS m FROM (
             |  SELECT c, v,
             |    row_number() OVER (PARTITION BY c ORDER BY v) AS rn,
             |    count(*) OVER (PARTITION BY c) AS n FROM rea$k)
             |  WHERE rn = (n + 1) // 2),
             |re$k AS (SELECT r, rea$k.c, v - m AS v FROM rea$k
             |  JOIN cm$k ON cm$k.c = rea$k.c),
             |coa$k AS (SELECT co$prev.c, e + m AS e FROM co$prev
             |  JOIN cm$k ON cm$k.c = co$prev.c),
             |com$k AS (SELECT e AS m FROM (SELECT e,
             |    row_number() OVER (ORDER BY e) AS rn,
             |    count(*) OVER () AS n FROM coa$k)
             |  WHERE rn = (n + 1) // 2),
             |co$k AS (SELECT c, e - (SELECT m FROM com$k) AS e
             |  FROM coa$k)""".stripMargin
        s"""WITH re0 AS (SELECT event_type AS r,
           |  (epoch_us(ts) // 86400000000) % 7 AS c,
           |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           |    AS v
           |  FROM events GROUP BY 1, 2),
           |ro0 AS (SELECT DISTINCT r, CAST(0 AS BIGINT) AS e FROM re0),
           |co0 AS (SELECT DISTINCT c, CAST(0 AS BIGINT) AS e FROM re0),
           |${sweep(1, 0)},
           |${sweep(2, 1)},
           |ov AS (SELECT (SELECT m FROM rom1) + (SELECT m FROM com1)
           |  + (SELECT m FROM rom2) + (SELECT m FROM com2) AS v)
           |SELECT 'overall' AS component, CAST(NULL AS VARCHAR) AS r,
           |  CAST(NULL AS BIGINT) AS c,
           |  CAST((SELECT v FROM ov) AS BIGINT) AS value
           |UNION ALL
           |SELECT 'row', r, NULL, CAST(e AS BIGINT) FROM ro2
           |UNION ALL
           |SELECT 'col', NULL, c, CAST(e AS BIGINT) FROM co2
           |UNION ALL
           |SELECT 'resid', r, c, CAST(v AS BIGINT) FROM re2"""
          .stripMargin
      }),
    // RFM segmentation at the decay_score reference instant —
    // value-census quintile binning (bounded by the quantization
    // grid, not user count), all integers end to end
    QuerySpec("rfm_segments", (s, d) =>
      Relational.rfmSegments(events(s, d), refEpochSec = 1706659200L),
      // value-census quintile binning replayed per metric; every score
      // an exact integer formula over census cumulative counts
      """WITH per AS (SELECT user_id,
        |  (1706659200000000 - max(epoch_us(ts))) // 86400000000
        |    AS rec_days,
        |  CAST(count(*) AS BIGINT) AS freq,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS cts
        |  FROM events GROUP BY 1),
        |p2 AS (SELECT user_id, rec_days, freq, cts,
        |  cts // 10000 AS dollars_h FROM per),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p2),
        |rb AS (SELECT rec_days,
        |  ((CAST(sum(cnt) OVER (ORDER BY rec_days DESC ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - cnt)
        |    * 5) // (SELECT n FROM nt) + 1 AS r_score
        |  FROM (SELECT rec_days, CAST(count(*) AS BIGINT) AS cnt
        |    FROM p2 GROUP BY 1)),
        |fb AS (SELECT freq,
        |  ((CAST(sum(cnt) OVER (ORDER BY freq ASC ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - cnt)
        |    * 5) // (SELECT n FROM nt) + 1 AS f_score
        |  FROM (SELECT freq, CAST(count(*) AS BIGINT) AS cnt
        |    FROM p2 GROUP BY 1)),
        |mb AS (SELECT dollars_h,
        |  ((CAST(sum(cnt) OVER (ORDER BY dollars_h ASC ROWS BETWEEN
        |    UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - cnt)
        |    * 5) // (SELECT n FROM nt) + 1 AS m_score
        |  FROM (SELECT dollars_h, CAST(count(*) AS BIGINT) AS cnt
        |    FROM p2 GROUP BY 1))
        |SELECT r_score, f_score, m_score,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(cts) AS BIGINT) AS sum_cents
        |FROM p2 JOIN rb USING (rec_days) JOIN fb USING (freq)
        |  JOIN mb USING (dollars_h)
        |GROUP BY 1, 2, 3""".stripMargin),
    // daily acquisition pulse: new vs returning distinct actives per
    // day — two hash aggregates and a user-keyed join, no windows
    QuerySpec("new_vs_returning", (s, d) =>
      Relational.newVsReturning(events(s, d)),
      """WITH bd AS (SELECT DISTINCT epoch_us(ts) // 86400000000
        |    AS day, user_id FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM bd
        |  GROUP BY 1)
        |SELECT day,
        |  CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
        |    AS BIGINT) AS new_users,
        |  CAST(sum(CASE WHEN day = first_day THEN 0 ELSE 1 END)
        |    AS BIGINT) AS returning_users
        |FROM bd JOIN f USING (user_id) GROUP BY 1""".stripMargin),
    // CUPED variance reduction: pre-period (Jan 1-14) spend is the
    // covariate, in-period (Jan 15+) spend the metric, arms by id
    // parity — one per-user aggregate, one single-row fold, every
    // released double a single division of exact integers except the
    // written-down adj/lift combination
    QuerySpec("cuped_adjust", (s, d) =>
      graft.ops.Eval.cuped(events(s, d), "user_id",
        col("user_id") % 2L,
        expr("unix_micros(ts) < 1705276800000000L"),
        round(col("value") * 100).cast(LongType)),
      // exact moments as HUGEINT sums; theta / means / dx each one
      // division; adj and lift replay the op's written-down order
      s"""WITH $abUsersCte,
        |w AS (SELECT count(*) AS n,
        |  sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |  sum(CAST(x AS HUGEINT) * x) AS sxx,
        |  sum(CAST(x AS HUGEINT) * y) AS sxy,
        |  $abArmSums
        |  FROM pu),
        |t AS (SELECT *,
        |  CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
        |    / CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE)
        |    AS theta,
        |  CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_y_a,
        |  CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_y_b,
        |  CAST(sx_a * n - sx * n_a AS DOUBLE)
        |    / CAST(CAST(n_a AS HUGEINT) * n AS DOUBLE) AS dx_a,
        |  CAST(sx_b * n - sx * n_b AS DOUBLE)
        |    / CAST(CAST(n_b AS HUGEINT) * n AS DOUBLE) AS dx_b
        |  FROM w
        |  WHERE n_a > 0 AND n_b > 0
        |    AND CAST(n AS HUGEINT) * sxx - sx * sx > 0),
        |a AS (SELECT CAST(n AS BIGINT) AS n_users,
        |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        |  theta, mean_y_a, mean_y_b,
        |  mean_y_a - theta * dx_a AS adj_a,
        |  mean_y_b - theta * dx_b AS adj_b
        |  FROM t)
        |SELECT n_users, n_a, n_b, theta, mean_y_a, mean_y_b,
        |  adj_a, adj_b, adj_b - adj_a AS adj_lift FROM a""".stripMargin),
    // mergeable histogram quantile sketch (HdrHistogram buckets, 2
    // significant bits): per event type, ~250 integer bucket counts
    // that merge by addition; p50/p90/p99 by exact rank selection of
    // bucket lower bounds — the at-scale sibling of price_quantiles
    QuerySpec("quantile_sketch", (s, d) =>
      graft.ops.QuantileSketch.quantiles(
        graft.ops.QuantileSketch.build(events(s, d),
          Seq("event_type"), round(col("value") * 100).cast(LongType)),
        Seq("event_type")),
      // identical integer bucket/lower ladders, identical ceil-rank
      // arithmetic — every number exact
      quantileSketchOracle),
    // the sketch's streaming/maintenance story end to end: daily
    // sketch shards (SketchStream batch replay; the streaming form
    // finalizes each day's shard under the watermark — spec-proven
    // stream==batch) MERGE BY ADDITION into the same quantiles as the
    // one-shot global build — the oracle is the full-data replay, so
    // a green hash proves the merge identity
    QuerySpec("quantile_sketch_stream", (s, d) =>
      graft.ops.QuantileSketch.quantiles(
        graft.streaming.SketchStream.sketchStream(events(s, d))
          .groupBy(col("event_type"), col("bucket"))
          .agg(sum(col("cnt")).as("cnt")),
        Seq("event_type")),
      // merge identity: day-sharded counts re-summed equal the global
      // build — the oracle IS the quantile_sketch full-data replay
      quantileSketchOracle),
    // streaming drift monitor (batch-replayed): per-day gap-weighted
    // Wasserstein-1 against the Jan-1..14 reference histogram baked
    // in as plan literals — the in-flight twin of emd_drift; per-term
    // exact BIGINTs, order-free window fold
    QuerySpec("drift_stream", (s, d) => {
      val ev = events(s, d)
      val ref = ev.filter(expr("unix_micros(ts) < 1705276800000000L"))
        .select(floor(round(col("value") * 100).cast(LongType)
          / lit(500L)).cast(LongType).as("bkt"))
        .groupBy(col("bkt")).agg(count(lit(1)).as("n"))
      graft.streaming.DriftStream.emdStream(
        ev.filter(expr("unix_micros(ts) >= 1705276800000000L")), ref)
    },
      // per-day union grid = day buckets ∪ reference buckets (cross
      // join), partitioned cumulative CDFs, the op's gap weighting
      """WITH rb AS (SELECT CAST(floor(
        |    CAST(round(value * 100) AS BIGINT) / 500) AS BIGINT)
        |    AS bkt FROM events
        |  WHERE epoch_us(ts) < 1705276800000000),
        |ref AS (SELECT bkt, CAST(count(*) AS BIGINT) AS nr FROM rb
        |  GROUP BY 1),
        |trr AS (SELECT CAST(sum(nr) AS BIGINT) AS tr FROM ref),
        |wb0 AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |  CAST(floor(CAST(round(value * 100) AS BIGINT) / 500)
        |    AS BIGINT) AS bkt
        |  FROM events WHERE epoch_us(ts) >= 1705276800000000),
        |wb AS (SELECT day, bkt, CAST(count(*) AS BIGINT) AS nw
        |  FROM wb0 GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM wb),
        |grid AS (SELECT day, bkt FROM days
        |    CROSS JOIN (SELECT bkt FROM ref)
        |  UNION SELECT day, bkt FROM wb),
        |g2 AS (SELECT day, grid.bkt, coalesce(nw, 0) AS nw,
        |  coalesce(nr, 0) AS nr
        |  FROM grid LEFT JOIN wb USING (day, bkt)
        |  LEFT JOIN ref ON ref.bkt = grid.bkt),
        |cum AS (SELECT day, bkt,
        |  CAST(sum(nw) OVER (PARTITION BY day ORDER BY bkt
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cw,
        |  CAST(sum(nr) OVER (PARTITION BY day ORDER BY bkt
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cr,
        |  CAST(sum(nw) OVER (PARTITION BY day) AS BIGINT) AS tw,
        |  coalesce(lead(bkt) OVER (PARTITION BY day ORDER BY bkt)
        |    - bkt, 1) AS gap
        |  FROM g2)
        |SELECT make_timestamp(day * 86400000000) AS w_start,
        |  tw AS n_win,
        |  CAST(sum(abs(cw * (SELECT tr FROM trr) - cr * tw) * gap)
        |    AS BIGINT) AS emd_num,
        |  CAST(sum(abs(cw * (SELECT tr FROM trr) - cr * tw) * gap)
        |    AS DOUBLE)
        |    / CAST(tw * (SELECT tr FROM trr) AS DOUBLE)
        |    AS emd_buckets
        |FROM cum GROUP BY 1, 2""".stripMargin),
    // quasi-experimental sibling of cuped_adjust: the arm difference
    // of the pre→post per-user mean changes nets out both the level
    // gap and the common trend; same census, same exact-moment
    // envelope
    QuerySpec("diff_in_diff", (s, d) =>
      graft.ops.Eval.diffInDiff(events(s, d), "user_id",
        col("user_id") % 2L,
        expr("unix_micros(ts) < 1705276800000000L"),
        round(col("value") * 100).cast(LongType)),
      // same per-user census as cuped; three written-down subtractions
      s"""WITH $abUsersCte,
        |w AS (SELECT
        |  $abArmSums
        |  FROM pu),
        |t AS (SELECT CAST(n_a AS BIGINT) AS n_a,
        |  CAST(n_b AS BIGINT) AS n_b,
        |  CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pre_a,
        |  CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS post_a,
        |  CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pre_b,
        |  CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS post_b
        |  FROM w WHERE n_a > 0 AND n_b > 0)
        |SELECT n_a, n_b, pre_a, post_a, pre_b, post_b,
        |  (post_b - pre_b) - (post_a - pre_a) AS did FROM t"""
        .stripMargin),
    // post-stratification (standardization): arm contrast within
    // pre-period spend deciles, size-weighted — the causal rung
    // between ab_welch's raw contrast and cuped_adjust's regression
    QuerySpec("stratified_lift", (s, d) =>
      graft.ops.Eval.stratifiedLift(events(s, d), "user_id",
        col("user_id") % 2L,
        expr("unix_micros(ts) < 1705276800000000L"),
        round(col("value") * 100).cast(LongType)),
      // same deciles; per-stratum terms folded in bin order by the
      // ordered list_reduce; kept strata require both arms
      s"""WITH $abUsersCte,
        |mm AS (SELECT min(x) AS lo, max(x) - min(x) + 1 AS width
        |  FROM pu),
        |st AS (SELECT ((x - lo) * 10) // width AS bin, arm, y
        |  FROM pu, mm),
        |ag AS (SELECT bin,
        |  sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na,
        |  CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT)
        |    AS sya,
        |  sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb,
        |  CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT)
        |    AS syb
        |  FROM st GROUP BY 1),
        |kept AS (SELECT * FROM ag WHERE na > 0 AND nb > 0),
        |tot AS (SELECT CAST(sum(na + nb) AS BIGINT) AS ntot,
        |  CAST(count(*) AS BIGINT) AS n_strata,
        |  CAST(sum(na) AS BIGINT) AS nat,
        |  CAST(sum(sya) AS BIGINT) AS syat,
        |  CAST(sum(nb) AS BIGINT) AS nbt,
        |  CAST(sum(syb) AS BIGINT) AS sybt
        |  FROM kept),
        |terms AS (SELECT bin,
        |  (CAST(na + nb AS DOUBLE) / CAST(ntot AS DOUBLE))
        |    * (CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE)
        |       - CAST(sya AS DOUBLE) / CAST(na AS DOUBLE)) AS term
        |  FROM kept, tot)
        |SELECT n_strata, ntot AS n_users,
        |  CAST(sybt AS DOUBLE) / CAST(nbt AS DOUBLE)
        |    - CAST(syat AS DOUBLE) / CAST(nat AS DOUBLE) AS raw_lift,
        |  (SELECT list_reduce(list_prepend(0.0,
        |     (SELECT list(term ORDER BY bin) FROM terms)),
        |     (a, b) -> a + b)) AS strat_lift
        |FROM tot""".stripMargin),
    // bigram-argmax sequence baseline: fit transitions on the Jan
    // 1-14 per-user sequences, score exact hit counts on Jan 15+
    QuerySpec("markov_backtest", (s, d) =>
      graft.ops.Eval.markovBacktest(events(s, d), "user_id",
        "event_type", "ts", "event_id",
        expr("unix_micros(ts) < 1705276800000000L")),
      // filter-then-window bigrams per period; argmax tie-break
      // (cnt desc, next asc) matches the op's struct min
      """WITH base AS (SELECT user_id AS u, event_type AS t,
        |  epoch_us(ts) AS tsu, event_id AS id,
        |  epoch_us(ts) < 1705276800000000 AS tr FROM events),
        |trb AS (SELECT t AS prev, lead(t) OVER (PARTITION BY u
        |    ORDER BY tsu, id) AS next FROM base WHERE tr),
        |evb AS (SELECT t AS prev, lead(t) OVER (PARTITION BY u
        |    ORDER BY tsu, id) AS next FROM base WHERE NOT tr),
        |cnts AS (SELECT prev, next, count(*) AS cnt FROM trb
        |  WHERE next IS NOT NULL GROUP BY 1, 2),
        |pred AS (SELECT prev, next AS predicted FROM
        |  (SELECT prev, next, row_number() OVER (PARTITION BY prev
        |     ORDER BY cnt DESC, next) AS rn FROM cnts) WHERE rn = 1),
        |j AS (SELECT e.prev, predicted, e.next FROM evb e
        |  JOIN pred USING (prev) WHERE e.next IS NOT NULL)
        |SELECT prev, predicted, count(*) AS n_eval,
        |  CAST(sum(CASE WHEN next = predicted THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hits,
        |  CAST(sum(CASE WHEN next = predicted THEN 1 ELSE 0 END)
        |    AS DOUBLE) / CAST(count(*) AS DOUBLE) AS acc
        |FROM j GROUP BY 1, 2""".stripMargin),
    // UCB1 policy ledger: event types as arms, spend cents as reward,
    // optimism bonus sqrt(2 ln N / n) at reward scale R = 10000 cents
    QuerySpec("ucb_policy", (s, d) =>
      graft.ops.Eval.ucbPolicy(events(s, d), "event_type",
        round(col("value") * 100).cast(LongType)),
      // DetLn series replayed on the grand total (no library ln), sqrt
      // correctly rounded; bonus/ucb replay the written-down op order
      s"""WITH arms AS (SELECT event_type AS arm, count(*) AS n,
         |  sum(CAST(round(value * 100) AS BIGINT)) AS s
         |  FROM events GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM arms),
         |w AS (SELECT arm, CAST(n AS BIGINT) AS n, n_total,
         |  CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean_cents,
         |  sqrt(${OracleSql.detLn("n_total")}
         |    * 2.0 / CAST(n AS DOUBLE)) AS bonus
         |  FROM arms, tot)
         |SELECT arm, n, n_total, mean_cents, bonus,
         |  mean_cents + 10000.0 * bonus AS ucb
         |FROM w""".stripMargin),
    // U-shaped multi-touch attribution in exact basis points beside
    // attribution_join's last-touch: each purchase's trailing-7-day
    // click journey earns 40/20/40 (first/middles/last; 100% and
    // 50/50 for 1-2 touch journeys), the middle share integer-divided
    // with the remainder to the earliest middles — per-channel sums
    // are exact BIGINTs, no float credit anywhere
    QuerySpec("attribution_position", (s, d) => {
      val ev = events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          unix_micros(col("ts")).as("tp"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          unix_micros(col("ts")).as("tc"),
          pmod(col("event_id"), lit(4L)).as("channel"))
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("purchase_id"))
      p.join(c, Seq("user_id"))
        .where(col("tc") <= col("tp") &&
          col("tc") > col("tp") - lit(604800000000L))
        .withColumn("pos", row_number()
          .over(w.orderBy(col("tc"), col("click_id"))))
        .withColumn("nt", count(lit(1)).over(w))
        .withColumn("credit",
          when(col("nt") === 1L, lit(10000L))
            .when(col("nt") === 2L, lit(5000L))
            .when(col("pos") === 1 || col("pos") === col("nt"),
              lit(4000L))
            .otherwise(expr("2000 div (nt - 2) + CASE WHEN pos - 1" +
              " <= 2000 % (nt - 2) THEN 1 ELSE 0 END")))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit")).as("credit_bp"))
    },
      // same journey windows; integer credit ladder replayed verbatim
      """WITH p AS (SELECT user_id, event_id AS purchase_id,
        |  epoch_us(ts) AS tp FROM events
        |  WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, event_id AS click_id, epoch_us(ts)
        |    AS tc, event_id % 4 AS channel FROM events
        |  WHERE event_type = 'click'),
        |j AS (SELECT purchase_id, click_id, channel,
        |  row_number() OVER (PARTITION BY purchase_id
        |    ORDER BY tc, click_id) AS pos,
        |  count(*) OVER (PARTITION BY purchase_id) AS nt
        |  FROM p JOIN c USING (user_id)
        |  WHERE tc <= tp AND tc > tp - 604800000000),
        |cr AS (SELECT channel,
        |  CASE WHEN nt = 1 THEN 10000
        |       WHEN nt = 2 THEN 5000
        |       WHEN pos = 1 OR pos = nt THEN 4000
        |       ELSE 2000 // (nt - 2) + CASE WHEN pos - 1
        |         <= 2000 % (nt - 2) THEN 1 ELSE 0 END END AS credit
        |  FROM j)
        |SELECT channel, count(*) AS n_touches,
        |  CAST(sum(credit) AS BIGINT) AS credit_bp
        |FROM cr GROUP BY 1""".stripMargin),
    // DP release of the (event_type, day) histogram — the disclosure
    // trio's OUTPUT side: geometric mechanism at eps = ln 2, noise
    // from the oracle-identical poly hash (reproducible release,
    // pure integer arithmetic, true counts never leave)
    QuerySpec("dp_counts", (s, d) =>
      Relational.dpCounts(
        events(s, d).select(col("event_type"),
          expr("unix_micros(ts) div 86400000000L").as("day")),
        Seq("event_type", "day")),
      // geometric noise read off the scrambled poly hash's bits —
      // trailing-ones CASE ladders replicate the op's exact integers
      {
        def geoSql(b: String): String =
          (0 until 16).map(k =>
            s"WHEN $b % ${1L << (k + 1)} = ${(1L << k) - 1} THEN $k")
            .mkString("CASE ", " ", " ELSE 16 END")
        s"""WITH c AS (SELECT event_type,
           |  epoch_us(ts) // 86400000000 AS day, count(*) AS n
           |  FROM events GROUP BY 1, 2),
           |h AS (SELECT event_type, day, n,
           |  (list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_transform(range(1, length(k) + 1),
           |      i -> CAST(ascii(substr(k, i, 1)) AS BIGINT))),
           |    (acc, ch) -> (acc * 31 + ch) % 1000000007)
           |   * 2654435761) % 4294967296 AS u
           |  FROM (SELECT *, event_type || ':' || CAST(day AS VARCHAR)
           |    AS k FROM c))
           |SELECT event_type, day,
           |  CAST(n + (${geoSql("(u % 65536)")})
           |         - (${geoSql("(u // 65536)")}) AS BIGINT) AS dp_count
           |FROM h""".stripMargin
      }),
    // two-feature OLS via exact normal equations: per-user spend on
    // event volume and active days, Cramer-solved from one aggregate
    // pass — bit-identical coefficients across engines
    QuerySpec("ols_fit", (s, d) =>
      graft.ops.Eval.olsFit(
        events(s, d).groupBy(col("user_id"))
          .agg(sum(round(col("value") * 100).cast(LongType)).as("y"),
            count(lit(1)).as("x1"),
            countDistinct(expr("unix_micros(ts) div 86400000000L"))
              .as("x2")),
        col("y"), col("x1"), col("x2")),
      // exact HUGEINT moments and Cramer determinants; one double
      // division per coefficient
      s"""WITH ${olsCramerCtes("", "d")}
        |SELECT CAST(n AS BIGINT) AS n,
        |  CAST(d0 AS DOUBLE) / CAST(det AS DOUBLE) AS b0,
        |  CAST(d1 AS DOUBLE) / CAST(det AS DOUBLE) AS b1,
        |  CAST(d2 AS DOUBLE) / CAST(det AS DOUBLE) AS b2
        |FROM d WHERE det <> 0""".stripMargin),
    // the disclosure trio's third audit: per-class total-variation
    // distance of the sensitive distribution vs the global one —
    // exact integer numerators, ONE division per class
    QuerySpec("t_closeness", (s, d) =>
      Relational.tCloseness(
        events(s, d).select(col("event_type"),
          hour(col("ts")).cast(LongType).as("hod"),
          expr("floor(CAST(round(value * 100) AS BIGINT) / 500)")
            .cast(LongType).as("vb")),
        Seq("hod", "vb"), "event_type", t = 0.2),
      """WITH e AS (SELECT CAST(hour(ts) AS BIGINT) AS hod,
        |    CAST(floor(CAST(round(value * 100) AS BIGINT) / 500) AS BIGINT) AS vb,
        |    event_type FROM events),
        |g AS (SELECT event_type, count(*) AS gcnt FROM e GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM e),
        |c AS (SELECT hod, vb, event_type, count(*) AS cnt FROM e
        |  GROUP BY 1, 2, 3),
        |cs AS (SELECT hod, vb, CAST(sum(cnt) AS BIGINT) AS class_size
        |  FROM c GROUP BY 1, 2),
        |dd AS (SELECT cs.hod, cs.vb, cs.class_size,
        |  abs(coalesce(c.cnt, 0) * nn.n - g.gcnt * cs.class_size)
        |    AS d
        |  FROM cs CROSS JOIN g CROSS JOIN nn
        |  LEFT JOIN c ON c.hod = cs.hod AND c.vb = cs.vb
        |    AND c.event_type = g.event_type)
        |SELECT hod, vb, class_size,
        |  CAST(sum(d) AS DOUBLE)
        |    / (2.0 * CAST(class_size AS DOUBLE)
        |       * CAST((SELECT n FROM nn) AS DOUBLE)) AS tv,
        |  CAST(sum(d) AS DOUBLE)
        |    / (2.0 * CAST(class_size AS DOUBLE)
        |       * CAST((SELECT n FROM nn) AS DOUBLE)) > 0.2 AS risky
        |FROM dd GROUP BY 1, 2, 3""".stripMargin),
    // time-constrained ordered funnel (windowFunnel): deepest
    // signup→click→purchase prefix completed within 24h of each
    // anchor, per-user max depth histogram — chained as-of-forward
    // joins, never a per-user quadratic expansion
    QuerySpec("window_funnel", (s, d) =>
      Sessionize.windowFunnel(events(s, d),
        Seq("signup", "click", "purchase"), windowUs = 86400000000L),
      // n² reference formulation: min-next-step per anchor via
      // inequality joins — fine at oracle scale
      """WITH a AS (SELECT user_id, epoch_us(ts) AS t0 FROM events
        |  WHERE event_type = 'signup'),
        |s1 AS (SELECT a.user_id, a.t0, min(epoch_us(e.ts)) AS t1
        |  FROM a LEFT JOIN events e ON e.user_id = a.user_id
        |    AND e.event_type = 'click' AND epoch_us(e.ts) >= a.t0
        |  GROUP BY 1, 2),
        |s2 AS (SELECT s1.user_id, s1.t0, s1.t1,
        |    min(epoch_us(e.ts)) AS t2
        |  FROM s1 LEFT JOIN events e ON e.user_id = s1.user_id
        |    AND e.event_type = 'purchase' AND s1.t1 IS NOT NULL
        |    AND epoch_us(e.ts) >= s1.t1
        |  GROUP BY 1, 2, 3),
        |d AS (SELECT user_id,
        |    1 + CASE WHEN t1 IS NOT NULL
        |          AND t1 <= t0 + 86400000000 THEN 1 ELSE 0 END
        |      + CASE WHEN t1 IS NOT NULL
        |          AND t1 <= t0 + 86400000000 AND t2 IS NOT NULL
        |          AND t2 <= t0 + 86400000000 THEN 1 ELSE 0 END
        |      AS depth FROM s2),
        |u AS (SELECT user_id, max(depth) AS depth FROM d GROUP BY 1)
        |SELECT CAST(depth AS BIGINT) AS depth, count(*) AS n_users
        |FROM u GROUP BY 1""".stripMargin),
    // CEP extraction over the same chain: one row per completed
    // signup→click→purchase match with the matched step times — the
    // row-level artifact, where window_funnel is the histogram
    QuerySpec("pattern_spans", (s, d) =>
      Sessionize.patternSpans(events(s, d),
        Seq("signup", "click", "purchase"), windowUs = 86400000000L),
      // the same n²-min chain, selecting the completed matches
      """WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) AS t0
        |  FROM events WHERE event_type = 'signup'),
        |s1 AS (SELECT a.user_id, a.t0, min(epoch_us(e.ts)) AS t1
        |  FROM a LEFT JOIN events e ON e.user_id = a.user_id
        |    AND e.event_type = 'click' AND epoch_us(e.ts) >= a.t0
        |  GROUP BY 1, 2),
        |s2 AS (SELECT s1.user_id, s1.t0, s1.t1,
        |    min(epoch_us(e.ts)) AS t2
        |  FROM s1 LEFT JOIN events e ON e.user_id = s1.user_id
        |    AND e.event_type = 'purchase' AND s1.t1 IS NOT NULL
        |    AND epoch_us(e.ts) >= s1.t1
        |  GROUP BY 1, 2, 3)
        |SELECT user_id, t0, t1, t2 FROM s2
        |WHERE t1 IS NOT NULL AND t1 <= t0 + 86400000000
        |  AND t2 IS NOT NULL AND t2 <= t0 + 86400000000""".stripMargin),
    // funnel conversion latency: signup→first-purchase-after deltas,
    // exact p50/p90 order statistics + exact-sum mean. Two-level
    // rank selection (the peak_concurrency coarsening applied to the
    // old second-grain global window, which was the loosest entry on
    // the bounded-frame allowlist): level 1 collects the MINUTE-grain
    // latency census (calendar-bounded — ≤ 44 640 rows per month of
    // latency span at ANY data volume) and locates the minute holding
    // each target rank on the driver; level 2 reads only the ≤ 120
    // second-grain rows inside those two minutes. No unpartitioned
    // window anywhere; every driver read is value-domain bounded.
    QuerySpec("conversion_latency", (s, d) => {
      val perUser = events(s, d).groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "signup", col("ts")))
          .as("t_s"))
        // purchases only BEFORE the join: joining all events and
        // null-filtering after would shuffle + fan out every event
        // per user when only purchase rows can survive
        .join(events(s, d).where(col("event_type") === "purchase")
            .select(col("user_id"), col("ts").as("t_p")),
          Seq("user_id"))
        .where(col("t_p") > col("t_s"))
        .groupBy(col("user_id"), col("t_s"))
        .agg(min(col("t_p")).as("t_p"))
        .select((unix_micros(col("t_p")) - unix_micros(col("t_s")))
          .as("delta_us"))
      // per-second histogram feeds two consumers (minute census +
      // target-minute resolve): materialize once
      val g = perUser
        .select(expr("delta_us div 1000000L").as("sec"), col("delta_us"))
        .groupBy(col("sec"))
        .agg(count(lit(1)).as("cnt"), sum(col("delta_us")).as("dsum"))
        // eager materialization: no join downstream (the r11 stats
        // caveat), both consumers are bounded-census aggregates
        .localCheckpoint(true)
      val mins = g
        .groupBy(expr("sec div 60").as("mn"))
        .agg(sum(col("cnt")).as("mcnt"), sum(col("dsum")).as("msum"))
        .orderBy(col("mn")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      import s.implicits._
      if (mins.isEmpty)
        // empty census: the windowed form aggregated over zero rows
        // to one all-null row — preserved for oracle parity
        Seq((Option.empty[Long], Option.empty[Long], Option.empty[Long],
          Option.empty[Double]))
          .toDF("n_conv", "p50_s", "p90_s", "mean_us")
      else {
        val n = mins.iterator.map(_._2).sum
        val tot = mins.iterator.map(_._3).sum
        // rank → (minute holding it, cumulative count strictly before)
        def locate(rank: Long): (Long, Long) = {
          var cum = 0L; var res: (Long, Long) = null
          mins.foreach { case (mn, c, _) =>
            if (res == null && cum + c >= rank) res = (mn, cum)
            cum += c
          }
          res
        }
        val r50 = (n + 1L) / 2L; val r90 = (9L * n + 9L) / 10L
        val (m50, c50) = locate(r50); val (m90, c90) = locate(r90)
        val secs = g.where(expr("sec div 60").isInCollection(
            Seq(m50, m90).distinct))
          .select(col("sec"), col("cnt")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        def resolve(minute: Long, before: Long, rank: Long): Long = {
          var cum = before; var res = Long.MinValue
          secs.foreach { case (sec, c) =>
            if (sec / 60L == minute) {
              if (res == Long.MinValue && cum + c >= rank) res = sec
              cum += c
            }
          }
          res
        }
        Seq((n, resolve(m50, c50, r50), resolve(m90, c90, r90),
          tot.toDouble / n.toDouble))
          .toDF("n_conv", "p50_s", "p90_s", "mean_us")
      }
    },
      """WITH su AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t_s
        |  FROM events GROUP BY 1),
        |pu AS (SELECT e.user_id, su.t_s, min(e.ts) AS t_p
        |  FROM events e JOIN su USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > su.t_s
        |  GROUP BY 1, 2),
        |dl AS (SELECT epoch_us(t_p) - epoch_us(t_s) AS delta_us
        |  FROM pu),
        |g AS (SELECT delta_us // 1000000 AS sec, count(*) AS cnt,
        |    sum(delta_us) AS dsum FROM dl GROUP BY 1),
        |c AS (SELECT *, sum(cnt) OVER (ORDER BY sec
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(cnt) OVER () AS n, sum(dsum) OVER () AS tot FROM g)
        |SELECT CAST(max(n) AS BIGINT) AS n_conv,
        |  min(CASE WHEN cum >= (n + 1) // 2 THEN sec END) AS p50_s,
        |  min(CASE WHEN cum >= (9 * n + 9) // 10 THEN sec END)
        |    AS p90_s,
        |  CAST(max(tot) AS DOUBLE) / CAST(max(n) AS DOUBLE) AS mean_us
        |FROM c""".stripMargin),
    // privacy audit — k-anonymity census over (type, hour-of-day,
    // value-bucket) quasi-identifiers, k=10
    QuerySpec("k_anonymity", (s, d) =>
      Relational.kAnonymity(
        events(s, d).select(col("event_type"),
          hour(col("ts")).as("hod"),
          // FLOOR division (not `div`, which truncates toward zero);
          // the oracle floors EXPLICITLY (DuckDB's `//` truncates —
          // the r12 negfix sweep caught the old `//` replay): a
          // negative value must land in the same bucket cross-engine.
          // Double-divide-then-floor is exact here: quotients are
          // ≥1/500 away from integers until |cents| ~ 4.5e12, far
          // past any event value
          expr("floor(CAST(round(value * 100) AS BIGINT) / 500)")
            .cast(LongType).as("vb")),
        Seq("event_type", "hod", "vb"), k = 10),
      """WITH q AS (SELECT event_type, hour(ts) AS hod,
        |    CAST(floor(CAST(round(value * 100) AS BIGINT) / 500) AS BIGINT) AS vb
        |  FROM events),
        |c AS (SELECT count(*) AS class_size FROM q
        |  GROUP BY event_type, hod, vb)
        |SELECT class_size, count(*) AS n_classes,
        |  CAST(sum(class_size) AS BIGINT) AS n_rows,
        |  class_size < 10 AS risky
        |FROM c GROUP BY 1""".stripMargin),
    // recency-weighted engagement: exponential day-decay folded in
    // exact integers (bit shifts), fixed reference instant
    // 2024-01-31T00:00Z so the feature is reproducible run-to-run
    QuerySpec("decay_score", (s, d) =>
      graft.ops.TimeSeries.decayScore(events(s, d), "user_id",
        refEpochSec = 1706659200L),
      """WITH e AS (SELECT user_id,
        |    (1706659200 - epoch_us(ts) // 1000000) // 86400 AS age,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |w AS (SELECT user_id,
        |    c * (CAST(1 AS BIGINT) << CAST(20 - age AS INT)) AS w
        |  FROM e WHERE age >= 0 AND age <= 20)
        |SELECT user_id,
        |  CAST(sum(w) AS DOUBLE) / CAST(1048576 AS DOUBLE)
        |    AS decayed_cents
        |FROM w GROUP BY 1""".stripMargin),
    // wide→long melt of the per-user feature frame (the export shape
    // a feature store ingests) — native unpivot, no explode-of-struct
    QuerySpec("unpivot_features", (s, d) =>
      events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100).cast(LongType)).as("value_cents"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("n_errors"))
        .unpivot(Array(col("user_id")),
          Array(col("n_events"), col("value_cents"), col("n_errors")),
          "feature", "val"),
      """WITH f AS (SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS value_cents,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_errors
        |  FROM events GROUP BY 1)
        |SELECT user_id, feature, val FROM (
        |  SELECT user_id, 'n_events' AS feature, n_events AS val FROM f
        |  UNION ALL
        |  SELECT user_id, 'value_cents', value_cents FROM f
        |  UNION ALL
        |  SELECT user_id, 'n_errors', n_errors FROM f)""".stripMargin),
    // GROUPING SETS — the third grouping form beside rollup_summary /
    // cube_summary: exactly the named combinations, no intermediate
    // levels; grouping() flags disambiguate "null from grouping"
    QuerySpec("grouping_sets_summary", (s, d) =>
      events(s, d).select(col("event_type"),
          hour(col("ts")).cast(LongType).as("hod"),
          round(col("value") * 100).cast(LongType).as("c"))
        .groupingSets(Seq(Seq(col("event_type")), Seq(col("hod")), Seq()),
          col("event_type"), col("hod"))
        .agg(sum(col("c")).as("cents"), count(lit(1)).as("n"),
          grouping(col("event_type")).cast(LongType).as("g_type"),
          grouping(col("hod")).cast(LongType).as("g_hod")),
      """WITH e AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events)
        |SELECT event_type, hod, CAST(sum(c) AS BIGINT) AS cents,
        |  count(*) AS n,
        |  CAST(GROUPING(event_type) AS BIGINT) AS g_type,
        |  CAST(GROUPING(hod) AS BIGINT) AS g_hod
        |FROM e
        |GROUP BY GROUPING SETS ((event_type), (hod), ())""".stripMargin),
    // robust-stats audit: exact p01/p99 order statistics per type +
    // tail-clip row counts (integer rank arithmetic, no float
    // quantiles)
    QuerySpec("winsorize_stats", (s, d) =>
      Relational.winsorizeStats(events(s, d), "event_type", "event_id"),
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS c, event_id
        |  FROM events),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY c, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |q AS (SELECT event_type, max(n) AS n,
        |    max(CASE WHEN rn = (n + 99) // 100 THEN c END)
        |      AS p01_cents,
        |    max(CASE WHEN rn = (99 * n + 99) // 100 THEN c END)
        |      AS p99_cents
        |  FROM r GROUP BY 1)
        |SELECT q.event_type, q.n, q.p01_cents, q.p99_cents,
        |  CAST(sum(CASE WHEN e.c < q.p01_cents THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clip_lo,
        |  CAST(sum(CASE WHEN e.c > q.p99_cents THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clip_hi
        |FROM q JOIN e USING (event_type)
        |GROUP BY 1, 2, 3, 4""".stripMargin),
    // leave-one-out target encoding of event_type: category summary
    // broadcast back, per-row (S - c)/(n - 1) — the target-leakage-
    // safe high-cardinality encoder; singletons → null
    QuerySpec("loo_encode", (s, d) =>
      graft.ops.Encode.looEncode(events(s, d), "event_type",
        round(col("value") * 100).cast(LongType), Seq("event_id")),
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |st AS (SELECT event_type, sum(c) AS s, count(*) AS n
        |  FROM e GROUP BY 1)
        |SELECT event_id, e.event_type, CAST(n AS BIGINT) AS n_cat,
        |  CASE WHEN n > 1 THEN CAST(s - c AS DOUBLE)
        |    / CAST(n - 1 AS DOUBLE) END AS loo_cents
        |FROM e JOIN st USING (event_type)""".stripMargin),
    // the hashing trick: per-user signed-count feature vector in
    // sparse COO form over 64 slots — vocabulary-free, polyHash slot
    // + independent sign bit, SQL-replayable
    QuerySpec("hash_features", (s, d) =>
      graft.ops.Encode.hashFeatures(
        events(s, d)
          .withColumn("hod",
            expr("(unix_micros(ts) div 3600000000L) % 24L")
              .cast(StringType))
          .withColumn("dow",
            expr("((unix_micros(ts) div 86400000000L) + 4L) % 7L")
              .cast(StringType)),
        "user_id",
        Seq(concat(lit("type="), col("event_type")),
          concat(lit("hod="), col("hod")),
          concat(lit("dow="), col("dow"))),
        nBuckets = 64),
      // same 31-fold polynomial hash as dataset_fingerprint; slot =
      // h mod 64, sign from the next bit up
      {
        val ph =
          s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(range(1, length(f)+1),
             |      i -> CAST(ascii(substr(f, i, 1)) AS BIGINT))),
             |    (acc, c) -> (acc*31+c) % 1000000007)""".stripMargin
        s"""WITH e AS (SELECT user_id, unnest([
           |    'type=' || event_type,
           |    'hod=' || CAST((epoch_us(ts) // 3600000000) % 24
           |      AS VARCHAR),
           |    'dow=' || CAST(((epoch_us(ts) // 86400000000) + 4) % 7
           |      AS VARCHAR)]) AS f
           |  FROM events),
           |h AS (SELECT user_id, $ph AS h FROM e)
           |SELECT user_id, h % 64 AS bucket,
           |  CAST(sum(1 - 2 * ((h // 64) % 2)) AS BIGINT) AS weight
           |FROM h GROUP BY 1, 2""".stripMargin
      }),
    // Welch two-sample t-squared per event type, arms split by
    // user-id parity — exact BIGINT moment sums, DECIMAL(38,0)
    // integer arithmetic, two IEEE ops per published double
    QuerySpec("ab_welch", (s, d) =>
      graft.ops.Eval.welchTTest(
        events(s, d).withColumn("arm", col("user_id") % 2L),
        "event_type", "arm",
        round(col("value") * 100).cast(LongType)),
      // identical DECIMAL(38,0) integer chain and IEEE op order as
      // Eval.welchTTest
      """WITH e AS (SELECT event_type, user_id % 2 AS arm,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |pa AS (SELECT event_type, arm, count(*) AS n, sum(c) AS s,
        |    sum(c * c) AS q FROM e GROUP BY 1, 2),
        |w AS (SELECT event_type,
        |    max(CASE WHEN arm = 0 THEN n END) AS n1,
        |    max(CASE WHEN arm = 0 THEN s END) AS s1,
        |    max(CASE WHEN arm = 0 THEN q END) AS q1,
        |    max(CASE WHEN arm = 1 THEN n END) AS n2,
        |    max(CASE WHEN arm = 1 THEN s END) AS s2,
        |    max(CASE WHEN arm = 1 THEN q END) AS q2
        |  FROM pa GROUP BY 1),
        |t AS (SELECT event_type, n1, n2,
        |    CAST(s1 AS DECIMAL(38,0)) * n2
        |      - CAST(s2 AS DECIMAL(38,0)) * n1 AS a,
        |    (CAST(n1 AS DECIMAL(38,0)) * q1
        |        - CAST(s1 AS DECIMAL(38,0)) * s1)
        |      * (CAST(n2 AS DECIMAL(38,0)) * n2 * (n2 - 1))
        |    + (CAST(n2 AS DECIMAL(38,0)) * q2
        |        - CAST(s2 AS DECIMAL(38,0)) * s2)
        |      * (CAST(n1 AS DECIMAL(38,0)) * n1 * (n1 - 1)) AS den
        |  FROM w WHERE n1 > 1 AND n2 > 1)
        |SELECT event_type, CAST(n1 AS BIGINT) AS n_a,
        |  CAST(n2 AS BIGINT) AS n_b,
        |  CAST(a AS DOUBLE)
        |    / CAST(CAST(n1 AS DECIMAL(38,0)) * n2 AS DOUBLE)
        |    AS mean_diff_cents,
        |  CAST(a * a AS DOUBLE)
        |    * CAST(CAST(n1 - 1 AS DECIMAL(38,0)) * (n2 - 1) AS DOUBLE)
        |    / CAST(den AS DOUBLE) AS t2
        |FROM t WHERE den > 0""".stripMargin),
    // Poisson-bootstrap p05/p95 CI for the per-type mean — 32
    // deterministic hash-weighted resamples, one ×32 map into a
    // partial aggregate, rank-selected interval endpoints
    QuerySpec("bootstrap_ci", (s, d) =>
      graft.ops.Eval.bootstrapCi(events(s, d), "event_type",
        "event_id", round(col("value") * 100).cast(LongType)),
      // same fold31 Knuth hash as train_shards, Poisson(1) CDF cuts at
      // floor(F(k)*2^32), identical rank selection
      """WITH r AS (SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |x AS (SELECT event_type, c, rep,
        |    event_id * 32 + rep AS xid
        |  FROM r, (SELECT unnest(range(0, 32)) AS rep)),
        |wv AS (SELECT event_type, rep, c,
        |    ((xid % 2147483648 + xid // 2147483648) % 2147483648
        |      * 2654435761) % 4294967296 AS u FROM x),
        |ww AS (SELECT event_type, rep, c,
        |    CAST(u >= 1580030168 AS BIGINT)
        |    + CAST(u >= 3160060337 AS BIGINT)
        |    + CAST(u >= 3950075421 AS BIGINT)
        |    + CAST(u >= 4213413783 AS BIGINT) AS w FROM wv),
        |m AS (SELECT event_type, rep, sum(w * c) AS swc,
        |    sum(w) AS sw FROM ww GROUP BY 1, 2),
        |mm AS (SELECT event_type, rep,
        |    CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE) AS mr
        |  FROM m WHERE sw > 0),
        |rk AS (SELECT event_type, rep, mr,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY mr, rep) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt FROM mm),
        |sel AS (SELECT event_type, CAST(max(cnt) AS BIGINT)
        |      AS n_resamples,
        |    max(CASE WHEN rn = (cnt + 19) // 20 THEN mr END)
        |      AS ci_lo_cents,
        |    max(CASE WHEN rn = cnt + 1 - (cnt + 19) // 20 THEN mr END)
        |      AS ci_hi_cents
        |  FROM rk GROUP BY 1),
        |f AS (SELECT event_type, count(*) AS n_events, sum(c) AS sc
        |  FROM r GROUP BY 1)
        |SELECT f.event_type, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(sc AS DOUBLE) / CAST(n_events AS DOUBLE) AS mean_cents,
        |  n_resamples, ci_lo_cents, ci_hi_cents
        |FROM f JOIN sel ON f.event_type = sel.event_type""".stripMargin),
    // item2item collaborative filtering: per part, top-5 co-purchased
    // parts by lift over capped customer baskets (both quadratic steps
    // bounded: basketCap before the pair unfold, GroupedTopK after;
    // minCount=2 kills the singleton noise tail before scoring)
    QuerySpec("copurchase_topk", (s, d) =>
      graft.ops.Recommend.copurchaseTopK(
        Tables.orders(s, d).select(col("o_orderkey"),
            col("o_custkey").as("cust"))
          .join(Tables.lineitem(s, d).select(col("l_orderkey"),
            col("l_partkey").as("item")),
            col("o_orderkey") === col("l_orderkey"))
          .select(col("cust"), col("item")),
        basketCap = 32, minCount = 2L),
      """WITH cp AS (SELECT DISTINCT o.o_custkey AS cust,
        |    l.l_partkey AS item
        |  FROM orders o JOIN lineitem l
        |    ON o.o_orderkey = l.l_orderkey),
        |capped AS (SELECT cust, item FROM
        |  (SELECT *, row_number() OVER (PARTITION BY cust
        |     ORDER BY item) AS bc FROM cp) WHERE bc <= 32),
        |ic AS (SELECT item, count(*) AS ci FROM capped GROUP BY 1),
        |nc AS (SELECT count(DISTINCT cust) AS n_cust FROM capped),
        |pr AS (SELECT a.item AS item_a, b.item AS item_b,
        |    count(*) AS n_co
        |  FROM capped a JOIN capped b
        |    ON a.cust = b.cust AND a.item <> b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sc AS (SELECT item_a, item_b, n_co,
        |    CAST(n_co * n_cust AS DOUBLE)
        |      / CAST(ca.ci * cb.ci AS DOUBLE) AS lift
        |  FROM pr
        |  JOIN ic ca ON ca.item = pr.item_a
        |  JOIN ic cb ON cb.item = pr.item_b
        |  CROSS JOIN nc)
        |SELECT item_a, item_b, n_co, lift, CAST(rk AS BIGINT) AS rk
        |FROM (SELECT *, row_number() OVER (PARTITION BY item_a
        |  ORDER BY lift DESC, item_b) AS rk FROM sc)
        |WHERE rk <= 5""".stripMargin),
    // join-key profiling — referential containment of the three core
    // fact→dim keys (1.0 containment = clean FK, orphans = silent
    // inner-join row loss)
    QuerySpec("fk_profile", (s, d) =>
      Relational.fkProfile(Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey", "lineitem->orders")
        .unionAll(Relational.fkProfile(Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey", "orders->customer"))
        .unionAll(Relational.fkProfile(Tables.lineitem(s, d), "l_partkey",
          Tables.part(s, d), "p_partkey", "lineitem->part")),
      """WITH pairs AS (
        |  SELECT 'lineitem->orders' AS fk, l_orderkey AS ck,
        |    pk FROM lineitem LEFT JOIN
        |    (SELECT DISTINCT o_orderkey AS pk FROM orders) p
        |    ON l_orderkey = p.pk
        |  UNION ALL
        |  SELECT 'orders->customer', o_custkey,
        |    pk FROM orders LEFT JOIN
        |    (SELECT DISTINCT c_custkey AS pk FROM customer) p
        |    ON o_custkey = p.pk
        |  UNION ALL
        |  SELECT 'lineitem->part', l_partkey,
        |    pk FROM lineitem LEFT JOIN
        |    (SELECT DISTINCT p_partkey AS pk FROM part) p
        |    ON l_partkey = p.pk)
        |SELECT fk, count(DISTINCT ck) AS n_child_keys,
        |  count(DISTINCT pk) AS n_matched_keys,
        |  CAST(count(DISTINCT pk) AS DOUBLE)
        |    / CAST(count(DISTINCT ck) AS DOUBLE) AS containment,
        |  CAST(sum(CASE WHEN pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_orphan_rows
        |FROM pairs GROUP BY fk""".stripMargin,
      barrier = true),
    // data-quality census — per-column profile (row count, nulls,
    // exact distinct, canonical min/max rendering) in long form: the
    // ingest-gate report every pipeline stage logs. One aggregate per
    // column, each scan COLUMN-PRUNED to just that column (parquet
    // columnar reads make six one-column passes, not six table
    // scans); canonical renderings are integers (cents / epoch-micros)
    // or raw ASCII so both engines print identically. At 100 TB swap
    // countDistinct for approx_count_distinct per tolerance.
    QuerySpec("table_profile", (s, d) => {
      val e = events(s, d)
      def prof(name: String, canon: org.apache.spark.sql.Column) = e
        .agg(
          count(lit(1)).as("n"),
          (count(lit(1)) - count(col(name))).as("n_null"),
          countDistinct(col(name)).as("n_distinct"),
          min(canon).cast(StringType).as("min_s"),
          max(canon).cast(StringType).as("max_s"))
        .select(lit(name).as("col_name"), col("n"), col("n_null"),
          col("n_distinct"), col("min_s"), col("max_s"))
      prof("event_id", col("event_id"))
        .unionByName(prof("user_id", col("user_id")))
        .unionByName(prof("event_type", col("event_type")))
        .unionByName(prof("value",
          expr("CAST(round(value * 100) AS BIGINT)")))
        .unionByName(prof("ts", unix_micros(col("ts"))))
        .unionByName(prof("props", col("props")))
    },
      Seq(
          ("event_id", "event_id"),
          ("user_id", "user_id"),
          ("event_type", "event_type"),
          ("value", "CAST(round(value * 100) AS BIGINT)"),
          ("ts", "epoch_us(ts)"),
          ("props", "props"))
        .map { case (name, canon) =>
          s"""SELECT '$name' AS col_name, count(*) AS n,
             |  count(*) - count($name) AS n_null,
             |  count(DISTINCT $name) AS n_distinct,
             |  CAST(min($canon) AS VARCHAR) AS min_s,
             |  CAST(max($canon) AS VARCHAR) AS max_s FROM events""".stripMargin
        }.mkString("\nUNION ALL\n"),
      barrier = true),
    // distribution drift between the month's two halves, per
    // (event_type, value-bucket) — the day-over-day input-drift gate
    // of a training pipeline. The TIME-SPLIT sibling of drift_chi2
    // (which compares even/odd snapshots through distributionDrift's
    // smoothed fixed-grid form): here the grid is data-driven and the
    // contributions are log-free chi-square terms — PSI needs ln(),
    // whose last-ulp differs across libms, so each row carries exact
    // BIGINT counts and ONE division of exact-integer-valued doubles
    // (d = c1*n2 - c2*n1 is the cross-product deviation; contrib =
    // d^2/(n1*n2*(c1+c2))) — bit-identical cross-engine. Rollup (sum
    // of contribs) is the reader's one float fold, deliberately not
    // hashed.
    QuerySpec("drift_halves", (s, d) => {
      val splitUs = 1705363200L * 1000000L // 2024-01-16T00:00Z
      val b = events(s, d).select(col("event_type"),
          expr("floor(CAST(round(value * 100) AS BIGINT) / 500)")
            .cast(LongType).as("vb"),
          when(unix_micros(col("ts")) < splitUs, 1L).otherwise(0L)
            .as("h1"))
        .groupBy(col("event_type"), col("vb"))
        .agg(sum(col("h1")).as("c1"),
          (count(lit(1)) - sum(col("h1"))).as("c2"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
      b.withColumn("n1", sum(col("c1")).over(w))
        .withColumn("n2", sum(col("c2")).over(w))
        .withColumn("d", col("c1") * col("n2") - col("c2") * col("n1"))
        .select(col("event_type"), col("vb"), col("c1"), col("c2"),
          col("d"),
          when(col("n1") > 0L && col("n2") > 0L,
            (col("d").cast(DoubleType) * col("d").cast(DoubleType)) /
              (col("n1").cast(DoubleType) * col("n2").cast(DoubleType) *
                (col("c1") + col("c2")).cast(DoubleType)))
            .as("contrib"))
    },
      """WITH b AS (SELECT event_type,
        |    CAST(floor(CAST(round(value * 100) AS BIGINT) / 500) AS BIGINT) AS vb,
        |    CASE WHEN epoch_us(ts) < 1705363200000000 THEN 1 ELSE 0 END
        |      AS h1
        |  FROM events),
        |c AS (SELECT event_type, vb,
        |    CAST(sum(h1) AS BIGINT) AS c1,
        |    CAST(count(*) - sum(h1) AS BIGINT) AS c2
        |  FROM b GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c2) AS BIGINT) AS n2 FROM c GROUP BY 1)
        |SELECT c.event_type, vb, c1, c2,
        |  c1 * n2 - c2 * n1 AS d,
        |  CASE WHEN n1 > 0 AND n2 > 0 THEN
        |    (CAST(c1 * n2 - c2 * n1 AS DOUBLE)
        |      * CAST(c1 * n2 - c2 * n1 AS DOUBLE))
        |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |      * CAST(c1 + c2 AS DOUBLE))
        |  END AS contrib
        |FROM c JOIN t ON c.event_type = t.event_type""".stripMargin),
    // Z-order clustering key (Layout.mortonKey): interleave the low
    // 16 bits of two dimensions and summarize per coarse z-bucket —
    // the per-bucket (ux, vy) bounding boxes are what parquet min/max
    // file stats would hold after a repartitionByRange(z) rewrite,
    // i.e. the file-skipping win the layout buys on BOTH dimensions.
    // Pure shift/mask expression, stays in the scan's codegen stage.
    QuerySpec("zorder_layout", (s, d) => {
      val p = events(s, d).select(
        pmod(col("user_id"), lit(65536L)).as("ux"),
        pmod(expr("CAST(round(value * 100) AS BIGINT)"), lit(65536L))
          .as("vy"))
      p.select(graft.ops.Layout.mortonKey(col("ux"), col("vy"), 16)
            .as("z"), col("ux"), col("vy"))
        .groupBy(shiftright(col("z"), 24).as("zb"))
        .agg(count(lit(1)).as("n"),
          min(col("ux")).as("ux_lo"), max(col("ux")).as("ux_hi"),
          min(col("vy")).as("vy_lo"), max(col("vy")).as("vy_hi"))
    },
      {
        val z = graft.ops.Layout.mortonKeySql("ux", "vy", 16)
        s"""WITH p AS (SELECT
           |    ((user_id % 65536) + 65536) % 65536 AS ux,
           |    ((CAST(round(value * 100) AS BIGINT) % 65536) + 65536)
           |      % 65536 AS vy
           |  FROM events),
           |zt AS (SELECT $z AS z, ux, vy FROM p)
           |SELECT z >> 24 AS zb, count(*) AS n,
           |  min(ux) AS ux_lo, max(ux) AS ux_hi,
           |  min(vy) AS vy_lo, max(vy) AS vy_hi
           |FROM zt GROUP BY 1""".stripMargin
      }),
    // Hilbert-curve clustering key (Layout.hilbertKey) — the
    // stronger-locality layout sibling: same per-bucket bounding-box
    // summary as zorder_layout over a 256×256 grid, 256 buckets of
    // 256 consecutive curve cells each. Consecutive Hilbert indices
    // are always grid-adjacent, so the boxes come out tighter than
    // Morton's at power-of-two seams — the file-skipping delta is
    // readable directly off the two results
    QuerySpec("hilbert_layout", (s, d) => {
      val p = events(s, d).select(
        pmod(col("user_id"), lit(256L)).as("ux"),
        pmod(expr("CAST(round(value * 100) AS BIGINT)"), lit(256L))
          .as("vy"))
      p.select(graft.ops.Layout.hilbertKey(col("ux"), col("vy"), 8)
            .as("h"), col("ux"), col("vy"))
        .groupBy(shiftright(col("h"), 8).as("hb"))
        .agg(count(lit(1)).as("n"),
          min(col("ux")).as("ux_lo"), max(col("ux")).as("ux_hi"),
          min(col("vy")).as("vy_lo"), max(col("vy")).as("vy_hi"))
    },
      {
        val (ctes, dcol, last) = graft.ops.Layout.hilbertSqlLevels("p", 8)
        s"""WITH p AS (SELECT
           |    ((user_id % 256) + 256) % 256 AS x,
           |    ((CAST(round(value * 100) AS BIGINT) % 256) + 256) % 256
           |      AS y
           |  FROM events),
           |${ctes.mkString(",\n")}
           |SELECT $dcol >> 8 AS hb, count(*) AS n,
           |  min(x) AS ux_lo, max(x) AS ux_hi,
           |  min(y) AS vy_lo, max(y) AS vy_hi
           |FROM $last GROUP BY 1""".stripMargin
      }),
    // exact per-user median event value at 2x integer scale (med2 =
    // sum of the two middle order statistics; equal middles for odd
    // counts — so no halving float). The window partitions by
    // user_id: per-key state is one sort of THAT user's rows,
    // hash-distributed across the cluster — the per-key exact
    // order-statistic shape, vs price_quantiles' per-small-group and
    // conversion_latency's value-domain global forms.
    QuerySpec("user_median", (s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val e = events(s, d).select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      e.withColumn("rn", row_number().over(
          W.partitionBy(col("user_id"))
            .orderBy(col("c"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(
          W.partitionBy(col("user_id"))))
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n_events"),
          (sum(when(col("rn") === expr("(n + 1) div 2"), col("c")))
            + sum(when(col("rn") === expr("(n + 2) div 2"), col("c"))))
            .as("med2_cents"))
    },
      """WITH e AS (SELECT user_id, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |r AS (SELECT user_id, c,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY c, event_id) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n FROM e)
        |SELECT user_id, max(n) AS n_events,
        |  CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN c END)
        |     + sum(CASE WHEN rn = (n + 2) // 2 THEN c END)
        |    AS BIGINT) AS med2_cents
        |FROM r GROUP BY 1""".stripMargin,
      barrier = true),
    // pre-flight join planning: EXACT cardinality + hottest-key
    // profile for three join shapes (fact→dim, fact→small dim, and
    // the events SELF-join whose per-user fanout squares) — per-key
    // counts join, raw rows never do (Relational.joinSizeProfile)
    QuerySpec("join_size_profile", (s, d) =>
      Relational.joinSizeProfile(Tables.lineitem(s, d), "l_orderkey",
          Tables.orders(s, d), "o_orderkey", "lineitem->orders")
        .unionAll(Relational.joinSizeProfile(
          Tables.lineitem(s, d), "l_suppkey",
          Tables.supplier(s, d), "s_suppkey", "lineitem->supplier"))
        .unionAll(Relational.joinSizeProfile(
          events(s, d), "user_id", events(s, d), "user_id",
          "events-self")),
      Seq(
          ("lineitem->orders", "lineitem", "l_orderkey",
            "orders", "o_orderkey"),
          ("lineitem->supplier", "lineitem", "l_suppkey",
            "supplier", "s_suppkey"),
          ("events-self", "events", "user_id", "events", "user_id"))
        .zipWithIndex.map { case ((label, lt, lk, rt, rk), i) =>
          s"""(WITH lc$i AS (SELECT $lk AS k, count(*) AS cl
             |    FROM $lt GROUP BY 1),
             |  rc$i AS (SELECT $rk AS k, count(*) AS cr
             |    FROM $rt GROUP BY 1),
             |  j$i AS (SELECT lc$i.k, cl, cr, cl * cr AS contrib
             |    FROM lc$i JOIN rc$i USING (k))
             |SELECT '$label' AS join_name, count(*) AS n_shared_keys,
             |  CAST(sum(cl) AS BIGINT) AS n_left_matched,
             |  CAST(sum(cr) AS BIGINT) AS n_right_matched,
             |  CAST(sum(contrib) AS BIGINT) AS out_rows,
             |  CAST(max(contrib) AS BIGINT) AS max_contrib,
             |  (SELECT max(k) FROM j$i
             |    WHERE contrib = (SELECT max(contrib) FROM j$i))
             |    AS hottest_key
             |FROM j$i)""".stripMargin
        }.mkString("\nUNION ALL\n")))

  /** The as-of rows' sides: each user's clicks (build side) and
    * purchases (probe side), ids and timestamps named per side.
    */
  private def clicksAndPurchases(ev: DataFrame): (DataFrame, DataFrame) =
    (ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts")),
     ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts")))

  /** The 3-day activation cohort of the survival rows: per user, the
    * days from first event to first purchase capped at 3 (`dur`) and
    * whether the purchase came by then (`converted`).
    */
  private def activationCohort(ev: DataFrame): DataFrame = {
    val w = 3L
    val e = ev.select(col("user_id"), col("event_type"),
      expr("unix_micros(ts) div 86400000000L").as("day"))
    val f0 = e.groupBy(col("user_id")).agg(min(col("day")).as("f"))
    val p0 = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("day")).as("p"))
    f0.join(p0, Seq("user_id"), "left_outer")
      .select(col("user_id"),
        when(col("p").isNotNull && col("p") - col("f") <= w,
          col("p") - col("f")).otherwise(w).as("dur"),
        (col("p").isNotNull && col("p") - col("f") <= w)
          .as("converted"))
  }

  /** Hive-style partitioned layout of events (partitionBy event_type)
    * written once per dataset — the directory-partitioning
    * face of the layout family next to [[bucketedTables]]: an
    * equality filter on the partition column prunes whole directories
    * at PLANNING time (PartitionFilters in the scan, proven in
    * PartitionedScanSpec), so a 100 TB table filtered to one type
    * reads that type's files and nothing else.
    */
  private def partitionedEventsDir(s: SparkSession, d: String): String =
    Sidecars.derived("partitioned", s, d, "events") {
      val dir = Sidecars.artifact("partitioned", d)
      Tables.events(s, d)
        .write.mode("overwrite").partitionBy("event_type")
        .parquet(s"$dir/events")
      // a tiny FILE-BASED dim beside it (dpp_scan): dynamic partition
      // pruning needs a selective predicate on a real relation — a
      // literal local frame constant-folds its filter away and the
      // optimizer sees nothing to prune with
      s.createDataFrame(Seq(
        ("click", "tracked"), ("purchase", "tracked"),
        ("view", "ignored"), ("signup", "ignored"),
        ("error", "ignored")))
        .toDF("event_type", "status")
        .write.mode("overwrite").parquet(s"$dir/dim")
      dir
    }

  /** Bucketed co-located join layout: lineitem and orders written once
    * per dataset as bucketed + per-bucket-sorted tables on the SAME
    * 8-bucket orderkey hash — the table-layout twin of the graft-ocf
    * store's KeyGroupedPartitioning. A join on the bucket key then
    * needs NO shuffle on either side (and no sort, buckets being
    * pre-sorted): the shuffle is paid once at write time and amortized
    * over every downstream join/aggregate. No-Exchange plan proven in
    * BucketedJoinSpec.
    */
  private def bucketedTables(s: SparkSession, d: String)
      : (String, String) =
    Sidecars.derived("bucketed", s, d, "lineitem", "orders") {
      // the artifact dir's name is unique per (JVM, dataset dir) and
      // identifier-safe, so it also names the two catalog tables
      val base = Sidecars.artifact("bucketed", d)
      val name = new java.io.File(base).getName
      val liT = s"${name}_lineitem"
      val orT = s"${name}_orders"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(base), s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      s.sql(s"DROP TABLE IF EXISTS $liT")
      s.sql(s"DROP TABLE IF EXISTS $orT")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"))
        .write.option("path", s"$base/lineitem")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(liT)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .write.option("path", s"$base/orders")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(orT)
      (liT, orT)
    }
}
