package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.CoOccurrence

/** The driver-facing query registry (SURVEY.md §2) plus the DuckDB
  * oracle SQL twins.
  *
  * Cross-engine determinism rules used throughout (Spark result must
  * hash-match the DuckDB result value-for-value):
  *   - Money/quantity sums accumulate integer cents —
  *     `SUM(CAST(round(x * 100) AS BIGINT)) / 100.0` in both engines —
  *     so parallel (non-associative) double addition cannot produce
  *     engine-specific low bits. Integer sums are exact and associative,
  *     cents/100.0 is one correctly-rounded double (identical binary64
  *     on both engines), and the LongType aggregate buffer stays
  *     primitive inside whole-stage codegen where a DECIMAL(18,2)
  *     buffer boxes a BigDecimal per update (q1 measured 2.9× on the
  *     switch). Two-decimal factors multiply to 4 — those scale by 1e4.
  *     Exactness bound: |total cents| < 2^53 (~90 T currency units).
  *   - Averages are cents-sum / 100.0 / count — double division of
  *     identical operands is bitwise deterministic.
  *   - Integer aggregates are cast to BIGINT (DuckDB SUM(int) widens to
  *     HUGEINT, Spark to BIGINT).
  *   - No raw timestamps in outputs (formatting differs); buckets are
  *     epoch seconds.
  *   - Transcendental scores run on the integer LOG LATTICE (q35, f27,
  *     t17): L(x) = round(log2(x)·10⁹) as BIGINT "nanobits". Every
  *     per-term log rounds ONCE to the lattice, sums of c·L(c) terms
  *     are order-free integer arithmetic, and the only float op left
  *     is a final division of two identical-on-both-engines integers —
  *     bitwise deterministic, so entropy/PMI/BM25 hash-gate with NO
  *     output rounding. (Float entropy or BM25 could never gate:
  *     parallel double summation is not associative.)
  *     Two stated assumptions, mirroring the 2^53-cents bound:
  *     (1) MAGNITUDE — lattice terms are ~64·10⁹ at most (L(x) ≤
  *     63·10⁹ for any BIGINT x), so a product c·L(c) stays exact in
  *     BIGINT only while c < ~1.4·10⁸ and a per-group sum Σ c·L(c)
  *     while Σc < ~1.4·10⁸; past that Spark wraps silently where
  *     DuckDB widens to HUGEINT. Each lattice query states its own
  *     bound (q35: per-user events; t17: tf·avgl) — widen the factors
  *     through DECIMAL in both engines if a deployment can exceed it.
  *     (2) ROUNDING AGREEMENT — Spark computes log2 as ln(x)/ln(2)
  *     and DuckDB as native log2(x); the engines agree on L(x)
  *     because log2(x)·10⁹ never lands within a few ulps (~10⁻⁵ at
  *     these magnitudes) of a .5 rounding boundary for the integer
  *     inputs the queries feed it. That is a data-independent
  *     property of integer arguments ONLY in the sense that a
  *     boundary hit is astronomically unlikely (~10⁻⁵ odds per
  *     distinct input value, none observed across every SF gated);
  *     a paranoid verifier may allow ±1 nanobit on lattice columns.
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact money sum as integer cents — see class doc. */
  private def dsum(c: Column): Column =
    sum(round(c * 100).cast("long")) / 100.0

  // ===========================================================
  // Core relational / OLAP
  // ===========================================================

  /** q1_agg — TPC-H Q1 pricing summary: grouped sum/avg/count.
    * Reference: ftmq aggregations surface (tests/test_store.py:171).
    *
    * Money sums accumulate integer cents (`round(x*100) AS BIGINT`,
    * the q10 pattern, mirrored in the oracle): a LongType hash-agg
    * buffer stays primitive inside whole-stage codegen, where a
    * DECIMAL(18,2) buffer boxes a BigDecimal per group update —
    * measured 2.9× on this query at sf0.1. Integer-cent sums are
    * exact, and cents/100.0 is the same correctly-rounded double as
    * CAST(decimal-sum AS DOUBLE), so results are bitwise unchanged.
    * sum_disc_price scales by 1e4 (two 2-dp factors multiply).
    */
  def q1Agg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def cents(c: Column): Column = round(c * 100).cast("long")
    t(s, dir, "lineitem")
      .filter($"l_shipdate" < lit("1998-09-01").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        (sum(cents($"l_quantity")) / 100.0).as("sum_qty"),
        (sum(cents($"l_extendedprice")) / 100.0).as("sum_base_price"),
        (sum(round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 10000)
          .cast("long")) / 10000.0).as("sum_disc_price"),
        (sum(cents($"l_quantity")) / 100.0 / count(lit(1))).as("avg_qty"),
        (sum(cents($"l_discount")) / 100.0 / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
      |  SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
      |  SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS sum_disc_price,
      |  SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 / COUNT(*) AS avg_qty,
      |  SUM(CAST(round(l_discount * 100) AS BIGINT)) / 100.0 / COUNT(*) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate < TIMESTAMP '1998-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q2 — comparator surface: eq / gte / in / like / between on one scan.
    * Mirrors ftmq `Query.where(prop=..., comparator=...)`
    * (tests/test_store.py:120-123). All predicates reach the parquet scan
    * as PushedFilters.
    */
  def q2FilterComparators(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .filter($"o_orderstatus".isin("F", "O") &&
        $"o_totalprice" >= 100000.0 &&
        $"o_orderpriority".like("%URGENT%") &&
        $"o_orderdate" >= lit("1995-01-01").cast("timestamp") &&
        $"o_custkey".between(10, 10000))
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
  }

  val q2Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_orderstatus IN ('F','O') AND o_totalprice >= 100000.0
      |  AND o_orderpriority LIKE '%URGENT%'
      |  AND o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o_custkey BETWEEN 10 AND 10000""".stripMargin

  /** q3 — multiway join with broadcast dims: revenue per nation.
    * The statement store joins statements↔statements on ids; dims
    * (nation here) are broadcast — no shuffle for the small side.
    */
  def q3JoinMultiway(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val customer = t(s, dir, "customer")
    val orders = t(s, dir, "orders")
    val lineitem = t(s, dir, "lineitem")
    val nation = t(s, dir, "nation")
    // nation is a FIXED-cardinality dim (25 rows at every SF) —
    // broadcast unconditionally. customer SCALES with the data, so its
    // join strategy is left to the planner: at spec scale the
    // statistics pick a broadcast anyway, at 100 TB customer is
    // terabytes and must shuffle (r15 — pinning broadcast on a
    // data-sized side is the f24 sf10 failure mode).
    lineitem
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .join(customer, $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(
        (sum(round($"l_extendedprice" * (lit(1.0) - $"l_discount") * 10000)
          .cast("long")) / 10000.0).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q3Sql: String =
    """SELECT n_name,
      |  SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  /** q4 — order_by + slice: ftmq `q.order_by("amountEur")[:10]`
    * (tests/test_store.py:147-162). Top-k with deterministic tiebreak;
    * Spark plans this as TakeOrderedAndProject (no full sort shuffle).
    */
  def q4TopkOrderSlice(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .offset(5).limit(15)
  }

  val q4Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 15 OFFSET 5""".stripMargin

  /** q5 — search: case-insensitive substring over text, the Spark twin of
    * ftmq `Query.search("agency")` (tests/test_store.py:252-255).
    */
  def q5Search(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .filter(lower($"text").contains("merge fast"))
      .select($"doc_id", $"lang", $"n_chars")
  }

  val q5Sql: String =
    """SELECT doc_id, lang, n_chars
      |FROM documents
      |WHERE lower(text) LIKE '%merge fast%'""".stripMargin

  /** q6 — grouped aggregation by key:
    * `aggregate("sum", "amountEur", groups="beneficiary")`
    * (tests/test_store.py:171-200).
    */
  def q6AggGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy($"event_type")
      .agg(dsum($"value").as("sum_value"), count(lit(1)).as("n"))
  }

  val q6Sql: String =
    """SELECT event_type,
      |  SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value,
      |  COUNT(*) AS n
      |FROM events GROUP BY event_type""".stripMargin

  /** q7 — aggregation grouped by year(date): ftmq `groups="year"`
    * (tests/test_store.py:215-236).
    */
  def q7AggYear(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .groupBy(year($"o_orderdate").cast("bigint").as("year"))
      .agg(dsum($"o_totalprice").as("sum_total"), count(lit(1)).as("n"))
  }

  val q7Sql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
      |  SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS sum_total,
      |  COUNT(*) AS n
      |FROM orders GROUP BY 1""".stripMargin

  /** q8 — count distinct: the stats view's
    * `countState(distinct canonical_id)` (engine.py:204-220).
    */
  def q8CountDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("users"), count(lit(1)).as("n"))
  }

  val q8Sql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS users, COUNT(*) AS n
      |FROM events GROUP BY event_type""".stripMargin

  /** q9 — window rank: top-2 lineitems per order by price. The reference
    * serves per-entity ordered access via projections (engine.py:249-267);
    * on Spark it's a window over the join key.
    */
  def q9WindowRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"l_orderkey")
      .orderBy($"l_extendedprice".desc, $"l_linenumber".asc)
    t(s, dir, "lineitem")
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter($"rn" <= 2)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice", $"rn")
  }

  val q9Sql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, rn FROM (
      |  SELECT l_orderkey, l_linenumber, l_extendedprice,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |      ORDER BY l_extendedprice DESC, l_linenumber) AS BIGINT) AS rn
      |  FROM lineitem) WHERE rn <= 2""".stripMargin

  /** q10 — running aggregate per customer over order date. The sum runs
    * over LONG CENTS, not decimal: a cumulative ROWS frame is evaluated
    * in frame order in both engines, and integer cents are exact, so
    * cross-engine parity holds without decimal's per-row overflow
    * checks (measured 2× on this window: decimal 0.80s vs 0.41s at
    * sf0.1).
    */
  def q10WindowRunning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate".asc, $"o_orderkey".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .withColumn("running",
        sum(round($"o_totalprice" * 100).cast("long")).over(w) / 100.0)
      .select($"o_custkey", $"o_orderkey", $"running")
  }

  val q10Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS UNBOUNDED PRECEDING) / 100.0 AS running
      |FROM orders""".stripMargin

  /** q11 — semi join (EXISTS): ftmq reverse lookup
    * `Query.where(reverse=entity_id)` (tests/test_store.py:238-249) is an
    * existence probe against referencing statements.
    */
  def q11SemiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = t(s, dir, "orders").filter($"o_orderstatus" === "F")
    t(s, dir, "customer")
      .join(orders, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
  }

  val q11Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin

  /** q12 — anti join (NOT EXISTS): dataset difference — customers with no
    * pending ('P') order.
    */
  def q12AntiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pending = t(s, dir, "orders").filter($"o_orderstatus" === "P")
    t(s, dir, "customer")
      .join(pending, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
  }

  val q12Sql: String =
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""".stripMargin

  /** q13 — JSON field extraction from a string payload column (regex —
    * portable across engines, no extension dependency).
    */
  def q13JsonExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .withColumn("k",
        regexp_extract($"props", "\"k\":\\s*(\\d+)", 1).cast("bigint"))
      .select($"event_id", $"event_type", $"k")
  }

  val q13Sql: String =
    """SELECT event_id, event_type,
      |  CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k
      |FROM events""".stripMargin

  /** q14 — event-time tumbling window (batch twin of st1_stream_window).
    * Bucket emitted as epoch seconds: raw timestamp formatting is not
    * portable across engines.
    */
  def q14EventsTimeBucket(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy(
        unix_timestamp(date_trunc("hour", $"ts")).as("bucket"),
        $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
  }

  val q14Sql: String =
    """SELECT CAST(epoch_ms(date_trunc('hour', ts)) / 1000 AS BIGINT) AS bucket,
      |  event_type, COUNT(*) AS n,
      |  SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** q15 — HAVING: post-aggregation filter, the shape of the fpx blocking
    * query `HAVING entities > 2` (tests/test_fingerprints.py).
    */
  def q15Having(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "part")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n"), countDistinct($"p_type").as("n_types"))
      .filter($"n" > 3)
  }

  val q15Sql: String =
    """SELECT p_brand, COUNT(*) AS n, COUNT(DISTINCT p_type) AS n_types
      |FROM part GROUP BY p_brand HAVING COUNT(*) > 3""".stripMargin

  /** q16 — percentiles: exact linear-interpolation quantiles per group
    * (the ClickHouse quantile* OLAP surface), computed SORT-BASED:
    * distributed sort + streaming row_number, keep only the ≤2 rows
    * per percentile whose positions bracket (n−1)·p, interpolate in a
    * tiny final aggregate. Spark's `percentile` aggregate instead
    * buffers EVERY group value in its aggregation buffer — a per-task
    * OOM at 10^11 rows — where the sort path spills gracefully and the
    * running row_number holds O(1) state (measured 2.3× faster at
    * sf0.1 too). Same (n−1)·p definition as DuckDB `quantile_cont`;
    * rounded to absorb last-bit interpolation drift.
    */
  def q16Percentile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ps = Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")
    val w = Window.partitionBy($"l_returnflag").orderBy($"l_extendedprice")
    val li = t(s, dir, "lineitem").select($"l_returnflag", $"l_extendedprice")
    // group sizes via a tiny pre-agg + broadcast join-back: a
    // partition-only count window would buffer whole partitions in the
    // window operator — exactly the buffer this rewrite removes
    val counts = li.groupBy($"l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"))
    val ranked = li
      .withColumn("rn", row_number().over(w).cast("double"))
      .join(broadcast(counts), Seq("l_returnflag"))
    def idx(p: Double): Column = ($"n" - 1) * p
    val needed = ps.map { case (p, _) =>
      $"rn" === floor(idx(p)) + 1 || $"rn" === ceil(idx(p)) + 1
    }.reduce(_ || _)
    val aggs = ps.flatMap { case (p, name) =>
      // row-level picks run inside the aggregates; the interpolation
      // coefficients are computed over the aggregated group size
      val lo = max(when($"rn" === floor(idx(p)) + 1, $"l_extendedprice"))
      val hi = max(when($"rn" === ceil(idx(p)) + 1, $"l_extendedprice"))
      val i = (max($"n") - 1) * p
      Seq(round(
        when(floor(i) === ceil(i), lo)
          .otherwise(lo * (ceil(i) - i) + hi * (i - floor(i))), 4)
        .as(name))
    }
    ranked.filter(needed)
      .groupBy($"l_returnflag")
      .agg(aggs.head, aggs.tail: _*)
  }

  val q16Sql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
      |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** q16b — the single-pass twin of [[q16Percentile]]. The exact form
    * needs a global per-group sort; `approx_percentile`
    * (Greenwald–Khanna quantile summaries, rank error ≤ 1/accuracy) is
    * O(accuracy·log n) memory with map-side partial merge — no sort,
    * mergeable incrementally (streaming/MV maintenance), the cheaper
    * answer when a bounded rank error is acceptable. Accuracy 10000 →
    * rank error ≤ 0.01%. Spec-gated against the exact form (no DuckDB
    * oracle: its approx_quantile is a t-digest, a different sketch
    * with different values).
    */
  def q16bPercentileApprox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)")
        .as("ps"))
      .select($"l_returnflag",
        round(element_at($"ps", 1), 4).as("p50"),
        round(element_at($"ps", 2), 4).as("p90"),
        round(element_at($"ps", 3), 4).as("p99"))
  }

  /** q17 — rollup: subtotal hierarchy over (status, priority) — the
    * multi-level aggregation shape of OLAP reporting.
    */
  def q17Rollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
  }

  val q17Sql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin

  /** q18 — RANGE-framed window: per-user rolling event-value sum over
    * the trailing hour (event-time sliding aggregate, the batch face
    * of a sliding-window stream).
    */
  def q18RangeWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id")
      .orderBy(unix_timestamp($"ts"))
      .rangeBetween(-3600L, 0L)
    t(s, dir, "events")
      .withColumn("rolling_1h",
        sum(round($"value" * 100).cast("long")).over(w) / 100.0)
      .select($"event_id", $"user_id",
        unix_timestamp($"ts").as("ts_sec"), $"rolling_1h")
  }

  val q18Sql: String =
    """SELECT event_id, user_id,
      |  epoch_ms(ts) // 1000 AS ts_sec,
      |  SUM(CAST(round(value * 100) AS BIGINT)) OVER (
      |    PARTITION BY user_id ORDER BY epoch_ms(ts) // 1000
      |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) / 100.0 AS rolling_1h
      |FROM events""".stripMargin

  /** q19 — batch sessionization (the batch twin of st3): lag detects
    * gaps > 30 min, a running sum of gap flags numbers the sessions,
    * then one aggregation per (user, session). Two windows + one agg,
    * all clustered on user_id — a single shuffle with the store
    * bucketed by user.
    */
  def q19Sessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy($"user_id")
      .orderBy($"ts".asc, $"event_id".asc)
    t(s, dir, "events")
      .withColumn("prev", lag(unix_timestamp($"ts"), 1).over(byUser))
      .withColumn("new_sess",
        when($"prev".isNull ||
          unix_timestamp($"ts") - $"prev" > 1800, 1L).otherwise(0L))
      .withColumn("session_id",
        sum($"new_sess").over(byUser.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_id")
      .agg(
        min(unix_timestamp($"ts")).as("session_start_sec"),
        count(lit(1)).as("n_events"),
        dsum($"value").as("sum_value"))
  }

  val q19Sql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, value,
      |    epoch_ms(ts) // 1000 AS ts_sec,
      |    LAG(epoch_ms(ts) // 1000) OVER w AS prev
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT *, CAST(SUM(CASE WHEN prev IS NULL OR ts_sec - prev > 1800
      |      THEN 1 ELSE 0 END) OVER (
      |    PARTITION BY user_id ORDER BY ts_sec, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id,
      |  min(ts_sec) AS session_start_sec,
      |  COUNT(*) AS n_events,
      |  SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
      |FROM sess GROUP BY user_id, session_id""".stripMargin

  /** q20 — as-of join (attribution): each purchase matched to the same
    * user's most recent click at-or-before it. Spark has no as-of
    * operator; [[graft.operators.AsofJoin]] implements it as the
    * union-and-carry sort-merge form (one shuffle on user_id, linear in
    * rows — see its doc for why the naive range-join formulation is a
    * per-key quadratic trap). DuckDB's native ASOF JOIN is the oracle.
    * Clicks dedup to one row per (user, ts) first — max event_id —
    * because "the" as-of row is ill-defined under timestamp ties.
    */
  def q20AsofJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id", $"ts")
      .agg(max($"event_id").as("id"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts", $"value")
    graft.operators.AsofJoin.join(purchases, clicks, "user_id", "ts",
        rightPrefix = "click_")
      .select($"purchase_id", $"user_id",
        unix_timestamp($"ts").as("purchase_sec"),
        $"click_id",
        unix_timestamp($"click_ts").as("click_sec"),
        (unix_timestamp($"ts") - unix_timestamp($"click_ts")).as("gap_sec"),
        round($"value" * 100).cast("long").as("value_cents"))
  }

  /** q20b — q20 through the skew-proof twin
    * ([[graft.operators.AsofJoin.joinBucketed]], two-phase
    * (key, ts-bucket) carry, one-day buckets): answers must be
    * identical, so it shares q20's native DuckDB ASOF JOIN oracle —
    * the hot-key-safe form gets full hash gating, not just the
    * spec-level equivalence check.
    */
  def q20bAsofBucketed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id", $"ts")
      .agg(max($"event_id").as("id"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts", $"value")
    graft.operators.AsofJoin.joinBucketed(purchases, clicks, "user_id",
        "ts", bucketWidth = 86400L, rightPrefix = "click_")
      .select($"purchase_id", $"user_id",
        unix_timestamp($"ts").as("purchase_sec"),
        $"click_id",
        unix_timestamp($"click_ts").as("click_sec"),
        (unix_timestamp($"ts") - unix_timestamp($"click_ts")).as("gap_sec"),
        round($"value" * 100).cast("long").as("value_cents"))
  }

  val q20Sql: String =
    """WITH c AS (
      |  SELECT user_id, ts, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |p AS (
      |  SELECT event_id AS purchase_id, user_id, ts, value
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.purchase_id, p.user_id,
      |  epoch_ms(p.ts) // 1000 AS purchase_sec,
      |  c.click_id,
      |  epoch_ms(c.ts) // 1000 AS click_sec,
      |  epoch_ms(p.ts) // 1000 - epoch_ms(c.ts) // 1000 AS gap_sec,
      |  CAST(round(p.value * 100) AS BIGINT) AS value_cents
      |FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts"""
      .stripMargin

  /** q21 — pivot: yearly order totals spread across status columns,
    * expressed as conditional sums over the EXPLICIT value domain —
    * ONE hash aggregate (map-side partial, one shuffle on the group
    * key, spec-pinned). Spark's own `.pivot(col, values)` API was
    * measured and rejected for the hot path: even with the value list
    * given it plans TWO aggregates (groupBy(year, status) then
    * PivotFirst over the pairs — a second exchange for nothing at this
    * cardinality), and without the list it adds a distinct-values
    * collect job before the plan can even build. The conditional-sum
    * form is what a pivot IS to a columnar engine; DuckDB's oracle
    * states it the same way.
    */
  def q21Pivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def cents(c: Column): Column = round(c * 100).cast("long")
    def cell(status: String): Column =
      (sum(when($"o_orderstatus" === status, cents($"o_totalprice")))
        / 100.0).as(s"${status.toLowerCase}_total")
    t(s, dir, "orders")
      .withColumn("o_year", year($"o_orderdate").cast("bigint"))
      .groupBy($"o_year")
      .agg(cell("F"), cell("O"), cell("P"))
  }

  val q21Sql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  SUM(CASE WHEN o_orderstatus = 'F'
      |    THEN CAST(round(o_totalprice * 100) AS BIGINT) END) / 100.0 AS f_total,
      |  SUM(CASE WHEN o_orderstatus = 'O'
      |    THEN CAST(round(o_totalprice * 100) AS BIGINT) END) / 100.0 AS o_total,
      |  SUM(CASE WHEN o_orderstatus = 'P'
      |    THEN CAST(round(o_totalprice * 100) AS BIGINT) END) / 100.0 AS p_total
      |FROM orders GROUP BY 1""".stripMargin

  /** q22 — GROUPING SETS with MIXED grains — ((status, priority),
    * (status), (priority)) — the report shape rollup/cube cannot state
    * (q17's rollup only nests prefixes; a cube would add the grand
    * total and pay a 4th grain). `grouping()` flags disambiguate a
    * genuine NULL group value from a rolled-up one, cast identically
    * in both engines.
    *
    * Scale shape: Spark plans grouping sets as ONE hash aggregate over
    * an Expand — the map side replays each row once per grain (3×
    * here, a fixed multiplier chosen by the query, not the data) and
    * partial aggregation collapses every grain BEFORE the single
    * group-key exchange. No per-grain re-scan, no union of three
    * aggregates (which would read the table three times and shuffle
    * three streams).
    */
  def q22GroupingSets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .groupingSets(
        Seq(Seq($"o_orderstatus", $"o_orderpriority"),
          Seq($"o_orderstatus"), Seq($"o_orderpriority")),
        $"o_orderstatus", $"o_orderpriority")
      .agg(
        grouping($"o_orderstatus").cast("long").as("g_status"),
        grouping($"o_orderpriority").cast("long").as("g_priority"),
        count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
  }

  val q22Sql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
      |  COUNT(*) AS n,
      |  SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |  (o_orderstatus), (o_orderpriority))""".stripMargin

  // ===========================================================
  // FTM statement-store semantics (SURVEY.md §2, f-block)
  // ===========================================================

  import graft.model.Statements
  import graft.model.Statements.PropSpec
  import graft.operators.{Fpx, ReplacingMerge}
  import graft.functions.Phonetics

  /** Statements derived from customer + part — the shared input of the
    * f-block. Write path of the store: entities decompose into
    * statement rows (store.py:54-60).
    */
  def statements(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Full 14-column statement rows (engine.py:133-147): names carry an
    // original_value (the pre-normalization form) and a lang; customers
    // are target=true, parts are external=true; parts have no
    // first_seen (Nullable in the reference DDL). Timestamps are
    // literals so the oracle twin is deterministic.
    val cust = Statements.unpivot(
      t(s, dir, "customer"),
      concat(lit("customer-"), $"c_custkey"),
      schema = "Customer", dataset = "tpch_customers",
      Seq(
        PropSpec("name", "name", $"c_name",
          original = Some(upper($"c_name")), lang = Some(lit("en"))),
        PropSpec("mktsegment", "string", $"c_mktsegment"),
        PropSpec("nationkey", "number", $"c_nationkey"),
        PropSpec("acctbal", "number", $"c_acctbal")),
      target = lit(true), external = lit(false),
      firstSeen = to_timestamp(lit("2024-01-01 00:00:00")),
      lastSeen = to_timestamp(lit("2024-06-01 00:00:00")))
    val part = Statements.unpivot(
      t(s, dir, "part"),
      concat(lit("part-"), $"p_partkey"),
      schema = "Part", dataset = "tpch_parts",
      Seq(
        PropSpec("name", "name", $"p_name",
          original = Some(upper($"p_name")), lang = Some(lit("en"))),
        PropSpec("brand", "string", $"p_brand"),
        PropSpec("type", "string", $"p_type"),
        PropSpec("size", "number", $"p_size"),
        PropSpec("retailprice", "number", $"p_retailprice")),
      target = lit(false), external = lit(true),
      firstSeen = lit(null).cast("timestamp"),
      lastSeen = to_timestamp(lit("2024-06-02 00:00:00")))
    cust.unionAll(part)
  }

  /** DuckDB twin of [[statements]] as a WITH clause. */
  private val stmtsCte: String = {
    def sel(eid: String, schema: String, dataset: String,
        prop: String, ptype: String, value: String,
        original: String, lang: String, target: String, external: String,
        ext: String, firstSeen: String, lastSeen: String, from: String) =
      s"""SELECT
         |  substr(sha256(concat_ws('.', '$dataset', $eid, '$prop',
         |    CAST($value AS VARCHAR)) || '$ext'), 1, 40) AS id,
         |  $eid AS entity_id, $eid AS canonical_id,
         |  '$prop' AS prop, '$ptype' AS prop_type, '$schema' AS "schema",
         |  CAST($value AS VARCHAR) AS value, $original AS original_value,
         |  '$dataset' AS dataset, $lang AS lang,
         |  $target AS target, $external AS external,
         |  $firstSeen AS first_seen, $lastSeen AS last_seen
         |FROM $from""".stripMargin
    val cust = Seq(
      ("name", "name", "c_name", "upper(c_name)", "'en'"),
      ("mktsegment", "string", "c_mktsegment", "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"),
      ("nationkey", "number", "c_nationkey", "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"),
      ("acctbal", "number", "c_acctbal", "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"))
      .map { case (p, pt, v, o, lg) =>
        sel("'customer-' || c_custkey", "Customer", "tpch_customers",
          p, pt, v, o, lg, "TRUE", "FALSE", "",
          "TIMESTAMP '2024-01-01 00:00:00'",
          "TIMESTAMP '2024-06-01 00:00:00'", "customer")
      }
    val part = Seq(
      ("name", "name", "p_name", "upper(p_name)", "'en'"),
      ("brand", "string", "p_brand", "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"),
      ("type", "string", "p_type", "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"),
      ("size", "number", "p_size", "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"),
      ("retailprice", "number", "p_retailprice", "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"))
      .map { case (p, pt, v, o, lg) =>
        sel("'part-' || p_partkey", "Part", "tpch_parts",
          p, pt, v, o, lg, "FALSE", "TRUE", ".ext",
          "CAST(NULL AS TIMESTAMP)",
          "TIMESTAMP '2024-06-02 00:00:00'", "part")
      }
    s"""WITH statements AS (
       |${(cust ++ part).mkString("\nUNION ALL\n")}
       |)""".stripMargin
  }

  /** DuckDB expression: name fingerprint of column `c`. */
  private def duckFp(c: String): String =
    s"array_to_string(list_sort(list_distinct(list_filter(" +
      s"string_split_regex(regexp_replace(lower($c), '[^a-z0-9]+', ' ', 'g')," +
      s" ' '), x -> x <> ''))), ' ')"

  /** DuckDB CTE deriving the fpx table from `statements`. */
  private val fpxCte: String =
    s"""fpx AS (
       |  SELECT 'fingerprint' AS algorithm, tok.value AS value, dataset,
       |    entity_id, "schema", prop, prop_type
       |  FROM (
       |    SELECT *, ${duckFp("value")} AS fp FROM statements
       |    WHERE prop_type = 'name'
       |      AND "schema" IN ('Customer', 'Part')
       |  ), LATERAL (
       |    SELECT unnest(list_distinct(list_concat([fp],
       |      list_filter(string_split(fp, ' '), t -> length(t) > 5)))) AS value
       |  ) AS tok
       |  WHERE length(tok.value) > 0
       |)""".stripMargin

  /** f1 — the statement unpivot itself (write path), all 14 reference
    * columns; timestamps emitted as epoch seconds for the cross-engine
    * hash compare.
    */
  def f1StatementsUnpivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    statements(s, dir)
      .withColumn("first_seen", unix_timestamp($"first_seen"))
      .withColumn("last_seen", unix_timestamp($"last_seen"))
  }

  val f1Sql: String =
    s"""$stmtsCte
       |SELECT * REPLACE (
       |  CAST(epoch(first_seen) AS BIGINT) AS first_seen,
       |  CAST(epoch(last_seen) AS BIGINT) AS last_seen)
       |FROM statements""".stripMargin

  /** f2 — entity assembly (read path): statements → one row per entity
    * with a deterministic prop=value fold.
    */
  def f2EntityAssembly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Statements.assemble(statements(s, dir), seenRange = true)
      .withColumn("first_seen", unix_timestamp($"first_seen"))
      .withColumn("last_seen", unix_timestamp($"last_seen"))
  }

  val f2Sql: String =
    s"""$stmtsCte
       |SELECT canonical_id, "schema", dataset,
       |  string_agg(prop || '=' || value, '|' ORDER BY prop || '=' || value) AS entity,
       |  COUNT(*) AS n_statements,
       |  CAST(epoch(min(first_seen)) AS BIGINT) AS first_seen,
       |  CAST(epoch(max(last_seen)) AS BIGINT) AS last_seen
       |FROM statements GROUP BY canonical_id, "schema", dataset""".stripMargin

  /** f3 — ReplacingMergeTree(last_seen) FINAL: latest row per key.
    * Keyed on customer; version = (orderdate, orderkey).
    */
  def f3ReplacingMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ReplacingMerge.latestByKey(
      t(s, dir, "orders"),
      keys = Seq($"o_custkey"),
      version = Seq($"o_orderdate", $"o_orderkey"))
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
  }

  val f3Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders) WHERE rn = 1""".stripMargin

  /** f21 — FINAL AS OF a version cutoff: the ReplacingMergeTree store
    * "as it stood" at time T — rows whose version ≤ T, then latest per
    * key. ClickHouse users write this as `WHERE version <= T` before
    * FINAL (the filter COMMUTES with per-key-latest: it only narrows
    * each key's candidate set), and the reference versions statements
    * by `last_seen` (`ReplacingMergeTree(last_seen)`, engine.py:152),
    * so this is its time-travel read. Composes f3's
    * [[ReplacingMerge.latestByKey]] unchanged — the pushed filter
    * reaches the scan, the single latest-per-key window is the only
    * shuffle. Keys present only after T drop (no state existed yet).
    */
  def f21FinalAsof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ReplacingMerge.latestByKey(
      t(s, dir, "orders")
        .filter($"o_orderdate" <= lit("1997-06-30").cast("timestamp")),
      keys = Seq($"o_custkey"),
      version = Seq($"o_orderdate", $"o_orderkey"))
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
  }

  val f21Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders
      |  WHERE o_orderdate <= TIMESTAMP '1997-06-30 00:00:00')
      |WHERE rn = 1""".stripMargin

  /** f4 — the stats materialized view: per (dataset, schema) distinct
    * entities + statement counts.
    */
  def f4StatsView(s: SparkSession, dir: String): DataFrame =
    Statements.stats(statements(s, dir))

  val f4Sql: String =
    s"""$stmtsCte
       |SELECT dataset, "schema", COUNT(DISTINCT canonical_id) AS entities,
       |  COUNT(*) AS statements
       |FROM statements GROUP BY dataset, "schema"""".stripMargin

  /** f5 — the name fingerprint function itself. */
  def f5Fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "part")
      .select($"p_partkey",
        $"p_name".as("name"),
        Phonetics.fingerprint($"p_name").as("fp"))
  }

  val f5Sql: String =
    s"""SELECT p_partkey, p_name AS name, ${duckFp("p_name")} AS fp
       |FROM part""".stripMargin

  /** f6 — fingerprint-algorithm slice of the fpx table feed (the
    * DuckDB-checkable slice; the full four-algorithm feed is `f17`).
    * The fpx_freq MV and the blocking tests run on this slice too
    * (engine.py:233 `WHERE algorithm = 'fingerprint'`).
    */
  def f6FpxTable(s: SparkSession, dir: String): DataFrame =
    Fpx.fromStatements(statements(s, dir), algorithms = Seq("fingerprint"),
      schemas = Seq("Customer", "Part"))

  val f6Sql: String = s"$stmtsCte, $fpxCte SELECT * FROM fpx"

  /** f17 — the FULL fpx feed: one row per (entity, token, algorithm)
    * across fingerprint/metaphone1/metaphone2/soundex
    * (engine.py:162-180; statements.py:44-48 loops all algorithms).
    * `.distinct()` models the ReplacingMergeTree FINAL state (key =
    * algorithm,value,prop,schema,dataset,entity_id). Rows-only at the
    * driver, PERMANENTLY DOCUMENTED (r15): the metaphone1/metaphone2
    * rows are Double Metaphone codes — a hundreds-of-context-rules
    * algorithm with no tractable pure-SQL form, and the reference's
    * `metaphone` package cannot run in this environment (not
    * installed, no egress) to produce a checked-in fixture. The
    * soundex rows DO have a pure-SQL oracle (f9 gates the identical
    * code path hash-exact); the metaphone rows are gated by the
    * published-vector + native≡scala differential specs in
    * FunctionsSpec.
    */
  def f17FpxPhonetic(s: SparkSession, dir: String): DataFrame =
    Fpx.fromStatements(statements(s, dir), schemas = Seq("Customer", "Part"))
      .distinct()

  import graft.operators.Xref

  /** Shared xref build for f18/f19: fingerprint-blocking pairs
    * (maxEntities=50) enriched to the reference's 14-column xref row
    * (engine.py:181-203), a base candidate batch at ts=1, a re-judged
    * batch at ts=2 for every pair whose left id ends in '0', merged
    * with ReplacingMergeTree(ts) semantics keyed (left_id, right_id).
    */
  private def xrefLatest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stmts = statements(s, dir)
    val pairs = Fpx.xrefBlocks(
      Fpx.fromStatements(stmts, algorithms = Seq("fingerprint"),
        schemas = Seq("Customer", "Part")),
      minEntities = 2, maxEntities = 50)
    val attrs = Xref.entityAttrs(stmts, countryProp = "nationkey")
    val base = Xref.candidates(pairs, attrs, ts = lit(1L))
    // The judged batch derives from base; a base.unionByName(
    // base.filter...) plan would compute the whole pair+attrs subtree
    // TWICE (Spark does not share common subtrees across union
    // branches). One explode pass emits the ts=1 row always and the
    // superseding ts=2 row where judged — same rows, half the plan.
    val asBase = struct(base.columns.map(col): _*)
    val asJudged = struct(base.columns.map {
      case "judgement" => lit("positive").as("judgement")
      case "score"     => lit(0.9).as("score")
      case "ts"        => lit(2L).as("ts")
      case "user"      => lit("analyst").as("user")
      case c           => col(c)
    }: _*)
    val both = base.select(explode(
      when($"left_id".endsWith("0"), array(asBase, asJudged))
        .otherwise(array(asBase))).as("r"))
      .select("r.*")
    Xref.latestJudgements(both)
  }

  /** DuckDB twin of [[xrefLatest]] as CTEs (requires stmtsCte+fpxCte). */
  private val xrefCte: String =
    s"""blocks AS (SELECT DISTINCT value, entity_id FROM fpx),
       |sizes AS (
       |  SELECT value FROM blocks GROUP BY value
       |  HAVING COUNT(DISTINCT entity_id) BETWEEN 2 AND 50),
       |pairs AS (
       |  SELECT DISTINCT l.entity_id AS left_id, r.entity_id AS right_id
       |  FROM blocks l JOIN sizes USING (value) JOIN blocks r USING (value)
       |  WHERE l.entity_id < r.entity_id),
       |attrs AS (
       |  SELECT entity_id, min(dataset) AS dataset, min("schema") AS "schema",
       |    min(CASE WHEN prop = 'nationkey' THEN value END) AS country,
       |    min(CASE WHEN prop_type = 'name' THEN value END) AS caption
       |  FROM statements GROUP BY entity_id),
       |base AS (
       |  SELECT la.dataset AS left_dataset, p.left_id,
       |    la."schema" AS left_schema, la.country AS left_country,
       |    la.caption AS left_caption,
       |    ra.dataset AS right_dataset, p.right_id,
       |    ra."schema" AS right_schema, ra.country AS right_country,
       |    ra.caption AS right_caption,
       |    'no_judgement' AS judgement, 0.0 AS score,
       |    CAST(1 AS BIGINT) AS ts, 'graft' AS "user"
       |  FROM pairs p
       |  JOIN attrs la ON p.left_id = la.entity_id
       |  JOIN attrs ra ON p.right_id = ra.entity_id),
       |judged AS (
       |  SELECT left_dataset, left_id, left_schema, left_country,
       |    left_caption, right_dataset, right_id, right_schema,
       |    right_country, right_caption,
       |    'positive' AS judgement, 0.9 AS score,
       |    CAST(2 AS BIGINT) AS ts, 'analyst' AS "user"
       |  FROM base WHERE left_id LIKE '%0'),
       |latest AS (
       |  SELECT * EXCLUDE (rn) FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY left_id, right_id
       |      ORDER BY ts DESC) AS rn
       |    FROM (SELECT * FROM base UNION ALL SELECT * FROM judged))
       |  WHERE rn = 1)""".stripMargin

  /** f18 — the full xref table write path + judgement upsert: candidate
    * pairs from fingerprint blocking enriched with per-side dataset/
    * schema/country/caption, re-judged rows superseding their ts=1
    * candidates per (left_id, right_id) — ReplacingMergeTree(ts) FINAL.
    */
  def f18XrefJudgements(s: SparkSession, dir: String): DataFrame =
    xrefLatest(s, dir)

  val f18Sql: String =
    s"""$stmtsCte, $fpxCte, $xrefCte
       |SELECT * FROM latest""".stripMargin

  /** f19 — the `_reverse` projection access path (engine.py:259-261):
    * latest judgements read right-side-first, filtered by a right-id
    * prefix (the pushed-down reverse lookup).
    */
  def f19XrefReverse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Xref.reverse(xrefLatest(s, dir))
      .filter($"right_id".startsWith("part-1"))
  }

  val f19Sql: String =
    s"""$stmtsCte, $fpxCte, $xrefCte
       |SELECT right_dataset, right_id, right_schema, right_country,
       |  right_caption, left_dataset, left_id, left_schema, left_country,
       |  left_caption, judgement, score, ts, "user"
       |FROM latest WHERE right_id LIKE 'part-1%'""".stripMargin

  /** f20 — the resolver loop closed end-to-end (store.py:26-28,
    * engine.py:259): positive judgements from the xref store →
    * connected-component mapping ([[Xref.resolverMapping]]) →
    * canonical_id rewrite over the statement table
    * ([[Statements.applyResolver]]) → entity assembly. Entities linked
    * by a positive-judgement chain collapse into ONE assembled entity
    * under the cluster-minimum canonical id.
    */
  def f20ResolverCanonical(s: SparkSession, dir: String): DataFrame = {
    val stmts = statements(s, dir)
    val mapping = Xref.resolverMapping(xrefLatest(s, dir))
    Statements.assemble(Statements.applyResolver(stmts, mapping))
  }

  /** DuckDB twin: the component minimum comes from a recursive
    * transitive closure over the symmetric positive-pair edges —
    * engine-portable ground truth for the iterative min-propagation.
    */
  val f20Sql: String =
    s"""$stmtsCte, $fpxCte, $xrefCte,
       |pos AS (SELECT left_id, right_id FROM latest
       |  WHERE judgement = 'positive'),
       |cedges AS (
       |  SELECT left_id AS src, right_id AS dst FROM pos
       |  UNION SELECT right_id, left_id FROM pos),
       |reach(id, r) AS (
       |  SELECT src, dst FROM cedges
       |  UNION
       |  SELECT e.src, r.r FROM cedges e JOIN reach r ON e.dst = r.id),
       |mapping AS (
       |  SELECT id AS entity_id, least(id, min(r)) AS canonical_id
       |  FROM reach GROUP BY id),
       |resolved AS (
       |  SELECT coalesce(m.canonical_id, s.canonical_id) AS canonical_id,
       |    s."schema", s.dataset, s.prop, s.value
       |  FROM statements s LEFT JOIN mapping m USING (entity_id))
       |SELECT canonical_id, "schema", dataset,
       |  string_agg(prop || '=' || value, '|'
       |    ORDER BY prop || '=' || value) AS entity,
       |  COUNT(*) AS n_statements
       |FROM resolved GROUP BY canonical_id, "schema", dataset"""
      .stripMargin.replaceFirst("WITH ", "WITH RECURSIVE ")

  /** f20b — the INCREMENTAL resolver face oracle-gated end-to-end
    * (r11): a deterministic slice of the positive judgements is held
    * out as the "arriving" batch, the prior mapping is computed over
    * the rest ([[Xref.resolverMapping]]), and the batch folds in via
    * [[Xref.applyJudgements]] — the O(component) maintenance path
    * (driver union-find over the batch + ONE broadcast-relabel pass,
    * no recompute). The DuckDB twin knows nothing of the split: it is
    * the full recursive-CTE transitive closure over ALL positive
    * edges, so the hash gate proves incremental ≡ batch on live data
    * (the property spec proves it on randomized judgement streams).
    *
    * The batch-sized driver collect inside `applyJudgements` is the
    * operator's contract (a judgement batch is matcher/analyst-sized,
    * never graph-sized — bulk backfills belong to `resolverMapping`);
    * the md5 slice here keeps the demo batch a bounded fraction.
    */
  def f20bResolverIncremental(s: SparkSession, dir: String): DataFrame = {
    val latest = xrefLatest(s, dir)
    val isDelta = col("judgement") === lit("positive") &&
      substring(md5(concat_ws("|", col("left_id"), col("right_id"))), 1,
        1) === lit("0")
    val before = latest.filter(!isDelta).localCheckpoint()
    val batch = latest.filter(isDelta).localCheckpoint()
    Xref.applyJudgements(
      Xref.resolverMapping(before).localCheckpoint(), batch, latest)
  }

  /** DuckDB twin: identical to f20's mapping CTE — the full closure
    * over every positive edge; the split is invisible to the oracle.
    */
  val f20bSql: String =
    s"""$stmtsCte, $fpxCte, $xrefCte,
       |pos AS (SELECT left_id, right_id FROM latest
       |  WHERE judgement = 'positive'),
       |cedges AS (
       |  SELECT left_id AS src, right_id AS dst FROM pos
       |  UNION SELECT right_id, left_id FROM pos),
       |reach(id, r) AS (
       |  SELECT src, dst FROM cedges
       |  UNION
       |  SELECT e.src, r.r FROM cedges e JOIN reach r ON e.dst = r.id)
       |SELECT id AS entity_id, least(id, min(r)) AS canonical_id
       |FROM reach GROUP BY id"""
      .stripMargin.replaceFirst("WITH ", "WITH RECURSIVE ")

  /** f7 — fpx value frequency view (reference MV filters
    * algorithm='fingerprint', engine.py:233).
    */
  def f7FpxFreq(s: SparkSession, dir: String): DataFrame =
    Fpx.freq(f6FpxTable(s, dir))

  val f7Sql: String =
    s"""$stmtsCte, $fpxCte
       |SELECT value, COUNT(*) AS freq, CAST(length(value) AS BIGINT) AS len
       |FROM fpx GROUP BY value""".stripMargin

  /** f8 — xref blocking pairs over shared fingerprint values
    * (test_fingerprints.py runs the same query per algorithm; the
    * phonetic-algorithm blocks are exercised in FpxSpec, where
    * metaphone blocking pairs entities an exact-fingerprint block
    * misses).
    */
  def f8XrefBlock(s: SparkSession, dir: String): DataFrame =
    Fpx.xrefBlocks(f6FpxTable(s, dir), minEntities = 2, maxEntities = 1000)

  val f8Sql: String =
    s"""$stmtsCte, $fpxCte,
       |blocks AS (SELECT DISTINCT value, entity_id FROM fpx),
       |sizes AS (
       |  SELECT value FROM blocks GROUP BY value
       |  HAVING COUNT(DISTINCT entity_id) BETWEEN 2 AND 1000
       |)
       |SELECT DISTINCT l.entity_id AS left_id, r.entity_id AS right_id
       |FROM blocks l JOIN sizes USING (value) JOIN blocks r USING (value)
       |WHERE l.entity_id < r.entity_id""".stripMargin

  /** f24 — edit-distance REFINEMENT of the blocking pairs (r13): the
    * name-similarity scoring step nomenklatura runs between blocking
    * and judgement — each f8 candidate pair scored by Levenshtein
    * distance between the entities' names, with a normalized
    * similarity for ranking. Spark-first: NO custom code — the
    * BOUNDED built-in `levenshtein(l, r, threshold)` (banded DP,
    * O(threshold·n) per pair instead of O(n·m), returning −1 past the
    * band) gates the pair before the similarity division, so a pair
    * of long unrelated names costs the band, not the full matrix. The
    * name attach is two equi-joins of the bounded pair stream against
    * an entity-grain (min name) table; similarity = round(1 −
    * lev/maxLen, 4), a single correctly-rounded division of identical
    * integers in both engines (the cents discipline). DuckDB's
    * `levenshtein` is the oracle — both engines implement the classic
    * unit-cost distance, so values gate exactly.
    */
  def f24NameEditdist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = statements(s, dir)
      .filter($"prop_type" === "name")
      .groupBy($"entity_id").agg(min($"value").as("name"))
    // the name table is ENTITY-grain — it scales with the data, so it
    // must ride a shuffle join, never a broadcast. Without the merge
    // hint the static estimator under-sizes the aggregate and plans a
    // broadcast that works at spec scale and collects a >1 GiB
    // relation to the driver at sf10 (maxResultSize abort — the r15
    // sf10 column caught it). The hint makes the 100 TB plan
    // unconditional; the pair side is f8's bounded blocking output.
    f8XrefBlock(s, dir)
      .join(names.select($"entity_id".as("left_id"), $"name".as("ln"))
        .hint("merge"), Seq("left_id"))
      .join(names.select($"entity_id".as("right_id"), $"name".as("rn"))
        .hint("merge"), Seq("right_id"))
      .withColumn("lev_dist", levenshtein($"ln", $"rn", 16))
      .filter($"lev_dist" >= 0) // −1 = past the band: pruned pre-division
      .withColumn("name_sim", round(
        lit(1.0) - $"lev_dist".cast("double") /
          greatest(length($"ln"), length($"rn"), lit(1)), 4))
      .select($"left_id", $"right_id",
        $"lev_dist".cast("long").as("lev_dist"), $"name_sim")
  }

  val f24Sql: String =
    s"""$stmtsCte, $fpxCte,
       |blocks AS (SELECT DISTINCT value, entity_id FROM fpx),
       |sizes AS (
       |  SELECT value FROM blocks GROUP BY value
       |  HAVING COUNT(DISTINCT entity_id) BETWEEN 2 AND 1000
       |),
       |pairs AS (
       |  SELECT DISTINCT l.entity_id AS left_id, r.entity_id AS right_id
       |  FROM blocks l JOIN sizes USING (value) JOIN blocks r USING (value)
       |  WHERE l.entity_id < r.entity_id),
       |names AS (
       |  SELECT entity_id, min(value) AS name FROM statements
       |  WHERE prop_type = 'name' GROUP BY 1)
       |SELECT p.left_id, p.right_id,
       |  CAST(levenshtein(ln.name, rn.name) AS BIGINT) AS lev_dist,
       |  round(1.0 - CAST(levenshtein(ln.name, rn.name) AS DOUBLE)
       |    / greatest(length(ln.name), length(rn.name), 1), 4) AS name_sim
       |FROM pairs p
       |JOIN names ln ON ln.entity_id = p.left_id
       |JOIN names rn ON rn.entity_id = p.right_id
       |WHERE levenshtein(ln.name, rn.name) <= 16""".stripMargin

  /** f25 — entity centrality over the order graph: PageRank in
    * INTEGER-EXACT fixed point ([[graft.operators.PageRank]]) on the
    * same directed entity-edge set f22/f23 traverse — "which
    * customers/nations anchor this catalog" for every node at once,
    * where the traversal faces answer pointwise from seeds. Ten
    * damped rounds at scale 10^6; every contribution is an integer
    * floor division whose sum is order-free, so the DuckDB oracle
    * (the same ten rounds as chained GROUP BY CTEs, `//` = the same
    * floor) hash-gates the full rank vector — float PageRank could
    * never be gated, its low bits differ per shuffle-arrival order.
    */
  def f25Pagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = orderGraphStatements(s, dir)
      .filter($"prop_type" === "entity")
      .select($"entity_id".as("src"), $"value".as("dst"))
    graft.operators.PageRank.ranks(edges, iters = 10)
      .select($"id".as("entity_id"), $"r")
  }

  // lazy: interpolates orderGraphCte, which initializes further down
  // the object (the registry maps at the bottom force it in time)
  lazy val f25Sql: String = {
    val rounds = (1 to 10).map { i =>
      s"""pr$i AS (
         |  SELECT n.node, CAST(150000 + COALESCE(s.c, 0) AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, SUM((85 * p.r) // (100 * e.d)) AS c
         |    FROM edges e JOIN pr${i - 1} p ON p.node = e.src
         |    GROUP BY 1) s ON s.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""$orderGraphCte,
       |rawe AS (
       |  SELECT DISTINCT entity_id AS src, value AS dst FROM gs
       |  WHERE prop_type = 'entity'),
       |deg AS (SELECT src, COUNT(*) AS d FROM rawe GROUP BY 1),
       |edges AS (
       |  SELECT rawe.src, rawe.dst, deg.d FROM rawe JOIN deg USING (src)),
       |nodes AS (SELECT src AS node FROM rawe UNION SELECT dst FROM rawe),
       |pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |$rounds
       |SELECT node AS entity_id, r FROM pr10""".stripMargin
  }

  /** f25b — PERSONALIZED PageRank ([[graft.operators.PageRank
    * .personalizedRanks]]): teleport restricted to a DATA-derived seed
    * set — the customers of nation-7 — so rank measures relevance to
    * THIS case instead of global prominence (the f22/f23 seed
    * discipline applied to f25's fixed point). Same integer-exact
    * machinery: r₀ = scale on seeds only, per-node teleport
    * tele·[seed], ten damped rounds, and unreachable nodes stay at
    * EXACTLY 0 (integer floors leak no phantom mass — the rank vector
    * doubles as a reachability certificate). The DuckDB twin runs the
    * identical ten rounds as chained CTEs with the identical seed CTE,
    * so the full rank vector hash-gates.
    */
  def f25bPersonalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gs = orderGraphStatements(s, dir)
    val edges = gs.filter($"prop_type" === "entity")
      .select($"entity_id".as("src"), $"value".as("dst"))
    val seeds = gs
      .filter($"schema" === "Customer" && $"prop" === "nation" &&
        $"value" === "nation-7")
      .select($"entity_id".as("id"))
    graft.operators.PageRank.personalizedRanks(edges, seeds, iters = 10)
      .select($"id".as("entity_id"), $"r")
  }

  // lazy: interpolates orderGraphCte (the f25Sql note)
  lazy val f25bSql: String = {
    val rounds = (1 to 10).map { i =>
      s"""pr$i AS (
         |  SELECT n.node, CAST(n.tele + COALESCE(s.c, 0) AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, SUM((85 * p.r) // (100 * e.d)) AS c
         |    FROM edges e JOIN pr${i - 1} p ON p.node = e.src
         |    GROUP BY 1) s ON s.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""$orderGraphCte,
       |rawe AS (
       |  SELECT DISTINCT entity_id AS src, value AS dst FROM gs
       |  WHERE prop_type = 'entity'),
       |deg AS (SELECT src, COUNT(*) AS d FROM rawe GROUP BY 1),
       |edges AS (
       |  SELECT rawe.src, rawe.dst, deg.d FROM rawe JOIN deg USING (src)),
       |nodes0 AS (SELECT src AS node FROM rawe UNION SELECT dst FROM rawe),
       |seeds AS (
       |  SELECT DISTINCT entity_id AS id FROM gs
       |  WHERE "schema" = 'Customer' AND prop = 'nation'
       |    AND value = 'nation-7'),
       |nodes AS (
       |  SELECT node,
       |    CASE WHEN s.id IS NOT NULL THEN CAST(150000 AS BIGINT)
       |      ELSE CAST(0 AS BIGINT) END AS tele
       |  FROM nodes0 LEFT JOIN seeds s ON s.id = nodes0.node),
       |pr0 AS (
       |  SELECT node, CAST(CASE WHEN tele > 0 THEN 1000000 ELSE 0 END
       |    AS BIGINT) AS r FROM nodes),
       |$rounds
       |SELECT node AS entity_id, r FROM pr10""".stripMargin
  }

  /** f26 — triangle census over the lineitem CO-OCCURRENCE graph
    * ([[graft.operators.Triangles]]): each lineitem row co-locates an
    * order, a part, and a supplier; the pairwise co-occurrence edges
    * make a closed order–part–supplier triple a triangle, and a node's
    * triangle support measures how enmeshed it is in repeated
    * procurement cliques — the cohesion feature f25's global rank and
    * f22's pointwise reach cannot state. (The f22/f25 statement graph
    * itself is star-shaped and triangle-free by construction — stated
    * at the operator.) Degree-oriented exact counting: O(m^{3/2})
    * wedge bound, every triangle counted once, integer-exact, so the
    * DuckDB oracle (the canonical a<b<c triple join) hash-gates every
    * node's count.
    */
  def f26Triangles(s: SparkSession, dir: String): DataFrame = {
    // the census runs on CoOccurrence's tagged longs: triangle counts
    // are orientation-invariant (any total order on nodes yields the
    // same census), so the long order standing in for the string
    // order changes nothing — the oracle gates that
    graft.operators.Triangles
      .perNode(CoOccurrence.edges(t(s, dir, "lineitem")))
      .select(CoOccurrence.decode(col("node")).as("entity_id"),
        col("n_triangles"))
  }

  val f26Sql: String =
    """WITH tr AS (
      |  SELECT 'order-' || l_orderkey AS o, 'part-' || l_partkey AS p,
      |    'supplier-' || l_suppkey AS sp
      |  FROM lineitem),
      |e AS (
      |  SELECT DISTINCT least(o, p) AS a, greatest(o, p) AS b FROM tr
      |  UNION
      |  SELECT DISTINCT least(p, sp), greatest(p, sp) FROM tr
      |  UNION
      |  SELECT DISTINCT least(o, sp), greatest(o, sp) FROM tr),
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1
      |  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
      |corners AS (
      |  SELECT x AS entity_id FROM tri
      |  UNION ALL SELECT y FROM tri
      |  UNION ALL SELECT z FROM tri)
      |SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
      |FROM corners GROUP BY 1""".stripMargin

  /** f27 — pointwise mutual information over order-basket
    * co-occurrence: which part PAIRS appear together in orders more
    * often than their individual frequencies predict — the
    * "suspiciously correlated entities" question at the heart of
    * investigative co-occurrence analysis (f26 asks "how enmeshed",
    * this asks "how SURPRISING is the link"). PMI(a,b) =
    * log₂(c_ab·N / (c_a·c_b)) runs on q35's integer LOG LATTICE —
    * pmi_nb = L(c_ab) + L(N) − L(c_a) − L(c_b) in BIGINT nanobits, so
    * the score is order-free exact and the oracle hash-gates with NO
    * rounding. The pair expansion is per-order and TPC-H baskets are
    * ≤7 items, so the self-join fans out ≤21 pairs per order —
    * structurally bounded, never corpus²; c_ab ≥ 2 denoises. The
    * count tables join back at pair grain (both sides node-grain —
    * nothing broadcast except the 1-row basket total).
    */
  // f27's items checkpoint, one generation: released when the query is
  // built again. Consume each f27 frame before building the next one.
  private val f27Items = new graft.operators.Fixpoint.Slots

  def f27CooccurrencePmi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def nanobits(c: Column): Column = round(log(2.0, c) * 1e9).cast("long")
    // items feeds THREE branches (pair self-join twice, item counts)
    // — materialized once via localCheckpoint (the f26/f20b
    // discipline; EAGER — the Dataset default — and SERIALIZED, so
    // the resident footprint is the compact form and the returned
    // frame's three branches read blocks instead of re-running the
    // distinct)
    val items = f27Items.hold("items", t(s, dir, "lineitem")
      .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
      .localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    val n = items.select($"o").distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val ca = items.groupBy($"p").agg(count(lit(1)).as("c"))
    val pairs = items.as("a")
      .join(items.as("b"), $"a.o" === $"b.o" && $"a.p" < $"b.p")
      .select($"a.p".as("pa"), $"b.p".as("pb"))
      .groupBy($"pa", $"pb").agg(count(lit(1)).as("n_co"))
      .filter($"n_co" >= 2)
    pairs
      .join(ca.select($"p".as("pa"), $"c".as("c_a")), "pa")
      .join(ca.select($"p".as("pb"), $"c".as("c_b")), "pb")
      .crossJoin(broadcast(n))
      .select($"pa", $"pb", $"n_co",
        (nanobits($"n_co") + nanobits($"n_baskets") -
          nanobits($"c_a") - nanobits($"c_b")).as("pmi_nb"))
  }

  val f27Sql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |n AS (SELECT COUNT(DISTINCT o) AS n_baskets FROM items),
      |ca AS (SELECT p, COUNT(*) AS c FROM items GROUP BY 1),
      |pairs AS (
      |  SELECT a.p AS pa, b.p AS pb, COUNT(*) AS n_co
      |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      |SELECT pairs.pa, pairs.pb, CAST(n_co AS BIGINT) AS n_co,
      |  CAST(round(log2(n_co) * 1e9) AS BIGINT)
      |    + CAST(round(log2(n.n_baskets) * 1e9) AS BIGINT)
      |    - CAST(round(log2(la.c) * 1e9) AS BIGINT)
      |    - CAST(round(log2(lb.c) * 1e9) AS BIGINT) AS pmi_nb
      |FROM pairs
      |JOIN ca la ON la.p = pairs.pa
      |JOIN ca lb ON lb.p = pairs.pb
      |CROSS JOIN n""".stripMargin

  /** f28 — community detection over the lineitem co-occurrence graph:
    * the CLUSTER-grain face next to f26's per-node cohesion ("which
    * procurement communities exist", where f26 asks "how enmeshed is
    * this node"). Two proven pieces composed: (1) K-TRUSS-LITE edge
    * filtering — keep only edges on ≥ 2 triangles
    * ([[graft.operators.Triangles.perEdge]]'s support, the k = 4
    * truss threshold), which strips the bridges and hub spokes that
    * make naive components one giant blob; (2) DETERMINISTIC
    * synchronous min-label propagation ([[graft.operators.LabelProp]])
    * for 10 fixed rounds over the surviving edges. Both stages are
    * integer-/string-exact and the oracle runs the identical triangle
    * enumeration + threshold + 10 chained min-label rounds, so every
    * node's community label hash-gates. The census runs on
    * [[graft.operators.CoOccurrence]]'s tagged longs; labels are MIN
    * node ids, and the oracle folds them in the DECODED STRING order,
    * which the long order does not match — so propagation runs on
    * [[graft.operators.CoOccurrence.skey]]'s order-isomorphic long
    * surrogates (8-byte hash aggregates, where min over strings would
    * plan a sort aggregate every round) and decodes only at the end.
    */
  def f28Communities(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import CoOccurrence.{sdecode, skey}
    // materialize the truss-filtered surrogate edges ONCE: LabelProp's
    // symmetrize+self-loop build reads its input four ways, and each
    // read would otherwise re-deserialize the 1.86M-row census
    // checkpoint and re-derive the keys (measured ~0.7s of redundant
    // derivation at sf0.1); released as soon as LabelProp returns (its
    // result is eagerly materialized — nothing downstream reads kept
    // again)
    val kept = graft.operators.Triangles
      .perEdge(CoOccurrence.edges(t(s, dir, "lineitem")))
      .filter($"support" >= 2)
      .select(skey($"a").as("src"), skey($"b").as("dst"))
      .localCheckpoint()
    val out = graft.operators.LabelProp.minLabelRounds(kept, rounds = 10)
      .select(sdecode($"node").as("entity_id"),
        sdecode($"label").as("community"))
    graft.operators.Fixpoint.release(kept)
    out
  }

  // MATERIALIZED is load-bearing: each lab_i reads lab_{i-1} TWICE, so
  // DuckDB's default CTE inlining would expand 2^10 copies of the whole
  // chain (measured: exhausts the file-handle limit on the lineitem
  // scans alone); f25 needed no hint because its rounds are linear
  val f28Sql: String = {
    val rounds = (1 to 10).map { i =>
      s"""lab$i AS MATERIALIZED (
         |  SELECT node, MIN(label) AS label FROM (
         |    SELECT node, label FROM lab${i - 1}
         |    UNION ALL
         |    SELECT und.u AS node, l.label
         |    FROM und JOIN lab${i - 1} l ON l.node = und.v) t
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH tr AS (
       |  SELECT 'order-' || l_orderkey AS o, 'part-' || l_partkey AS p,
       |    'supplier-' || l_suppkey AS sp
       |  FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT least(o, p) AS a, greatest(o, p) AS b FROM tr
       |  UNION
       |  SELECT DISTINCT least(p, sp), greatest(p, sp) FROM tr
       |  UNION
       |  SELECT DISTINCT least(o, sp), greatest(o, sp) FROM tr),
       |tri AS MATERIALIZED (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM e e1
       |  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
       |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
       |supp AS (
       |  SELECT a, b, COUNT(*) AS support FROM (
       |    SELECT x AS a, y AS b FROM tri
       |    UNION ALL SELECT x, z FROM tri
       |    UNION ALL SELECT y, z FROM tri) c
       |  GROUP BY 1, 2),
       |kept AS (SELECT a, b FROM supp WHERE support >= 2),
       |und AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM kept
       |  UNION ALL SELECT b, a FROM kept),
       |lab0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM und),
       |$rounds
       |SELECT node AS entity_id, label AS community FROM lab10""".stripMargin
  }

  /** f29 — k-core membership over the lineitem co-occurrence graph
    * ([[graft.operators.KCore]]): the third cohesion face (f26: how
    * many closed triples; f28: which community; THIS: does the entity
    * survive in the subgraph where everyone keeps ≥ 3 live
    * neighbors — the density screen that drops one-shot orders and
    * peripheral parts before the expensive per-node metrics run).
    * Ten synchronous peel rounds, integer-exact (membership + in-core
    * degree), so the DuckDB twin running the identical rounds as
    * chained MATERIALIZED CTEs hash-gates every row; the spec asserts
    * the rounds CONVERGED (≡ an unbounded driver-side peel at
    * sf0.001). Node ids ride as CoOccurrence's tagged longs — the
    * output here is a DEGREE, not an id-ordered label, so the long
    * order is semantically invisible (unlike f28, which must propagate
    * string-ordered labels).
    */
  def f29Kcore(s: SparkSession, dir: String): DataFrame =
    graft.operators.KCore.membership(
        CoOccurrence.edges(t(s, dir, "lineitem")), k = 3L, rounds = 10)
      .select(CoOccurrence.decode(col("node")).as("entity_id"),
        col("d").as("core_degree"))

  // MATERIALIZED is load-bearing, the f28 rule: e_{i-1} feeds both
  // keep_i (twice via the union) and e_i — default inlining would
  // expand the round chain exponentially
  val f29Sql: String = {
    val rounds = (1 to 10).map { i =>
      s"""keep$i AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT a AS node FROM e${i - 1}
         |    UNION ALL SELECT b FROM e${i - 1}) t
         |  GROUP BY 1 HAVING COUNT(*) >= 3),
         |e$i AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${i - 1} e
         |  JOIN keep$i ka ON ka.node = e.a
         |  JOIN keep$i kb ON kb.node = e.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH tr AS (
       |  SELECT 'order-' || l_orderkey AS o, 'part-' || l_partkey AS p,
       |    'supplier-' || l_suppkey AS sp
       |  FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(o, p) AS a, greatest(o, p) AS b FROM tr
       |  UNION
       |  SELECT DISTINCT least(p, sp), greatest(p, sp) FROM tr
       |  UNION
       |  SELECT DISTINCT least(o, sp), greatest(o, sp) FROM tr),
       |$rounds
       |SELECT node AS entity_id, CAST(COUNT(*) AS BIGINT) AS core_degree
       |FROM (
       |  SELECT a AS node FROM e10 UNION ALL SELECT b FROM e10) t
       |GROUP BY 1""".stripMargin
  }

  /** f11 — entity_id → canonical_id resolution by identical name
    * fingerprint.
    */
  def f11CanonicalLookup(s: SparkSession, dir: String): DataFrame =
    Fpx.canonicalizeByName(statements(s, dir))

  val f11Sql: String =
    s"""$stmtsCte,
       |named AS (
       |  SELECT DISTINCT entity_id, ${duckFp("value")} AS fp
       |  FROM statements WHERE prop_type = 'name'
       |)
       |SELECT DISTINCT n.entity_id,
       |  min(n.entity_id) OVER (PARTITION BY n.fp) AS canonical_id
       |FROM named n""".stripMargin

  /** f9 — soundex codes of name-fingerprint tokens (phonetic.py:48-50).
    * Oracle-gated since r15: DuckDB has no soundex builtin, so the
    * oracle SQL carries a pure-SQL implementation of Spark's EXACT
    * SoundEx semantics ([[duckSoundex]] — a `list_reduce` fold
    * replicating UTF8String.soundex: American Soundex, H/W
    * transparent, vowels/non-letters reset the adjacent-code
    * suppression, non-letter FIRST character returns the input
    * unchanged, rpad to 4). Exact values additionally spec-tested in
    * FunctionsSpec; the fold itself differential-tested against the
    * JVM soundex on randomized alnum tokens in the f9 oracle gate.
    */
  def f9Soundex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "part")
      .select($"p_partkey", Phonetics.fingerprint($"p_name").as("fp"))
      .select($"p_partkey",
        explode(Phonetics.soundexTokens($"fp")).as("soundex"))
  }

  /** DuckDB expression: Spark's SoundEx (UTF8String.soundex) of token
    * expression `c`. State rides the fold as 'collected-codes|last':
    * the mapping string is A→0 B→1 C→2 D→3 E→0 F→1 G→2 H→7 I→0 J→2
    * K→2 L→4 M→5 N→5 O→0 P→1 Q→2 R→6 S→2 T→3 U→0 V→1 W→7 X→2 Y→0
    * Z→2 ('7' = transparent H/W, '0' = separator that resets `last`).
    */
  private def duckSoundex(c: String): String = {
    val m = "01230127022455012623017202"
    def code(x: String) = s"substr('$m', ascii($x)-64, 1)"
    s"""CASE
       |  WHEN $c IS NULL THEN NULL
       |  WHEN $c = '' THEN ''
       |  WHEN NOT (upper($c)[1:1] BETWEEN 'A' AND 'Z') THEN $c
       |  ELSE rpad(substr(split_part(
       |    list_reduce(
       |      [upper($c)[1:1] || '|' || ${code(s"upper($c)[1:1]")}]
       |      || list_transform(range(2, length($c)+1), i -> upper($c)[i:i]),
       |      (acc, ch) -> CASE
       |        WHEN length(split_part(acc,'|',1)) >= 4 THEN acc
       |        WHEN NOT (ch BETWEEN 'A' AND 'Z')
       |          THEN split_part(acc,'|',1) || '|0'
       |        WHEN ${code("ch")} = '7' THEN acc
       |        WHEN ${code("ch")} <> '0'
       |         AND ${code("ch")} <> split_part(acc,'|',2)
       |          THEN split_part(acc,'|',1) || ${code("ch")}
       |               || '|' || ${code("ch")}
       |        ELSE split_part(acc,'|',1) || '|' || ${code("ch")}
       |      END),
       |    '|', 1), 1, 4), 4, '0')
       |END""".stripMargin
      // single line: this expression interpolates into f9Sql BEFORE
      // f9Sql's own stripMargin runs, which would re-strip any line
      // here whose first non-blank char is '|' (e.g. a leading '||')
      .linesIterator.map(_.trim).mkString(" ")
  }

  val f9Sql: String =
    s"""SELECT p_partkey, ${duckSoundex("tok")} AS soundex
       |FROM (
       |  SELECT p_partkey,
       |    unnest(list_filter(string_split(${duckFp("p_name")}, ' '),
       |      x -> x <> '')) AS tok
       |  FROM part
       |)""".stripMargin

  /** f10 — Double Metaphone codes of name-fingerprint tokens
    * (phonetic.py:47-49 `get_metaphone` → the `metaphone` package's
    * `doublemetaphone`, feeding fpx algorithms metaphone1/metaphone2).
    * Rows-only at the driver, PERMANENTLY DOCUMENTED (r15): Double
    * Metaphone has no tractable pure-SQL form (unlike f9's soundex,
    * oracle-gated since r15 via a list_reduce fold), and the
    * reference package cannot run here (not installed, no egress) to
    * produce a checked-in fixture; exact values spec-tested against
    * published algorithm vectors. Uses the native codegen'd
    * [[graft.functions.DoubleMetaphoneExpression]] — one compiled
    * encode per token yields BOTH codes (secondary = '' when no
    * alternate pronunciation arises, matching the reference package).
    */
  def f10Metaphone(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.DoubleMetaphoneExpression
    t(s, dir, "part")
      .select($"p_partkey", Phonetics.fingerprint($"p_name").as("fp"))
      .select($"p_partkey",
        explode(split($"fp", " ")).as("tok"))
      .select($"p_partkey",
        DoubleMetaphoneExpression.doubleMetaphone($"tok").as("dm"))
      .select($"p_partkey",
        col("dm").getItem(0).as("metaphone1"),
        col("dm").getItem(1).as("metaphone2"))
  }

  // ===========================================================
  // ftmq Query surface: EntityQuery / adjacency / country stats
  // ===========================================================

  import graft.operators.{Adjacency, EntityQuery, Traverse}

  /** Statement set with entity-type edges: nations are entities,
    * customer/supplier statements include a `nation` prop of
    * prop_type='entity' pointing at them — the FTM graph shape
    * (interval/edge props in the reference's data model).
    */
  def graphStatements(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nation = Statements.unpivot(
      t(s, dir, "nation"),
      concat(lit("nation-"), $"n_nationkey"),
      schema = "Nation", dataset = "tpch_graph",
      Seq(PropSpec("name", "name", $"n_name")))
    val cust = Statements.unpivot(
      t(s, dir, "customer"),
      concat(lit("customer-"), $"c_custkey"),
      schema = "Customer", dataset = "tpch_graph",
      Seq(
        PropSpec("name", "name", $"c_name"),
        PropSpec("mktsegment", "string", $"c_mktsegment"),
        PropSpec("acctbal", "number", $"c_acctbal"),
        PropSpec("nation", "entity", concat(lit("nation-"), $"c_nationkey"))))
    val supp = Statements.unpivot(
      t(s, dir, "supplier"),
      concat(lit("supplier-"), $"s_suppkey"),
      schema = "Supplier", dataset = "tpch_graph",
      Seq(
        PropSpec("name", "name", $"s_name"),
        PropSpec("acctbal", "number", $"s_acctbal"),
        PropSpec("nation", "entity", concat(lit("nation-"), $"s_nationkey"))))
    nation.unionAll(cust).unionAll(supp)
  }

  /** DuckDB twin of [[graphStatements]]. */
  private def graphSel(eid: String, schema: String, prop: String,
      ptype: String, value: String, from: String) =
    s"""SELECT $eid AS entity_id, $eid AS canonical_id, '$schema' AS "schema",
       |  'tpch_graph' AS dataset, '$prop' AS prop, '$ptype' AS prop_type,
       |  CAST($value AS VARCHAR) AS value FROM $from""".stripMargin

  private val graphCteParts: Seq[String] = Seq(
    graphSel("'nation-' || n_nationkey", "Nation", "name", "name", "n_name", "nation"),
    graphSel("'customer-' || c_custkey", "Customer", "name", "name", "c_name", "customer"),
    graphSel("'customer-' || c_custkey", "Customer", "mktsegment", "string", "c_mktsegment", "customer"),
    graphSel("'customer-' || c_custkey", "Customer", "acctbal", "number", "c_acctbal", "customer"),
    graphSel("'customer-' || c_custkey", "Customer", "nation", "entity", "'nation-' || c_nationkey", "customer"),
    graphSel("'supplier-' || s_suppkey", "Supplier", "name", "name", "s_name", "supplier"),
    graphSel("'supplier-' || s_suppkey", "Supplier", "acctbal", "number", "s_acctbal", "supplier"),
    graphSel("'supplier-' || s_suppkey", "Supplier", "nation", "entity", "'nation-' || s_nationkey", "supplier"))

  private val graphCte: String =
    s"""WITH gs AS (
       |${graphCteParts.mkString("\nUNION ALL\n")}
       |)""".stripMargin

  /** [[graphStatements]] extended with Order entities (order →
    * customer references) — the deeper graph f22's traversal needs
    * (without orders, every path from a nation dead-ends at hop 1).
    */
  def orderGraphStatements(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Statements.unpivot(
      t(s, dir, "orders"),
      concat(lit("order-"), $"o_orderkey"),
      schema = "Order", dataset = "tpch_graph",
      Seq(
        PropSpec("status", "string", $"o_orderstatus"),
        PropSpec("customer", "entity",
          concat(lit("customer-"), $"o_custkey"))))
    graphStatements(s, dir).unionAll(ord)
  }

  private val orderGraphParts: Seq[String] = graphCteParts ++ Seq(
    graphSel("'order-' || o_orderkey", "Order", "status", "string",
      "o_orderstatus", "orders"),
    graphSel("'order-' || o_orderkey", "Order", "customer", "entity",
      "'customer-' || o_custkey", "orders"))

  /** DuckDB twin of [[orderGraphStatements]]. */
  private val orderGraphCte: String =
    s"""WITH gs AS (
       |${orderGraphParts.mkString("\nUNION ALL\n")}
       |)""".stripMargin

  /** [[orderGraphStatements]] further extended with nation → region
    * references and Region entities — without them nations are
    * mutually unreachable islands and no cross-nation path exists
    * (f23's whole question).
    */
  def regionGraphStatements(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val natRegion = Statements.unpivot(
      t(s, dir, "nation"),
      concat(lit("nation-"), $"n_nationkey"),
      schema = "Nation", dataset = "tpch_graph",
      Seq(PropSpec("region", "entity",
        concat(lit("region-"), $"n_regionkey"))))
    val region = Statements.unpivot(
      t(s, dir, "region"),
      concat(lit("region-"), $"r_regionkey"),
      schema = "Region", dataset = "tpch_graph",
      Seq(PropSpec("name", "name", $"r_name")))
    orderGraphStatements(s, dir).unionAll(natRegion).unionAll(region)
  }

  /** DuckDB twin of [[regionGraphStatements]]. */
  private val regionGraphCte: String = {
    val parts = orderGraphParts ++ Seq(
      graphSel("'nation-' || n_nationkey", "Nation", "region", "entity",
        "'region-' || n_regionkey", "nation"),
      graphSel("'region-' || r_regionkey", "Region", "name", "name",
        "r_name", "region"))
    s"""WITH gs AS (
       |${parts.mkString("\nUNION ALL\n")}
       |)""".stripMargin
  }

  /** f12 — the fluent ftmq-style query: dataset+schema filter, two
    * where-comparators (string semantics, as in the reference's
    * `value String` column), order_by a prop, slice. One conditional
    * aggregation computes all clause flags + the sort key.
    */
  def f12EntityQuery(s: SparkSession, dir: String): DataFrame =
    EntityQuery(graphStatements(s, dir))
      .dataset("tpch_graph").schema("Customer")
      .where("mktsegment", "eq", "BUILDING")
      .where("acctbal", "gte", "5000")
      .orderByProp("acctbal", desc = true)
      .slice(5, 20)
      .entities()

  val f12Sql: String =
    s"""$graphCte,
       |sel AS (
       |  SELECT canonical_id,
       |    min(CASE WHEN prop = 'acctbal' THEN value END) AS ord
       |  FROM gs WHERE dataset = 'tpch_graph' AND "schema" = 'Customer'
       |  GROUP BY canonical_id
       |  HAVING max(CASE WHEN prop = 'mktsegment' AND value = 'BUILDING' THEN 1 ELSE 0 END) = 1
       |     AND max(CASE WHEN prop = 'acctbal' AND value >= '5000' THEN 1 ELSE 0 END) = 1),
       |asm AS (
       |  SELECT g.canonical_id, "schema", dataset,
       |    string_agg(prop || '=' || value, '|' ORDER BY prop || '=' || value) AS entity,
       |    COUNT(*) AS n_statements
       |  FROM gs g JOIN sel USING (canonical_id)
       |  WHERE dataset = 'tpch_graph' AND "schema" = 'Customer'
       |  GROUP BY g.canonical_id, "schema", dataset)
       |SELECT canonical_id, "schema", dataset, entity, n_statements
       |FROM asm JOIN sel USING (canonical_id)
       |ORDER BY ord DESC, canonical_id LIMIT 20 OFFSET 5""".stripMargin

  /** f13 — adjacency (get_adjacent/get_inverted): all edges touching
    * Nation entities, both directions.
    */
  def f13Adjacent(s: SparkSession, dir: String): DataFrame =
    Adjacency.adjacent(graphStatements(s, dir), "Nation")

  val f13Sql: String =
    s"""$graphCte,
       |edges AS (SELECT * FROM gs WHERE prop_type = 'entity'),
       |targets AS (SELECT DISTINCT entity_id FROM gs WHERE "schema" = 'Nation')
       |SELECT entity_id, prop, value AS adjacent_id, 'out' AS direction
       |FROM edges WHERE entity_id IN (SELECT entity_id FROM targets)
       |UNION ALL
       |SELECT value AS entity_id, prop, entity_id AS adjacent_id, 'in' AS direction
       |FROM edges WHERE value IN (SELECT entity_id FROM targets)""".stripMargin

  /** f22 — bounded multi-hop traversal ([[operators.Traverse.khop]]):
    * the neighborhood expansion an investigator runs after f13's
    * one-hop `get_adjacent` — "everything within 2 hops of NATION_7,
    * with the hop distance". The graph extends [[graphStatements]]
    * with Order entities (order → customer references), so hop 1
    * reaches NATION_7's customers and suppliers and hop 2 reaches
    * those customers' orders — a real 3-level entity graph, not a
    * star. Oracle: a recursive CTE bounded by the same hop limit,
    * MIN(hops) per vertex (level-synchronous BFS discovers each
    * vertex first at its minimal depth; the recursion enumerates all
    * depths and the MIN collapses them — same answer, different
    * evaluation shape).
    */
  def f22KhopTraversal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gs = orderGraphStatements(s, dir)
    val edges = gs.filter($"prop_type" === "entity")
      .select($"entity_id".as("src"), $"value".as("dst"))
    val seeds = gs
      .filter($"schema" === "Nation" && $"prop" === "name" &&
        $"value" === "NATION_7")
      .select($"entity_id".as("id"))
    Traverse.khop(edges, seeds, maxHops = 2)
      .select($"id".as("entity_id"), $"hops".cast("long").as("hops"))
  }

  val f22Sql: String =
    s"""$orderGraphCte,
       |edges AS (
       |  SELECT entity_id AS src, value AS dst FROM gs
       |  WHERE prop_type = 'entity'),
       |und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
       |seeds AS (
       |  SELECT DISTINCT entity_id AS id FROM gs
       |  WHERE "schema" = 'Nation' AND prop = 'name' AND value = 'NATION_7'),
       |walk(id, hops) AS (
       |  SELECT id, 0 FROM seeds
       |  UNION
       |  SELECT u.dst, w.hops + 1
       |  FROM und u JOIN walk w ON u.src = w.id WHERE w.hops < 2)
       |SELECT id AS entity_id, CAST(MIN(hops) AS BIGINT) AS hops
       |FROM walk GROUP BY id"""
      .stripMargin.replaceFirst("WITH ", "WITH RECURSIVE ")

  /** f30 — AS-OF traversal: f22's k-hop reach over the graph AS IT
    * EXISTED at a cutoff — "what could NATION_7 reach by mid-1997",
    * the time-sliced investigation question composing f21's
    * time-travel semantics with f22's BFS. Order statements carry
    * their order date as the statement lifetime (`last_seen` =
    * o_orderdate — the FTM temporal statement model doing the work);
    * the edge slice keeps timeless base edges (customer/supplier →
    * nation) and only the orders placed on-or-before the cutoff, so
    * hop-2 reach (the seed nation's customers' ORDERS) shrinks to the
    * period's activity. Same BFS, same recursive-CTE oracle as f22 —
    * the cutoff is one pushed predicate on the orders branch in both
    * engines.
    */
  def f30TraversalAsof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cutoff = lit("1997-06-30").cast("timestamp")
    val ord = Statements.unpivot(
      t(s, dir, "orders"),
      concat(lit("order-"), $"o_orderkey"),
      schema = "Order", dataset = "tpch_graph",
      Seq(PropSpec("customer", "entity",
        concat(lit("customer-"), $"o_custkey"))),
      lastSeen = $"o_orderdate")
    val gs = graphStatements(s, dir).unionAll(ord)
    // base edges are timeless; Order statements live at their date
    val edges = gs
      .filter($"prop_type" === "entity" &&
        ($"schema" =!= "Order" || $"last_seen" <= cutoff))
      .select($"entity_id".as("src"), $"value".as("dst"))
    val seeds = gs
      .filter($"schema" === "Nation" && $"prop" === "name" &&
        $"value" === "NATION_7")
      .select($"entity_id".as("id"))
    Traverse.khop(edges, seeds, maxHops = 2)
      .select($"id".as("entity_id"), $"hops".cast("long").as("hops"))
  }

  lazy val f30Sql: String = {
    val orderPart =
      s"""SELECT 'order-' || o_orderkey AS entity_id,
         |  'order-' || o_orderkey AS canonical_id, 'Order' AS "schema",
         |  'tpch_graph' AS dataset, 'customer' AS prop,
         |  'entity' AS prop_type,
         |  CAST('customer-' || o_custkey AS VARCHAR) AS value
         |FROM orders
         |WHERE o_orderdate <= TIMESTAMP '1997-06-30'""".stripMargin
    s"""WITH gs AS (
       |${(graphCteParts :+ orderPart).mkString("\nUNION ALL\n")}
       |),
       |edges AS (
       |  SELECT entity_id AS src, value AS dst FROM gs
       |  WHERE prop_type = 'entity'),
       |und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
       |seeds AS (
       |  SELECT DISTINCT entity_id AS id FROM gs
       |  WHERE "schema" = 'Nation' AND prop = 'name' AND value = 'NATION_7'),
       |walk(id, hops) AS (
       |  SELECT id, 0 FROM seeds
       |  UNION
       |  SELECT u.dst, w.hops + 1
       |  FROM und u JOIN walk w ON u.src = w.id WHERE w.hops < 2)
       |SELECT id AS entity_id, CAST(MIN(hops) AS BIGINT) AS hops
       |FROM walk GROUP BY id"""
      .stripMargin.replaceFirst("WITH ", "WITH RECURSIVE ")
  }

  /** f23 — shortest-path membership ([[operators.Traverse
    * .shortestPathMembers]]): "how are nation-3's customers connected
    * to the suppliers of its sibling nations" — every vertex on any
    * shortest path between the two seed SETS over the region-extended
    * graph (the canonical 4-hop shape: customer → nation-3 → region →
    * sibling nation → supplier). Seed sets are DATA-derived (the
    * customers referencing nation-3; the suppliers of same-region
    * non-3 nations), so the query is meaningful at every scale factor
    * — hand-picked entity ids would be connected at one SF and
    * disconnected at another. Meet-in-the-middle: two 4-hop BFS
    * expansions + the `distA + distB = dist` membership identity —
    * the path DAG a UI renders, not one arbitrary path (SQL can state
    * the identity; picking a canonical single path needs ordering
    * hacks). Oracle: two depth-bounded recursive CTEs + the identical
    * identity.
    */
  def f23ShortestPath(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gs = regionGraphStatements(s, dir)
    val edges = gs.filter($"prop_type" === "entity")
      .select($"entity_id".as("src"), $"value".as("dst"))
    val seedsA = gs
      .filter($"schema" === "Customer" && $"prop" === "nation" &&
        $"value" === "nation-3")
      .select($"entity_id".as("id"))
    val n3Region = gs
      .filter($"entity_id" === "nation-3" && $"prop" === "region")
      .select($"value".as("region_id"))
    val siblingNations = gs
      .filter($"schema" === "Nation" && $"prop" === "region" &&
        $"entity_id" =!= "nation-3")
      .join(broadcast(n3Region), $"value" === $"region_id")
      .select($"entity_id".as("nation_id"))
    val seedsB = gs
      .filter($"schema" === "Supplier" && $"prop" === "nation")
      .join(broadcast(siblingNations), $"value" === $"nation_id")
      .select($"entity_id".as("id"))
    Traverse.shortestPathMembers(edges, seedsA, seedsB, maxHops = 4)
      .select($"id".as("entity_id"), $"hops_a", $"hops_b", $"dist")
  }

  val f23Sql: String =
    s"""$regionGraphCte,
       |edges AS (
       |  SELECT entity_id AS src, value AS dst FROM gs
       |  WHERE prop_type = 'entity'),
       |und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
       |seedsa AS (
       |  SELECT DISTINCT entity_id AS id FROM gs
       |  WHERE "schema" = 'Customer' AND prop = 'nation'
       |    AND value = 'nation-3'),
       |nreg AS (SELECT value AS r FROM gs
       |  WHERE entity_id = 'nation-3' AND prop = 'region' LIMIT 1),
       |sib AS (
       |  SELECT entity_id AS nid FROM gs
       |  WHERE "schema" = 'Nation' AND prop = 'region'
       |    AND value = (SELECT r FROM nreg)
       |    AND entity_id <> 'nation-3'),
       |seedsb AS (
       |  SELECT DISTINCT entity_id AS id FROM gs
       |  WHERE "schema" = 'Supplier' AND prop = 'nation'
       |    AND value IN (SELECT nid FROM sib)),
       |walka(id, h) AS (
       |  SELECT id, 0 FROM seedsa
       |  UNION
       |  SELECT u.dst, w.h + 1 FROM und u JOIN walka w ON u.src = w.id
       |  WHERE w.h < 4),
       |walkb(id, h) AS (
       |  SELECT id, 0 FROM seedsb
       |  UNION
       |  SELECT u.dst, w.h + 1 FROM und u JOIN walkb w ON u.src = w.id
       |  WHERE w.h < 4),
       |da AS (SELECT id, MIN(h) AS ha FROM walka GROUP BY id),
       |db AS (SELECT id, MIN(h) AS hb FROM walkb GROUP BY id),
       |j AS (SELECT da.id, ha, hb FROM da JOIN db USING (id)),
       |dm AS (SELECT MIN(ha + hb) AS d FROM j)
       |SELECT id AS entity_id, CAST(ha AS BIGINT) AS hops_a,
       |  CAST(hb AS BIGINT) AS hops_b, CAST(d AS BIGINT) AS dist
       |FROM j, dm WHERE ha + hb = d"""
      .stripMargin.replaceFirst("WITH ", "WITH RECURSIVE ")

  /** f14 — country stats (reference dataset stats expose per-country
    * entity counts): entities + statements per referenced nation.
    */
  def f14CountryStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graphStatements(s, dir)
      .filter($"prop" === "nation")
      .groupBy($"value".as("country"))
      .agg(countDistinct($"canonical_id").as("entities"),
        count(lit(1)).as("statements"))
  }

  val f14Sql: String =
    s"""$graphCte
       |SELECT value AS country, COUNT(DISTINCT canonical_id) AS entities,
       |  COUNT(*) AS statements
       |FROM gs WHERE prop = 'nation' GROUP BY value""".stripMargin

  /** f15 — query-scoped aggregation: ftmq
    * `aggregate("sum", "acctbal", groups="nation")` over a filtered
    * entity set (test_store.py:171-236).
    */
  def f15QueryAgg(s: SparkSession, dir: String): DataFrame =
    EntityQuery(graphStatements(s, dir))
      .dataset("tpch_graph").schema("Customer")
      .where("mktsegment", "eq", "BUILDING")
      .aggregateProp("sum", "acctbal", groupByProp = Some("nation"))

  val f15Sql: String =
    s"""$graphCte,
       |sel AS (
       |  SELECT canonical_id
       |  FROM gs WHERE dataset = 'tpch_graph' AND "schema" = 'Customer'
       |  GROUP BY canonical_id
       |  HAVING max(CASE WHEN prop = 'mktsegment' AND value = 'BUILDING' THEN 1 ELSE 0 END) = 1),
       |scoped AS (SELECT g.* FROM gs g JOIN sel USING (canonical_id)
       |  WHERE dataset = 'tpch_graph' AND "schema" = 'Customer'),
       |vals AS (SELECT canonical_id, CAST(value AS DOUBLE) AS v
       |  FROM scoped WHERE prop = 'acctbal'),
       |gv AS (SELECT canonical_id, value AS g FROM scoped WHERE prop = 'nation')
       |SELECT g, SUM(CAST(round(v * 100) AS BIGINT)) / 100.0 AS sum
       |FROM vals JOIN gv USING (canonical_id) GROUP BY g""".stripMargin

  /** f16 — FTM entity JSONL ingest round-trip: customer rows rendered
    * as FTM entity JSON, re-read through the schema-first JSON scan +
    * double explode, must reproduce the exact statement rows the
    * oracle derives relationally. Exercises the reference's actual
    * write path format (store.py:54-60).
    */
  def f16FtmJsonIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.FtmJson
    val path = "/tmp/graft_ftm_ingest_" +
      dir.replaceAll("[^0-9a-zA-Z]", "_")
    val entities = t(s, dir, "customer").select(
      concat(lit("customer-"), $"c_custkey").as("id"),
      lit("Customer").as("schema"),
      array(lit("tpch_customers")).as("datasets"),
      map(
        lit("name"), array($"c_name".cast("string")),
        lit("mktsegment"), array($"c_mktsegment".cast("string")),
        lit("nationkey"), array($"c_nationkey".cast("string")),
        lit("acctbal"), array($"c_acctbal".cast("string"))).as("properties"))
    FtmJson.writeEntities(entities, path)
    FtmJson.statements(s, path, Map(
      "name" -> "name", "mktsegment" -> "string",
      "nationkey" -> "number", "acctbal" -> "number"))
      .select($"entity_id", $"canonical_id", $"schema", $"dataset",
        $"prop", $"prop_type", $"value")
  }

  val f16Sql: String =
    s"""$stmtsCte
       |SELECT entity_id, canonical_id, "schema", dataset, prop, prop_type, value
       |FROM statements WHERE dataset = 'tpch_customers'""".stripMargin

  // ===========================================================
  // Registry
  // ===========================================================

  /** q24 — interval join (windowed attribution): every click/purchase
    * paired with every same-user "view" whose 2-hour half-open window
    * contains it, via [[graft.operators.IntervalJoin]]'s
    * bin-decomposition (2-hour bins → ≤ 2× replication of the interval
    * side, one shuffled equi-join on (user_id, bin), no per-key
    * quadratic expansion and no nested-loop plan — see the operator
    * doc). DuckDB's native inequality join is the oracle. Gap is exact
    * integer microseconds (no raw timestamps in outputs — class doc).
    */
  /** q26 — sliding-window funnel depth (the ClickHouse
    * `windowFunnel()` aggregate, [[graft.functions
    * .WindowFunnelAggregate]]): per user, the deepest prefix of
    * view → click → purchase completed as a non-decreasing-timestamp
    * chain within 1 hour of the chain's FIRST step. ONE aggregation
    * whose state is the group's funnel-matching events (merge =
    * concat, sort once at eval — the ClickHouse state shape); users
    * whose funnel events never include a view keep a depth-0 row.
    * Oracle: the EXISTS formulation of the same chain semantics
    * (depth ≥ k iff a chain of the first k steps exists) — the greedy
    * latest-chain-start pass is spec-proven equal to brute-force
    * exists on randomized streams.
    */
  def q26WindowFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select($"user_id", unix_micros($"ts").as("ts_us"),
        when($"event_type" === "view", 1)
          .when($"event_type" === "click", 2)
          .when($"event_type" === "purchase", 3)
          .otherwise(0).as("step"))
      .filter($"step" >= 1)
      .groupBy($"user_id")
      .agg(graft.functions.WindowFunnelAggregate
        .windowFunnel($"ts_us", $"step", 3, 3600L * 1000000L)
        .as("funnel_depth"))
  }

  val q26Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS t, event_type FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |v AS (SELECT user_id, t FROM e WHERE event_type = 'view'),
      |c AS (SELECT user_id, t FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, t FROM e WHERE event_type = 'purchase'),
      |d3 AS (
      |  SELECT DISTINCT v.user_id FROM v
      |  JOIN c ON c.user_id = v.user_id AND c.t >= v.t
      |    AND c.t <= v.t + 3600000000
      |  JOIN p ON p.user_id = v.user_id AND p.t >= c.t
      |    AND p.t <= v.t + 3600000000),
      |d2 AS (
      |  SELECT DISTINCT v.user_id FROM v
      |  JOIN c ON c.user_id = v.user_id AND c.t >= v.t
      |    AND c.t <= v.t + 3600000000),
      |d1 AS (SELECT DISTINCT user_id FROM v)
      |SELECT user_id, CAST(
      |  CASE WHEN user_id IN (SELECT user_id FROM d3) THEN 3
      |       WHEN user_id IN (SELECT user_id FROM d2) THEN 2
      |       WHEN user_id IN (SELECT user_id FROM d1) THEN 1
      |       ELSE 0 END AS BIGINT) AS funnel_depth
      |FROM (SELECT DISTINCT user_id FROM e)""".stripMargin

  /** q26b — the funnel under `strict_increase` (the ClickHouse mode):
    * chain timestamps must STRICTLY grow, so a click logged at the
    * same instant as its view no longer advances the funnel — the
    * dedup guard for feeds with coarse timestamps. Same aggregate,
    * one mode flag; the oracle's exists-joins turn `>=` into `>`
    * (window bounds stay inclusive — only the CHAIN order is strict).
    */
  def q26bFunnelStrict(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select($"user_id", unix_micros($"ts").as("ts_us"),
        when($"event_type" === "view", 1)
          .when($"event_type" === "click", 2)
          .when($"event_type" === "purchase", 3)
          .otherwise(0).as("step"))
      .filter($"step" >= 1)
      .groupBy($"user_id")
      .agg(graft.functions.WindowFunnelAggregate
        .windowFunnel($"ts_us", $"step", 3, 3600L * 1000000L,
          strictIncrease = true)
        .as("funnel_depth"))
  }

  val q26bSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS t, event_type FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |v AS (SELECT user_id, t FROM e WHERE event_type = 'view'),
      |c AS (SELECT user_id, t FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, t FROM e WHERE event_type = 'purchase'),
      |d3 AS (
      |  SELECT DISTINCT v.user_id FROM v
      |  JOIN c ON c.user_id = v.user_id AND c.t > v.t
      |    AND c.t <= v.t + 3600000000
      |  JOIN p ON p.user_id = v.user_id AND p.t > c.t
      |    AND p.t <= v.t + 3600000000),
      |d2 AS (
      |  SELECT DISTINCT v.user_id FROM v
      |  JOIN c ON c.user_id = v.user_id AND c.t > v.t
      |    AND c.t <= v.t + 3600000000),
      |d1 AS (SELECT DISTINCT user_id FROM v)
      |SELECT user_id, CAST(
      |  CASE WHEN user_id IN (SELECT user_id FROM d3) THEN 3
      |       WHEN user_id IN (SELECT user_id FROM d2) THEN 2
      |       WHEN user_id IN (SELECT user_id FROM d1) THEN 1
      |       ELSE 0 END AS BIGINT) AS funnel_depth
      |FROM (SELECT DISTINCT user_id FROM e)""".stripMargin


  def q24IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
    val windows = ev.filter($"event_type" === "view")
      .select($"event_id".as("imp_id"), $"user_id",
        $"ts".as("win_start"),
        ($"ts" + expr("INTERVAL 2 HOURS")).as("win_end"))
    val pts = ev.filter($"event_type".isin("click", "purchase"))
      .select($"event_id", $"user_id", $"event_type", $"ts")
    graft.operators.IntervalJoin.join(pts, "ts", windows,
        "win_start", "win_end", "user_id", binWidth = 7200L)
      .select($"event_id", $"user_id", $"event_type",
        $"i_imp_id".as("imp_id"),
        (unix_micros($"ts") - unix_micros($"i_win_start")).as("gap_us"))
  }

  val q24Sql: String =
    """WITH w AS (
      |  SELECT event_id AS imp_id, user_id, ts AS ws,
      |    ts + INTERVAL 2 HOUR AS we
      |  FROM events WHERE event_type = 'view'),
      |p AS (
      |  SELECT event_id, user_id, event_type, ts FROM events
      |  WHERE event_type IN ('click', 'purchase'))
      |SELECT p.event_id, p.user_id, p.event_type, w.imp_id,
      |  CAST(epoch_us(p.ts) - epoch_us(w.ws) AS BIGINT) AS gap_us
      |FROM p JOIN w ON p.user_id = w.user_id
      |  AND p.ts >= w.ws AND p.ts < w.we""".stripMargin

  /** q24b — interval OVERLAP join (incident correlation): each "view"
    * opens a 2-hour window, each "error" a 30-minute incident window;
    * pairs of same-user windows that intersect, with the exact
    * intersection bounds. [[graft.operators.IntervalJoin.overlap]]'s
    * both-sides bin decomposition with the max-start-bin
    * responsibility rule — never the nested-loop plan, no post-join
    * dedup. DuckDB's native inequality join is the oracle;
    * intersection bounds are exact integer microseconds.
    */
  def q24bOverlapJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
    val views = ev.filter($"event_type" === "view")
      .select($"event_id".as("imp_id"), $"user_id",
        $"ts".as("v_start"), ($"ts" + expr("INTERVAL 2 HOURS")).as("v_end"))
    val errors = ev.filter($"event_type" === "error")
      .select($"event_id".as("err_id"), $"user_id",
        $"ts".as("e_start"),
        ($"ts" + expr("INTERVAL 30 MINUTES")).as("e_end"))
    graft.operators.IntervalJoin.overlap(views, "v_start", "v_end",
        errors, "e_start", "e_end", "user_id", binWidth = 7200L)
      .select($"imp_id", $"user_id", $"r_err_id".as("err_id"),
        greatest(unix_micros($"v_start"), unix_micros($"r_e_start"))
          .as("ov_start_us"),
        least(unix_micros($"v_end"), unix_micros($"r_e_end"))
          .as("ov_end_us"))
  }

  val q24bSql: String =
    """WITH v AS (
      |  SELECT event_id AS imp_id, user_id, ts AS vs,
      |    ts + INTERVAL 2 HOUR AS ve
      |  FROM events WHERE event_type = 'view'),
      |e AS (
      |  SELECT event_id AS err_id, user_id, ts AS es,
      |    ts + INTERVAL 30 MINUTE AS ee
      |  FROM events WHERE event_type = 'error')
      |SELECT v.imp_id, v.user_id, e.err_id,
      |  CAST(greatest(epoch_us(v.vs), epoch_us(e.es)) AS BIGINT)
      |    AS ov_start_us,
      |  CAST(least(epoch_us(v.ve), epoch_us(e.ee)) AS BIGINT)
      |    AS ov_end_us
      |FROM v JOIN e ON v.user_id = e.user_id
      |  AND v.vs < e.ee AND e.es < v.ve""".stripMargin

  /** q27 — ordered-sequence match with an ADJACENT-gap bound (the
    * ClickHouse `sequenceMatch('(?1)(?t<g)(?2)(?t<g)(?3)')` surface,
    * [[graft.functions.SequenceAggregate]]): per user, does
    * view → click → purchase occur as a non-decreasing-timestamp
    * chain in which EACH hop takes ≤ 30 minutes — the semantic q26's
    * funnel cannot state (its window anchors at the chain's FIRST
    * step; a steady 3-hour chain of 20-minute hops matches here and
    * fails there). ONE aggregation, q26's state shape (the group's
    * step-matching events; merge = concat, one sort at eval). Oracle:
    * the EXISTS formulation with per-adjacent gap constraints — the
    * one-pass latest-prefix-completion scan is spec-proven equal to
    * brute-force exists on randomized streams.
    */
  def q27SequenceMatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select($"user_id", unix_micros($"ts").as("ts_us"),
        when($"event_type" === "view", 1)
          .when($"event_type" === "click", 2)
          .when($"event_type" === "purchase", 3)
          .otherwise(0).as("step"))
      .filter($"step" >= 1)
      .groupBy($"user_id")
      .agg(graft.functions.SequenceAggregate
        .sequenceMatch($"ts_us", $"step", 3, 1800L * 1000000L)
        .as("matched"))
  }

  val q27Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS t, event_type FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |v AS (SELECT user_id, t FROM e WHERE event_type = 'view'),
      |c AS (SELECT user_id, t FROM e WHERE event_type = 'click'),
      |p AS (SELECT user_id, t FROM e WHERE event_type = 'purchase'),
      |m AS (
      |  SELECT DISTINCT v.user_id FROM v
      |  JOIN c ON c.user_id = v.user_id AND c.t >= v.t
      |    AND c.t - v.t <= 1800000000
      |  JOIN p ON p.user_id = c.user_id AND p.t >= c.t
      |    AND p.t - c.t <= 1800000000)
      |SELECT user_id,
      |  user_id IN (SELECT user_id FROM m) AS matched
      |FROM (SELECT DISTINCT user_id FROM e)""".stripMargin

  /** q27b — the COUNT face (ClickHouse `sequenceCount`): the number
    * of non-overlapping view → click → purchase chains per user under
    * the same adjacency bound. Greedy earliest-completion-and-reset
    * is the MAXIMUM number of disjoint chains (exchange argument —
    * class doc of [[graft.functions.SequenceAggregate]]); spec-proven
    * equal to a brute-force maximum over randomized streams. The
    * oracle runs the IDENTICAL fold as a RECURSIVE CTE (one event per
    * user per step, scalar state columns) — greedy-reset is a
    * sequential per-user fold with no join formulation; see the
    * q27bSql note for why it is NOT a `list_reduce` lambda.
    */
  def q27bSequenceCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select($"user_id", unix_micros($"ts").as("ts_us"),
        when($"event_type" === "view", 1)
          .when($"event_type" === "click", 2)
          .when($"event_type" === "purchase", 3)
          .otherwise(0).as("step"))
      .filter($"step" >= 1)
      .groupBy($"user_id")
      .agg(graft.functions.SequenceAggregate
        .sequenceCount($"ts_us", $"step", 3, 1800L * 1000000L)
        .as("n_chains"))
  }

  // The fold is a RECURSIVE CTE (one event per user per recursion
  // step, state = (a, b, c) scalar columns), NOT a `list_reduce`
  // lambda: DuckDB 1.0.0's list_reduce evaluates struct-state lambdas
  // WRONGLY in multi-group context — the identical fold returned 0
  // for a user when the query was filtered to 3 users and 1 when run
  // over all 150 (threads=1 included; 10–42/150 groups silently wrong
  // across formulations, verified against a sequential reference).
  // The recursive form is engine-vectorization-proof.
  val q27bSql: String =
    """WITH RECURSIVE ebase AS (
      |  SELECT user_id, epoch_us(ts) AS t,
      |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
      |      WHEN 'purchase' THEN 3 END AS s
      |  FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |ev AS (
      |  SELECT user_id, t, s, ROW_NUMBER() OVER (
      |    PARTITION BY user_id ORDER BY t, s) AS rn
      |  FROM ebase),
      |st AS (
      |  SELECT user_id, CAST(0 AS BIGINT) AS rn, CAST(-1 AS BIGINT) AS a,
      |    CAST(-1 AS BIGINT) AS b, CAST(0 AS BIGINT) AS c
      |  FROM (SELECT DISTINCT user_id FROM ev)
      |  UNION ALL
      |  SELECT st.user_id, st.rn + 1,
      |    CASE WHEN e.s = 3 AND st.b >= 0 AND e.t - st.b <= 1800000000
      |      THEN CAST(-1 AS BIGINT)
      |      WHEN e.s = 1 THEN greatest(st.a, e.t) ELSE st.a END,
      |    CASE WHEN e.s = 3 AND st.b >= 0 AND e.t - st.b <= 1800000000
      |      THEN CAST(-1 AS BIGINT)
      |      WHEN e.s = 2 AND st.a >= 0 AND e.t - st.a <= 1800000000
      |      THEN greatest(st.b, e.t) ELSE st.b END,
      |    st.c + CASE WHEN e.s = 3 AND st.b >= 0
      |      AND e.t - st.b <= 1800000000 THEN 1 ELSE 0 END
      |  FROM st JOIN ev e ON e.user_id = st.user_id AND e.rn = st.rn + 1)
      |SELECT user_id, c AS n_chains FROM (
      |  SELECT user_id, c, ROW_NUMBER() OVER (
      |    PARTITION BY user_id ORDER BY rn DESC) AS rr FROM st)
      |WHERE rr = 1""".stripMargin

  /** q28 — cohort RETENTION (the ClickHouse `retention()` surface):
    * per first-PURCHASE-week cohort, how many users purchased again
    * in week +1 and week +2 (anchoring on the conversion event, not
    * first contact, is what spreads cohorts across weeks — and is the
    * retention question a product team actually asks).
    * The Spark-first point of this row: the surface needs NO
    * custom aggregate — it compiles to conditional aggregation over
    * two bounded hash aggregates (user grain, then cohort grain), both
    * map-side combinable; per-user state is the distinct-week set,
    * bounded by the calendar. Weeks are exact integer floor-division
    * of epoch microseconds (`DIV` / `//` — never a double division,
    * whose rounding could disagree at the boundary), so there is no
    * timezone or truncation semantic to align between engines.
    */
  def q28Retention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wk = expr("unix_micros(ts) DIV 604800000000").as("wk")
    t(s, dir, "events")
      .filter($"event_type" === "purchase")
      .select($"user_id", wk)
      .groupBy($"user_id")
      .agg(min($"wk").as("cohort"), collect_set($"wk").as("ws"))
      .select($"cohort",
        array_contains($"ws", $"cohort" + 1).as("r1"),
        array_contains($"ws", $"cohort" + 2).as("r2"))
      .groupBy($"cohort")
      .agg(count(lit(1)).as("n_users"),
        sum(when($"r1", 1L).otherwise(0L)).as("n_week1"),
        sum(when($"r2", 1L).otherwise(0L)).as("n_week2"))
  }

  val q28Sql: String =
    """WITH e AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(ts) // 604800000000 AS wk
      |  FROM events WHERE event_type = 'purchase'),
      |u AS (
      |  SELECT user_id, min(wk) AS cohort, list(wk) AS ws
      |  FROM e GROUP BY 1),
      |f AS (
      |  SELECT cohort, list_contains(ws, cohort + 1) AS r1,
      |    list_contains(ws, cohort + 2) AS r2 FROM u)
      |SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users,
      |  CAST(SUM(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS n_week1,
      |  CAST(SUM(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS n_week2
      |FROM f GROUP BY 1""".stripMargin

  /** q29 — capped distinct count (the ClickHouse `uniqUpTo(N)`
    * surface, [[graft.functions.UniqUpToAggregate]]): per supplier,
    * the exact distinct order count up to 600, and 601 meaning "more"
    * — the threshold-screen form of q8 whose aggregation state is a
    * value set CAPPED at N+1 entries instead of the full distinct
    * expansion. The 600 cap intersects this corpus's per-supplier
    * range (534–654 at sf0.01), so the single oracle gates BOTH
    * regimes — exact below the cap, pinned N+1 above it; DuckDB twin
    * is LEAST(COUNT(DISTINCT …), N+1).
    */
  def q29UniqUpto(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_suppkey")
      .agg(graft.functions.UniqUpToAggregate
        .uniqUpTo($"l_orderkey", 600).as("n_orders_upto"))
  }

  val q29Sql: String =
    """SELECT l_suppkey,
      |  CAST(LEAST(COUNT(DISTINCT l_orderkey), 601) AS BIGINT)
      |    AS n_orders_upto
      |FROM lineitem GROUP BY 1""".stripMargin

  /** q31 — gap-filled time series (the ClickHouse `ORDER BY … WITH
    * FILL` / `WITH FILL STEP` surface): q14's hourly event counts per
    * type, with every MISSING hour in each type's [min, max] span
    * emitted as an explicit zero row — the resample every monitoring
    * dashboard and training-data cadence audit needs (a silent gap
    * and a zero are different facts; only the filled series can tell
    * a stalled crawler from an idle one).
    *
    * Spark-first shape: the event table collapses at the FIRST
    * aggregation (ONE event-grain scan); each surviving hourly row
    * then fills the gap up to its successor itself — `lead(bucket)`
    * in a per-type window + a bounded `sequence(bucket, next-3600,
    * 3600)` explode emitting the zero rows — so there is no calendar
    * JOIN and no second scan at all (the t8/t10/t14
    * window-in-exchange discipline: both stages past the aggregate
    * run at span grain, types × span-hours, independent of event
    * count).
    */
  def q31TimeFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"bucket")
    t(s, dir, "events")
      .groupBy(
        $"event_type",
        unix_timestamp(date_trunc("hour", $"ts")).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("nxt", lead($"bucket", 1).over(w))
      .select($"event_type", $"bucket", $"n",
        explode(sequence(
          $"bucket",
          coalesce($"nxt" - 3600L, $"bucket"),
          lit(3600L))).as("fill"))
      .select($"event_type", $"fill".as("bucket"),
        when($"fill" === $"bucket", $"n").otherwise(0L).as("n"))
  }

  val q31Sql: String =
    """WITH hourly AS (
      |  SELECT event_type,
      |    CAST(epoch_ms(date_trunc('hour', ts)) / 1000 AS BIGINT)
      |      AS bucket,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |spans AS (
      |  SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
      |  FROM hourly GROUP BY 1),
      |cal AS (
      |  SELECT event_type, unnest(generate_series(b0, b1, 3600))
      |    AS bucket FROM spans)
      |SELECT c.event_type, c.bucket, COALESCE(h.n, 0) AS n
      |FROM cal c LEFT JOIN hourly h USING (event_type, bucket)""".stripMargin

  /** q32 — exponentially DECAYED activity score (the ClickHouse
    * `exponentialTimeDecayedSum` surface): over q31's gap-FILLED
    * hourly series, the integer-exact running fold
    * `s ← (s >> 1) + n·1024` per type — half-life one hour, zero
    * hours decay the score instead of silently freezing it (which is
    * WHY this rides the filled series: on the raw sparse series a
    * week-long outage and a busy minute-ago hour can score the same).
    * The fold is [[graft.functions.DecayedSumExpression]], the repo's
    * first DECLARATIVE [[org.apache.spark.sql.catalyst.expressions
    * .AggregateWindowFunction]] — the state transition is a Catalyst
    * expression evaluated inside the window exchange with O(1) state,
    * codegen'd like `rank()`. The per-step floor makes the result a
    * deterministic function of the row sequence, so the DuckDB oracle
    * (the IDENTICAL fold as a recursive CTE, one bucket per type per
    * step — the q27b discipline) hash-gates every row.
    */
  def q32DecayedCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    q31TimeFill(s, dir)
      .withColumn("ema", graft.functions.DecayedSumExpression
        .decayedSumOver($"n" * 1024L, 1,
          partitionBy = Seq($"event_type"), orderBy = Seq($"bucket")))
      .select($"event_type", $"bucket", $"ema")
  }

  val q32Sql: String =
    """WITH RECURSIVE hourly AS (
      |  SELECT event_type,
      |    CAST(epoch_ms(date_trunc('hour', ts)) / 1000 AS BIGINT)
      |      AS bucket,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |spans AS (
      |  SELECT event_type, min(bucket) AS b0, max(bucket) AS b1
      |  FROM hourly GROUP BY 1),
      |cal AS (
      |  SELECT event_type, unnest(generate_series(b0, b1, 3600))
      |    AS bucket FROM spans),
      |filled AS (
      |  SELECT c.event_type, c.bucket, COALESCE(h.n, 0) AS n,
      |    ROW_NUMBER() OVER (
      |      PARTITION BY c.event_type ORDER BY c.bucket) AS rn
      |  FROM cal c LEFT JOIN hourly h USING (event_type, bucket)),
      |st AS (
      |  SELECT event_type, CAST(0 AS BIGINT) AS rn,
      |    CAST(0 AS BIGINT) AS bucket, CAST(0 AS BIGINT) AS s
      |  FROM (SELECT DISTINCT event_type FROM filled)
      |  UNION ALL
      |  SELECT st.event_type, st.rn + 1, f.bucket,
      |    st.s // 2 + f.n * 1024
      |  FROM st JOIN filled f
      |    ON f.event_type = st.event_type AND f.rn = st.rn + 1)
      |SELECT event_type, bucket, s AS ema FROM st WHERE rn >= 1""".stripMargin

  /** q37 — equal-width histogram (the ClickHouse `histogram` surface
    * in its deterministic fixed-grid form): per event type, the value
    * distribution over 20 equal-width bins spanning the GLOBAL
    * [min, max]. Two aggregations: the 1-row min/max (broadcast as
    * literals through a crossJoin — the corpus is scanned once per
    * grid derivation, the q14 totals discipline), then one
    * (type, bin) hash aggregate with map-side combine. Bin assignment
    * is floor((v − min)·20/(max − min)) clamped to 19 — the same IEEE
    * double expression on both engines (no sums, no rounding races:
    * min/max are exact, the product/division of identical doubles is
    * bitwise deterministic) — so the oracle hash-gates every bin
    * count. ClickHouse's adaptive-centroid `histogram` is
    * merge-order-sensitive by design and could never be gated; the
    * fixed grid is the deterministic sibling (and what its docs
    * recommend for reproducible plots).
    */
  def q37Histogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events").select($"event_type", $"value")
    val mm = ev.agg(min($"value").as("lo"), max($"value").as("hi"))
    ev.crossJoin(broadcast(mm))
      .select($"event_type",
        when($"hi" === $"lo", lit(0L)) // degenerate grid: one bin
          .otherwise(least(lit(19L),
            floor(($"value" - $"lo") * 20.0 / ($"hi" - $"lo"))
              .cast("long"))).as("bin"))
      .groupBy($"event_type", $"bin")
      .agg(count(lit(1)).as("n"))
  }

  val q37Sql: String =
    """WITH mm AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
      |SELECT event_type,
      |  CASE WHEN hi = lo THEN 0 ELSE
      |    least(19, CAST(floor((value - lo) * 20.0 / (hi - lo)) AS BIGINT))
      |  END AS bin,
      |  COUNT(*) AS n
      |FROM events CROSS JOIN mm
      |GROUP BY 1, 2""".stripMargin

  /** q36 — Largest-Triangle-Three-Buckets downsampling (the ClickHouse
    * `largestTriangleThreeBuckets` surface, Steinarsson 2013,
    * [[graft.functions.LttbAggregate]]): each event type's hourly
    * series reduced to its 20 most shape-preserving points — first and
    * last kept, every middle bucket contributing the point forming the
    * largest triangle with the PREVIOUS selection and the NEXT
    * bucket's centroid (peaks/troughs survive where avg resampling
    * flattens them). Two aggregations: the q14 hourly rollup (corpus →
    * time-span-bounded buckets), then ONE lttb aggregate whose state
    * is the series itself — never the corpus. Every bucket boundary is
    * an integer floor and every triangle argmax compares
    * next-bucket-size-scaled integer areas (constant scale within a
    * bucket ⇒ order-preserving), so the greedy is exact — the DuckDB
    * oracle (the SAME selection unrolled as 18 chained argmax CTEs —
    * the s8 discipline) hash-gates every selected point.
    */
  def q36LttbDownsample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .select($"event_type",
        expr("unix_micros(ts) div 3600000000").as("hour"))
      .groupBy($"event_type", $"hour").agg(count(lit(1)).as("v"))
      .groupBy($"event_type")
      .agg(graft.functions.LttbAggregate
        .lttb($"hour", $"v", 20).as("sel"))
      .select($"event_type", posexplode($"sel"))
      .select($"event_type", ($"pos" + 1).cast("long").as("sel_rank"),
        $"col.t".as("t_hour"), $"col.v".as("n"))
  }

  val q36Sql: String = {
    val mid = 18 // nOut − 2 middle buckets
    val score = (p: String, b: String, x: String) =>
      s"abs(($p.t * $x.m - $x.tcsum) * ($b.v - $p.v) - " +
        s"($p.t - $b.t) * ($x.vcsum - $p.v * $x.m))"
    val steps = (1 to mid).map { k =>
      s"""sel$k AS (
         |  SELECT * FROM (
         |    SELECT b.event_type, b.t, b.v, ROW_NUMBER() OVER (
         |      PARTITION BY b.event_type
         |      ORDER BY ${score("p", "b", "x")} DESC, b.t) AS r
         |    FROM buck b
         |    JOIN sel${k - 1} p USING (event_type)
         |    JOIN nxt x ON x.event_type = b.event_type AND x.k = ${k - 1}
         |    WHERE b.k = ${k - 1}) WHERE r = 1)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to mid).map { k =>
      s"SELECT event_type, ${k + 1} AS sel_rank, t, v FROM sel$k"
    }.mkString("\nUNION ALL ")
    s"""WITH hourly AS (
       |  SELECT event_type, epoch_us(ts) // 3600000000 AS t,
       |    COUNT(*) AS v
       |  FROM events GROUP BY 1, 2),
       |ord AS (
       |  SELECT event_type, t, v,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY t) - 1
       |      AS idx,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM hourly),
       |buck AS (
       |  SELECT event_type, t, v, ((idx - 1) * $mid) // (n - 2) AS k
       |  FROM ord WHERE idx BETWEEN 1 AND n - 2 AND n > 20),
       |cent AS (
       |  SELECT event_type, k, SUM(t) AS tcsum, SUM(v) AS vcsum,
       |    COUNT(*) AS m
       |  FROM buck GROUP BY 1, 2),
       |lastp AS (SELECT event_type, t, v FROM ord
       |  WHERE idx = n - 1 AND n > 20),
       |nxt AS (
       |  SELECT event_type, k - 1 AS k, tcsum, vcsum, m FROM cent
       |  WHERE k >= 1
       |  UNION ALL
       |  SELECT event_type, ${mid - 1}, t, v, 1 FROM lastp),
       |sel0 AS (SELECT event_type, t, v FROM ord
       |  WHERE idx = 0 AND n > 20),
       |$steps
       |SELECT event_type, CAST(sel_rank AS BIGINT) AS sel_rank,
       |  CAST(t AS BIGINT) AS t_hour, CAST(v AS BIGINT) AS n
       |FROM (
       |  SELECT event_type, ROW_NUMBER() OVER (
       |    PARTITION BY event_type ORDER BY t) AS sel_rank, t, v
       |  FROM ord WHERE n <= 20
       |  UNION ALL SELECT event_type, 1, t, v FROM sel0
       |  UNION ALL $unions
       |  UNION ALL SELECT event_type, 20, t, v FROM lastp)""".stripMargin
  }

  /** q38 — sequence NEXT NODE (the ClickHouse `sequenceNextNode`
    * surface, head-first/forward direction): per user, order the
    * event timeline by (ts, event_id), find the FIRST consecutive
    * 'view' → 'click' chain, and return the event type that follows
    * it — "after completing this funnel prefix, where do users go
    * NEXT", the question q26's windowFunnel (did the chain happen)
    * and q27's sequenceMatch (does the pattern occur) cannot answer.
    * A chain at the tail yields next_node = 'none' (COALESCE'd
    * identically in both engines — the gate never compares bare
    * NULLs). Plan: ONE user-grain exchange drives both window passes
    * (lead ×2 + row_number share the same (user, ts, event_id)
    * ordering, and the first-match row_number reuses the same
    * partitioning), then a filter on k = 1 — no joins, no driver.
    */
  def q38SequenceNextNode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val o = t(s, dir, "events")
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("n1", lead($"event_type", 1).over(w))
      .withColumn("n2", lead($"event_type", 2).over(w))
      .withColumn("rn", row_number().over(w))
      .filter($"event_type" === "view" && $"n1" === "click")
    val first = Window.partitionBy($"user_id").orderBy($"rn")
    o.withColumn("k", row_number().over(first))
      .filter($"k" === 1)
      .select($"user_id", coalesce($"n2", lit("none")).as("next_node"))
  }

  val q38Sql: String =
    """WITH o AS (
      |  SELECT user_id, event_type,
      |    lead(event_type, 1) OVER w AS n1,
      |    lead(event_type, 2) OVER w AS n2,
      |    row_number() OVER w AS rn
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |m AS (
      |  SELECT user_id, n2,
      |    row_number() OVER (PARTITION BY user_id ORDER BY rn) AS k
      |  FROM o WHERE event_type = 'view' AND n1 = 'click')
      |SELECT user_id, COALESCE(n2, 'none') AS next_node
      |FROM m WHERE k = 1""".stripMargin

  /** q34 — maximum CONCURRENT open intervals per user (the ClickHouse
    * `maxIntersections` / `maxIntersectionsPosition` surface): each
    * "view" opens a 2-hour half-open window [ts, ts+2h); per user, the
    * peak number of simultaneously-open windows and the FIRST instant
    * it is reached. The classic sweep-line as a declarative plan: one
    * projected scan fans each interval into (+1 at start, −1 at end)
    * deltas, a running-sum window inside the user-grain exchange turns
    * deltas into live concurrency (ties order ends BEFORE starts —
    * half-open semantics, an interval ending at t does not overlap one
    * starting at t), and the final per-user aggregate is a single
    * `max(struct(conc, −ts))` — max concurrency, then EARLIEST instant,
    * in one order-free integer-exact max. The aggregate reuses the
    * window's hash partitioning, so the whole query is ONE exchange.
    * Never materializes interval×interval pairs — q24b's overlap join
    * answers "which pairs", this answers "how deep" at sweep cost.
    */
  def q34MaxConcurrent(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val v = t(s, dir, "events").filter($"event_type" === "view")
      .select($"user_id", unix_micros($"ts").as("s_us"),
        (unix_micros($"ts") + 7200L * 1000000L).as("e_us"))
    val sweep = v.select($"user_id", $"s_us".as("ts_us"), lit(1L).as("delta"))
      .unionAll(v.select($"user_id", $"e_us", lit(-1L).as("delta")))
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"delta")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sweep.withColumn("conc", sum($"delta").over(w))
      .groupBy($"user_id")
      .agg(max(struct($"conc", (-$"ts_us").as("neg_ts"))).as("m"))
      .select($"user_id", $"m.conc".as("max_concurrent"),
        (-$"m.neg_ts").as("at_us"))
  }

  val q34Sql: String =
    """WITH v AS (
      |  SELECT user_id, epoch_us(ts) AS s_us,
      |    epoch_us(ts) + 7200000000 AS e_us
      |  FROM events WHERE event_type = 'view'),
      |sweep AS (
      |  SELECT user_id, s_us AS ts_us, 1 AS delta FROM v
      |  UNION ALL
      |  SELECT user_id, e_us, -1 FROM v),
      |c AS (
      |  SELECT user_id, ts_us, SUM(delta) OVER (
      |    PARTITION BY user_id ORDER BY ts_us, delta
      |    ROWS UNBOUNDED PRECEDING) AS conc
      |  FROM sweep),
      |m AS (SELECT user_id, MAX(conc) AS mc FROM c GROUP BY 1)
      |SELECT c.user_id, CAST(m.mc AS BIGINT) AS max_concurrent,
      |  CAST(MIN(c.ts_us) AS BIGINT) AS at_us
      |FROM c JOIN m ON c.user_id = m.user_id AND c.conc = m.mc
      |GROUP BY 1, 2""".stripMargin

  /** q35 — Shannon entropy of each user's event-type mix (the
    * ClickHouse `entropy()` aggregate): how exploratory vs
    * single-minded a user's behavior is — the standard feature for
    * bot/anomaly screens. Float entropy can never hash-gate under
    * parallel summation (double addition is not associative), so the
    * fold runs on an integer LOG LATTICE: L(x) = round(log2(x)·10⁹) as
    * BIGINT ("nanobits"), Σ cᵢ·L(cᵢ) and T·L(T) are order-free integer
    * sums, and the only float op is the FINAL division of two
    * identical-on-both-engines integers — bitwise deterministic, so
    * the oracle hash-gates the exact doubles with NO output rounding.
    * Two bounded hash aggregates: (user, type) grain, then user grain,
    * both with map-side combine.
    *
    * Exactness bound (the lattice MAGNITUDE rule at the object doc),
    * STRUCTURAL since r15: Σ c·L(c) ≤ n_events·L(max c) ≤
    * n_events·64·10⁹, so the BIGINT fold is exact while a user's
    * total event count stays below ~1.4·10⁸ (2⁶³ / 64·10⁹); past that
    * Spark would wrap where DuckDB widens. [[entropyOf]] REFUSES
    * loudly on such a user ([[graft.functions.Lattice.checked]] on
    * the post-aggregate n_events — sound because every c·L(c) term is
    * non-negative, so no partial sum exceeds the true total the bound
    * covers, and n_events itself is a row count that cannot wrap).
    * Route c and the products through DECIMAL(38,0) in both engines
    * if a single user legitimately exceeds 140 M events.
    */
  def q35Entropy(s: SparkSession, dir: String): DataFrame =
    entropyOf(t(s, dir, "events"))

  /** The guarded entropy fold behind [[q35Entropy]], callable on any
    * (user_id, event_type) frame — factored out so the overflow guard
    * is spec-testable on a synthetic over-bound user without writing
    * 140 M rows of parquet.
    */
  private[graft] val entropyMaxGroup = 140000000L // 2^63 / 64e9, floored

  private[graft] def entropyOf(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    def nanobits(c: Column): Column = round(log(2.0, c) * 1e9).cast("long")
    events
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("c"))
      .groupBy($"user_id")
      .agg(sum($"c").as("n_events"),
        count(lit(1)).as("n_types"),
        sum($"c" * nanobits($"c")).as("s_nb"))
      .select($"user_id",
        graft.functions.Lattice.checked($"n_events", entropyMaxGroup,
          "q35 entropy: per-user event count, Σ c·L(c) < 2^63")
          .as("n_events"),
        $"n_types",
        (($"n_events" * nanobits($"n_events") - $"s_nb").cast("double") /
          ($"n_events" * 1e9)).as("entropy"))
  }

  val q35Sql: String =
    """WITH tc AS (
      |  SELECT user_id, event_type, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |u AS (
      |  SELECT user_id, SUM(c) AS n_events, COUNT(*) AS n_types,
      |    SUM(c * CAST(round(log2(c) * 1e9) AS BIGINT)) AS s_nb
      |  FROM tc GROUP BY 1)
      |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
      |  CAST(n_types AS BIGINT) AS n_types,
      |  CAST(n_events * CAST(round(log2(n_events) * 1e9) AS BIGINT)
      |    - s_nb AS DOUBLE) / (n_events * 1e9) AS entropy
      |FROM u""".stripMargin

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (q1Agg _),
    "q2_filter_comparators" -> (q2FilterComparators _),
    "q3_join_multiway" -> (q3JoinMultiway _),
    "q4_topk_order_slice" -> (q4TopkOrderSlice _),
    "q5_search" -> (q5Search _),
    "q6_agg_groups" -> (q6AggGroups _),
    "q7_agg_year" -> (q7AggYear _),
    "q8_count_distinct" -> (q8CountDistinct _),
    "q9_window_rank" -> (q9WindowRank _),
    "q10_window_running" -> (q10WindowRunning _),
    "q11_semi_join" -> (q11SemiJoin _),
    "q12_anti_join" -> (q12AntiJoin _),
    "q13_json_extract" -> (q13JsonExtract _),
    "q14_events_time_bucket" -> (q14EventsTimeBucket _),
    "q15_having" -> (q15Having _),
    "q16_percentile" -> (q16Percentile _),
    "q16b_percentile_approx" -> (q16bPercentileApprox _),
    "q17_rollup" -> (q17Rollup _),
    "q18_range_window" -> (q18RangeWindow _),
    "q19_sessionize" -> (q19Sessionize _),
    "q20_asof_join" -> (q20AsofJoin _),
    "q20b_asof_bucketed" -> (q20bAsofBucketed _),
    "q21_pivot" -> (q21Pivot _),
    "q22_grouping_sets" -> (q22GroupingSets _),
    "q24_interval_join" -> (q24IntervalJoin _),
    "q24b_overlap_join" -> (q24bOverlapJoin _),
    "q26_window_funnel" -> (q26WindowFunnel _),
    "q26b_funnel_strict" -> (q26bFunnelStrict _),
    "q27_sequence_match" -> (q27SequenceMatch _),
    "q27b_sequence_count" -> (q27bSequenceCount _),
    "q28_retention" -> (q28Retention _),
    "q29_uniq_upto" -> (q29UniqUpto _),
    "q31_time_fill" -> (q31TimeFill _),
    "q32_decayed_counts" -> (q32DecayedCounts _),
    "q34_max_concurrent" -> (q34MaxConcurrent _),
    "q35_entropy" -> (q35Entropy _),
    "q36_lttb_downsample" -> (q36LttbDownsample _),
    "q37_histogram" -> (q37Histogram _),
    "q38_sequence_next_node" -> (q38SequenceNextNode _),
    "f1_statements_unpivot" -> (f1StatementsUnpivot _),
    "f2_entity_assembly" -> (f2EntityAssembly _),
    "f3_replacing_merge" -> (f3ReplacingMerge _),
    "f4_stats_view" -> (f4StatsView _),
    "f5_fingerprint" -> (f5Fingerprint _),
    "f6_fpx_table" -> (f6FpxTable _),
    "f7_fpx_freq" -> (f7FpxFreq _),
    "f8_xref_block" -> (f8XrefBlock _),
    "f9_soundex" -> (f9Soundex _),
    "f10_metaphone" -> (f10Metaphone _),
    "f11_canonical_lookup" -> (f11CanonicalLookup _),
    "f12_entity_query" -> (f12EntityQuery _),
    "f13_adjacent" -> (f13Adjacent _),
    "f14_country_stats" -> (f14CountryStats _),
    "f15_query_agg" -> (f15QueryAgg _),
    "f16_ftm_json_ingest" -> (f16FtmJsonIngest _),
    "f17_fpx_phonetic" -> (f17FpxPhonetic _),
    "f18_xref_judgements" -> (f18XrefJudgements _),
    "f19_xref_reverse" -> (f19XrefReverse _),
    "f20_resolver_canonical" -> (f20ResolverCanonical _),
    "f20b_resolver_incremental" -> (f20bResolverIncremental _),
    "f21_final_asof" -> (f21FinalAsof _),
    "f22_khop_traversal" -> (f22KhopTraversal _),
    "f23_shortest_path" -> (f23ShortestPath _),
    "f24_name_editdist" -> (f24NameEditdist _),
    "f25_pagerank" -> (f25Pagerank _),
    "f25b_pagerank_personalized" -> (f25bPersonalizedPagerank _),
    "f26_triangles" -> (f26Triangles _),
    "f27_cooccur_pmi" -> (f27CooccurrencePmi _),
    "f28_communities" -> (f28Communities _),
    "f29_kcore" -> (f29Kcore _),
    "f30_traversal_asof" -> (f30TraversalAsof _)
  )

  val oracles: Map[String, String] = Map(
    "q1_agg" -> q1AggSql,
    "q2_filter_comparators" -> q2Sql,
    "q3_join_multiway" -> q3Sql,
    "q4_topk_order_slice" -> q4Sql,
    "q5_search" -> q5Sql,
    "q6_agg_groups" -> q6Sql,
    "q7_agg_year" -> q7Sql,
    "q8_count_distinct" -> q8Sql,
    "q9_window_rank" -> q9Sql,
    "q10_window_running" -> q10Sql,
    "q11_semi_join" -> q11Sql,
    "q12_anti_join" -> q12Sql,
    "q13_json_extract" -> q13Sql,
    "q14_events_time_bucket" -> q14Sql,
    "q15_having" -> q15Sql,
    "q16_percentile" -> q16Sql,
    "q17_rollup" -> q17Sql,
    "q18_range_window" -> q18Sql,
    "q19_sessionize" -> q19Sql,
    "q20_asof_join" -> q20Sql,
    "q20b_asof_bucketed" -> q20Sql,
    "q21_pivot" -> q21Sql,
    "q22_grouping_sets" -> q22Sql,
    "q24_interval_join" -> q24Sql,
    "q24b_overlap_join" -> q24bSql,
    "q26_window_funnel" -> q26Sql,
    "q26b_funnel_strict" -> q26bSql,
    "q27_sequence_match" -> q27Sql,
    "q27b_sequence_count" -> q27bSql,
    "q28_retention" -> q28Sql,
    "q29_uniq_upto" -> q29Sql,
    "q31_time_fill" -> q31Sql,
    "q32_decayed_counts" -> q32Sql,
    "q34_max_concurrent" -> q34Sql,
    "q35_entropy" -> q35Sql,
    "q36_lttb_downsample" -> q36Sql,
    "q37_histogram" -> q37Sql,
    "q38_sequence_next_node" -> q38Sql,
    "f1_statements_unpivot" -> f1Sql,
    "f2_entity_assembly" -> f2Sql,
    "f3_replacing_merge" -> f3Sql,
    "f4_stats_view" -> f4Sql,
    "f5_fingerprint" -> f5Sql,
    "f6_fpx_table" -> f6Sql,
    "f7_fpx_freq" -> f7Sql,
    "f8_xref_block" -> f8Sql,
    "f9_soundex" -> f9Sql,
    "f11_canonical_lookup" -> f11Sql,
    "f12_entity_query" -> f12Sql,
    "f13_adjacent" -> f13Sql,
    "f14_country_stats" -> f14Sql,
    "f15_query_agg" -> f15Sql,
    "f16_ftm_json_ingest" -> f16Sql,
    "f18_xref_judgements" -> f18Sql,
    "f19_xref_reverse" -> f19Sql,
    "f20_resolver_canonical" -> f20Sql,
    "f20b_resolver_incremental" -> f20bSql,
    "f21_final_asof" -> f21Sql,
    "f22_khop_traversal" -> f22Sql,
    "f23_shortest_path" -> f23Sql,
    "f24_name_editdist" -> f24Sql,
    "f25_pagerank" -> f25Sql,
    "f25b_pagerank_personalized" -> f25bSql,
    "f26_triangles" -> f26Sql,
    "f27_cooccur_pmi" -> f27Sql,
    "f28_communities" -> f28Sql,
    "f29_kcore" -> f29Sql,
    "f30_traversal_asof" -> f30Sql
  )
}
