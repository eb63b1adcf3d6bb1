package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.Olap.dsum

/** SURVEY §2 block B (B2–B13): the core OLAP query surface.
  *
  * Scale notes (100 TB):
  *  - All dim joins (`customer`, `supplier`, `nation`, `region`) are
  *    explicit `broadcast()` — no shuffle of the fact side for them.
  *  - Fact-fact joins (lineitem ⋈ orders) shuffle once on the join key;
  *    AQE handles skew (GraftSession).
  *  - Aggregations rely on partial (map-side) aggregation; top-k is
  *    `orderBy.limit` which Spark plans as TakeOrderedAndProject (per-
  *    partition heaps, no global sort).
  *  - Event-time outputs are emitted as epoch-microsecond BIGINTs so the
  *    oracle comparison is precision-exact (events.parquet is ns).
  *
  * Oracle-parity: decimal-exact accumulation for double sums (see
  * [[Olap.dsum]]), deterministic tie-breaks in every window/top-k.
  */
object OlapB {

  private def revenue: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** Epoch micros from the events `ts` (already micro-precision, see Tables). */
  private def tsUs(c: Column): Column = unix_micros(c)

  // DuckDB twin of tsUs over the raw ns parquet: integer floor-div, exact.
  private val tsUsSql = "epoch_ns(ts) // 1000"

  // --- B2: 3-way join + agg + top-k (TPC-H Q3 shape) ----------------------
  def q3Topk(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val cutoff = lit("1998-06-30").cast("timestamp")
    t.lineitem
      .join(t.orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer.filter(col("c_mktsegment") === "BUILDING")),
        col("o_custkey") === col("c_custkey"))
      .filter(col("o_orderdate") < cutoff && col("l_shipdate") > cutoff)
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(revenue).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val q3TopkSql: String =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-06-30'
      |  AND l_shipdate > TIMESTAMP '1998-06-30'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  // --- B3: 6-way star join (TPC-H Q5 shape) -------------------------------
  def q5Multijoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .join(t.orders, col("c_custkey") === col("o_custkey"))
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t.supplier),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(t.nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy(col("n_name"))
      .agg(dsum(revenue).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5MultijoinSql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(25,6))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01'
      |GROUP BY 1
      |ORDER BY revenue DESC, n_name""".stripMargin

  // --- B4: window rank / top-n per group ----------------------------------
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(spark, dir).orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val windowRankSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  // --- B5: running / moving window aggregates -----------------------------
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wRun = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wMov = ord.rowsBetween(-2, Window.currentRow)
    // Running sums are exact (Olap.exactSum) within a deterministic row
    // order, so they are bit-identical across engines and partitionings.
    def rsum(w: org.apache.spark.sql.expressions.WindowSpec): Column =
      Olap.exactSum(col("o_totalprice"), 2).over(w).cast("double")
    Tables(spark, dir).orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        rsum(wRun).as("running_spend"), rsum(wMov).as("last3_spend"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  val windowRunningSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS last3_spend
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // --- B6: exact distinct aggregation (approx HLL pinned in spec) ---------
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice"), 2).as("total_spend"))
      .orderBy(col("o_orderpriority"))

  val distinctAggSql: String =
    """SELECT o_orderpriority,
      |  COUNT(DISTINCT o_custkey) AS n_cust,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total_spend
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // --- B7: rollup + grouping_id -------------------------------------------
  def groupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().cast("bigint").as("gid"),
        count(lit(1)).as("n"),
        dsum(col("l_quantity"), 2).as("sum_qty"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  val groupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
      .stripMargin // NULLS FIRST: same Spark-parity note as eventsCubeSql

  // --- B49b: the full CUBE (every subtotal combination) --------------------
  /** B7's ROLLUP covers the hierarchy prefixes; CUBE is the other classic
    * warehouse subtotal shape — ALL 2^d grouping combinations of
    * (day, event_type) in one pass (Catalyst's Expand, one aggregation
    * exchange — the same plan shape however many combinations). The
    * grand total, both one-dim margins, and the full cells land in one
    * result the dashboard slices without re-querying. */
  def eventsCube(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .select(to_date(col("ts")).as("day"), col("event_type"),
        col("value"))
      .cube(col("day"), col("event_type"))
      .agg(grouping_id().cast("bigint").as("gid"),
        count(lit(1)).as("n"),
        dsum(col("value"), 2).as("value_sum"))
      .orderBy(col("gid"), col("day"), col("event_type"))

  val eventsCubeSql: String =
    """SELECT CAST(ts AS DATE) AS day, event_type,
      |  CAST(GROUPING(CAST(ts AS DATE), event_type) AS BIGINT) AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS value_sum
      |FROM events
      |GROUP BY CUBE(CAST(ts AS DATE), event_type)
      |ORDER BY gid, day NULLS FIRST, event_type NULLS FIRST""".stripMargin
  // NULLS FIRST matches Spark's ascending default inside gid=0, so the
  // ordered parity doesn't depend on the synthetic data staying NULL-free
  // (subtotal rows are unaffected — their NULLs are grouped by gid first).

  // --- B8: pivot long→wide (explicit values — no driver-side collect) -----
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  def pivotEvents(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", EventTypes)
      .agg(dsum(col("value"), 2))
      .orderBy(col("day"))

  val pivotEventsSql: String = {
    val cols = EventTypes.map { t =>
      s"CAST(SUM(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(25,2)) END) AS DOUBLE) AS $t"
    }.mkString(",\n  ")
    s"""SELECT CAST(ts AS DATE) AS day,
       |  $cols
       |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --- B9: semi / anti joins ----------------------------------------------
  def semiAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val big = t.orders.filter(col("o_totalprice") > 450000.0)
    val byKey = col("c_custkey") === col("o_custkey")
    val semi = t.customer.join(big, byKey, "left_semi")
      .select(col("c_custkey"), col("c_name"), lit("has_big_order").as("tag"))
    val anti = t.customer.join(big, byKey, "left_anti")
      .select(col("c_custkey"), col("c_name"), lit("no_big_order").as("tag"))
    semi.unionAll(anti).orderBy(col("c_custkey"))
  }

  val semiAntiJoinSql: String =
    """SELECT c_custkey, c_name,
      |  CASE WHEN EXISTS (SELECT 1 FROM orders
      |                    WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)
      |       THEN 'has_big_order' ELSE 'no_big_order' END AS tag
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  // --- B10: as-of join (nearest past signup for each purchase) ------------
  /** Spark has no native as-of join. The scalable plan: tag + union both
    * streams, ONE shuffle on user_id, sort within partition, and carry the
    * last-seen right-side row forward with `last(ignoreNulls)` over an
    * unbounded-preceding row frame. No range explosion, no broadcast of the
    * right side — this holds at any scale because it is a single
    * window over a single co-partitioned sort.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), tsUs(col("ts")).as("ts_us"), col("event_id"),
        col("event_id").as("p_event_id"))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), tsUs(col("ts")).as("ts_us"), col("event_id"),
        col("event_id").as("matched_signup"), tsUs(col("ts")).as("matched_signup_ts"))
    AsofJoin.asof(purchases, signups, keyCol = "user_id", timeCol = "ts_us",
        tieCol = "event_id", valueCols = Seq("matched_signup", "matched_signup_ts"))
      .select(col("p_event_id"), col("user_id"), col("ts_us").as("p_ts_us"),
        col("matched_signup"), col("matched_signup_ts"))
      .orderBy(col("p_event_id"))
  }

  val asofJoinSql: String =
    s"""WITH p AS (SELECT user_id, $tsUsSql AS ts_us, event_id AS p_event_id
       |           FROM events WHERE event_type = 'purchase'),
       |     s AS (SELECT user_id, $tsUsSql AS ts_us, event_id AS s_event_id
       |           FROM events WHERE event_type = 'signup')
       |SELECT p.p_event_id, p.user_id, p.ts_us AS p_ts_us,
       |       s.s_event_id AS matched_signup, s.ts_us AS matched_signup_ts
       |FROM p ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts_us >= s.ts_us
       |ORDER BY p_event_id""".stripMargin

  // --- B89: nearest as-of join ----------------------------------------------
  /** B10's as-of join generalized to NEAREST-in-either-direction: each
    * purchase matches the user's closest signup — before OR after —
    * with Δ ties (and exact time matches) breaking backward. The late
    * fraud-check / attribution shape: "which signup is this purchase
    * ABOUT" when the signup may post after the purchase. Still ONE
    * co-partitioned window exchange ([[AsofJoin.asofNearest]]): both
    * direction carries ride the same union sort. */
  def asofJoinNearest(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), tsUs(col("ts")).as("ts_us"), col("event_id"),
        col("event_id").as("p_event_id"))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id"), tsUs(col("ts")).as("ts_us"), col("event_id"),
        col("event_id").as("matched_signup"),
        tsUs(col("ts")).as("matched_signup_ts"))
    AsofJoin.asofNearest(purchases, signups, keyCol = "user_id",
        timeCol = "ts_us", tieCol = "event_id",
        valueCols = Seq("matched_signup", "matched_signup_ts"),
        rTimeCol = "matched_signup_ts")
      .select(col("p_event_id"), col("user_id"), col("ts_us").as("p_ts_us"),
        col("matched_signup"), col("matched_signup_ts"),
        col("matched_direction"), col("delta_us"))
      .orderBy(col("p_event_id"))
  }

  /** Twin: two ASOF joins (backward `>=`, forward `<`) + the same
    * backward-wins-ties pick. The right side pre-dedupes per
    * (user_id, ts_us) to the Scala tie convention (backward carry keeps
    * the HIGHEST event_id at a timestamp, forward the LOWEST) — ASOF
    * JOIN itself cannot express a same-timestamp tiebreak, so without
    * the QUALIFY the matched_signup id would be engine-nondeterministic
    * when two signups collide on ts_us (r11 ADVICE #1, a latent
    * hash-gate flake); the dropped rows can never win under the Scala
    * convention, so the result is unchanged where no collision exists. */
  val asofJoinNearestSql: String =
    s"""WITH p AS (SELECT user_id, $tsUsSql AS ts_us, event_id AS p_event_id
       |           FROM events WHERE event_type = 'purchase'),
       |     s_b AS (SELECT user_id, $tsUsSql AS ts_us, event_id AS s_event_id
       |           FROM events WHERE event_type = 'signup'
       |           QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, $tsUsSql
       |             ORDER BY event_id DESC) = 1),
       |     s_f AS (SELECT user_id, $tsUsSql AS ts_us, event_id AS s_event_id
       |           FROM events WHERE event_type = 'signup'
       |           QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, $tsUsSql
       |             ORDER BY event_id ASC) = 1),
       |     b AS (SELECT p.p_event_id, s.s_event_id AS b_id, s.ts_us AS b_ts
       |           FROM p ASOF LEFT JOIN s_b s
       |             ON p.user_id = s.user_id AND p.ts_us >= s.ts_us),
       |     f AS (SELECT p.p_event_id, s.s_event_id AS f_id, s.ts_us AS f_ts
       |           FROM p ASOF LEFT JOIN s_f s
       |             ON p.user_id = s.user_id AND p.ts_us < s.ts_us)
       |SELECT p.p_event_id, p.user_id, p.ts_us AS p_ts_us,
       |  CASE WHEN b_id IS NULL THEN f_id
       |       WHEN f_id IS NULL THEN b_id
       |       WHEN p.ts_us - b_ts <= f_ts - p.ts_us THEN b_id
       |       ELSE f_id END AS matched_signup,
       |  CASE WHEN b_id IS NULL THEN f_ts
       |       WHEN f_id IS NULL THEN b_ts
       |       WHEN p.ts_us - b_ts <= f_ts - p.ts_us THEN b_ts
       |       ELSE f_ts END AS matched_signup_ts,
       |  CASE WHEN b_id IS NULL AND f_id IS NULL THEN NULL
       |       WHEN b_id IS NULL THEN 'f'
       |       WHEN f_id IS NULL THEN 'b'
       |       WHEN p.ts_us - b_ts <= f_ts - p.ts_us THEN 'b'
       |       ELSE 'f' END AS matched_direction,
       |  CASE WHEN b_id IS NULL AND f_id IS NULL THEN NULL
       |       WHEN b_id IS NULL THEN f_ts - p.ts_us
       |       WHEN f_id IS NULL THEN p.ts_us - b_ts
       |       WHEN p.ts_us - b_ts <= f_ts - p.ts_us THEN p.ts_us - b_ts
       |       ELSE f_ts - p.ts_us END AS delta_us
       |FROM p
       |LEFT JOIN b ON p.p_event_id = b.p_event_id
       |LEFT JOIN f ON p.p_event_id = f.p_event_id
       |ORDER BY p.p_event_id""".stripMargin

  // --- B11: gap-based sessionization --------------------------------------
  val SessionGapUs: Long = 1800L * 1000000 // 30 min

  def eventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), tsUs(col("ts")).as("ts_us"), col("value"))
    Sessionize.assign(base, entityCol = "user_id", tsUsCol = "ts_us",
        gapUs = SessionGapUs, tieCol = "event_id")
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        dsum(col("value"), 2).as("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** The WITH chain shared by B11, B18, and B44. */
  private[operators] val sessionCtesSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, $tsUsSql AS ts_us, value FROM events
       |), flagged AS (
       |  SELECT *, CASE WHEN prev_ts IS NULL OR ts_us - prev_ts > ${SessionGapUs}
       |                 THEN 1 ELSE 0 END AS is_new
       |  FROM (SELECT *, LAG(ts_us) OVER (PARTITION BY user_id
       |                                   ORDER BY ts_us, event_id) AS prev_ts
       |        FROM e)
       |), sessioned AS (
       |  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM flagged)""".stripMargin

  val eventsSessionizeSql: String = sessionCtesSql +
    """
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  COUNT(*) AS n_events, MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
      |  CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS session_value
      |FROM sessioned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- B18: bucketized point-in-interval range join -----------------------
  /** Join every event to the session interval containing it (intervals from
    * B11) through [[RangeJoin.pointInInterval]]: bucketizing turns the
    * range predicate into an equi-join — no BroadcastNestedLoopJoin, no
    * point-side replication. Self-consistency makes this a strong oracle:
    * each event must land in exactly its own session. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val points = Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), tsUs(col("ts")).as("ts_us"))
    val intervals = eventsSessionize(spark, dir)
      .select(col("user_id"), col("session_id"), col("start_us"), col("end_us"))
    RangeJoin.pointInInterval(points, intervals, keyCol = "user_id",
        tCol = "ts_us", startCol = "start_us", endCol = "end_us",
        bucketWidth = SessionGapUs)
      .select(col("user_id"), col("event_id"), col("session_id"))
      .orderBy(col("user_id"), col("event_id"), col("session_id"))
  }

  val rangeJoinSql: String = sessionCtesSql +
    s""", sess AS (
       |  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       |         MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
       |  FROM sessioned GROUP BY 1, 2
       |), pts AS (SELECT user_id, event_id, $tsUsSql AS ts_us FROM events)
       |SELECT p.user_id, p.event_id, s.session_id
       |FROM pts p JOIN sess s
       |  ON p.user_id = s.user_id
       | AND p.ts_us >= s.start_us AND p.ts_us <= s.end_us
       |ORDER BY 1, 2, 3""".stripMargin

  // --- B12: tumbling event-time windows -----------------------------------
  def eventsWindowed(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(
        unix_micros(window(col("ts"), "1 hour").getField("start")).as("window_start_us"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 2).as("value_sum"))
      .orderBy(col("window_start_us"), col("event_type"))

  val eventsWindowedSql: String =
    """SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS window_start_us,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS value_sum
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- B35: sliding (overlapping) window aggregation -----------------------
  /** 2-hour windows sliding by 1 hour: every event lands in exactly two
    * overlapping windows — the smoothing shape monitoring dashboards use
    * (`window(ts, width, slide)`; Spark expands each row into its member
    * windows before the partial agg, so the cost is slide-factor × rows,
    * map-side). Distinct users per window is the exact `countDistinct`;
    * at 100 TB swap `approx_count_distinct` (same plan, HLL state). */
  def eventsSliding(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(unix_micros(
        window(col("ts"), "2 hours", "1 hour").getField("start"))
        .as("window_start_us"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value"), 2).as("value_sum"))
      .orderBy(col("window_start_us"))

  /** Oracle: each event expands to its two member window starts
    * (truncated hour, and one hour earlier). */
  val eventsSlidingSql: String =
    """WITH w AS (
      |  SELECT unnest([epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))),
      |                 epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) - 3600000000])
      |           AS window_start_us,
      |         user_id, value
      |  FROM events)
      |SELECT window_start_us, COUNT(*) AS n,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS value_sum
      |FROM w GROUP BY 1 ORDER BY 1""".stripMargin

  // --- B16: exact quantiles ------------------------------------------------
  /** Exact interpolated percentiles. Spark `percentile` and DuckDB
    * `quantile_cont` share the (1−f)·a + f·b interpolation on the sorted
    * group → bit-identical. `approx_percentile` (t-digest) is the 100 TB
    * path and is pinned by a tolerance spec instead. */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).orders
      .groupBy(col("o_orderpriority"))
      .agg(
        percentile(col("o_totalprice"), lit(0.5)).as("p50"),
        percentile(col("o_totalprice"), lit(0.9)).as("p90"),
        percentile(col("o_totalprice"), lit(0.99)).as("p99"))
      .orderBy(col("o_orderpriority"))

  val quantilesSql: String =
    """SELECT o_orderpriority,
      |  quantile_cont(o_totalprice, 0.5) AS p50,
      |  quantile_cont(o_totalprice, 0.9) AS p90,
      |  quantile_cont(o_totalprice, 0.99) AS p99
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // --- B13: semi-structured JSON extraction -------------------------------
  def jsonExtract(spark: SparkSession, dir: String): DataFrame = {
    val k = get_json_object(col("props"), "$.k").cast("bigint")
    Tables(spark, dir).events
      .select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max"),
        countDistinct(col("k")).as("k_distinct"))
      .orderBy(col("event_type"))
  }

  val jsonExtractSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(k) AS BIGINT) AS k_sum, MIN(k) AS k_min, MAX(k) AS k_max,
      |  COUNT(DISTINCT k) AS k_distinct
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // --- B48: windowed top-K ("trending" per time window) ---------------------
  val WindowTopkK = 3

  /** The top-k step over a (day, key, n) counts frame, shared by the batch
    * query and the streaming drain: per-window bounded heaps
    * ([[graft.functions.TopKByScore]], (n desc, key) cut) — the scalable
    * replacement for `row_number().over(Window)` ≤ k, whose per-partition
    * sort is O(group log group). Counts are exact in double (< 2⁵³). */
  def windowTopkOf(counts: DataFrame): DataFrame =
    counts
      .groupBy(col("day"))
      .agg(graft.functions.topk.top_k_by_score(col("n").cast("double"),
        col("k"), WindowTopkK).as("_tk"))
      .select(col("day"), posexplode(col("_tk")))
      .select(col("day"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("user_id"), col("col.score").cast("long").as("n"))
      .orderBy(col("day"), col("rank"))

  /** Trending keys per tumbling day window — the "top movers" board every
    * event dashboard keeps. ONE (day, key) partial-agg exchange + one
    * per-day heap agg; no rank window, no per-day sort, so the plan is
    * two exchanges at any scale. */
  def windowTopk(spark: SparkSession, dir: String): DataFrame =
    windowTopkOf(Tables(spark, dir).events
      .select(to_date(col("ts")).as("day"), col("user_id").as("k"))
      .groupBy(col("day"), col("k")).agg(count(lit(1)).as("n")))

  val windowTopkSql: String =
    s"""WITH c AS (
       |  SELECT CAST(ts AS DATE) AS day, user_id, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2
       |), r AS (
       |  SELECT day, user_id, n,
       |    ROW_NUMBER() OVER (PARTITION BY day ORDER BY n DESC, user_id) AS rank
       |  FROM c)
       |SELECT day, CAST(rank AS INT) AS rank, user_id, CAST(n AS BIGINT) AS n
       |FROM r WHERE rank <= $WindowTopkK
       |ORDER BY day, rank""".stripMargin

  /** Registry for SparkEntry. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "window_topk" -> (windowTopk _),
    "q3_topk" -> (q3Topk _),
    "q5_multijoin" -> (q5Multijoin _),
    "window_rank" -> (windowRank _),
    "window_running" -> (windowRunning _),
    "distinct_agg" -> (distinctAgg _),
    "grouping_sets" -> (groupingSets _),
    "events_cube" -> (eventsCube _),
    "pivot_events" -> (pivotEvents _),
    "semi_anti_join" -> (semiAntiJoin _),
    "asof_join" -> (asofJoin _),
    "asof_join_nearest" -> (asofJoinNearest _),
    "events_sessionize" -> (eventsSessionize _),
    "range_join" -> (rangeJoin _),
    "events_windowed" -> (eventsWindowed _),
    "events_sliding" -> (eventsSliding _),
    "json_extract" -> (jsonExtract _),
    "quantiles" -> (quantiles _)
  )

  val oracles: Map[String, String] = Map(
    "window_topk" -> windowTopkSql,
    "q3_topk" -> q3TopkSql,
    "q5_multijoin" -> q5MultijoinSql,
    "window_rank" -> windowRankSql,
    "window_running" -> windowRunningSql,
    "distinct_agg" -> distinctAggSql,
    "grouping_sets" -> groupingSetsSql,
    "events_cube" -> eventsCubeSql,
    "pivot_events" -> pivotEventsSql,
    "semi_anti_join" -> semiAntiJoinSql,
    "asof_join" -> asofJoinSql,
    "asof_join_nearest" -> asofJoinNearestSql,
    "events_sessionize" -> eventsSessionizeSql,
    "range_join" -> rangeJoinSql,
    "events_windowed" -> eventsWindowedSql,
    "events_sliding" -> eventsSlidingSql,
    "json_extract" -> jsonExtractSql,
    "quantiles" -> quantilesSql
  )
}
