package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** SURVEY §2 block B continued (B19–B23): event-journey and event-history
  * analytics — ordered funnel conversion, cohort retention, SCD2 history
  * compaction, and robust anomaly detection over the events stream.
  *
  * Scale notes (100 TB):
  *  - Both are ONE shuffle on `user_id` with partial aggregation; the
  *    per-user event history is bounded (a user's events, not the corpus),
  *    so the collected arrays stay small even when the event table is huge.
  *  - The funnel's ordered-step matching runs on the grouped row (array
  *    functions over the per-user history) — no self-joins of the event
  *    table against itself per step, which is the quadratic formulation.
  *  - Event times in/out as epoch-micros BIGINT (oracle precision parity,
  *    see OlapB).
  */
object OlapC {

  // --- B19: ordered funnel (view → click → purchase) -----------------------
  /** Per-user funnel: first `view`, first `click` strictly after it, first
    * `purchase` strictly after that, and the stage reached (0–3). Step
    * times are `min` over filtered per-user history — order-free, so the
    * unordered `collect_list` is safe and no per-user sort ever happens. */
  def funnelOn(events: DataFrame, userCol: String, tsUsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val base = events.select(col(userCol).as("user_id"),
      col(tsUsCol).as("ts_us"), col(typeCol).as("event_type"))
    val first = base.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === steps.head, col("ts_us")))
          .as(s"t_${steps.head}"),
        collect_list(struct(col("ts_us"), col("event_type"))).as("_evs"))
    val withSteps = steps.zip(steps.tail).foldLeft(first) { case (df, (prev, s)) =>
      df.withColumn(s"t_$s", array_min(expr(
        s"transform(filter(_evs, x -> x.event_type = '$s' AND x.ts_us > t_$prev), x -> x.ts_us)")))
    }
    // ascending fold: the outermost `when` is the deepest step reached
    val stage = steps.zipWithIndex.foldLeft(lit(0)) { case (acc, (s, i)) =>
      when(col(s"t_$s").isNotNull, i + 1).otherwise(acc)
    }
    withSteps
      .select(col("user_id") +: steps.map(s => col(s"t_$s")) :+
        stage.as("stage"): _*)
      .orderBy(col("user_id"))
  }

  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelOn(Tables(spark, dir).events
        .withColumn("ts_us", unix_micros(col("ts"))),
      "user_id", "ts_us", "event_type", Seq("view", "click", "purchase"))

  val funnelSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_type FROM events
      |), u AS (SELECT DISTINCT user_id FROM e),
      |v AS (SELECT user_id, MIN(ts_us) AS t_view
      |      FROM e WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, MIN(ts_us) AS t_click
      |      FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND ts_us > t_view GROUP BY 1),
      |p AS (SELECT e.user_id, MIN(ts_us) AS t_purchase
      |      FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND ts_us > t_click GROUP BY 1)
      |SELECT u.user_id, t_view, t_click, t_purchase,
      |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
      |            WHEN t_click IS NOT NULL THEN 2
      |            WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stage
      |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
      |       LEFT JOIN p USING (user_id)
      |ORDER BY user_id""".stripMargin

  // --- B20: weekly cohort retention ----------------------------------------
  /** Users per (first-seen week, week offset): the retention triangle.
    * One user-keyed shuffle: first-event week and the distinct active-week
    * set aggregate together; exploding the per-user week set (bounded by
    * the observation span) yields unique (user, week) rows, so the final
    * count is distinct-free. */
  def retentionOn(events: DataFrame, userCol: String, tsCol: String): DataFrame =
    retentionBoardOn(userWeeksOn(events, userCol, tsCol))

  /** Shared projection: one (user_id, wk) row per EVENT — NOT distinct.
    * The board's per-user set agg absorbs duplicates, so the batch plan
    * feeds it raw (no extra exchange) while the B119 stream twin
    * distincts per batch to SHRINK its stored partials. */
  def userWeeksOn(events: DataFrame, userCol: String, tsCol: String): DataFrame =
    events.select(col(userCol).as("user_id"),
      to_date(date_trunc("week", col(tsCol))).as("wk"))

  /** The retention triangle from ANY (user_id, wk) feed — a function of
    * the SET of active user-weeks (duplicates ignored by construction),
    * which is what makes the stream twin's drain == batch: per-batch
    * distinct partials union to the same set in any arrival order. */
  def retentionBoardOn(userWeeks: DataFrame): DataFrame = {
    userWeeks
      .groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_week"), collect_set(col("wk")).as("_wks"))
      .select(col("user_id"), col("cohort_week"), explode(col("_wks")).as("wk"))
      .select(col("cohort_week"),
        expr("datediff(wk, cohort_week) div 7").cast("int").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  def retention(spark: SparkSession, dir: String): DataFrame =
    retentionOn(Tables(spark, dir).events, "user_id", "ts")

  val retentionSql: String =
    """WITH a AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events
      |), f AS (
      |  SELECT user_id, MIN(wk) AS cohort_week FROM a GROUP BY 1
      |)
      |SELECT cohort_week,
      |  CAST(date_diff('day', cohort_week, wk) // 7 AS INT) AS week_offset,
      |  COUNT(*) AS n_users
      |FROM a JOIN f USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- B90: cohort LTV triangle ----------------------------------------------
  /** The value-weighted sibling of B20's retention: per (cohort week,
    * week offset), the purchase COUNT, distinct BUYER count, and exact
    * VALUE mass — "how much is each acquisition cohort worth, week by
    * week", the LTV triangle under every payback-period decision.
    * Cohort = the user's FIRST event week (any type — acquisition);
    * value from purchase events only, so a cohort's week-0 row can be
    * missing (acquired, never bought that week) where retention's never
    * is — the two triangles answer different questions on purpose.
    *
    * Scale shape: one user-key agg derives the cohort map (co-located
    * with B20's — same hash(user)), purchases join back on the user key
    * (one co-partitioned exchange; the cohort map is O(users) and
    * broadcastable when dims allow), then one (cohort, offset) partial
    * agg. Value mass accumulates in DECIMAL (order-independent). */
  def userLtvOn(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, valueCol: String, convType: String): DataFrame = {
    val weekly = events.select(col(userCol).as("user_id"),
      to_date(date_trunc("week", col(tsCol))).as("wk"),
      col(typeCol).as("event_type"), col(valueCol).as("value"))
    val cohort = weekly.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_week"))
    weekly.filter(col("event_type") === convType)
      .join(cohort, "user_id")
      .select(col("cohort_week"),
        expr("datediff(wk, cohort_week) div 7").cast("int")
          .as("week_offset"),
        col("user_id"), col("value"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_buyers"),
        Olap.dsum(col("value"), 2).as("ltv"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  def userLtv(spark: SparkSession, dir: String): DataFrame =
    userLtvOn(Tables(spark, dir).events, "user_id", "ts",
      "event_type", "value", "purchase")

  /** B120 stream partials: the per-(user, week) activity grid — purchase
    * count plus exact DECIMAL value mass. Rows exist for NON-purchase
    * weeks too (zero mass): the cohort min needs every active week. The
    * grid is a SUM monoid — cross-batch merge is a groupBy-sum, so
    * arrival order cannot matter — and it SHRINKS the feed: many events
    * per user-week collapse to one partial row. Per-event value rounds
    * through the same DECIMAL(25,2) cast as batch B90's `Olap.dsum`, so
    * the merged mass is bit-equal to the batch sum. */
  def userWeekLtvPartialsOn(events: DataFrame, userCol: String,
      tsCol: String, typeCol: String, valueCol: String,
      convType: String): DataFrame =
    events
      .select(col(userCol).as("user_id"),
        to_date(date_trunc("week", col(tsCol))).as("wk"),
        col(typeCol).as("event_type"), col(valueCol).as("value"))
      .groupBy(col("user_id"), col("wk"))
      .agg(
        sum(when(col("event_type") === convType, 1L).otherwise(0L))
          .as("n_purch"),
        coalesce(Olap.exactSum(when(col("event_type") === convType, col("value")), 2),
          lit(0).cast("decimal(25,2)"))
          .cast("decimal(25,2)").as("val_mass"))

  /** B120 read tail: B90's LTV triangle from ANY merged (user_id, wk,
    * n_purch, val_mass) grid. Buyer distinctness is structural — after
    * the merge each (user, wk) is one row and a user has ONE cohort, so
    * the per-cell row count of purchase-bearing grid rows IS the
    * distinct-buyer count (no countDistinct needed). Shares B90's
    * oracle; the wave-split spec pins drain == batch. */
  def userLtvBoardOn(grid: DataFrame): DataFrame = {
    val merged = grid.groupBy(col("user_id"), col("wk"))
      .agg(sum(col("n_purch")).as("n_purch"),
        sum(col("val_mass")).cast("decimal(25,2)").as("val_mass"))
    val cohort = merged.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_week"))
    merged.filter(col("n_purch") > 0)
      .join(cohort, "user_id")
      .select(col("cohort_week"),
        expr("datediff(wk, cohort_week) div 7").cast("int")
          .as("week_offset"),
        col("n_purch"), col("val_mass"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(sum(col("n_purch")).as("n_purchases"),
        count(lit(1)).as("n_buyers"),
        sum(col("val_mass")).cast("double").as("ltv"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Twin: B20's cohort derivation + the purchase-only value rollup. */
  val userLtvSql: String =
    """WITH w AS (
      |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk,
      |    event_type, value
      |  FROM events
      |), f AS (
      |  SELECT user_id, MIN(wk) AS cohort_week FROM w GROUP BY 1
      |)
      |SELECT cohort_week,
      |  CAST(date_diff('day', cohort_week, wk) // 7 AS INT) AS week_offset,
      |  COUNT(*) AS n_purchases,
      |  COUNT(DISTINCT w.user_id) AS n_buyers,
      |  CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS ltv
      |FROM w JOIN f USING (user_id)
      |WHERE event_type = 'purchase'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- B22: SCD2 history compaction (gaps-and-islands) ---------------------
  /** Run-length compaction of a per-key attribute stream into SCD2-style
    * validity intervals: for each user, consecutive events with the same
    * `event_type` collapse into one versioned row `[valid_from, valid_to)`;
    * the open interval (`valid_to` null) is the current state — the
    * standard warehouse dimension-history shape, derived from an event log.
    *
    * Scale shape: ONE shuffle on the key. The change-flag window, the
    * cumulative version sum, the per-run aggregation, and the `lead`
    * closing each interval are ALL clustered by `user_id`, so Catalyst
    * plans them over the single user-keyed exchange (the run agg's keys
    * contain the window key — no second shuffle). Tiebreak on `event_id`
    * keeps the order total, so versions are deterministic. */
  def scd2On(events: DataFrame, keyCol: String, tsUsCol: String,
      seqCol: String, attrCol: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("seq"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = events.select(col(keyCol).as("user_id"), col(tsUsCol).as("ts_us"),
      col(seqCol).as("seq"), col(attrCol).as("attr"))
    val versioned = base
      .withColumn("_prev", lag(col("attr"), 1).over(w))
      .withColumn("_chg",
        when(col("_prev").isNull || col("_prev") =!= col("attr"), 1).otherwise(0))
      .withColumn("version", sum(col("_chg")).over(wRun).cast("int"))
    val runs = versioned
      .groupBy(col("user_id"), col("version"), col("attr"))
      .agg(min(col("ts_us")).as("valid_from_us"), count(lit(1)).as("n_events"))
    val wv = Window.partitionBy(col("user_id")).orderBy(col("version"))
    runs
      .select(col("user_id"), col("version"), col("attr").as("event_type"),
        col("valid_from_us"),
        lead(col("valid_from_us"), 1).over(wv).as("valid_to_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("version"))
  }

  def scd2Track(spark: SparkSession, dir: String): DataFrame =
    scd2On(Tables(spark, dir).events
        .withColumn("ts_us", unix_micros(col("ts"))),
      "user_id", "ts_us", "event_id", "event_type")

  val scd2TrackSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id, event_type
      |  FROM events
      |), c AS (
      |  SELECT user_id, ts_us, event_type,
      |    CASE WHEN lag(event_type) OVER w IS NULL
      |           OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
      |), v AS (
      |  SELECT user_id, ts_us, event_type,
      |    CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS version
      |  FROM c
      |), r AS (
      |  SELECT user_id, version, event_type,
      |    MIN(ts_us) AS valid_from_us, COUNT(*) AS n_events
      |  FROM v GROUP BY 1, 2, 3)
      |SELECT user_id, version, event_type, valid_from_us,
      |  lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY version)
      |    AS valid_to_us,
      |  n_events
      |FROM r ORDER BY user_id, version""".stripMargin

  // --- B23: robust anomaly detection (median/MAD) --------------------------
  /** Deviation threshold in MAD units. */
  val AnomalyZ = 3.0

  /** Robust per-group outlier detection: flag values whose absolute
    * deviation from the group median exceeds [[AnomalyZ]] × the median
    * absolute deviation — the estimator that, unlike mean/stddev z-scores,
    * is not itself dragged by the outliers it hunts.
    *
    * Scale shape: two group-stat aggregations over O(groups) output rows,
    * each broadcast back onto the event stream; the flagging pass is a pure
    * map filter. `exact = true` uses interpolated `percentile` (matches
    * DuckDB `quantile_cont` bit-for-bit — the oracle path, but its state
    * collects each group's values); at 100 TB pass `exact = false` for
    * t-digest `approx_percentile`, whose state is bounded — same plan
    * shape, approximate cut-offs. */
  def anomalyRobustOn(events: DataFrame, idCol: String, typeCol: String,
      valCol: String, z: Double, exact: Boolean = true): DataFrame = {
    def p50(c: Column): Column =
      if (exact) percentile(c, lit(0.5)) else approx_percentile(c, lit(0.5), lit(10000))
    val base = events.select(col(idCol).as("event_id"),
      col(typeCol).as("event_type"), col(valCol).as("value"))
    val meds = base.groupBy(col("event_type")).agg(p50(col("value")).as("med"))
    val dev = base.join(broadcast(meds), "event_type")
      .withColumn("deviation", abs(col("value") - col("med")))
    val mads = dev.groupBy(col("event_type"))
      .agg(p50(col("deviation")).as("mad"))
    dev.join(broadcast(mads), "event_type")
      .filter(col("deviation") > lit(z) * col("mad"))
      .select(col("event_id"), col("event_type"), col("value"),
        col("med"), col("mad"), col("deviation"))
      .orderBy(col("event_id"))
  }

  def anomalyRobust(spark: SparkSession, dir: String): DataFrame =
    anomalyRobustOn(Tables(spark, dir).events, "event_id", "event_type",
      "value", AnomalyZ)

  val anomalyRobustSql: String =
    s"""WITH e AS (
       |  SELECT event_id, event_type, value FROM events
       |), m AS (
       |  SELECT event_type, quantile_cont(value, 0.5) AS med
       |  FROM e GROUP BY 1
       |), d AS (
       |  SELECT e.event_id, e.event_type, e.value, m.med,
       |         abs(e.value - m.med) AS deviation
       |  FROM e JOIN m USING (event_type)
       |), s AS (
       |  SELECT event_type, quantile_cont(deviation, 0.5) AS mad
       |  FROM d GROUP BY 1)
       |SELECT event_id, d.event_type, value, med, mad, deviation
       |FROM d JOIN s USING (event_type)
       |WHERE deviation > $AnomalyZ * mad
       |ORDER BY event_id""".stripMargin

  // --- B25: incremental materialized-view maintenance ----------------------
  /** Partition of the canned demo: every 5th event plays the arriving
    * delta batch; the rest are the already-materialized history. */
  val MvBatchMod = 5

  /** The MV definition: daily per-type event rollup in MERGEABLE partial
    * form — count, decimal sum (exact, order-free), max. Every aggregate
    * here is associative+commutative, which is the property that makes the
    * view maintainable by merge instead of recompute. */
  def mvDailyAggOn(events: DataFrame, tsCol: String, typeCol: String,
      valCol: String): DataFrame =
    events
      .groupBy(to_date(col(tsCol)).as("day"), col(typeCol).as("event_type"))
      .agg(count(lit(1)).as("n"),
        Olap.exactSum(col(valCol), 2).as("_vsum"),
        max(col(valCol)).as("value_max"))

  /** Merge an arriving delta's partial aggregate into the materialized
    * state: union + re-aggregate on the view key. Cost is O(|state| +
    * |delta|) — the 100 TB history is NEVER rescanned; a day's ingest
    * touches one day of partials plus the (much smaller) view. This is the
    * same partial-merge contract Spark's own ObjectHashAggregate relies
    * on, expressed at the view level. */
  def mvMergeOn(state: DataFrame, delta: DataFrame): DataFrame =
    state.unionByName(delta)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("_vsum")).as("_vsum"),
        max(col("value_max")).as("value_max"))

  /** Driver query: maintain the daily view incrementally (history state +
    * delta batch, merged) and emit the presentation schema. Equals the
    * full recompute — which is exactly what the DuckDB oracle runs. */
  def mvIncremental(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val state = mvDailyAggOn(ev.filter(col("event_id") % MvBatchMod =!= 0),
      "ts", "event_type", "value")
    val delta = mvDailyAggOn(ev.filter(col("event_id") % MvBatchMod === 0),
      "ts", "event_type", "value")
    mvMergeOn(state, delta)
      .select(col("day"), col("event_type"), col("n"),
        col("_vsum").cast("double").as("value_sum"), col("value_max"))
      .orderBy(col("day"), col("event_type"))
  }

  val mvIncrementalSql: String =
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS value_sum,
      |  MAX(value) AS value_max
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- B26: PageRank (iterative graph centrality) --------------------------
  /** Damping numerator/denominator (d = 85/100) and the integer rank
    * scale: ranks live in units of 1e-12, so every iteration is EXACT
    * integer arithmetic — both engines replay the same trajectory, unlike
    * float PageRank where contribution order changes low bits. */
  val PrDampNum = 85L
  val PrDampDen = 100L
  val PrScale = 1000000000000L
  val PrIters = 5

  /** Weighted PageRank over an edge list, [[PrIters]] synchronous
    * iterations: r'(j) = (1−d)/N + d·Σ_i r(i)·w(ij)÷W(i), dangling mass
    * dropped (the standard simplification; nodes without out-edges only
    * absorb). All arithmetic is integer floor division on [[PrScale]]d
    * ranks.
    *
    * Scale shape: the rank vector is a DataFrame keyed by node — each
    * iteration is one hash join (ranks ⋈ edges on src) + one partial-agg
    * shuffle (contributions by dst), both O(edges); nothing ever collects
    * to the driver, so a billion-node graph iterates exactly like this
    * 25-node one. Pre-joining the out-weight onto the edge list once keeps
    * the per-iteration work to a single join. The rank lineage is cut
    * every [[PrCheckpointEvery]] iterations (`localCheckpoint`, the
    * standard iterative-plan discipline) so analysis cost stays linear in
    * the iteration count — iters=50 plans exactly like iters=5. */
  val PrCheckpointEvery = 5

  def pagerankOn(edges: DataFrame, nodes: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters=$iters must be >= 1")
    val n = nodes.count()
    require(n > 0, "pagerank needs a non-empty node set")
    val base = (PrScale * (PrDampDen - PrDampNum)) / (PrDampDen * n)
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    val e = edges.join(outw, "src").localCheckpoint(eager = false)
    var ranks = nodes.select(col("node"), lit(PrScale / n).as("r"))
    for (i <- 1 to iters) {
      val contrib = ranks.join(e, ranks("node") === e("src"))
        .select(col("dst"), expr("(r * w) div outw").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("c"))
      ranks = nodes.join(contrib, nodes("node") === contrib("dst"), "left")
        .select(col("node"),
          (lit(base) + expr(s"($PrDampNum * coalesce(c, 0L)) div $PrDampDen"))
            .as("r"))
      if (i % PrCheckpointEvery == 0 && i < iters)
        ranks = ranks.localCheckpoint(eager = true)
    }
    ranks
  }

  /** Driver query: PageRank over the nation-level trade graph (customer
    * nation → supplier nation, weighted by lineitem count) — which
    * nations sit at the center of the supply network. The edge build is a
    * star join (broadcast dims onto the fact tables); the iteration is
    * [[pagerankOn]]. */
  /** The customer-nation → supplier-nation weighted edge build over ANY
    * lineitem row set — ONE spelling shared by B26 and B114's per-batch
    * partials, so drain == batch cannot fork (r14 self-review). */
  private[graft] def nationEdgesOn(t: Tables,
      lineitemRows: DataFrame): DataFrame =
    lineitemRows.select(col("l_orderkey"), col("l_suppkey"))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.supplier.select(col("s_suppkey"),
        col("s_nationkey").as("dst"))), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("dst"))
      .agg(count(lit(1)).as("w"))

  /** The rank read tail over a merged (src, dst, w) edge board — the
    * other shared half of the B26/B114 pair. */
  private[graft] def nationRankBoardOn(t: Tables,
      edges: DataFrame): DataFrame =
    pagerankOn(edges, t.nation.select(col("n_nationkey").as("node")),
        PrIters)
      .join(broadcast(t.nation), col("node") === col("n_nationkey"))
      .select(col("node"), col("n_name").as("nation"), col("r").as("rank_pico"),
        (col("r").cast("double") / PrScale).as("rank"))
      .orderBy(col("node"))

  def pagerankNations(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    nationRankBoardOn(t, nationEdgesOn(t, t.lineitem))
  }

  val pagerankNationsSql: String = {
    val iterCtes = (1 to PrIters).map { k =>
      s"""r$k AS (
         |  SELECT nodes.node,
         |    (SELECT ($PrScale * ${PrDampDen - PrDampNum}) // ($PrDampDen * n) FROM nn)
         |      + ($PrDampNum * COALESCE(SUM((r.r * e.w) // e.outw), 0)) // $PrDampDen AS r
         |  FROM nodes
         |  LEFT JOIN e ON e.dst = nodes.node
         |  LEFT JOIN r${k - 1} r ON r.node = e.src
         |  GROUP BY nodes.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2
       |), outw AS (SELECT src, SUM(w) AS outw FROM edges GROUP BY 1),
       |e AS (SELECT edges.src, edges.dst, edges.w, outw.outw
       |      FROM edges JOIN outw ON edges.src = outw.src),
       |nodes AS (SELECT n_nationkey AS node FROM nation),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |r0 AS (SELECT node, (SELECT $PrScale // n FROM nn) AS r FROM nodes),
       |$iterCtes
       |SELECT nodes.node, n.n_name AS nation, CAST(rk.r AS BIGINT) AS rank_pico,
       |  CAST(rk.r AS DOUBLE) / $PrScale AS rank
       |FROM nodes JOIN r$PrIters rk ON rk.node = nodes.node
       |JOIN nation n ON n.n_nationkey = nodes.node
       |ORDER BY nodes.node""".stripMargin
  }

  // --- B92: single-source BFS over the customer↔supplier graph --------------
  /** Hop cap for B92 — a bipartite trade graph is small-world (customer →
    * supplier → customer chains), so the reachable set saturates within a
    * few hops; the cap also bounds the oracle's recursive state space. */
  val BfsMaxHops = 6

  /** Single-source BFS shortest hops — the iterative-graph primitive
    * next to B25's PageRank (same frontier-join skeleton as Pregel /
    * GraphX BFS, spelled in DataFrames): per round, the current
    * frontier joins the edge list, newly reached nodes take hops = i+1,
    * and the loop checkpoint-truncates like PageRank (one frontier join
    * + one distinct per round; every exchange is node-keyed). Early
    * exit when a frontier comes back empty — BFS work is O(edges ×
    * diameter) worst case, O(edges) total across rounds on the
    * frontier-once discipline, NOT O(edges × rounds).
    *
    * Scale shape: dist and edges co-partition on the node key; a round
    * is one shuffle join + one node-keyed dedup agg. At 100 TB the same
    * loop runs with the frontier as the small side (broadcast when it
    * fits) — textbook iterative BFS on a relational engine.
    *
    * Why a bipartite graph and not the 25-node nation graph: the trade
    * network between nations is near-complete (every hop distribution
    * collapses to 0/1) — customer↔supplier reachability has real
    * frontier expansion and an unreached tail. */
  /** Broadcast `df` when `nRows` — known EXACTLY by the caller (the
    * iterative loops count their frontier/node frames every round for
    * the convergence check anyway) — is small enough that the broadcast
    * relation is trivially safe; above the bound the planner keeps its
    * shuffle join. This is the scale-adaptive join-strategy pick the
    * loop docstrings promise ("frontier is the small side — broadcast
    * when it fits"): localCheckpoint leaves a LogicalRDD with no size
    * stats, so the planner NEVER auto-broadcasts a loop frame and every
    * round paid a two-sided sort-merge join (r16 plan audit). The bound
    * is rows, not bytes — loop frames are 2-3 longs/row, so the default
    * 4M-row cap is ≲100 MB framed. Conf: graft.loop.broadcastMaxRows. */
  private[graft] def maybeBroadcastRows(df: DataFrame, nRows: Long): DataFrame =
    if (nRows <= df.sparkSession.conf.getOption("graft.loop.broadcastMaxRows")
        .map(_.toLong).getOrElse(4000000L)) broadcast(df) else df

  def bfsHopsOn(edges: DataFrame, source: Long, maxHops: Int): DataFrame = {
    var dist = edges.sparkSession.range(1)
      .select(lit(source).as("node"), lit(0L).as("hops"))
      .localCheckpoint(eager = true)
    var i = 0L
    var frontierCnt = 1L
    while (frontierCnt > 0 && i < maxHops) {
      val frontier = dist.filter(col("hops") === i)
        .select(col("node").as("src"))
      // r16 round fusion: the reached set merges into dist through ONE
      // node-keyed min-agg — min(hops) keeps the earlier round for seen
      // nodes (hops only grow with i) and collapses duplicate arrivals,
      // replacing the distinct + left_anti + union chain (three
      // exchanges → one); the frontier broadcasts adaptively (its count
      // is the loop condition, already paid)
      dist = dist.unionAll(
          maybeBroadcastRows(frontier, frontierCnt).join(edges, "src")
            .select(col("dst").as("node"), lit(i + 1).as("hops")))
        .groupBy(col("node")).agg(min(col("hops")).as("hops"))
        .localCheckpoint(eager = true)
      i += 1
      frontierCnt = dist.filter(col("hops") === i).count()
    }
    dist
  }

  /** Driver query: hops from customer 1 through the bipartite
    * customer↔supplier graph (an edge per distinct has-ordered-from
    * pair, both directions; customers at 2k, suppliers at 2k+1 to
    * disjointify the id spaces). */
  def bfsHops(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val pairs = t.lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long").as("c"),
        col("l_suppkey").cast("long").as("s"))
      .distinct()
    // r16: symmetrize via ONE explode pass — the unionAll spelling
    // recomputed the distinct-pair subtree per branch (guide §7.2)
    val edges = pairs.select(explode(array(
        struct((col("c") * 2).as("src"), (col("s") * 2 + 1).as("dst")),
        struct((col("s") * 2 + 1).as("src"), (col("c") * 2).as("dst"))))
        .as("e"))
      .select(col("e.src"), col("e.dst"))
      .localCheckpoint(eager = true)
    bfsHopsOn(edges, source = 2L, maxHops = BfsMaxHops)
      .select(col("node"),
        when(col("node") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("kind"),
        // integral div like the oracle's node // 2 — the / operator
        // routes through double and loses precision past 2^53
        shiftright(col("node"), 1).as("entity_id"),
        col("hops"))
      .orderBy(col("node"))
  }

  /** Twin: WITH RECURSIVE frontier walk, deduped per (node, hops) by
    * UNION, min-hops per node — the hop cap bounds the recursion's
    * state space on cyclic graphs. */
  val bfsHopsSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS c,
       |    CAST(l.l_suppkey AS BIGINT) AS s
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |), e AS (
       |  SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
       |  UNION ALL
       |  SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs
       |), walk(node, hops) AS (
       |  SELECT CAST(2 AS BIGINT) AS node, CAST(0 AS BIGINT) AS hops
       |  UNION
       |  SELECT e.dst, walk.hops + 1 FROM walk JOIN e ON walk.node = e.src
       |  WHERE walk.hops < $BfsMaxHops
       |)
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  node // 2 AS entity_id,
       |  MIN(hops) AS hops
       |FROM walk GROUP BY node ORDER BY node""".stripMargin

  // --- B128/B129: weighted single-source shortest path ----------------------
  /** Round cap for B128's Bellman-Ford — declared semantics: min cost
    * over paths of ≤ SsspRounds edges (exact Bellman-Ford needs V−1
    * rounds; a small-world trade graph's cheapest paths are short, and
    * the cap bounds the oracle's unroll exactly like BfsMaxHops /
    * kcore's round cap). Early exit on the fixpoint — relaxation is
    * monotone, so exit == full unroll. */
  val SsspRounds = 8
  val SsspSource = 2L

  /** Distinct (customer, supplier, order) trade links — the SET-MONOID
    * feed B128 and its streaming twin share: per-batch partials are
    * batch-local distincts, merge is set union (the at-read distinct),
    * so the board is replay-invariant under any wave split. */
  def tradeLinkPartialsOn(lineitem: DataFrame,
      orders: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long").as("c"),
        col("l_suppkey").cast("long").as("s"),
        col("o_orderkey").cast("long").as("ok"))
      .distinct()

  /** Weighted SSSP board over merged trade-link partials: edge cost is
    * the RELATIONSHIP-WEAKNESS integer ⌈1000/n⌉ (n = distinct orders
    * between the pair — strong lanes are cheap, one-off trades
    * expensive), both directions over the bipartite customer↔supplier
    * id space (customers at 2k, suppliers at 2k+1, B92's encoding), and
    * the loop is FRONTIER Bellman-Ford: each round relaxes only the
    * nodes whose cost improved last round (unchanged nodes were
    * already relaxed at the same cost — the inductive argument that
    * makes frontier == full relaxation per round), checkpoint-truncated
    * like B92/B25.
    *
    * Scale shape: one (c,s) rollup to weights; per round ONE
    * frontier⋈edges join (frontier is the SMALL side — broadcast when
    * it fits) + two node-keyed min-aggs; total work O(edges × improved
    * rounds), not O(edges × rounds). */
  def ssspBoardOn(partials: DataFrame, source: Long,
      rounds: Int): DataFrame = {
    // r16: one (c,s)-keyed exchange serves BOTH the link dedup and the
    // weight rollup (hash(c,s) clusters (c,s,ok) for the distinct and
    // the groupBy reuses the partitioning) — the bare distinct() +
    // groupBy pair exchanged twice
    val wp = partials.repartition(col("c"), col("s")).distinct()
      .groupBy(col("c"), col("s")).agg(count(lit(1)).as("n"))
      .select(col("c"), col("s"), expr("(999 + n) DIV n").as("w"))
    // r16: symmetrize via ONE explode pass — the unionAll spelling
    // recomputed the wp rollup per branch (guide §7.2)
    val edges = wp.select(explode(array(
        struct((col("c") * 2).as("src"), (col("s") * 2 + 1).as("dst")),
        struct((col("s") * 2 + 1).as("src"), (col("c") * 2).as("dst"))))
        .as("e"), col("w"))
      .select(col("e.src"), col("e.dst"), col("w"))
      .localCheckpoint(eager = true)
    var dist = edges.sparkSession.range(1)
      .select(lit(source).as("node"), lit(0L).as("cost"))
      .localCheckpoint(eager = true)
    var frontier = dist
    var frontierCnt = 1L
    var i = 0
    while (i < rounds && frontierCnt > 0) {
      // r16 round fusion (tightens the r15 two-job fusion further): the
      // relax pre-agg and the full-outer merge collapse into ONE
      // node-keyed aggregate over dist ∪ raw-relaxed rows — _old is
      // dist's unique per-node cost, _newc the best candidate; one
      // exchange per round instead of the agg + full-outer pair, and
      // the full-outer's partitioning-erasing join is gone. The
      // frontier broadcasts adaptively (its count is the loop
      // condition, already paid each round).
      val fb = maybeBroadcastRows(frontier, frontierCnt)
      val relaxRaw = fb.join(edges, fb("node") === edges("src"))
        .select(col("dst").as("node"), (col("cost") + col("w")).as("_cand"),
          lit(true).as("_isnew"))
      val merged = dist
        .select(col("node"), col("cost").as("_cand"), lit(false).as("_isnew"))
        .unionAll(relaxRaw)
        .groupBy(col("node"))
        .agg(min(when(!col("_isnew"), col("_cand"))).as("_old"),
          min(when(col("_isnew"), col("_cand"))).as("_new"))
        .select(col("node"),
          when(col("_old").isNull, col("_new"))
            .when(col("_new").isNull, col("_old"))
            .otherwise(least(col("_old"), col("_new"))).as("cost"),
          (col("_old").isNull ||
            (col("_new").isNotNull && col("_new") < col("_old")))
            .as("_changed"))
        .localCheckpoint(eager = true)
      frontier = merged.filter(col("_changed"))
        .select(col("node"), col("cost"))
      dist = merged.select(col("node"), col("cost"))
      frontierCnt = merged.filter(col("_changed")).count()
      i += 1
    }
    dist.select(col("node"),
        when(col("node") % 2 === 0, lit("customer"))
          .otherwise(lit("supplier")).as("kind"),
        shiftright(col("node"), 1).as("entity_id"),
        col("cost"))
      .orderBy(col("node"))
  }

  /** Driver query: cheapest trade routes from customer 1 (node 2). */
  def ssspCost(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    ssspBoardOn(tradeLinkPartialsOn(t.lineitem, t.orders),
      SsspSource, SsspRounds)
  }

  /** Twin: kcore's MATERIALIZED-CTE unroll (each round referenced twice
    * — plain CTEs would inline 2^rounds copies). Full unroll == the
    * operator's early-exited frontier loop: relaxation is monotone. */
  val ssspCostSql: String = {
    val rounds = (1 to SsspRounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, MIN(cost) AS cost FROM (
         |    SELECT node, cost FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d.cost + e.w AS cost
         |    FROM d${i - 1} d JOIN e ON d.node = e.src)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pr AS (
       |  SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS c,
       |    CAST(l.l_suppkey AS BIGINT) AS s,
       |    CAST(o.o_orderkey AS BIGINT) AS ok
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       |wp AS (
       |  SELECT c, s, (999 + COUNT(*)) // COUNT(*) AS w
       |  FROM pr GROUP BY c, s),
       |e AS MATERIALIZED (
       |  SELECT c * 2 AS src, s * 2 + 1 AS dst, w FROM wp
       |  UNION ALL
       |  SELECT s * 2 + 1 AS src, c * 2 AS dst, w FROM wp),
       |d0 AS (SELECT CAST($SsspSource AS BIGINT) AS node,
       |       CAST(0 AS BIGINT) AS cost),
       |$rounds
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  node // 2 AS entity_id, cost
       |FROM d$SsspRounds ORDER BY node""".stripMargin
  }

  // --- B96: seasonal-naive forecast error board -------------------------------
  /** Season length for B96 — weekly, the retail default. */
  val SnaiveSeasonDays = 7

  /** Seasonal-naive forecast evaluation — the baseline every real
    * forecasting deploy must beat (Hyndman & Athanasopoulos, "Forecasting:
    * Principles and Practice": ŷ(d) = y(d − season)), scored in-sample as
    * a per-group error board: days scored (a day counts iff the
    * same-group day one season earlier exists), total absolute error in
    * exact integer micro-units (decimal arithmetic end to end — no float
    * accumulation), and MAE as one IEEE division chain over the exact
    * integers. The board is what a metrics team pages on: a model whose
    * MAE beats this number earns its keep.
    *
    * Scale shape: events shrink to O(groups × days) in ONE partial-agg
    * exchange; the season lag is a co-partitioned self-join on
    * (group, day) — NOT a row-offset window (a `lag(7)` over day rows
    * silently mis-predicts across calendar gaps); the error rollup rides
    * the same group key. */
  def forecastSnaiveOn(events: DataFrame, typeCol: String, tsCol: String,
      valueCol: String, seasonDays: Int = SnaiveSeasonDays): DataFrame = {
    val daily = events
      .groupBy(col(typeCol).as("grp"), to_date(col(tsCol)).as("d"))
      .agg(Olap.exactSum(col(valueCol), 6).as("v"))
    val pred = daily.select(col("grp"),
      date_add(col("d"), seasonDays).as("d"), col("v").as("v_pred"))
    daily.join(pred, Seq("grp", "d"), "left")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("v_pred").isNotNull, 1L).otherwise(0L))
          .as("n_scored"),
        sum(when(col("v_pred").isNotNull,
          abs(col("v") - col("v_pred")))).as("_err"))
      .select(col("grp").as("event_type"),
        col("n_days"), col("n_scored"),
        // the 0-coalesce covers ONLY the no-scored-days case (SUM over an
        // empty set is null); a long-range overflow of the micro cast
        // (null under non-ANSI Spark) must surface, not read as zero
        // error while n_scored > 0 — the DuckDB twin errors loudly there
        when(col("n_scored") === 0, lit(0L))
          .otherwise(coalesce((col("_err") * 1000000).cast("long"),
            raise_error(lit("forecast_snaive: abs_err_micro overflowed " +
              "BIGINT — re-scale the micro unit")).cast("long")))
          .as("abs_err_micro"))
      .withColumn("mae",
        when(col("n_scored") > 0,
          col("abs_err_micro").cast("double") / col("n_scored") / 1000000.0))
      .orderBy(col("event_type"))
  }

  def forecastSnaive(spark: SparkSession, dir: String): DataFrame =
    forecastSnaiveOn(Tables(spark, dir).events, "event_type", "ts", "value")

  /** Twin: the same daily decimal rollup, calendar-true season join, and
    * micro-unit error integers. */
  val forecastSnaiveSql: String =
    s"""WITH daily AS (
       |  SELECT event_type AS grp, CAST(ts AS DATE) AS d,
       |    SUM(CAST(value AS DECIMAL(25,6))) AS v
       |  FROM events GROUP BY 1, 2
       |), j AS (
       |  SELECT a.grp, a.d, a.v, b.v AS v_pred
       |  FROM daily a LEFT JOIN daily b
       |    ON a.grp = b.grp AND b.d = a.d - $SnaiveSeasonDays
       |), agg AS (
       |  SELECT grp AS event_type, COUNT(*) AS n_days,
       |    CAST(SUM(CASE WHEN v_pred IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_scored,
       |    COALESCE(CAST(SUM(CASE WHEN v_pred IS NOT NULL
       |      THEN ABS(v - v_pred) END) * 1000000 AS BIGINT), 0)
       |      AS abs_err_micro
       |  FROM j GROUP BY grp)
       |SELECT event_type, n_days, n_scored, abs_err_micro,
       |  CASE WHEN n_scored > 0 THEN
       |    CAST(abs_err_micro AS DOUBLE) / n_scored / 1000000.0 END AS mae
       |FROM agg ORDER BY event_type""".stripMargin

  // --- B97: duration-weighted state occupancy ---------------------------------
  /** Time-in-state: how long each user SITS in each state, where the
    * state is the last event's type until the next event arrives — the
    * duration-weighted complement of the count-weighted B39 transition
    * matrix (a state entered often but exited instantly dominates
    * counts and vanishes in wall time; device/session analytics need
    * both reads). Per state: interval count, total microseconds (exact
    * BIGINT sums of timestamp differences — no products, no unit
    * quantization, overflow-free by construction: Σ durations ≤ span ×
    * users), and seconds as one IEEE division. Each user's LAST event
    * has no successor and is excluded — open intervals have no
    * defensible duration.
    *
    * Scale shape: ONE user-key window exchange (the `lead` rides it) +
    * the state-key partial-agg rollup + gate sort. */
  def timeInStateOn(events: DataFrame, userCol: String, tsCol: String,
      tieCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col("_u"))
      .orderBy(col("_ts"), col("_tie"))
    events.select(col(userCol).as("_u"), unix_micros(col(tsCol)).as("_ts"),
        col(tieCol).as("_tie"), col(typeCol).as("_st"))
      .withColumn("_next", lead(col("_ts"), 1).over(w))
      .filter(col("_next").isNotNull)
      .groupBy(col("_st").as("state"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("_next") - col("_ts")).as("dur_us_total"))
      .withColumn("dur_s",
        col("dur_us_total").cast("double") / 1000000.0)
      .orderBy(col("state"))
  }

  def timeInState(spark: SparkSession, dir: String): DataFrame =
    timeInStateOn(Tables(spark, dir).events, "user_id", "ts", "event_id",
      "event_type")

  /** Twin: the same per-user lead over the (ts, event_id) total order. */
  val timeInStateSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
      |    event_type
      |  FROM events
      |), iv AS (
      |  SELECT event_type AS state,
      |    LEAD(ts_us) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id) - ts_us AS dur
      |  FROM e)
      |SELECT state, COUNT(*) AS n_intervals,
      |  CAST(SUM(dur) AS BIGINT) AS dur_us_total,
      |  CAST(SUM(dur) AS DOUBLE) / 1000000.0 AS dur_s
      |FROM iv WHERE dur IS NOT NULL
      |GROUP BY state ORDER BY state""".stripMargin

  // --- B27: time-range rolling features ------------------------------------
  /** Rolling-window span: 1 hour in microseconds. */
  val RollWindowUs = 3600000000L

  /** Per-event rolling features over the key's trailing time window —
    * the standard ML feature-engineering shape ("user's activity in the
    * last hour, as of each event"). A RANGE frame on event-time keyed by
    * `user_id`: one shuffle, and the frame is defined by VALUES (ties get
    * identical frames), so the result is deterministic under any row
    * order. The exact sum keeps the rolling total exact. */
  def rollingFeaturesOn(events: DataFrame, keyCol: String, tsUsCol: String,
      idCol: String, valCol: String, windowUs: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(-windowUs, 0)
    events
      .select(col(keyCol).as("user_id"), col(tsUsCol).as("ts_us"),
        col(idCol).as("event_id"), col(valCol).as("value"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        count(lit(1)).over(w).as("n_1h"),
        Olap.exactSum(col("value"), 2).over(w).cast("double")
          .as("vsum_1h"))
      .orderBy(col("event_id"))
  }

  def rollingFeatures(spark: SparkSession, dir: String): DataFrame =
    rollingFeaturesOn(Tables(spark, dir).events
        .withColumn("ts_us", unix_micros(col("ts"))),
      "user_id", "ts_us", "event_id", "value", RollWindowUs)

  val rollingFeaturesSql: String =
    s"""SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us,
       |  COUNT(*) OVER w AS n_1h,
       |  CAST(SUM(CAST(value AS DECIMAL(25,2))) OVER w AS DOUBLE) AS vsum_1h
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000
       |             RANGE BETWEEN $RollWindowUs PRECEDING AND CURRENT ROW)
       |ORDER BY event_id""".stripMargin

  // --- B28: equi-width histogram -------------------------------------------
  val HistBuckets = 20

  /** Equi-width histogram of a numeric column per group: global min/max
    * from one 1-row aggregate (broadcast back), bucket index by identical
    * IEEE arithmetic in both engines, counts by partial agg — the
    * distribution profile that drives skew diagnostics and bucket-size
    * planning, at one corpus pass. */
  def valueHistogramOn(events: DataFrame, typeCol: String, valCol: String,
      buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets=$buckets must be >= 1")
    val base = events.select(col(typeCol).as("event_type"),
      col(valCol).as("v"))
    val stats = base.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    base.crossJoin(broadcast(stats))
      .select(col("event_type"),
        // degenerate all-equal column → single bucket 0, not NaN buckets
        when(col("vmax") === col("vmin"), 0).otherwise(
          least(lit(buckets - 1),
            floor((col("v") - col("vmin")) * buckets /
              (col("vmax") - col("vmin"))).cast("int"))).as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("bucket"))
  }

  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    valueHistogramOn(Tables(spark, dir).events, "event_type", "value",
      HistBuckets)

  val valueHistogramSql: String =
    s"""WITH s AS (SELECT MIN(value) AS vmin, MAX(value) AS vmax FROM events)
       |SELECT event_type,
       |  CAST(CASE WHEN vmax = vmin THEN 0 ELSE LEAST($HistBuckets - 1,
       |    FLOOR((value - vmin) * $HistBuckets / (vmax - vmin))) END AS INT) AS bucket,
       |  COUNT(*) AS n
       |FROM events CROSS JOIN s
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- B29: CDC upsert compaction ------------------------------------------
  /** Every 4th order plays the arriving change batch (status flip +
    * repriced), versioned above the base. Deterministic, so the oracle
    * rebuilds it. */
  val UpsertMod = 4

  /** Latest-record-wins upsert compaction (the MERGE/SCD1 shape): base
    * snapshot + change feed → one row per key, highest (version, then
    * key-stable tiebreak) wins. ONE key shuffle via max-struct aggregation
    * — `max` of a (version, payload) struct picks the winning record
    * without a row_number sort (partial agg keeps only one candidate per
    * partition, the shape that survives a billion-row change feed).
    * Requires every payload column to be orderable; version leads the
    * struct so it alone decides. */
  def upsertLatestOn(base: DataFrame, changes: DataFrame, keyCol: String,
      versionCol: String): DataFrame = {
    val cols = base.columns.filterNot(c => c == keyCol || c == versionCol)
    val packed = base.unionByName(changes)
      .select(col(keyCol).as("k"),
        struct((col(versionCol).as("_v") +: cols.map(col)): _*).as("_rec"))
      .groupBy(col("k")).agg(max(col("_rec")).as("_rec"))
    packed.select(col("k").as(keyCol) +: col("_rec._v").as(versionCol) +:
      cols.map(c => col(s"_rec.$c").as(c)): _*)
  }

  def upsertLatest(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        lit(1L).as("version"))
    val changes = o.filter(col("o_orderkey") % UpsertMod === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") * 2).as("o_totalprice"), lit(2L).as("version"))
    upsertLatestOn(o, changes, "o_orderkey", "version")
      .orderBy(col("o_orderkey"))
  }

  val upsertLatestSql: String =
    s"""WITH all_recs AS (
       |  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version
       |  FROM orders
       |  UNION ALL
       |  SELECT o_orderkey, 'U', o_totalprice * 2, 2
       |  FROM orders WHERE o_orderkey % $UpsertMod = 0)
       |SELECT o_orderkey, o_orderstatus, o_totalprice,
       |       CAST(version AS BIGINT) AS version
       |FROM all_recs
       |QUALIFY row_number() OVER (PARTITION BY o_orderkey
       |                           ORDER BY version DESC) = 1
       |ORDER BY o_orderkey""".stripMargin

  // --- B71: CDC compaction WITH DELETES ------------------------------------
  /** Every [[CdcDeleteMod]]-th key receives a DELETE at version 3 —
    * above the [[UpsertMod]] updates' version 2, so keys hit by BOTH
    * resolve delete-wins (the latest-op-rules contract a real change
    * feed demands). */
  val CdcDeleteMod = 9

  /** B29's latest-wins compaction extended to the FULL CDC op alphabet
    * (I/U/D): the change feed carries an op column, the same max-struct
    * aggregation picks each key's latest record (one shuffle, partial
    * combine — `upsertLatestOn` VERBATIM with op riding as payload), and
    * keys whose latest op is D are dropped from the compacted table —
    * the MERGE-with-deletes every CDC sink (Debezium→lakehouse) runs.
    * Tombstones cost one post-agg filter, never a second shuffle. */
  def cdcCompactOn(base: DataFrame, changes: DataFrame, keyCol: String,
      versionCol: String, opCol: String): DataFrame =
    upsertLatestOn(base, changes, keyCol, versionCol)
      .filter(col(opCol) =!= "D")

  /** The canned three-arm I/U/D feed derived from an orders frame —
    * ONE spelling for the batch entry and the B71 streaming twin (the
    * shared-helper discipline): returns (base, changes). Works on a
    * batch or streaming frame alike (row-local maps and filters). */
  private[graft] def cdcFeedOn(orders: DataFrame): (DataFrame, DataFrame) = {
    val o = orders
      .select(col("o_orderkey"), lit("I").as("op"), col("o_orderstatus"),
        col("o_totalprice"), lit(1L).as("version"))
    val updates = o.filter(col("o_orderkey") % UpsertMod === 0)
      .select(col("o_orderkey"), lit("U").as("op"),
        lit("U").as("o_orderstatus"),
        (col("o_totalprice") * 2).as("o_totalprice"), lit(2L).as("version"))
    val deletes = o.filter(col("o_orderkey") % CdcDeleteMod === 0)
      .select(col("o_orderkey"), lit("D").as("op"),
        lit("D").as("o_orderstatus"), lit(0.0).as("o_totalprice"),
        lit(3L).as("version"))
    (o, updates.unionByName(deletes))
  }

  def cdcCompact(spark: SparkSession, dir: String): DataFrame = {
    val (base, changes) = cdcFeedOn(Tables(spark, dir).orders)
    cdcCompactOn(base, changes, "o_orderkey", "version", "op")
      .orderBy(col("o_orderkey"))
  }

  /** Twin: the same three-arm feed, latest-by-version, tombstones
    * filtered after the pick. */
  val cdcCompactSql: String =
    s"""WITH all_recs AS (
       |  SELECT o_orderkey, 'I' AS op, o_orderstatus, o_totalprice,
       |    1 AS version
       |  FROM orders
       |  UNION ALL
       |  SELECT o_orderkey, 'U', 'U', o_totalprice * 2, 2
       |  FROM orders WHERE o_orderkey % $UpsertMod = 0
       |  UNION ALL
       |  SELECT o_orderkey, 'D', 'D', 0.0, 3
       |  FROM orders WHERE o_orderkey % $CdcDeleteMod = 0)
       |SELECT * FROM (
       |  SELECT o_orderkey, op, o_orderstatus, o_totalprice,
       |         CAST(version AS BIGINT) AS version
       |  FROM all_recs
       |  QUALIFY row_number() OVER (PARTITION BY o_orderkey
       |                             ORDER BY version DESC) = 1)
       |WHERE op != 'D'
       |ORDER BY o_orderkey""".stripMargin

  // --- B39: snapshot diff / table reconciliation ----------------------------
  /** Deterministic "current" snapshot of `orders`: every [[DiffDelMod]]th
    * key deleted, every [[DiffChgMod]]th repriced (×2 — IEEE-exact), every
    * [[DiffAddMod]]th re-inserted under a shifted key. */
  val DiffDelMod = 97
  val DiffChgMod = 13
  val DiffAddMod = 89

  /** Snapshot reconciliation — the "what changed between loads" audit a
    * warehouse runs after every ingest: full-outer key join of two
    * snapshots comparing a map-side md5 row digest of the compared columns.
    * Emits one row per NON-identical key (added / removed / changed).
    *
    * Scale shape: the digest shrinks each row to 32 bytes BEFORE the join,
    * so the exchange carries (key, digest) only; the join is one
    * co-partitioned key shuffle per side — and ZERO exchanges when both
    * snapshots are written bucketed by the key (Sinks.writeBucketed).
    * Each column is hashed INDIVIDUALLY before the row digest (md5 per
    * column, then md5 of the fixed-width concat): every column contributes
    * exactly 32 hex chars — or the 1-char null marker, which no md5 can
    * equal — so no input value can shift a column boundary or collide with
    * the null sentinel, and a null→'' flip is reported as changed. */
  def tableDiffOn(base: DataFrame, current: DataFrame, keyCol: String,
      cmpCols: Seq[String]): DataFrame = {
    def digest(df: DataFrame) = df.select(col(keyCol).as("k"),
      md5(concat(
        cmpCols.map(c => coalesce(md5(col(c).cast("string")), lit("-"))): _*))
        .as("h"))
    digest(base).as("a")
      .join(digest(current).as("b"), col("a.k") === col("b.k"), "full_outer")
      .select(coalesce(col("a.k"), col("b.k")).as(keyCol),
        when(col("b.k").isNull, "removed")
          .when(col("a.k").isNull, "added")
          .when(col("a.h") =!= col("b.h"), "changed")
          .otherwise("unchanged").as("status"))
      .filter(col("status") =!= "unchanged")
  }

  def tableDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir).orders
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val cur = o.filter(col("o_orderkey") % DiffDelMod =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % DiffChgMod === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
      .unionByName(o.filter(col("o_orderkey") % DiffAddMod === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice")))
    tableDiffOn(o, cur, "o_orderkey", Seq("o_orderstatus", "o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Twin compares column values directly — the digest is an
    * implementation detail; the reported key/status set is the contract. */
  val tableDiffSql: String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
       |cur AS (
       |  SELECT o_orderkey, o_orderstatus,
       |    CASE WHEN o_orderkey % $DiffChgMod = 0 THEN o_totalprice * 2
       |         ELSE o_totalprice END AS o_totalprice
       |  FROM base WHERE o_orderkey % $DiffDelMod <> 0
       |  UNION ALL
       |  SELECT o_orderkey + 100000000, o_orderstatus, o_totalprice
       |  FROM base WHERE o_orderkey % $DiffAddMod = 0)
       |SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
       |  CASE WHEN b.o_orderkey IS NULL THEN 'removed'
       |       WHEN a.o_orderkey IS NULL THEN 'added'
       |       WHEN a.o_totalprice <> b.o_totalprice
       |            OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
       |       ELSE 'unchanged' END AS status
       |FROM base a FULL OUTER JOIN cur b ON a.o_orderkey = b.o_orderkey
       |WHERE CASE WHEN b.o_orderkey IS NULL THEN 'removed'
       |       WHEN a.o_orderkey IS NULL THEN 'added'
       |       WHEN a.o_totalprice <> b.o_totalprice
       |            OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
       |       ELSE 'unchanged' END <> 'unchanged'
       |ORDER BY o_orderkey""".stripMargin

  // --- B40: time-series resample + forward fill -----------------------------
  /** Per-key daily resampling with forward fill — the gap-filling shape
    * every time-series feature store needs (a user's "value as of day d"
    * must exist for EVERY day, not just active ones).
    *
    * Scale shape: daily totals are ONE (key, day) partial agg; the spine
    * is generated map-side from each key's 1-row (min, max) span
    * (`sequence` + explode — no calendar table broadcast, no cross join);
    * the fill is ONE key-partitioned window over values ordered by day —
    * days are unique per key, so the frame is deterministic under any row
    * order. Leading rows are never null by construction (the spine starts
    * at each key's first active day). */
  def resampleFfillOn(events: DataFrame, keyCol: String, tsCol: String,
      valCol: String): DataFrame = {
    val daily = events
      .groupBy(col(keyCol).as("k"), to_date(col(tsCol)).as("day"))
      .agg(Olap.dsum(col(valCol), 2).as("v"))
    val spine = daily.groupBy(col("k"))
      .agg(min(col("day")).as("_d0"), max(col("day")).as("_d1"))
      .select(col("k"),
        explode(sequence(col("_d0"), col("_d1"),
          expr("INTERVAL 1 DAY"))).as("day"))
    val w = Window.partitionBy(col("k")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("k", "day"), "left")
      .select(col("k").as(keyCol), col("day"),
        last(col("v"), ignoreNulls = true).over(w).as("value_filled"),
        when(col("v").isNull, 1).otherwise(0).as("is_gap"))
      .orderBy(col(keyCol), col("day"))
  }

  def resampleFfill(spark: SparkSession, dir: String): DataFrame =
    resampleFfillOn(Tables(spark, dir).events, "user_id", "ts", "value")

  val resampleFfillSql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS v
      |  FROM events GROUP BY 1, 2),
      |spine AS (
      |  SELECT user_id,
      |    CAST(unnest(generate_series(CAST(min(day) AS TIMESTAMP),
      |      CAST(max(day) AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM daily GROUP BY user_id)
      |SELECT s.user_id, s.day,
      |  LAST_VALUE(d.v IGNORE NULLS) OVER (PARTITION BY s.user_id
      |    ORDER BY s.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS value_filled,
      |  CASE WHEN d.v IS NULL THEN 1 ELSE 0 END AS is_gap
      |FROM spine s LEFT JOIN daily d
      |  ON s.user_id = d.user_id AND s.day = d.day
      |ORDER BY s.user_id, s.day""".stripMargin

  // --- B30: one-pass table profiling ---------------------------------------
  /** The profiled table's columns — one definition drives BOTH the Spark
    * aggregation and the generated oracle SQL. */
  val ProfileCols: Seq[String] = Seq("o_orderkey", "o_custkey",
    "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")

  /** Data-quality profile of a table in ONE scan: per column, null count
    * and distinct cardinality (plus the row count). `exact = true` uses
    * exact distincts — Catalyst plans the multi-distinct agg via Expand,
    * i.e. one scan multiplied by #columns, which is the oracle-checkable
    * path; at 100 TB pass `exact = false` for `approx_count_distinct`
    * (HLL): same single scan, NO Expand, bounded sketch state. */
  def tableProfileOn(df: DataFrame, cols: Seq[String],
      exact: Boolean = true): DataFrame = {
    def dist(c: String): Column =
      if (exact) countDistinct(col(c)) else approx_count_distinct(col(c))
    val aggs = cols.flatMap(c => Seq(
      count(when(col(c).isNull, 1)).as(s"_n_$c"), dist(c).as(s"_d_$c")))
    df.agg(count(lit(1)).as("_rows"), aggs: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"), col("_rows").as("n_rows"),
        col(s"_n_$c").as("n_nulls"), col(s"_d_$c").as("n_distinct"))): _*))
        .as("p"))
      .select(col("p.*"))
      .orderBy(col("col_name"))
  }

  def tableProfile(spark: SparkSession, dir: String): DataFrame =
    tableProfileOn(Tables(spark, dir).orders, ProfileCols)

  val tableProfileSql: String =
    ProfileCols.map { c =>
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
         |  COUNT(*) - COUNT($c) AS n_nulls,
         |  COUNT(DISTINCT $c) AS n_distinct
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // --- B31: skew-proof salted join -----------------------------------------
  val SaltBuckets = 8

  /** The salted-join demo over a DELIBERATELY skewed key: half the event
    * stream collapses onto one hot key, the kind of key that turns a
    * plain shuffle join into one straggler partition. [[Dedup]]-style
    * salting ([[Skew.saltedJoin]]) spreads each hot key across
    * [[SaltBuckets]] partitions by joining on (key, salt) with the small
    * side replicated saltBuckets× — bounded, explicit replication instead
    * of an unbounded hot partition. The aggregation after the join erases
    * the salt, so the result is EXACTLY the plain join's (the DuckDB
    * oracle runs the unsalted join) — salting is a physical rewrite, not
    * a semantic one. */
  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(when(col("user_id") % 10 < 5, 1L).otherwise(col("user_id"))
          .as("k"),
        col("value"))
    val dim = ev.select(col("k")).distinct()
      .select(col("k"), substring(md5(col("k").cast("string")), 1, 8)
        .as("label"))
    Skew.saltedJoin(ev, dim, "k", SaltBuckets)
      .groupBy(col("k"), col("label"))
      .agg(count(lit(1)).as("n"),
        Olap.dsum(col("value"), 2).as("value_sum"))
      .orderBy(col("k"))
  }

  val saltedJoinSql: String =
    """WITH e AS (
      |  SELECT CASE WHEN user_id % 10 < 5 THEN 1 ELSE user_id END AS k, value
      |  FROM events
      |), dim AS (
      |  SELECT k, substr(md5(CAST(k AS VARCHAR)), 1, 8) AS label
      |  FROM (SELECT DISTINCT k FROM e))
      |SELECT e.k, label, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS value_sum
      |FROM e JOIN dim ON e.k = dim.k
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // --- B34: event-path transition matrix -----------------------------------
  /** The user-journey transition matrix (Markov view of the event stream):
    * count (previous event type → next event type) transitions along each
    * user's time-ordered path, plus START transitions for first events.
    * ONE user-key shuffle: `lead` over the per-user order produces the
    * pairs; the transition aggregation groups O(types²) keys. */
  def eventTransitionsOn(events: DataFrame, keyCol: String, tsUsCol: String,
      seqCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("seq"))
    events
      .select(col(keyCol).as("user_id"), col(tsUsCol).as("ts_us"),
        col(seqCol).as("seq"), col(typeCol).as("event_type"))
      .select(
        coalesce(lag(col("event_type"), 1).over(w), lit("START"))
          .as("from_type"),
        col("event_type").as("to_type"))
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("from_type"), col("to_type"))
  }

  def eventTransitions(spark: SparkSession, dir: String): DataFrame =
    eventTransitionsOn(Tables(spark, dir).events
        .withColumn("ts_us", unix_micros(col("ts"))),
      "user_id", "ts_us", "event_id", "event_type")

  val eventTransitionsSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id, event_type
      |  FROM events
      |), p AS (
      |  SELECT COALESCE(lag(event_type) OVER (PARTITION BY user_id
      |           ORDER BY ts_us, event_id), 'START') AS from_type,
      |         event_type AS to_type
      |  FROM e)
      |SELECT from_type, to_type, COUNT(*) AS n
      |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // --- B36: interval-union coverage ----------------------------------------
  /** Activity half-life: each event opens a 15-minute presence interval. */
  val CoverageWindowUs = 900000000L

  /** Per-user "active time": the total length of the UNION of the per-event
    * presence intervals — the classic interval-merge (gaps-and-islands on
    * ranges) problem, solved with ONE user-key shuffle: a running max of
    * interval ends splits islands, a cumulative flag numbers them, and the
    * per-island span aggregates up. All event-time arithmetic is integer
    * microseconds, so both engines agree exactly. */
  def intervalCoverageOn(events: DataFrame, keyCol: String, tsUsCol: String,
      seqCol: String, windowUs: Long): DataFrame =
    coverageBoardOn(mergedIslandsOn(events
      .select(col(keyCol).as("user_id"), col(tsUsCol).as("s_us"),
        (col(tsUsCol) + windowUs).as("e_us"), col(seqCol).as("seq"))))

  /** The interval-union sweep over ANY (user_id, s_us, e_us, seq) frame:
    * merge overlapping-or-touching intervals into maximal islands — ONE
    * user-key exchange carries the running-max split, the cumulative
    * island numbering, and the per-island span agg. Interval union is a
    * SEMILATTICE (associative, commutative, idempotent), so re-sweeping
    * pre-merged islands yields the same islands as sweeping the raw
    * intervals — the law that makes the B121 stream twin's per-batch
    * island partials drain to exactly the batch board. */
  def mergedIslandsOn(intervals: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("s_us"), col("seq"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    intervals
      .withColumn("_prev_max_end", max(col("e_us")).over(wPrev))
      .withColumn("_new_island",
        when(col("_prev_max_end").isNull ||
          col("s_us") > col("_prev_max_end"), 1).otherwise(0))
      .withColumn("island", sum(col("_new_island")).over(wRun))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("s_us")).as("s_us"), max(col("e_us")).as("e_us"))
      .select(col("user_id"), col("s_us"), col("e_us"))
  }

  /** B36/B121 read tail: per-user island count + covered span from the
    * merged islands. */
  def coverageBoardOn(islands: DataFrame): DataFrame =
    islands
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("int").as("n_islands"),
        sum(col("e_us") - col("s_us")).as("covered_us"))
      .orderBy(col("user_id"))

  def intervalCoverage(spark: SparkSession, dir: String): DataFrame =
    intervalCoverageOn(Tables(spark, dir).events
        .withColumn("ts_us", unix_micros(col("ts"))),
      "user_id", "ts_us", "event_id", CoverageWindowUs)

  val intervalCoverageSql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
       |         epoch_ns(ts) // 1000 + $CoverageWindowUs AS end_us
       |  FROM events
       |), f AS (
       |  SELECT user_id, ts_us, end_us, event_id,
       |    CASE WHEN max(end_us) OVER (PARTITION BY user_id
       |           ORDER BY ts_us, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |           OR ts_us > max(end_us) OVER (PARTITION BY user_id
       |           ORDER BY ts_us, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |         THEN 1 ELSE 0 END AS new_island
       |  FROM e
       |), g AS (
       |  SELECT user_id, ts_us, end_us,
       |    SUM(new_island) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |  FROM f
       |), isl AS (
       |  SELECT user_id, island, MIN(ts_us) AS s, MAX(end_us) AS e
       |  FROM g GROUP BY 1, 2)
       |SELECT user_id, CAST(COUNT(*) AS INT) AS n_islands,
       |  CAST(SUM(e - s) AS BIGINT) AS covered_us
       |FROM isl GROUP BY 1 ORDER BY 1""".stripMargin

  // --- B37: incremental distinct maintenance via mergeable HLL sketches ----
  /** Cross-batch distinct-user maintenance WITHOUT rescanning history:
    * one DataSketches HLL sketch per day (`hll_sketch_agg` — the same
    * mergeable-partial discipline as B25's view and C27's bloom), stored
    * with the day's partition; "distinct users ever" is then a UNION of
    * the stored sketches (`hll_union_agg`), never a re-scan. HLL register
    * updates are max-merges, so the union of the daily sketches is
    * BIT-IDENTICAL to a single-pass sketch of the whole stream — the
    * property the spec pins (plus a ≤5% error bound vs the exact count).
    * Rows-only for the driver: the estimate is sketch-implementation-
    * defined, so no cross-engine oracle exists by design. */
  def distinctIncremental(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val daily = ev.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily.agg(
      count(lit(1)).as("n_days"),
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_users_est"))
    val direct = ev.agg(
      hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("n_users_direct"),
      countDistinct(col("user_id")).as("n_users_exact"))
    merged.crossJoin(direct)
      .select(col("n_days"), col("n_users_est"), col("n_users_direct"),
        col("n_users_exact"))
  }

  // --- B122: KMV distinct sketches with SET ALGEBRA -------------------------
  /** Sketch size: the k in k-minimum-values. 128 keeps every integer
    * product below 2^63 ((k−1)·2^48 ≈ 3.6e16; n_common·est ≤ 128·2^48)
    * while the relative error ≈ 1/√(k−2) ≈ 9% — the audit-grade regime
    * the spec pins. */
  val KmvK = 128
  /** (k−1)·|hash domain| — the KMV estimator numerator, exact in Long. */
  val KmvEstNum: Long = (KmvK - 1).toLong << 48

  /** Per-segment KMV (k-minimum-values / bottom-k theta) sketch: the k
    * SMALLEST distinct 48-bit hashes of the member key, ascending — the
    * distinct-count sketch that, unlike B37's HLL, supports set ALGEBRA:
    * a union sketch is the bottom-k of the merged value sets, and
    * intersections estimate from matches under the union threshold
    * (Bar-Yossef et al. 2002; the Theta-sketch framework's fixed-k
    * special case). Engine-portable by the same md5-prefix discipline as
    * C2's MinHash: 12 hex chars = 48 bits, exact in BIGINT and double.
    *
    * Scale shape: one (segment, hash) distinct partial agg (map-side
    * combine shrinks each partition to its distinct hashes), then the
    * k-BOUNDED TopKByScore agg — partitions carry at most k values per
    * segment, heaps merge associatively, and no per-segment sort of the
    * full member set ever happens. The sketch table is O(segments · k)
    * rows — driver-safe at any corpus size. */
  def kmvSketchesOn(events: DataFrame, segCol: String,
      memberCol: String): DataFrame =
    bottomKOn(events
      .select(col(segCol).as("t"),
        conv(substring(md5(concat(col(memberCol).cast("string"),
          lit(":kmv"))), 1, 12), 16, 10).cast("long").as("h")))

  /** The bottom-k core over ANY (t, h) hash feed — split out because it
    * is ALSO the merge: re-sketching exploded stored sketches re-slices
    * their union (the semilattice law ThetaSketchSpec pins), which is
    * how the B123 stream twin folds per-batch sketch partials. */
  def bottomKOn(th: DataFrame): DataFrame =
    th
      .groupBy(col("t"), col("h")).agg(count(lit(1)).as("_n"))
      .groupBy(col("t"))
      .agg(graft.functions.topk.top_k_by_score(
        (lit(0L) - col("h")).cast("double"), col("h"), KmvK).as("_tk"))
      .select(col("t"), expr("transform(_tk, x -> x.id)").as("sk"))

  /** KMV estimate from an ascending bottom-k array: exact size below k
    * (the sketch saw every value), else (k−1)·D div θ where θ is the
    * k-th smallest hash — integer floor arithmetic both engines compute
    * identically. `greatest(θ, 1)` closes the measure-zero θ=0 case
    * (an all-zero md5 prefix) identically on both sides. */
  private def kmvEst(sk: String): Column =
    expr(s"CASE WHEN size($sk) < $KmvK THEN CAST(size($sk) AS BIGINT) " +
      s"ELSE $KmvEstNum div greatest(element_at($sk, $KmvK), 1L) END")

  /** B122 `distinct_theta_ops`: distinct-user set algebra across event
    * segments — per segment pair, estimated |A|, |B|, |A∪B| and |A∩B|
    * from the KMV sketches alone. The intersection is the capability HLL
    * (B37) structurally lacks: bottom-k sketches of A and B re-merge to
    * the bottom-k of A∪B (set union then re-slice — the semilattice law
    * the spec pins), and |A∩B| ≈ ρ·|A∪B| where ρ = (matches under the
    * union threshold)/k; when the union sketch is not full it holds the
    * ENTIRE hash set and the counts are exact, so small segments degrade
    * to exact answers by construction.
    *
    * Scale: the pair board is an O(segments²) nested-loop over an
    * O(segments·k) sketch table (crossJoinByDesign — segments are a
    * dimension, not data); the corpus is touched ONCE by the sketch
    * pass. At 100 TB the sketches persist per partition/day and any
    * cross-segment overlap question answers from the boards alone. */
  def distinctThetaOps(spark: SparkSession, dir: String): DataFrame =
    thetaPairBoardOn(
      kmvSketchesOn(Tables(spark, dir).events, "event_type", "user_id"))

  /** The pair-algebra tail over ANY (t, sk) sketch table — split out so
    * the spec can drive seeded segment sets through the EXACT production
    * estimator arithmetic. */
  def thetaPairBoardOn(sketches: DataFrame): DataFrame = {
    val a = sketches.select(col("t").as("type_a"), col("sk").as("ska"))
    val b = sketches.select(col("t").as("type_b"), col("sk").as("skb"))
    a.join(b, col("type_a") < col("type_b"))
      .withColumn("sku",
        expr(s"slice(array_sort(array_union(ska, skb)), 1, $KmvK)"))
      .withColumn("n_common", expr(
        "CAST(size(array_intersect(array_intersect(sku, ska), skb)) AS BIGINT)"))
      .withColumn("est_a", kmvEst("ska"))
      .withColumn("est_b", kmvEst("skb"))
      .withColumn("est_union", kmvEst("sku"))
      .withColumn("est_intersect", expr(
        s"CASE WHEN size(sku) < $KmvK THEN n_common " +
        s"ELSE n_common * est_union div $KmvK END"))
      .select(col("type_a"), col("type_b"), col("est_a"), col("est_b"),
        col("est_union"), col("est_intersect"), col("n_common"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Twin: the same bottom-k + estimator arithmetic in DuckDB list
    * algebra — every step integer-exact, so the key is HASH-checked,
    * not rows-only (the reason KMV was picked over HLL for the algebra
    * row: HLL estimates are implementation-defined, KMV estimates are
    * pure integer functions of md5). */
  val distinctThetaOpsSql: String =
    s"""WITH h AS (
       |  SELECT DISTINCT event_type AS t,
       |    CAST(list_sum(list_transform(range(1, 13),
       |      i -> (strpos('0123456789abcdef', substr(m, i, 1)) - 1)::BIGINT
       |           << (4 * (12 - i)))) AS BIGINT) AS h
       |  FROM (SELECT event_type,
       |          md5(CAST(user_id AS VARCHAR) || ':kmv') AS m FROM events)
       |), sk AS (
       |  SELECT t, (list(h ORDER BY h))[1:$KmvK] AS sk FROM h GROUP BY t
       |), pr AS (
       |  SELECT a.t AS type_a, b.t AS type_b, a.sk AS ska, b.sk AS skb,
       |    list_sort(list_distinct(a.sk || b.sk))[1:$KmvK] AS sku
       |  FROM sk a JOIN sk b ON a.t < b.t
       |), est AS (
       |  SELECT type_a, type_b,
       |    CASE WHEN len(ska) < $KmvK THEN len(ska)::BIGINT
       |         ELSE $KmvEstNum // greatest(ska[$KmvK], 1) END AS est_a,
       |    CASE WHEN len(skb) < $KmvK THEN len(skb)::BIGINT
       |         ELSE $KmvEstNum // greatest(skb[$KmvK], 1) END AS est_b,
       |    CASE WHEN len(sku) < $KmvK THEN len(sku)::BIGINT
       |         ELSE $KmvEstNum // greatest(sku[$KmvK], 1) END AS est_union,
       |    len(list_filter(sku, x -> list_contains(ska, x)
       |        AND list_contains(skb, x)))::BIGINT AS n_common,
       |    len(sku) AS n_sku
       |  FROM pr
       |)
       |SELECT type_a, type_b, est_a, est_b, est_union,
       |  CASE WHEN n_sku < $KmvK THEN n_common
       |       ELSE n_common * est_union // $KmvK END AS est_intersect,
       |  n_common
       |FROM est ORDER BY type_a, type_b""".stripMargin

  // --- B57: mergeable per-day quantile sketches ----------------------------
  /** Cross-batch QUANTILE maintenance without rescanning history — the
    * percentile analogue of B37's HLL: per day the value stream collapses
    * to an O(buckets) log-histogram sketch; "p99 ever" is then a UNION of
    * the stored daily sketches (bucket counts ADD — exactly order-free,
    * unlike t-digest whose merge is order-dependent), never a re-scan.
    *
    * The sketch is an integer HDR/DDSketch-style mapping (Masson et al.,
    * VLDB'19, in exact-integer form): values quantize to cents, buckets
    * are identity below 2^6 and 2^[[QsSub]]-way linear sub-buckets per
    * power-of-2 range above it — a pure integer CASE both engines compute
    * bit-identically, so unlike every floating sketch this one is
    * HASH-CHECKED against the oracle, not rows-only. Quantile estimates
    * report the bucket's lower bound: relative error ≤ 2^-[[QsSub]]
    * (≈3.1%), the bound the spec pins against exact percentiles.
    *
    * Scale shape: one (day, bucket) partial agg (the stored state), one
    * O(buckets) merge agg, inversion windows over the O(buckets) board
    * only. At 100 TB the raw stream is touched once per day, ever. */
  val QsSub = 5 // sub-bucket bits → relative error ≤ 2^-5
  /** Quantile targets as exact integer ranks: rank = ⌈n·num/den⌉. */
  val QsTargets: Seq[(String, Long, Long)] =
    Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p95", 19L, 20L), ("p99", 99L, 100L))

  /** Generated bucket mapping (top-of-range first; ELSE = identity region).
    * Shared generator so the Spark expression and the DuckDB oracle carry
    * the SAME case tree. */
  private[operators] def qsBucketCase(v: String,
      shift: (String, Int) => String): String = {
    val top = s"WHEN $v >= ${1L << 57} THEN ${52L * 64} + ${shift(v, 52)}"
    val mids = (56 to 6 by -1).map { i =>
      val k = i - QsSub
      s"WHEN $v >= ${1L << i} THEN ${k.toLong * 64} + ${shift(v, k)}"
    }
    (Seq(top) ++ mids).mkString("CASE ", " ", s" ELSE $v END")
  }

  /** Inverse: bucket → its lower-bound value in cents (exact). */
  private def qsLowerCase(b: String): String = {
    val whens = (52 to 1 by -1).map { k =>
      s"WHEN $b >= ${k.toLong * 64} THEN ($b - ${k.toLong * 64}) * ${1L << k}"
    }
    whens.mkString("CASE ", " ", s" ELSE $b END")
  }

  /** The per-day stored sketch state — O(days × buckets) counter rows.
    * Split out so the B57 streaming drain can maintain EXACTLY this
    * aggregation as its state store (the B52/B54 discipline) and feed the
    * same rollup. */
  def quantileDailyAggOn(events: DataFrame): DataFrame = {
    val bCase = qsBucketCase("v", (x, k) => s"shiftright($x, $k)")
    events.select(to_date(col("ts")).as("day"),
      greatest(floor(col("value") * 100.0).cast("bigint"), lit(0L)).as("v"))
      .withColumn("bucket", expr(bCase))
      .groupBy(col("day"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  def quantileSketchOn(events: DataFrame): DataFrame =
    quantileSketchOf(quantileDailyAggOn(events))

  /** Rollup from stored daily sketches to the quantile board — everything
    * here is O(buckets), never the raw stream. */
  def quantileSketchOf(daily: DataFrame): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    // "ever" = union of the stored sketches (counts add; no raw rescan)
    val merged = daily.groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt"))
    // running total AND grand total ride ONE WindowExec (same pinned
    // one-bucket O(buckets)-row exchange, different frames) — a separate
    // totals aggregation would cost its own exchange + broadcast back
    val w = Window.partitionBy(BoundedBoard.pinnedZero(col("bucket")))
      .orderBy(col("bucket"))
    val cum = merged
      .withColumn("cum", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_events", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val targets = QsTargets.toDF("q_label", "num", "den")
    cum.crossJoin(broadcast(targets))
      .filter(col("cum") >= expr("(n_events * num + den - 1) div den"))
      .groupBy(col("q_label"))
      .agg(min(col("n_events")).as("n_events"), min(col("bucket")).as("b"))
      .select(col("q_label"), col("n_events"),
        expr(qsLowerCase("b")).as("est_cents"))
      .withColumn("est_value", col("est_cents").cast("double") / 100.0)
      .orderBy(col("q_label"))
  }

  def quantileSketch(spark: SparkSession, dir: String): DataFrame =
    quantileSketchOn(Tables(spark, dir).events)

  val quantileSketchSql: String = {
    val bCase = qsBucketCase("v", (x, k) => s"($x >> $k)")
    val values = QsTargets
      .map { case (l, n, d) => s"('$l', $n, $d)" }.mkString(", ")
    s"""WITH ev AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |         GREATEST(CAST(floor(value * 100.0) AS BIGINT), 0) AS v
       |  FROM events
       |), b AS (SELECT day, $bCase AS bucket FROM ev),
       |daily AS (SELECT day, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
       |merged AS (SELECT bucket, SUM(cnt) AS cnt FROM daily GROUP BY 1),
       |cum AS (
       |  SELECT bucket, SUM(cnt) OVER (ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM merged),
       |totals AS (SELECT SUM(cnt) AS n_events FROM merged),
       |targets(q_label, num, den) AS (VALUES $values),
       |hit AS (
       |  SELECT q_label, MIN(n_events) AS n_events, MIN(bucket) AS b
       |  FROM cum CROSS JOIN totals CROSS JOIN targets
       |  WHERE cum >= (n_events * num + den - 1) // den
       |  GROUP BY 1)
       |SELECT q_label, CAST(n_events AS BIGINT) AS n_events,
       |  CAST(${qsLowerCase("b")} AS BIGINT) AS est_cents,
       |  CAST(${qsLowerCase("b")} AS DOUBLE) / 100.0 AS est_value
       |FROM hit ORDER BY q_label""".stripMargin
  }

  // --- B101: CUSUM changepoint board -----------------------------------------
  /** Offline changepoint detection per series — the level-shift locator a
    * metrics team runs AFTER B23's outlier gate clears point anomalies
    * (a regime change is not an outlier: every post-shift day is "normal"
    * for the new level). Statistic: the classic CUSUM split
    * D_t = n·P_t − t·S (P_t = prefix sum, S = series total) — the
    * max-|D_t| day is the boundary that best separates the two means
    * (Page 1954's cumulative-sum test, spelled division-free so the
    * whole search stays in EXACT integer arithmetic: d_stat is
    * n·ΣᵗX − t·ΣX in micro-units, decimal(38,0), no float drift can
    * move the argmax). Ties break to the earliest day; t ranges over
    * 1..n−1 (a "change after the last day" is no change). mean_before /
    * mean_after are one IEEE division chain over the exact integers.
    *
    * Scale shape: events shrink to O(groups × days) in ONE partial-agg
    * exchange; the prefix/total/argmax windows all ride a single
    * group-key exchange (same partitioning, one sort each); the board
    * is O(groups). At 100 TB the daily rollup is the only corpus-sized
    * stage. */
  def changepointCusumOn(events: DataFrame, typeCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val guarded = Exact.guardedLong("changepoint_cusum") _
    // exact micro-units in DECIMAL through the windows: a raw BIGINT
    // window sum would WRAP silently in non-ANSI Spark while the DuckDB
    // twin's HUGEINT errors loudly — the engines must fail the same way
    // (r13 session-2 self-review finding; every overflow below surfaces
    // through Exact's guarded cast, never as a silent null or wrap)
    val daily = events
      .groupBy(col(typeCol).as("grp"), to_date(col(tsCol)).as("d"))
      .agg(Olap.exactSum(col(valueCol), 6).as("_v"))
      .select(col("grp"), col("d"),
        Exact.guardedMicro("changepoint_cusum")(col("_v") * 1000000,
          "daily micro total").as("v"))
    val ord = Window.partitionBy(col("grp")).orderBy(col("d"))
    val all = Window.partitionBy(col("grp"))
    val cum = daily
      .withColumn("p", guarded(sum(col("v")).over(ord), "prefix sum"))
      .withColumn("t", row_number().over(ord))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("s", guarded(sum(col("v")).over(all), "series total"))
    val dstat = cum.filter(col("t") < col("n"))
      .withColumn("dval",
        (col("n").cast("decimal(10,0)") * col("p").cast("decimal(19,0)") -
          col("t").cast("decimal(10,0)") * col("s").cast("decimal(19,0)"))
          .cast("decimal(38,0)"))
    val rk = Window.partitionBy(col("grp"))
      .orderBy(abs(col("dval")).desc, col("d"))
    dstat.withColumn("rk", row_number().over(rk))
      .filter(col("rk") === 1)
      .select(col("grp").as("event_type"), col("n").as("n_days"),
        col("d").as("change_day"),
        // emit the canonical digit string: d_stat is SIGNED (direction of
        // the shift) so a mod-fold would lose information, and a raw
        // DECIMAL(38,0) column fails the driver hash (r13 regression);
        // scale-0 decimals print identically in both engines (no
        // scientific notation at scale 0, sign prefix identical). The
        // argmax ordering above stays on the exact internal decimal.
        col("dval").cast("string").as("d_stat"),
        (col("p").cast("double") / col("t").cast("double") / 1000000.0)
          .as("mean_before"),
        ((col("s").cast("double") - col("p").cast("double")) /
          (col("n").cast("double") - col("t").cast("double")) / 1000000.0)
          .as("mean_after"))
      .orderBy(col("event_type"))
  }

  def changepointCusum(spark: SparkSession, dir: String): DataFrame =
    changepointCusumOn(Tables(spark, dir).events, "event_type", "ts",
      "value")

  /** Twin: the same daily micro rollup, division-free D statistic, and
    * earliest-day tie-break. */
  val changepointCusumSql: String =
    """WITH daily AS (
      |  SELECT event_type AS grp, CAST(ts AS DATE) AS d,
      |    CAST(SUM(CAST(value AS DECIMAL(25,6))) * 1000000
      |      AS DECIMAL(18,0)) AS v
      |  FROM events GROUP BY 1, 2
      |), cum AS (
      |  SELECT grp, d,
      |    CAST(SUM(v) OVER (PARTITION BY grp ORDER BY d) AS BIGINT) AS p,
      |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY d) AS t,
      |    COUNT(*) OVER (PARTITION BY grp) AS n,
      |    CAST(SUM(v) OVER (PARTITION BY grp) AS BIGINT) AS s
      |  FROM daily
      |), dstat AS (
      |  SELECT grp, d, t, n, p, s,
      |    CAST(CAST(n AS DECIMAL(10,0)) * CAST(p AS DECIMAL(19,0))
      |      - CAST(t AS DECIMAL(10,0)) * CAST(s AS DECIMAL(19,0))
      |      AS DECIMAL(38,0)) AS dval
      |  FROM cum WHERE t < n
      |), ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
      |    ORDER BY ABS(dval) DESC, d) AS rk
      |  FROM dstat)
      |SELECT grp AS event_type, CAST(n AS BIGINT) AS n_days,
      |  d AS change_day, CAST(dval AS VARCHAR) AS d_stat,
      |  CAST(p AS DOUBLE) / CAST(t AS DOUBLE) / 1000000.0 AS mean_before,
      |  (CAST(s AS DOUBLE) - CAST(p AS DOUBLE))
      |    / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE)) / 1000000.0
      |    AS mean_after
      |FROM ranked WHERE rk = 1 ORDER BY event_type""".stripMargin

  // --- B102: autocorrelation board --------------------------------------------
  /** Max lag for B102 — one week of observation-index lags. */
  val AcfMaxLag = 7

  /** Autocorrelation function per series at lags 1..[[AcfMaxLag]] — the
    * seasonality detector that DECIDES B96's season length instead of
    * assuming it (a peak at lag 7 ⇒ weekly; flat ⇒ snaive has no edge).
    * Lags are observation-index lags over the day-ordered series
    * (declared: a calendar gap advances one index step); daily totals
    * quantize to whole units via floor (B84's discipline). Every
    * sufficient statistic — Σx_t·x_{t+k}, the head/tail sums, the global
    * Σx, Σx² — is an EXACT integer (guarded BIGINT casts: overflow
    * surfaces loudly, never as a silent null); each r_k then evaluates
    * the textbook estimator r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)²,
    * cleared of divisions by n², as ONE identical IEEE tree over the
    * int64-exact doubles in both engines (int64→double conversion is
    * deterministic; wide-decimal→double is not — the reason the stats
    * pass through BIGINT).
    *
    * Scale shape: the corpus-sized stage is the daily rollup; the lag
    * pairs come from a co-partitioned (group, index) self-join of the
    * O(groups × days) board (map-side ×[[AcfMaxLag]] explode, not a
    * window per lag); the per-(group, lag) rollup and the broadcast of
    * the O(groups) stats board ride small frames. */
  def acfLagsOn(events: DataFrame, typeCol: String, tsCol: String,
      valueCol: String, maxLag: Int = AcfMaxLag): DataFrame = {
    val guarded = Exact.guardedLong("acf_lags") _
    val daily = events
      .groupBy(col(typeCol).as("grp"), to_date(col(tsCol)).as("d"))
      .agg(Olap.exactSum(col(valueCol), 6).as("_v"))
      .select(col("grp"), col("d"),
        Exact.guardedMicro("acf_lags")(floor(col("_v")), "daily total")
          .as("v"))
    val ord = Window.partitionBy(col("grp")).orderBy(col("d"))
    // the O(groups × days) indexed board is consumed three times (stats,
    // lag side, base side) — truncate so the corpus rollup runs ONCE
    // (B84's checkpoint discipline)
    val idx = daily.withColumn("t", row_number().over(ord))
      .select(col("grp"), col("t"), col("v"))
      .localCheckpoint(eager = true)
    // asymmetric (19,0)×(18,0) products stay inside both engines'
    // 38-digit exact-decimal multiply before the guarded BIGINT cast
    val stats = idx.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("_s"),
        sum(col("v").cast("decimal(19,0)") * col("v")).as("_s2"))
      .select(col("grp"), col("n"), guarded(col("_s"), "sum(x)").as("s"),
        guarded(col("_s2"), "sum(x*x)").as("s2"))
    val lagged = idx
      .select(col("grp"), explode(sequence(lit(1), lit(maxLag))).as("k"),
        col("t"), col("v"))
      .select(col("grp"), col("k"), (col("t") + col("k")).as("t"),
        col("v").as("x"))
    val pairs = lagged
      .join(idx.select(col("grp"), col("t"), col("v").as("y")),
        Seq("grp", "t"))
    val agg = pairs.groupBy(col("grp"), col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x").cast("decimal(19,0)") * col("y")).as("_sxy"),
        sum(col("x")).as("_sh"), sum(col("y")).as("_st"))
      .select(col("grp"), col("k"), col("n_pairs"),
        guarded(col("_sxy"), "sum(x*y)").as("sxy"),
        guarded(col("_sh"), "head sum").as("sh"),
        guarded(col("_st"), "tail sum").as("st"))
    val nD = col("n").cast("double")
    val sD = col("s").cast("double")
    val den = nD * nD * col("s2").cast("double") - nD * sD * sD
    agg.join(broadcast(stats), "grp")
      .select(col("grp").as("event_type"), col("k").cast("int").as("lag"),
        col("n_pairs"), col("sxy"),
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(
            (nD * nD * col("sxy").cast("double")
              - nD * sD * (col("sh").cast("double") + col("st").cast("double"))
              + col("n_pairs").cast("double") * sD * sD) / den)
          .as("acf"))
      .orderBy(col("event_type"), col("lag"))
  }

  def acfLags(spark: SparkSession, dir: String): DataFrame =
    acfLagsOn(Tables(spark, dir).events, "event_type", "ts", "value")

  /** Twin: the same exact-integer sums and the same IEEE estimator tree. */
  val acfLagsSql: String =
    s"""WITH daily AS (
       |  SELECT event_type AS grp, CAST(ts AS DATE) AS d,
       |    CAST(FLOOR(SUM(CAST(value AS DECIMAL(25,6))))
       |      AS DECIMAL(18,0)) AS v
       |  FROM events GROUP BY 1, 2
       |), idx AS (
       |  SELECT grp, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY d) AS t, v
       |  FROM daily
       |), stats AS (
       |  SELECT grp, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s,
       |    CAST(SUM(CAST(v AS DECIMAL(19,0)) * v) AS BIGINT) AS s2
       |  FROM idx GROUP BY grp
       |), pairs AS (
       |  SELECT a.grp, k.k, a.v AS x, b.v AS y
       |  FROM idx a JOIN range(1, ${AcfMaxLag + 1}) k(k) ON TRUE
       |  JOIN idx b ON b.grp = a.grp AND b.t = a.t + k.k
       |), agg AS (
       |  SELECT grp, k, COUNT(*) AS n_pairs,
       |    CAST(SUM(CAST(x AS DECIMAL(19,0)) * y) AS BIGINT) AS sxy,
       |    CAST(SUM(x) AS BIGINT) AS sh, CAST(SUM(y) AS BIGINT) AS st
       |  FROM pairs GROUP BY grp, k)
       |SELECT a.grp AS event_type, CAST(a.k AS INTEGER) AS lag,
       |  CAST(a.n_pairs AS BIGINT) AS n_pairs, a.sxy,
       |  CASE WHEN CAST(s.n AS DOUBLE) * CAST(s.n AS DOUBLE)
       |        * CAST(s.s2 AS DOUBLE)
       |      - CAST(s.n AS DOUBLE) * CAST(s.s AS DOUBLE)
       |        * CAST(s.s AS DOUBLE) = 0.0 THEN NULL
       |    ELSE (CAST(s.n AS DOUBLE) * CAST(s.n AS DOUBLE)
       |        * CAST(a.sxy AS DOUBLE)
       |      - CAST(s.n AS DOUBLE) * CAST(s.s AS DOUBLE)
       |        * (CAST(a.sh AS DOUBLE) + CAST(a.st AS DOUBLE))
       |      + CAST(a.n_pairs AS DOUBLE) * CAST(s.s AS DOUBLE)
       |        * CAST(s.s AS DOUBLE))
       |    / (CAST(s.n AS DOUBLE) * CAST(s.n AS DOUBLE)
       |        * CAST(s.s2 AS DOUBLE)
       |      - CAST(s.n AS DOUBLE) * CAST(s.s AS DOUBLE)
       |        * CAST(s.s AS DOUBLE))
       |  END AS acf
       |FROM agg a JOIN stats s ON s.grp = a.grp
       |ORDER BY event_type, lag""".stripMargin

  // --- B134: cross-correlation lead-lag board ---------------------------------
  /** Lag window for B134 — ±7 days, the weekly horizon B106 probes. */
  val CcfMaxLag = 7

  /** Cross-correlation lead-lag board — the PAIRWISE complement of
    * B106's ACF ("does checkout lag browse by two days?"): for every
    * ORDERED pair of distinct series and every lag k ∈ −L..L, the
    * Pearson correlation between a(d) and b(d+k) over their CALENDAR
    * overlap (date arithmetic, not row offsets — B96's
    * gap-safety discipline), from exact micro-integer sufficient sums
    * (n, Σx, Σy, Σx², Σy², Σxy as guarded BIGINTs; one IEEE chain at
    * the end, factor-wise non-positive variance → NULL under the
    * identical predicate both engines).
    *
    * Scale shape: the corpus shrinks to the O(series × days) daily
    * board once; the lag explode is map-side ×(2L+1); the pair join is
    * date-keyed; the output is O(series² × lags) — board-sized. */
  def ccfLeadLagOn(events: DataFrame, typeCol: String, tsCol: String,
      valueCol: String, maxLag: Int = CcfMaxLag): DataFrame = {
    val guarded = Exact.guardedLong("ccf_leadlag") _
    val daily = events
      .groupBy(col(typeCol).as("grp"), to_date(col(tsCol)).as("d"))
      .agg(Olap.exactSum(col(valueCol), 6).as("_v"))
      .select(col("grp"), col("d"),
        Exact.guardedMicro("ccf_leadlag")(floor(col("_v")), "daily total")
          .as("v"))
      .localCheckpoint(eager = true) // consumed by both pair sides
    val aSide = daily
      .select(col("grp").as("type_a"),
        explode(sequence(lit(-maxLag), lit(maxLag))).as("k"),
        col("d"), col("v").as("x"))
      .select(col("type_a"), col("k"),
        expr("date_add(d, k)").as("d"), col("x"))
    val agg = aSide
      .join(daily.select(col("grp").as("type_b"), col("d"),
        col("v").as("y")), Seq("d"))
      .filter(col("type_a") =!= col("type_b"))
      .groupBy(col("type_a"), col("type_b"), col("k"))
      .agg(count(lit(1)).as("n_days"),
        guarded(sum(col("x")), "sum(x)").as("sx"),
        guarded(sum(col("y")), "sum(y)").as("sy"),
        guarded(sum(col("x").cast("decimal(19,0)") * col("x")),
          "sum(x*x)").as("sx2"),
        guarded(sum(col("y").cast("decimal(19,0)") * col("y")),
          "sum(y*y)").as("sy2"),
        guarded(sum(col("x").cast("decimal(19,0)") * col("y")),
          "sum(x*y)").as("sxy"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val nD = d(col("n_days"))
    val denx = nD * d(col("sx2")) - d(col("sx")) * d(col("sx"))
    val deny = nD * d(col("sy2")) - d(col("sy")) * d(col("sy"))
    agg.select(col("type_a"), col("type_b"), col("k").cast("int").as("lag"),
        col("n_days"),
        when(denx <= 0.0 || deny <= 0.0, lit(null).cast("double"))
          .otherwise((nD * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
            sqrt(denx * deny))
          .as("ccf"))
      .orderBy(col("type_a"), col("type_b"), col("lag"))
  }

  def ccfLeadLag(spark: SparkSession, dir: String): DataFrame =
    ccfLeadLagOn(Tables(spark, dir).events, "event_type", "ts", "value")

  /** Twin: the same exact sums and the identical Pearson tree. */
  val ccfLeadLagSql: String = {
    def dd(s: String) = s"CAST($s AS DOUBLE)"
    val denx = s"(${dd("n_days")} * ${dd("sx2")} - ${dd("sx")} * ${dd("sx")})"
    val deny = s"(${dd("n_days")} * ${dd("sy2")} - ${dd("sy")} * ${dd("sy")})"
    s"""WITH daily AS (
       |  SELECT event_type AS grp, CAST(ts AS DATE) AS d,
       |    CAST(FLOOR(SUM(CAST(value AS DECIMAL(25,6))))
       |      AS DECIMAL(18,0)) AS v
       |  FROM events GROUP BY 1, 2
       |), agg AS (
       |  SELECT a.grp AS type_a, b.grp AS type_b, k.k,
       |    COUNT(*) AS n_days,
       |    CAST(SUM(a.v) AS BIGINT) AS sx,
       |    CAST(SUM(b.v) AS BIGINT) AS sy,
       |    CAST(SUM(CAST(a.v AS DECIMAL(19,0)) * a.v) AS BIGINT) AS sx2,
       |    CAST(SUM(CAST(b.v AS DECIMAL(19,0)) * b.v) AS BIGINT) AS sy2,
       |    CAST(SUM(CAST(a.v AS DECIMAL(19,0)) * b.v) AS BIGINT) AS sxy
       |  FROM daily a
       |  JOIN range(${-CcfMaxLag}, ${CcfMaxLag + 1}) k(k) ON TRUE
       |  JOIN daily b ON b.grp <> a.grp
       |    AND b.d = a.d + CAST(k.k AS INTEGER)
       |  GROUP BY 1, 2, 3)
       |SELECT type_a, type_b, CAST(k AS INTEGER) AS lag, n_days,
       |  CASE WHEN $denx <= 0.0 OR $deny <= 0.0 THEN NULL
       |    ELSE (${dd("n_days")} * ${dd("sxy")} - ${dd("sx")} * ${dd("sy")})
       |      / sqrt($denx * $deny)
       |  END AS ccf
       |FROM agg
       |ORDER BY type_a, type_b, lag""".stripMargin
  }

  // --- B110: centered-MA seasonal detrend ---------------------------------------
  /** Centered moving-average width for B110 (one week, 3 days each side). */
  val DetrendWindow = 7

  /** Classical-decomposition detrend — the step BETWEEN B102 (which
    * detects a season) and B96 (which scores a seasonal forecast): per
    * series, the centered 7-day moving-average trend and the detrended
    * residual, both in EXACT micro-integers cleared of the /7 division
    * (trend_x7 = Σ window, detrended_x7 = 7·v − Σ window — no rounding
    * can drift between engines; the display trend is one IEEE chain over
    * the guarded BIGINT, never a wide-decimal cast). Edge days without a
    * full window emit null trend (the classical-decomposition
    * convention). Windows are observation-index windows over the
    * day-ordered series (B102's declared convention).
    *
    * Scale shape: the corpus-sized stage is the daily rollup; the
    * centered window rides ONE group-key exchange over the O(groups ×
    * days) board. */
  def seasonalDetrendOn(events: DataFrame, typeCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val guarded = Exact.guardedLong("seasonal_detrend") _
    val daily = events
      .groupBy(col(typeCol).as("grp"), to_date(col(tsCol)).as("d"))
      .agg(Olap.exactSum(col(valueCol), 6).as("_v"))
      .select(col("grp"), col("d"),
        Exact.guardedMicro("seasonal_detrend")(col("_v") * 1000000,
          "daily micro total").as("v"))
    val half = DetrendWindow / 2
    val w = Window.partitionBy(col("grp")).orderBy(col("d"))
      .rowsBetween(-half, half)
    daily
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("t7", sum(col("v")).over(w))
      .select(col("grp").as("event_type"), col("d").as("day"),
        guarded(col("v"), "v_micro").as("v_micro"),
        when(col("n_win") === DetrendWindow,
          guarded(col("t7"), "trend_x7")).as("trend_x7_micro"),
        when(col("n_win") === DetrendWindow,
          guarded(col("v") * DetrendWindow - col("t7"), "detrended_x7"))
          .as("detrended_x7_micro"))
      .withColumn("trend",
        col("trend_x7_micro").cast("double") / 7.0 / 1000000.0)
      .orderBy(col("event_type"), col("day"))
  }

  def seasonalDetrend(spark: SparkSession, dir: String): DataFrame =
    seasonalDetrendOn(Tables(spark, dir).events, "event_type", "ts",
      "value")

  /** Twin: the same micro board, centered ROWS window, full-window gate,
    * and division-cleared integers. */
  val seasonalDetrendSql: String =
    s"""WITH daily AS (
       |  SELECT event_type AS grp, CAST(ts AS DATE) AS d,
       |    CAST(SUM(CAST(value AS DECIMAL(25,6))) * 1000000
       |      AS DECIMAL(18,0)) AS v
       |  FROM events GROUP BY 1, 2
       |), win AS (
       |  SELECT grp, d, v, COUNT(*) OVER w AS n_win, SUM(v) OVER w AS t7
       |  FROM daily
       |  WINDOW w AS (PARTITION BY grp ORDER BY d
       |    ROWS BETWEEN ${DetrendWindow / 2} PRECEDING
       |    AND ${DetrendWindow / 2} FOLLOWING))
       |SELECT grp AS event_type, d AS day, CAST(v AS BIGINT) AS v_micro,
       |  CASE WHEN n_win = $DetrendWindow THEN CAST(t7 AS BIGINT) END
       |    AS trend_x7_micro,
       |  CASE WHEN n_win = $DetrendWindow
       |    THEN CAST(v * $DetrendWindow - t7 AS BIGINT) END
       |    AS detrended_x7_micro,
       |  CAST(CASE WHEN n_win = $DetrendWindow THEN CAST(t7 AS BIGINT) END
       |    AS DOUBLE) / 7.0 / 1000000.0 AS trend
       |FROM win ORDER BY event_type, day""".stripMargin

  // --- B103: top entry paths ---------------------------------------------------
  /** Path prefix length and board size for B103. */
  val PathLen = 3
  val PathTopK = 20

  /** Top-k entry journeys: each user's first [[PathLen]] events (by the
    * (ts, event_id) total order) concatenated into a path string, counted
    * across users, top [[PathTopK]] paths by (count desc, path asc) —
    * the "how do sessions start" board product analytics reads daily,
    * and the sequence complement of B34's one-step transition matrix.
    *
    * Scale shape: ONE user-key window exchange prunes each user to
    * ≤[[PathLen]] rows BEFORE the per-user path agg rides the same key;
    * the path count board is O(|event types|^len) — bounded — so its
    * rank window is a pinned single-partition board by design
    * ([[BoundedBoard.pinnedZero]]). */
  def topPathsOn(events: DataFrame, userCol: String, tsCol: String,
      tieCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col("_u")).orderBy(col("_ts"), col("_tie"))
    val first = events.select(col(userCol).as("_u"), col(tsCol).as("_ts"),
        col(tieCol).as("_tie"), col(typeCol).as("_et"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PathLen)
    val paths = first.groupBy(col("_u"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rn"), col("_et")))),
        x => x.getField("_et")), ">").as("path"))
    topPathsBoardOn(
      paths.groupBy(col("path")).agg(count(lit(1)).as("n_users")))
  }

  /** The rank-board tail over a (path, n_users) count frame — shared by
    * the batch key and the streaming twin (B108), whose drain delivers
    * the SAME counts out of per-batch settled-path partials. */
  private[graft] def topPathsBoardOn(counts: DataFrame): DataFrame =
    counts.withColumn("rank",
        row_number().over(Window.partitionBy(
            BoundedBoard.pinnedZero(col("path")))
          .orderBy(col("n_users").desc, col("path"))))
      .filter(col("rank") <= PathTopK)
      .select(col("rank").cast("long").as("rank"), col("path"),
        col("n_users"))
      .orderBy(col("rank"))

  def topPaths(spark: SparkSession, dir: String): DataFrame =
    topPathsOn(Tables(spark, dir).events, "user_id", "ts", "event_id",
      "event_type")

  /** Twin: the same (ts, event_id)-ordered prefix and tie-break. */
  val topPathsSql: String =
    s"""WITH r AS (
       |  SELECT user_id, event_type,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS rn
       |  FROM events
       |), p AS (
       |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
       |  FROM r WHERE rn <= $PathLen GROUP BY user_id
       |), c AS (SELECT path, COUNT(*) AS n_users FROM p GROUP BY path)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_users DESC, path)
       |    AS BIGINT) AS rank, path, n_users
       |FROM c ORDER BY n_users DESC, path LIMIT $PathTopK""".stripMargin

  // --- B104: k-core of the co-purchase graph -----------------------------------
  /** B104 knobs: minimum co-purchase support for an edge, the core
    * degree k, and the pinned peel-round budget (the B26/B92 discipline:
    * a bounded-iteration contract keeps the key replayable in the
    * oracle; peeling is monotone, so early exit at the fixpoint equals
    * running all rounds). */
  val KcoreSupport = 2
  val KcoreK = 3
  val KcorePeelRounds = 12

  /** k-core extraction over the part co-purchase graph — the density
    * filter community/fraud pipelines run before clustering (a k-core
    * survives iterated deletion of degree<k nodes, so it kills pendant
    * chains and stars that fool raw-degree thresholds; Seidman 1983).
    * Edges: part pairs co-ordered in ≥[[KcoreSupport]] distinct orders
    * (B91's support discipline keeps the graph sparse). Each peel round
    * recomputes in-subgraph degrees and drops nodes under [[KcoreK]];
    * output = surviving parts with their final in-core degree.
    *
    * Scale shape: per round ONE edges⋈nodes⋈nodes co-keyed join pair +
    * a node-keyed degree agg, checkpoint-truncated like B26/B92 (the
    * frontier loop never grows lineage); rounds are pinned at
    * [[KcorePeelRounds]] with early exit on the fixpoint — work is
    * O(edges × rounds-to-converge), and the node set only shrinks. */
  def kcorePartsOn(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    // the survivor seed below is schemaless — zero rounds would hand the
    // caller an opaque unresolved-column failure instead of a typed
    // empty frame (r13 ADVICE)
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    var nodes = edges.select(col("src").as("node")).distinct()
      .localCheckpoint(eager = true)
    var survivors = edges.sparkSession.emptyDataFrame
    var n = nodes.count()
    var converged = false
    var i = 0
    while (!converged && i < maxRounds) {
      // r16: the surviving node set (n rows, known exactly — the loop
      // counts it every round) broadcasts adaptively into BOTH
      // endpoint semi-filters, so a peel round is one scan of the
      // checkpointed edges + a single src-keyed agg exchange instead
      // of two two-sided sort-merge joins (localCheckpoint frames have
      // no stats, so the planner never picked broadcast by itself)
      val ns = maybeBroadcastRows(nodes, n)
      val nxt = edges
        .join(ns.select(col("node").as("src")), "src")
        .join(ns.select(col("node").as("dst")), "dst")
        .groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
        .filter(col("core_deg") >= k)
        .select(col("src").as("node"), col("core_deg"))
        .localCheckpoint(eager = true)
      val n1 = nxt.count()
      converged = n1 == n
      n = n1
      survivors = nxt
      // nxt is already checkpointed; a second eager checkpoint here
      // would materialize the survivor set twice per round (self-review)
      nodes = nxt.select(col("node"))
      i += 1
    }
    survivors
  }

  /** Support-thresholded symmetric co-purchase edges from a (basket,
    * item) frame — distinct incidences first (multiple lines of one
    * part in one order are one incidence), then the per-basket pair
    * self-join. `maxItemsPerBasket` routes through B91's top-K-by-
    * global-frequency cap ([[OlapD.capBasketItems]] — r13 verdict #4:
    * the per-basket self-join is |basket|² and must be bounded BEFORE
    * the join at an unbounded-basket deploy; rare-item pairs fall
    * under the support cut anyway). Capping only SHRINKS the edge set
    * (pair supports can only drop), and the k-core is monotone under
    * subgraphs, so the capped core is always contained in the uncapped
    * one (KcorePartsSpec pins this on a synthetic hot basket). */
  private[graft] def kcoreEdgesOn(items: DataFrame, basketCol: String,
      itemCol: String, support: Int,
      maxItemsPerBasket: Option[Int] = None): DataFrame = {
    // r16: pairs expand map-side from the sorted distinct item array
    // (OlapD.basketsGrouped — one basket-key exchange instead of the
    // distinct + self-join's three), and the symmetrize is ONE explode
    // pass (the unionAll spelling recomputed the whole pair subtree per
    // branch — guide §7.2 "duplicated subtrees")
    val pairs = OlapD.basketsGrouped(items, basketCol, itemCol,
        maxItemsPerBasket)
      .select(explode(OlapD.basketPairExpansion).as("p"))
      .groupBy(col("p.item_a").as("u"), col("p.item_b").as("v"))
      .agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= support)
    pairs.select(explode(array(
        struct(col("u").as("src"), col("v").as("dst")),
        struct(col("v").as("src"), col("u").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
  }

  /** Driver query: the co-purchase graph from lineitem,
    * support-thresholded, peeled at k=[[KcoreK]]. The gate key runs
    * UNCAPPED (order line counts are already bounded — gate-exact);
    * deploys facing unbounded baskets pass [[kcorePartsFrom]] a cap. */
  def kcoreParts(spark: SparkSession, dir: String): DataFrame =
    kcorePartsFrom(spark, dir, maxItemsPerBasket = None)

  /** B104 with the deploy-side basket cap exposed (B91's knob). */
  def kcorePartsFrom(spark: SparkSession, dir: String,
      maxItemsPerBasket: Option[Int]): DataFrame = {
    val edges = kcoreEdgesOn(
        Tables(spark, dir).lineitem.select(col("l_orderkey"),
          col("l_partkey")),
        "l_orderkey", "l_partkey", KcoreSupport, maxItemsPerBasket)
      .localCheckpoint(eager = true)
    kcorePartsOn(edges, KcoreK, KcorePeelRounds)
      .select(col("node").as("part_id"), col("core_deg"))
      .orderBy(col("part_id"))
  }

  /** Twin: the peel loop unrolled to [[KcorePeelRounds]] CTEs (the B26
    * unrolled-iteration trick); monotone peeling makes the unroll equal
    * Spark's early-exit loop. */
  val kcorePartsSql: String = {
    // MATERIALIZED is load-bearing: each round references the previous
    // one twice, so CTE inlining would expand the chain 2^rounds times
    val rounds = (1 to KcorePeelRounds).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT e.src AS node, COUNT(*) AS deg FROM e
         |  JOIN r${i - 1} a ON e.src = a.node
         |  JOIN r${i - 1} b ON e.dst = b.node
         |  GROUP BY e.src HAVING COUNT(*) >= $KcoreK)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
       |), pr AS (
       |  SELECT a.p AS u, b.p AS v, COUNT(*) AS supp
       |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $KcoreSupport
       |), e AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM pr
       |  UNION ALL SELECT v, u FROM pr
       |), r0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
       |$rounds
       |SELECT node AS part_id, CAST(deg AS BIGINT) AS core_deg
       |FROM r$KcorePeelRounds ORDER BY part_id""".stripMargin
  }

  // --- B130: label-propagation communities -----------------------------------
  /** Synchronous LPA round budget — FIXED, no early exit: synchronous
    * label propagation can 2-cycle on bipartite-ish structure (Raghavan
    * et al. 2007 §3), so "stop when stable" is not a well-defined
    * contract; a pinned round count is, and it makes the oracle's
    * unconditional unroll exactly the operator's loop. */
  val LpaRounds = 5

  /** Community detection by synchronous label propagation over a
    * symmetric edge list — the clustering step that follows B104's
    * k-core density filter (k-core says "dense enough to cluster", LPA
    * says "which cluster"): labels start as node ids; each round every
    * node adopts the MODE of its neighbors' labels (ties to the
    * smallest label — the deterministic tie-break that replaces the
    * paper's random one, same spelling both engines). Output: (node,
    * community, community_size).
    *
    * Scale shape: per round ONE node-keyed edges⋈labels join + a
    * (node, label) partial-agg + the bounded per-node argmax heap
    * (k=1) — nothing is ever fully sorted; checkpoint-truncated like
    * the B92/B104/B128 loops. */
  def lpaOn(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint(eager = true)
    // r16 round fusion (the r15 SSSP discipline applied to LPA, verdict
    // next-round #3). The label-frame cardinality is FIXED across rounds
    // (one row per node), so ONE count up front decides the per-round
    // join strategy: small → broadcast the label side (zero-exchange
    // join; the planner never picks this itself — localCheckpoint frames
    // carry no stats and every round paid a two-sided sort-merge join,
    // r16 plan audit); large → hash-partition + sort the edge list by
    // dst ONCE outside the loop (localCheckpoint preserves partitioning
    // AND ordering), so each round shuffles only the label side.
    val nNodes = labels.count()
    val bcast = nNodes <= labels.sparkSession.conf
      .getOption("graft.loop.broadcastMaxRows").map(_.toLong)
      .getOrElse(4000000L)
    val e =
      if (bcast) edges
      else edges.repartition(col("dst")).sortWithinPartitions(col("dst"))
        .localCheckpoint(eager = true)
    for (_ <- 1 to rounds) {
      val lab = maybeBroadcastRows(
        labels.select(col("node").as("dst"), col("lbl")), nNodes)
      labels = e.join(lab, "dst")
        // mode(lbl, deterministic = true): the most frequent neighbor
        // label, ties to the LOWEST value — exactly the (count desc,
        // lbl asc) rule the (src,lbl)-count + per-src top-1 heap pair
        // spelled before, in ONE src-keyed exchange (the partial-agg
        // buffer is the per-src label→count map) instead of two
        .groupBy(col("src"))
        .agg(mode(col("lbl"), deterministic = true).as("lbl"))
        .select(col("src").as("node"), col("lbl"))
        .localCheckpoint(eager = true)
    }
    // community_size as a window over the final labels — same result as
    // the groupBy + join back, one lbl-keyed exchange instead of two + a
    // join (and the same spelling as the oracle's COUNT(*) OVER)
    labels.select(col("node").as("part_id"), col("lbl").as("community"),
        count(lit(1)).over(Window.partitionBy(col("lbl")))
          .as("community_size"))
      .orderBy(col("part_id"))
  }

  /** Driver query: communities of the B104 co-purchase graph (same
    * support-thresholded edges — one derivation, two graph keys). */
  def communitiesLpa(spark: SparkSession, dir: String): DataFrame = {
    val edges = kcoreEdgesOn(
        Tables(spark, dir).lineitem.select(col("l_orderkey"),
          col("l_partkey")),
        "l_orderkey", "l_partkey", KcoreSupport)
      .localCheckpoint(eager = true)
    lpaOn(edges, LpaRounds)
  }

  /** Twin: the LPA rounds unrolled (MATERIALIZED — each round is
    * referenced once per join but the chain still benefits; the argmax
    * is the same (count desc, label asc) rule the bounded heap runs). */
  val communitiesLpaSql: String = {
    val rounds = (1 to LpaRounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl, ROW_NUMBER() OVER (PARTITION BY node
         |      ORDER BY cnt DESC, lbl) AS rn
         |    FROM (SELECT e.src AS node, p.lbl, COUNT(*) AS cnt
         |      FROM e JOIN l${i - 1} p ON p.node = e.dst
         |      GROUP BY 1, 2))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
       |), pr AS (
       |  SELECT a.p AS u, b.p AS v, COUNT(*) AS supp
       |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $KcoreSupport
       |), e AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM pr
       |  UNION ALL SELECT v, u FROM pr
       |), l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS lbl FROM e),
       |$rounds
       |SELECT node AS part_id, lbl AS community,
       |  COUNT(*) OVER (PARTITION BY lbl) AS community_size
       |FROM l$LpaRounds ORDER BY part_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "changepoint_cusum" -> (changepointCusum _),
    "acf_lags" -> (acfLags _),
    "ccf_leadlag" -> (ccfLeadLag _),
    "seasonal_detrend" -> (seasonalDetrend _),
    "top_paths" -> (topPaths _),
    "kcore_parts" -> (kcoreParts _),
    "communities_lpa" -> (communitiesLpa _),
    "bfs_hops" -> (bfsHops _),
    "sssp_cost" -> (ssspCost _),
    "forecast_snaive" -> (forecastSnaive _),
    "time_in_state" -> (timeInState _),
    "funnel" -> (funnel _),
    "quantile_sketch" -> (quantileSketch _),
    "retention" -> (retention _),
    "user_ltv" -> (userLtv _),
    "scd2_track" -> (scd2Track _),
    "anomaly_robust" -> (anomalyRobust _),
    "mv_incremental" -> (mvIncremental _),
    "pagerank_nations" -> (pagerankNations _),
    "rolling_features" -> (rollingFeatures _),
    "value_histogram" -> (valueHistogram _),
    "upsert_latest" -> (upsertLatest _),
    "cdc_compact" -> (cdcCompact _),
    "table_profile" -> (tableProfile _),
    "salted_join" -> (saltedJoin _),
    "event_transitions" -> (eventTransitions _),
    "interval_coverage" -> (intervalCoverage _),
    "distinct_incremental" -> (distinctIncremental _),
    "distinct_theta_ops" -> (distinctThetaOps _),
    "table_diff" -> (tableDiff _),
    "resample_ffill" -> (resampleFfill _))

  val oracles: Map[String, String] = Map(
    "changepoint_cusum" -> changepointCusumSql,
    "acf_lags" -> acfLagsSql,
    "ccf_leadlag" -> ccfLeadLagSql,
    "seasonal_detrend" -> seasonalDetrendSql,
    "top_paths" -> topPathsSql,
    "kcore_parts" -> kcorePartsSql,
    "bfs_hops" -> bfsHopsSql,
    "sssp_cost" -> ssspCostSql,
    "communities_lpa" -> communitiesLpaSql,
    "forecast_snaive" -> forecastSnaiveSql,
    "time_in_state" -> timeInStateSql,
    "funnel" -> funnelSql,
    "quantile_sketch" -> quantileSketchSql,
    "retention" -> retentionSql,
    "user_ltv" -> userLtvSql,
    "scd2_track" -> scd2TrackSql,
    "anomaly_robust" -> anomalyRobustSql,
    "mv_incremental" -> mvIncrementalSql,
    "pagerank_nations" -> pagerankNationsSql,
    "rolling_features" -> rollingFeaturesSql,
    "value_histogram" -> valueHistogramSql,
    "upsert_latest" -> upsertLatestSql,
    "cdc_compact" -> cdcCompactSql,
    "table_profile" -> tableProfileSql,
    "salted_join" -> saltedJoinSql,
    "event_transitions" -> eventTransitionsSql,
    "interval_coverage" -> intervalCoverageSql,
    "distinct_theta_ops" -> distinctThetaOpsSql,
    "table_diff" -> tableDiffSql,
    "resample_ffill" -> resampleFfillSql)
}
