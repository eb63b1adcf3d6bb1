package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** SURVEY §2 block B continued (B42+): marketing attribution and graph
  * structure analytics.
  *
  * Scale notes (100 TB):
  *  - Attribution is ONE user-keyed window exchange — the carry-forward
  *    trick B10's as-of join uses, specialized to the type-filtered
  *    "last touch" shape; no per-step self-join of the event table.
  *  - Triangle counting uses degree-ordered orientation (the standard
  *    MapReduce-era trick, cf. Suri & Vassilvitskii WWW'11): every edge
  *    points toward its higher-(degree, id) endpoint, so each node's
  *    out-degree is O(√|E|) and the wedge join stays bounded even on
  *    celebrity hubs that would make the naive a<b<c join quadratic.
  */
object OlapD {

  // --- B42: last-touch attribution ------------------------------------------
  /** Attribution lookback window: 7 days in microseconds. */
  val AttrWindowUs: Long = 7L * 24 * 3600 * 1000000L

  /** Last-touch attribution: each `purchase` event is credited to the SAME
    * user's most recent `click` strictly before it (in the total
    * (ts, event_id) order) and within [[AttrWindowUs]]; purchases with no
    * eligible click report null (the "organic" bucket).
    *
    * Scale shape: ONE user-keyed window exchange. The last eligible click
    * is a type-filtered `last(…, ignoreNulls)` carry over
    * ROWS … 1 PRECEDING — strictly-before by frame construction, and both
    * carried columns (click id, click ts) come from the same frame row, so
    * the pair is always consistent. The window eligibility check is a pure
    * map filter after the carry. */
  def attributionOn(events: DataFrame, userCol: String, tsUsCol: String,
      seqCol: String, typeCol: String, valueCol: String,
      touchType: String, convType: String, windowUs: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = events.select(col(userCol).as("user_id"),
      col(tsUsCol).as("ts_us"), col(seqCol).as("event_id"),
      col(typeCol).as("event_type"), col(valueCol).as("value"))
    val carried = base
      .withColumn("_ct",
        last(when(col("event_type") === touchType, col("ts_us")),
          ignoreNulls = true).over(w))
      .withColumn("_cid",
        last(when(col("event_type") === touchType, col("event_id")),
          ignoreNulls = true).over(w))
    carried.filter(col("event_type") === convType)
      .withColumn("_ok", col("_ct").isNotNull &&
        col("_ct") >= col("ts_us") - windowUs)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        when(col("_ok"), col("_cid")).as("click_event_id"),
        when(col("_ok"), col("_ct")).as("click_ts_us"),
        col("value"))
      .orderBy(col("event_id"))
  }

  def attribution(spark: SparkSession, dir: String): DataFrame =
    attributionOn(Tables(spark, dir).events
        .withColumn("ts_us", unix_micros(col("ts"))),
      "user_id", "ts_us", "event_id", "event_type", "value",
      touchType = "click", convType = "purchase", AttrWindowUs)

  // --- B72: LINEAR multi-touch attribution ---------------------------------
  /** The other canonical attribution model next to B42's last-touch:
    * every click inside a purchase's lookback window shares the
    * purchase's value EQUALLY — per-click credit boards are how
    * marketing mix decisions are actually made (last-touch
    * systematically starves upper-funnel touches).
    *
    * Exactness: credit is INTEGER micro-units — floor(value·1e6) is one
    * IEEE op on the same double in both engines, the per-touch split is
    * integer floor division, and the per-click SUM is exact (order-free)
    * — no float accumulation anywhere. Scale shape: the (click ∈
    * purchase-window) pairs come from [[RangeJoin.pointInInterval]]
    * (bucket equi-join on (user, bucket) — never a nested loop, per-pair
    * rows bounded by touches-in-window); the touch count is one window
    * over the purchase key; the board is one click-key rollup.
    * 5-exchange budget pinned. */
  def attributionLinearOn(events: DataFrame, userCol: String,
      tsUsCol: String, seqCol: String, typeCol: String, valueCol: String,
      touchType: String, convType: String, windowUs: Long): DataFrame = {
    val base = events.select(col(userCol).as("user_id"),
      col(tsUsCol).as("ts_us"), col(seqCol).as("event_id"),
      col(typeCol).as("event_type"), col(valueCol).as("value"))
    val clicks = base.filter(col("event_type") === touchType)
      .select(col("user_id"), col("event_id").as("click_event_id"),
        col("ts_us").as("c_ts"))
    val purchases = base.filter(col("event_type") === convType)
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        col("ts_us").as("p_ts"),
        (col("ts_us") - windowUs).as("w_start"),
        floor(col("value") * 1e6).cast("long").as("v_micro"))
    val pairs = graft.operators.RangeJoin.pointInInterval(
      clicks, purchases, "user_id", "c_ts", "w_start", "p_ts", windowUs)
    val wTouch = Window.partitionBy(col("user_id"),
      col("purchase_event_id"))
    pairs
      .withColumn("n_touch", count(lit(1)).over(wTouch))
      .withColumn("credit_micro", expr("v_micro div n_touch"))
      .groupBy(col("user_id"), col("click_event_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("credit_micro")).as("credit_micro"))
      .orderBy(col("user_id"), col("click_event_id"))
  }

  def attributionLinear(spark: SparkSession, dir: String): DataFrame =
    attributionLinearOn(Tables(spark, dir).events
        .withColumn("ts_us", unix_micros(col("ts"))),
      "user_id", "ts_us", "event_id", "event_type", "value",
      touchType = "click", convType = "purchase", AttrWindowUs)

  // --- B77: TIME-DECAY multi-touch attribution ------------------------------
  /** Decay half-life: one day — a click's weight halves per day of age
    * at the purchase. */
  val DecayHalfLifeUs: Long = 24L * 3600 * 1000000L

  /** The third canonical attribution model (B42 last-touch, B72 linear):
    * every click in the lookback window shares the purchase's value in
    * proportion to 2^(−age_days) — recency-weighted credit, the
    * standard "time decay" column of a marketing mix board.
    *
    * Exactness: weights are INTEGER powers of two (w = 1 << (maxAge −
    * age_buckets), age clamped into the window's bucket range), the
    * per-pair credit is v_micro·w // Σw in 64-bit integer arithmetic
    * (v_micro ≤ 1e9 micro-units × w ≤ 64 ≪ 2^63), and the click rollup
    * sums integers — bit-identical across engines, like B72. Scale
    * shape is B72's exactly: RangeJoin pairs (bucket equi-join, never a
    * nested loop), ONE purchase-key window for Σw, one click-key
    * rollup. */
  def attributionTimeDecayOn(events: DataFrame, userCol: String,
      tsUsCol: String, seqCol: String, typeCol: String, valueCol: String,
      touchType: String, convType: String, windowUs: Long,
      halfLifeUs: Long): DataFrame = {
    val base = events.select(col(userCol).as("user_id"),
      col(tsUsCol).as("ts_us"), col(seqCol).as("event_id"),
      col(typeCol).as("event_type"), col(valueCol).as("value"))
    val clicks = base.filter(col("event_type") === touchType)
      .select(col("user_id"), col("event_id").as("click_event_id"),
        col("ts_us").as("c_ts"))
    val purchases = base.filter(col("event_type") === convType)
      .select(col("user_id"), col("event_id").as("purchase_event_id"),
        col("ts_us").as("p_ts"),
        (col("ts_us") - windowUs).as("w_start"),
        floor(col("value") * 1e6).cast("long").as("v_micro"))
    val pairs = graft.operators.RangeJoin.pointInInterval(
      clicks, purchases, "user_id", "c_ts", "w_start", "p_ts", windowUs)
    // a click exactly windowUs old lands one bucket past maxAge — clamp
    // (the closed window's single boundary instant keeps weight 1)
    val maxAge = ((windowUs - 1) / halfLifeUs).toInt
    val wTouch = Window.partitionBy(col("user_id"),
      col("purchase_event_id"))
    pairs
      .withColumn("w", expr(s"shiftleft(cast(1 as bigint), " +
        s"cast($maxAge - least((p_ts - c_ts) div $halfLifeUs, " +
        s"cast($maxAge as bigint)) as int))"))
      .withColumn("w_sum", sum(col("w")).over(wTouch))
      .withColumn("credit_micro", expr("(v_micro * w) div w_sum"))
      .groupBy(col("user_id"), col("click_event_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("credit_micro")).as("credit_micro"))
      .orderBy(col("user_id"), col("click_event_id"))
  }

  def attributionTimeDecay(spark: SparkSession, dir: String): DataFrame =
    attributionTimeDecayOn(Tables(spark, dir).events
        .withColumn("ts_us", unix_micros(col("ts"))),
      "user_id", "ts_us", "event_id", "event_type", "value",
      touchType = "click", convType = "purchase", AttrWindowUs,
      DecayHalfLifeUs)

  /** Twin: the same pairing, the same integer power-of-two weights, the
    * same floor-division split. */
  val attributionTimeDecaySql: String = {
    val maxAge = ((AttrWindowUs - 1) / DecayHalfLifeUs).toInt
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
       |    event_type, value
       |  FROM events
       |), c AS (
       |  SELECT user_id, event_id AS click_event_id, ts_us AS c_ts
       |  FROM e WHERE event_type = 'click'
       |), p AS (
       |  SELECT user_id, event_id AS purchase_event_id, ts_us AS p_ts,
       |    CAST(floor(value * 1e6) AS BIGINT) AS v_micro
       |  FROM e WHERE event_type = 'purchase'
       |), pair AS (
       |  SELECT c.user_id, c.click_event_id, p.purchase_event_id,
       |    p.v_micro,
       |    CAST(1 AS BIGINT) << CAST($maxAge - LEAST(
       |      (p.p_ts - c.c_ts) // $DecayHalfLifeUs, $maxAge) AS INTEGER)
       |      AS w
       |  FROM c JOIN p ON c.user_id = p.user_id
       |    AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - $AttrWindowUs
       |), pw AS (
       |  SELECT *, SUM(w) OVER (PARTITION BY user_id, purchase_event_id)
       |    AS w_sum
       |  FROM pair)
       |SELECT user_id, click_event_id, COUNT(*) AS n_purchases,
       |  CAST(SUM((v_micro * w) // w_sum) AS BIGINT) AS credit_micro
       |FROM pw
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin
  }

  // --- B93: Shapley-value channel attribution ---------------------------------
  /** The coalition channels for B93 — the non-conversion event types. */
  val ShapleyChannels: Seq[String] = Seq("view", "click", "signup")

  /** Lattice cap for the Shapley board: 2^m signature rows must stay a
    * bounded literal the driver can collect (m = 12 → ≤ 4096 rows), and
    * real channel alphabets are single digits. */
  val ShapleyMaxChannels = 12

  /** Data-driven multi-touch attribution by SHAPLEY VALUE (Shapley 1953;
    * the marketing application is Zhao et al., arXiv:1804.05327) — the
    * game-theoretic sibling of last-touch B42 / linear B71 / time-decay
    * B77: each channel's credit is its average marginal contribution
    * across every coalition order. Coalition value v(S) = number of
    * CONVERTED users whose pre-conversion touch set ⊆ S (integer-valued
    * and monotone, so every Shapley term is an exact integer; credits
    * emit as the rational φ·m! / m! — num, den, double, the B82 parity
    * discipline). Efficiency axiom Σφ = v(C) − v(∅) = touched
    * conversions (pinned in spec).
    *
    * Scale shape: ONE user-key rollup builds the per-user touch-flag
    * tuple (events shrink to O(users) in a single co-partitioned
    * join+agg), then the exact-signature board is a 2^m-row aggregate
    * (≤ 2^[[ShapleyMaxChannels]] = 4096 rows; the gate alphabet's m = 3
    * gives 8) — the Shapley arithmetic itself runs on that bounded
    * literal, never on the corpus. At 100 TB the same plan holds: the
    * lattice is fixed by the CHANNEL alphabet, not the data volume. */
  def attributionShapleyOn(events: DataFrame, userCol: String,
      tsCol: String, typeCol: String, convType: String,
      channels: Seq[String] = ShapleyChannels): DataFrame = {
    require(channels.nonEmpty && channels.size <= ShapleyMaxChannels,
      s"Shapley lattice is 2^m — m must be in [1, $ShapleyMaxChannels]")
    val fp = events.filter(col(typeCol) === convType)
      .groupBy(col(userCol).as("_u")).agg(min(col(tsCol)).as("_fpts"))
    val touches = events.filter(col(typeCol).isin(channels: _*))
      .select(col(userCol).as("_u"), col(tsCol).as("_ts"),
        col(typeCol).as("_t"))
    // left join: converted users with NO pre-conversion touch keep
    // all-zero flags (they are v(∅), the organic floor)
    val aggs = channels.zipWithIndex.map { case (c, i) =>
      max(when(col("_t") === c && col("_ts") < col("_fpts"), 1)
        .otherwise(0)).as(s"f$i")
    }
    val flags = fp.join(touches, Seq("_u"), "left")
      .groupBy(col("_u"))
      .agg(aggs.head, aggs.tail: _*)
    shapleyTailOn(flags, channels)
  }

  /** The Shapley tail over a per-user (f0 … f_{m−1}) touch-flag frame —
    * shared by the batch key and the streaming twin (B95), whose
    * micro-batch derives the same flags from per-user min-timestamp
    * monoid state. Generalized past the original 3-channel lattice
    * (r12 VERDICT #2): the signature board is 2^m rows for any
    * m ≤ [[ShapleyMaxChannels]] — still bounded by the CHANNEL alphabet,
    * never the corpus — and the per-channel subset sweep is 2^(m−1)
    * driver-side terms over that collected board. Terms accumulate in
    * BigInt (|S|!·(m−1−|S|)! reaches 11! and multiplies a corpus-sized
    * conversion count — m = 12 with ~10^9 conversions overflows int64)
    * and narrow back to the BIGINT output column only after the exact
    * rational is formed, erroring loudly if it cannot. */
  private[graft] def shapleyTailOn(flags: DataFrame,
      channels: Seq[String]): DataFrame = {
    val m = channels.size
    // the exact-signature board: <= 2^m rows, a bounded literal
    val exact: Map[Vector[Int], Long] =
      flags.groupBy(channels.indices.map(i => col(s"f$i")): _*)
        .agg(count(lit(1)).as("n")).collect()
        .map(r => channels.indices.map(r.getInt).toVector -> r.getLong(m))
        .toMap
    shapleyBoardTail(flags.sparkSession, exact, channels)
  }

  /** The Shapley arithmetic over a COLLECTED signature-count board —
    * split from [[shapleyTailOn]] so the streaming eviction drain (B95),
    * whose settled users merge into exactly this ≤2^m-row count monoid,
    * runs the identical lattice code as batch B93. */
  private[graft] def shapleyBoardTail(spark: SparkSession,
      exact: Map[Vector[Int], Long], channels: Seq[String]): DataFrame = {
    val m = channels.size
    require(m >= 1 && m <= ShapleyMaxChannels,
      s"Shapley lattice is 2^m — m must be in [1, $ShapleyMaxChannels]")
    // v(S) = #converted users whose touch signature ⊆ S (monotone)
    def v(s: Vector[Int]): Long = exact.iterator.collect {
      case (sig, n) if sig.lazyZip(s).forall(_ <= _) => n
    }.sum
    val fact = new Array[BigInt](m + 1)
    fact(0) = BigInt(1)
    (1 to m).foreach(i => fact(i) = fact(i - 1) * i)
    def bits(set: Set[Int]): Vector[Int] =
      Vector.tabulate(m)(i => if (set(i)) 1 else 0)
    val den = fact(m)
    val rows = channels.zipWithIndex.map { case (ch, ci) =>
      val others = channels.indices.toSet - ci
      // w(|S|) = |S|!·(m−1−|S|)!·(m!/m!) — already ×m! so φ_num is exact
      val phiNum = others.subsets().map { s =>
        fact(s.size) * fact(m - 1 - s.size) *
          BigInt(v(bits(s + ci)) - v(bits(s)))
      }.sum
      require(phiNum.isValidLong && den.isValidLong,
        s"shapley: exact rational overflows BIGINT at m=$m — " +
          "report as decimal instead")
      (ch, phiNum.toLong, den.toLong, phiNum.toDouble / den.toDouble)
    }
    spark.createDataFrame(rows)
      .toDF("channel", "phi_num", "phi_den", "phi")
      .orderBy(col("channel"))
  }

  def attributionShapley(spark: SparkSession, dir: String): DataFrame =
    attributionShapleyOn(Tables(spark, dir).events, "user_id", "ts",
      "event_type", "purchase")

  /** Twin: the same touch-flag rollup, the 8-subset lattice as VALUES,
    * and the closed-form 3-channel Shapley weights {2, 1, 1, 2}. */
  val attributionShapleySql: String = {
    val Seq(c0, c1, c2) = ShapleyChannels
    s"""WITH fp AS (
       |  SELECT user_id, MIN(ts) AS fpts FROM events
       |  WHERE event_type = 'purchase' GROUP BY 1
       |), fl AS (
       |  SELECT fp.user_id,
       |    MAX(CASE WHEN e.event_type = '$c0' AND e.ts < fp.fpts
       |      THEN 1 ELSE 0 END) AS f0,
       |    MAX(CASE WHEN e.event_type = '$c1' AND e.ts < fp.fpts
       |      THEN 1 ELSE 0 END) AS f1,
       |    MAX(CASE WHEN e.event_type = '$c2' AND e.ts < fp.fpts
       |      THEN 1 ELSE 0 END) AS f2
       |  FROM fp LEFT JOIN events e ON e.user_id = fp.user_id
       |    AND e.event_type IN ('$c0', '$c1', '$c2')
       |  GROUP BY fp.user_id
       |), v AS (
       |  SELECT s0, s1, s2,
       |    (SELECT COUNT(*) FROM fl
       |     WHERE f0 <= s0 AND f1 <= s1 AND f2 <= s2) AS v
       |  FROM (VALUES (0,0,0),(1,0,0),(0,1,0),(0,0,1),
       |               (1,1,0),(1,0,1),(0,1,1),(1,1,1)) AS s(s0,s1,s2)
       |), b AS (
       |  SELECT
       |    MAX(CASE WHEN s0=0 AND s1=0 AND s2=0 THEN v END) AS v000,
       |    MAX(CASE WHEN s0=1 AND s1=0 AND s2=0 THEN v END) AS v100,
       |    MAX(CASE WHEN s0=0 AND s1=1 AND s2=0 THEN v END) AS v010,
       |    MAX(CASE WHEN s0=0 AND s1=0 AND s2=1 THEN v END) AS v001,
       |    MAX(CASE WHEN s0=1 AND s1=1 AND s2=0 THEN v END) AS v110,
       |    MAX(CASE WHEN s0=1 AND s1=0 AND s2=1 THEN v END) AS v101,
       |    MAX(CASE WHEN s0=0 AND s1=1 AND s2=1 THEN v END) AS v011,
       |    MAX(CASE WHEN s0=1 AND s1=1 AND s2=1 THEN v END) AS v111
       |  FROM v)
       |SELECT channel, CAST(phi_num AS BIGINT) AS phi_num,
       |  CAST(6 AS BIGINT) AS phi_den,
       |  CAST(phi_num AS DOUBLE) / 6.0 AS phi
       |FROM (
       |  SELECT '$c0' AS channel,
       |    2*(v100-v000) + 1*(v110-v010) + 1*(v101-v001) + 2*(v111-v011)
       |      AS phi_num FROM b
       |  UNION ALL
       |  SELECT '$c1',
       |    2*(v010-v000) + 1*(v110-v100) + 1*(v011-v001) + 2*(v111-v101)
       |      FROM b
       |  UNION ALL
       |  SELECT '$c2',
       |    2*(v001-v000) + 1*(v101-v100) + 1*(v011-v010) + 2*(v111-v110)
       |      FROM b)
       |ORDER BY channel""".stripMargin
  }

  /** Twin: the same closed-window pairing, touch-count window, and
    * integer micro-unit split. */
  val attributionLinearSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
       |    event_type, value
       |  FROM events
       |), c AS (
       |  SELECT user_id, event_id AS click_event_id, ts_us AS c_ts
       |  FROM e WHERE event_type = 'click'
       |), p AS (
       |  SELECT user_id, event_id AS purchase_event_id, ts_us AS p_ts,
       |    CAST(floor(value * 1e6) AS BIGINT) AS v_micro
       |  FROM e WHERE event_type = 'purchase'
       |), pair AS (
       |  SELECT c.user_id, c.click_event_id, p.purchase_event_id,
       |    p.v_micro,
       |    COUNT(*) OVER (PARTITION BY p.user_id, p.purchase_event_id)
       |      AS n_touch
       |  FROM c JOIN p ON c.user_id = p.user_id
       |    AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - $AttrWindowUs)
       |SELECT user_id, click_event_id, COUNT(*) AS n_purchases,
       |  CAST(SUM(v_micro // n_touch) AS BIGINT) AS credit_micro
       |FROM pair
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  val attributionSql: String =
    s"""WITH e AS (
       |  SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id,
       |         event_type, value
       |  FROM events
       |), c AS (
       |  SELECT *,
       |    LAST_VALUE(CASE WHEN event_type = 'click' THEN ts_us END
       |      IGNORE NULLS) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ct,
       |    LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END
       |      IGNORE NULLS) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cid
       |  FROM e)
       |SELECT event_id, user_id, ts_us,
       |  CASE WHEN ct IS NOT NULL AND ct >= ts_us - $AttrWindowUs
       |       THEN cid END AS click_event_id,
       |  CASE WHEN ct IS NOT NULL AND ct >= ts_us - $AttrWindowUs
       |       THEN ct END AS click_ts_us,
       |  value
       |FROM c WHERE event_type = 'purchase'
       |ORDER BY event_id""".stripMargin

  // --- B43: triangle counting -----------------------------------------------
  /** Exact per-node triangle counts over the nation-level trade graph
    * (B26's edge build, made undirected). Triangles measure clustering /
    * community structure — the complement of PageRank's centrality view.
    *
    * Scale shape: each canonical edge is oriented toward its higher
    * (degree, id) endpoint, so out-adjacency is O(√|E|) per node; the
    * wedge self-join on the oriented source and the closing-edge join are
    * both bounded by Σ out-deg² = O(|E|^1.5) TOTAL, independent of hub
    * sizes. The oracle enumerates the same triangle set via the id-ordered
    * a<b<c join — equal output, different (scale-safe) physical shape. */
  def triangleCountOn(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withK = und
      .join(deg.select(col("node").as("a"), struct(col("deg"), col("node"))
        .as("ka")), "a")
      .join(deg.select(col("node").as("b"), struct(col("deg"), col("node"))
        .as("kb")), "b")
    // the oriented adjacency is a STAGING product referenced three times
    // (two wedge sides + the closing edge): cut its lineage once so the
    // upstream edge build is computed once, not re-expanded per reference
    // (in a persisted deployment this is the materialized edge table)
    val oriented = withK.select(
      when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("src"),
      when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("dst"),
      when(col("ka") < col("kb"), col("kb")).otherwise(col("ka")).as("kdst"))
      .localCheckpoint(eager = true)
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.kdst") < col("e2.kdst"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"),
        col("e2.dst").as("w"))
    val tris = wedges.join(oriented.as("e3"),
      col("v") === col("e3.src") && col("w") === col("e3.dst"))
    val corners = tris.select(explode(array(col("u"), col("v"), col("w")))
        .as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("cnt"))
    nodes.join(corners, Seq("node"), "left")
      .select(col("node"), coalesce(col("cnt"), lit(0L)).as("n_triangles"))
      .orderBy(col("node"))
  }

  /** Driver query: triangles of the STRONG trade graph — nation pairs
    * whose (undirected) trade volume exceeds the mean pair volume. The
    * raw graph is complete at any interesting SF (every nation trades
    * with every other), so without the threshold every count is C(n−1,2);
    * the above-mean filter is self-normalizing across scale factors and
    * exact-integer in both engines (w·n_pairs > total, no division). */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    triangleBoardOn(t, tradeEdgePartialsOn(t,
      t.lineitem.select(col("l_orderkey"), col("l_suppkey"))))
  }

  /** The B43 trade-edge PARTIALS over any (l_orderkey, l_suppkey) rows:
    * dim joins to (src, dst) nations, canonicalized undirected, shrunk
    * to (a, b, cnt). A sum-monoid — partials from row subsets merge by
    * summing cnt — which is what lets the B117 stream twin keep zero
    * state and run the triangle tail once at read (the B114 shape). One
    * spelling for the batch key, the stream twin, and the replay spec. */
  private[graft] def tradeEdgePartialsOn(t: Tables, li: DataFrame): DataFrame =
    li.join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.supplier.select(col("s_suppkey"),
        col("s_nationkey").as("dst"))), col("l_suppkey") === col("s_suppkey"))
      .select(col("c_nationkey").as("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .agg(count(lit(1)).as("cnt"))

  /** The B43 read tail over merged (a, b, cnt) partials: the above-mean
    * strong-edge cut + the oriented-wedge triangle count + nation names.
    * O(nations²) board work — runs once at read in the stream twin. */
  private[graft] def triangleBoardOn(t: Tables, partials: DataFrame)
      : DataFrame = {
    val und = partials.groupBy(col("a"), col("b"))
      .agg(sum(col("cnt")).as("w"))
    val stats = und.agg(sum(col("w")).as("_tw"), count(lit(1)).as("_np"))
    val strong = und.crossJoin(broadcast(stats)) // 1-row stats frame
      .filter(col("w") * col("_np") > col("_tw"))
      .select(col("a").as("src"), col("b").as("dst"))
    triangleCountOn(strong, t.nation.select(col("n_nationkey").as("node")))
      .join(broadcast(t.nation), col("node") === col("n_nationkey"))
      .select(col("node"), col("n_name").as("nation"), col("n_triangles"))
      .orderBy(col("node"))
  }

  val triangleCountSql: String =
    """WITH edges AS (
      |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey
      |), wund AS (
      |  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b, COUNT(*) AS w
      |  FROM edges GROUP BY 1, 2
      |), st AS (SELECT SUM(w) AS tw, COUNT(*) AS np FROM wund),
      |und AS (
      |  SELECT a, b FROM wund, st WHERE w * np > tw
      |), tri AS (
      |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
      |  FROM und e1
      |  JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
      |  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
      |), corners AS (
      |  SELECT u AS node FROM tri
      |  UNION ALL SELECT v FROM tri
      |  UNION ALL SELECT w FROM tri
      |), cnts AS (SELECT node, COUNT(*) AS cnt FROM corners GROUP BY 1)
      |SELECT n.n_nationkey AS node, n.n_name AS nation,
      |       COALESCE(c.cnt, 0) AS n_triangles
      |FROM nation n LEFT JOIN cnts c ON c.node = n.n_nationkey
      |ORDER BY node""".stripMargin

  // --- B44: interval-overlap join -------------------------------------------
  /** Promo window geometry: one window per epoch day, 10:00–14:00 UTC —
    * derived from the event span by integer arithmetic, so both engines
    * generate the identical window set. */
  val DayUs: Long = 86400L * 1000000L
  val PromoStartUs: Long = 10L * 3600 * 1000000L
  val PromoEndUs: Long = 14L * 3600 * 1000000L

  /** Which user sessions overlap which promo windows, and by how much —
    * the campaign-exposure join. Sessions are B11's gap sessions; promos
    * are the synthetic daily windows. See [[RangeJoin.intervalOverlap]]
    * for the bucketized equi-join shape: no nested loop, and the
    * ownership-bucket rule dedups multi-bucket pairs with a filter
    * instead of a distinct shuffle. */
  def intervalOverlapQ(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
    val sessions = Sessionize.assign(base, "user_id", "ts_us",
        OlapB.SessionGapUs, "event_id")
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts_us")).as("s_start"), max(col("ts_us")).as("s_end"))
    val span = base.agg(
      floor(min(col("ts_us")) / DayUs).cast("long").as("_d0"),
      floor(max(col("ts_us")) / DayUs).cast("long").as("_d1"))
    val promos = span // 1-row span frame → the bounded promo set
      .select(explode(sequence(col("_d0"), col("_d1"))).as("promo_id"))
      .select(col("promo_id"),
        (col("promo_id") * DayUs + PromoStartUs).as("p_start"),
        (col("promo_id") * DayUs + PromoEndUs).as("p_end"))
    RangeJoin.intervalOverlap(sessions, broadcast(promos), Seq.empty,
        "s_start", "s_end", "p_start", "p_end",
        bucketWidth = PromoEndUs - PromoStartUs)
      .select(col("user_id"), col("session_id").cast("long").as("session_id"),
        col("promo_id"),
        (least(col("s_end"), col("p_end")) -
          greatest(col("s_start"), col("p_start"))).as("overlap_us"))
      .orderBy(col("user_id"), col("session_id"), col("promo_id"))
  }

  /** Twin joins on the raw overlap predicate — the bucketization is the
    * physical strategy, not the contract. */
  val intervalOverlapSql: String = OlapB.sessionCtesSql +
    s""",
       |sess AS (
       |  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       |         MIN(ts_us) AS s_start, MAX(ts_us) AS s_end
       |  FROM sessioned GROUP BY 1, 2
       |), span AS (
       |  SELECT CAST(floor(MIN(ts_us) / $DayUs) AS BIGINT) AS d0,
       |         CAST(floor(MAX(ts_us) / $DayUs) AS BIGINT) AS d1
       |  FROM e
       |), promos AS (
       |  SELECT CAST(d AS BIGINT) AS promo_id,
       |         CAST(d AS BIGINT) * $DayUs + $PromoStartUs AS p_start,
       |         CAST(d AS BIGINT) * $DayUs + $PromoEndUs AS p_end
       |  FROM span, unnest(range(d0, d1 + 1)) t(d))
       |SELECT user_id, session_id, promo_id,
       |       LEAST(s_end, p_end) - GREATEST(s_start, p_start) AS overlap_us
       |FROM sess JOIN promos ON s_start <= p_end AND p_start <= s_end
       |ORDER BY user_id, session_id, promo_id""".stripMargin

  // --- B46: unpivot (melt) --------------------------------------------------
  /** The inverse reshape of B8: the pivoted wide frame melts back to long
    * (day, event_type, value_sum) rows via `Dataset.unpivot` — a pure
    * map-side Expand (each row emits one output per value column, no
    * shuffle beyond the source aggregation). Absent (day, type) cells are
    * null after the pivot and are dropped on the way back, so the round
    * trip equals the DIRECT long aggregation — which is the oracle (the
    * same self-consistency trick as B18). */
  def unpivotWide(spark: SparkSession, dir: String): DataFrame =
    OlapB.pivotEvents(spark, dir)
      .unpivot(Array(col("day")), OlapB.EventTypes.map(col).toArray,
        variableColumnName = "event_type", valueColumnName = "value_sum")
      .filter(col("value_sum").isNotNull)
      .orderBy(col("day"), col("event_type"))

  val unpivotWideSql: String = {
    val types = OlapB.EventTypes.map(t => s"'$t'").mkString(", ")
    s"""SELECT CAST(ts AS DATE) AS day, event_type,
       |  CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS value_sum
       |FROM events WHERE event_type IN ($types)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // --- C89: data-quality integrity suite -----------------------------------
  /** The dbt-test / Great-Expectations check suite a lakehouse runs after
    * every load: primary-key uniqueness, foreign-key coverage, null
    * gates, and column-consistency invariants, each reported as one
    * (table, check, n_rows, n_violations) row. The synthetic lake is
    * CLEAN, so violations are SEEDED deterministically (the C13
    * injection discipline) — a duplicate-pk documents row whose bumped
    * n_chars also breaks the length invariant (%101), an orphan
    * embedding with a truncated 63-dim vector (%97), an orphan lineitem
    * (%89) — so every failing check fails by a KNOWN count at every sf,
    * while the untouched checks prove the clean tables pass.
    *
    * Scale shape: each check is one partial-agg count or one broadcast/
    * shuffle anti-join census — the shapes the underlying operators
    * already audited; the board is a bounded literal of driver scalars
    * (the C88 census discipline). */
  def tableIntegrity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val docs = t.documents
    // the seeded unions are scanned by several censuses each — pin them
    // once (the dedupCompare checkpoint discipline) and hoist the counts
    val docsChk = docs.unionAll(docs.filter(col("doc_id") % 101 === 0)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        (col("n_chars") + 1).as("n_chars"))
      .select(docs.columns.map(col): _*))
      .localCheckpoint(eager = true)
    val embs = t.embeddings
    val embsChk = embs.unionAll(embs.filter(col("vec_id") % 97 === 0)
      .select((col("vec_id") + 500000000L).as("vec_id"),
        slice(col("embedding"), 1, 63).as("embedding"), col("label"))
      .select(embs.columns.map(col): _*))
      .localCheckpoint(eager = true)
    val liChk = t.lineitem.select(col("l_orderkey"))
      .unionAll(t.lineitem.filter(col("l_orderkey") % 89 === 0)
        .select((col("l_orderkey") + 900000000L).as("l_orderkey")))
      .localCheckpoint(eager = true)
    val (nDocs, nEmbs, nLi) = (docsChk.count(), embsChk.count(), liChk.count())
    def scalar(df: DataFrame): Long = df.head().getLong(0)
    val rows = Seq(
      ("documents", "pk_unique", nDocs,
        scalar(docsChk.groupBy(col("doc_id")).count()
          .filter(col("count") > 1)
          .agg(coalesce(sum(col("count") - 1), lit(0L))))),
      ("documents", "n_chars_consistent", nDocs,
        docsChk.filter(col("n_chars") =!= length(col("text"))).count()),
      ("documents", "text_not_null", nDocs,
        docsChk.filter(col("text").isNull).count()),
      ("embeddings", "dim_64", nEmbs,
        embsChk.filter(size(col("embedding")) =!= 64).count()),
      ("embeddings", "fk_documents", nEmbs,
        embsChk.join(docs.select(col("doc_id")),
          col("vec_id") === col("doc_id"), "left_anti").count()),
      ("lineitem", "fk_orders", nLi,
        liChk.join(t.orders.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti").count()),
      ("orders", "fk_customer", t.orders.count(),
        t.orders.join(t.customer.select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti").count()))
    rows.toDF("tbl", "chk", "n_rows", "n_violations")
      .orderBy(col("tbl"), col("chk"))
  }

  /** Twin: the same seeded unions, the same censuses. Both union arms
    * name their columns explicitly — the pairing is pinned to NAMES, not
    * the parquet files' physical column order, matching the Scala side's
    * defensive `.select(docs.columns...)` reorder. */
  val tableIntegritySql: String =
    s"""WITH dc AS (
       |  SELECT doc_id, text, lang, source, n_chars FROM documents
       |  UNION ALL
       |  SELECT doc_id, text, lang, source, n_chars + 1
       |  FROM documents WHERE doc_id % 101 = 0
       |), ec AS (
       |  SELECT vec_id, embedding, label FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 500000000, embedding[1:63], label
       |  FROM embeddings WHERE vec_id % 97 = 0
       |), lc AS (
       |  SELECT l_orderkey FROM lineitem
       |  UNION ALL
       |  SELECT l_orderkey + 900000000 FROM lineitem WHERE l_orderkey % 89 = 0
       |)
       |SELECT * FROM (
       |SELECT 'documents' AS tbl, 'pk_unique' AS chk,
       |  (SELECT COUNT(*) FROM dc) AS n_rows,
       |  (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT)
       |   FROM (SELECT COUNT(*) AS c FROM dc GROUP BY doc_id) WHERE c > 1)
       |  AS n_violations
       |UNION ALL
       |SELECT 'documents', 'n_chars_consistent', (SELECT COUNT(*) FROM dc),
       |  (SELECT COUNT(*) FROM dc WHERE n_chars != length(text))
       |UNION ALL
       |SELECT 'documents', 'text_not_null', (SELECT COUNT(*) FROM dc),
       |  (SELECT COUNT(*) FROM dc WHERE text IS NULL)
       |UNION ALL
       |SELECT 'embeddings', 'dim_64', (SELECT COUNT(*) FROM ec),
       |  (SELECT COUNT(*) FROM ec WHERE len(embedding) != 64)
       |UNION ALL
       |SELECT 'embeddings', 'fk_documents', (SELECT COUNT(*) FROM ec),
       |  (SELECT COUNT(*) FROM ec e LEFT JOIN documents d
       |   ON e.vec_id = d.doc_id WHERE d.doc_id IS NULL)
       |UNION ALL
       |SELECT 'lineitem', 'fk_orders', (SELECT COUNT(*) FROM lc),
       |  (SELECT COUNT(*) FROM lc l LEFT JOIN orders o
       |   ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)
       |UNION ALL
       |SELECT 'orders', 'fk_customer', (SELECT COUNT(*) FROM orders),
       |  (SELECT COUNT(*) FROM orders o LEFT JOIN customer c
       |   ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
       |) ORDER BY tbl, chk""".stripMargin

  // --- B79: gaps-and-islands activity streaks -------------------------------
  /** Per-user consecutive-active-day streaks — the canonical
    * gaps-and-islands query (retention/engagement boards ask "longest
    * streak" constantly; Spark has no native island operator): distinct
    * active days → the row_number−date anchor trick groups each maximal
    * run of consecutive days under one constant key → island lengths →
    * per-user rollup.
    *
    * Scale shape: ONE user-key exchange total. The stream repartitions
    * on user FIRST, so the (user, day) distinct, the day window, the
    * (user, anchor) island aggregation, and the user rollup all reuse
    * that single partitioning (hash(user) co-locates every finer key) —
    * the classic island chain costs the same as one groupBy. */
  def activityStreaksOn(events: DataFrame, userCol: String,
      tsCol: String): DataFrame =
    streaksBoardOn(events
      .select(col(userCol).as("user_id"), to_date(col(tsCol)).as("d"))
      .repartition(col("user_id")))

  /** The island chain over ANY (user_id, d) day feed — duplicates are
    * absorbed by the leading (user, day) distinct, so batch (raw
    * projection, pre-partitioned on user) and the B124 stream twin
    * (merged per-batch distinct partials) share this one spelling; the
    * board is a function of the active-day SET, which is what makes
    * the twin's drain == batch in any arrival order. */
  def streaksBoardOn(dayFeed: DataFrame): DataFrame = {
    val days = dayFeed
      .groupBy(col("user_id"), col("d")).agg(lit(1))
      .select(col("user_id"), col("d"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    days
      .withColumn("anchor", date_sub(col("d"), row_number().over(w)))
      .groupBy(col("user_id"), col("anchor"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).as("active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("max_streak"))
      .orderBy(col("user_id"))
  }

  def activityStreaks(spark: SparkSession, dir: String): DataFrame =
    activityStreaksOn(Tables(spark, dir).events, "user_id", "ts")

  /** Twin: the same anchor trick — date minus row_number is exact date
    * arithmetic in both engines. */
  val activityStreaksSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
      |), n AS (
      |  SELECT user_id, d,
      |    d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
      |        AS INTEGER) AS anchor
      |  FROM days
      |), isl AS (
      |  SELECT user_id, anchor, COUNT(*) AS len FROM n GROUP BY 1, 2
      |)
      |SELECT user_id, CAST(SUM(len) AS BIGINT) AS active_days,
      |  COUNT(*) AS n_streaks, CAST(MAX(len) AS BIGINT) AS max_streak
      |FROM isl GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // --- B80: RFM customer segmentation ---------------------------------------
  /** RFM (recency / frequency / monetary) segmentation — the classic
    * CRM mart rollup: per user, days since last purchase (anchored at
    * the corpus's max event time — "as of the load"), purchase count,
    * and value mass, each scored into quartiles; the familiar
    * "champion / loyal / at-risk / dormant" read is the (r,f,m) tuple.
    *
    * Exactness: quartiles are exact `ntile(4)` with a total order
    * (metric, then user id) so both engines bucket identically; the
    * monetary metric ORDERS as DECIMAL (exact) and reports as double.
    * Scale shape: events shrink to O(users) in ONE user-key partial
    * agg before any window; the three ntile windows then sort O(users)
    * rows in a single partition each — the defined-partition price the
    * exact oracle needs. The deploy path is IMPLEMENTED (the B23/B30
    * `exact` discipline): [[rfmTailOn]] with `exact = false` swaps the
    * ntiles for broadcast `approx_percentile` thresholds + map-side
    * banding — zero single-partition exchanges (RfmApproxSpec). The
    * 1-row max-ts anchor broadcasts onto the user rollup. */
  def rfmSegmentsOn(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, valueCol: String, convType: String,
      exact: Boolean = true): DataFrame = {
    val purchases = events.filter(col(typeCol) === convType)
      .select(col(userCol).as("user_id"), col(tsCol).as("ts"),
        col(valueCol).as("value"))
    val anchor = events.select(max(to_date(col(tsCol))).as("anchor_d"))
    val perUser = purchases
      .groupBy(col("user_id"))
      .agg(max(to_date(col("ts"))).as("last_d"),
        count(lit(1)).as("frequency"),
        Olap.exactSum(col("value"), 6).as("monetary_dec"))
    rfmTailOn(perUser, anchor, exact)
  }

  /** The anchor + quartile tail over a per-user (last_d, frequency,
    * monetary_dec) rollup — shared by the batch key and the streaming
    * twin (B88), whose micro-batch delivers the same rollup out of
    * streaming state.
    *
    * `exact = true` (the GATE path): `ntile(4)` with a total order —
    * bit-identical to the DuckDB oracle, at the price of one
    * single-partition sort per metric over the O(users) rollup.
    * `exact = false` (the DEPLOY path, r11 VERDICT #1): the three
    * quartile thresholds come from ONE bounded `approx_percentile`
    * t-digest agg (a 1-row board), broadcast back onto the rollup, and
    * banding is a map-side `when` chain — NO single-partition exchange
    * anywhere, so a 10⁹-user dimension never funnels through one
    * partition's sort. The two paths disagree only at quartile
    * boundaries (ntile balances bucket SIZES; thresholds cut by VALUE —
    * ties straddling a cut land together under thresholds, split under
    * ntile); RfmApproxSpec pins that disagreement ≤ 5 % per metric. */
  private[graft] def rfmTailOn(perUser: DataFrame, anchor: DataFrame,
      exact: Boolean = true): DataFrame = {
    val scored = perUser
      .crossJoin(broadcast(anchor))
      .select(col("user_id"),
        datediff(col("anchor_d"), col("last_d")).cast("long")
          .as("recency_days"),
        col("frequency"), col("monetary_dec"))
    val banded =
      if (exact) {
        // pinnedZero: same single-partition semantics (gate-exact ntile
        // needs a global sort; the deploy path is exact=false), but a
        // DEFINED partition spec so the WindowExec warning census stays
        // a usable scale-smell detector (r12 VERDICT #2). The pin is
        // projected ONCE as a named column: three windows partitioned
        // by the same attribute share one exchange (an inline pin
        // expression re-projects per window as distinct _w attributes
        // and re-shuffles the full user board twice more — measured)
        val pinned = scored.withColumn("_pin",
          graft.operators.BoundedBoard.pinnedZero(col("user_id")))
        val rW = Window.partitionBy(col("_pin"))
          .orderBy(col("recency_days").desc, col("user_id"))
        val fW = Window.partitionBy(col("_pin"))
          .orderBy(col("frequency").asc, col("user_id"))
        val mW = Window.partitionBy(col("_pin"))
          .orderBy(col("monetary_dec").asc, col("user_id"))
        pinned
          .withColumn("r_q", ntile(4).over(rW))
          .withColumn("f_q", ntile(4).over(fW))
          .withColumn("m_q", ntile(4).over(mW))
          .drop("_pin")
      } else {
        // thresholds at the 25/50/75 points of each metric; r_q orders
        // recency DESC (oldest = quartile 1), so its bands invert
        val th = broadcast(scored.agg(
          percentile_approx(col("recency_days"),
            array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("r_t"),
          percentile_approx(col("frequency"),
            array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("f_t"),
          percentile_approx(col("monetary_dec").cast("double"),
            array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("m_t")))
        def ascBand(m: org.apache.spark.sql.Column,
            t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          (lit(1) + (m > element_at(t, 1)).cast("int")
            + (m > element_at(t, 2)).cast("int")
            + (m > element_at(t, 3)).cast("int"))
        def descBand(m: org.apache.spark.sql.Column,
            t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          (lit(1) + (m <= element_at(t, 3)).cast("int")
            + (m <= element_at(t, 2)).cast("int")
            + (m <= element_at(t, 1)).cast("int"))
        scored.crossJoin(th)
          .withColumn("r_q", descBand(col("recency_days"), col("r_t")))
          .withColumn("f_q", ascBand(col("frequency"), col("f_t")))
          .withColumn("m_q",
            ascBand(col("monetary_dec").cast("double"), col("m_t")))
      }
    banded
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary_dec").cast("double").as("monetary"),
        col("r_q").cast("long").as("r_q"),
        col("f_q").cast("long").as("f_q"),
        col("m_q").cast("long").as("m_q"),
        concat(col("r_q"), col("f_q"), col("m_q")).as("segment"))
      .orderBy(col("user_id"))
  }

  def rfmSegments(spark: SparkSession, dir: String): DataFrame =
    rfmSegmentsOn(Tables(spark, dir).events, "user_id", "ts",
      "event_type", "value", "purchase")

  /** Twin: the same anchored rollup and the same totally-ordered
    * ntile(4)s (ANSI bucket distribution in both engines). */
  val rfmSegmentsSql: String =
    """WITH p AS (
      |  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
      |), u AS (
      |  SELECT user_id,
      |    (SELECT MAX(CAST(ts AS DATE)) FROM events)
      |      - MAX(CAST(ts AS DATE)) AS recency_days,
      |    COUNT(*) AS frequency,
      |    SUM(CAST(value AS DECIMAL(25,6))) AS monetary_dec
      |  FROM p GROUP BY user_id
      |), q AS (
      |  SELECT user_id, CAST(recency_days AS BIGINT) AS recency_days,
      |    frequency, monetary_dec,
      |    NTILE(4) OVER (ORDER BY recency_days DESC, user_id) AS r_q,
      |    NTILE(4) OVER (ORDER BY frequency ASC, user_id) AS f_q,
      |    NTILE(4) OVER (ORDER BY monetary_dec ASC, user_id) AS m_q
      |  FROM u)
      |SELECT user_id, recency_days, frequency,
      |  CAST(monetary_dec AS DOUBLE) AS monetary, r_q, f_q, m_q,
      |  CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR)
      |    || CAST(m_q AS VARCHAR) AS segment
      |FROM q
      |ORDER BY user_id""".stripMargin

  // --- B81: 2-D skyline (Pareto frontier) ------------------------------------
  /** Coarse price-bucket width for the skyline's pre-prune stage. */
  val SkylineBucket: Int = 1000

  /** The 2-D skyline ("Pareto frontier") of offers: the (price, qty)
    * points no other point dominates — dominated meaning ≤ price AND
    * ≥ qty with at least one strict (Börzsönyi et al., "The Skyline
    * Operator", ICDE 2001). The classic formulation needs an all-pairs
    * dominance test; in 2-D it collapses to ONE sorted sweep: dedupe to
    * the per-price max qty (equal-price points are dominated by their
    * own max), then keep a point iff its qty strictly exceeds every
    * strictly-cheaper point's qty — a running-max window over the price
    * order.
    *
    * Scale shape: the corpus shrinks to O(distinct prices) in one
    * partial-agg exchange before any window. The exact sweep is then a
    * single-partition window — fine at gate, the bottleneck at 100 TB —
    * so a DISTRIBUTED pre-prune runs first: per price-BUCKET max qty
    * (O(buckets) rows, partial agg), running max over the bucket order
    * (a tiny single-partition window over O(buckets) rows), broadcast
    * back; a point whose qty does not exceed the running max of all
    * strictly-cheaper BUCKETS is provably dominated (some cheaper point
    * holds that max) and is dropped before the exact sweep, which now
    * sorts only the near-frontier survivors. Pruning never removes a
    * skyline point, so the oracle is the plain one-window spelling. */
  def skyline2dOn(items: DataFrame, priceCol: String,
      qtyCol: String): DataFrame =
    skylineSweepOn(items.select(
      col(priceCol).cast("decimal(25,6)").as("price"),
      col(qtyCol).cast("decimal(25,6)").as("qty")))

  /** The prune + sweep tail over a (price, qty) point set (duplicates
    * welcome) — shared by the batch key and the streaming twin (B85),
    * whose micro-batch delivers the per-price max out of streaming
    * state. Order of operations is the scale story: the bucket pre-prune
    * runs on the RAW rows (a per-bucket MAX partial-aggregates map-side
    * to O(buckets) rows — no full-cardinality shuffle), so the per-price
    * dedup and the exact sweep only ever see the near-frontier
    * survivors. The first spelling deduped per price FIRST and paid a
    * ~#distinct-prices shuffle over the whole corpus before pruning —
    * 41 s at 24×; pruning first collapses that to the O(buckets) agg.
    * (Worst case is output-sensitive and inherent: on anti-correlated
    * data the FRONTIER itself is O(distinct prices) and no prune helps —
    * the single-partition sweep is then sized by the answer, like any
    * top-k.) */
  private[graft] def skylineSweepOn(raw: DataFrame): DataFrame = {
    // distributed pre-prune: per-bucket max over RAW rows, running max
    // over the O(buckets) board, broadcast back — a row whose qty does
    // not beat every strictly-cheaper bucket's max is provably dominated
    val bucketed = raw.withColumn("b",
      floor(col("price") / SkylineBucket).cast("long"))
    val bmax = bucketed.groupBy(col("b")).agg(max(col("qty")).as("bq"))
      .withColumn("prevmax", max(col("bq")).over(
        Window.partitionBy(BoundedBoard.pinnedZero(col("b")))
          .orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("b").as("pb"), col("prevmax"))
    val survivors = bucketed.join(broadcast(bmax), col("b") === col("pb"))
      .filter(col("prevmax").isNull || col("qty") > col("prevmax"))
    // per-price dedup + exact sweep over the (small) near-frontier set
    val pts = survivors.groupBy(col("price")).agg(max(col("qty")).as("qty"))
    val sweep = Window.partitionBy(BoundedBoard.pinnedZero(col("price")))
      .orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    pts
      .withColumn("runmax", max(col("qty")).over(sweep))
      .filter(col("runmax").isNull || col("qty") > col("runmax"))
      .select(col("price").cast("double").as("price"),
        col("qty").cast("double").as("qty"))
      .orderBy(col("price"))
  }

  def skyline2d(spark: SparkSession, dir: String): DataFrame =
    skyline2dOn(Tables(spark, dir).lineitem, "l_extendedprice", "l_quantity")

  /** Twin: the plain one-window 2-D sweep — the pre-prune is an
    * optimization, provably frontier-preserving, so the simple spelling
    * IS the semantics. */
  val skyline2dSql: String =
    """WITH pts AS (
      |  SELECT CAST(l_extendedprice AS DECIMAL(25,6)) AS price,
      |    MAX(CAST(l_quantity AS DECIMAL(25,6))) AS qty
      |  FROM lineitem GROUP BY 1
      |), sw AS (
      |  SELECT price, qty, MAX(qty) OVER (ORDER BY price
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
      |  FROM pts)
      |SELECT CAST(price AS DOUBLE) AS price, CAST(qty AS DOUBLE) AS qty
      |FROM sw WHERE runmax IS NULL OR qty > runmax
      |ORDER BY price""".stripMargin

  // --- B82: per-group OLS trend from sufficient statistics -------------------
  /** Exact per-group linear-regression slope over daily revenue — the
    * "is this segment growing?" mart query, computed the distributed
    * way: OLS collapses to five SUFFICIENT STATISTICS (n, Σx, Σy, Σxy,
    * Σx²) that partial-aggregate in one pass; the slope
    * (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) is then a per-group scalar.
    * Float Σ's would make the answer depend on aggregation order — so
    * every statistic is EXACT: x is the day offset from the group's own
    * min day (small integers — also the classic centering trick that
    * keeps the products bounded), y is the day's revenue FLOORED to
    * whole currency units (exact integer quantization, identical in
    * both engines; the statistics are unit-linear, so a deployment at
    * larger mass rescales the unit to keep n·Σxy inside 63 bits —
    * micro-units overflowed BIGINT at gate scale already), and every
    * sum is exact DECIMAL.
    *
    * Scale shape: two partial-agg exchanges (events → group×day,
    * group×day → group) and zero windows/joins; the min-day centering
    * rides the same group-day rollup. */
  def linregTrendOn(items: DataFrame, groupCol: String, dateCol: String,
      revenueCol: String): DataFrame = {
    // the O(groups × days) rollup is consumed twice (min-day + centered
    // sums) — truncate the corpus-scan subtree so it runs once
    val daily = items
      .groupBy(col(groupCol).as("grp"), to_date(col(dateCol)).as("d"))
      .agg(Olap.exactSum(col(revenueCol), 6).as("rev"))
      .select(col("grp"), col("d"),
        floor(col("rev")).cast("decimal(20,0)").as("y"))
      .localCheckpoint(eager = true)
    linregStatsOn(daily)
  }

  /** The stats tail over a (grp, d, y) daily rollup — shared by the
    * batch key and the streaming twin (B84), whose micro-batch delivers
    * the SAME rollup out of streaming state. */
  private[graft] def linregStatsOn(daily: DataFrame): DataFrame = {
    // center via a broadcast per-group min-day: one extra aggregate over
    // the tiny O(groups × days) rollup instead of a window on it
    val d0 = daily.groupBy(col("grp")).agg(min(col("d")).as("d0"))
    val centered = daily.join(broadcast(d0), "grp")
      .select(col("grp"),
        datediff(col("d"), col("d0")).cast("decimal(10,0)").as("x"),
        col("y"))
    // slope = num/den emitted as the EXACT integer rational (decimal
    // division rounds at engine-specific scales — a BIGINT pair doesn't)
    // plus the IEEE-754 double quotient (binary64 division of two exact
    // integers is bit-deterministic in both engines)
    centered
      .groupBy(col("grp"))
      .agg(count(lit(1)).cast("decimal(10,0)").as("n"),
        sum(col("x")).cast("decimal(14,0)").as("sx"),
        sum(col("y")).cast("decimal(22,0)").as("sy"),
        sum(col("x") * col("y")).cast("decimal(26,0)").as("sxy"),
        sum(col("x") * col("x")).cast("decimal(18,0)").as("sxx"))
      .select(col("grp"), col("n").cast("long").as("n_days"),
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("long")
          .as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("long")
          .as("slope_den"))
      .withColumn("slope_per_day",
        when(col("slope_den") === 0, lit(null))
          .otherwise(col("slope_num").cast("double")
            / col("slope_den").cast("double")))
      .orderBy(col("grp"))
  }

  def linregTrend(spark: SparkSession, dir: String): DataFrame =
    linregTrendOn(Tables(spark, dir).lineitem
        .withColumn("rev1", expr("l_extendedprice * (1.0 - l_discount)")),
      "l_returnflag", "l_shipdate", "rev1")

  /** Twin: the same sufficient statistics in exact DECIMAL, the same
    * per-group min-day centering, the same integer rational + IEEE
    * double quotient. */
  val linregTrendSql: String =
    """WITH daily AS (
      |  SELECT l_returnflag AS grp, CAST(l_shipdate AS DATE) AS d,
      |    CAST(FLOOR(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(25,6)))) AS DECIMAL(20,0)) AS y
      |  FROM lineitem GROUP BY 1, 2
      |), c AS (
      |  SELECT grp,
      |    CAST(d - MIN(d) OVER (PARTITION BY grp) AS DECIMAL(10,0)) AS x,
      |    y
      |  FROM daily
      |), s AS (
      |  SELECT grp, CAST(COUNT(*) AS DECIMAL(10,0)) AS n,
      |    CAST(SUM(x) AS DECIMAL(14,0)) AS sx,
      |    CAST(SUM(y) AS DECIMAL(22,0)) AS sy,
      |    CAST(SUM(x * y) AS DECIMAL(26,0)) AS sxy,
      |    CAST(SUM(x * x) AS DECIMAL(18,0)) AS sxx
      |  FROM c GROUP BY grp)
      |SELECT grp, CAST(n AS BIGINT) AS n_days,
      |  CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
      |  CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
      |  CASE WHEN n * sxx - sx * sx = 0 THEN NULL
      |       ELSE CAST(n * sxy - sx * sy AS DOUBLE)
      |            / CAST(n * sxx - sx * sx AS DOUBLE)
      |  END AS slope_per_day
      |FROM s
      |ORDER BY grp""".stripMargin

  // --- B83: functional-dependency profiling -----------------------------------
  /** The candidate determinant → dependent pairs the FD board checks —
    * a mix of key-implied FDs that MUST hold and plausible-but-false
    * ones the board must report honestly. */
  val FdCandidates: Seq[(String, String, String)] = Seq(
    ("customer", "c_custkey", "c_mktsegment"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_orderkey", "o_orderpriority"),
    ("orders", "o_custkey", "o_orderstatus"),
    ("lineitem", "l_orderkey", "l_returnflag"),
    ("events", "user_id", "event_type"))

  /** Functional-dependency discovery board (the data-profiling primitive
    * behind schema inference and key detection — cf. Papenbrock et al.,
    * "Functional Dependency Discovery: An Experimental Evaluation",
    * VLDB 2015): for each candidate A → B, whether every A-group carries
    * exactly one B value, with the violation census (groups with >1
    * distinct B, and the worst group's distinct count) rather than a
    * bare boolean — the board a profiler actually acts on.
    *
    * Scale shape: each candidate is one (A, B) distinct + one A-keyed
    * partial agg + a 1-row rollup — linear scans, zero joins; the board
    * is O(candidates) rows unioned. NULL discipline: B-NULLs count as a
    * value (SQL COUNT(DISTINCT) drops NULLs, so the census counts
    * null-presence separately — an FD with both a value and NULL in one
    * group IS a violation). */
  def fdCheckOn(df: DataFrame, det: String, dep: String,
      label: String): DataFrame = {
    val perGroup = df.select(col(det).as("a"), col(dep).as("b"))
      .groupBy(col("a"))
      .agg((countDistinct(col("b")) +
        max(when(col("b").isNull, 1).otherwise(0))).as("nb"))
    perGroup.agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("nb") > 1, 1L).otherwise(0L)).as("n_violating"),
        max(col("nb")).as("max_distinct"))
      .select(lit(label).as("fd"), col("n_groups"),
        col("n_violating").cast("long").as("n_violating"),
        col("max_distinct").cast("long").as("max_distinct"),
        (col("n_violating") === 0).cast("int").as("holds"))
  }

  def fdProfile(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val byName = Map("customer" -> t.customer, "orders" -> t.orders,
      "lineitem" -> t.lineitem, "events" -> t.events)
    FdCandidates.map { case (tbl, det, dep) =>
      fdCheckOn(byName(tbl), det, dep, s"$tbl.$det->$dep")
    }.reduce(_ unionAll _).orderBy(col("fd"))
  }

  /** Twin: the same per-candidate census, one UNION ALL branch each. */
  val fdProfileSql: String =
    FdCandidates.map { case (tbl, det, dep) =>
      s"""SELECT '$tbl.$det->$dep' AS fd,
         |  COUNT(*) AS n_groups,
         |  CAST(SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_violating,
         |  CAST(MAX(nb) AS BIGINT) AS max_distinct,
         |  CAST(CASE WHEN SUM(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0
         |       THEN 1 ELSE 0 END AS INT) AS holds
         |FROM (
         |  SELECT $det,
         |    COUNT(DISTINCT $dep)
         |      + MAX(CASE WHEN $dep IS NULL THEN 1 ELSE 0 END) AS nb
         |  FROM $tbl GROUP BY $det)""".stripMargin
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY fd")

  // --- B76: bloom-pruned semi-join (runtime join filter) --------------------
  /** GATE sizing for the dim-key runtime filter: 2²⁰ bits = 128 KiB of
    * bloom, ~8 bits/key up to the 2¹⁷ estimated-items ceiling (<3% fp
    * there, far lower at gate cardinalities). The bloom ships to every
    * probe task as ONE literal — at deploy both knobs track dim
    * cardinality the way C27's ingestion bloom does (a 100 M-key dim is
    * a ~100 MiB bloom, still a broadcast-class payload where the raw
    * key set is tens of GiB). */
  val BloomJoinEstItems: Long = 1L << 17
  val BloomJoinNumBits: Long = 1L << 20

  /** Bloom bytes over `dim(keyCol)` — one partial-aggregating pass on
    * the dim side (the same Catalyst aggregate C27 uses for ingestion
    * gating, CorpusOps.historyBloomOf). Returns null for an empty dim,
    * Spark's aggregate convention. */
  def keyBloomOf(dim: DataFrame, keyCol: String,
      estItems: Long = BloomJoinEstItems,
      numBits: Long = BloomJoinNumBits): Array[Byte] = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    dim.select(column(new BloomFilterAggregate(
      expression(xxhash64(col(keyCol))),
      Literal(estItems), Literal(numBits), 0, 0)
      .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** The sideways-information-passing join filter (the runtime bloom
    * filter every warehouse plants under a selective dim join, cf.
    * Spark's own `runtime.bloomFilter` rewrite — here EXPLICIT so the
    * plan shape is pinned, not threshold-dependent): probe rows test the
    * dim-key bloom IN THE SCAN STAGE, so at 100 TB the ~1-selectivity
    * complement never enters the probe-side exchange; the semi-join
    * afterwards discards the bloom's false positives, making the filter
    * semantically invisible (the oracle is the plain semi-join).
    *
    * Scale shape: dim aggregates to ONE 1 MiB literal (no broadcast
    * exchange, no driver-side key set); the probe filter is a codegen'd
    * scalar in the same stage as the parquet scan; the verify join is
    * the only place probe survivors shuffle. A null bloom (empty dim)
    * skips the pre-filter — the semi-join is then vacuously empty. */
  def bloomSemiJoinOn(fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    val bloom = keyBloomOf(dim, dimKey)
    val pruned =
      if (bloom == null) fact
      else fact.filter(column(BloomFilterMightContain(
        expression(lit(bloom)), expression(xxhash64(col(factKey))))))
    pruned.join(dim.select(col(dimKey)),
      col(factKey) === col(dimKey), "left_semi")
  }

  /** B76 gate query: lineitem pruned by the urgent-orders bloom, then
    * exactly verified — revenue rollup of the survivors. */
  def bloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val dim = t.orders.filter(col("o_orderpriority") === "1-URGENT")
    bloomSemiJoinOn(t.lineitem, "l_orderkey", dim, "o_orderkey")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        Olap.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Twin: the bloom is a pure pre-filter, so the oracle is the plain
    * semi-join — any false positive surviving to the output would
    * hash-mismatch here. */
  val bloomSemiJoinSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |    AS DECIMAL(25,6))) AS DOUBLE) AS revenue
      |FROM lineitem l
      |WHERE EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_orderkey = l.l_orderkey
      |    AND o.o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // --- B91: market-basket pair lift -----------------------------------------
  /** Cap each basket at its top-K items by GLOBAL frequency, ties to
    * the smaller item id — the bound that keeps every per-basket
    * self-join |basket|²-safe at an unbounded-basket deploy. One
    * item-key exchange for the frequency board, then a basket-key
    * window (each basket ranks its own items; no global sort). Shared
    * by B91's pair lift and B104's co-purchase edge builder (r13
    * verdict #4). Input/output columns: (_b, _i). */
  private[graft] def capBasketItems(b0: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"maxItemsPerBasket must be >= 1, got $k")
    val freq = b0.groupBy(col("_i")).agg(count(lit(1)).as("_f"))
    val w = Window.partitionBy(col("_b"))
      .orderBy(col("_f").desc, col("_i"))
    b0.join(freq, "_i")
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
      .select(col("_b"), col("_i"))
  }

  /** Within-basket ordered-pair expansion over a SORTED distinct item
    * array `items` — pure map-side (codegen higher-order functions), no
    * self-join: element i pairs with every later element, so
    * item_a < item_b holds by the sort. ONE spelling for the batch pair
    * boards (B91's lift, B104's co-purchase edges) and the streaming
    * settled-basket partials (B94) — the r16 optimization round unified
    * them (the batch keys previously ran a per-basket self-join that
    * shuffled the distinct frame twice and recomputed its subtree per
    * union branch). */
  private[graft] val basketPairExpansion: Column = expr(
    """flatten(transform(items, (x, i) ->
      |  transform(slice(items, i + 2, size(items) - i - 1),
      |    y -> struct(x AS item_a, y AS item_b))))""".stripMargin)

  /** (_b, items) grouped-basket frame: per basket the SORTED DISTINCT
    * item array (collect_set dedupes, sort_array pins the expansion
    * order) — ONE basket-key exchange with map-side partial sets,
    * replacing the separate distinct + per-basket self-join (two more
    * basket-key shuffles of the same rows, r16 guide §2.3/§2.4). The
    * optional top-K-by-global-frequency cap still runs BEFORE grouping,
    * on the distinct incidence rows, so the |basket|² expansion stays
    * bounded exactly as before; a giant uncapped basket is now one wide
    * row instead of one hot join key — both are the cap's job, not the
    * planner's. */
  private[graft] def basketsGrouped(baskets: DataFrame, basketCol: String,
      itemCol: String, maxItemsPerBasket: Option[Int]): DataFrame = {
    val raw = baskets.select(col(basketCol).as("_b"),
      col(itemCol).cast("long").as("_i"))
    val b = maxItemsPerBasket.fold(raw)(k => capBasketItems(raw.distinct(), k))
    b.groupBy(col("_b"))
      .agg(sort_array(collect_set(col("_i"))).as("items"))
  }

  /** Pairs below this basket co-occurrence count are noise, not signal —
    * and the cut keeps the pair table O(frequent pairs), the Apriori
    * support-threshold discipline. */
  val BasketMinPairCount = 2

  /** Market-basket analysis (Agrawal & Srikant, VLDB 1994's support/
    * lift reading): for every pair of items co-occurring in ≥
    * [[BasketMinPairCount]] baskets, the co-occurrence count, each
    * item's basket count, and LIFT = P(a,b) / (P(a)·P(b)) — the
    * recommender/affinity primitive ("buyers of a also buy b more than
    * chance"). Lift emits as the exact integer rational
    * (pair·n_baskets) / (cnt_a·cnt_b) plus the IEEE double quotient —
    * the B82 engine-parity discipline (no engine-specific decimal
    * rounding in the hash gate).
    *
    * Scale shape: the per-basket distinct shrink runs FIRST (one
    * basket-key exchange); the pair explode is a basket-key self-join
    * whose per-basket cost is |basket|² — bounded by the order line
    * cap here. At an unbounded-basket deploy two knobs bound the hot
    * basket BEFORE the join, never after: `maxItemsPerBasket` keeps
    * each basket's top-K items by GLOBAL frequency (the affinity
    * signal lives in the frequent items; rare-item pairs fall under
    * [[BasketMinPairCount]] anyway), and AQE's skew-join split
    * (`spark.sql.adaptive.skewJoin.*`, on in [[graft.GraftSession]])
    * re-splits the sort-merge self-join's hot basket partitions at
    * runtime. The pair rollup and the two item-count joins are all
    * pair/item-keyed partial-agg exchanges; n_baskets is a 1-row
    * broadcast. Default cap None = gate-exact. */
  def basketPairsOn(baskets: DataFrame, basketCol: String,
      itemCol: String, maxItemsPerBasket: Option[Int] = None): DataFrame = {
    // ONE checkpointed grouped frame feeds all three boards — the
    // previous spelling recomputed the distinct subtree once per
    // consumer (nB, itemCnt, and BOTH self-join branches: four scans +
    // four basket-key shuffles in one plan, r16 guide §7.2 "duplicated
    // subtrees"); pairs now expand map-side from the sorted item array
    val g = basketsGrouped(baskets, basketCol, itemCol, maxItemsPerBasket)
      .localCheckpoint(eager = true)
    val nB = g.agg(count(lit(1)).as("n_baskets"))
    val itemCnt = g.select(explode(col("items")).as("_i"))
      .groupBy(col("_i")).agg(count(lit(1)).as("_c"))
    val pairs = g.select(explode(basketPairExpansion).as("p"))
      .groupBy(col("p.item_a").as("item_a"), col("p.item_b").as("item_b"))
      .agg(count(lit(1)).as("pair_count"))
    basketLiftTailOn(pairs, itemCnt, nB)
  }

  /** The lift tail over merged pair/item/basket-count boards — shared by
    * the batch self-join path above and the streaming eviction rollup
    * (B94), whose per-batch partial boards sum-merge into exactly these
    * three inputs (counts are monoids; the support threshold must cut
    * AFTER the merge, so `pairCounts` arrives unfiltered). */
  private[graft] def basketLiftTailOn(pairCounts: DataFrame,
      itemCnt: DataFrame, nB: DataFrame): DataFrame = {
    pairCounts
      .filter(col("pair_count") >= BasketMinPairCount)
      .join(itemCnt.select(col("_i").as("item_a"), col("_c").as("cnt_a")),
        "item_a")
      .join(itemCnt.select(col("_i").as("item_b"), col("_c").as("cnt_b")),
        "item_b")
      .crossJoin(broadcast(nB))
      .select(col("item_a"), col("item_b"), col("pair_count"),
        col("cnt_a"), col("cnt_b"), col("n_baskets"),
        (col("pair_count") * col("n_baskets")).as("lift_num"),
        (col("cnt_a") * col("cnt_b")).as("lift_den"))
      .withColumn("lift",
        col("lift_num").cast("double") / col("lift_den").cast("double"))
      .orderBy(col("item_a"), col("item_b"))
  }

  /** Driver query: part pairs co-ordered in the same order. */
  def basketPairs(spark: SparkSession, dir: String): DataFrame =
    basketPairsOn(graft.sources.Tables(spark, dir).lineitem
      .select(col("l_orderkey"), col("l_partkey")), "l_orderkey",
      "l_partkey")

  /** Twin: the same distinct → self-join → rollup → lift rational. */
  val basketPairsSql: String =
    s"""WITH b AS (
       |  SELECT DISTINCT l_orderkey AS bk, CAST(l_partkey AS BIGINT) AS it
       |  FROM lineitem
       |), nb AS (SELECT COUNT(DISTINCT bk) AS n_baskets FROM b),
       |ic AS (SELECT it, COUNT(*) AS c FROM b GROUP BY 1),
       |p AS (
       |  SELECT x.it AS item_a, y.it AS item_b, COUNT(*) AS pair_count
       |  FROM b x JOIN b y ON x.bk = y.bk AND x.it < y.it
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= $BasketMinPairCount)
       |SELECT item_a, item_b, pair_count,
       |  ca.c AS cnt_a, cb.c AS cnt_b, nb.n_baskets,
       |  pair_count * nb.n_baskets AS lift_num,
       |  ca.c * cb.c AS lift_den,
       |  CAST(pair_count * nb.n_baskets AS DOUBLE)
       |    / CAST(ca.c * cb.c AS DOUBLE) AS lift
       |FROM p
       |JOIN ic ca ON p.item_a = ca.it
       |JOIN ic cb ON p.item_b = cb.it
       |CROSS JOIN nb
       |ORDER BY item_a, item_b""".stripMargin

  // --- B107: Benford first-digit audit -----------------------------------------
  /** Benford's-law expected first-digit frequencies, log₁₀(1 + 1/d) for
    * d = 1..9, as shortest-roundtrip double literals — the SAME bits in
    * the Column tree and the rendered SQL (libm log10 is NOT
    * cross-engine deterministic; a frozen literal is). */
  val BenfordP: IndexedSeq[Double] =
    (1 to 9).map(d => math.log10(1.0 + 1.0 / d))

  /** Benford first-digit audit — the forensic data-quality screen for
    * amount columns (Nigrini: fabricated or systematically rounded
    * figures drift from the log-law Benford distribution real
    * multiplicative processes follow; B83 profiles FDs, B38 profiles
    * nulls/cardinality — this profiles the VALUES). Per digit: exact
    * count, observed frequency, the Benford expectation, and the
    * 8-degree χ² statistic. First digits extract on the exact integer
    * micro grid (scaling by 10⁶ never moves the leading digit) via
    * integer-to-string — no libm log10, whose cross-engine bits differ.
    * The χ² sum is a FIXED 9-term left-associated IEEE chain over the
    * pivoted exact counts (a float SUM over rows would be
    * partial-agg-order-dependent).
    *
    * Scale shape: one map stage + one O(9) digit partial agg; the board
    * math is driver-scale. */
  /** The stateless per-row digit extraction — shared by the batch key
    * and the streaming twin (one spelling, per the B24 discipline). */
  private[graft] def benfordDigitsOn(items: DataFrame,
      valueCol: String): DataFrame =
    items.select(
        Exact.guardedLong("benford_audit")(
          col(valueCol).cast("decimal(25,6)") * 1000000, "micro value")
          .as("v"))
      .filter(col("v") > 0)
      .select(substring(col("v").cast("string"), 1, 1).cast("int")
        .as("digit"))

  def benfordAuditOn(items: DataFrame, valueCol: String): DataFrame =
    benfordBoardOn(benfordDigitsOn(items, valueCol)
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs")))

  /** The χ² board tail over a (digit, n_obs) count frame — shared by the
    * batch key and the streaming twin, whose drain delivers the SAME
    * counts out of per-batch digit partials. */
  private[graft] def benfordBoardOn(counts: DataFrame): DataFrame = {
    val board = counts.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
      .join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"))
      .localCheckpoint(eager = true) // O(9) board, consumed twice
    val one = board.agg(sum(col("n_obs")).as("n"),
      (1 to 9).map(d => sum(when(col("digit") === d, col("n_obs"))
        .otherwise(0L)).as(s"c$d")): _*)
    val nD = col("n").cast("double")
    val chi2 = (1 to 9).map { d =>
      val e = nD * lit(BenfordP(d - 1))
      val o = col(s"c$d").cast("double")
      (o - e) * (o - e) / e
    }.reduce(_ + _)
    val pCase = (2 to 9).foldLeft(when(col("digit") === 1,
      lit(BenfordP(0)))) { (acc, d) =>
      acc.when(col("digit") === d, lit(BenfordP(d - 1)))
    }
    board.crossJoin(broadcast(one.select(col("n").as("n_total"),
        chi2.as("chi2"))))
      .select(col("digit"), col("n_obs"), col("n_total"),
        (col("n_obs").cast("double") / col("n_total").cast("double"))
          .as("obs_freq"),
        pCase.as("benford_p"), col("chi2"))
      .orderBy(col("digit"))
  }

  def benfordAudit(spark: SparkSession, dir: String): DataFrame =
    benfordAuditOn(Tables(spark, dir).lineitem, "l_extendedprice")

  /** Twin: the same micro-grid digit extraction, 9-digit spine, pivoted
    * exact counts, and the identical fixed-order χ² chain. */
  val benfordAuditSql: String = {
    // string-literal→double parse is the ONE correctly-rounded route in
    // DuckDB (a bare decimal literal lands in DECIMAL(18,17) whose
    // int64→double conversion double-rounds — found 1 ulp off on digit 3)
    def pLit(d: Int) = s"CAST('${BenfordP(d - 1)}' AS DOUBLE)"
    val pCase = (1 to 9).map(d =>
      s"WHEN ${d} THEN ${pLit(d)}").mkString(" ")
    val cSums = (1 to 9).map(d =>
      s"CAST(SUM(CASE WHEN digit = $d THEN n_obs ELSE 0 END) AS BIGINT) AS c$d")
      .mkString(",\n    ")
    val chi2 = (1 to 9).map { d =>
      val e = s"(CAST(n AS DOUBLE) * ${pLit(d)})"
      val o = s"CAST(c$d AS DOUBLE)"
      s"(($o - $e) * ($o - $e) / $e)"
    }.mkString("\n    + ")
    s"""WITH mic AS (
       |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(25,6)) * 1000000
       |    AS BIGINT) AS v
       |  FROM lineitem
       |), dg AS (
       |  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit
       |  FROM mic WHERE v > 0
       |), counts AS (SELECT digit, COUNT(*) AS n_obs FROM dg GROUP BY 1),
       |board AS (
       |  SELECT CAST(s.digit AS INT) AS digit,
       |    COALESCE(c.n_obs, 0) AS n_obs
       |  FROM range(1, 10) s(digit) LEFT JOIN counts c ON c.digit = s.digit
       |), one AS (
       |  SELECT CAST(SUM(n_obs) AS BIGINT) AS n,
       |    $cSums
       |  FROM board)
       |SELECT b.digit, b.n_obs, one.n AS n_total,
       |  CAST(b.n_obs AS DOUBLE) / CAST(one.n AS DOUBLE) AS obs_freq,
       |  CASE b.digit $pCase END AS benford_p,
       |  $chi2 AS chi2
       |FROM board b CROSS JOIN one
       |ORDER BY b.digit""".stripMargin
  }

  // --- B111: join-key skew audit -----------------------------------------------
  /** The candidate join/partition keys the skew board audits — FK columns
    * a planner would shuffle on, plus `events.event_type` (a deliberately
    * tiny-alphabet key: near-uniform, so skew_ratio ≈ 1, yet it must
    * flag `low_cardinality` — the parallelism failure mode). */
  val SkewCandidates: Seq[(String, String)] = Seq(
    ("lineitem", "l_orderkey"), ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"), ("orders", "o_custkey"),
    ("events", "user_id"), ("events", "event_type"))

  /** Salt threshold: a key whose hottest group exceeds this multiple of
    * the average group is a straggler risk at scale. */
  val SkewSaltRatio = 16.0

  /** Parallelism floor: a key with fewer distinct values than this
    * cannot spread a shuffle across a real cluster's partitions, no
    * matter how balanced its groups are (the OTHER way a join key fails
    * at scale — `events.event_type`'s 5 near-uniform groups have
    * skew_ratio ≈ 1 and still cap the stage at 5 tasks). */
  val SkewMinKeys = 1000L

  /** Join-key skew audit — the operational "will this key straggle"
    * board behind every salting decision in this repo (B31's salted
    * join, AQE skew splits): per candidate key, exact row/key counts,
    * the hottest group, the mean group, and their ratio — a
    * `skew_ratio` of k means the straggler partition finishes ~k× after
    * the median at any cluster size, the one number that survives a
    * 1000× scale-up. `salt_recommended` applies the [[SkewSaltRatio]]
    * policy. All counts exact; ratios one IEEE chain.
    *
    * Scale shape: per candidate ONE key partial agg to O(keys) counts +
    * a 1-row rollup — the B83 FD-census pattern; the board is
    * O(candidates). */
  def skewAudit(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val boards = SkewCandidates.map { case (tbl, c) =>
      val src = tbl match {
        case "lineitem" => t.lineitem
        case "orders" => t.orders
        case "events" => t.events
      }
      src.groupBy(col(c)).agg(count(lit(1)).as("_n"))
        .agg(sum(col("_n")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("_n")).as("max_key_rows"))
        .select(lit(tbl).as("tbl"), lit(c).as("key_col"),
          col("n_rows"), col("n_keys"), col("max_key_rows"))
    }
    val ratio = col("max_key_rows").cast("double") *
      col("n_keys").cast("double") / col("n_rows").cast("double")
    boards.reduce(_ unionAll _)
      .select(col("tbl"), col("key_col"), col("n_rows"), col("n_keys"),
        col("max_key_rows"),
        (col("n_rows").cast("double") / col("n_keys").cast("double"))
          .as("avg_key_rows"),
        ratio.as("skew_ratio"),
        (ratio > SkewSaltRatio).cast("int").as("salt_recommended"),
        (col("n_keys") < SkewMinKeys).cast("int").as("low_cardinality"))
      .orderBy(col("tbl"), col("key_col"))
  }

  /** Twin: the same per-candidate census, unioned. */
  val skewAuditSql: String = {
    val parts = SkewCandidates.map { case (tbl, c) =>
      s"""SELECT '$tbl' AS tbl, '$c' AS key_col,
         |  CAST(SUM(n) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(MAX(n) AS BIGINT) AS max_key_rows
         |FROM (SELECT COUNT(*) AS n FROM $tbl GROUP BY $c)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH b AS (
       |$parts
       |)
       |SELECT tbl, key_col, n_rows, n_keys, max_key_rows,
       |  CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE) AS avg_key_rows,
       |  CAST(max_key_rows AS DOUBLE) * CAST(n_keys AS DOUBLE)
       |    / CAST(n_rows AS DOUBLE) AS skew_ratio,
       |  CAST(CAST(max_key_rows AS DOUBLE) * CAST(n_keys AS DOUBLE)
       |    / CAST(n_rows AS DOUBLE) > $SkewSaltRatio AS INT)
       |    AS salt_recommended,
       |  CAST(n_keys < $SkewMinKeys AS INT) AS low_cardinality
       |FROM b ORDER BY tbl, key_col""".stripMargin
  }

  // --- B112: conversion rate with Wilson interval --------------------------------
  /** z for the 95 % Wilson interval — a frozen shortest-roundtrip double
    * literal (the B107 discipline: no libm call whose bits could differ
    * across engines reaches the output; the twin parses the SAME
    * string). */
  val WilsonZ: Double = 1.959963984540054

  /** Per-nation customer conversion (customers with ≥1 order / all
    * customers) with the Wilson 95 % score interval — the
    * proportion-estimate board with HONEST uncertainty (a raw rate from
    * 7 customers and one from 70 000 read identically without bounds;
    * Wilson stays inside [0,1] and behaves at small n where the Wald
    * interval collapses — Brown, Cai & DasGupta 2001). Counts exact via
    * one semi-join + rollup; p̂ and both bounds are one IEEE chain over
    * the exact integers and the frozen z literal.
    *
    * Scale shape: customer⋈orders is a key-partitioned semi join
    * (orders shrinks to distinct custkeys map-side), the nation rollup
    * is O(nations). */
  def rateWilson(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val converted = t.customer
      .join(t.orders.select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_conv"))
    val base = t.customer.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"))
    val n = col("n_customers").cast("double")
    val k = coalesce(col("n_conv"), lit(0L)).cast("double")
    val z = lit(WilsonZ)
    val p = k / n
    val center = p + z * z / (lit(2.0) * n)
    val margin = z * sqrt(p * (lit(1.0) - p) / n +
      z * z / (lit(4.0) * n * n))
    val denom = lit(1.0) + z * z / n
    base.join(converted, Seq("c_nationkey"), "left")
      .join(t.nation.select(
        col("n_nationkey").as("c_nationkey"), col("n_name")), "c_nationkey")
      .select(col("n_name").as("nation"), col("n_customers"),
        coalesce(col("n_conv"), lit(0L)).as("n_converted"),
        p.as("rate"),
        // clamp: the float image of a mathematically-[0,1] bound can
        // overshoot by an ulp (observed 1.0000000000000002 at p̂ = 1)
        greatest(lit(0.0), (center - margin) / denom).as("wilson_lo"),
        least(lit(1.0), (center + margin) / denom).as("wilson_hi"))
      .orderBy(col("nation"))
  }

  // --- B132/B133: Welch two-sample t board ----------------------------------
  /** Per-(event_type, arm) sufficient statistics in exact MILLI-units —
    * the SUM-MONOID partials B132 and its streaming twin share: n,
    * Σm, Σm² as guarded BIGINTs (m = ⌊value·1000 + 0.5⌋ ≤ 5e5, so m²
    * ≤ 2.4e11 and the Σm² accumulator holds ~3.8e7 rows before the
    * DECIMAL window even matters). Arms are user_id parity — the
    * deterministic stand-in for an experiment's assignment column. */
  def abTtestPartialsOn(events: DataFrame): DataFrame =
    events.select(col("event_type"),
        (col("user_id") % 2).cast("int").as("arm"),
        floor(col("value") * 1000 + 0.5).cast("long").as("_m"))
      .groupBy(col("event_type"), col("arm"))
      .agg(count(lit(1)).as("n"),
        Exact.guardedLong("ab_ttest")(
          Olap.exactSum(col("_m"), 0), "milli sum").as("s"),
        Exact.guardedLong("ab_ttest")(
          sum((col("_m") * col("_m")).cast("decimal(30,0)")),
          "milli sum of squares").as("q"))

  /** Welch's two-sample t board (Welch 1947) — the experimentation
    * readout every A/B deploy needs: per event_type, arm means from the
    * exact integer partials and the unequal-variance t statistic with
    * the Welch–Satterthwaite df. All floating-point work is ONE IEEE
    * chain over int64→double images (identical conversions both
    * engines, r13 discipline), spelled the same in the twin. Arms with
    * n ≤ 1 or zero pooled variance drop (t undefined — both engines
    * apply the identical predicate on identical doubles).
    *
    * Scale shape: the corpus shrinks to O(types × 2) partials in one
    * partial-agg exchange; everything after is board-sized. */
  def abTtestBoardOn(partials: DataFrame): DataFrame = {
    val merged = partials.groupBy(col("event_type"), col("arm"))
      .agg(Exact.guardedLong("ab_ttest")(
          Olap.exactSum(col("n"), 0), "count").as("n"),
        Exact.guardedLong("ab_ttest")(
          Olap.exactSum(col("s"), 0), "milli sum").as("s"),
        Exact.guardedLong("ab_ttest")(
          sum(col("q").cast("decimal(30,0)")), "milli sumsq").as("q"))
    def side(arm: Int, sfx: String) = merged.filter(col("arm") === arm)
      .select(col("event_type"), col("n").as(s"n_$sfx"),
        col("s").as(s"_s$sfx"), col("q").as(s"_q$sfx"))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val j = side(0, "a").join(side(1, "b"), "event_type")
      .filter(col("n_a") > 1 && col("n_b") > 1)
    def mean(s: String, n: String) = d(col(s)) / d(col(n)) / lit(1000.0)
    def variance(q: String, s: String, n: String) =
      (d(col(q)) - d(col(s)) * d(col(s)) / d(col(n))) /
        (d(col(n)) - lit(1.0)) / lit(1000000.0)
    val sea = variance("_qa", "_sa", "n_a") / d(col("n_a"))
    val seb = variance("_qb", "_sb", "n_b") / d(col("n_b"))
    j.withColumn("_sea", sea).withColumn("_seb", seb)
      .filter(col("_sea") + col("_seb") > 0)
      .select(col("event_type"), col("n_a"), col("n_b"),
        mean("_sa", "n_a").as("mean_a"), mean("_sb", "n_b").as("mean_b"),
        ((mean("_sa", "n_a") - mean("_sb", "n_b")) /
          sqrt(col("_sea") + col("_seb"))).as("t_stat"),
        ((col("_sea") + col("_seb")) * (col("_sea") + col("_seb")) /
          (col("_sea") * col("_sea") / (d(col("n_a")) - lit(1.0)) +
           col("_seb") * col("_seb") / (d(col("n_b")) - lit(1.0))))
          .as("df_welch"))
      .orderBy(col("event_type"))
  }

  def abTtest(spark: SparkSession, dir: String): DataFrame =
    abTtestBoardOn(abTtestPartialsOn(Tables(spark, dir).events))

  /** Twin: identical milli-grid partials and the same IEEE tree text. */
  val abTtestSql: String = {
    def mean(s: String, n: String) =
      s"(CAST($s AS DOUBLE) / CAST($n AS DOUBLE) / 1000.0)"
    def variance(q: String, s: String, n: String) =
      s"((CAST($q AS DOUBLE) - CAST($s AS DOUBLE) * CAST($s AS DOUBLE)" +
        s" / CAST($n AS DOUBLE)) / (CAST($n AS DOUBLE) - 1.0)" +
        " / 1000000.0)"
    val sea = s"(${variance("qa", "sa", "n_a")} / CAST(n_a AS DOUBLE))"
    val seb = s"(${variance("qb", "sb", "n_b")} / CAST(n_b AS DOUBLE))"
    s"""WITH p AS (
       |  SELECT event_type, user_id % 2 AS arm,
       |    COUNT(*) AS n,
       |    CAST(SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
       |      AS s,
       |    CAST(SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)
       |           * CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT)
       |      AS q
       |  FROM events GROUP BY 1, 2),
       |j AS (
       |  SELECT a.event_type, a.n AS n_a, b.n AS n_b,
       |    a.s AS sa, b.s AS sb, a.q AS qa, b.q AS qb
       |  FROM p a JOIN p b ON a.event_type = b.event_type
       |  WHERE a.arm = 0 AND b.arm = 1 AND a.n > 1 AND b.n > 1)
       |SELECT event_type, n_a, n_b,
       |  ${mean("sa", "n_a")} AS mean_a,
       |  ${mean("sb", "n_b")} AS mean_b,
       |  ((${mean("sa", "n_a")} - ${mean("sb", "n_b")})
       |    / sqrt($sea + $seb)) AS t_stat,
       |  (($sea + $seb) * ($sea + $seb)
       |    / ($sea * $sea / (CAST(n_a AS DOUBLE) - 1.0)
       |     + $seb * $seb / (CAST(n_b AS DOUBLE) - 1.0))) AS df_welch
       |FROM j
       |WHERE $sea + $seb > 0
       |ORDER BY event_type""".stripMargin
  }

  /** Twin: the same exact counts and the identical Wilson IEEE tree
    * (every literal spelled the same, z parsed string→double). */
  val rateWilsonSql: String = {
    val z = s"CAST('$WilsonZ' AS DOUBLE)"
    val n = "CAST(n_customers AS DOUBLE)"
    val k = "CAST(n_converted AS DOUBLE)"
    val p = s"($k / $n)"
    val center = s"($p + $z * $z / (2.0 * $n))"
    val margin = s"($z * sqrt($p * (1.0 - $p) / $n + " +
      s"$z * $z / (4.0 * $n * $n)))"
    val denom = s"(1.0 + $z * $z / $n)"
    s"""WITH conv AS (
       |  SELECT c_nationkey, COUNT(*) AS n_conv
       |  FROM customer
       |  WHERE c_custkey IN (SELECT o_custkey FROM orders)
       |  GROUP BY 1
       |), base AS (
       |  SELECT c_nationkey, COUNT(*) AS n_customers
       |  FROM customer GROUP BY 1
       |), j AS (
       |  SELECT n.n_name AS nation, b.n_customers,
       |    COALESCE(c.n_conv, 0) AS n_converted
       |  FROM base b LEFT JOIN conv c ON c.c_nationkey = b.c_nationkey
       |  JOIN nation n ON n.n_nationkey = b.c_nationkey)
       |SELECT nation, n_customers, n_converted,
       |  $p AS rate,
       |  GREATEST(0.0, ($center - $margin) / $denom) AS wilson_lo,
       |  LEAST(1.0, ($center + $margin) / $denom) AS wilson_hi
       |FROM j ORDER BY nation""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "benford_audit" -> (benfordAudit _),
    "skew_audit" -> (skewAudit _),
    "rate_wilson" -> (rateWilson _),
    "ab_ttest" -> (abTtest _),
    "basket_pairs" -> (basketPairs _),
    "attribution_shapley" -> (attributionShapley _),
    "attribution" -> (attribution _),
    "attribution_linear" -> (attributionLinear _),
    "attribution_time_decay" -> (attributionTimeDecay _),
    "triangle_count" -> (triangleCount _),
    "interval_overlap" -> (intervalOverlapQ _),
    "unpivot_wide" -> (unpivotWide _),
    "table_integrity" -> (tableIntegrity _),
    "bloom_semi_join" -> (bloomSemiJoin _),
    "activity_streaks" -> (activityStreaks _),
    "rfm_segments" -> (rfmSegments _),
    "skyline_2d" -> (skyline2d _),
    "linreg_trend" -> (linregTrend _),
    "fd_profile" -> (fdProfile _))

  val oracles: Map[String, String] = Map(
    "benford_audit" -> benfordAuditSql,
    "skew_audit" -> skewAuditSql,
    "rate_wilson" -> rateWilsonSql,
    "ab_ttest" -> abTtestSql,
    "basket_pairs" -> basketPairsSql,
    "attribution_shapley" -> attributionShapleySql,
    "attribution" -> attributionSql,
    "attribution_linear" -> attributionLinearSql,
    "attribution_time_decay" -> attributionTimeDecaySql,
    "triangle_count" -> triangleCountSql,
    "interval_overlap" -> intervalOverlapSql,
    "unpivot_wide" -> unpivotWideSql,
    "table_integrity" -> tableIntegritySql,
    "bloom_semi_join" -> bloomSemiJoinSql,
    "activity_streaks" -> activityStreaksSql,
    "rfm_segments" -> rfmSegmentsSql,
    "skyline_2d" -> skyline2dSql,
    "linreg_trend" -> linregTrendSql,
    "fd_profile" -> fdProfileSql)
}
