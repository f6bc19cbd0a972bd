package graft.operators

import graft.{Det, GQuery}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-time streaming semantics expressed relationally over the batch
  * `events` table (SURVEY.md §2.C "Streaming semantics").
  *
  * The reference is a streaming system (Flink DataStream); the driver
  * contract is batch, so tumbling/sliding/session windows, watermarks,
  * keyed state, and dedup are expressed as deterministic SQL shapes the
  * DuckDB oracle can check. `graft.streaming` carries the true
  * Structured Streaming forms of the same computations.
  *
  * Scale: every shape here shuffles once on (key) or (bucket) and then
  * works partition-locally — the same layout a Structured Streaming
  * stateful operator would use, so the batch plan is the streaming plan.
  */
object EventStream {
  import Det._

  // -------------------------------------------------------------- stream_tumble
  /** Tumbling 1-hour event-time window per event type (native window()
    * on the Spark side; epoch-bucket arithmetic in the oracle — both
    * align buckets to the Unix epoch).
    */
  def streamTumble(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        window(col("ts"), "1 hour").getField("start").as("win_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum2(col("value")).as("sum_value"))
      .orderBy(col("win_start"), col("event_type"))

  private val streamTumbleOracle =
    s"""SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS win_start,
       |  event_type, COUNT(*) AS n, ${oSum2("value")} AS sum_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY win_start, event_type""".stripMargin

  // --------------------------------------------------------------- stream_slide
  /** Sliding window: 1-hour windows every 15 minutes. Each event lands in
    * 4 windows; both engines enumerate the covering slide starts with the
    * same epoch arithmetic (Spark's native window(ts, len, slide) uses
    * identical epoch alignment; the explicit form keeps the two engines
    * trivially in lockstep).
    */
  def streamSlide(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", expr("unix_micros(ts) div 900000000"))
      .withColumn("slide", explode(expr("sequence(k - 3, k)")))
      .withColumn("win_start", timestamp_micros(col("slide") * lit(900000000L)))
      .groupBy(col("win_start"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("win_start"))

  private val streamSlideOracle =
    """SELECT make_timestamp(slide * 900000000) AS win_start,
      |  COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
      |FROM (SELECT *, unnest(generate_series((epoch_us(ts) // 900000000) - 3,
      |                                       epoch_us(ts) // 900000000)) AS slide
      |      FROM events) t
      |GROUP BY 1
      |ORDER BY win_start""".stripMargin

  // -------------------------------------------------------------- stream_session
  /** Session windows (2-hour inactivity gap) per user — the classic
    * sessionization rewrite: gap flag via lag, session id via running
    * sum, then one aggregate per session.
    */
  def streamSession(spark: SparkSession, dir: String): DataFrame = {
    val wOrder = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 2L * 3600 * 1000000
    Tables.events(spark, dir)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("new_sess",
        when(col("ts_us") - lag(col("ts_us"), 1).over(wOrder) > gapUs ||
          lag(col("ts_us"), 1).over(wOrder).isNull, lit(1)).otherwise(lit(0)))
      .withColumn("sess_id",
        sum(col("new_sess")).over(wOrder.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(
        min(col("ts_us")).as("sess_start_us"),
        max(col("ts_us")).as("sess_end_us"),
        count(lit(1)).as("n_events"))
      .filter(col("n_events") >= 3)
      .orderBy(col("user_id"), col("sess_id"))
  }

  private val streamSessionOracle =
    """WITH flagged AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id) > 7200000000
      |         OR LAG(epoch_us(ts), 1)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |    THEN 1 ELSE 0 END AS new_sess
      |  FROM events),
      |sessions AS (
      |  SELECT user_id, ts_us,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM flagged)
      |SELECT user_id, sess_id, MIN(ts_us) AS sess_start_us,
      |  MAX(ts_us) AS sess_end_us, COUNT(*) AS n_events
      |FROM sessions
      |GROUP BY user_id, sess_id
      |HAVING COUNT(*) >= 3
      |ORDER BY user_id, sess_id""".stripMargin

  // ------------------------------------------------------------ stream_watermark
  /** Watermark batch analog: drop events later than max(ts) − 10 min
    * (the late-data cutoff a streaming watermark would enforce), then
    * aggregate. The scalar max broadcasts — no per-row recompute.
    */
  def streamWatermark(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cutoff = ev.agg((max(unix_micros(col("ts"))) - 600L * 1000000L).as("cut_us"))
    ev.crossJoin(broadcast(cutoff))
      .filter(unix_micros(col("ts")) <= col("cut_us"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_on_time"))
      .orderBy(col("event_type"))
  }

  private val streamWatermarkOracle =
    """SELECT event_type, COUNT(*) AS n_on_time
      |FROM events
      |WHERE epoch_us(ts) <= (SELECT MAX(epoch_us(ts)) - 600000000 FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------ stream_stateful
  /** Keyed running state (the PS analog in streaming: per-key counters
    * evolving with each record): cumulative count + cumulative sum per
    * user in event-time order — what mapGroupsWithState maintains
    * incrementally, expressed as a cumulative window.
    */
  def streamStateful(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(spark, dir)
      .filter(col("user_id") <= 10)
      .select(
        col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("state_n"),
        (sum(cents(col("value"))).over(w).cast("double") / 100.0).as("state_sum"))
      .orderBy(col("user_id"), col("event_id"))
  }

  private val streamStatefulOracle =
    """SELECT user_id, event_id,
      |  COUNT(*) OVER w AS state_n,
      |  CAST(CAST(SUM(CAST(ROUND((value)*100) AS BIGINT)) OVER w AS BIGINT) AS DOUBLE)/100.0
      |    AS state_sum
      |FROM events
      |WHERE user_id <= 10
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  // ----------------------------------------------------------- stream_dedup_late
  /** Exact dedup with bounded keys — dropDuplicates semantics: first
    * event per (user, minute, type) in event-time order survives (the
    * batch analog of dropDuplicatesWithinWatermark).
    */
  def streamDedupLate(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"), col("minute"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("minute", expr("unix_micros(ts) div 60000000"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("minute"), col("event_type"))
      .orderBy(col("event_id"))
  }

  private val streamDedupLateOracle =
    """SELECT event_id, user_id, minute, event_type FROM (
      |  SELECT event_id, user_id, epoch_us(ts) // 60000000 AS minute, event_type, ts,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts) // 60000000, event_type
      |      ORDER BY ts, event_id) AS rn
      |  FROM events) t
      |WHERE rn = 1
      |ORDER BY event_id""".stripMargin

  // -------------------------------------------------------------- join_interval
  /** Interval-containment join: purchases within 1 hour after a click by
    * the same user (equi key + time-range band — keyed, so the pair count
    * stays bounded per user; never a free cross join).
    */
  def joinInterval(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), unix_micros(col("ts")).as("click_us"),
        col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), unix_micros(col("ts")).as("purch_us"),
        col("event_id").as("purch_id"))
    clicks.join(purchases,
        col("cu") === col("pu") &&
          col("purch_us") > col("click_us") &&
          col("purch_us") <= col("click_us") + 3600L * 1000000L)
      .groupBy(col("cu").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("purch_id")).as("n_purchases"))
      .orderBy(col("user_id"))
  }

  private val joinIntervalOracle =
    """SELECT c.user_id AS user_id, COUNT(*) AS n_pairs,
      |  COUNT(DISTINCT p.event_id) AS n_purchases
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND epoch_us(p.ts) > epoch_us(c.ts)
      | AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
      |GROUP BY 1
      |ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------ join_range_band
  /** Keyless range COUNT via banded prefix sums — the scale pattern
    * for a PURE range predicate with no equi key (temporal alignment
    * across all keys, IP-range lookup). join_theta/join_interval ride
    * an equi key, so their range predicate comes free on the equi
    * shuffle; with no key a naive range join is a cartesian BNLJ, and
    * even a band-bucketed EQUI join materializes O(n · in-range
    * density) pairs — quadratic when density grows with the corpus
    * (this round's 20× rehearsal measured exactly that: 1.1 s at 10×
    * → 22.6 s at 20× under the denser-traffic growth shape). For an
    * interval COUNT the pairs are never needed: count(p) =
    * F(p+r) − F(p−r−1), where F(x) = #views with ts ≤ x. Each
    * purchase contributes two signed PROBE rows, probes and views
    * union and band by floor(us / 60 s); F at a probe = the in-band
    * running view count (a band-partitioned window, views sorted
    * before probes at equal us so F is inclusive) + the carry-in of
    * earlier bands' totals (an unpartitioned prefix window over ONE
    * row per band — bounded by time-range/60 s, one row per minute of
    * history, NOT by data volume; allowlisted in PlanLockSpec's
    * window sweep with this argument). Total cost: two shuffles and a
    * per-band sort — O(n log n) at ANY density. Query: per purchase, how many view
    * events ACROSS ALL USERS landed within ±60 s. The ORACLE states
    * the naive range semantics directly; only the plan differs.
    */
  def joinRangeBand(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val radiusUs = 60L * 1000000L
    val probes = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purch_id"), unix_micros(col("ts")).as("p_us"))
      .select(col("purch_id"), explode(array(
        struct((col("p_us") + radiusUs).as("us"), lit(1L).as("sign")),
        struct((col("p_us") - radiusUs - 1L).as("us"), lit(-1L).as("sign")))).as("pr"))
      .select(col("purch_id"), col("pr.us").as("us"), col("pr.sign").as("sign"),
        lit(0L).as("is_view"))
    val views = ev.filter(col("event_type") === "view")
      .select(lit(null).cast("long").as("purch_id"), unix_micros(col("ts")).as("us"),
        lit(0L).as("sign"), lit(1L).as("is_view"))
    val all = probes.unionByName(views)
      .withColumn("band", expr(s"us div $radiusUs"))
    val wIn = Window.partitionBy(col("band"))
      .orderBy(col("us"), col("is_view").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val withRun = all.withColumn("run", sum(col("is_view")).over(wIn))
    val wBand = Window.orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = all.groupBy(col("band")).agg(sum(col("is_view")).as("bv"))
      .withColumn("carry", coalesce(sum(col("bv")).over(wBand), lit(0L)))
      .select(col("band"), col("carry"))
    withRun.filter(col("purch_id").isNotNull)
      .join(carry, "band")
      .groupBy(col("purch_id"))
      .agg(sum(col("sign") * (col("run") + col("carry"))).as("n_near_views"))
      .orderBy(col("purch_id"))
  }

  private val joinRangeBandOracle =
    """SELECT p.event_id AS purch_id,
      |  (SELECT COUNT(*) FROM events v
      |   WHERE v.event_type = 'view'
      |     AND abs(epoch_us(v.ts) - epoch_us(p.ts)) <= 60000000) AS n_near_views
      |FROM events p
      |WHERE p.event_type = 'purchase'
      |ORDER BY purch_id""".stripMargin

  // --------------------------------------------------------------- event_funnel
  /** Funnel analysis: how many users complete view → click → purchase
    * in event-time order. Per user, one aggregation computes the first
    * timestamp of each step (conditional MINs — no joins, no explode);
    * stage reached = how far the ordered chain holds. The sequential-
    * pattern shape of the reference's EDBT'18 prediction line restated
    * as a single map-side-combined pass; output is the funnel summary.
    */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame = {
    val firsts = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_buy"))
    firsts
      .select(
        when(col("t_view").isNull, 0L)
          .when(col("t_click").isNull || col("t_click") <= col("t_view"), 1L)
          .when(col("t_buy").isNull || col("t_buy") <= col("t_click"), 2L)
          .otherwise(3L).as("stage"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("stage"))
  }

  private val eventFunnelOracle =
    """WITH f AS (
      |  SELECT user_id,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
      |    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
      |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
      |  FROM events GROUP BY user_id),
      |s AS (
      |  SELECT CASE
      |    WHEN t_view IS NULL THEN 0
      |    WHEN t_click IS NULL OR t_click <= t_view THEN 1
      |    WHEN t_buy IS NULL OR t_buy <= t_click THEN 2
      |    ELSE 3 END AS stage
      |  FROM f)
      |SELECT CAST(stage AS BIGINT) AS stage, COUNT(*) AS n_users
      |FROM s GROUP BY stage ORDER BY stage""".stripMargin

  // -------------------------------------------------------------- agg_retention
  /** Cohort retention: users grouped by first-seen week, counted in
    * each later week they were active — the (cohort week × offset)
    * matrix every growth dashboard draws. Two aggregations (first-seen,
    * then distinct activity) joined on the user key, week arithmetic in
    * integer days; output in long form to honor the scalar-output
    * invariant. Both aggs are map-side combined; nothing exceeds
    * O(users × active weeks).
    */
  def aggRetention(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("cast(datediff(cast(ts as date), date'1970-01-01') as bigint) div 7")
          .as("week"))
    val weeks = days.distinct()
    val cohort = weeks.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    weeks.join(cohort, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("offset_weeks"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .filter(col("offset_weeks") <= 8)
      .orderBy(col("cohort_week"), col("offset_weeks"))
  }

  private val aggRetentionOracle =
    """WITH w AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
      |         AS BIGINT) AS week
      |  FROM events),
      |c AS (SELECT user_id, MIN(week) AS cohort_week FROM w GROUP BY 1)
      |SELECT cohort_week, week - cohort_week AS offset_weeks,
      |  COUNT(DISTINCT user_id) AS n_active
      |FROM w JOIN c USING (user_id)
      |WHERE week - cohort_week <= 8
      |GROUP BY 1, 2 ORDER BY cohort_week, offset_weeks""".stripMargin

  // ---------------------------------------------------------------- pred_stream
  /** Online prediction + continuous evaluation (EDBT'18 shape): model =
    * per-type mean from the first 20 days, scored on later events with a
    * rolling mean absolute error. Model mean is rounded to cents so the
    * per-row error is an exact 2dp value — the rolling sum then runs on
    * integers.
    */
  def predStream(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cut = lit("2024-01-21 00:00:00").cast("timestamp")
    val model = ev.filter(col("ts") < cut)
      .groupBy(col("event_type"))
      .agg((round(avg2(col("value")) * 100) / 100.0).as("pred"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-9, 0)
    ev.filter(col("ts") >= cut)
      .join(model, "event_type")
      .withColumn("abs_err_c", abs(cents(col("value")) - cents(col("pred"))))
      .select(
        col("event_type"), col("event_id"),
        (sum(col("abs_err_c")).over(w).cast("double") / 100.0 /
          count(lit(1)).over(w).cast("double")).as("rolling_mae"))
      .orderBy(col("event_type"), col("event_id"))
  }

  private val predStreamOracle =
    s"""WITH model AS (
       |  SELECT event_type,
       |    ROUND((${oAvg2("value")}) * 100) / 100.0 AS pred
       |  FROM events WHERE ts < TIMESTAMP '2024-01-21 00:00:00'
       |  GROUP BY event_type)
       |SELECT e.event_type AS event_type, e.event_id AS event_id,
       |  CAST(SUM(ABS(${oCents("e.value")} - ${oCents("m.pred")})) OVER w AS DOUBLE)/100.0
       |    / CAST(COUNT(*) OVER w AS DOUBLE) AS rolling_mae
       |FROM events e JOIN model m ON e.event_type = m.event_type
       |WHERE e.ts >= TIMESTAMP '2024-01-21 00:00:00'
       |WINDOW w AS (PARTITION BY e.event_type ORDER BY e.ts, e.event_id
       |  ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
       |ORDER BY event_type, event_id""".stripMargin

  // ---------------------------------------------------------------- ts_resample
  /** Time-series downsampling to hourly OHLC bars per event type — the
    * standard resample verb (metrics rollups, financial bars, sensor
    * decimation). Open/close need a DETERMINISTIC first/last: rows are
    * ranked by the unique composite (ts, event_id) inside each bucket
    * with one ascending window (row_number + count(*) makes the same
    * pass yield both endpoints), then one groupBy folds the bar. Two
    * shuffles total on (bucket, type) — at 100 TB the window and the
    * groupBy share the same partitioning, so the second exchange is
    * planner-elided. Money stays integer cents end to end. */
  def tsResample(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("h"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"),
        col("ts"), col("event_id"), cents(col("value")).as("c"))
      .withColumn("rn", row_number().over(w))
      // NB: count over the ORDERED window would be the RUNNING count
      // (default frame ends at CURRENT ROW) and rn == cnt on every row;
      // the partition total needs the unordered window.
      .withColumn("cnt", count(lit(1)).over(
        Window.partitionBy(col("h"), col("event_type"))))
      .groupBy(col("h"), col("event_type"))
      .agg(
        max(when(col("rn") === 1, col("c"))).as("open_c"),
        max(col("c")).as("high_c"),
        min(col("c")).as("low_c"),
        max(when(col("rn") === col("cnt"), col("c"))).as("close_c"),
        count(lit(1)).as("n"))
      .orderBy(col("h"), col("event_type"))
  }

  private val tsResampleOracle =
    s"""WITH r AS (
       |  SELECT date_trunc('hour', ts) AS h, event_type,
       |         ${oCents("value")} AS c,
       |         row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
       |                            ORDER BY ts, event_id) AS rn,
       |         count(*) OVER (PARTITION BY date_trunc('hour', ts), event_type) AS cnt
       |  FROM events)
       |SELECT h, event_type,
       |       MAX(CASE WHEN rn = 1 THEN c END) AS open_c,
       |       MAX(c) AS high_c, MIN(c) AS low_c,
       |       MAX(CASE WHEN rn = cnt THEN c END) AS close_c,
       |       COUNT(*) AS n
       |FROM r GROUP BY h, event_type
       |ORDER BY h, event_type""".stripMargin

  // -------------------------------------------------------------------- ts_fill
  /** Gap filling over a DENSE generated time grid: rare series (the
    * 'error' type) skip hours entirely, and a training join against a
    * sparse series silently drops those rows — the fix every
    * time-series pipeline needs is a generated per-key hour spine +
    * forward fill. The spine comes from sequence() over the observed
    * [min, max] hour per type (exploded — no driver collect), the
    * observed hourly sums left-join onto it, `n` zero-fills, and the
    * running value forward-fills with last_value IGNORE NULLS. At
    * 100 TB the spine is O(keys × buckets) — tiny next to the events —
    * and the fill is one window pass per key. */
  def tsFill(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_c"))
    val spine = hourly.groupBy(col("event_type"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    spine.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("sum_c"), ignoreNulls = true).over(
          Window.partitionBy(col("event_type")).orderBy(col("h"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("sum_c_filled"))
      .orderBy(col("event_type"), col("h"))
  }

  private val tsFillOracle =
    s"""WITH hourly AS (
       |  SELECT event_type, date_trunc('hour', ts) AS h,
       |         COUNT(*) AS n, CAST(SUM(${oCents("value")}) AS BIGINT) AS sum_c
       |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
       |spine AS (
       |  SELECT event_type, unnest(generate_series(min(h), max(h),
       |                            INTERVAL 1 HOUR)) AS h
       |  FROM hourly GROUP BY event_type)
       |SELECT s.event_type, s.h,
       |       COALESCE(hy.n, 0) AS n,
       |       last_value(hy.sum_c IGNORE NULLS) OVER (
       |         PARTITION BY s.event_type ORDER BY s.h
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_c_filled
       |FROM spine s LEFT JOIN hourly hy
       |  ON s.event_type = hy.event_type AND s.h = hy.h
       |ORDER BY s.event_type, s.h""".stripMargin

  // ------------------------------------------------------------------ ts_trend
  /** Per-series linear trend (OLS slope + R²) over hourly sums — the
    * metrics verb behind "is this series drifting". Exact where it can
    * be: x (hour index from the series' first hour) and y (cents) are
    * integers, all five moments (Σx, Σy, Σxy, Σx², Σy²) are integer
    * sums (order-independent), and slope = num/den touches floating
    * point only in ONE IEEE division + multiply per output — identical
    * inputs give bitwise-identical doubles in both engines (no libm).
    * slope_e6 = round(1e6·(nΣxy−ΣxΣy)/(nΣx²−(Σx)²)); r2_e6 likewise
    * from num²/(den·denY). Magnitude audit: x ≤ 720 (a month of
    * hours), y ≤ 10⁷ cents/hour ⇒ nΣxy < 10¹⁵, far under Long — the
    * moments fit until ~10⁴× the fixture density (then widen to
    * decimal). One shuffle to hourly buckets (map-side combinable),
    * one 5-ary window for the per-series x offset, one 5-row reduce. */
  def tsTrend(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(cents(col("value"))).as("y"))
    val xed = hourly
      .withColumn("sec", col("h").cast("long"))
      .withColumn("x", expr(
        "(sec - min(sec) OVER (PARTITION BY event_type)) div 3600"))
    xed.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("deny", col("n") * col("syy") - col("sy") * col("sy"))
      .select(col("event_type"), col("n"),
        round(col("num").cast("double") / col("den").cast("double") * 1e6)
          .cast("long").as("slope_e6"),
        round(col("num").cast("double") * col("num").cast("double") /
          (col("den").cast("double") * col("deny").cast("double")) * 1e6)
          .cast("long").as("r2_e6"))
      .orderBy(col("event_type"))
  }

  private val tsTrendOracle =
    s"""WITH hourly AS (
       |  SELECT event_type, date_trunc('hour', ts) AS h,
       |         CAST(SUM(${oCents("value")}) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |xed AS (
       |  SELECT event_type, y,
       |         (epoch_us(h) // 1000000
       |          - min(epoch_us(h) // 1000000) OVER (PARTITION BY event_type))
       |         // 3600 AS x
       |  FROM hourly),
       |m AS (
       |  SELECT event_type, COUNT(*) AS n,
       |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       |         CAST(SUM(x * y) AS BIGINT) AS sxy,
       |         CAST(SUM(x * x) AS BIGINT) AS sxx,
       |         CAST(SUM(y * y) AS BIGINT) AS syy
       |  FROM xed GROUP BY event_type)
       |SELECT event_type, n,
       |       CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
       |                  / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000.0)
       |            AS BIGINT) AS slope_e6,
       |       CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
       |                  * CAST(n * sxy - sx * sy AS DOUBLE)
       |                  / (CAST(n * sxx - sx * sx AS DOUBLE)
       |                     * CAST(n * syy - sy * sy AS DOUBLE)) * 1000000.0)
       |            AS BIGINT) AS r2_e6
       |FROM m ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------ ts_acf
  /** Sample autocorrelation at lags 1..3 per series — the "is there
    * hourly persistence?" diagnostic that precedes any forecasting
    * model. r_L = Σ(y_t−ȳ)(y_{t+L}−ȳ) / Σ(y_t−ȳ)² with ȳ the full-series
    * mean; multiplying through by n² clears the fractional mean, so
    * every term is an exact integer moment: n²·P_L − n·S·(H_L+T_L) +
    * m_L·S² over den n²·SS − n·S². The moments are LONG sums; the
    * combinations go through DECIMAL(38,0) (HUGEINT in the oracle)
    * because m·S² ≈ 4.5e19 already exceeds long range at sf0.1 — then
    * ONE IEEE division per (series, lag), e6-rounded (tsTrend's Det
    * contract). Lags are INDEX lags over the observed-hour sequence
    * (sparse series: compose with ts_fill's dense spine for time lags).
    * One shuffle (hourly pre-aggregate); the window lead() and the
    * final aggregate reuse its partitioning. All three lags come from
    * one pass — lead(y,1..3) in the same window frame, null-guarded
    * pair sums — not three self-joins.
    */
  def tsAcf(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(cents(col("value"))).as("y"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val led = hourly.select(col("event_type"), col("y"),
      lead(col("y"), 1).over(w).as("y1"),
      lead(col("y"), 2).over(w).as("y2"),
      lead(col("y"), 3).over(w).as("y3"))
    val lagAggs = (1 to 3).flatMap { l =>
      Seq(count(col(s"y$l")).as(s"m$l"),
        sum(col("y") * col(s"y$l")).as(s"p$l"),
        sum(when(col(s"y$l").isNotNull, col("y"))).as(s"h$l"),
        sum(col(s"y$l")).as(s"t$l"))
    }
    val aggs = Seq(count(lit(1)).as("n"), sum(col("y")).as("s"),
      sum(col("y") * col("y")).as("ss")) ++ lagAggs
    val agg = led.groupBy(col("event_type")).agg(aggs.head, aggs.tail: _*)
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    def acfE6(l: Int) = round(
      (dec(col("n")) * dec(col("n")) * dec(col(s"p$l"))
        - dec(col("n")) * dec(col("s")) * (dec(col(s"h$l")) + dec(col(s"t$l")))
        + dec(col(s"m$l")) * dec(col("s")) * dec(col("s"))).cast("double")
        / (dec(col("n")) * dec(col("n")) * dec(col("ss"))
          - dec(col("n")) * dec(col("s")) * dec(col("s"))).cast("double")
        * 1e6).cast("long").as(s"acf$l")
    agg.select(col("event_type") +: col("n") +:
        (1 to 3).flatMap(l => Seq(col(s"m$l"), acfE6(l))): _*)
      .select(col("event_type"), explode(array((1 to 3).map(l =>
        struct(lit(l).as("lag"), col(s"m$l").as("n_pairs"),
          col(s"acf$l").as("acf_e6"))): _*)).as("r"))
      .select(col("event_type"), col("r.lag").as("lag"),
        col("r.n_pairs").as("n_pairs"), col("r.acf_e6").as("acf_e6"))
      .orderBy(col("event_type"), col("lag"))
  }

  private val tsAcfOracle =
    s"""WITH hourly AS (
       |  SELECT event_type, date_trunc('hour', ts) AS h,
       |         CAST(SUM(${oCents("value")}) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |led AS (
       |  SELECT event_type, y,
       |         lead(y, 1) OVER (PARTITION BY event_type ORDER BY h) AS y1,
       |         lead(y, 2) OVER (PARTITION BY event_type ORDER BY h) AS y2,
       |         lead(y, 3) OVER (PARTITION BY event_type ORDER BY h) AS y3
       |  FROM hourly),
       |m AS (
       |  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
       |         CAST(SUM(y) AS HUGEINT) AS s, CAST(SUM(y*y) AS HUGEINT) AS ss,
       |         CAST(COUNT(y1) AS HUGEINT) AS m1, CAST(SUM(y*y1) AS HUGEINT) AS p1,
       |         CAST(SUM(CASE WHEN y1 IS NOT NULL THEN y END) AS HUGEINT) AS h1,
       |         CAST(SUM(y1) AS HUGEINT) AS t1,
       |         CAST(COUNT(y2) AS HUGEINT) AS m2, CAST(SUM(y*y2) AS HUGEINT) AS p2,
       |         CAST(SUM(CASE WHEN y2 IS NOT NULL THEN y END) AS HUGEINT) AS h2,
       |         CAST(SUM(y2) AS HUGEINT) AS t2,
       |         CAST(COUNT(y3) AS HUGEINT) AS m3, CAST(SUM(y*y3) AS HUGEINT) AS p3,
       |         CAST(SUM(CASE WHEN y3 IS NOT NULL THEN y END) AS HUGEINT) AS h3,
       |         CAST(SUM(y3) AS HUGEINT) AS t3
       |  FROM led GROUP BY event_type)
       |SELECT event_type, lag, n_pairs, acf_e6 FROM (
       |  SELECT event_type, 1 AS lag, CAST(m1 AS BIGINT) AS n_pairs,
       |         CAST(ROUND(CAST(n*n*p1 - n*s*(h1+t1) + m1*s*s AS DOUBLE)
       |                    / CAST(n*n*ss - n*s*s AS DOUBLE) * 1000000.0)
       |              AS BIGINT) AS acf_e6 FROM m
       |  UNION ALL
       |  SELECT event_type, 2, CAST(m2 AS BIGINT),
       |         CAST(ROUND(CAST(n*n*p2 - n*s*(h2+t2) + m2*s*s AS DOUBLE)
       |                    / CAST(n*n*ss - n*s*s AS DOUBLE) * 1000000.0)
       |              AS BIGINT) FROM m
       |  UNION ALL
       |  SELECT event_type, 3, CAST(m3 AS BIGINT),
       |         CAST(ROUND(CAST(n*n*p3 - n*s*(h3+t3) + m3*s*s AS DOUBLE)
       |                    / CAST(n*n*ss - n*s*s AS DOUBLE) * 1000000.0)
       |              AS BIGINT) FROM m)
       |ORDER BY event_type, lag""".stripMargin

  // ------------------------------------------------------------- event_markov
  /** First-order Markov transition counts over each user's time-ordered
    * event stream — the behavioral model behind next-action prediction
    * and funnel-drop diagnosis. One window pass pairs every event with
    * its successor (lag chain, the event_pattern machinery), one
    * groupBy counts (from, to) cells, and the row-conditional
    * probability is the exact integer floor-div p_e6 = 1e6·n/row_n —
    * no IEEE step at all. Scale: shuffle on user_id once, window
    * order-locally, then a 25-cell aggregate; the transition matrix is
    * O(|event types|²) regardless of corpus size. */
  def eventMarkov(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_n", sum(col("n")).over(
        Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(1000000 * n) div row_n").as("p_e6"))
      .orderBy(col("from_type"), col("to_type"))
  }

  private val eventMarkovOracle =
    """WITH pairs AS (
      |  SELECT event_type AS from_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |cells AS (
      |  SELECT from_type, to_type, COUNT(*) AS n
      |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |       CAST((1000000 * n) // CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
      |            AS BIGINT) AS p_e6
      |FROM cells ORDER BY from_type, to_type""".stripMargin

  // ------------------------------------------------------------- ts_seasonal
  /** Day-of-week seasonal index per series: mean(value | dow) relative
    * to the series mean, as e6-scaled integers — the decomposition
    * step that separates weekly shape from level before any forecast
    * or anomaly threshold. The ratio of two rational means clears to
    * one integer expression: idx_e6 = round(1e6 · dow_sum·n_total /
    * (dow_n·total_sum)) — exact integer products (≤ ~2e8·7e5 ≈ 1e14·n,
    * DECIMAL/HUGEINT-carried), ONE IEEE division at the end. A single
    * groupBy(series, dow) then a tiny per-series broadcast-back of the
    * totals (7 rows join 1 row per series via a window — no second
    * scan): cost is one shuffle of 35 groups regardless of row count,
    * the fully map-side-combinable shape. */
  def tsSeasonal(spark: SparkSession, dir: String): DataFrame = {
    val byDow = Tables.events(spark, dir)
      .groupBy(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"))
      .agg(count(lit(1)).as("dow_n"), sum(cents(col("value"))).as("dow_sum"))
    val w = Window.partitionBy(col("event_type"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    byDow
      .withColumn("tot_n", sum(col("dow_n")).over(w))
      .withColumn("tot_sum", sum(col("dow_sum")).over(w))
      .select(col("event_type"), col("dow"), col("dow_n"),
        round((dec(col("dow_sum")) * dec(col("tot_n"))).cast("double")
          / (dec(col("dow_n")) * dec(col("tot_sum"))).cast("double") * 1e6)
          .cast("long").as("idx_e6"))
      .orderBy(col("event_type"), col("dow"))
  }

  private val tsSeasonalOracle =
    s"""WITH by_dow AS (
       |  SELECT event_type, CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
       |         COUNT(*) AS dow_n,
       |         CAST(SUM(${oCents("value")}) AS BIGINT) AS dow_sum
       |  FROM events GROUP BY 1, 2),
       |tot AS (
       |  SELECT *, SUM(dow_n) OVER (PARTITION BY event_type) AS tot_n,
       |         SUM(dow_sum) OVER (PARTITION BY event_type) AS tot_sum
       |  FROM by_dow)
       |SELECT event_type, dow, dow_n,
       |       CAST(ROUND(CAST(CAST(dow_sum AS HUGEINT) * tot_n AS DOUBLE)
       |                  / CAST(CAST(dow_n AS HUGEINT) * tot_sum AS DOUBLE)
       |                  * 1000000.0) AS BIGINT) AS idx_e6
       |FROM tot ORDER BY event_type, dow""".stripMargin

  // ------------------------------------------------------------- ts_changepoint
  /** CUSUM changepoint detection per series: the hour where the
    * cumulative deviation from the series mean peaks — the standard
    * level-shift locator (Page 1954). All-integer trick: the running
    * deviation Σᵢ(xᵢ − μ) needs a fractional μ, but n·Σᵢ(xᵢ − μ) =
    * n·Σᵢxᵢ − i·Σx is INTEGER, has its |max| at the same hour (n > 0
    * scales, never reorders), and never overflows before ~10⁹ hours ×
    * 10⁷ cents. Two window passes per series (running sum, then
    * argmax by (|cusum| desc, h)) sharing one partitioning, one hourly
    * pre-aggregate shuffle before them. Output: the located hour, its
    * scaled peak, and the two half means (in cents, floored) as the
    * shift evidence. */
  def tsChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val wAll = Window.partitionBy(col("event_type"))
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(sum(cents(col("value"))).as("x"))
    val cum = hourly
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("cx", sum(col("x")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sx", sum(col("x")).over(wAll))
      // n·Σ_{j≤i} x_j − i·Σx  ==  n · CUSUM_i, integer-exact; x ≥ 0 in
      // this fixture so every div below has non-negative operands
      // (Spark div truncates, DuckDB // floors — equal only there)
      .withColumn("cusum", col("n") * col("cx") - col("i") * col("sx"))
    cum
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(abs(col("cusum")).desc, col("h"))))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("h").as("cp_hour"), col("cusum"),
        expr("cx div i").as("mean_before_c"),
        // flat single-bucket series would put the peak at i = n; NULL
        // beats a divide-by-zero discrepancy between engines
        expr("(sx - cx) div nullif(n - i, 0)").as("mean_after_c"))
      .orderBy(col("event_type"))
  }

  private val tsChangepointOracle =
    s"""WITH hourly AS (
       |  SELECT event_type, date_trunc('hour', ts) AS h,
       |         CAST(SUM(${oCents("value")}) AS BIGINT) AS x
       |  FROM events GROUP BY 1, 2),
       |cum AS (
       |  SELECT event_type, h,
       |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) AS i,
       |         CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY h
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cx,
       |         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
       |         CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS sx
       |  FROM hourly)
       |SELECT event_type, h AS cp_hour, n * cx - i * sx AS cusum,
       |       cx // i AS mean_before_c,
       |       (sx - cx) // NULLIF(n - i, 0) AS mean_after_c
       |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
       |        ORDER BY abs(n * cx - i * sx) DESC, h) AS rk
       |      FROM cum)
       |WHERE rk = 1 ORDER BY event_type""".stripMargin

  // -------------------------------------------------------------- event_pattern
  /** Row-pattern detection (the MATCH_RECOGNIZE verb, compiled to lag
    * chains — Spark has no MATCH_RECOGNIZE; strictly-consecutive
    * patterns are exactly expressible with lag over the per-key
    * event-time order, which is also how a streaming CEP engine's NFA
    * sees them). Pattern here: view → click → purchase CONSECUTIVE in
    * one user's stream (no interleaving events — stricter than
    * event_funnel's first-timestamp funnel) and completing within 24
    * hours. Emits one row per match anchored at the purchase. One
    * shuffle on user_id; the lag window is the same pass a
    * sessionization would ride. (Round 7: the bound was 2 h, which the
    * fixture's event spacing never satisfies — the oracle matched on
    * the empty set at every SF, a vacuous pass. 24 h yields a
    * deterministic non-empty match set: 5 rows at sf0.001, 54 at
    * sf0.01, measured in DuckDB before the change.)
    */
  def eventPattern(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("t1", lag(col("event_type"), 1).over(w))
      .withColumn("t2", lag(col("event_type"), 2).over(w))
      .withColumn("ts2", lag(col("ts"), 2).over(w))
      .withColumn("eid2", lag(col("event_id"), 2).over(w))
      .filter(col("event_type") === "purchase" && col("t1") === "click" &&
        col("t2") === "view" &&
        col("ts").cast("long") - col("ts2").cast("long") <= 86400L)
      .select(col("user_id"), col("eid2").as("view_id"),
        col("event_id").as("purchase_id"),
        (col("ts").cast("long") - col("ts2").cast("long")).as("span_sec"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  private val eventPatternOracle =
    """WITH r AS (
      |  SELECT user_id, ts, event_id, event_type,
      |         lag(event_type, 1) OVER w AS t1,
      |         lag(event_type, 2) OVER w AS t2,
      |         lag(ts, 2) OVER w AS ts2,
      |         lag(event_id, 2) OVER w AS eid2
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, eid2 AS view_id, event_id AS purchase_id,
      |       epoch_us(ts) // 1000000 - epoch_us(ts2) // 1000000 AS span_sec
      |FROM r
      |WHERE event_type = 'purchase' AND t1 = 'click' AND t2 = 'view'
      |  AND epoch_us(ts) // 1000000 - epoch_us(ts2) // 1000000 <= 86400
      |ORDER BY user_id, purchase_id""".stripMargin

  // --------------------------------------------------------- event_attribution
  /** Last-touch attribution — every purchase credits the most recent
    * preceding non-purchase event (the "touch") in the same user's
    * stream; purchases with no prior touch are 'organic'. The classic
    * marketing-analytics verb, and the same carry-forward shape as
    * win_ignore_nulls: one per-user window with last(...IGNORE NULLS)
    * over a strictly-preceding frame, then a 5-ary groupBy. One shuffle
    * on user_id; the report agg reuses nothing heavier than a
    * broadcast-sized channel table. Event order is (µs, event_id) in
    * BOTH engines — the oracle orders by epoch_us(ts) because DuckDB
    * keeps the fixture's nanoseconds while Spark truncates to µs on
    * read (FIXTURES.md), and a raw-ts order could diverge inside a
    * microsecond. */
  def eventAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), cents(col("value")).as("c"))
      .withColumn("touch", last(
        when(col("event_type") =!= "purchase", col("event_type")),
        ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("organic")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("c")).as("revenue_c"))
      .orderBy(col("channel"))
  }

  private val eventAttributionOracle =
    s"""WITH t AS (
       |  SELECT event_type, ${oCents("value")} AS c,
       |         last_value(CASE WHEN event_type <> 'purchase'
       |                         THEN event_type END IGNORE NULLS)
       |           OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
       |  FROM events)
       |SELECT COALESCE(touch, 'organic') AS channel,
       |       COUNT(*) AS n_purchases,
       |       CAST(SUM(c) AS BIGINT) AS revenue_c
       |FROM t WHERE event_type = 'purchase'
       |GROUP BY 1 ORDER BY channel""".stripMargin

  // ---------------------------------------------------------------- ts_outlier
  /** Robust per-series outlier detection: median / MAD (median absolute
    * deviation) in integer cents, flagging |x − med| > 5·MAD. Mean/σ
    * z-scores break under the very outliers they hunt; MAD has a 50%
    * breakdown point and stays all-integer here, so the result is
    * bitwise cross-engine. Both medians are computed MANUALLY (row at
    * position (n+1) div 2 of the per-type value order) rather than via
    * median()/quantile_disc(), whose even-count tie conventions differ
    * between engines. Cost: one map-side-combinable histogram groupBy
    * over the rows, then two window passes over DISTINCT values only
    * (see the in-body note); at 100 TB the serving path is the
    * mergeable GK sketch (sketch_quantile) — this is its exact-median
    * contract twin. */
  def tsOutlier(spark: SparkSession, dir: String): DataFrame = {
    // Histogram form (round-9): both medians and the outlier counts
    // depend only on the (value, multiplicity) histogram per series, so
    // fold the event stream to (event_type, c, cnt) FIRST — one
    // map-side-combinable groupBy — and run everything downstream over
    // the value universe, not the row stream. The old form sorted the
    // FULL relation twice inside WindowExec (per-type row_number to
    // locate the median row); here the window sorts distinct values
    // (bounded by the cents range at any corpus size — the axis that
    // matters at 100 TB, where rows are unbounded but a metric's value
    // span is not). Results are bit-identical: the row at 1-based
    // position (n+1) div 2 of the (c, event_id) order has value v iff v
    // is the smallest value whose cumulative count reaches the position
    // (rows below v all precede it, rows at v straddle it), so the
    // event_id tiebreak never influenced the median VALUE. Measured
    // (filtered A/B, idle host, sf0.1): a wash locally — 1.59 vs 1.63 s
    // minima — because distinct cents ≈ rows/2 at this SF; the rewrite
    // is for the scale axis, where the ratio is unbounded.
    // NOT persisted: every consumer embeds this same groupBy subtree,
    // so AQE exchange reuse computes the histogram once within the one
    // job — the round-9 sketch_minhash measurement (persist replaced
    // free reuse with cache materialization, +0.6 s) applies verbatim
    val h = Tables.events(spark, dir)
      .select(col("event_type"), cents(col("value")).as("c"))
      .groupBy(col("event_type"), col("c")).agg(count(lit(1)).as("cnt"))
    def medianOf(hist: DataFrame, valueCol: String, out: String): DataFrame = {
      // RANGE frame, not ROWS: tied values must share one cumulative
      // count so "first value reaching the position" is well-defined
      val wc = Window.partitionBy(col("event_type")).orderBy(col(valueCol))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("cum", sum(col("cnt")).over(wc))
        .withColumn("n",
          sum(col("cnt")).over(Window.partitionBy(col("event_type"))))
        // `div`, not `/`: Column./ is double division and a fractional
        // position never equals an integer cumulative count boundary
        .groupBy(col("event_type"))
        .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col(valueCol))).as(out))
    }
    val med = medianOf(h, "c", "med_c")
    // |c - med| collapses value pairs equidistant from the median, so
    // re-aggregate before the second median; med/mad are ≤ 5 rows —
    // broadcast them rather than letting the planner guess at stats
    val hdev = h.join(broadcast(med), "event_type")
      .groupBy(col("event_type"), col("med_c"),
        abs(col("c") - col("med_c")).as("dev"))
      .agg(sum(col("cnt")).as("cnt"))
    val mad = medianOf(hdev.select(col("event_type"), col("dev"), col("cnt")),
      "dev", "mad_c")
    hdev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"), col("med_c"), col("mad_c"))
      .agg(sum(col("cnt")).as("n"),
        sum(when(col("dev") > lit(5) * col("mad_c"), col("cnt")).otherwise(0L))
          .as("n_outliers"),
        max(col("dev")).as("max_dev_c"))
      .orderBy(col("event_type"))
  }

  private val tsOutlierOracle =
    s"""WITH base AS (
       |  SELECT event_type, event_id, ${oCents("value")} AS c FROM events),
       |med AS (
       |  SELECT event_type,
       |         MAX(CASE WHEN rn = (n + 1) // 2 THEN c END) AS med_c
       |  FROM (SELECT event_type, c,
       |               row_number() OVER (PARTITION BY event_type ORDER BY c, event_id) AS rn,
       |               count(*) OVER (PARTITION BY event_type) AS n
       |        FROM base)
       |  GROUP BY event_type),
       |dev AS (
       |  SELECT b.event_type, b.event_id, m.med_c, abs(b.c - m.med_c) AS dev
       |  FROM base b JOIN med m USING (event_type)),
       |mad AS (
       |  SELECT event_type,
       |         MAX(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad_c
       |  FROM (SELECT event_type, dev,
       |               row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
       |               count(*) OVER (PARTITION BY event_type) AS n
       |        FROM dev)
       |  GROUP BY event_type)
       |SELECT d.event_type, d.med_c, a.mad_c, COUNT(*) AS n,
       |       CAST(SUM(CASE WHEN d.dev > 5 * a.mad_c THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       |       MAX(d.dev) AS max_dev_c
       |FROM dev d JOIN mad a USING (event_type)
       |GROUP BY d.event_type, d.med_c, a.mad_c
       |ORDER BY d.event_type""".stripMargin

  def queries: Seq[GQuery] = Seq(
    GQuery("event_attribution", eventAttribution, Some(eventAttributionOracle),
      "last-touch purchase attribution via carry-forward window"),
    GQuery("ts_outlier", tsOutlier, Some(tsOutlierOracle),
      "median/MAD robust outlier counts per series, all-integer"),
    GQuery("ts_trend", tsTrend, Some(tsTrendOracle),
      "per-series OLS slope+R2 from exact integer moments, one IEEE div"),
    GQuery("ts_changepoint", tsChangepoint, Some(tsChangepointOracle),
      "integer CUSUM level-shift locator per series"),
    GQuery("ts_acf", tsAcf, Some(tsAcfOracle),
      "autocorrelation lags 1-3 from exact integer moments, one div each"),
    GQuery("ts_seasonal", tsSeasonal, Some(tsSeasonalOracle),
      "day-of-week seasonal index per series, integer ratio-of-means"),
    GQuery("event_markov", eventMarkov, Some(eventMarkovOracle),
      "first-order Markov transition matrix, integer floor-div probs"),
    GQuery("event_pattern", eventPattern, Some(eventPatternOracle),
      "MATCH_RECOGNIZE-style consecutive view->click->purchase via lags"),
    GQuery("ts_resample", tsResample, Some(tsResampleOracle),
      "hourly OHLC downsampling, deterministic open/close endpoints"),
    GQuery("ts_fill", tsFill, Some(tsFillOracle),
      "dense hour spine + zero/forward fill for sparse series"),
    GQuery("event_funnel", eventFunnel, Some(eventFunnelOracle),
      "view->click->purchase funnel stages via conditional first-ts mins"),
    GQuery("agg_retention", aggRetention, Some(aggRetentionOracle),
      "weekly cohort retention matrix in long form"),
    GQuery("stream_tumble", streamTumble, Some(streamTumbleOracle),
      "tumbling 1h event-time window aggregate"),
    GQuery("stream_slide", streamSlide, Some(streamSlideOracle),
      "sliding 1h/15m window aggregate"),
    GQuery("stream_session", streamSession, Some(streamSessionOracle),
      "session windows via gap+cumulative-sum sessionization"),
    GQuery("stream_watermark", streamWatermark, Some(streamWatermarkOracle),
      "late-data cutoff (watermark batch analog)"),
    GQuery("stream_stateful", streamStateful, Some(streamStatefulOracle),
      "keyed running state (mapGroupsWithState batch analog)"),
    GQuery("stream_dedup_late", streamDedupLate, Some(streamDedupLateOracle),
      "exact dedup, first-in-event-time survives"),
    GQuery("join_interval", joinInterval, Some(joinIntervalOracle),
      "interval containment join (keyed time band)"),
    GQuery("join_range_band", joinRangeBand, Some(joinRangeBandOracle),
      "keyless interval count via banded prefix sums (O(n log n) at any density)"),
    GQuery("pred_stream", predStream, Some(predStreamOracle),
      "train/score split + rolling MAE (online eval shape)")
  )
}
