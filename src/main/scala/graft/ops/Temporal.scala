package graft.ops

import graft.Exact._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal operators Spark lacks as built-ins, composed from relational
  * primitives (SURVEY §2.5/§2.7 "absent in reference" extensions):
  * as-of join and session windows, plus exact percentiles.
  */
object Temporal {

  /** AS-OF join: for each event, the latest order of that customer at or
    * before the event time (nulls when none) — the point-in-time lookup
    * every feature/training pipeline needs and Spark has no operator for.
    *
    * Composition (the 100 TB-safe shape): tag and union both sides, one
    * hash partition by key, one sort by (ts, tag), then
    * `last(value, ignoreNulls)` over the running frame — right rows
    * (tag 0) sort before left rows at equal ts, giving inclusive
    * "at or before". One shuffle; no range cross-product, no skew beyond
    * the key's own distribution. The right side is first deduped to one
    * row per (key, ts) so the match is deterministic.
    * Oracle: DuckDB's native ASOF LEFT JOIN. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val right = Tables.orders(spark, dir)
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(max($"o_orderkey").as("o_orderkey"))
      .select($"o_custkey".as("k"), $"o_orderdate".as("t"),
        lit(0).as("tag"), lit(null).cast("long").as("event_id"), $"o_orderkey")
    val left = Tables.events(spark, dir)
      .select($"user_id".as("k"), $"ts".as("t"),
        lit(1).as("tag"), $"event_id", lit(null).cast("long").as("o_orderkey"))
    val w = Window.partitionBy($"k").orderBy($"t", $"tag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    right.unionByName(left)
      .withColumn("matched", last($"o_orderkey", ignoreNulls = true).over(w))
      .filter($"tag" === 1)
      .select($"event_id", $"k".as("user_id"), unix_millis($"t").as("ts_ms"),
        $"matched".as("o_orderkey"))
      .orderBy($"event_id")
  }

  val asofJoinSql: String =
    """SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, o.o_orderkey
      |FROM events ASOF LEFT JOIN
      |  (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      |   FROM orders GROUP BY 1, 2) o
      |  ON events.user_id = o.o_custkey AND events.ts >= o.o_orderdate
      |ORDER BY event_id""".stripMargin

  /** Gap for session windows (6 h, calibrated so the fixture's ~7 h
    * median inter-event gap yields a mix of merged and single sessions). */
  val SessionGapMs = 21600000L

  /** Session windows per user via Spark's session_window; the oracle
    * re-derives the same sessions with gaps-and-islands SQL (new session
    * iff diff >= gap — the same strict merge boundary Spark uses).
    * Scale: one shuffle on user_id; session state is per-key and
    * sort-merged, not held in memory across keys. */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"user_id", session_window($"ts", "6 hours").as("sw"))
      .agg(count(lit(1)).as("n_events"), dsum($"value").as("sum_value"))
      .select($"user_id",
        unix_millis($"sw.start").as("start_ms"),
        (unix_millis($"sw.end") - SessionGapMs).as("last_ms"),
        $"n_events", $"sum_value")
      .orderBy($"user_id", $"start_ms")
  }

  val sessionWindowsSql: String =
    s"""WITH g AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= $SessionGapMs
       |      THEN 1 ELSE 0 END AS new_s
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       |s AS (
       |  SELECT user_id, ts, value,
       |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM g)
       |SELECT user_id,
       |  min(epoch_ms(ts)) AS start_ms,
       |  max(epoch_ms(ts)) AS last_ms,
       |  COUNT(*) AS n_events,
       |  CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS sum_value
       |FROM s GROUP BY user_id, sid
       |ORDER BY user_id, start_ms""".stripMargin

  /** Exact percentiles (median + p90) per group — Spark's `percentile`
    * uses the same linear interpolation as DuckDB's quantile_cont. */
  def aggPercentile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(
        percentile($"value", lit(0.5)).as("p50"),
        percentile($"value", lit(0.9)).as("p90"))
      .orderBy($"event_type")
  }

  val aggPercentileSql: String =
    """SELECT event_type,
      |  quantile_cont(value, 0.5) AS p50,
      |  quantile_cont(value, 0.9) AS p90
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
}

/** Event-time window aggregation in batch form (ST1 extension). */
object TimeWindows {

  /** Sliding windows: 12 h windows every 6 h — each event lands in two.
    * Spark aligns window starts to the 1970 epoch; the oracle expands
    * each event to its two covering starts with the same arithmetic.
    * Scale: the ×2 row expansion happens map-side before the partial
    * aggregate; shuffle carries only (window, type) group states. */
  def slidingCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy(window($"ts", "12 hours", "6 hours").as("w"), $"event_type")
      .agg(count(lit(1)).as("cnt"))
      .select(unix_millis($"w.start").as("ws_ms"), $"event_type", $"cnt")
      .orderBy($"ws_ms", $"event_type")
  }

  val slidingCountsSql: String =
    """SELECT ws_ms, event_type, COUNT(*) AS cnt
      |FROM (SELECT event_type,
      |        UNNEST([(epoch_ms(ts) // 21600000) * 21600000,
      |                (epoch_ms(ts) // 21600000) * 21600000 - 21600000]) AS ws_ms
      |      FROM events)
      |GROUP BY ws_ms, event_type
      |ORDER BY ws_ms, event_type""".stripMargin

  /** approx_percentile (the t-digest-style sketch companion to the exact
    * percentiles): rows-only — sketch internals are engine-specific, the
    * accuracy bound is asserted in ScalaTest against the exact values. */
  def aggApproxPercentile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(
        approx_percentile($"value", lit(0.5), lit(1000)).as("p50_approx"),
        approx_percentile($"value", lit(0.9), lit(1000)).as("p90_approx"))
      .orderBy($"event_type")
  }

  /** Z-score bar above which an hourly bucket is flagged. */
  val AnomalyBar = 3.0

  /** Registered query: rate-anomaly detection over the event stream —
    * the ES-Watcher/alerting staple: hourly per-type counts, each
    * bucket z-scored against its type's own distribution, |z| >
    * [[AnomalyBar]] flagged. Every number is deterministic: counts
    * are exact integers, mean and E[x²] are exact-integer sums under
    * one double division, the variance/σ arithmetic is written in the
    * same operation order in both engines, and sqrt is correctly
    * rounded everywhere — so the z column itself is EMITTED, no
    * rank-only hedging.
    *
    * Shape at 100 TB: bucketing is one map-side-combined aggregate to
    * (type × hour) grain; the per-type moments are a TYPE-grain
    * aggregate that re-enters by broadcast; the z projection is
    * per-row. The stream form of the same signal is the observed
    * metrics in [[graft.streaming.IngestPipeline]] — this is its
    * batch/backfill counterpart. */
  def eventsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // self-scored: the baseline IS this corpus's own history — the
    // serving split ([[eventStatsOf]] persisted via
    // [[materializeEventStats]], applied by [[anomaliesWithStats]])
    // shares these exact expressions, so backfill ≡ live by
    // construction. Buckets use integral `div`, not fp `/`+floor: the
    // oracle's `//` is exact integer division and a half-ulp fp
    // rounding at a bucket boundary would shift a count between
    // buckets.
    val ev = Tables.events(spark, dir)
    anomaliesWithStats(ev, eventStatsOf(ev))
      .orderBy($"ws_ms", $"event_type")
  }

  val eventsAnomalySql: String = {
    val z = "CASE WHEN msq - mean * mean <= 0 THEN CAST(0 AS DOUBLE) " +
      "ELSE (CAST(cnt AS DOUBLE) - mean) / sqrt(msq - mean * mean) END"
    s"""WITH b AS (
       |  SELECT event_type, (epoch_ms(ts) // 3600000) * 3600000 AS ws_ms,
       |    COUNT(*) AS cnt
       |  FROM events GROUP BY 1, 2),
       |s AS (
       |  SELECT event_type,
       |    CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS mean,
       |    CAST(SUM(cnt * cnt) AS DOUBLE) / COUNT(*) AS msq
       |  FROM b GROUP BY event_type)
       |SELECT ws_ms, event_type, cnt, $z AS z,
       |  abs($z) > $AnomalyBar AS is_anomaly
       |FROM b JOIN s USING (event_type)
       |ORDER BY ws_ms, event_type""".stripMargin
  }

  /** The per-type moment table [[eventsAnomaly]] derives, as its own
    * frame — the anomaly family's MODEL artifact (type, mean, msq):
    * train once on the historical stream, persist, score every later
    * bucket against it. */
  def eventStatsOf(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    bucketsOf(ev).groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"cnt").as("s"),
        sum($"cnt" * $"cnt").as("sq"))
      .select($"event_type",
        ($"s".cast("double") / $"n").as("mean"),
        ($"sq".cast("double") / $"n").as("msq"))
  }

  private def bucketsOf(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    ev.select($"event_type",
        (expr("unix_millis(ts) div 3600000") * 3600000L).as("ws_ms"))
      .groupBy($"event_type", $"ws_ms")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Persist the anomaly baseline for the corpus at `dir` — the
    * materializeRatios convention applied to monitoring state. */
  def materializeEventStats(spark: SparkSession, dir: String,
      outDir: String): Unit =
    eventStatsOf(Tables.events(spark, dir))
      .coalesce(1).write.mode("overwrite").parquet(outDir)

  /** Score an arriving event frame's hourly buckets against a
    * PERSISTED baseline — batch, or per-micro-batch inside a
    * `foreachBatch` sink (the bucketing is an aggregation, so the
    * streaming form scores each micro-batch's buckets the way
    * [[graft.streaming.CuratedPipeline.curateBatch]] drives its
    * serving calls; the D-row stats table enters by broadcast).
    * Flags for the same buckets are bit-identical to
    * [[eventsAnomaly]] trained on the same history, because the z
    * arithmetic is the shared expression on the same exact integers.
    * The live form of the backfill query: baseline from last month,
    * alerts on today's arrivals. */
  def anomaliesWithStats(ev: DataFrame, stats: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    // zero-variance guard: a type whose history is constant (always
    // true for a single-bucket type) has msq == mean² EXACTLY (both
    // are exact-integer arithmetic under one division), and 0/0 is
    // NULL in Spark but nan in the oracle's IEEE division — define
    // z = 0 there (a count equal to its constant history is not an
    // anomaly); the <= also clamps the tiny negative fp residue a
    // NON-constant history can leave in msq - mean²
    val varr = $"msq" - $"mean" * $"mean"
    val z = when(varr <= 0.0, lit(0.0))
      .otherwise(($"cnt".cast("double") - $"mean") / sqrt(varr))
    // LEFT join: an arriving type ABSENT from the persisted baseline
    // is precisely what a monitor must surface, not drop — it flags
    // unconditionally with a NULL z (no history to score against).
    // The self-scored backfill query never takes this branch (its
    // baseline is its own history), so the oracle is unaffected.
    bucketsOf(ev).join(broadcast(stats), Seq("event_type"), "left")
      .select($"ws_ms", $"event_type", $"cnt", z.as("z"),
        coalesce(abs(z) > AnomalyBar, lit(true)).as("is_anomaly"))
  }

  /** The ordered step sequence [[funnelSteps]] measures. */
  val FunnelSteps: Seq[String] = Seq("view", "click", "purchase")

  /** Registered query: ordered-sequence funnel analysis — how many
    * users performed view → click → purchase IN TIME ORDER (each step
    * strictly after the user's earliest completion of the previous
    * one, the standard product-analytics funnel; mere co-occurrence
    * of the event types does not count). Emits one row per step
    * prefix with the surviving user count.
    *
    * Shape at 100 TB: each step is one user-grain conditional min
    * aggregate over the (type-filtered, predicate-pushed) event scan,
    * joined to the previous step's user-grain frame — every shuffle
    * keys on user_id, so AQE/exchange-reuse co-partitions the whole
    * chain; nothing wider than (user, ts) ever moves. The final
    * counts are three 1-row aggregates. */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame =
    funnelStepsOf(Tables.events(spark, dir))

  /** [[funnelSteps]] over an arbitrary (user_id, event_type, ts) frame
    * — the test seam (the fixture's users all complete every step, so
    * the strict-ordering semantics are exercised on constructed
    * sequences). */
  def funnelStepsOf(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    // each step frame feeds TWO consumers — the next step's join and
    // its own survivor count branch — and the union's branches do NOT
    // share runtime exchanges (ExplainAudit --executed r18: 11 event
    // scans, 1 ReusedExchange), so without a barrier step 1's scan ran
    // 3× and step 2's chain 2×. Both are shared: the frames are
    // user-grain (user_id, ts), tiny next to the event scan they save.
    // step 1: earliest 'view' per user
    val s1 = Dsl.share(ev.filter($"event_type" === FunnelSteps(0))
      .groupBy($"user_id").agg(min($"ts").as("t1")))
    // step 2: earliest 'click' strictly after t1
    val s2 = Dsl.share(ev.filter($"event_type" === FunnelSteps(1))
      .join(s1, "user_id")
      .filter($"ts" > $"t1")
      .groupBy($"user_id").agg(min($"ts").as("t2")))
    // step 3: earliest 'purchase' strictly after t2 — ONE consumer
    // (its count branch), no barrier needed
    val s3 = ev.filter($"event_type" === FunnelSteps(2))
      .join(s2, "user_id")
      .filter($"ts" > $"t2")
      .groupBy($"user_id").agg(min($"ts").as("t3"))
    val rows = Seq(
      (1, FunnelSteps(0), s1), (2, FunnelSteps.take(2).mkString("->"), s2),
      (3, FunnelSteps.mkString("->"), s3))
    rows.map { case (i, label, df) =>
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(i).as("step"), lit(label).as("steps"), $"n_users")
    }.reduce(_ unionByName _).orderBy($"step")
  }

  val funnelStepsSql: String =
    s"""WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
       |            WHERE event_type = '${FunnelSteps(0)}' GROUP BY user_id),
       |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
       |       JOIN s1 ON e.user_id = s1.user_id
       |       WHERE e.event_type = '${FunnelSteps(1)}' AND e.ts > s1.t1
       |       GROUP BY e.user_id),
       |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
       |       JOIN s2 ON e.user_id = s2.user_id
       |       WHERE e.event_type = '${FunnelSteps(2)}' AND e.ts > s2.t2
       |       GROUP BY e.user_id)
       |SELECT 1 AS step, '${FunnelSteps(0)}' AS steps, COUNT(*) AS n_users FROM s1
       |UNION ALL
       |SELECT 2, '${FunnelSteps.take(2).mkString("->")}', COUNT(*) FROM s2
       |UNION ALL
       |SELECT 3, '${FunnelSteps.mkString("->")}', COUNT(*) FROM s3
       |ORDER BY step""".stripMargin

  /** Registered query: weekly cohort retention — users grouped by the
    * week of their FIRST event (the cohort), each later week's
    * activity counted as distinct returning users at that week
    * offset. The standard retention triangle, all integer arithmetic
    * (weeks by exact integral division — the [[eventsAnomaly]]
    * boundary lesson).
    *
    * Shape at 100 TB: first-seen is one user-grain min aggregate;
    * activity is one distinct (user, week) aggregate of the same
    * scan; the offset join keys on user_id like the funnel chain; the
    * triangle itself is (weeks²)-grain — tiny. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wk = "div 604800000"
    val ev = Tables.events(spark, dir)
      .select($"user_id", expr(s"unix_millis(ts) $wk").as("week"))
    val first = ev.groupBy($"user_id").agg(min($"week").as("cohort_week"))
    val active = ev.distinct()
    active.join(first, "user_id")
      .groupBy($"cohort_week", ($"week" - $"cohort_week").as("week_offset"))
      .agg(countDistinct($"user_id").as("n_users"))
      .orderBy($"cohort_week", $"week_offset")
  }

  val cohortRetentionSql: String =
    s"""WITH ev AS (SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week
       |            FROM events),
       |f AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY user_id)
       |SELECT f.cohort_week, ev.week - f.cohort_week AS week_offset,
       |  COUNT(DISTINCT ev.user_id) AS n_users
       |FROM ev JOIN f ON ev.user_id = f.user_id
       |GROUP BY 1, 2
       |ORDER BY cohort_week, week_offset""".stripMargin

  /** Registered query: ES `date_histogram` WITH sub-aggregations —
    * the canonical dashboard aggregation the reference's ES sink
    * exists to serve: day buckets (epoch-day integers, the cohort
    * week-integer convention — engine-exact, no timezone arithmetic)
    * each carrying event count, distinct users, distinct types, and
    * the MODAL event type (`terms` sub-aggregation size 1; ties break
    * lexicographically, encoded as a min over (−count, type) structs
    * so the pick is a map-side-combinable aggregate, not a window).
    *
    * Shape at 100 TB: two aggregates over one scan — (day) and
    * (day, type) grain, both map-side combined — joined at DAY grain
    * (tiny); countDistinct expands to the standard two-phase
    * partial-distinct plan. */
  def dateHistogram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        $"user_id", $"event_type")
    val byDay = ev.groupBy($"day").agg(
      count(lit(1)).as("n_events"),
      countDistinct($"user_id").as("n_users"),
      countDistinct($"event_type").as("n_types"))
    val top = ev.groupBy($"day", $"event_type")
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"day")
      .agg(min(struct((-$"cnt").as("nc"), $"event_type".as("t"))).as("m"))
      .select($"day", $"m.t".as("top_type"), (-$"m.nc").as("top_count"))
    byDay.join(top, "day").orderBy($"day")
  }

  val dateHistogramSql: String =
    s"""WITH ev AS (
       |  SELECT epoch_ms(ts) // 86400000 AS day, user_id, event_type
       |  FROM events),
       |d AS (
       |  SELECT day, COUNT(*) AS n_events,
       |    COUNT(DISTINCT user_id) AS n_users,
       |    COUNT(DISTINCT event_type) AS n_types
       |  FROM ev GROUP BY day),
       |t AS (
       |  SELECT day, event_type, COUNT(*) AS cnt,
       |    ROW_NUMBER() OVER (PARTITION BY day
       |                       ORDER BY COUNT(*) DESC, event_type) AS rn
       |  FROM ev GROUP BY day, event_type)
       |SELECT d.day, d.n_events, d.n_users, d.n_types,
       |  t.event_type AS top_type, t.cnt AS top_count
       |FROM d JOIN t ON d.day = t.day AND t.rn = 1
       |ORDER BY d.day""".stripMargin
}
