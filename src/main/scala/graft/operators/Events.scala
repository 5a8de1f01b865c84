package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Det._

/** Event-log analytics: time-window aggregation, gap sessionization,
  * funnels, semi-structured extraction. These are the batch twins of
  * the Structured Streaming jobs in [[graft.streaming.StreamingOps]];
  * both are pure key-partitioned plans (shuffle only on user_id /
  * window key), so the same shapes scale to a 100 TB event log.
  *
  * The events table's `ts` column has shipped in two physical forms:
  * TIMESTAMP(NANOS) (read as nanosecond longs via
  * spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS)
  * (read as TIMESTAMP_NTZ). [[events]] normalizes either to the same
  * pair of columns, so every query is storage-format independent.
  */
object Events {

  /** events with `ts` as a micros-precision TIMESTAMP (+ `ts_us` long),
    * regardless of how parquet stored it. Branches on the loaded type:
    *   - LongType: TIMESTAMP(NANOS) surfaced as nanos longs
    *     (spark.sql.legacy.parquet.nanosAsLong=true, set in
    *     [[graft.GraftSession]]); floor-divide to micros, exactly what
    *     DuckDB's reader does, so timestamps compare equal.
    *   - TIMESTAMP / TIMESTAMP_NTZ: micros-precision parquet; the NTZ
    *     cast is exact because the session time zone is pinned to UTC
    *     (GraftSession), matching DuckDB's naive-as-UTC reading.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = Tables.events(s, d)
    val tsUs: Column = raw.schema("ts").dataType match {
      case LongType          => expr("ts DIV 1000")
      case TimestampType     => unix_micros(col("ts"))
      case TimestampNTZType  => unix_micros(col("ts").cast(TimestampType))
      case other => throw new IllegalArgumentException(
        s"events.ts: unsupported physical type $other")
    }
    raw
      .withColumn("ts_us", tsUs)
      .withColumn("ts", timestamp_micros(col("ts_us")))
  }

  def qTumblingHourly(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .groupBy(date_trunc("hour", $"ts").as("hour"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
  }

  /** Gap-based sessionization (30-minute inactivity gap): running count
    * of gap-breaks per user = session id; then per-user session stats. */
  def qSessionize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts_us".asc, $"event_id".asc)
    val gapUs = 30L * 60 * 1000000
    events(s, d)
      .withColumn("prev_us", lag($"ts_us", 1).over(byUser))
      .withColumn("is_new",
        when($"prev_us".isNull || $"ts_us" - $"prev_us" > gapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum($"is_new").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id")
      .agg(max($"session_id").as("n_sessions"),
        count(lit(1)).as("n_events"))
  }

  /** Conversion funnel: earliest signup per user, earliest purchase at or
    * after it, and the conversion lag in microseconds. */
  def qFunnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
    val signup = ev.filter($"event_type" === "signup")
      .groupBy($"user_id")
      .agg(min($"ts").as("first_signup"))
    val purchase = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"))
    signup
      .join(purchase, $"user_id" === $"p_user" && $"p_ts" >= $"first_signup", "left")
      .groupBy($"user_id", $"first_signup")
      .agg(min($"p_ts").as("first_purchase_after"))
      .withColumn("conv_us",
        unix_micros($"first_purchase_after") - unix_micros($"first_signup"))
  }

  def qEventStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        countDistinct($"user_id").as("n_users"),
        davg($"value").as("avg_value"),
        min($"value").as("min_value"),
        max($"value").as("max_value"))
  }

  /** HOPPING-WINDOW event stats — the sliding dashboard aggregation
    * (1-hour windows hopping every 15 minutes): each event belongs to
    * exactly len/slide = 4 windows, emitted by the integer
    * window-start expansion (ts_us div slide − i)·slide — the same
    * expansion Spark's window(ts, len, slide) plans, written
    * explicitly so the grouping key is a plain BIGINT and the oracle
    * mirrors the arithmetic exactly (no timestamp-type coupling).
    * Scale: a ×4 row expansion into a map-combined agg keyed by
    * (window, type) — output bounded by time-range × types, the shape
    * that survives any event volume. */
  def qHopping(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val slideUs = 900000000L // 15 min; len = 4 × slide = 1 hour
    graft.Tables.fanOut(events(s, d), "event_id")
      .select($"ts_us", $"event_type", $"user_id", $"value")
      .withColumn("window_start_us", explode(expr(
        s"transform(sequence(0, 3), i -> " +
          s"(ts_us div ${slideUs}L - i) * ${slideUs}L)")))
      .groupBy($"window_start_us", $"event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct($"user_id").as("n_users"),
        dsum($"value").as("sum_value"))
  }

  /** Semi-structured extraction from the JSON `props` column. */
  def qJsonExtract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .withColumn("k", regexp_extract($"props", "([0-9]+)", 1).cast("long"))
      .groupBy($"event_type")
      .agg(sum($"k").as("sum_k"), max($"k").as("max_k"), count(lit(1)).as("n"))
  }

  /** Weekly cohort retention — the classic event-analytics matrix: for
    * each signup-week cohort, how many of its users are active 0, 1,
    * 2… weeks later. Two aggregations (cohort assignment, distinct
    * user-week activity) joined on user — both shuffles on user_id, so
    * the plan co-partitions and scales to any event-log size. Week
    * arithmetic stays on week-start dates (both engines truncate to
    * Monday), so offsets are exact multiples of 7 days. */
  def qRetention(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
    val cohort = ev.filter($"event_type" === "signup")
      .groupBy($"user_id")
      .agg(min(date_trunc("week", $"ts")).as("cohort_week"))
    val active = ev
      .select($"user_id".as("a_user"), date_trunc("week", $"ts").as("week"))
      .distinct()
    cohort.join(active, $"user_id" === $"a_user" && $"week" >= $"cohort_week")
      .select($"user_id", $"cohort_week",
        (datediff($"week", $"cohort_week") / 7).cast("long").as("week_offset"))
      .groupBy($"cohort_week", $"week_offset")
      .agg(countDistinct($"user_id").as("n_active"))
  }

  /** JSON-path extraction with a real JSON parser (get_json_object /
    * json_extract), not the regex shortcut of [[qJsonExtract]] — the
    * honest semi-structured surface: quotes, nesting and escapes are
    * handled, and a malformed document yields NULL, never a bogus
    * match. */
  def qJsonPath(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .withColumn("k", get_json_object($"props", "$.k").cast("long"))
      .groupBy($"event_type")
      .agg(count($"k").as("n_with_k"), sum($"k").as("sum_k"),
        countDistinct($"k").as("n_distinct_k"))
  }

  /** Sessionization via Spark's native session_window operator (merging
    * gap-based windows inside the aggregation itself) — the built-in
    * complement to the manual lag/running-sum formulation in
    * [[qSessionize]], and the same operator Structured Streaming uses
    * for streaming session windows. */
  def qSessionWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", unix_micros($"w.start").as("session_start_us"),
        $"n_events")
  }

  /** Time-series GAP FILL + forward fill — the resampling primitive
    * behind dashboards and feature pipelines: materialize EVERY hour in
    * each event type's [min, max] span (missing hours are absent from a
    * raw groupBy), count 0 for empty hours, and carry the last observed
    * hourly revenue forward (`last(..., ignoreNulls)` over an ordered
    * window = LAST_VALUE IGNORE NULLS). The spine is generated per
    * type from its own bounds — two small aggs + one explode, so spine
    * size is hours×types regardless of event volume; the window
    * partitions by type and never reshuffles the raw events. */
  def qGapFill(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hourly = events(s, d)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("hour"))
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
    val spine = hourly
      .groupBy($"event_type")
      .agg(min($"hour").as("h0"), max($"hour").as("h1"))
      .select($"event_type",
        explode(sequence($"h0", $"h1", expr("interval 1 hour"))).as("hour"))
    val w = Window.partitionBy($"event_type").orderBy($"hour".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("event_type", "hour"), "left")
      .select($"event_type", $"hour",
        coalesce($"n", lit(0L)).as("n"),
        last($"sum_value", ignoreNulls = true).over(w).as("filled_sum"),
        when($"n".isNull, 1L).otherwise(0L).as("is_gap"))
  }

  /** Deterministic sparse slice for [[qInterpolate]]: thin the event
    * log so the daily spine actually has holes to interpolate. */
  private val InterpMod = 97

  /** LINEAR INTERPOLATION over calendar gaps — the time-series repair
    * step downstream dashboards and anomaly baselines need: days with
    * no observations get the linear blend of their nearest present
    * neighbors. All arithmetic is integer-exact: daily sums are
    * decimal-exact micro-units (×10⁶ BIGINT), and the blend is the
    * cross-weighted form (pv·(nd−d) + nv·(d−pd)) div (nd−pd) — a
    * non-negative BIGINT numerator, so trunc-vs-floor division can't
    * diverge between engines. Scale shape: one shuffle agg over the
    * fact table, then IGNORE-NULLS windows on the CALENDAR×type spine
    * (domain-bounded, like [[qGapFill]]) — fact volume never enters
    * the window.
    *
    * PRECONDITION (pinned by EngineSpec): events.value ≥ 0, so the
    * blend numerator pv·(nd−d) + nv·(d−pd) is non-negative and
    * Spark's `div` (truncation) ≡ DuckDB's `//` ≡ floor. A negative
    * value stream would need floor-division explicitly on both
    * sides. */
  def qInterpolate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = events(s, d)
      .filter($"user_id" % InterpMod === 0)
      .groupBy($"event_type",
        date_trunc("day", $"ts").cast("date").as("day"))
      .agg((sum($"value".cast(Dec)) * 1000000).cast("long").as("v_e6"))
    val spine = daily.groupBy($"event_type")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"event_type",
        explode(sequence($"d0", $"d1", expr("interval 1 day"))).as("day"))
    val before = Window.partitionBy($"event_type").orderBy($"day".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val after = Window.partitionBy($"event_type").orderBy($"day".asc)
      .rowsBetween(1, Window.unboundedFollowing)
    spine.join(daily, Seq("event_type", "day"), "left")
      .select($"event_type", $"day", $"v_e6",
        last($"v_e6", ignoreNulls = true).over(before).as("pv"),
        last(when($"v_e6".isNotNull, $"day"), ignoreNulls = true)
          .over(before).as("pd"),
        first($"v_e6", ignoreNulls = true).over(after).as("nv"),
        first(when($"v_e6".isNotNull, $"day"), ignoreNulls = true)
          .over(after).as("nd"))
      .select($"event_type", $"day",
        coalesce($"v_e6",
          expr("(pv * datediff(nd, day) + nv * datediff(day, pd))" +
            " div datediff(nd, pd)")).as("filled_e6"),
        when($"v_e6".isNull, 1L).otherwise(0L).as("is_interp"))
  }

  /** EWMA horizon: lags beyond [[EwmaLags]] days carry weight
    * < 2⁻²⁰ of the newest observation — below the e6 fixed-point
    * resolution, so truncating there loses nothing representable. */
  private val EwmaLags = 20

  /** EXPONENTIALLY-WEIGHTED MOVING AVERAGE (α = 1/2) over the daily
    * value series — the smoothing baseline behind alerting and trend
    * dashboards, made integer-exact: weights are powers of two
    * (shiftleft, no floats), values are ×10⁶ micro-unit BIGINTs, and
    * the average is sum(v·w) div sum(w) with a non-negative numerator
    * (value ≥ 0 pinned by EngineSpec) so trunc ≡ floor on both
    * engines. Days with no observation contribute nothing and absorb
    * no weight (observation-gated EWMA).
    *
    * Scale shape: one shuffle agg over the fact table to the daily
    * spine, then a ×[[EwmaLags]] explode of the SPINE (domain-bounded:
    * event_type × calendar, never fact volume) and one more bounded
    * agg. The standard window-function EWMA is impossible to express
    * exactly (position-dependent weights); the scatter-to-target form
    * is, and it's embarrassingly parallel. */
  def qEwma(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = events(s, d)
      .filter($"user_id" % InterpMod === 0)
      .groupBy($"event_type",
        date_trunc("day", $"ts").cast("date").as("day"))
      .agg((sum($"value".cast(Dec)) * 1000000).cast("long").as("v_e6"))
    val top = EwmaLags - 1
    // scatter: day's value contributes to targets day..day+19 with
    // weight 2^(19 - lag); gather at the target, divide exactly
    val contrib = daily
      .select($"event_type", $"day", $"v_e6",
        explode(sequence(lit(0), lit(top))).as("k"))
      .select($"event_type", date_add($"day", $"k").as("day"),
        expr(s"v_e6 * shiftleft(CAST(1 AS BIGINT), $top - k)").as("vw"),
        expr(s"shiftleft(CAST(1 AS BIGINT), $top - k)").as("w"))
      .groupBy($"event_type", $"day")
      .agg(sum($"vw").as("num"), sum($"w").as("den"))
    contrib.join(daily.select($"event_type", $"day"),
        Seq("event_type", "day"), "left_semi")
      .select($"event_type", $"day",
        expr("num div den").as("ewma_e6"))
  }

  /** Thinning modulus for [[qScd2]] (coprime to [[InterpMod]] so the
    * two sliced queries exercise different user populations). */
  private val Scd2Mod = 89

  /** SCD TYPE-2 DIMENSION BUILD — the classic warehouse operator: the
    * event stream's per-user `event_type` is treated as a mutable
    * attribute, and each user's history is compacted into
    * validity-interval rows (state, valid_from, valid_to, version,
    * is_current) — consecutive repeats collapse, each change opens a
    * new interval closing the previous one. Pure change-data-capture:
    * lag() finds change points, lead() closes intervals, row_number()
    * versions them; all on the (ts_us, event_id) unique total order so
    * same-timestamp events break ties deterministically. Timestamps
    * surface as epoch-micro longs (the engine's oracle-stable form).
    * Scale shape: user-partitioned windows only — shuffle on user_id
    * once, no joins; at 100 TB this is the same plan wider. */
  def qScd2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us".asc, $"event_id".asc)
    events(s, d)
      .filter($"user_id" % Scd2Mod === 0)
      .select($"user_id", $"event_type".as("state"), $"ts_us", $"event_id")
      .withColumn("prev", lag($"state", 1).over(w))
      .filter($"prev".isNull || $"prev" =!= $"state")
      .select($"user_id", $"state", $"ts_us".as("valid_from_us"),
        lead($"ts_us", 1).over(w).as("valid_to_us"),
        row_number().over(w).cast("long").as("version"))
      .withColumn("is_current",
        when($"valid_to_us".isNull, 1L).otherwise(0L))
  }

  /** GAPS-AND-ISLANDS — activity-streak mining: per user, runs of
    * CONSECUTIVE active hours via the classic hour − row_number()
    * island key (constant within a run, distinct across runs), then a
    * corpus histogram of each user's longest streak. Everything is
    * integer-exact (epoch-hour indexes, counts). Scale shape: one
    * distinct + one user-partitioned window + two aggs — shuffles only
    * on user_id and never materializes a time spine, so a year of 100
    * TB events costs the same plan. */
  def qStreak(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hours = events(s, d)
      .select($"user_id", expr("ts_us DIV 3600000000").as("h"))
      .distinct()
    val w = Window.partitionBy($"user_id").orderBy($"h".asc)
    val streaks = hours
      .withColumn("isl", $"h" - row_number().over(w))
      .groupBy($"user_id", $"isl")
      .agg(count(lit(1)).as("len"))
    streaks
      .groupBy($"user_id")
      .agg(max($"len").as("longest_streak"), count(lit(1)).as("n_streaks"))
      .groupBy($"longest_streak")
      .agg(count(lit(1)).as("n_users"), sum($"n_streaks").as("sum_streaks"))
  }

  /** LAST-TOUCH ATTRIBUTION — the marketing-analytics staple: each
    * purchase is credited to the user's most recent PRECEDING
    * non-purchase event ("touch"), via LAST_VALUE IGNORE NULLS over a
    * rows-frame ending one row before current (unique (ts, event_id)
    * ordering, so credit assignment is deterministic). Purchases with
    * no prior touch land in 'none'. One user_id window + one small agg
    * — shuffles once on user_id at any scale. */
  def qAttribution(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts_us".asc, $"event_id".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, d)
      .withColumn("touch", last(
        when($"event_type" =!= "purchase", $"event_type"),
        ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .groupBy(coalesce($"touch", lit("none")).as("touch"))
      .agg(count(lit(1)).as("n_purchases"), dsum($"value").as("sum_value"))
  }

  /** Event-type CO-OCCURRENCE (market-basket shape): for every pair of
    * event types, how many users did both. The per-user distinct type
    * set is bounded by the type DOMAIN (not event volume), so the
    * self-join is co-partitioned on user_id and emits ≤ |domain|²/2
    * rows per user — linear in users at 100 TB. */
  def qCooccur(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ut = events(s, d).select($"user_id", $"event_type").distinct()
    ut.as("a").join(ut.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.event_type" < $"b.event_type")
      .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** ASSOCIATION RULES a→b over user behavior — [[qCooccur]] grown
    * into the full market-basket readout: for every DIRECTED pair of
    * event types, support n_ab, confidence = P(b|a) and lift =
    * P(ab)/(P(a)P(b)), all engine-exact integer ratios. Confidence is
    * n_ab·10⁹ div n_a (BIGINT-safe to ~9·10⁹ users); the lift
    * numerator n_ab·N·10⁹ passes BIGINT at ~10⁹ users, so it runs in
    * DECIMAL(38,0) (oracle: HUGEINT — identical quotients). Scale
    * shape: the (user, type) distinct set is bounded per user by the
    * type DOMAIN, the self-join is co-partitioned on user_id, and
    * every rule-side table (item counts, user total) is domain- or
    * 1-row-sized and broadcast — linear in users at 100 TB. */
  def qAssocRules(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val D = "DECIMAL(38,0)"
    // reused by pairs (self-join, ×2 keyed user_id), items, and the
    // user total (countDistinct's partial-distinct also keys user_id):
    // clustered by user_id so all three user-grain consumers read the
    // materialized table exchange-free; items' domain-grain agg
    // map-combines to ~|types|×partitions rows either way
    val nPart = graft.Tables.clusterParts(events(s, d))
    val ut = graft.functions.Cp.localClustered(
      events(s, d).select($"user_id", $"event_type").distinct(),
      nPart, Seq("user_id"))
    val items = ut.groupBy($"event_type").agg(count(lit(1)).as("n_item"))
    val total = ut.agg(countDistinct($"user_id").as("n_users"))
    ut.as("a").join(ut.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.event_type" =!= $"b.event_type")
      .groupBy($"a.event_type".as("antecedent"),
        $"b.event_type".as("consequent"))
      .agg(count(lit(1)).as("n_ab"))
      .join(broadcast(items.select($"event_type".as("antecedent"),
        $"n_item".as("n_a"))), Seq("antecedent"))
      .join(broadcast(items.select($"event_type".as("consequent"),
        $"n_item".as("n_b"))), Seq("consequent"))
      .crossJoin(broadcast(total))
      .select($"antecedent", $"consequent", $"n_ab", $"n_a", $"n_b",
        expr("n_ab * 1000000000 DIV n_a").as("conf_e9"),
        expr(s"CAST(n_ab AS $D) * CAST(n_users AS $D) " +
          s"* CAST(1000000000 AS $D) " +
          s"div (CAST(n_a AS $D) * CAST(n_b AS $D))").as("lift_e9"))
      .orderBy($"antecedent".asc, $"consequent".asc)
  }

  /** Running DISTINCT-COUNT window (daily active-user accumulation per
    * event type). Spark has no COUNT(DISTINCT) OVER — and at scale the
    * naive per-frame re-count is quadratic anyway. The scalable
    * decomposition: each user's FIRST day per type (one groupBy), daily
    * new-user counts, then a running sum over the day spine — the
    * window slides over days×types rows, never over raw events. */
  def qWindowDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val firstDay = events(s, d)
      .groupBy($"event_type", $"user_id")
      .agg(min(date_trunc("day", $"ts")).as("day"))
    val w = Window.partitionBy($"event_type").orderBy($"day".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstDay
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n_new_users"))
      .withColumn("cum_distinct_users", sum($"n_new_users").over(w))
  }

  /** Markov transition matrix over event types: per user, each event's
    * successor (lead over the unique (ts, event_id) order), then
    * global (from, to) counts and per-from transition probabilities at
    * a fixed 1e9 integer scale (BIGINT div — engine-exact, no float
    * ratio). The behavioral-model primitive behind next-action
    * prediction features. Scale shape: one shuffle on user_id for the
    * lead window, then a types²-sized aggregation — the matrix is
    * domain-bounded, never data-sized. */
  /** TOP USER JOURNEYS — the full-path census product analytics runs
    * beside per-step funnels: sessionize (the q_sessionize 30-min gap
    * rule), render each session as its exact ordered event-type path
    * string, and report the 20 most common paths. Session paths are
    * made order-DETERMINISTIC with the collect_list(struct(ts, id,
    * x)) → array_sort → transform idiom (bare collect_list order is
    * partition-dependent); the oracle's string_agg(… ORDER BY ts, id)
    * is its exact mirror. path_len is exact via MAX (constant per
    * path — the string determines its event count). Scale shape: the
    * sessionize windows partition by user, the path agg shuffles on
    * (user, session), and the census is one map-combinable agg with a
    * TakeOrdered top-k — no global sort, no data-sized window. */
  def qPathCensus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id")
      .orderBy($"ts_us".asc, $"event_id".asc)
    val gapUs = 30L * 60 * 1000000
    val paths = events(s, d)
      .withColumn("prev_us", lag($"ts_us", 1).over(byUser))
      .withColumn("is_new",
        when($"prev_us".isNull || $"ts_us" - $"prev_us" > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum($"is_new")
        .over(byUser.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy($"user_id", $"session_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct($"ts_us", $"event_id",
            $"event_type"))),
          x => x.getField("event_type")), ">").as("path"),
        count(lit(1)).as("len"))
    paths.groupBy($"path")
      .agg(count(lit(1)).as("n_sessions"), max($"len").as("path_len"))
      .orderBy($"n_sessions".desc, $"path".asc)
      .limit(20)
  }

  def qEventTransition(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    events(s, d)
      .select($"user_id", $"ts", $"event_id", $"event_type".as("from_type"))
      .withColumn("to_type", lead($"from_type", 1).over(w))
      .filter($"to_type".isNotNull)
      .groupBy($"from_type", $"to_type")
      .agg(count(lit(1)).as("n"))
      // per-from total as a partition window over the already-tiny
      // matrix — NOT a groupBy+self-join, which would re-run the whole
      // events scan/lead subtree once per join side
      .withColumn("tot",
        sum($"n").over(Window.partitionBy($"from_type")))
      .select($"from_type", $"to_type", $"n",
        expr("n * 1000000000 div tot").as("p_scaled"))
  }

  /** Behavioral SEQUENCE-PATTERN matching (the MATCH_RECOGNIZE family,
    * composed from primitives): each user's event history becomes a
    * compact symbol string — first letter per type, ordered by the
    * unique (ts, event_id) key via array_sort of structs, never a
    * bare collect_list (whose order is partition-dependent) — and
    * regex patterns count matching users in ONE aggregation pass
    * (stack unpivots the per-pattern counts; a per-pattern agg would
    * re-run the sequence build N times). Patterns are
    * RE2-and-Java-identical simple regexes, so the oracle reproduces
    * them verbatim. Scale shape: one shuffle on user_id; per-user
    * state is the type-character string, ~events-per-user bytes. */
  def qSeqPattern(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val patterns = Seq(
      "signup_then_purchase" -> "s.*p",
      "view_to_purchase_direct" -> "vp",
      "error_then_purchase" -> "e.*p",
      "pure_browser" -> "^[cv]+$")
    val seqs = events(s, d)
      .groupBy($"user_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"ts_us", $"event_id",
          substring($"event_type", 1, 1).as("c")))),
        x => x.getField("c")), "").as("seq"))
    val cols = patterns.map { case (nm, re) =>
      sum(when($"seq".rlike(re), 1L).otherwise(0L)).as(nm)
    }
    val counted = seqs.agg(cols.head, cols.tail: _*)
    val stack = patterns.map { case (nm, _) => s"'$nm', $nm" }
      .mkString(s"stack(${patterns.size}, ", ", ", ") as (pattern, n_users)")
    counted.select(expr(stack))
  }

  /** Integer-exact ANOMALY DETECTION: hourly event-count outliers per
    * type, flagged when |x − μ| > 2σ over that type's hour series —
    * with the test algebraically cleared of floats: (x·n − S)² >
    * 4·(n·Q − S²), where S = Σx and Q = Σx² are EXACT decimal window
    * sums. Spark computes in DECIMAL(38,0); the oracle mirrors in
    * HUGEINT — different exact integer types, identical booleans, so
    * the filter boundary can't flap on a rounding ulp (SURVEY §6
    * rule: integer-exact thresholds at filter boundaries). Scale
    * shape: one hours×types agg, then partition windows over that
    * tiny frame. */
  def qAnomaly(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wt = Window.partitionBy($"event_type")
    events(s, d)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("hour"))
      .agg(count(lit(1)).as("x"))
      .withColumn("n", count(lit(1)).over(wt))
      .withColumn("s", sum($"x").over(wt))
      .withColumn("q", sum($"x".cast("decimal(18,0)") *
        $"x".cast("decimal(18,0)")).over(wt))
      .withColumn("dev", ($"x" * $"n" - $"s").cast("decimal(19,0)"))
      .filter($"dev" * $"dev" >
        lit(4) * ($"n".cast("decimal(8,0)") * $"q" -
          $"s".cast("decimal(19,0)") * $"s".cast("decimal(19,0)")))
      .select($"event_type", $"hour", $"x", $"n", $"s")
  }

  /** Rolling 7-day active users per day (the WAU verb) WITHOUT a
    * sliding distinct-count window: dedupe to (day, user) once, then
    * each active day COVERS the 7 report days it contributes to
    * (explode of a constant 0–6 offset range) and a plain
    * count-distinct per cover day finishes it. The explode is ×7 on
    * the already-day-deduped frame — days×users rows, never raw
    * events — and the final distinct shuffles on the report day.
    * Report days trail 6 days past the last activity by construction
    * (the window extends; oracle mirrors). */
  def qRollingActive(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .select(date_trunc("day", $"ts").cast("date").as("d0"), $"user_id")
      .distinct()
      .select(explode(sequence(lit(0), lit(6))).as("off"), $"d0", $"user_id")
      .select(date_add($"d0", $"off").as("day"), $"user_id")
      .groupBy($"day")
      .agg(countDistinct($"user_id").as("wau"))
  }

  /** CONCENTRATION INDEX (Herfindahl–Hirschman) of user activity per
    * event type: Σ share_u² over users, at integer 1e9 scale —
    * hhi_1e9 = Σc_u² · 10⁹ div (Σc_u)², computed entirely in
    * DECIMAL(38,0) (oracle mirrors in HUGEINT; different exact types,
    * identical quotients — SURVEY §6). 10⁹·Σc² ≤ 10⁹·N² stays under
    * 10³⁸ up to N = 10¹⁴ events per type, so the headroom outlives any
    * realistic corpus. Scale shape: two map-side-combinable aggs
    * ((type,user) then type) — no window, no join. */
  def qConcentration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .groupBy($"event_type", $"user_id")
      .agg(count(lit(1)).as("c"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_users"),
        sum($"c").as("n_events"),
        sum($"c".cast("decimal(19,0)") * $"c".cast("decimal(19,0)")).as("sq"))
      .select($"event_type", $"n_users", $"n_events",
        expr("""sq * CAST(1000000000 AS DECIMAL(19,0)) div
                (CAST(n_events AS DECIMAL(19,0)) *
                 CAST(n_events AS DECIMAL(19,0)))""").as("hhi_1e9"))
  }

  /** ARG-MAX per group via struct ordering: the full row (who/when) of
    * each type's maximum-value event in ONE aggregate —
    * max(struct(value, ts, event_id, user_id)) compares field-by-field,
    * so the tie-break (latest ts, then highest event_id) is part of the
    * aggregate itself, not a second pass. No window, no self-join; the
    * oracle mirrors with a row_number pick whose ORDER BY is the same
    * field sequence DESC. Raw doubles only COMPARE here (never
    * arithmetic), so cross-engine determinism holds. */
  def qArgmax(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .groupBy($"event_type")
      .agg(max(struct($"value", $"ts", $"event_id", $"user_id")).as("m"))
      .select($"event_type", $"m.value".as("max_value"),
        $"m.ts".as("at_ts"), $"m.event_id".as("event_id"),
        $"m.user_id".as("user_id"))
  }

  private val CmsDepth = 4
  private val CmsWidth = 64L

  /** COUNT-MIN SKETCH — the bounded-memory frequency sketch: a
    * [[CmsDepth]]×[[CmsWidth]] integer counter matrix summarizes the
    * whole user-frequency distribution in O(d·w) space regardless of
    * stream volume or key cardinality, then point queries read
    * min over rows of counter[d][hash_d(key)] — one-sided error
    * (estimate ≥ truth, overshoot ≤ collisions in the LIGHTEST row).
    * Hash family is the house md5 prefix keyed by the row index, so
    * the sketch is deterministic and the DuckDB oracle reproduces the
    * exact counter matrix — the estimates match bit-for-bit, not just
    * approximately. Build = one explode(depth)+groupBy (map-side
    * combined, state d·w counters); update-mergeability is what makes
    * it the streaming/distributed heavy-hitter primitive. Probes here:
    * the first ten users, estimate next to truth. */
  def qCountmin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.md5Prefix60
    def bucketOf(dd: Column, key: Column): Column =
      pmod(md5Prefix60(
        concat(dd.cast("string"), lit(":"), key.cast("string"))),
        lit(CmsWidth))
    val ev = events(s, d).select($"user_id")
    // counter side explodes CmsDepth md5s per event map-side — fanOut
    // the heavy arm only (the <10-user probe stays on the plain scan).
    // Keyed by event_id (unique — fanOut's contract): a heavy-hitter
    // user would concentrate its rows in one partition and recreate
    // the single-task skew the fan-out exists to fix (r16 ADVICE).
    val counters = graft.Tables
      .fanOut(events(s, d).select($"event_id", $"user_id"), "event_id")
      .select($"user_id", explode(sequence(lit(0), lit(CmsDepth - 1))).as("d"))
      .select($"d", bucketOf($"d", $"user_id").as("bucket"))
      .groupBy($"d", $"bucket").agg(count(lit(1)).as("n"))
    ev.filter($"user_id" < 10)
      .groupBy($"user_id").agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"n_events",
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("d"))
      .select($"user_id", $"n_events", $"d",
        bucketOf($"d", $"user_id").as("bucket"))
      .join(counters, Seq("d", "bucket"))
      .groupBy($"user_id", $"n_events")
      .agg(min($"n").as("cms_estimate"))
  }

  private val KmvK = 64

  /** K-MINIMUM-VALUES distinct sketch — the third sketch of the family
    * ([[qCountmin]] frequencies, [[qHllRegisters]] log-scale distinct):
    * per event type the registers are the [[KmvK]] smallest DISTINCT
    * 60-bit md5 hashes of user_id, an order-statistic sketch whose
    * estimator (k−1)·2⁶⁰ / h₍ₖ₎ is pure integer arithmetic — computed
    * exactly in DECIMAL(38,0) (HUGEINT in the oracle, identical BIGINT
    * out; numerator 63·2⁶⁰ ≈ 7.3e19 overflows BIGINT). Registers carry
    * a rank-placement checksum (xor with r·1000003), and MERGEABILITY
    * is proven in-query: users split into two halves, each half
    * sketched independently, the union of the two register sets
    * re-sketched — `merged_checksum` must (and does) equal
    * `reg_checksum`, the property that lets 1000 executors sketch
    * shards independently and combine. Groups under k distinct users
    * fall back to the exact count (the KMV rule). Scale shape: one
    * distinct-grain shuffle agg over raw volume (map-side combine),
    * then per-group ordered windows at the DISTINCT-HASH grain — the
    * established top-k idiom; everything downstream is k-bounded. */
  def qKmv(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.md5Prefix60
    val hashes = events(s, d)
      .select($"event_type", pmod($"user_id", lit(2L)).as("half"),
        md5Prefix60($"user_id".cast("string")).as("h"))
      .distinct()
      .transform(graft.functions.Cp.local)
    val dist = hashes.select($"event_type", $"h").distinct()
      .transform(graft.functions.Cp.local)
    val wg = Window.partitionBy($"event_type").orderBy($"h".asc)
    val wh = Window.partitionBy($"event_type", $"half").orderBy($"h".asc)
    def checksum = bit_xor($"h".bitwiseXOR($"r".cast("long") * lit(1000003L)))
    val glob = dist
      .withColumn("r", row_number().over(wg)).where($"r" <= KmvK)
      .groupBy($"event_type").agg(
        count(lit(1)).as("n_reg"),
        max(when($"r" === KmvK, $"h")).as("kth"),
        checksum.as("reg_checksum"))
      .withColumn("est_distinct",
        when($"n_reg" < KmvK, $"n_reg").otherwise(expr(
          s"CAST(CAST(${KmvK - 1} AS DECIMAL(38,0)) * " +
            "CAST(1152921504606846976 AS DECIMAL(38,0)) DIV kth AS BIGINT)")))
    val merged = hashes
      .withColumn("r", row_number().over(wh)).where($"r" <= KmvK)
      .select($"event_type", $"h").distinct()
      .withColumn("r", row_number().over(wg)).where($"r" <= KmvK)
      .groupBy($"event_type").agg(checksum.as("merged_checksum"))
    val tot = dist.groupBy($"event_type").agg(count(lit(1)).as("n_exact"))
    glob.join(merged, Seq("event_type")).join(tot, Seq("event_type"))
      .select($"event_type", $"n_exact", $"n_reg", $"kth", $"est_distinct",
        $"reg_checksum", $"merged_checksum")
      .orderBy($"event_type".asc)
  }

  /** KMV SET ALGEBRA (theta-sketch shape) — what [[qHllSetops]] is to
    * HLL, this is to [[qKmv]]: audience overlap between the view and
    * purchase user sets from ONE bounded sketch. The union sketch is
    * the k smallest distinct hashes of A∪B — a GLOBAL top-k
    * (TakeOrderedAndProject, never a sort) — and θ = its kth value.
    * Every register below θ is a uniform sample at rate θ/2⁶⁰, so
    * |A∩B| ≈ n_both·2⁶⁰/θ and |A∪B| ≈ (k−1)·2⁶⁰/θ, both computed
    * EXACTLY in DECIMAL(38,0)/HUGEINT; the Jaccard estimate
    * n_both·10⁹ div k is pure BIGINT. The exact intersection runs
    * beside the estimate (one distinct-grain agg), so the output is
    * its own accuracy readout. Under k distinct the sketch falls back
    * to exact (θ = 2⁶⁰). One distinct-grain shuffle + one top-k;
    * everything downstream is k-bounded. */
  def qKmvSetops(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.md5Prefix60
    val flags = events(s, d)
      .filter($"event_type".isin("view", "purchase"))
      .select(md5Prefix60($"user_id".cast("string")).as("h"),
        ($"event_type" === "view").cast("int").as("a"),
        ($"event_type" === "purchase").cast("int").as("b"))
      .groupBy($"h")
      .agg(max($"a").as("in_a"), max($"b").as("in_b"))
      .transform(graft.functions.Cp.local)
    val exact = flags.agg(
      count(lit(1)).as("exact_union"),
      sum(($"in_a" === 1 && $"in_b" === 1).cast("long")).as("exact_inter"))
    val top = flags.orderBy($"h".asc).limit(KmvK)
      .agg(count(lit(1)).as("n_reg"),
        max($"h").as("kth"),
        sum(($"in_a" === 1 && $"in_b" === 1).cast("long")).as("n_both"),
        sum(($"in_a" === 1 && $"in_b" === 0).cast("long")).as("n_only_a"),
        sum(($"in_a" === 0 && $"in_b" === 1).cast("long")).as("n_only_b"))
    top.crossJoin(exact)
      .withColumn("theta",
        when($"n_reg" < KmvK, lit(1152921504606846976L)).otherwise($"kth"))
      .select($"n_reg", $"theta", $"n_both", $"n_only_a", $"n_only_b",
        when($"n_reg" < KmvK, $"n_reg").otherwise(expr(
          s"CAST(CAST(${KmvK - 1} AS DECIMAL(38,0)) * " +
            "CAST(1152921504606846976 AS DECIMAL(38,0)) DIV theta" +
            " AS BIGINT)")).as("est_union"),
        when($"n_reg" < KmvK, $"n_both").otherwise(expr(
          "CAST(CAST(n_both AS DECIMAL(38,0)) * " +
            "CAST(1152921504606846976 AS DECIMAL(38,0)) DIV theta" +
            " AS BIGINT)")).as("est_inter"),
        expr("n_both * 1000000000 DIV n_reg").as("jaccard_e9"),
        $"exact_union", $"exact_inter")
  }

  private val HllBuckets = 64L // 2^6 registers

  /** HYPERLOGLOG register construction — the mergeable
    * distinct-count sketch, built DETERMINISTICALLY so the register
    * table itself is oracle-checkable bit-for-bit (the one float step,
    * the harmonic estimator, lives in [[graft.functions.Hll.estimate]]
    * and is spec-gated for tolerance instead). Each key hashes to 60
    * bits (house md5 family): low 6 bits pick one of [[HllBuckets]]
    * registers, and the register keeps the max over keys of the
    * first-1-bit position in the remaining 54 bits — computed with
    * integer ops only (`55 − length(bin(rem))`, no logs). Build is one
    * narrow map + a 64-group agg; registers merge by element-wise max,
    * which is what makes the sketch union-able across shards/streams.
    * O(registers) state for any cardinality. */
  def qHllRegisters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.md5Prefix60
    events(s, d)
      .select(md5Prefix60($"user_id".cast("string")).as("h"))
      .select(pmod($"h", lit(HllBuckets)).as("bucket"),
        expr(s"h div $HllBuckets").as("rem"))
      .select($"bucket",
        when($"rem" === 0, lit(55L))
          .otherwise(lit(55L) - length(bin($"rem")).cast("long")).as("rho"))
      .groupBy($"bucket")
      .agg(max($"rho").as("max_rho"))
  }

  /** PER-SEGMENT LINEAR REGRESSION — the traffic-trend verb: per
    * event type, OLS slope/intercept of daily event count over the
    * integer day index. Engine-exact by the [[qAutocorr]] recipe: x
    * is an exact datediff integer, y an exact BIGINT count, all five
    * moments are exact BIGINT sums, and the closed-form slope /
    * intercept arithmetic is one IEEE pass over identical exact
    * inputs on both engines. Scale shape: one shuffle to the
    * (type, day) calendar grid, one broadcast of per-type min-day
    * (tiny agg), one grouped agg — volume-independent after the
    * first agg. */
  def qLinreg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = events(s, d)
      .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
      .agg(count(lit(1)).as("y"))
    val d0 = daily.groupBy($"event_type".as("et")).agg(min($"day").as("day0"))
    daily.join(broadcast(d0), $"event_type" === $"et")
      .select($"event_type", datediff($"day", $"day0").cast("long").as("x"),
        $"y")
      .groupBy($"event_type")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum($"x").cast("double").as("sx"),
        sum($"y").cast("double").as("sy"),
        sum($"x" * $"y").cast("double").as("sxy"),
        sum($"x" * $"x").cast("double").as("sxx"))
      .select($"event_type", $"n".cast("long").as("n"),
        round(($"n" * $"sxy" - $"sx" * $"sy") /
          ($"n" * $"sxx" - $"sx" * $"sx"), 6).as("slope"),
        round(($"sy" - ($"n" * $"sxy" - $"sx" * $"sy") /
          ($"n" * $"sxx" - $"sx" * $"sx") * $"sx") / $"n", 6)
          .as("intercept"))
  }

  /** CUMULATIVE-UNIQUES growth curve — "how many distinct BUYERS has
    * the product ever seen, by day" (first-purchase cohort entry): each user collapses to a
    * first-seen day (one shuffle agg on user_id — the only pass over
    * raw volume), then new-user counts roll up the bounded calendar
    * spine with a running sum (window over ≤ calendar-length rows —
    * bounded by the DATE domain, not the data, the q_open_interval
    * rule). Counts are exact BIGINTs; running distinct count without
    * per-day distinct state is what makes this the 100 TB shape. */
  def qCumulativeUniques(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val firstSeen = events(s, d)
      .filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(min(date_trunc("day", $"ts")).as("first_day"))
    firstSeen
      .groupBy($"first_day")
      .agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum($"new_users").over(
        Window.orderBy($"first_day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** HLL SET OPERATIONS — the sketch algebra behind cross-segment
    * audience math: per register bucket, the view registers, the
    * purchase registers, and the UNION registers — which are exactly
    * the per-bucket max (HLL union is lossless, the property that
    * makes the sketch mergeable across partitions, days, and
    * segments). All three register columns come out of ONE pass as
    * conditional maxes and are oracle-gated bit-for-bit; downstream
    * inclusion–exclusion (|A∩B| ≈ |A|+|B|−|A∪B|) runs on
    * [[graft.functions.Hll]] estimates, spec-gated. */
  def qHllSetops(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.md5Prefix60
    events(s, d)
      .filter($"event_type".isin("view", "purchase"))
      .select($"event_type",
        md5Prefix60($"user_id".cast("string")).as("h"))
      .select($"event_type", pmod($"h", lit(HllBuckets)).as("bucket"),
        expr(s"h div $HllBuckets").as("rem"))
      .select($"event_type", $"bucket",
        when($"rem" === 0, lit(55L))
          .otherwise(lit(55L) - length(bin($"rem")).cast("long")).as("rho"))
      .groupBy($"bucket")
      .agg(
        max(when($"event_type" === "view", $"rho")).as("rho_view"),
        max(when($"event_type" === "purchase", $"rho")).as("rho_purchase"),
        max($"rho").as("rho_union"))
  }

  /** POINT-IN-TIME LOOKUP against the SCD2 dimension ([[qScd2]]) —
    * the temporal-join verb every warehouse needs: each purchase event
    * joins to the dimension VERSION valid at its event time
    * (valid_from ≤ t < valid_to, open interval when valid_to is
    * null). Looked up at t−1µs — the state the user held immediately
    * BEFORE purchasing (at t itself a purchase maps to the 'purchase'
    * interval it opened; the pre-purchase state is the attribution
    * question). A user's very first event has no prior interval and
    * drops out of the inner join, exactly as in the oracle. The join
    * is EQUI on user_id with the interval residual evaluated in
    * place — per-user version counts are small, so the residual scan
    * is bounded and there is no interval-index shuffle; at 100 TB
    * both sides shuffle once on user_id. The bit_xor over
    * (event_id·1000003 xor version) proves every event's version
    * ASSIGNMENT, not just group counts (the per-row placement-proof
    * pattern). Zero-length intervals (two changes at one micro-
    * timestamp) are unmatchable by construction, so assignment is
    * unique and the join can't duplicate. */
  def qScd2Lookup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dim = qScd2(s, d)
    val ev = events(s, d)
      .filter($"user_id" % Scd2Mod === 0 && $"event_type" === "purchase")
      .select($"user_id".as("u"), ($"ts_us" - 1).as("t"),
        $"event_id", $"value")
    ev.join(dim, $"u" === $"user_id" && $"t" >= $"valid_from_us" &&
        ($"valid_to_us".isNull || $"t" < $"valid_to_us"))
      .groupBy($"state")
      .agg(count(lit(1)).as("n_events"),
        dsum($"value").as("sum_value"),
        bit_xor(expr("event_id * 1000003").bitwiseXOR($"version"))
          .as("assign_checksum"))
  }

  /** Per-KEY HyperLogLog register tables — [[qHllRegisters]] grouped
    * by event type: the shape a 100 TB pipeline actually runs
    * (distinct users per key for thousands of keys in ONE pass, state
    * = keys × 64 registers instead of keys × users). Same integer-
    * exact register math (md5 60-bit hash, first-1-bit via
    * 55 − length(bin(rem))); merge-by-max associativity means partial
    * aggregation works map-side and across days/partitions. The
    * register table is oracle-gated bit-for-bit per key; the harmonic
    * estimator stays in [[graft.functions.Hll]] (spec-gated). */
  def qGroupedHll(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.md5Prefix60
    events(s, d)
      .select($"event_type",
        md5Prefix60($"user_id".cast("string")).as("h"))
      .select($"event_type", pmod($"h", lit(HllBuckets)).as("bucket"),
        expr(s"h div $HllBuckets").as("rem"))
      .select($"event_type", $"bucket",
        when($"rem" === 0, lit(55L))
          .otherwise(lit(55L) - length(bin($"rem")).cast("long")).as("rho"))
      .groupBy($"event_type", $"bucket")
      .agg(max($"rho").as("max_rho"))
  }

  /** KENDALL TAU-B rank correlation per event type — the third exact
    * correlation of the family ([[graft.operators.Relational.qCorrelation]]
    * Pearson, q_spearman rank-moment): does daily traffic VOLUME move
    * with daily traffic VALUE? Works directly on sign comparisons, so
    * no ranks at all: the daily series (count x, micro-unit decimal-
    * exact value sum y) self-joins day < day within type — the pair
    * space is CALENDAR² (the q_open_interval rule: bounded by the date
    * domain, not event volume, and scale-independent) — and
    * concordant / discordant / tied-x / tied-y pair counts are exact
    * BIGINTs. tau_b = (nc−nd)/√((n0−tx)(n0−ty)) is two IEEE ops
    * (one sqrt, one divide — both correctly rounded) on identical
    * exact integers, so the double is bit-equal in both engines;
    * a fully-tied series (n0 = tx or n0 = ty) yields NULL via an
    * explicit guard mirrored in the oracle (bare division would emit
    * engine-divergent NaN/Inf renderings).
    * Scale shape: one shuffle to the (type, day) grid, broadcast
    * self-join on the bounded spine, one grouped agg. */
  def qKendall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = events(s, d)
      .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
      .agg(count(lit(1)).as("x"),
        (sum($"value".cast("decimal(28,6)")) * 1000000).cast("long").as("y"))
      .transform(graft.functions.Cp.local)
    val b = daily.select($"event_type".as("et2"), $"day".as("d2"),
      $"x".as("x2"), $"y".as("y2"))
    val pairs = daily.join(broadcast(b),
      $"event_type" === $"et2" && $"day" < $"d2")
    val k = pairs.groupBy($"event_type").agg(
      count(lit(1)).as("n0"),
      sum((($"x" < $"x2" && $"y" < $"y2") ||
        ($"x" > $"x2" && $"y" > $"y2")).cast("long")).as("nc"),
      sum((($"x" < $"x2" && $"y" > $"y2") ||
        ($"x" > $"x2" && $"y" < $"y2")).cast("long")).as("nd"),
      sum(($"x" === $"x2").cast("long")).as("tx"),
      sum(($"y" === $"y2").cast("long")).as("ty"))
    val nDays = daily.groupBy($"event_type").agg(count(lit(1)).as("n_days"))
    k.join(nDays, Seq("event_type"))
      .select($"event_type", $"n_days", $"n0", $"nc", $"nd", $"tx", $"ty",
        when(($"n0" - $"tx") * ($"n0" - $"ty") === 0, lit(null))
          .otherwise(($"nc" - $"nd").cast("double") /
            sqrt((($"n0" - $"tx") * ($"n0" - $"ty")).cast("double")))
          .as("tau_b"))
      .orderBy($"event_type".asc)
  }

  /** ISOTONIC REGRESSION of the daily count series per event type —
    * the monotone-calibration verb (does traffic trend up, and what is
    * the best nondecreasing fit?). The sequential PAVA algorithm
    * doesn't distribute, but its CLOSED FORM does:
    * iso(i) = max_(j≤i) min_(k≥i) mean(y[j..k]) — and on the
    * CALENDAR-bounded spine the (j,k) window space is spine², so the
    * whole fit is three bounded joins (the q_kendall rule: bounded by
    * the date domain, never by event volume). Window means are ONE
    * IEEE division of exact BIGINTs (prefix sums; c[j-1] = c[j]−y[j],
    * no lag join), and min/max over identical doubles are
    * engine-exact, so the fitted values match DuckDB bit-for-bit.
    * Scale shape: one shuffle to the daily grid, then spine-bounded
    * joins + two grouped aggs. */
  def qIsotonic(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wIdx = Window.partitionBy($"event_type").orderBy($"day".asc)
    val sp = events(s, d)
      .groupBy($"event_type", date_trunc("day", $"ts").cast("date").as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("t", row_number().over(wIdx))
      .withColumn("c", sum($"y").over(
        wIdx.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .transform(graft.functions.Cp.local)
    val j = sp.select($"event_type".as("etj"), $"t".as("j"),
      ($"c" - $"y").as("cj1"))
    val k = sp.select($"event_type".as("etk"), $"t".as("k"), $"c".as("ck"))
    val m = j.join(broadcast(k), $"etj" === $"etk" && $"k" >= $"j")
      .select($"etj".as("etm"), $"j", $"k",
        (($"ck" - $"cj1").cast("double") / ($"k" - $"j" + 1)).as("m"))
    sp.join(broadcast(m),
        $"event_type" === $"etm" && $"j" <= $"t" && $"k" >= $"t")
      .groupBy($"event_type", $"t", $"day", $"y", $"j")
      .agg(min($"m").as("mn"))
      .groupBy($"event_type", $"t", $"day", $"y")
      .agg(max($"mn").as("iso"))
      .select($"event_type", $"day", $"y", $"iso")
      .orderBy($"event_type".asc, $"day".asc)
  }

  /** Q-Q ALIGNMENT of two value distributions (view vs purchase) — the
    * distribution-compare verb between q_ks_drift's single max-gap
    * statistic and a full histogram diff: every 5th percentile of both
    * sides, exact nearest-rank from the (type, cents) value histogram
    * via the division-free cum·100 ≥ p·tot compare (the medianOfHist
    * idiom), aligned into (p, q_view, q_purchase, shift) rows. All
    * integer cents — engine-exact by construction. Scale shape: one
    * histogram shuffle, windows over the VALUE domain, a ×19
    * percentile explode at histogram grain, two tiny sides joined on
    * the 19-row spine. */
  def qQq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hist = events(s, d)
      .filter($"event_type".isin("view", "purchase"))
      .select($"event_type",
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .groupBy($"event_type", $"cents").agg(count(lit(1)).as("cnt"))
    val q = Relational.cumTot(hist, "event_type", "cents", "cnt")
      .select($"event_type", $"cents", $"cum", $"tot",
        explode(expr("sequence(5L, 95L, 5L)")).as("p"))
      .groupBy($"event_type", $"p")
      .agg(min(when($"cum" * 100 >= $"tot" * $"p", $"cents")).as("q"))
    val v = q.filter($"event_type" === "view").select($"p", $"q".as("q_view"))
    val u = q.filter($"event_type" === "purchase")
      .select($"p".as("p2"), $"q".as("q_purchase"))
    v.join(u, $"p" === $"p2")
      .select($"p", $"q_view", $"q_purchase",
        ($"q_purchase" - $"q_view").as("shift_cents"))
      .orderBy($"p".asc)
  }

  /** CUSUM CHANGEPOINT detection per event type — did the daily
    * traffic level shift, and when? The textbook recursion
    * S_t = max(0, S_(t-1) + d_t) is not window-expressible, but its
    * closed form IS: S_t = cum_t − min(0, min_(j≤t) cum_j) (and the
    * downward chart mirrors with the running MAX), so both CUSUM
    * curves come out of ordinary cumulative windows over the
    * CALENDAR-bounded daily spine. Deviations are kept integer by
    * scaling with the day count: d_t = n·x_t − Σx (exact BIGINTs —
    * no mean division), which scales both charts by n and changes no
    * argmax. The changepoint is the S-maximizing day (tie → earliest),
    * and a bit_xor checksum over every (day, S⁺, S⁻) row proves the
    * entire curve, not just the winner. Scale shape: one shuffle to
    * the (type, day) grid; every window runs on the bounded calendar
    * spine (the q_open_interval rule). */
  def qCusum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = events(s, d)
      .groupBy($"event_type", date_trunc("day", $"ts").cast("date").as("day"))
      .agg(count(lit(1)).as("x"))
    val wt = Window.partitionBy($"event_type")
    val wc = Window.partitionBy($"event_type").orderBy($"day".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = daily
      .withColumn("n", count(lit(1)).over(wt))
      .withColumn("sx", sum($"x").over(wt))
      .withColumn("dd", $"n" * $"x" - $"sx")
      .withColumn("cum", sum($"dd").over(wc))
      .withColumn("s_up", $"cum" - least(lit(0L), min($"cum").over(wc)))
      .withColumn("s_down",
        greatest(lit(0L), max($"cum").over(wc)) - $"cum")
    val wUp = Window.partitionBy($"event_type")
      .orderBy($"s_up".desc, $"day".asc)
    val wDown = Window.partitionBy($"event_type")
      .orderBy($"s_down".desc, $"day".asc)
    curve
      .withColumn("r_up", row_number().over(wUp))
      .withColumn("r_down", row_number().over(wDown))
      .groupBy($"event_type")
      .agg(max($"n").as("n_days"),
        max(when($"r_up" === 1, $"s_up")).as("smax_up"),
        max(when($"r_up" === 1, $"day")).as("cp_day_up"),
        max(when($"r_down" === 1, $"s_down")).as("smax_down"),
        max(when($"r_down" === 1, $"day")).as("cp_day_down"),
        bit_xor(graft.functions.TextFunctions.md5Prefix60(
          concat($"event_type", lit("|"), $"day".cast("string"), lit("|"),
            $"s_up".cast("string"), lit("|"), $"s_down".cast("string"))))
          .as("curve_checksum"))
      .orderBy($"event_type".asc)
  }

  /** AUTOCORRELATION of the daily value series, lags 1 and 7 — the
    * seasonality probe behind traffic forecasting and anomaly
    * baselines. Daily sums stay DECIMAL(18,2) end to end; the Pearson
    * moments are decimal-exact sums of decimal products (18,2 ×
    * 18,2 = 37,4 — inside both engines' 38-digit width, the "square
    * IN decimal" rule), and only the final n·sxy−sx·sy arithmetic
    * runs in doubles — identical exact inputs, identical IEEE ops,
    * identical result (the [[graft.operators.Relational.qCorrelation]]
    * recipe). Scale shape: one shuffle to (type, day) — a
    * calendar-bounded grid — then a PARTITIONED lag window and one
    * grouped agg; nothing grows with event volume past the first
    * agg. */
  def qAutocorr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = events(s, d)
      .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
      .agg(sum($"value".cast("decimal(18,2)"))
        .cast("decimal(18,2)").as("x"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    val lagged = daily.select($"event_type", $"x",
      lag($"x", 1).over(w).as("x1"), lag($"x", 7).over(w).as("x7"))
    def pearson(y: Column): Column = {
      val n = count(y).cast("double")
      val sx = sum(when(y.isNotNull, $"x")).cast("double")
      val sy = sum(y).cast("double")
      val sxy = sum($"x" * y).cast("double")
      val sxx = sum(when(y.isNotNull, $"x" * $"x")).cast("double")
      val syy = sum(y * y).cast("double")
      round((n * sxy - sx * sy) /
        sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
    }
    lagged.groupBy($"event_type").agg(
      count($"x1").as("n1"), pearson($"x1").as("r1"),
      count($"x7").as("n7"), pearson($"x7").as("r7"))
  }

  /** CHANGEPOINT scan (binary segmentation step): per event type, the
    * split day maximizing the between-segment rate gap — the
    * level-shift detector behind drift alarms. Division-free: the
    * candidate score |cum·(D−i) − (T−cum)·i| · 10⁹ div (i·(D−i)) is
    * the mean gap cross-multiplied to exact BIGINTs, so the argmax
    * and its tie-break (earliest day) are engine-exact. Scale shape:
    * events collapse to the (type, day) calendar grid in one shuffle
    * agg; every window after that is PARTITIONED by type over ≤
    * calendar-length frames — volume-independent. */
  def qChangepoint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = events(s, d)
      .groupBy($"event_type", date_trunc("day", $"ts").as("day"))
      .agg(count(lit(1)).as("n"))
    val wo = Window.partitionBy($"event_type").orderBy($"day")
    val wp = Window.partitionBy($"event_type")
    val cand = daily
      .withColumn("i", row_number().over(wo).cast("long"))
      .withColumn("cum", sum($"n").over(wo))
      .withColumn("dd", count(lit(1)).over(wp))
      .withColumn("tt", sum($"n").over(wp))
      .filter($"i" < $"dd")
      .withColumn("score_e9",
        expr("abs(cum * (dd - i) - (tt - cum) * i) * 1000000000" +
          " div (i * (dd - i))"))
    cand
      .withColumn("rk", row_number()
        .over(Window.partitionBy($"event_type")
          .orderBy($"score_e9".desc, $"day".asc)))
      .filter($"rk" === 1)
      .select($"event_type", $"day".as("split_day"),
        $"i".as("days_before"), ($"dd" - $"i").as("days_after"),
        $"cum".as("cnt_before"), ($"tt" - $"cum").as("cnt_after"),
        $"score_e9")
  }

  private val SaxTopK = 20 // most frequent daily motifs reported

  /** SAX SYMBOLIZATION + MOTIF CENSUS — the time-series-mining shape
    * (symbolic aggregate approximation): each (event_type, day) series
    * is piecewise-aggregated into six 4-hour segments (PAA over event
    * COUNTS — integers, so no float breakpoints anywhere), each
    * segment mapped to a 4-letter alphabet by integer-exact
    * comparisons against the day's total (a: < half the uniform
    * share, b: ≤ the share, c: ≤ twice, d: above), and the six
    * letters joined into the day's SAX word via the deterministic
    * ordered-sequence idiom. The census counts word frequency per
    * event type — recurring daily shapes surface as hot motifs.
    * Segments with zero events emit no letter (words encode presence
    * too; both engines derive identical words from identical rows).
    * Scale shape: one shuffle to (type, day, seg) grain, a ≤6-row
    * per-day window for the total, a bounded top-k report. */
  def qSax(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val seg = events(s, d)
      .groupBy($"event_type", date_trunc("day", $"ts").as("day"),
        expr("hour(ts) DIV 4").as("seg"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"event_type", $"day")
    val words = seg
      .withColumn("tot", sum($"c").over(w))
      .withColumn("sym",
        when($"c" * 12 < $"tot", "a")
          .when($"c" * 6 <= $"tot", "b")
          .when($"c" * 3 <= $"tot", "c")
          .otherwise("d"))
      .groupBy($"event_type", $"day")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"seg", $"sym"))),
        x => x.getField("sym")), "").as("word"))
    words.groupBy($"event_type", $"word")
      .agg(count(lit(1)).as("n_days"))
      .orderBy($"n_days".desc, $"event_type".asc, $"word".asc)
      .limit(SaxTopK)
  }

  /** DETERMINISTIC A/B EXPERIMENT READOUT — the experimentation query
    * shape: users hash-assigned to two arms (md5 bucket, the
    * q_split_assign discipline — stable under reruns/retries, never
    * rand()), per-arm purchase-value moments accumulated EXACTLY
    * through DECIMAL (square-in-decimal rule), and the Welch z
    * statistic computed in one IEEE pass over those exact scalars —
    * the same determinism recipe as q_correlation, so the oracle
    * matches bit-for-bit. Scale shape: one narrow map + one 2-group
    * agg + a 2-row pivot; nothing data-sized leaves the executors. */
  def qAbtest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val v = $"value".cast("decimal(18,2)")
    val arm = pmod(
      graft.functions.TextFunctions.md5Prefix60($"user_id".cast("string")),
      lit(2L))
    val m = events(s, d).filter($"event_type" === "purchase")
      .groupBy(arm.as("arm"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(v).cast("double").as("sx"),
        sum(v * v).cast("double").as("sxx"))
    m.agg(
        max(when($"arm" === 0, $"n")).as("n0"),
        max(when($"arm" === 1, $"n")).as("n1"),
        max(when($"arm" === 0, $"sx")).as("sx0"),
        max(when($"arm" === 1, $"sx")).as("sx1"),
        max(when($"arm" === 0, $"sxx")).as("sxx0"),
        max(when($"arm" === 1, $"sxx")).as("sxx1"))
      .select(
        $"n0".cast("long").as("n0"), $"n1".cast("long").as("n1"),
        round($"sx0" / $"n0", 9).as("mean0"),
        round($"sx1" / $"n1", 9).as("mean1"),
        round(($"sx1" / $"n1" - $"sx0" / $"n0") /
          sqrt((($"sxx1" - $"sx1" * $"sx1" / $"n1") / ($"n1" - 1)) / $"n1" +
            (($"sxx0" - $"sx0" * $"sx0" / $"n0") / ($"n0" - 1)) / $"n0"), 6)
          .as("welch_z"))
  }

  /** CHI-SQUARE INDEPENDENCE TEST — "does event mix depend on weekday?"
    * (the categorical drift/independence audit every experimentation
    * and data-quality stack ships): observed counts over the
    * event_type × day-of-week contingency table, expected counts
    * E = R·C/N from the margins, per-cell contribution
    * (O·N − R·C)²/(N·R·C) — algebraically identical to (O−E)²/E but
    * integer-exact: products run in DECIMAL(38,0) (the oracle mirrors
    * in HUGEINT — different exact types, identical integers) and land
    * as ·10⁹ BIGINT ratios, so no float touches any boundary. The χ²
    * total is a window sum over the CELL frame. Day-of-week is pure
    * epoch arithmetic ((days + 4) mod 7, 0 = Sunday — no calendar
    * function disagreement between engines). Scale shape: one shuffle
    * agg to the bounded cell grid (types × 7), then windows over that
    * bounded frame only. Widths: (O·N)²·10⁹ caps at ~10³⁷ for 10⁹
    * events/cell — inside DECIMAL(38,0); a larger deployment divides
    * counts by a common 10^k first (χ² contributions scale linearly,
    * the e9 ratios are unchanged). */
  def qChisq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = events(s, d)
      .select($"event_type", expr("(ts_us div 86400000000 + 4) % 7").as("dow"))
      .groupBy($"event_type", $"dow")
      .agg(count(lit(1)).as("o"))
    val dec = "CAST(o AS DECIMAL(38,0))"
    cells
      .withColumn("r", sum($"o").over(Window.partitionBy($"event_type")))
      .withColumn("c", sum($"o").over(Window.partitionBy($"dow")))
      .withColumn("n", sum($"o").over(Window.partitionBy()))
      .withColumn("exp_e9",
        expr("CAST(r AS DECIMAL(38,0)) * c * 1000000000 div n"))
      .withColumn("contrib_e9", expr(
        s"""($dec * n - CAST(r AS DECIMAL(38,0)) * c) *
           |($dec * n - CAST(r AS DECIMAL(38,0)) * c) *
           |1000000000 div (CAST(n AS DECIMAL(38,0)) * r * c)""".stripMargin))
      .withColumn("chi2_e9",
        sum($"contrib_e9").over(Window.partitionBy()))
      .select($"event_type", $"dow", $"o", $"exp_e9", $"contrib_e9",
        $"chi2_e9")
  }

  /** WEEKLY SEASONAL INDEX (ratio-to-centered-moving-average — the
    * classical decomposition step behind staffing/capacity dashboards
    * and seasonally-adjusted anomaly baselines): daily counts on the
    * zero-filled calendar spine, a full 7-day centered window sum,
    * per-day index y·7/Σ₇ as the exact integer y·7·10⁹ div Σ₇, then
    * the per-(type, weekday) seasonal factor as the exact mean of
    * those integers (sum div count — never an order-dependent float
    * average). Edge weeks without a full ±3-day window are excluded
    * (count-over-frame = 7 gate), as is a window of all-zero days.
    * Scale shape: one shuffle agg to (type, day) grain; the spine,
    * windows and final agg all run on the bounded calendar × type
    * frame, never on raw volume — the q_gap_fill/q_ewma rule. */
  def qSeasonality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = events(s, d)
      .groupBy($"event_type", expr("ts_us div 86400000000").as("epoch_day"))
      .agg(count(lit(1)).as("y"))
    val spine = daily.groupBy($"event_type")
      .agg(min($"epoch_day").as("d0"), max($"epoch_day").as("d1"))
      .select($"event_type", explode(sequence($"d0", $"d1")).as("epoch_day"))
    val filled = spine.join(daily, Seq("event_type", "epoch_day"), "left")
      .select($"event_type", $"epoch_day", coalesce($"y", lit(0L)).as("y"))
    val w7 = Window.partitionBy($"event_type").orderBy($"epoch_day".asc)
      .rowsBetween(-3, 3)
    filled
      .withColumn("nw", count(lit(1)).over(w7))
      .withColumn("s7", sum($"y").over(w7))
      .filter($"nw" === 7 && $"s7" > 0)
      .withColumn("idx_e9", expr("y * 7 * 1000000000 div s7"))
      .withColumn("dow", expr("(epoch_day + 4) % 7"))
      .groupBy($"event_type", $"dow")
      .agg(count(lit(1)).as("n_days"),
        expr("sum(idx_e9) div count(1)").as("seasonal_e9"))
  }

  /** COHORT LIFETIME VALUE — the revenue twin of [[qRetention]]:
    * signup-week cohorts × weeks-since-signup, per-cell purchase
    * revenue and the cumulative LTV curve. All calendar math is pure
    * epoch-integer arithmetic (day = ts_us div 86.4e9, cohort week =
    * day div 7, week index = (purchase day − signup day) div 7 — all
    * non-negative, trunc ≡ floor in both engines); revenue is exact
    * decimal cents. Scale shape: one user-grain agg for signups, one
    * user-keyed join of purchases (both sides shuffle once on
    * user_id), then a (cohort, week) grid agg; the cumulative window
    * runs over the CALENDAR-bounded grid only. */
  def qCohortLtv(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val signup = events(s, d).filter($"event_type" === "signup")
      .groupBy($"user_id")
      .agg(min(expr("ts_us div 86400000000")).as("d0"))
    val pur = events(s, d).filter($"event_type" === "purchase")
      .select($"user_id", expr("ts_us div 86400000000").as("dp"),
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("cents"))
    pur.join(signup, Seq("user_id")).filter($"dp" >= $"d0")
      .select(expr("d0 div 7").as("cohort_week"),
        expr("(dp - d0) div 7").as("week_index"), $"cents")
      .groupBy($"cohort_week", $"week_index")
      .agg(count(lit(1)).as("n_purchases"), sum($"cents").as("rev_cents"))
      .withColumn("cum_cents", sum($"rev_cents").over(
        Window.partitionBy($"cohort_week").orderBy($"week_index".asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** THREE-STEP ORDERED FUNNEL (signup → view → purchase, strict
    * temporal order) — the multi-stage extension of [[qFunnel]]:
    * stage k is the MIN event time strictly after the user's stage
    * k−1 time, computed as one filtered agg per stage chained through
    * user-keyed joins — every shuffle is on user_id, no window over
    * raw events, no per-user sequence buffer (the sequence idiom
    * would carry full event lists; this carries one timestamp per
    * stage). Output is the one-row funnel readout with exact total
    * signup→purchase lag micro-seconds. */
  def qFunnelSteps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d).select($"user_id", $"event_type", $"ts_us")
    val s1 = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts_us").as("t1"))
    val s2 = ev.filter($"event_type" === "view")
      .join(s1, Seq("user_id")).filter($"ts_us" > $"t1")
      .groupBy($"user_id").agg(min($"t1").as("t1"), min($"ts_us").as("t2"))
    val s3 = ev.filter($"event_type" === "purchase")
      .join(s2, Seq("user_id")).filter($"ts_us" > $"t2")
      .groupBy($"user_id").agg(min($"t1").as("t1"), min($"ts_us").as("t3"))
    s1.agg(count(lit(1)).as("n_signup"))
      .crossJoin(s2.agg(count(lit(1)).as("n_view_after")))
      .crossJoin(s3.agg(count(lit(1)).as("n_purchase_after"),
        coalesce(sum($"t3" - $"t1"), lit(0L)).as("sum_lag_us")))
  }

  /** SURVIVAL ANALYSIS (Nelson–Aalen cumulative hazard) — time from
    * signup to first purchase with right-censoring at the corpus
    * horizon: the retention-modeling verb behind churn curves and
    * time-to-conversion dashboards. The Kaplan–Meier PRODUCT would
    * drag floats through every step; the Nelson–Aalen estimator is a
    * SUM of integer ratios, so the whole curve is engine-exact:
    * per-duration-day event/censor counts on the duration spine
    * (bounded by the calendar), risk sets as suffix sums
    * (total − preceding-prefix — one window, no self-join), hazard
    * d·10⁹ div n_risk, cumulative hazard a running sum of those
    * integers. Every spine row has d+c ≥ 1 so n_risk ≥ 1 — no
    * division guard needed. Scale shape: two user-grain aggs + one
    * user-keyed join; all windows run over the duration spine. */
  def qSurvival(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
    val tmax = ev.agg(max(expr("ts_us div 86400000000")).as("tmax"))
    val su = ev.filter($"event_type" === "signup").groupBy($"user_id")
      .agg(min(expr("ts_us div 86400000000")).as("d0"))
    val pu = ev.filter($"event_type" === "purchase")
      .select($"user_id", expr("ts_us div 86400000000").as("dp"))
      .join(su, Seq("user_id")).filter($"dp" >= $"d0")
      .groupBy($"user_id").agg(min($"dp").as("dp"))
    val durs = su.join(pu, Seq("user_id"), "left")
      .crossJoin(broadcast(tmax))
      .select(
        when($"dp".isNotNull, $"dp" - $"d0")
          .otherwise($"tmax" - $"d0").as("k"),
        when($"dp".isNotNull, 1L).otherwise(0L).as("is_event"))
    val spine = durs.groupBy($"k")
      .agg(sum($"is_event").as("d"), sum(lit(1L) - $"is_event").as("c"))
    val wOrd = Window.orderBy($"k".asc)
    spine
      .withColumn("tot", sum($"d" + $"c").over(Window.partitionBy()))
      .withColumn("before", coalesce(sum($"d" + $"c").over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_risk", $"tot" - $"before")
      .withColumn("hazard_e9", expr("d * 1000000000 div n_risk"))
      .withColumn("cumhaz_e9", sum(expr("d * 1000000000 div n_risk")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"k", $"d", $"c", $"n_risk", $"hazard_e9", $"cumhaz_e9")
  }

  private val AnomTopK = 20 // most-anomalous days reported

  /** THEIL–SEN ROBUST TREND per event type — the outlier-immune slope
    * the per-segment OLS trend can't give (one traffic spike drags a
    * least-squares line; the median of pairwise slopes ignores it,
    * 29% breakdown point). Engine-exact: slopes are integer
    * dy·10⁹ div dx with the SIGN APPLIED OUTSIDE the division (both
    * engines truncate non-negative quotients identically; a negative
    * numerator would expose trunc-vs-floor divergence), and the median
    * over the slope histogram uses the cum ≥ rank compare. Scale
    * shape: pairs are generated on the DAY SPINE (≈ spine² per type,
    * bounded by the calendar, not event volume); the only row-grain
    * work is the daily rollup. */
  def qTheilSen(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = events(s, d)
      .groupBy($"event_type", expr("ts_us div 86400000000").as("epoch_day"))
      .agg(count(lit(1)).as("y"))
    val pairs = daily.as("a").join(daily.as("b"),
        $"a.event_type" === $"b.event_type" &&
          $"a.epoch_day" < $"b.epoch_day")
      .select($"a.event_type".as("event_type"),
        expr("""CASE WHEN b.y >= a.y
                |THEN (b.y - a.y) * 1000000000 DIV (b.epoch_day - a.epoch_day)
                |ELSE -((a.y - b.y) * 1000000000 DIV (b.epoch_day - a.epoch_day))
                |END""".stripMargin).as("slope_e9"))
    val h = pairs.groupBy($"event_type", $"slope_e9")
      .agg(count(lit(1)).as("t"))
    Relational.medianOfHist(h, "event_type", "slope_e9", "t",
        min($"tot").as("n_pairs"))
      .select($"event_type", $"n_pairs", $"med".as("slope_e9_med"))
      .orderBy($"event_type".asc)
  }

  /** SEASONALITY-ADJUSTED ANOMALY DETECTION — [[qSeasonality]]'s
    * factors put to work: a day is anomalous when its count deviates
    * >30% from its weekday-seasonal expectation (centered-MA level ×
    * the (type, dow) seasonal factor). Every quantity stays integer:
    * expected_e9 = s7·seasonal_e9 div 7, deviation ratio
    * |y·10⁹ − expected_e9|·1000 div max(expected_e9, 10⁹) (products in
    * DECIMAL/HUGEINT where they can pass 2⁶³; the max() floor makes
    * zero-expectation days well-defined). The seasonal factor table is
    * (type × 7)-bounded and broadcasts; the report is a bounded
    * top-k by (ratio, type, day). This is the composition shape —
    * q_seasonality's output consumed as a dimension — that a real
    * anomaly pipeline runs nightly. */
  def qSeasonalAnomaly(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val seasonal = qSeasonality(s, d)
      .select($"event_type", $"dow", $"seasonal_e9")
    val daily = events(s, d)
      .groupBy($"event_type", expr("ts_us div 86400000000").as("epoch_day"))
      .agg(count(lit(1)).as("y"))
    val spine = daily.groupBy($"event_type")
      .agg(min($"epoch_day").as("d0"), max($"epoch_day").as("d1"))
      .select($"event_type", explode(sequence($"d0", $"d1")).as("epoch_day"))
    val filled = spine.join(daily, Seq("event_type", "epoch_day"), "left")
      .select($"event_type", $"epoch_day", coalesce($"y", lit(0L)).as("y"))
    val w7 = Window.partitionBy($"event_type").orderBy($"epoch_day".asc)
      .rowsBetween(-3, 3)
    filled
      .withColumn("nw", count(lit(1)).over(w7))
      .withColumn("s7", sum($"y").over(w7))
      .filter($"nw" === 7 && $"s7" > 0)
      .withColumn("dow", expr("(epoch_day + 4) % 7"))
      .join(broadcast(seasonal), Seq("event_type", "dow"))
      .withColumn("expected_e9", expr(
        "CAST(CAST(s7 AS DECIMAL(38,0)) * seasonal_e9 div 7 AS BIGINT)"))
      .withColumn("dev_e9",
        abs(expr("y * 1000000000") - $"expected_e9"))
      .withColumn("ratio_e3", expr(
        "CAST(CAST(dev_e9 AS DECIMAL(38,0)) * 1000" +
          " div greatest(expected_e9, 1000000000) AS BIGINT)"))
      .select($"event_type", $"epoch_day", $"y", $"expected_e9", $"ratio_e3",
        when($"ratio_e3" > 300, 1L).otherwise(0L).as("is_anomaly"))
      .orderBy($"ratio_e3".desc, $"event_type".asc, $"epoch_day".asc)
      .limit(AnomTopK)
  }

  private val FeatMod = 251 // deterministic user slice for the feature dump

  /** LAG-FEATURE SNAPSHOT — the feature-store query shape (per-entity
    * point-in-time features for model training): per (user, active
    * day), the day's event count plus lag-1 count, days since the
    * previous active day, and the rolling 7-active-day sum/count —
    * ONE multi-window pass, all windows partitioned by user and
    * ordered by day (a single sort per user, no self-joins, no spine
    * materialization — rolling windows run over OBSERVED days).
    * Counts are exact BIGINTs; the deterministic user slice bounds
    * the dump the way a training snapshot bounds its entity set. */
  def qLagFeatures(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"epoch_day".asc)
    events(s, d)
      .filter($"user_id" % FeatMod === 0)
      .groupBy($"user_id", expr("ts_us div 86400000000").as("epoch_day"))
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"epoch_day", $"n",
        coalesce(lag($"n", 1).over(byUser), lit(0L)).as("n_prev"),
        ($"epoch_day" - lag($"epoch_day", 1).over(byUser)).as("days_since"),
        sum($"n").over(byUser.rowsBetween(-6, 0)).as("sum7"),
        count(lit(1)).over(byUser.rowsBetween(-6, 0)).as("active7"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_seasonal_anomaly" -> (qSeasonalAnomaly _),
    "q_lag_features" -> (qLagFeatures _),
    "q_survival" -> (qSurvival _),
    "q_cohort_ltv" -> (qCohortLtv _),
    "q_funnel_steps" -> (qFunnelSteps _),
    "q_chisq" -> (qChisq _),
    "q_seasonality" -> (qSeasonality _),
    "q_theilsen" -> (qTheilSen _),
    "q_abtest" -> (qAbtest _),
    "q_sax" -> (qSax _),
    "q_autocorr" -> (qAutocorr _),
    "q_changepoint" -> (qChangepoint _),
    "q_grouped_hll" -> (qGroupedHll _),
    "q_scd2_lookup" -> (qScd2Lookup _),
    "q_linreg" -> (qLinreg _),
    "q_cumulative_uniques" -> (qCumulativeUniques _),
    "q_hll_setops" -> (qHllSetops _),
    "q_hll_registers" -> (qHllRegisters _),
    "q_kmv" -> (qKmv _),
    "q_kmv_setops" -> (qKmvSetops _),
    "q_kendall" -> (qKendall _),
    "q_cusum" -> (qCusum _),
    "q_qq" -> (qQq _),
    "q_isotonic" -> (qIsotonic _),
    "q_countmin" -> (qCountmin _),
    "q_concentration" -> (qConcentration _),
    "q_argmax" -> (qArgmax _),
    "q_rolling_active" -> (qRollingActive _),
    "q_seq_pattern" -> (qSeqPattern _),
    "q_anomaly" -> (qAnomaly _),
    "q_event_transition" -> (qEventTransition _),
    "q_window_distinct" -> (qWindowDistinct _),
    "q_attribution" -> (qAttribution _),
    "q_cooccur" -> (qCooccur _),
    "q_assoc_rules" -> (qAssocRules _),
    "q_streak" -> (qStreak _),
    "q_gap_fill" -> (qGapFill _),
    "q_interpolate" -> (qInterpolate _),
    "q_ewma" -> (qEwma _),
    "q_scd2" -> (qScd2 _),
    "q_session_window" -> (qSessionWindow _),
    "q_tumbling_hourly" -> (qTumblingHourly _),
    "q_sessionize" -> (qSessionize _),
    "q_path_census" -> (qPathCensus _),
    "q_funnel" -> (qFunnel _),
    "q_event_stats" -> (qEventStats _),
    "q_hopping" -> (qHopping _),
    "q_json_extract" -> (qJsonExtract _),
    "q_json_path" -> (qJsonPath _),
    "q_retention" -> (qRetention _)
  )

  val oracle: Map[String, String] = Map(
    "q_seasonal_anomaly" ->
      s"""WITH daily AS (SELECT event_type,
         |  epoch_us(ts) // 86400000000 AS epoch_day,
         |  CAST(COUNT(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
         |bounds AS (SELECT event_type, MIN(epoch_day) AS d0,
         |  MAX(epoch_day) AS d1 FROM daily GROUP BY 1),
         |spine AS (SELECT event_type,
         |  unnest(generate_series(d0, d1)) AS epoch_day FROM bounds),
         |filled AS (SELECT s.event_type, s.epoch_day,
         |  COALESCE(d.y, 0) AS y FROM spine s
         |  LEFT JOIN daily d USING (event_type, epoch_day)),
         |ma AS (SELECT event_type, epoch_day, y,
         |  CAST(COUNT(*) OVER w AS BIGINT) AS nw,
         |  CAST(SUM(y) OVER w AS BIGINT) AS s7
         |  FROM filled WINDOW w AS (PARTITION BY event_type
         |    ORDER BY epoch_day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |sel AS (SELECT event_type, (epoch_day + 4) % 7 AS dow,
         |  y * 7 * 1000000000 // s7 AS idx_e9
         |  FROM ma WHERE nw = 7 AND s7 > 0),
         |sea AS (SELECT event_type, dow,
         |  CAST(SUM(idx_e9) // COUNT(*) AS BIGINT) AS seasonal_e9
         |  FROM sel GROUP BY 1, 2),
         |an AS (SELECT m.event_type, m.epoch_day, m.y,
         |  CAST(CAST(m.s7 AS HUGEINT) * sea.seasonal_e9 // 7 AS BIGINT)
         |    AS expected_e9
         |  FROM ma m JOIN sea ON m.event_type = sea.event_type
         |    AND (m.epoch_day + 4) % 7 = sea.dow
         |  WHERE m.nw = 7 AND m.s7 > 0),
         |an2 AS (SELECT *, abs(y * 1000000000 - expected_e9) AS dev_e9
         |  FROM an)
         |, an3 AS (SELECT event_type, epoch_day, y, expected_e9,
         |  CAST(CAST(dev_e9 AS HUGEINT) * 1000
         |    // greatest(expected_e9, 1000000000) AS BIGINT) AS ratio_e3
         |  FROM an2)
         |SELECT event_type, epoch_day, y, expected_e9, ratio_e3,
         |  CAST(CASE WHEN ratio_e3 > 300 THEN 1 ELSE 0 END AS BIGINT)
         |    AS is_anomaly
         |FROM an3
         |ORDER BY ratio_e3 DESC, event_type ASC, epoch_day ASC
         |LIMIT $AnomTopK""".stripMargin,
    "q_lag_features" ->
      s"""WITH g AS (SELECT user_id,
         |  epoch_us(ts) // 86400000000 AS epoch_day,
         |  CAST(COUNT(*) AS BIGINT) AS n FROM events
         |  WHERE user_id % $FeatMod = 0 GROUP BY 1, 2)
         |SELECT user_id, epoch_day, n,
         |  CAST(COALESCE(lag(n, 1) OVER w, 0) AS BIGINT) AS n_prev,
         |  epoch_day - lag(epoch_day, 1) OVER w AS days_since,
         |  CAST(SUM(n) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS sum7,
         |  CAST(COUNT(*) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS active7
         |FROM g WINDOW w AS (PARTITION BY user_id ORDER BY epoch_day ASC)
         |""".stripMargin,
    "q_survival" ->
      """WITH tm AS (SELECT MAX(epoch_us(ts) // 86400000000) AS tmax
        |  FROM events),
        |su AS (SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS d0
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (SELECT e.user_id, MIN(epoch_us(e.ts) // 86400000000) AS dp
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND epoch_us(e.ts) // 86400000000 >= su.d0
        |  GROUP BY 1),
        |durs AS (SELECT
        |  CASE WHEN pu.dp IS NOT NULL THEN pu.dp - su.d0
        |       ELSE (SELECT tmax FROM tm) - su.d0 END AS k,
        |  CASE WHEN pu.dp IS NOT NULL THEN 1 ELSE 0 END AS is_event
        |  FROM su LEFT JOIN pu ON su.user_id = pu.user_id),
        |sp AS (SELECT k, CAST(SUM(is_event) AS BIGINT) AS d,
        |  CAST(SUM(1 - is_event) AS BIGINT) AS c FROM durs GROUP BY 1),
        |r AS (SELECT *, CAST(SUM(d + c) OVER () AS BIGINT) AS tot,
        |  CAST(COALESCE(SUM(d + c) OVER (ORDER BY k ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS bef
        |  FROM sp)
        |SELECT k, d, c, tot - bef AS n_risk,
        |  d * 1000000000 // (tot - bef) AS hazard_e9,
        |  CAST(SUM(d * 1000000000 // (tot - bef)) OVER (ORDER BY k ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cumhaz_e9
        |FROM r""".stripMargin,
    "q_cohort_ltv" ->
      """WITH su AS (SELECT user_id,
        |  MIN(epoch_us(ts) // 86400000000) AS d0
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |pu AS (SELECT user_id, epoch_us(ts) // 86400000000 AS dp,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |cell AS (SELECT d0 // 7 AS cohort_week, (dp - d0) // 7 AS week_index,
        |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(cents) AS BIGINT) AS rev_cents
        |  FROM pu JOIN su USING (user_id) WHERE dp >= d0 GROUP BY 1, 2)
        |SELECT cohort_week, week_index, n_purchases, rev_cents,
        |  CAST(SUM(rev_cents) OVER (PARTITION BY cohort_week
        |    ORDER BY week_index ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_cents
        |FROM cell""".stripMargin,
    "q_funnel_steps" ->
      """WITH s1 AS (SELECT user_id, MIN(epoch_us(ts)) AS t1
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(s1.t1) AS t1, MIN(epoch_us(e.ts)) AS t2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'view' AND epoch_us(e.ts) > s1.t1
        |  GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(s2.t1) AS t1, MIN(epoch_us(e.ts)) AS t3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
        |  GROUP BY 1)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_signup,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n_view_after,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n_purchase_after,
        |  (SELECT CAST(COALESCE(SUM(t3 - t1), 0) AS BIGINT) FROM s3)
        |    AS sum_lag_us""".stripMargin,
    "q_chisq" ->
      """WITH cells AS (SELECT event_type,
        |  (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |  CAST(COUNT(*) AS BIGINT) AS o FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, dow, o,
        |  CAST(SUM(o) OVER (PARTITION BY event_type) AS BIGINT) AS r,
        |  CAST(SUM(o) OVER (PARTITION BY dow) AS BIGINT) AS c,
        |  CAST(SUM(o) OVER () AS BIGINT) AS n FROM cells),
        |x AS (SELECT event_type, dow, o,
        |  CAST(CAST(r AS HUGEINT) * c * 1000000000 // n AS BIGINT) AS exp_e9,
        |  CAST((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) *
        |       (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) *
        |       1000000000 // (CAST(n AS HUGEINT) * r * c) AS BIGINT)
        |    AS contrib_e9
        |  FROM t)
        |SELECT event_type, dow, o, exp_e9, contrib_e9,
        |  CAST(SUM(contrib_e9) OVER () AS BIGINT) AS chi2_e9
        |FROM x""".stripMargin,
    "q_theilsen" ->
      """WITH daily AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS epoch_day,
        |  CAST(COUNT(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |  CASE WHEN b.y >= a.y
        |  THEN (b.y - a.y) * 1000000000 // (b.epoch_day - a.epoch_day)
        |  ELSE -((a.y - b.y) * 1000000000 // (b.epoch_day - a.epoch_day))
        |  END AS slope_e9
        |  FROM daily a JOIN daily b
        |  ON a.event_type = b.event_type AND a.epoch_day < b.epoch_day),
        |h AS (SELECT event_type, slope_e9, CAST(COUNT(*) AS BIGINT) AS t
        |  FROM p GROUP BY 1, 2),
        |c AS (SELECT event_type, slope_e9, t,
        |  CAST(SUM(t) OVER (PARTITION BY event_type ORDER BY slope_e9 ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum,
        |  CAST(SUM(t) OVER (PARTITION BY event_type) AS BIGINT) AS tot
        |  FROM h)
        |SELECT event_type, MIN(tot) AS n_pairs,
        |(MIN(CASE WHEN cum >= (tot + 1) // 2 THEN slope_e9 END) +
        | MIN(CASE WHEN cum >= tot // 2 + 1 THEN slope_e9 END)) / 2.0
        |  AS slope_e9_med
        |FROM c GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q_seasonality" ->
      """WITH daily AS (SELECT event_type,
        |  epoch_us(ts) // 86400000000 AS epoch_day,
        |  CAST(COUNT(*) AS BIGINT) AS y FROM events GROUP BY 1, 2),
        |bounds AS (SELECT event_type, MIN(epoch_day) AS d0,
        |  MAX(epoch_day) AS d1 FROM daily GROUP BY 1),
        |spine AS (SELECT event_type,
        |  unnest(generate_series(d0, d1)) AS epoch_day FROM bounds),
        |filled AS (SELECT s.event_type, s.epoch_day,
        |  COALESCE(d.y, 0) AS y FROM spine s
        |  LEFT JOIN daily d USING (event_type, epoch_day)),
        |ma AS (SELECT event_type, epoch_day, y,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS nw,
        |  CAST(SUM(y) OVER w AS BIGINT) AS s7
        |  FROM filled WINDOW w AS (PARTITION BY event_type
        |    ORDER BY epoch_day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |sel AS (SELECT event_type, (epoch_day + 4) % 7 AS dow,
        |  y * 7 * 1000000000 // s7 AS idx_e9
        |  FROM ma WHERE nw = 7 AND s7 > 0)
        |SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(idx_e9) // COUNT(*) AS BIGINT) AS seasonal_e9
        |FROM sel GROUP BY 1, 2""".stripMargin,
    "q_abtest" ->
      """WITH m AS (SELECT
        |  CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT) % 2
        |    AS arm,
        |  CAST(COUNT(*) AS DOUBLE) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |    AS DOUBLE) AS sxx
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |p AS (SELECT
        |  MAX(CASE WHEN arm = 0 THEN n END) AS n0,
        |  MAX(CASE WHEN arm = 1 THEN n END) AS n1,
        |  MAX(CASE WHEN arm = 0 THEN sx END) AS sx0,
        |  MAX(CASE WHEN arm = 1 THEN sx END) AS sx1,
        |  MAX(CASE WHEN arm = 0 THEN sxx END) AS sxx0,
        |  MAX(CASE WHEN arm = 1 THEN sxx END) AS sxx1
        |  FROM m)
        |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
        |  ROUND(sx0 / n0, 9) AS mean0,
        |  ROUND(sx1 / n1, 9) AS mean1,
        |  ROUND((sx1 / n1 - sx0 / n0) /
        |    sqrt(((sxx1 - sx1 * sx1 / n1) / (n1 - 1)) / n1 +
        |         ((sxx0 - sx0 * sx0 / n0) / (n0 - 1)) / n0), 6) AS welch_z
        |FROM p""".stripMargin,
    "q_sax" ->
      s"""WITH seg AS (SELECT event_type, date_trunc('day', ts) AS day,
         |  hour(ts) // 4 AS seg, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2, 3),
         |t AS (SELECT *, CAST(SUM(c) OVER
         |  (PARTITION BY event_type, day) AS BIGINT) AS tot FROM seg),
         |sym AS (SELECT event_type, day, seg,
         |  CASE WHEN c * 12 < tot THEN 'a'
         |       WHEN c * 6 <= tot THEN 'b'
         |       WHEN c * 3 <= tot THEN 'c'
         |       ELSE 'd' END AS sym FROM t),
         |wrd AS (SELECT event_type, day,
         |  string_agg(sym, '' ORDER BY seg) AS word FROM sym GROUP BY 1, 2)
         |SELECT event_type, word, CAST(COUNT(*) AS BIGINT) AS n_days
         |FROM wrd GROUP BY 1, 2
         |ORDER BY n_days DESC, event_type ASC, word ASC
         |LIMIT $SaxTopK""".stripMargin,
    "q_autocorr" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS x
        |FROM events GROUP BY 1, 2),
        |lagged AS (SELECT event_type, x,
        |  lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS x1,
        |  lag(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS x7
        |FROM daily)
        |SELECT event_type,
        |COUNT(x1) AS n1,
        |ROUND((CAST(COUNT(x1) AS DOUBLE) * CAST(SUM(x*x1) AS DOUBLE)
        |  - CAST(SUM(CASE WHEN x1 IS NOT NULL THEN x END) AS DOUBLE)
        |    * CAST(SUM(x1) AS DOUBLE))
        | / sqrt((CAST(COUNT(x1) AS DOUBLE)
        |    * CAST(SUM(CASE WHEN x1 IS NOT NULL THEN x*x END) AS DOUBLE)
        |  - CAST(SUM(CASE WHEN x1 IS NOT NULL THEN x END) AS DOUBLE)
        |    * CAST(SUM(CASE WHEN x1 IS NOT NULL THEN x END) AS DOUBLE))
        |  * (CAST(COUNT(x1) AS DOUBLE) * CAST(SUM(x1*x1) AS DOUBLE)
        |  - CAST(SUM(x1) AS DOUBLE) * CAST(SUM(x1) AS DOUBLE))), 6)
        |  AS r1,
        |COUNT(x7) AS n7,
        |ROUND((CAST(COUNT(x7) AS DOUBLE) * CAST(SUM(x*x7) AS DOUBLE)
        |  - CAST(SUM(CASE WHEN x7 IS NOT NULL THEN x END) AS DOUBLE)
        |    * CAST(SUM(x7) AS DOUBLE))
        | / sqrt((CAST(COUNT(x7) AS DOUBLE)
        |    * CAST(SUM(CASE WHEN x7 IS NOT NULL THEN x*x END) AS DOUBLE)
        |  - CAST(SUM(CASE WHEN x7 IS NOT NULL THEN x END) AS DOUBLE)
        |    * CAST(SUM(CASE WHEN x7 IS NOT NULL THEN x END) AS DOUBLE))
        |  * (CAST(COUNT(x7) AS DOUBLE) * CAST(SUM(x7*x7) AS DOUBLE)
        |  - CAST(SUM(x7) AS DOUBLE) * CAST(SUM(x7) AS DOUBLE))), 6)
        |  AS r7
        |FROM lagged GROUP BY event_type""".stripMargin,
    "q_changepoint" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  COUNT(*) AS n FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, day,
        |  CAST(row_number() OVER w AS BIGINT) AS i,
        |  CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum,
        |  CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS dd,
        |  CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS tt
        |FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |cand AS (SELECT *,
        |  abs(cum * (dd - i) - (tt - cum) * i) * 1000000000
        |    // (i * (dd - i)) AS score_e9
        |FROM c WHERE i < dd),
        |best AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |  ORDER BY score_e9 DESC, day ASC) AS rk FROM cand)
        |SELECT event_type, day AS split_day, i AS days_before,
        |  dd - i AS days_after, cum AS cnt_before, tt - cum AS cnt_after,
        |  score_e9
        |FROM best WHERE rk = 1""".stripMargin,
    "q_linreg" ->
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |  COUNT(*) AS y FROM events GROUP BY 1, 2),
        |d0 AS (SELECT event_type, MIN(day) AS day0 FROM daily GROUP BY 1),
        |xy AS (SELECT daily.event_type,
        |  CAST(date_diff('day', day0, day) AS BIGINT) AS x, y
        |FROM daily JOIN d0 ON daily.event_type = d0.event_type),
        |m AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
        |  CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |  CAST(SUM(x*y) AS DOUBLE) AS sxy, CAST(SUM(x*x) AS DOUBLE) AS sxx
        |FROM xy GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
        |  6) AS intercept
        |FROM m""".stripMargin,
    "q_cumulative_uniques" ->
      """WITH fs AS (SELECT user_id, MIN(date_trunc('day', ts))
        |    AS first_day
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |nd AS (SELECT first_day, COUNT(*) AS new_users FROM fs
        |  GROUP BY 1)
        |SELECT first_day, new_users,
        |CAST(SUM(new_users) OVER (ORDER BY first_day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS cum_users
        |FROM nd""".stripMargin,
    "q_hll_setops" ->
      s"""WITH h AS (SELECT event_type, CAST(('0x' || substr(md5(CAST(
         |  user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM events
         |  WHERE event_type IN ('view', 'purchase')),
         |r AS (SELECT event_type, h % $HllBuckets AS bucket,
         |  h // $HllBuckets AS rem FROM h),
         |rho AS (SELECT event_type, bucket,
         |  CASE WHEN rem = 0 THEN 55
         |    ELSE 55 - length(bin(rem)) END AS rho FROM r)
         |SELECT bucket,
         |MAX(CASE WHEN event_type = 'view' THEN rho END) AS rho_view,
         |MAX(CASE WHEN event_type = 'purchase' THEN rho END)
         |  AS rho_purchase,
         |MAX(rho) AS rho_union
         |FROM rho GROUP BY bucket""".stripMargin,
    "q_grouped_hll" ->
      s"""WITH h AS (SELECT event_type, CAST(('0x' || substr(md5(CAST(
         |  user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h FROM events),
         |r AS (SELECT event_type, h % $HllBuckets AS bucket,
         |  h // $HllBuckets AS rem FROM h)
         |SELECT event_type, bucket,
         |MAX(CASE WHEN rem = 0 THEN 55
         |  ELSE 55 - length(bin(rem)) END) AS max_rho
         |FROM r GROUP BY event_type, bucket""".stripMargin,
    "q_hll_registers" ->
      s"""WITH h AS (SELECT CAST(('0x' || substr(md5(CAST(user_id AS
         |  VARCHAR)), 1, 15)) AS BIGINT) AS h FROM events),
         |r AS (SELECT h % $HllBuckets AS bucket, h // $HllBuckets AS rem
         |  FROM h)
         |SELECT bucket,
         |MAX(CASE WHEN rem = 0 THEN 55
         |  ELSE 55 - length(bin(rem)) END) AS max_rho
         |FROM r GROUP BY bucket""".stripMargin,
    "q_isotonic" ->
      """WITH daily AS (SELECT event_type,
        |  CAST(DATE_TRUNC('day', ts) AS DATE) AS day, COUNT(*) AS y
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT event_type, day, y,
        |  ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY day ASC) AS t,
        |  CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY day ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS c
        |  FROM daily),
        |m AS (SELECT a.event_type, a.t AS j, b.t AS k,
        |  CAST(b.c - (a.c - a.y) AS DOUBLE) / (b.t - a.t + 1) AS m
        |  FROM sp a JOIN sp b
        |  ON a.event_type = b.event_type AND b.t >= a.t),
        |inner_ AS (SELECT i.event_type, i.t AS ti, i.day, i.y, m.j,
        |  MIN(m.m) AS mn
        |  FROM sp i JOIN m ON m.event_type = i.event_type
        |    AND m.j <= i.t AND m.k >= i.t
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT event_type, day, y, MAX(mn) AS iso
        |FROM inner_ GROUP BY event_type, ti, day, y
        |ORDER BY 1 ASC, 2 ASC""".stripMargin,
    "q_qq" ->
      """WITH hist AS (SELECT event_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |  COUNT(*) AS cnt
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1, 2),
        |c AS (SELECT event_type, cents,
        |  SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  SUM(cnt) OVER (PARTITION BY event_type) AS tot
        |  FROM hist),
        |q AS (SELECT event_type, p,
        |  MIN(CASE WHEN cum * 100 >= tot * p THEN cents END) AS q
        |  FROM c CROSS JOIN (SELECT unnest(generate_series(5, 95, 5))
        |    AS p) ps
        |  GROUP BY 1, 2)
        |SELECT CAST(v.p AS BIGINT) AS p, v.q AS q_view,
        |u.q AS q_purchase, u.q - v.q AS shift_cents
        |FROM (SELECT p, q FROM q WHERE event_type = 'view') v
        |JOIN (SELECT p, q FROM q WHERE event_type = 'purchase') u
        |USING (p) ORDER BY 1 ASC""".stripMargin,
    "q_cusum" ->
      s"""WITH daily AS (
         |  SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
         |    COUNT(*) AS x
         |  FROM events GROUP BY 1, 2),
         |curve AS (SELECT event_type, day,
         |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         |    CAST(COUNT(*) OVER (PARTITION BY event_type) * x -
         |      SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS dd
         |  FROM daily),
         |cum AS (SELECT event_type, day, n,
         |    CAST(SUM(dd) OVER (PARTITION BY event_type ORDER BY day ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM curve),
         |ss AS (SELECT event_type, day, n,
         |    cum - LEAST(0, CAST(MIN(cum) OVER (PARTITION BY event_type
         |      ORDER BY day ASC ROWS BETWEEN UNBOUNDED PRECEDING AND
         |      CURRENT ROW) AS BIGINT)) AS s_up,
         |    GREATEST(0, CAST(MAX(cum) OVER (PARTITION BY event_type
         |      ORDER BY day ASC ROWS BETWEEN UNBOUNDED PRECEDING AND
         |      CURRENT ROW) AS BIGINT)) - cum AS s_down
         |  FROM cum),
         |rk AS (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY event_type
         |      ORDER BY s_up DESC, day ASC) AS r_up,
         |    ROW_NUMBER() OVER (PARTITION BY event_type
         |      ORDER BY s_down DESC, day ASC) AS r_down
         |  FROM ss)
         |SELECT event_type, MAX(n) AS n_days,
         |MAX(CASE WHEN r_up = 1 THEN s_up END) AS smax_up,
         |MAX(CASE WHEN r_up = 1 THEN day END) AS cp_day_up,
         |MAX(CASE WHEN r_down = 1 THEN s_down END) AS smax_down,
         |MAX(CASE WHEN r_down = 1 THEN day END) AS cp_day_down,
         |bit_xor(CAST(('0x' || substr(md5(event_type || '|' || day ||
         |  '|' || s_up || '|' || s_down), 1, 15)) AS BIGINT))
         |  AS curve_checksum
         |FROM rk GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q_kendall" ->
      s"""WITH daily AS MATERIALIZED (
         |  SELECT event_type, DATE_TRUNC('day', ts) AS day,
         |    COUNT(*) AS x,
         |    CAST(SUM(CAST(value AS DECIMAL(28,6))) * 1000000 AS BIGINT)
         |      AS y
         |  FROM events GROUP BY 1, 2),
         |p AS (SELECT a.event_type, a.x AS x1, a.y AS y1,
         |    b.x AS x2, b.y AS y2
         |  FROM daily a JOIN daily b
         |    ON a.event_type = b.event_type AND a.day < b.day),
         |k AS (SELECT event_type, COUNT(*) AS n0,
         |  CAST(SUM(CASE WHEN (x1 < x2 AND y1 < y2)
         |    OR (x1 > x2 AND y1 > y2) THEN 1 ELSE 0 END) AS BIGINT) AS nc,
         |  CAST(SUM(CASE WHEN (x1 < x2 AND y1 > y2)
         |    OR (x1 > x2 AND y1 < y2) THEN 1 ELSE 0 END) AS BIGINT) AS nd,
         |  CAST(SUM(CASE WHEN x1 = x2 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
         |  CAST(SUM(CASE WHEN y1 = y2 THEN 1 ELSE 0 END) AS BIGINT) AS ty
         |  FROM p GROUP BY 1),
         |nd_ AS (SELECT event_type, COUNT(*) AS n_days FROM daily
         |  GROUP BY 1)
         |SELECT k.event_type, nd_.n_days, k.n0, k.nc, k.nd, k.tx, k.ty,
         |CASE WHEN (k.n0 - k.tx) * (k.n0 - k.ty) = 0 THEN NULL
         |  ELSE CAST(k.nc - k.nd AS DOUBLE) /
         |  sqrt(CAST((k.n0 - k.tx) * (k.n0 - k.ty) AS DOUBLE)) END
         |  AS tau_b
         |FROM k JOIN nd_ USING (event_type)
         |ORDER BY event_type ASC""".stripMargin,
    "q_kmv_setops" ->
      s"""WITH flags AS MATERIALIZED (
         |  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
         |    1, 15)) AS BIGINT) AS h,
         |  MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS in_a,
         |  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |    AS in_b
         |  FROM events WHERE event_type IN ('view', 'purchase')
         |  GROUP BY 1),
         |ex AS (SELECT COUNT(*) AS exact_union,
         |  CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS exact_inter FROM flags),
         |tk AS (SELECT * FROM flags ORDER BY h ASC LIMIT $KmvK),
         |top AS (SELECT COUNT(*) AS n_reg, MAX(h) AS kth,
         |  CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_both,
         |  CAST(SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_only_a,
         |  CAST(SUM(CASE WHEN in_a = 0 AND in_b = 1 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_only_b
         |  FROM tk),
         |th AS (SELECT *, CASE WHEN n_reg < $KmvK
         |    THEN 1152921504606846976 ELSE kth END AS theta
         |  FROM top)
         |SELECT n_reg, theta, n_both, n_only_a, n_only_b,
         |CAST(CASE WHEN n_reg < $KmvK THEN n_reg
         |  ELSE CAST((${KmvK - 1}::HUGEINT *
         |    1152921504606846976::HUGEINT) // theta AS BIGINT)
         |  END AS BIGINT) AS est_union,
         |CAST(CASE WHEN n_reg < $KmvK THEN n_both
         |  ELSE CAST((n_both::HUGEINT *
         |    1152921504606846976::HUGEINT) // theta AS BIGINT)
         |  END AS BIGINT) AS est_inter,
         |n_both * 1000000000 // n_reg AS jaccard_e9,
         |ex.exact_union, ex.exact_inter
         |FROM th CROSS JOIN ex""".stripMargin,
    "q_kmv" ->
      s"""WITH hdist AS MATERIALIZED (
         |  SELECT DISTINCT event_type, user_id % 2 AS half,
         |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
         |      AS BIGINT) AS h
         |  FROM events),
         |dist AS MATERIALIZED (SELECT DISTINCT event_type, h FROM hdist),
         |gk AS (SELECT event_type, h,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h ASC) AS r
         |  FROM dist QUALIFY r <= $KmvK),
         |halves AS (SELECT event_type, h,
         |    ROW_NUMBER() OVER (PARTITION BY event_type, half
         |      ORDER BY h ASC) AS r
         |  FROM hdist QUALIFY r <= $KmvK),
         |mrg AS (SELECT event_type, h,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h ASC) AS r
         |  FROM (SELECT DISTINCT event_type, h FROM halves)
         |  QUALIFY r <= $KmvK),
         |tot AS (SELECT event_type, COUNT(*) AS n_exact FROM dist
         |  GROUP BY 1),
         |g AS (SELECT event_type, COUNT(*) AS n_reg,
         |    MAX(CASE WHEN r = $KmvK THEN h END) AS kth,
         |    bit_xor(xor(h, r * 1000003)) AS reg_checksum
         |  FROM gk GROUP BY 1),
         |m AS (SELECT event_type, bit_xor(xor(h, r * 1000003))
         |    AS merged_checksum
         |  FROM mrg GROUP BY 1)
         |SELECT g.event_type, tot.n_exact, g.n_reg, g.kth,
         |CAST(CASE WHEN g.n_reg < $KmvK THEN g.n_reg
         |  ELSE CAST((${KmvK - 1}::HUGEINT *
         |    1152921504606846976::HUGEINT) // kth AS BIGINT)
         |  END AS BIGINT) AS est_distinct,
         |g.reg_checksum, m.merged_checksum
         |FROM g JOIN m USING (event_type) JOIN tot USING (event_type)
         |ORDER BY event_type ASC""".stripMargin,
    "q_countmin" ->
      s"""WITH ev AS (SELECT user_id FROM events),
         |dd AS (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS d),
         |cells AS (SELECT d,
         |  CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || ':' ||
         |    CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % $CmsWidth
         |    AS bucket
         |  FROM ev CROSS JOIN dd),
         |counters AS (SELECT d, bucket, COUNT(*) AS n
         |  FROM cells GROUP BY 1, 2),
         |truth AS (SELECT user_id, COUNT(*) AS n_events FROM ev
         |  WHERE user_id < 10 GROUP BY 1),
         |probe AS (SELECT t.user_id, t.n_events, d,
         |  CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || ':' ||
         |    CAST(t.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % $CmsWidth
         |    AS bucket
         |  FROM truth t CROSS JOIN dd)
         |SELECT p.user_id, p.n_events, MIN(c.n) AS cms_estimate
         |FROM probe p JOIN counters c USING (d, bucket)
         |GROUP BY 1, 2""".stripMargin,
    "q_concentration" ->
      """WITH c AS (SELECT event_type, user_id, COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, COUNT(*) AS n_users,
        |  CAST(SUM(c) AS BIGINT) AS n_events,
        |  CAST(SUM(c::HUGEINT * c::HUGEINT) AS HUGEINT) AS sq
        |  FROM c GROUP BY 1)
        |SELECT event_type, n_users, n_events,
        |CAST(sq * 1000000000 // (n_events::HUGEINT * n_events::HUGEINT)
        |  AS BIGINT) AS hhi_1e9
        |FROM g""".stripMargin,
    "q_argmax" ->
      """WITH r AS (SELECT event_type, value, ts, event_id, user_id,
        |  ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY value DESC, ts DESC, event_id DESC, user_id DESC) AS rn
        |  FROM events)
        |SELECT event_type, value AS max_value, ts AS at_ts, event_id, user_id
        |FROM r WHERE rn = 1""".stripMargin,
    "q_rolling_active" ->
      """WITH du AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE)
        |    AS d0, user_id
        |  FROM events),
        |cov AS (SELECT d0 + CAST(x AS INTEGER) AS day, user_id
        |  FROM du CROSS JOIN generate_series(0, 6) AS t(x))
        |SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        |FROM cov GROUP BY day""".stripMargin,
    "q_seq_pattern" ->
      """WITH seq AS (SELECT user_id,
        |  string_agg(substr(event_type, 1, 1), '' ORDER BY ts ASC,
        |    event_id ASC) AS s
        |  FROM events GROUP BY user_id),
        |f AS (SELECT
        |  CAST(SUM(CASE WHEN regexp_matches(s, 's.*p') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS a,
        |  CAST(SUM(CASE WHEN regexp_matches(s, 'vp') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS b,
        |  CAST(SUM(CASE WHEN regexp_matches(s, 'e.*p') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS c,
        |  CAST(SUM(CASE WHEN regexp_matches(s, '^[cv]+$') THEN 1 ELSE 0 END)
        |    AS BIGINT) AS d
        |  FROM seq)
        |SELECT 'signup_then_purchase' AS pattern, a AS n_users FROM f
        |UNION ALL SELECT 'view_to_purchase_direct', b FROM f
        |UNION ALL SELECT 'error_then_purchase', c FROM f
        |UNION ALL SELECT 'pure_browser', d FROM f""".stripMargin,
    "q_anomaly" ->
      """WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |  COUNT(*) AS x FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, hour, x,
        |  COUNT(*) OVER (PARTITION BY event_type) AS n,
        |  CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS s,
        |  CAST(SUM(x*x) OVER (PARTITION BY event_type) AS HUGEINT) AS q
        |  FROM h)
        |SELECT event_type, hour, x, n, s FROM w
        |WHERE (x*n - s)::HUGEINT * (x*n - s)::HUGEINT >
        |  4 * (n::HUGEINT * q - s::HUGEINT * s::HUGEINT)""".stripMargin,
    "q_event_transition" ->
      """WITH seq AS (SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts ASC, event_id ASC) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM seq
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
        |  FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, n, n * 1000000000 // tot AS p_scaled
        |FROM c JOIN t ON c.from_type = t.from_type""".stripMargin,
    "q_window_distinct" ->
      """WITH f AS (SELECT event_type, user_id, MIN(DATE_TRUNC('day', ts)) AS day
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT event_type, day, COUNT(*) AS n_new_users FROM f GROUP BY 1, 2)
        |SELECT event_type, day, n_new_users,
        |CAST(SUM(n_new_users) OVER (PARTITION BY event_type ORDER BY day ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS cum_distinct_users
        |FROM n""".stripMargin,
    "q_attribution" ->
      s"""WITH t AS (SELECT event_type, value,
         |  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
         |    IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
         |  FROM events)
         |SELECT COALESCE(touch, 'none') AS touch, COUNT(*) AS n_purchases,
         |${sqlSum("value")} AS sum_value
         |FROM t WHERE event_type = 'purchase' GROUP BY 1""".stripMargin,
    "q_cooccur" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |COUNT(*) AS n_users
        |FROM ut a JOIN ut b
        |ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin,
    "q_assoc_rules" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |items AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_item
        |  FROM ut GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM ut),
        |p AS (SELECT a.event_type AS antecedent,
        |  b.event_type AS consequent, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM ut a JOIN ut b
        |  ON a.user_id = b.user_id AND a.event_type <> b.event_type
        |  GROUP BY 1, 2)
        |SELECT antecedent, consequent, n_ab,
        |ia.n_item AS n_a, ic.n_item AS n_b,
        |n_ab * 1000000000 // ia.n_item AS conf_e9,
        |CAST((CAST(n_ab AS HUGEINT) * n_users * 1000000000)
        |  // (ia.n_item * CAST(ic.n_item AS HUGEINT)) AS BIGINT)
        |  AS lift_e9
        |FROM p
        |JOIN items ia ON p.antecedent = ia.event_type
        |JOIN items ic ON p.consequent = ic.event_type
        |CROSS JOIN tot
        |ORDER BY antecedent ASC, consequent ASC""".stripMargin,
    "q_streak" ->
      """WITH hrs AS (SELECT DISTINCT user_id,
        |  CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h
        |  FROM events),
        |i AS (SELECT user_id, h,
        |  h - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY h) AS isl
        |  FROM hrs),
        |st AS (SELECT user_id, isl, COUNT(*) AS len FROM i GROUP BY 1, 2),
        |pu AS (SELECT user_id, MAX(len) AS longest_streak,
        |  COUNT(*) AS n_streaks FROM st GROUP BY 1)
        |SELECT longest_streak, COUNT(*) AS n_users,
        |CAST(SUM(n_streaks) AS BIGINT) AS sum_streaks
        |FROM pu GROUP BY 1""".stripMargin,
    "q_interpolate" ->
      s"""WITH daily AS (SELECT event_type,
         |  CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
         |  CAST(SUM(CAST(value AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS v_e6
         |  FROM events WHERE user_id % $InterpMod = 0 GROUP BY 1, 2),
         |b AS (SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
         |  FROM daily GROUP BY 1),
         |spine AS (SELECT event_type,
         |  CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
         |    AS day FROM b),
         |j AS (SELECT sp.event_type, sp.day, d.v_e6,
         |  LAST_VALUE(d.v_e6 IGNORE NULLS) OVER (
         |    PARTITION BY sp.event_type ORDER BY sp.day ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
         |  LAST_VALUE(CASE WHEN d.v_e6 IS NOT NULL THEN sp.day END
         |    IGNORE NULLS) OVER (
         |    PARTITION BY sp.event_type ORDER BY sp.day ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pd,
         |  FIRST_VALUE(d.v_e6 IGNORE NULLS) OVER (
         |    PARTITION BY sp.event_type ORDER BY sp.day ASC
         |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
         |  FIRST_VALUE(CASE WHEN d.v_e6 IS NOT NULL THEN sp.day END
         |    IGNORE NULLS) OVER (
         |    PARTITION BY sp.event_type ORDER BY sp.day ASC
         |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nd
         |  FROM spine sp LEFT JOIN daily d
         |  ON d.event_type = sp.event_type AND d.day = sp.day)
         |SELECT event_type, day,
         |COALESCE(v_e6, (pv * (nd - day) + nv * (day - pd)) // (nd - pd))
         |  AS filled_e6,
         |CASE WHEN v_e6 IS NULL THEN CAST(1 AS BIGINT)
         |  ELSE CAST(0 AS BIGINT) END AS is_interp
         |FROM j""".stripMargin,
    "q_ewma" ->
      s"""WITH daily AS (SELECT event_type,
         |  CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
         |  CAST(SUM(CAST(value AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS v_e6
         |  FROM events WHERE user_id % $InterpMod = 0 GROUP BY 1, 2),
         |kk AS (SELECT unnest(generate_series(0, ${EwmaLags - 1})) AS k),
         |c AS (SELECT event_type, day + CAST(k AS INTEGER) AS day,
         |  v_e6 * (CAST(1 AS BIGINT) << (${EwmaLags - 1} - k)) AS vw,
         |  CAST(1 AS BIGINT) << (${EwmaLags - 1} - k) AS w
         |  FROM daily CROSS JOIN kk),
         |a AS (SELECT event_type, day, CAST(SUM(vw) AS BIGINT) AS num,
         |  CAST(SUM(w) AS BIGINT) AS den FROM c GROUP BY 1, 2)
         |SELECT a.event_type, a.day, num // den AS ewma_e6
         |FROM a JOIN daily d ON d.event_type = a.event_type
         |  AND d.day = a.day""".stripMargin,
    "q_scd2_lookup" ->
      s"""WITH e AS (SELECT user_id, event_type AS state,
         |  epoch_us(ts) AS ts_us, event_id,
         |  lag(event_type) OVER (PARTITION BY user_id
         |    ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev
         |  FROM events WHERE user_id % $Scd2Mod = 0),
         |c AS (SELECT user_id, state, ts_us, event_id FROM e
         |  WHERE prev IS NULL OR prev <> state),
         |dim AS (SELECT user_id, state, ts_us AS valid_from_us,
         |  lead(ts_us) OVER w AS valid_to_us,
         |  CAST(row_number() OVER w AS BIGINT) AS version
         |  FROM c WINDOW w AS (PARTITION BY user_id
         |    ORDER BY ts_us ASC, event_id ASC)),
         |ev AS (SELECT user_id AS u, epoch_us(ts) - 1 AS t, event_id,
         |  value FROM events
         |  WHERE user_id % $Scd2Mod = 0 AND event_type = 'purchase')
         |SELECT state, COUNT(*) AS n_events,
         |${sqlSum("value")} AS sum_value,
         |bit_xor(xor(event_id * 1000003, version)) AS assign_checksum
         |FROM ev JOIN dim ON u = user_id AND t >= valid_from_us
         |  AND (valid_to_us IS NULL OR t < valid_to_us)
         |GROUP BY state""".stripMargin,
    "q_scd2" ->
      s"""WITH e AS (SELECT user_id, event_type AS state,
         |  epoch_us(ts) AS ts_us, event_id,
         |  lag(event_type) OVER (PARTITION BY user_id
         |    ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev
         |  FROM events WHERE user_id % $Scd2Mod = 0),
         |c AS (SELECT user_id, state, ts_us, event_id FROM e
         |  WHERE prev IS NULL OR prev <> state)
         |SELECT user_id, state, ts_us AS valid_from_us,
         |lead(ts_us) OVER w AS valid_to_us,
         |CAST(row_number() OVER w AS BIGINT) AS version,
         |CASE WHEN lead(ts_us) OVER w IS NULL THEN CAST(1 AS BIGINT)
         |  ELSE CAST(0 AS BIGINT) END AS is_current
         |FROM c
         |WINDOW w AS (PARTITION BY user_id
         |  ORDER BY ts_us ASC, event_id ASC)""".stripMargin,
    "q_gap_fill" ->
      s"""WITH h AS (SELECT event_type, DATE_TRUNC('hour', ts) AS hour,
         |  COUNT(*) AS n, ${sqlSum("value")} AS sum_value
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
         |  FROM h GROUP BY 1),
         |spine AS (SELECT event_type,
         |  unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b)
         |SELECT sp.event_type, sp.hour,
         |COALESCE(h.n, 0) AS n,
         |LAST_VALUE(h.sum_value IGNORE NULLS) OVER (
         |  PARTITION BY sp.event_type ORDER BY sp.hour ASC
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum,
         |CASE WHEN h.n IS NULL THEN CAST(1 AS BIGINT)
         |  ELSE CAST(0 AS BIGINT) END AS is_gap
         |FROM spine sp LEFT JOIN h
         |ON h.event_type = sp.event_type AND h.hour = sp.hour""".stripMargin,
    "q_session_window" ->
      """WITH g AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |  LAG(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev
        |  FROM events),
        |m AS (SELECT user_id, ts_us,
        |  SUM(CASE WHEN prev IS NULL OR ts_us - prev > 1800000000
        |    THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
        |    ORDER BY ts_us ASC ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, MIN(ts_us) AS session_start_us, COUNT(*) AS n_events
        |FROM m GROUP BY user_id, sid""".stripMargin,
    "q_tumbling_hourly" ->
      s"""SELECT DATE_TRUNC('hour', ts) AS hour, event_type,
         |COUNT(*) AS n, ${sqlSum("value")} AS sum_value
         |FROM events GROUP BY 1, 2""".stripMargin,
    "q_hopping" ->
      s"""SELECT (epoch_us(ts) // 900000000 - i) * 900000000
         |  AS window_start_us, event_type,
         |COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
         |${sqlSum("value")} AS sum_value
         |FROM (SELECT ts, event_type, user_id, value,
         |  unnest(generate_series(0, 3)) AS i FROM events)
         |GROUP BY 1, 2""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |  LAG(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev_us
        |  FROM events),
        |m AS (
        |  SELECT user_id,
        |  CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM g)
        |SELECT user_id, CAST(SUM(is_new) AS BIGINT) AS n_sessions,
        |COUNT(*) AS n_events
        |FROM m GROUP BY user_id""".stripMargin,
    "q_path_census" ->
      """WITH g AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |  LAG(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev_us
        |  FROM events),
        |m AS (SELECT *, CASE WHEN prev_us IS NULL
        |    OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM g),
        |se AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts_us ASC, event_id ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS session_id FROM m),
        |p AS (SELECT user_id, session_id,
        |  string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path,
        |  CAST(COUNT(*) AS BIGINT) AS len FROM se GROUP BY 1, 2)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |CAST(MAX(len) AS BIGINT) AS path_len
        |FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path ASC LIMIT 20""".stripMargin,
    "q_funnel" ->
      """WITH s AS (
        |  SELECT user_id, MIN(ts) AS first_signup FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT s.user_id, s.first_signup,
        |MIN(p.ts) AS first_purchase_after,
        |epoch_us(MIN(p.ts)) - epoch_us(s.first_signup) AS conv_us
        |FROM s LEFT JOIN events p
        |ON p.user_id = s.user_id AND p.event_type = 'purchase'
        |AND p.ts >= s.first_signup
        |GROUP BY s.user_id, s.first_signup""".stripMargin,
    "q_event_stats" ->
      s"""SELECT event_type, COUNT(*) AS n,
         |COUNT(DISTINCT user_id) AS n_users,
         |${sqlAvg("value")} AS avg_value,
         |MIN(value) AS min_value, MAX(value) AS max_value
         |FROM events GROUP BY event_type""".stripMargin,
    "q_retention" ->
      """WITH c AS (SELECT user_id, MIN(DATE_TRUNC('week', ts)) AS cohort_week
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS week FROM events)
        |SELECT c.cohort_week,
        |CAST(date_diff('day', CAST(c.cohort_week AS DATE), CAST(a.week AS DATE)) / 7
        |  AS BIGINT) AS week_offset,
        |COUNT(DISTINCT c.user_id) AS n_active
        |FROM c JOIN a ON a.user_id = c.user_id AND a.week >= c.cohort_week
        |GROUP BY 1, 2""".stripMargin,
    "q_json_path" ->
      """WITH j AS (SELECT event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type, COUNT(k) AS n_with_k,
        |CAST(SUM(k) AS BIGINT) AS sum_k,
        |COUNT(DISTINCT k) AS n_distinct_k
        |FROM j GROUP BY event_type""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type,
        |CAST(SUM(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS sum_k,
        |CAST(MAX(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) AS max_k,
        |COUNT(*) AS n
        |FROM events GROUP BY event_type""".stripMargin
  )
}
