package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Event-stream operators over the `events` table: tumbling-window
  * aggregation and gap-based sessionization — the batch halves of the
  * streaming pair (the Structured Streaming variant of the window
  * aggregation is q28 in [[Streaming]]).
  *
  * Timestamps: `events.ts` arrives as epoch-nanosecond longs (see
  * [[graft.sources.Tables]]); all window math is integer µs, so the
  * DuckDB oracle (`epoch_us(ts)`) matches exactly. `value` doubles are
  * aggregated in integer cents (Relational's discipline).
  */
object Events extends graft.Module {

  private val DayUs = 86400000000L // µs per day
  private[graft] val SessionGapUs = 43200000000L // 12 h — calibrated to the
  // corpus' median inter-event gap (~7.3 h) so users genuinely split
  // into multi-event sessions rather than one-event-per-session.

  /** q26: tumbling daily window per event type — count, distinct users,
    * exact-cents value sum. One shuffle on (bucket, type) with map-side
    * partials; the classic streaming-shaped aggregation run as batch.
    */
  def windowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts DIV 1000").as("us"),
        round(col("value") * 100, 0).cast("long").as("vc"))
      .withColumn("day_bucket", expr("us DIV " + DayUs))
      .groupBy(col("day_bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        (sum(col("vc")).cast("double") / 100.0).as("sum_value"))

  /** q27: gap-based sessionization — a new session starts after a
    * >12 h silence. lag + running sum over (user, time) windows; the
    * shuffle is one hash partition by user_id, and per-user state is
    * bounded (the streaming twin would be flatMapGroupsWithState).
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), expr("ts DIV 1000").as("us"))
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    e.withColumn("prev", lag(col("us"), 1).over(byTime))
      .withColumn("new_sess",
        when(col("prev").isNull || col("us") - col("prev") > SessionGapUs, 1)
          .otherwise(0))
      .withColumn("session_no", sum(col("new_sess")).over(
        byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
  }

  /** q35: AS-OF JOIN — for every order, the user's latest event at or
    * before the order timestamp. Spark has no native as-of join; the
    * scalable composition is union-tag + one keyed window: both sides
    * shuffle ONCE on the user key, sort within partition by time, and a
    * running `last(..., ignoreNulls)` carries the most recent event
    * forward onto each order row. No range-join explosion, no
    * per-order probe — cost is a single sort-merge pass, the same shape
    * a native as-of physical operator would use. Events are
    * pre-collapsed to max(event_id) per (user, µs) so ties are
    * deterministic in both engines (the DuckDB oracle uses its native
    * ASOF LEFT JOIN).
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id").as("u"), expr("ts DIV 1000").as("us"),
        col("event_id"))
      .groupBy(col("u"), col("us")).agg(max(col("event_id")).as("event_id"))
      .select(col("u"), col("us"), col("event_id"),
        lit(1).as("is_event"), lit(null).cast("long").as("o_orderkey"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_custkey").as("u"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("us"),
        lit(null).cast("long").as("event_id"), lit(0).as("is_event"),
        col("o_orderkey"))
    // at equal µs the event sorts before the order, so "at or before"
    // includes same-instant events
    val w = Window.partitionBy(col("u"))
      .orderBy(col("us").asc, col("is_event").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.unionByName(ord)
      .withColumn("last_event_id",
        last(when(col("is_event") === 1, col("event_id")), ignoreNulls = true)
          .over(w))
      .withColumn("last_event_us",
        last(when(col("is_event") === 1, col("us")), ignoreNulls = true)
          .over(w))
      .filter(col("is_event") === 0)
      .select(col("o_orderkey"), col("u").as("o_custkey"),
        col("last_event_id"), col("last_event_us"))
  }

  /** q40: JSON payload extraction — `props` holds `{"k": <int>}`;
    * extract, type, and aggregate per event type. `get_json_object` is
    * row-local (codegen'd Jackson path eval); one small shuffle on the
    * 5-value event_type key.
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"))

  /** q86: NATIVE session windows — the q27 sessionization expressed
    * with Spark's built-in `session_window` aggregation instead of the
    * hand-rolled lag/running-sum windows: one `groupBy(user,
    * session_window(event_time, gap))`, which Catalyst plans as a
    * single keyed aggregation with session merging inside the
    * operator (and which is the form that runs state-store-backed
    * under Structured Streaming — q31's custom-state twin without the
    * custom code). Completes the sessionization triple: windowed
    * batch (q27), custom state (q31), native operator (q86) — all
    * three provably agreeing on this corpus.
    *
    * Boundary convention: `session_window` starts a NEW session at a
    * gap of exactly 12 h where q27's `>` keeps it — conventions agree
    * on any corpus with no exact-gap pair (verified: none at any test
    * SF, and a µs-resolution event stream makes one vanishingly
    * unlikely; the shared oracle would flag it loudly).
    */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id"),
        timestamp_micros(expr("ts DIV 1000")).as("et"),
        expr("ts DIV 1000").as("us"))
      .groupBy(col("user_id"),
        session_window(col("et"), "12 hours").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"), max(col("us")).as("end_us"))
      .select(col("user_id"), col("n_events"), col("start_us"),
        col("end_us"), (col("end_us") - col("start_us")).as("duration_us"))

  private val IncCellUs = 60000000L // 1-min grid cells
  private val IncHotMin = 2 // errors per cell to call it hot

  /** q67: INTERVAL JOIN — detect incident windows from error bursts,
    * then join every event falling inside a window back to its
    * incident ("blast radius" analysis). Spark plans a raw
    * `a.ts BETWEEN b.start AND b.end` join as BroadcastNestedLoopJoin
    * (or worse, a cartesian) — the canonical range-join scale trap.
    * The engine's shape makes every step an equi-join:
    *
    *  1. grid-count: errors bucket into [[IncCellUs]] cells — ONE
    *     map-side-partial shuffle, the heavy pass over the corpus;
    *  2. hot cells (≥ [[IncHotMin]] errors) merge into maximal runs by
    *     gaps-and-islands — a single window over the HOT-CELL set,
    *     which is bounded by minutes-in-timespan (44k/month), not by
    *     events, so the one-partition window is safe at any corpus
    *     size (were the timespan itself huge, q55's range-sharded rank
    *     replaces the row_number);
    *  3. incident bounds = min/max ERROR timestamp inside each run,
    *     found by exploding runs to their covered cells and
    *     equi-joining errors on cell id;
    *  4. the interval join proper: every event computes its cell,
    *     equi-joins the (exploded) incident cover on cell id, and a
    *     residual BETWEEN keeps in-interval rows only. Incidents are
    *     disjoint by construction, so each event matches ≤ 1 — no
    *     dedup pass needed.
    *
    * Cost is events × (cells each event's minute appears in ≤ 1) —
    * linear, vs the NL-join's events × incidents.
    */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame =
    intervalJoinOf(Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), expr("ts DIV 1000").as("us")))

  /** The q67 pipeline over any (user_id, event_type, us) frame — the
    * spec drives it with crafted event layouts. */
  private[graft] def intervalJoinOf(events: DataFrame): DataFrame = {
    val ev = events.withColumn("cell", expr(s"us DIV $IncCellUs"))
    val err = ev.filter(col("event_type") === "error")
    val hot = err.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_err"))
      .filter(col("n_err") >= IncHotMin)
    val runs = hot
      .withColumn("grp", col("cell") - row_number().over(Window.orderBy(col("cell"))))
      .groupBy(col("grp"))
      .agg(min(col("cell")).as("c0"), max(col("cell")).as("c1"))
    val inc = err
      .join(runs.select(col("c0"), col("c1"),
        explode(sequence(col("c0"), col("c1"))).as("cell")), "cell")
      .groupBy(col("c0"))
      .agg(min(col("us")).as("s_us"), max(col("us")).as("e_us"),
        count(lit(1)).as("n_err"))
    ev.join(inc.select(col("c0"), col("s_us"), col("e_us"), col("n_err"),
        explode(expr(s"sequence(s_us DIV $IncCellUs, e_us DIV $IncCellUs)")).as("cell")),
        "cell")
      .filter(col("us").between(col("s_us"), col("e_us")))
      .groupBy(col("c0"), col("s_us"), col("e_us"), col("n_err"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("c0").as("incident_cell"), col("s_us"), col("e_us"),
        col("n_err"), col("n_events"), col("n_users"))
  }

  /** q75: FUNNEL — per-user view → click → purchase conversion with
    * TIME-ORDERED steps: step N only counts at or after the instant the
    * user completed step N-1 (a purchase before the first view is not a
    * conversion). Three stacked conditional-min windows over the SAME
    * user partition — Spark plans one hash Exchange and chains the
    * Window operators over it, so the whole funnel is a single shuffle
    * with one timestamp of state per (user, step). Same-instant events
    * count via `>=` on both engines. The streaming twin would be one
    * flatMapGroupsWithState keeping the identical three timestamps.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelOf(Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), expr("ts DIV 1000").as("us")))

  /** The q75 pipeline over any (user_id, event_type, us) frame — the
    * spec drives it with crafted step orderings. */
  private[graft] def funnelOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events
      .withColumn("t1",
        min(when(col("event_type") === "view", col("us"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "click" && col("us") >= col("t1"),
          col("us"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("us") >= col("t2"),
          col("us"))).over(w))
      .groupBy(col("user_id"))
      .agg(min(col("t1")).as("view_us"), min(col("t2")).as("click_us"),
        min(col("t3")).as("purchase_us"))
      .withColumn("funnel_depth",
        when(col("purchase_us").isNotNull, 3)
          .when(col("click_us").isNotNull, 2)
          .when(col("view_us").isNotNull, 1)
          .otherwise(0))
  }

  private val WeekUs = 7 * DayUs

  /** q105: COHORT RETENTION — users bucketed by their first-activity
    * week; for every (cohort_week, week_offset) cell, how many of the
    * cohort's users were active that week, as the classic retention
    * triangle. Integer milli-retention (`n_active*1000 DIV n_cohort`)
    * keeps the ratio exact on both engines.
    *
    * Scale shape: three keyed shuffles, each on a natural key — the
    * (user, week) activity grid (distinct collapses the raw events
    * map-side), per-user min week (cohort assignment), and the final
    * (cohort, offset) cell aggregate. The cohort table re-joins the
    * grid on user_id, so AQE broadcasts it while it fits and falls
    * back to a co-partitioned shuffle join beyond that — nothing in
    * the plan holds per-user history, so the triangle's cost is the
    * activity grid's size (≤ users × weeks), not the event count.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame =
    cohortRetentionOf(Tables.events(spark, dir)
      .select(col("user_id"), expr("ts DIV 1000").as("us")))

  /** The q105 pipeline over any (user_id, us) frame — the spec drives
    * it with a crafted activity grid of known retention. */
  private[graft] def cohortRetentionOf(events: DataFrame): DataFrame = {
    val grid = events
      .select(col("user_id"), expr(s"us DIV $WeekUs").as("week"))
      .distinct()
    val cohort = grid.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    // the grid is distinct on (user, week), so a user contributes at
    // most one row per (cohort, offset) cell: count(*) IS the distinct
    // user count, without countDistinct's extra aggregation pass
    val cells = grid.join(cohort, "user_id")
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = cohort.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_cohort"))
    cells.join(sizes, "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        col("n_cohort"),
        expr("n_active * 1000 DIV n_cohort").as("retention_milli"))
  }

  /** q114: SLIDING WINDOWS — 7-day windows advancing 1 day
    * (`window(et, "7 days", "1 day")`): each event lands in exactly 7
    * overlapping windows, the trailing-week-by-day reporting shape.
    * Catalyst plans the overlap as one row-local Expand (7 replicas
    * per row — the documented duration/slide cost multiplier) into
    * the SAME single partial-aggregating shuffle as the tumbling q26;
    * nothing re-reads the input per window. Contrast with q108: a
    * RANGE frame computes per-ROW trailing state, sliding windows
    * compute per-BUCKET series — both one shuffle, different outputs.
    */
  def slidingWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), expr("ts DIV 1000").as("us"),
        round(col("value") * 100, 0).cast("long").as("vc"))
      .withColumn("et", timestamp_micros(col("us")))
      .groupBy(window(col("et"), "7 days", "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(col("vc")).cast("double") / 100.0).as("sum_value"))
      .select(expr(s"unix_micros(window.start) DIV $DayUs").as("start_day"),
        col("event_type"), col("n_events"), col("sum_value"))

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** q88: PIVOT — daily event counts cross-tabulated to one column per
    * event type (`groupBy(day).pivot(type, values)`), the
    * wide-reporting shape. The explicit value list matters at scale:
    * Spark plans it as ONE conditional aggregation pass (same single
    * shuffle as q26); omitting it triggers an extra distinct-values
    * job before planning. Missing (day, type) combinations surface as
    * 0 via the count, not null.
    */
  def pivotDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(expr(s"(ts DIV 1000) DIV $DayUs").as("day_bucket"),
        col("event_type"))
      .groupBy(col("day_bucket"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, EventTypes)

  /** q93: UNPIVOT — q88's wide cross-tab melted back to long form
    * (`Dataset.unpivot`), the inverse reshaping a feature store needs
    * when wide reporting tables feed long-form consumers (metric
    * stores, plotting, per-(entity, metric) joins). Plans as a single
    * row-local Expand over the pivot — no additional shuffle — and
    * missing (day, type) combinations survive as explicit 0 rows (the
    * pivot materialized them), which the oracle reproduces with a
    * day×type scaffold left-joined to the counts.
    */
  def unpivotDaily(spark: SparkSession, dir: String): DataFrame =
    pivotDaily(spark, dir)
      .unpivot(Array(col("day_bucket")), EventTypes.map(col).toArray,
        "event_type", "n_events")

  /** q126 interval durations: 10–70 min derived from the event value. */
  private val CovBaseSec = 600L
  private val CovModSec = 3600L

  /** q126: INTERVAL COVERAGE (gaps-and-islands over VARIABLE-length
    * spans) — each event opens an interval [us, us + dur) whose
    * duration derives from its value (10–70 min); overlapping-or-
    * abutting intervals per user merge into islands, and the output is
    * each user's covered time and island count. This is the coverage/
    * utilization shape (ad exposure, device uptime, GPU occupancy)
    * that q27's POINT-gap sessionization cannot express: with variable
    * spans an early long interval can swallow several later short
    * ones, so island detection needs the running `max(end)` over all
    * preceding intervals, not the previous row's timestamp.
    *
    * Scale: one hash shuffle on user_id; the two windows and both
    * aggregations ride that same key (islands ⊆ events per user), and
    * per-row state in the running-max window is one long.
    */
  def intervalCoverage(spark: SparkSession, dir: String): DataFrame =
    coverageOf(Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), expr("ts DIV 1000").as("us"),
        round(col("value") * 100, 0).cast("long").as("vc"))
      .withColumn("end_us", col("us") +
        (pmod(col("vc"), lit(CovModSec)) + CovBaseSec) * 1000000L))

  /** The q126 merge kernel over explicit (user_id, event_id, us,
    * end_us) intervals — exposed for the property spec.
    */
  private[graft] def coverageOf(e: DataFrame): DataFrame = {
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    e.withColumn("prev_max",
        max(col("end_us")).over(byTime.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("prev_max").isNull || col("us") > col("prev_max"), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("ni")).over(
        byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"), max(col("end_us")).as("end_us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("n_events")).as("n_events"),
        sum(col("end_us") - col("start_us")).as("covered_us"))
  }

  private val DriftShort = 3 // trailing window, days (incl. current)
  private val DriftLong = 10 // preceding baseline window, days

  /** q129: DRIFT DETECTION — the two-window mean-shift monitor a
    * pipeline runs over its own daily intake: per event type and day,
    * compare the trailing [[DriftShort]]-day event volume against the
    * preceding [[DriftLong]]-day baseline and flag a shift when the
    * short-window rate exceeds 1.5× the baseline rate (cross-
    * multiplied exact integers — `2·sum_s·LONG > 3·sum_l·SHORT` — so
    * no float ratio ever enters the hash). Days before a full
    * baseline CAN exist report NULL (warm-up), distinguished from a
    * genuine no-shift 0; past warm-up an EMPTY baseline window counts
    * as rate 0 (a resumption after a long outage must alarm, not
    * NULL out). A CUSUM would need a running recursion no
    * declarative window expresses; the two-window form is the
    * standard streaming-friendly approximation and is exactly
    * portable.
    *
    * Scale: the daily aggregate is one (day, type) shuffle with
    * map-side partials (days×types rows thereafter — metadata-sized);
    * all three RANGE windows ride one (type) repartition of that
    * tiny table. Range frames bound by DAY VALUE, so calendar gaps
    * cost nothing and the frame state is bounded by window days.
    */
  def driftDetect(spark: SparkSession, dir: String): DataFrame =
    driftOf(Tables.events(spark, dir)
      .select(expr(s"(ts DIV 1000) DIV $DayUs").as("day"), col("event_type"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("n")))

  /** The q129 kernel over an explicit (event_type, day, n) daily table
    * — exposed for the outage-scenario spec.
    */
  private[graft] def driftOf(daily: DataFrame): DataFrame = {
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wShort = byDay.rangeBetween(-(DriftShort - 1), Window.currentRow)
    val wLong = byDay.rangeBetween(-(DriftShort - 1 + DriftLong), -DriftShort)
    daily
      .withColumn("sum_short", sum(col("n")).over(wShort))
      // empty baseline ⇒ 0, not NULL: a post-outage resumption day
      // (nothing in the long window, volume in the short one) is the
      // strongest shift there is and must raise 1, not a NULL that
      // reads as warm-up
      .withColumn("sum_long", coalesce(sum(col("n")).over(wLong), lit(0L)))
      .withColumn("first_day", min(col("day")).over(
        byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("shift_up",
        when(col("day") - col("first_day") >= DriftShort - 1 + DriftLong,
          (col("sum_short") * 2 * DriftLong >
            col("sum_long") * 3 * DriftShort).cast("int")))
      .select(col("event_type"), col("day"), col("n"),
        col("sum_short"), col("sum_long"), col("shift_up"))
  }

  /** q133: CALENDAR GAP FILL + FORWARD FILL — densify a sparse daily
    * metric (purchase revenue of a thin user cohort) onto the full day
    * grid: an in-plan (min, max) span aggregate explodes into the
    * scaffold, a left join marks gaps, and `last(..., ignoreNulls)`
    * carries the last observed value forward — the
    * `IGNORE NULLS` window form every metrics/time-series store needs
    * (lag-based fills only reach back ONE row; a 10-day gap needs the
    * running last-non-null). Sums stay integer cents; the fill copies
    * those exact longs before the single /100 division.
    *
    * Scale note: the unpartitioned window runs over the DAY GRID —
    * ≤ tens of thousands of rows for decades of days, metadata-sized
    * by construction — never over the corpus, which is reduced to
    * daily rows by the one real shuffle first. (A per-entity fill
    * would partition the same window by the entity key.) The gate
    * corpus is gap-free at sf0.01 — correct but vacuous there; the
    * spec exercises real gaps at sf0.001 (15 of 30 days absent).
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val obs = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase" && col("user_id") % 11 === 0)
      .select(expr(s"(ts DIV 1000) DIV $DayUs").as("day"),
        round(col("value") * 100, 0).cast("long").as("vc"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_obs"), sum(col("vc")).as("vc_sum"))
    val span = obs.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val scaffold = span.select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scaffold.join(obs, Seq("day"), "left")
      .withColumn("is_gap", col("n_obs").isNull.cast("int"))
      .withColumn("filled_revenue",
        last(col("vc_sum"), ignoreNulls = true).over(w).cast("double") / 100.0)
      .select(col("day"), col("is_gap"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        (col("vc_sum").cast("double") / 100.0).as("revenue"),
        col("filled_revenue"))
  }

  /** q136: BEHAVIORAL TRANSITION MATRIX — the first-order Markov model
    * of user journeys: for each consecutive event pair within a user's
    * (us, event_id)-ordered history, count (from → to) transitions and
    * the transition probability per source state. The path-analysis
    * primitive behind "what do users do after an error?", and the
    * feature a sequence-model pipeline extracts as a baseline.
    *
    * Scale: one user-key shuffle for the lead() window, then a
    * states²-bounded aggregate (map-side partials reduce each
    * partition to ≤ |types|² rows); probability is one double division
    * of exact counts against a broadcast per-source total.
    */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts DIV 1000").as("us"))
      .withColumn("next_type", lead(col("event_type"), 1).over(byTime))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("tot").cast("double")).as("p"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q136_transitions" -> transitions,
    "q133_gap_fill" -> gapFill,
    "q129_drift_detect" -> driftDetect,
    "q126_interval_coverage" -> intervalCoverage,
    "q114_sliding_window" -> slidingWindowAgg,
    "q105_cohort_retention" -> cohortRetention,
    "q93_unpivot" -> unpivotDaily,
    "q88_pivot" -> pivotDaily,
    "q86_session_window" -> sessionWindowAgg,
    "q75_funnel" -> funnel,
    "q26_window_agg" -> windowAgg,
    "q27_sessionize" -> sessionize,
    "q35_asof_join" -> asofJoin,
    "q40_json_extract" -> jsonExtract,
    "q67_interval_join" -> intervalJoin)

  private val driftSql =
    s"""WITH daily AS (SELECT event_type, epoch_us(ts) // $DayUs AS day,
       |        count(*) AS n FROM events GROUP BY 1, 2),
       |w AS (SELECT event_type, day, n,
       |        CAST(sum(n) OVER (PARTITION BY event_type ORDER BY day
       |          RANGE BETWEEN ${DriftShort - 1} PRECEDING AND CURRENT ROW)
       |          AS BIGINT) AS sum_short,
       |        CAST(coalesce(sum(n) OVER (PARTITION BY event_type ORDER BY day
       |          RANGE BETWEEN ${DriftShort - 1 + DriftLong} PRECEDING
       |          AND $DriftShort PRECEDING), 0) AS BIGINT) AS sum_long,
       |        min(day) OVER (PARTITION BY event_type ORDER BY day
       |          ROWS UNBOUNDED PRECEDING) AS first_day
       |      FROM daily)
       |SELECT event_type, day, n, sum_short, sum_long,
       |  CASE WHEN day - first_day >= ${DriftShort - 1 + DriftLong}
       |       THEN CAST(sum_short * 2 * $DriftLong > sum_long * 3 * $DriftShort
       |                 AS INTEGER) END AS shift_up
       |FROM w""".stripMargin

  // pmod replicated explicitly: DuckDB's % follows the dividend's sign
  private val coverageSql =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
       |        CAST(round(value*100,0) AS BIGINT) AS vc FROM events),
       |i AS (SELECT user_id, event_id, us,
       |        us + ((vc % $CovModSec + $CovModSec) % $CovModSec
       |              + $CovBaseSec) * 1000000 AS end_us FROM e),
       |m AS (SELECT *, max(end_us) OVER (PARTITION BY user_id
       |        ORDER BY us, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |        AS prev_max FROM i),
       |f AS (SELECT *, CASE WHEN prev_max IS NULL OR us > prev_max
       |        THEN 1 ELSE 0 END AS ni FROM m),
       |s AS (SELECT *, CAST(sum(ni) OVER (PARTITION BY user_id
       |        ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |        AS island FROM f),
       |g AS (SELECT user_id, island, count(*) AS n_events,
       |        min(us) AS start_us, max(end_us) AS end_us
       |      FROM s GROUP BY user_id, island)
       |SELECT user_id, count(*) AS n_islands,
       |  CAST(sum(n_events) AS BIGINT) AS n_events,
       |  CAST(sum(end_us - start_us) AS BIGINT) AS covered_us
       |FROM g GROUP BY user_id""".stripMargin

  private val windowSql =
    s"""SELECT epoch_us(ts) // $DayUs AS day_bucket, event_type,
       |  count(*) AS n_events, count(DISTINCT user_id) AS n_users,
       |  CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
       |FROM events GROUP BY 1, 2""".stripMargin

  private val sessionSql =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) us FROM events),
       |g AS (SELECT user_id, event_id, us,
       |        lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) prev FROM e),
       |n AS (SELECT user_id, event_id, us,
       |        CASE WHEN prev IS NULL OR us - prev > $SessionGapUs THEN 1 ELSE 0 END ns FROM g),
       |s AS (SELECT user_id, us,
       |        CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) session_no FROM n)
       |SELECT user_id, session_no, count(*) AS n_events,
       |       min(us) AS start_us, max(us) AS end_us,
       |       max(us) - min(us) AS duration_us
       |FROM s GROUP BY user_id, session_no""".stripMargin

  private val asofSql =
    """WITH e AS (SELECT user_id u, epoch_us(ts) us, max(event_id) event_id
      |           FROM events GROUP BY 1, 2),
      |o AS (SELECT o_orderkey, o_custkey, epoch_us(o_orderdate) us FROM orders)
      |SELECT o.o_orderkey, o.o_custkey,
      |       e.event_id AS last_event_id, e.us AS last_event_us
      |FROM o ASOF LEFT JOIN e ON o.o_custkey = e.u AND e.us <= o.us""".stripMargin

  private val jsonSql =
    """SELECT event_type,
      |  count(k) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
      |  min(k) AS min_k, max(k) AS max_k,
      |  count(DISTINCT k) AS n_distinct_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type""".stripMargin

  /** q67 replay: same grid, same gaps-and-islands run merge; the
    * interval join itself is the plain BETWEEN join DuckDB handles
    * natively (the engine's bucket-equi-join exists to avoid exactly
    * that shape in Spark).
    */
  private val intervalSql =
    s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) us,
       |              epoch_us(ts) // $IncCellUs cell FROM events),
       |err AS (SELECT us, cell FROM ev WHERE event_type = 'error'),
       |hot AS (SELECT cell FROM err GROUP BY cell HAVING count(*) >= $IncHotMin),
       |isl AS (SELECT cell, cell - row_number() OVER (ORDER BY cell) grp FROM hot),
       |runs AS (SELECT min(cell) c0, max(cell) c1 FROM isl GROUP BY grp),
       |inc AS (SELECT r.c0, min(e.us) s_us, max(e.us) e_us, count(*) n_err
       |        FROM runs r JOIN err e ON e.cell BETWEEN r.c0 AND r.c1
       |        GROUP BY r.c0)
       |SELECT i.c0 AS incident_cell, i.s_us, i.e_us, i.n_err,
       |  count(*) AS n_events, count(DISTINCT e.user_id) AS n_users
       |FROM inc i JOIN ev e ON e.us BETWEEN i.s_us AND i.e_us
       |GROUP BY 1, 2, 3, 4""".stripMargin

  private val funnelSql =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) us FROM events),
      |s1 AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN us END) t1
      |       FROM e GROUP BY user_id),
      |s2 AS (SELECT e.user_id,
      |         min(CASE WHEN event_type = 'click' AND us >= t1 THEN us END) t2
      |       FROM e JOIN s1 USING (user_id) GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id,
      |         min(CASE WHEN event_type = 'purchase' AND us >= t2 THEN us END) t3
      |       FROM e JOIN s2 USING (user_id) GROUP BY e.user_id)
      |SELECT user_id, t1 AS view_us, t2 AS click_us, t3 AS purchase_us,
      |       CASE WHEN t3 IS NOT NULL THEN 3
      |            WHEN t2 IS NOT NULL THEN 2
      |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS funnel_depth
      |FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)""".stripMargin

  private val pivotSql = {
    val cols = EventTypes.map(t =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS \"$t\"")
      .mkString(",\n|       ")
    s"""SELECT epoch_us(ts) // $DayUs AS day_bucket,
       |       $cols
       |FROM events GROUP BY 1""".stripMargin
  }

  private val unpivotSql = {
    val typeRows = EventTypes.map(t => s"('$t')").mkString(", ")
    s"""WITH c AS (SELECT epoch_us(ts) // $DayUs AS day_bucket, event_type,
       |             count(*) n FROM events GROUP BY 1, 2),
       |d AS (SELECT DISTINCT epoch_us(ts) // $DayUs AS day_bucket FROM events),
       |t (event_type) AS (VALUES $typeRows)
       |SELECT d.day_bucket, t.event_type,
       |       CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
       |FROM d CROSS JOIN t
       |LEFT JOIN c ON c.day_bucket = d.day_bucket
       |           AND c.event_type = t.event_type""".stripMargin
  }

  private val cohortSql =
    s"""WITH grid AS (SELECT DISTINCT user_id,
       |                epoch_us(ts) // $WeekUs AS week FROM events),
       |c AS (SELECT user_id, min(week) AS cohort_week FROM grid GROUP BY 1),
       |s AS (SELECT cohort_week, count(*) AS n_cohort FROM c GROUP BY 1),
       |a AS (SELECT c.cohort_week, g.week - c.cohort_week AS week_offset,
       |             count(*) AS n_active
       |      FROM grid g JOIN c USING (user_id) GROUP BY 1, 2)
       |SELECT a.cohort_week, a.week_offset, a.n_active, s.n_cohort,
       |       a.n_active * 1000 // s.n_cohort AS retention_milli
       |FROM a JOIN s USING (cohort_week)""".stripMargin

  // every event at day d belongs to the 7 windows starting d-6 .. d
  // (slide-aligned to the epoch, exactly Spark's window() convention)
  private val slidingSql =
    s"""WITH e AS (SELECT event_type, epoch_us(ts) // $DayUs AS d,
       |             CAST(round(value*100,0) AS BIGINT) vc FROM events),
       |x AS (SELECT event_type, vc, unnest(range(d - 6, d + 1)) AS start_day
       |      FROM e)
       |SELECT start_day, event_type, count(*) AS n_events,
       |       CAST(sum(vc) AS DOUBLE)/100.0 AS sum_value
       |FROM x GROUP BY 1, 2""".stripMargin

  private val gapFillSql =
    s"""WITH obs AS (SELECT epoch_us(ts) // $DayUs AS day, count(*) AS n_obs,
       |        CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS vc_sum
       |      FROM events
       |      WHERE event_type = 'purchase' AND user_id % 11 = 0
       |      GROUP BY 1),
       |span AS (SELECT min(day) AS d0, max(day) AS d1 FROM obs),
       |days AS (SELECT unnest(range(d0, d1 + 1)) AS day FROM span),
       |j AS (SELECT day, n_obs, vc_sum FROM days LEFT JOIN obs USING (day))
       |SELECT day,
       |  CAST(CASE WHEN n_obs IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_gap,
       |  CAST(coalesce(n_obs, 0) AS BIGINT) AS n_obs,
       |  CAST(vc_sum AS DOUBLE)/100.0 AS revenue,
       |  CAST(last_value(vc_sum IGNORE NULLS) OVER (ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)/100.0
       |    AS filled_revenue
       |FROM j""".stripMargin

  private val transitionsSql =
    s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
       |           FROM events),
       |x AS (SELECT event_type AS from_type,
       |        lead(event_type) OVER (PARTITION BY user_id
       |          ORDER BY us, event_id) AS to_type
       |      FROM e),
       |c AS (SELECT from_type, to_type, count(*) AS n FROM x
       |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
       |SELECT c.from_type, to_type, n,
       |  CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p
       |FROM c JOIN t ON c.from_type = t.from_type""".stripMargin

  val oracle: Map[String, String] = Map(
    "q136_transitions" -> transitionsSql,
    "q133_gap_fill" -> gapFillSql,
    "q129_drift_detect" -> driftSql,
    "q126_interval_coverage" -> coverageSql,
    "q114_sliding_window" -> slidingSql,
    "q105_cohort_retention" -> cohortSql,
    "q93_unpivot" -> unpivotSql,
    "q88_pivot" -> pivotSql,
    // the gap-based q27 replay, minus the session ordinal the native
    // operator doesn't expose
    "q86_session_window" ->
      (s"SELECT user_id, n_events, start_us, end_us, duration_us " +
        s"FROM ($sessionSql)"),
    "q75_funnel" -> funnelSql,
    "q26_window_agg" -> windowSql,
    "q27_sessionize" -> sessionSql,
    "q35_asof_join" -> asofSql,
    "q40_json_extract" -> jsonSql,
    "q67_interval_join" -> intervalSql)
}
