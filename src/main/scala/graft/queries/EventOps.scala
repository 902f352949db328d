package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table. The session/window operators are
  * graft.streaming.EventStreams transforms applied to the BATCH table — the same
  * logical plan runs under readStream + watermark (EventStreamsSpec drives that via
  * MemoryStream); here the batch results are oracle-checked against DuckDB.
  *
  * The DuckDB oracle for sessionization is the classic gaps-and-islands rewrite
  * (lag -> new-session flag -> running sum), which is semantically identical to
  * `session_window(ts, gap)`: an event starts a new session iff its gap from the
  * previous event is >= 30 minutes.
  */
object EventOps {
  import Tables._
  import graft.streaming.EventStreams

  type Q = (SparkSession, String) => DataFrame

  /** The scale-safe as-of join (e08): each click picks up the most recent
    * at-or-before view by the same user (nulls where no view precedes). Instead
    * of a per-user range-join cartesian: tag and union both sides, ONE shuffle
    * on user_id, and a last(ignoreNulls) running window carries the latest view
    * forward — views sort before clicks at equal ts, matching ASOF's inclusive
    * bound. O(n log n) per user, zero row blowup, the sort rides the exchange.
    *
    * The matched view rides as ONE struct through a single last(ignoreNulls), so
    * view_ts and view_value always come from the SAME view row even when a
    * view's value is null; equal-(user_id, ts) view ties break on event_id (the
    * window orders views by it, and `last` takes the highest), then on value
    * (nulls first, so views that are full duplicates except for value pick the
    * same row on both engines) — deterministic where a literal ASOF's pick
    * would be engine-arbitrary. AsofSpec pins these properties on adversarial
    * fixtures the parquet corpus doesn't contain.
    */
  private[graft] def asofViewBeforeClick(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"), lit(1).as("__side"),
        col("event_id").as("__ord"), lit(null).cast("double").as("__vv"))
    val views = ev.filter(col("event_type") === "view")
      .select(lit(null).cast("long").as("event_id"), col("user_id"), col("ts"),
        lit(0).as("__side"), col("event_id").as("__ord"), col("value").as("__vv"))
    val w = Window.partitionBy("user_id").orderBy("ts", "__side", "__ord", "__vv")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(views)
      .withColumn("__view", last(
        when(col("__side") === 0, struct(col("ts").as("vts"), col("__vv").as("vv"))),
        ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("__view.vts").as("view_ts"), col("__view.vv").as("view_value"))
  }

  /** e06 — hot-key-safe sessionization in two stages. Stage 1 computes the
    * per-(user, day) session segments with the same gaps-and-islands rewrite
    * stage 2 uses, keyed by (user_id, __day): the exchange carries bare
    * (user_id, ts, __day) rows, one sort serves both window functions, and
    * the groupBy(user_id, __day, __sid) needs NO second exchange
    * (HashPartitioning(user_id, __day) satisfies the clustering on a
    * superset key). Stage 2 repairs the sessions split at day boundaries.
    * A new session opens exactly when ts - prev >= the gap, so the rows equal
    * e01's (PlanAuditSpec pins it; the shared oracle is e01's).
    *
    * Measured against the `session_window` form of stage 1, which widened
    * every event crossing the exchange by the session struct and merged
    * through the interpreted UpdatingSessionsIterator: r19 sf100 (16g/16,
    * 2 reps each) 91.8 s warm / 3.7 GB shuffle / 3.6 GB live scratch peak
    * vs 109.8 s / 5.6 GB / 5.5 GB, and r21 at 1 B events 814.8 s / 37.0 GB
    * vs 908.6 s / 55.1 GB. The trade is cumulative spill CHURN (37.1 vs
    * 11.0 GB at sf100), which retires per merge and never accumulates — the
    * b10 pattern, SCALECHECK r16.
    */
  private[graft] def sessionsSalted(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapMicros = 30L * 60 * 1000000
    val w1 = Window.partitionBy("user_id", "__day").orderBy("ts")
    val seg = events(s, d)
      .select(col("user_id"), col("ts"), to_date(col("ts")).as("__day"))
      .withColumn("__ns", when(unix_micros(col("ts")) -
        unix_micros(lag("ts", 1).over(w1)) >= gapMicros, 1).otherwise(0))
      .withColumn("__sid", sum("__ns").over(
        w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "__day", "__sid")
      .agg(count(lit(1)).as("n"), min("ts").as("s_start"), max("ts").as("s_end"))
    val w = Window.partitionBy("user_id").orderBy("s_start")
    seg
      .withColumn("__ns2", when(unix_micros(col("s_start")) -
        unix_micros(lag("s_end", 1).over(w)) >= gapMicros, 1).otherwise(0))
      .withColumn("__island", sum("__ns2").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "__island")
      .agg(sum("n").as("n_events"),
        date_format(min("s_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"))
      .select("user_id", "n_events", "session_start")
      .orderBy("user_id", "session_start")
  }

  val queries: Map[String, Q] = Map(
    "e01_sessions" -> ((s, d) =>
      EventStreams.sessionize(events(s, d), "30 minutes")
        .select(col("user_id"), col("n_events"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"))
        .orderBy("user_id", "session_start")),

    "e02_hourly" -> ((s, d) =>
      EventStreams.tumblingCounts(events(s, d), "1 hour")
        .select(
          date_format(col("win_start"), "yyyy-MM-dd HH:00").as("hour"),
          col("event_type"), col("n"), round(col("sv"), 2).as("sv"))
        .orderBy("hour", "event_type")),

    // Same sessions via the flatMapGroupsWithState custom-state operator — the
    // hand-rolled path for session logic session_window can't express; checked
    // against the identical gaps-and-islands oracle as e01.
    "e04_sessions_custom" -> ((s, d) =>
      EventStreams.sessionizeCustom(events(s, d), "30 minutes")
        .select(col("user_id"), col("n_events"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"))
        .orderBy("user_id", "session_start")),

    "e03_json_extract" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")),

    // Skew-safe two-stage (salted) aggregation: event_type has a handful of distinct
    // values, so a naive groupBy hashes ALL rows onto that many reducers — the
    // classic hot-key stall at 100 TB. Stage 1 fans each key over 16 salted partial
    // groups (even shuffle); stage 2 merges the <=16 tiny partials per key. The salt
    // is arithmetic on event_id (deterministic), and count/sum merge associatively,
    // so results are salt-invariant — the oracle is the plain GROUP BY.
    "e05_salted_agg" -> ((s, d) => {
      val salted = events(s, d)
        .withColumn("__salt", pmod(col("event_id"), lit(16)))
        .groupBy("event_type", "__salt")
        .agg(count(lit(1)).as("c"), sum("value").as("sv"))
      salted.groupBy("event_type")
        .agg(sum("c").as("n"), round(sum("sv"), 2).as("sv"))
        .orderBy("event_type")
    }),

    // Hot-key-safe sessionization — the pre-split e01/e04's scaladocs promise for
    // users whose event history exceeds executor memory. Stage 1 co-groups on
    // (user_id, DAY): its window then never holds more than one user-day of
    // events, and a session spanning midnight is split exactly at an
    // event boundary. Stage 2 merges those splits with gaps-and-islands over the
    // per-SESSION rows — orders of magnitude fewer than events (the user-partitioned
    // window that would be a hot-key hazard over raw events is harmless over session
    // summaries). Salt-invariant by construction, so the oracle is e01's.
    "e06_sessions_salted" -> ((s, d) => sessionsSalted(s, d)),

    // Exactly-once dedup, batch side (e07's streaming semantics — bounded-state
    // dropDuplicatesWithinWatermark + checkpointed replay suppression — are pinned
    // in EventStreamsSpec; this entry makes the operator's batch path machine-
    // checked like every other key). event_id is the events table's key, so the
    // dedup is a deterministic identity projection; on a corpus WITH duplicate ids
    // the streaming path keeps the first arrival and the batch oracle the min-ts
    // row — same "one row per id" contract.
    "e07_dedup_events" -> ((s, d) =>
      EventStreams.dedupEvents(events(s, d))
        .select(col("event_id"), col("user_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"), col("value"))
        .orderBy("event_id")),

    // As-of join — Spark has no ASOF JOIN, and the naive `l.ts >= r.ts` range join
    // is a per-user cartesian that explodes at scale; see [[asofViewBeforeClick]].
    "e08_asof_join" -> ((s, d) =>
      asofViewBeforeClick(events(s, d))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
          date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
          col("view_value"))
        // ALL columns in the sort: since the row-robust oracle keeps one output
        // row per click ROW, duplicate click event_ids make event_id alone a
        // non-total order — and the driver's compare is positional
        .orderBy("event_id", "user_id", "ts", "view_ts", "view_value")),
  )

  val oracles: Map[String, String] = Map(
    "e01_sessions" ->
      ("WITH x AS (SELECT user_id, ts, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns FROM events), " +
        "y AS (SELECT user_id, ts, sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM x) " +
        "SELECT user_id, count(*) AS n_events, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start " +
        "FROM y GROUP BY user_id, sid ORDER BY user_id, session_start"),
    "e02_hourly" ->
      ("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, event_type, " +
        "count(*) AS n, round(sum(value), 2) AS sv FROM events GROUP BY hour, event_type " +
        "ORDER BY hour, event_type"),
    "e03_json_extract" ->
      "SELECT event_id, CAST(regexp_extract(props, '\"k\": ([0-9]+)', 1) AS BIGINT) AS k FROM events ORDER BY event_id",
    "e05_salted_agg" ->
      "SELECT event_type, count(*) AS n, round(sum(value), 2) AS sv FROM events GROUP BY event_type ORDER BY event_type",
    "e04_sessions_custom" ->
      ("WITH x AS (SELECT user_id, ts, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns FROM events), " +
        "y AS (SELECT user_id, ts, sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM x) " +
        "SELECT user_id, count(*) AS n_events, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start " +
        "FROM y GROUP BY user_id, sid ORDER BY user_id, session_start"),
    // salt-invariant: identical sessions to e01 by construction
    "e06_sessions_salted" ->
      ("WITH x AS (SELECT user_id, ts, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns FROM events), " +
        "y AS (SELECT user_id, ts, sum(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM x) " +
        "SELECT user_id, count(*) AS n_events, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start " +
        "FROM y GROUP BY user_id, sid ORDER BY user_id, session_start"),
    "e07_dedup_events" ->
      ("SELECT event_id, user_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, value " +
        // ts first, then every remaining column name-sorted — the exact total
        // order dedupEvents' batch window uses, so the pick can never be
        // engine-arbitrary even on equal-ts duplicate ids. NULLS FIRST pins the
        // null position too: Spark's ascending default is nulls-first while
        // DuckDB's is nulls-last, so without it a NULL props/value tiebreak
        // would pick different rows per engine.
        "FROM (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts NULLS FIRST, event_type NULLS FIRST, props NULLS FIRST, user_id NULLS FIRST, value NULLS FIRST) AS rn FROM events) " +
        "WHERE rn = 1 ORDER BY event_id"),
    "e08_asof_join" ->
      // Not a literal ASOF JOIN: DuckDB's ASOF pick among equal-(user_id, ts)
      // views is engine-arbitrary, so the oracle encodes the engine's contract
      // explicitly — latest ts, then HIGHEST event_id (the same rule
      // asofViewBeforeClick's window implements). LEFT JOIN keeps view-less
      // clicks; each partition is either all-matched or one all-null row, so
      // null ordering never decides a pick. The QUALIFY partitions on __rid, a
      // row-unique click key, NOT event_id: asofViewBeforeClick emits one
      // output row per click ROW, so on a corpus with duplicate click
      // event_ids an event_id partition would collapse rows the engine keeps.
      // Rid assignment among duplicate rows is arbitrary, but each rid's
      // partition is its own click row joined to the same view set, so the
      // output multiset is invariant under that assignment. The view pick adds
      // `r.value DESC NULLS LAST` past event_id (mirroring the Spark window's
      // ascending-nulls-first `__vv` tiebreak), and the final ORDER BY lists
      // every output column with NULLS FIRST on the nullable ones (Spark's
      // ascending default) — both orders must be TOTAL on duplicate-id corpora
      // because the driver's compare is positional.
      ("SELECT l.event_id, l.user_id, strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts, " +
        "strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS view_ts, r.value AS view_value " +
        "FROM (SELECT *, row_number() OVER (ORDER BY event_id) AS __rid FROM events WHERE event_type = 'click') l " +
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r " +
        "ON l.user_id = r.user_id AND r.ts <= l.ts " +
        "QUALIFY row_number() OVER (PARTITION BY l.__rid ORDER BY r.ts DESC, r.event_id DESC, r.value DESC NULLS LAST) = 1 " +
        // NULLS FIRST on every column, not just the ones nullable today:
        // DuckDB's ASC default is NULLS LAST vs Spark's nulls-first, so an
        // unpinned column is a latent positional mismatch the moment a corpus
        // makes it nullable (harmless when non-nullable; e07 sets the precedent)
        "ORDER BY l.event_id NULLS FIRST, l.user_id NULLS FIRST, ts NULLS FIRST, " +
        "view_ts NULLS FIRST, view_value NULLS FIRST"),
  )
}
