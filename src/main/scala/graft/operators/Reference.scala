package graft.operators

import graft.Tables
import graft.functions.ChannelFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch twins of the reference's stream-processing semantics
  * (SURVEY.md §2.1/§3), expressed over the deterministic event-stream
  * reinterpretation in [[Channels]]. Each query is the oracle-checkable
  * form; the streaming-native forms live in `graft.streaming`.
  *
  * Scale posture: latest-row-per-key is expressed as partial-aggregatable
  * `max_by(value, struct(tsm, event_id))` — never a `row_number` window on
  * a low-cardinality key, which would funnel the whole input into a
  * handful of single-threaded sort tasks. Remaining windows partition on
  * keys whose cardinality grows with the data (`user_id`) or run over an
  * already-reduced spine (q19). The only scalar (`max(ts)`) is a one-row
  * aggregate that Spark broadcasts into the join.
  */
object Reference {

  /** F1 — validation cascade with the reference's verbatim error messages
    * and short-circuit order (`src/transmitter/main.cpp:148-223`):
    * [[Router.cascade]] over synthesized commands of one channel value
    * each, so the non-integer check never fires. Invalid rows route to
    * an error category (dead-letter analog); valid rows to the success
    * message. */
  def q13ValidateCascade(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(Router.cascade(
        count = lit(1) + col("event_id") % 10,
        durationMs = col("event_id") % 50 - 2,
        channels = array(floor(col("value") * 30).cast("int") % 2600 - 200),
        targetId = (col("user_id") % Channels.NumTargets).cast("int")).as("c"))
      .groupBy(col("c.status").as("status"), col("c.message").as("message"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("status"), col("message"))

  /** P5 — JSON field extraction from the `props` payload column
    * (`from_json`-family; mirrors `deserializeJson` + typed field reads,
    * `src/transmitter/main.cpp:229-249`). */
  def q14JsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"),
        col("value"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("value")), 2).as("avg_value"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("k_bucket"))

  /** P2 — MAC colon-hex formatting over a derived stable 48-bit id
    * (`lib/TargetManager/TargetManager.h:202-208`). */
  def q15MacFormat(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id")).distinct()
      .select(col("user_id"), macFormat(col("user_id")).as("mac"))
      .orderBy(col("user_id"))

  /** P1 — SBUS linear rescale 1000-2000 → 172-1811 with exact truncating
    * integer semantics (`src/receiver/main.cpp:68-71`). */
  def q16Rescale(spark: SparkSession, dir: String): DataFrame =
    Channels.frames(spark, dir)
      .withColumn("sbus", sbusRescale(col("ch")))
      .groupBy(col("target_id"))
      .agg(count(lit(1)).as("n_frames"),
        min(col("sbus")).as("min_sbus"),
        max(col("sbus")).as("max_sbus"),
        round(avg(col("sbus")), 2).as("avg_sbus"))
      .orderBy(col("target_id"))

  /** Lexicographic (tsm, event_id) ordering key for latest-row-per-key
    * aggregates. `max_by` over this struct partial-aggregates map-side
    * (each input partition reduces to ≤1 row per key before the shuffle),
    * so low-cardinality keys (8 targets) never funnel the full input into
    * 8 sort tasks the way a `row_number` window would. */
  private def ordKey = struct(col("tsm"), col("event_id"))

  /** ST1 (flagship) — effective channel value per target at snapshot time
    * T = max event time: the latest unexpired override wins, else the
    * latest live frame; with the P3 derived remaining-TTL
    * (`src/transmitter/main.cpp:78-97`, `TargetManager.h:169-178`).
    * Latest-per-key via partial-aggregatable `max_by` (no per-key sort,
    * no 8-partition shuffle funnel — scales to any number of targets). */
  def q17EffectiveChannels(spark: SparkSession, dir: String): DataFrame = {
    val lastFrame = Channels.frames(spark, dir)
      .groupBy(col("target_id"))
      .agg(max_by(col("ch"), ordKey).as("live_ch"))
    val lastCmd = Channels.commands(spark, dir)
      .groupBy(col("target_id"))
      .agg(max_by(struct(col("ovr"), col("tsm"), col("duration_ms")), ordKey).as("s"))
      .select(col("target_id"), col("s.ovr").as("ovr"),
        col("s.tsm").as("cmd_tsm"), col("s.duration_ms").as("duration_ms"))
    val tmax = Tables.events(spark, dir)
      .agg(max(unix_millis(col("ts"))).as("tmax"))
    val active = col("cmd_tsm").isNotNull &&
      col("cmd_tsm") + col("duration_ms") > col("tmax")
    lastFrame.join(lastCmd, Seq("target_id"), "left")
      .crossJoin(broadcast(tmax))
      .select(
        col("target_id"),
        col("live_ch"),
        col("ovr").as("ovr_ch"),
        when(active, 1).otherwise(0).as("is_overridden"),
        when(active, col("ovr")).otherwise(col("live_ch")).as("effective_ch"),
        when(active, lit("override")).otherwise(lit("live")).as("source"),
        when(active, overrideRemainingMs(col("cmd_tsm") + col("duration_ms"), col("tmax")))
          .otherwise(lit(0L)).as("remaining_ms"))
      .orderBy(col("target_id"))
  }

  /** ST2 — per-element sentinel merge of the latest override onto the
    * latest live value per (target, channel-index): `-1` skips
    * (`src/transmitter/main.cpp:199-212`). Atomic variant — the
    * reference's non-atomic partial application is documented as a
    * deviation (SURVEY.md §4.3.3). */
  def q18SentinelMerge(spark: SparkSession, dir: String): DataFrame = {
    val live = Channels.frames(spark, dir)
      .groupBy(col("target_id"), col("ci"))
      .agg(max_by(col("ch"), ordKey).as("live_ch"))
    val ovr = Channels.sentinelCommands(spark, dir)
      .groupBy(col("target_id"), col("ci"))
      .agg(max_by(col("ovr"), ordKey).as("ovr"))
    live.join(ovr, Seq("target_id", "ci"), "full")
      .select(col("target_id"), col("ci"), col("live_ch"), col("ovr"),
        sentinelMerge(col("ovr"), col("live_ch")).as("merged"))
      .orderBy(col("target_id"), col("ci"))
  }

  /** T2 — sample-and-hold upsampling: hourly tick spine per target,
    * forward-filled with the last observed frame value
    * (`src/receiver/main.cpp:62-74`: 30 Hz re-emission of a 2 Hz input).
    * Spine = dense (hour × target) grid; fill = last(ignoreNulls) over an
    * ordered per-target frame — one shuffle on target_id. */
  def q19ForwardFill(spark: SparkSession, dir: String): DataFrame = {
    val hours = Tables.events(spark, dir)
      .select((unix_millis(col("ts")) - unix_millis(col("ts")) % 3600000L).as("hour_ms"))
      .distinct()
    val targets = spark.range(Channels.NumTargets)
      .select(col("id").cast("int").as("target_id"))
    val hourly = Channels.frames(spark, dir)
      .withColumn("hour_ms", col("tsm") - col("tsm") % 3600000L)
      .groupBy(col("target_id"), col("hour_ms"))
      .agg(max_by(col("ch"), ordKey).as("ch"))
    // The fill window runs over the (hours × targets) spine only — the
    // heavy raw input was already reduced by the partial-aggregatable
    // max_by above, so the per-target sequential scan is bounded by the
    // spine size, not the data size.
    val ffill = Window.partitionBy(col("target_id")).orderBy(col("hour_ms"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hours.crossJoin(broadcast(targets))
      .join(hourly, Seq("target_id", "hour_ms"), "left")
      .withColumn("filled_ch", last(col("ch"), ignoreNulls = true).over(ffill))
      .select(col("target_id"), col("hour_ms"), col("filled_ch"))
      .orderBy(col("target_id"), col("hour_ms"))
  }

  /** T2 (first-order variant) — linear-interpolation resample: q19
    * holds the last sample (zero-order hold, the reference's
    * semantics); this is the other resample mode a telemetry consumer
    * asks for — each user's value series evaluated at a regular
    * 6-hour grid by interpolating between the surrounding events.
    * Grid points lie strictly inside the user's span, `prev` = latest
    * event at-or-before the grid instant (ties by event id, the q19
    * ordKey convention), `next` = earliest event strictly after.
    *
    * Engine-exactness: the lerp `v0 + (v1−v0)·(t−t0)/(t1−t0)` is ONE
    * shared expression tree over exact int64 time differences — the
    * q42 discipline — so both engines produce bit-equal doubles before
    * the final round-6.
    *
    * Scale posture (100 TB): the spine is the EVENT rows unioned with
    * the per-user grid rows (grid size bounded by span/cell, not data
    * volume); both fills are single-pass window frames over the same
    * per-user ordering, so the whole resample is one user-partition
    * exchange — no per-grid-point join, no cross join against a
    * global calendar. */
  def q84LerpResample(spark: SparkSession, dir: String): DataFrame = {
    val cell = 21600000L // 6 h
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("tsm"), col("value"))
    // A span that contains no grid point (single event, or lo..hi inside
    // one cell) makes start > stop, where Spark's `sequence` throws while
    // the oracle's generate_series returns empty — guard to an empty
    // array (explode drops it) so such users simply emit no grid rows.
    val gridStart = expr(s"((lo + ${cell - 1}) div $cell) * $cell")
    val gridStop = expr(s"(hi div $cell) * $cell")
    val grid = e.groupBy(col("user_id"))
      .agg(min(col("tsm")).as("lo"), max(col("tsm")).as("hi"))
      .select(col("user_id"), explode(
        when(gridStart <= gridStop, sequence(gridStart, gridStop, lit(cell)))
          .otherwise(array().cast("array<long>"))).as("t"))
    val spine = e.select(col("user_id"), col("tsm").as("ord_ts"),
        lit(0).as("is_grid"), col("event_id").as("ord_id"),
        col("tsm").as("ev_ts"), col("value").as("ev_v"),
        lit(null).cast("long").as("t"))
      .unionByName(grid.select(col("user_id"), col("t").as("ord_ts"),
        lit(1).as("is_grid"), lit(null).cast("long").as("ord_id"),
        lit(null).cast("long").as("ev_ts"),
        lit(null).cast("double").as("ev_v"), col("t")))
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ord_ts"), col("is_grid"), col("ord_id"))
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ord.rowsBetween(1, Window.unboundedFollowing)
    val filled = spine
      .withColumn("t0", last(col("ev_ts"), ignoreNulls = true).over(back))
      .withColumn("v0", last(col("ev_v"), ignoreNulls = true).over(back))
      .withColumn("t1", first(col("ev_ts"), ignoreNulls = true).over(fwd))
      .withColumn("v1", first(col("ev_v"), ignoreNulls = true).over(fwd))
    filled
      .filter(col("is_grid") === 1 && col("t0").isNotNull && col("t1").isNotNull)
      .select(col("user_id"), col("t").as("grid_ms"),
        round(col("v0") + (col("v1") - col("v0")) *
          ((col("t") - col("t0")).cast("double") /
            (col("t1") - col("t0")).cast("double")), 6).as("value"))
      .orderBy(col("user_id"), col("grid_ms"))
  }

  /** A2/A3 — last-value-per-key state: per user, the newest event (hold
    * register, `src/receiver/main.cpp:36`) plus ack-tracking aggregates
    * (`src/transmitter/main.cpp:55-75`): last send status and last
    * successful-send time. */
  def q20LastPerKey(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_millis(col("ts")).as("tsm"))
    val newest = e
      .groupBy(col("user_id"))
      .agg(max_by(struct(col("event_type"), col("value")), ordKey).as("s"))
      .select(col("user_id"), col("s.event_type").as("last_event_type"),
        round(col("s.value"), 2).as("last_value"))
    val counts = e.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
    val ackState = e.filter(col("event_type").isin("signup", "error"))
      .groupBy(col("user_id"))
      .agg(
        max_by((col("event_type") === "signup").cast("int"), col("event_id"))
          .as("last_ack_success"),
        max(when(col("event_type") === "signup", col("tsm"))).as("last_signup_ms"))
    newest.join(counts, Seq("user_id"))
      .join(ackState, Seq("user_id"), "left")
      .orderBy(col("user_id"))
  }

  /** Session windows — connection-state episodes (SURVEY.md §2.2
    * streaming row): gap-based sessionization (4 h) per user via
    * lag + running sum, then per-session aggregates. */
  def q21Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val gapMs = 14400000L
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tsm"), col("event_id"))
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("tsm"))
      .withColumn("prev_tsm", lag(col("tsm"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_tsm").isNull || col("tsm") - col("prev_tsm") > gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("is_new")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    e.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("tsm")).as("start_ms"),
        max(col("tsm")).as("end_ms"),
        (max(col("tsm")) - min(col("tsm"))).as("duration_ms"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** J2/J3 — MAC-keyed registry lookup and positional access: frames
    * carry their sender's MAC; the registry dimension is joined by the
    * MAC string (the reference's 6-byte memcmp scan,
    * `lib/TargetManager/TargetManager.h:112-135`, used by the ack
    * callback `src/transmitter/main.cpp:66`); `position` is the
    * bounds-checked index order (`TargetManager.h:92-109`). Broadcast
    * hash join on the mac key — the dim is 8 rows at any data scale. */
  def q34MacLookup(spark: SparkSession, dir: String): DataFrame = {
    // `position` (J3) is the registry's insertion index, computed on the
    // registry DIMENSION — 8 rows at any data scale — never on the fact
    // side. The partition key is constant-by-construction (pmod(id, 1),
    // which the optimizer can't fold away like a literal): the relation
    // is bounded, so a single-partition window is the intended plan, not
    // an accidental all-data funnel — the unpartitioned form would trip
    // Spark's scale warning aimed at unbounded inputs.
    val posW = Window.partitionBy(pmod(col("target_id"), lit(1))).orderBy(col("target_id"))
    val registry = spark.range(Channels.NumTargets)
      .select(col("id").cast("int").as("target_id"))
      .withColumn("name", concat(lit("Drone_"), (col("target_id") + 1).cast("string")))
      .withColumn("mac", macFormat(col("target_id") + 1))
      .withColumn("position", row_number().over(posW))
    val frames = Channels.frames(spark, dir)
      .withColumn("mac", macFormat(col("target_id") + 1))
      .select(col("mac"), col("tsm"))
    frames.join(broadcast(registry), Seq("mac"))
      .groupBy(col("position"), col("target_id"), col("name"), col("mac"))
      .agg(count(lit(1)).as("n_frames"), max(col("tsm")).as("last_tsm"))
      .select(col("position"), col("target_id"), col("name"), col("mac"),
        col("n_frames"), col("last_tsm"))
      .orderBy(col("target_id"))
  }

  /** Map-typed channel-name lookup (SURVEY.md §2.2 scalar-function
    * row): the 8 positional channels (`lib/TargetManager/
    * TargetManager.h:13-25` — opaque uint16 slots in the reference)
    * get the standard RC naming via a literal `map_from_arrays` +
    * `element_at` lookup, then per-(target, channel-name) sample
    * stats. The map is a compile-time constant — Catalyst folds the
    * construction, the lookup stays codegen'd, and the aggregation is
    * an ordinary partial+final hash agg on (target_id, name); the
    * DuckDB twin indexes the equivalent list literal positionally. */
  def q52ChannelMap(spark: SparkSession, dir: String): DataFrame = {
    val names = Seq("roll", "pitch", "throttle", "yaw",
      "aux1", "aux2", "aux3", "aux4")
    val nameMap = map_from_arrays(
      array(names.indices.map(i => lit(i)): _*),
      array(names.map(lit): _*))
    Channels.frames(spark, dir)
      .select(col("target_id"), element_at(nameMap, col("ci")).as("channel"),
        col("ch"))
      .groupBy(col("target_id"), col("channel"))
      .agg(count(lit(1)).as("n_samples"),
        round(avg(col("ch")), 4).as("avg_ch"),
        max(col("ch")).as("max_ch"))
      .orderBy(col("target_id"), col("channel"))
  }

  /** Set operations (SURVEY.md §2.2): INTERSECT / UNION / EXCEPT over
    * user-id snapshots (targets present in tick A vs tick B semantics),
    * summarized to one row per operation. */
  def q35SetOps(spark: SparkSession, dir: String): DataFrame = {
    def users(t: String) = Tables.events(spark, dir)
      .filter(col("event_type") === t).select(col("user_id")).distinct()
    val purch = users("purchase")
    val view = users("view")
    val err = users("error")
    def summarize(op: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n"), min(col("user_id")).as("min_user"),
        max(col("user_id")).as("max_user"))
        .withColumn("op", lit(op))
    summarize("except", purch.except(err))
      .unionByName(summarize("intersect", purch.intersect(view)))
      .unionByName(summarize("union", purch.union(view).distinct()))
      .select(col("op"), col("n"), col("min_user"), col("max_user"))
      .orderBy(col("op"))
  }

  /** P3/P4 — the telemetry snapshot (`targets_update`,
    * `src/transmitter/main.cpp:282-296` + `TargetManager.h:145-182`) as a
    * relational row set: per target the full state incl. the derived
    * remaining-TTL and ack-derived connection state. JSON envelope parity
    * is unit-tested (string formatting is not oracle-hashable). */
  def q22SnapshotDerived(spark: SparkSession, dir: String): DataFrame = {
    val targets = spark.range(Channels.NumTargets)
      .select(col("id").cast("int").as("target_id"))
      .withColumn("name", concat(lit("Drone_"), (col("target_id") + 1).cast("string")))
      .withColumn("mac", macFormat(col("target_id") + 1))
    val eff = q17EffectiveChannels(spark, dir)
      .select(col("target_id"), col("live_ch"), col("is_overridden"),
        col("effective_ch"), col("remaining_ms"))
    val acks = Channels.acks(spark, dir)
      .groupBy(col("target_id"))
      .agg(max_by(col("success"), col("event_id")).as("connection_state"),
        max(when(col("success") === 1, col("tsm"))).as("last_successful_send_ms"))
    targets
      .join(eff, Seq("target_id"), "left")
      .join(acks, Seq("target_id"), "left")
      .orderBy(col("target_id"))
  }
}
