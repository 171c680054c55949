package graft.streaming

import graft.operators.Router
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}

/** One input envelope for the unioned frame/command streams.
  *
  * `channels` is up to 8 values; for frames these are fresh PPM samples,
  * for commands they are override requests where `-1` means "skip this
  * channel" (`src/transmitter/main.cpp:199-204`). `seq` is a unique
  * monotone id used only as a deterministic tie-breaker inside a
  * micro-batch. `durationMs` is the command TTL (frames: 0).
  */
case class EngineEvent(
    targetId: Int,
    kind: String, // "frame" | "command"
    seq: Long,
    tsm: Long,
    channels: Seq[Int],
    durationMs: Long)

/** Keyed state per target: the live (PPM) frame, the active override,
  * its deadline, and the last event time seen — the Spark form of
  * `Target` fields `data`/`is_channels_overridden`/`override_timeout`
  * (`lib/TargetManager/TargetManager.h:28-41`). `lastTsm` lets a
  * wall-clock timeout decide whether it fired for the TTL deadline or
  * only for a hold re-emission. The state store holds it as a
  * [[StoredTargetState]]. */
case class TargetState(
    live: Seq[Int],
    ovr: Seq[Int],
    isOverridden: Boolean,
    deadlineMs: Long,
    lastTsm: Long,
    wallAtLast: Long)

/** [[TargetState]] as the state store holds it: `live` and `ovr`
  * packed as big-endian Int32s into `BINARY` columns (8 channels → 16
  * bytes each; the byte length gives the channel count), next to the
  * four scalars. Every `Int` round-trips exactly, the `-1` sentinel
  * included.
  *
  * Why no collection field: the state encoder is resolved and bound
  * again in every micro-batch, outside the query plan, so the
  * optimizer never normalizes its lambda variables. A `Seq` or `Array`
  * field decodes through `MapObjects`, whose lambda variable gets a
  * fresh id at each binding; the generated projection then differs in
  * every batch only by that name, misses Spark's codegen cache and is
  * compiled again per batch. Binary and scalar columns decode without
  * a lambda, so the projection is compiled once per query.
  *
  * The state schema is not the one a `Seq[Int]`-valued state wrote: a
  * checkpoint written with that layout cannot be resumed. */
case class StoredTargetState(
    live: Array[Byte],
    ovr: Array[Byte],
    isOverridden: Boolean,
    deadlineMs: Long,
    lastTsm: Long,
    wallAtLast: Long)

/** Dual-typed output, discriminated by `kind` ("snapshot" | "response" |
  * "timeout"), mirroring the reference's telemetry stream + response
  * stream sharing one serial sink (`src/transmitter/main.cpp:112-140,
  * 282-296`). Snapshot rows expose the full state so downstream sinks
  * (and the batch-consistency test) can derive the effective frame at
  * any probe time. */
case class EngineOutput(
    targetId: Int,
    kind: String,
    seq: Long, // the triggering event's seq (-1 for timeout emissions)
    tsm: Long,
    effective: Seq[Int],
    live: Seq[Int],
    ovr: Seq[Int],
    isOverridden: Boolean,
    deadlineMs: Long,
    remainingMs: Long,
    status: String,
    message: String)

/** ST1 — the flagship stateful operator: keyed TTL override state as a
  * Structured Streaming `flatMapGroupsWithState`, with the command
  * validation cascade (F1) and sentinel merge (ST2) applied inside the
  * state function.
  *
  * Semantics (from `/root/reference/src/transmitter/main.cpp`):
  *  - a valid `override_channels` command merges its non-`-1` values
  *    onto the target's current frame, marks it overridden, and arms a
  *    deadline `tsm + durationMs` (`:190-217`);
  *  - expiry reverts to the live PPM frame — checked against event time
  *    whenever an event arrives (the reference checks `now >= deadline`
  *    every loop, `:84-87`) and additionally via a processing-time
  *    timeout when the stream goes quiet;
  *  - invalid commands produce an error response with the reference's
  *    verbatim message and leave state untouched (atomic variant of the
  *    reference's partial application — documented deviation, SURVEY.md
  *    §4.3.3);
  *  - frames refresh the live register (last-write-wins load shedding,
  *    `src/receiver/main.cpp:36`).
  *
  * Scale posture: state is O(1) per target (two 8-int frames + a
  * deadline, stored as a [[StoredTargetState]]); the only shuffle is
  * the grouping on the `targetId` column, and Spark's state store
  * partitions it across executors — arbitrary target cardinality.
  */
object Engine {
  val ChannelCount = 8

  /** Initial register state: all-zero frame (the reference's zeroed
    * `ChannelData`, observable as the −1467 SBUS artifact before any
    * packet arrives — SURVEY.md §4.3.1). */
  def initialState: TargetState =
    TargetState(Seq.fill(ChannelCount)(0), Seq.fill(ChannelCount)(-1),
      isOverridden = false, 0L, 0L, 0L)

  /** [[TargetState]] → its stored form. */
  def stored(s: TargetState): StoredTargetState =
    StoredTargetState(pack(s.live), pack(s.ovr), s.isOverridden, s.deadlineMs,
      s.lastTsm, s.wallAtLast)

  /** Stored form → [[TargetState]]; `restored(stored(s)) == s`. */
  def restored(s: StoredTargetState): TargetState =
    TargetState(unpack(s.live), unpack(s.ovr), s.isOverridden, s.deadlineMs,
      s.lastTsm, s.wallAtLast)

  private def pack(channels: Seq[Int]): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(4 * channels.size) // big-endian
    channels.foreach(buf.putInt)
    buf.array()
  }

  private def unpack(bytes: Array[Byte]): Seq[Int] = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    Vector.fill(bytes.length / 4)(buf.getInt())
  }

  /** ST2 sentinel merge, scala form (engine-internal twin of
    * `ChannelFunctions.sentinelMergeArray`). */
  def merge(incoming: Seq[Int], current: Seq[Int]): Seq[Int] =
    incoming.zipAll(current, -1, 0).map { case (n, o) => if (n == -1) o else n }

  /** F1 validation cascade in reference order: count → duration →
    * non-integer value → per-value range
    * (`src/transmitter/main.cpp:172-210`) — the Scala twin of
    * [[Router.cascade]], worded from its constants. */
  def validate(e: EngineEvent): Option[String] =
    if (e.channels.isEmpty || e.channels.size > ChannelCount)
      Some(Router.BadCount.format(e.channels.size))
    else if (e.durationMs < 1) Some(Router.BadDuration)
    else if (e.channels.contains(Router.NotAnInteger)) Some(Router.NonInteger)
    else if (e.channels.exists(v => v != -1 && (v < 1000 || v > 2000)))
      Some(Router.OutOfRange)
    else None

  private def snapshot(id: Int, s: TargetState, seq: Long, tsm: Long,
      kind: String = "snapshot"): EngineOutput = {
    val eff = if (s.isOverridden) s.ovr else s.live
    val remaining = if (s.isOverridden) math.max(0L, s.deadlineMs - tsm) else 0L
    EngineOutput(id, kind, seq, tsm, eff, s.live, s.ovr, s.isOverridden, s.deadlineMs,
      remaining, "", "")
  }

  private def response(id: Int, seq: Long, tsm: Long, status: String, message: String): EngineOutput =
    EngineOutput(id, "response", seq, tsm, Nil, Nil, Nil, isOverridden = false, 0L, 0L,
      status, message)

  /** Apply one event to one target's state; returns the new state and
    * the emitted rows (responses for commands, a snapshot per event). */
  def step(id: Int, state: TargetState, e: EngineEvent): (TargetState, Seq[EngineOutput]) = {
    // Event-time TTL expiry before processing, like the reference's
    // per-loop `now >= override_timeout` check (main.cpp:84-87).
    val s0 =
      if (state.isOverridden && e.tsm >= state.deadlineMs) state.copy(isOverridden = false)
      else state
    e.kind match {
      case "frame" =>
        val s1 = s0.copy(live = merge(e.channels, s0.live), lastTsm = e.tsm)
        (s1, Seq(snapshot(id, s1, e.seq, e.tsm)))
      case "command" =>
        validate(e) match {
          case Some(err) =>
            (s0, Seq(response(id, e.seq, e.tsm, "error", err),
              snapshot(id, s0, e.seq, e.tsm)))
          case None =>
            val base = if (s0.isOverridden) s0.ovr else s0.live
            val s1 = s0.copy(
              ovr = merge(e.channels, base),
              isOverridden = true,
              deadlineMs = e.tsm + e.durationMs,
              lastTsm = e.tsm)
            (s1, Seq(response(id, e.seq, e.tsm, "success",
              Router.Updated.format(id, e.durationMs)),
              snapshot(id, s1, e.seq, e.tsm)))
        }
      case other =>
        (s0, Seq(response(id, e.seq, e.tsm, "error", Router.UnknownCommand.format(other))))
    }
  }

  /** The `flatMapGroupsWithState` group function. Events inside a
    * micro-batch arrive unordered — sort by (tsm, command-before-frame,
    * seq), matching the reference loop order serial → state-update
    * (`src/transmitter/main.cpp:350-371`).
    *
    * `holdEmitMs` (T2): when set, the state re-emits its held frame on
    * a processing-time timer even with no input — the reference's
    * sample-and-hold upsampling (30 Hz SBUS re-emission of a 2 Hz
    * input, `src/receiver/main.cpp:62-74`). Timeout rows carry kind
    * "timeout". State crosses the store as a [[StoredTargetState]],
    * converted here and nowhere else. */
  def processGroup(holdEmitMs: Option[Long])(id: Int, events: Iterator[EngineEvent],
      state: GroupState[StoredTargetState]): Iterator[EngineOutput] = {
    def arm(s: TargetState, sinceTsm: Long): Unit = {
      // next wake-up: the override deadline and/or the hold re-emission
      val deadlineDelay =
        if (s.isOverridden) Some(math.max(1L, s.deadlineMs - sinceTsm)) else None
      val delay = (deadlineDelay.toSeq ++ holdEmitMs.toSeq).reduceOption(_ min _)
      delay.foreach { d =>
        try state.setTimeoutDuration(d)
        catch { case _: UnsupportedOperationException => () } // batch mode
      }
    }
    def wallNow: Long =
      try state.getCurrentProcessingTimeMs()
      catch { case _: Exception => 0L }
    val held = state.getOption.map(restored).getOrElse(initialState)
    if (state.hasTimedOut) {
      // The stream is quiet: decide whether the wall-clock TTL deadline
      // has elapsed (vs a shorter hold re-emission firing first). The
      // TTL budget in wall time equals the event-time budget armed at
      // the last event: deadlineMs - lastTsm.
      val ttlFired = held.isOverridden &&
        wallNow - held.wallAtLast >= held.deadlineMs - held.lastTsm
      val cleared = if (ttlFired) held.copy(isOverridden = false) else held
      state.update(stored(cleared))
      // Stamp the emission with the probe time mapped into event time
      // (lastTsm + wall-clock elapsed since it), so hold re-emissions
      // order correctly by tsm downstream and an active override's
      // remaining_ms reflects the actual time left, not deadline-vs-deadline.
      val probeTsm = cleared.lastTsm + math.max(0L, wallNow - cleared.wallAtLast)
      // re-arm from the probe time: remaining TTL (if still overridden)
      // and/or the hold tick
      arm(cleared, probeTsm)
      Iterator.single(snapshot(id, cleared, -1L, probeTsm, kind = "timeout"))
    } else {
      var s = held
      val ordered = events.toSeq.sortBy(e => (e.tsm, if (e.kind == "command") 0 else 1, e.seq))
      val out = Seq.newBuilder[EngineOutput]
      var lastTsm = 0L
      ordered.foreach { e =>
        val (s1, rows) = step(id, s, e)
        s = s1
        out ++= rows
        lastTsm = math.max(lastTsm, e.tsm)
      }
      s = s.copy(wallAtLast = wallNow)
      state.update(stored(s))
      arm(s, lastTsm)
      out.result().iterator
    }
  }

  /** The engine transform: works identically on a streaming Dataset
    * (stateful across micro-batches, processing-time timeouts armed) and
    * on a batch Dataset (one pass, event-time expiry only).
    *
    * @param holdEmitMs T2 sample-and-hold: re-emit each target's held
    *                   state every `holdEmitMs` of wall-clock quiet
    *                   (None = emit only on input / TTL expiry)
    *
    * Events are grouped on the `targetId` column, not by a typed key
    * lambda: no per-event object is built to compute the key. */
  def effectiveStates(events: Dataset[EngineEvent],
      holdEmitMs: Option[Long] = None): Dataset[EngineOutput] = {
    import events.sparkSession.implicits._
    events
      .groupBy(col("targetId")).as[Int, EngineEvent]
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        processGroup(holdEmitMs))
  }

  /** Late/duplicate policy (an extension — the reference has none: its
    * callback overwrites state unconditionally, load-shedding by
    * last-write-wins, `src/receiver/main.cpp:36`): an event-time
    * watermark plus `dropDuplicatesWithinWatermark` on the envelope
    * identity. Duplicates arriving within the watermark horizon are
    * dropped exactly once, and — unlike plain `dropDuplicates` on a
    * non-event-time subset, whose state grows forever — each key's
    * dedup state is evicted once the watermark passes it, so state is
    * genuinely bounded by the horizon at any input rate. */
  def deduplicated(events: Dataset[EngineEvent],
      watermarkDelay: String = "10 seconds"): Dataset[EngineEvent] = {
    import events.sparkSession.implicits._
    events
      .withColumn("eventTime", timestamp_millis(col("tsm")))
      .withWatermark("eventTime", watermarkDelay)
      .dropDuplicatesWithinWatermark("targetId", "kind", "seq")
      .drop("eventTime")
      .as[EngineEvent]
  }

  /** Windowed streaming aggregation with a watermark: per-target event
    * counts over tumbling event-time windows (the reference's 2 Hz
    * rate buckets, `src/transmitter/main.cpp:23-25`, generalized).
    * Append mode emits each window once finalized by the watermark —
    * late events beyond the delay are dropped, the engine's documented
    * late-data policy. */
  def rateBuckets(events: Dataset[EngineEvent], windowLength: String = "500 milliseconds",
      watermarkDelay: String = "2 seconds"): DataFrame =
    events
      .withColumn("eventTime", timestamp_millis(col("tsm")))
      .withWatermark("eventTime", watermarkDelay)
      .groupBy(window(col("eventTime"), windowLength), col("targetId"), col("kind"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("targetId"), col("kind"), col("n"))

  /** Gap-based session windows per target — the streaming twin of the
    * batch sessionize (q21): sessions close when no event arrives for
    * `gap` of event time, finalized by the watermark. Session state is
    * bounded by the watermark horizon. */
  def sessionize(events: Dataset[EngineEvent], gap: String = "5 seconds",
      watermarkDelay: String = "2 seconds"): DataFrame =
    events
      .withColumn("eventTime", timestamp_millis(col("tsm")))
      .withWatermark("eventTime", watermarkDelay)
      .groupBy(session_window(col("eventTime"), gap), col("targetId"))
      .agg(count(lit(1)).as("n_events"))
      .select(unix_millis(col("session_window.start")).as("start_ms"),
        unix_millis(col("session_window.end")).as("end_ms"),
        col("targetId"), col("n_events"))

  /** Stream-stream interval join with watermarks — the streaming member
    * of the as-of/interval-join family (batch twins: `Joins.asofJoin`,
    * q37/q38): each frame pairs with every command whose event time
    * falls inside `(frameTime - ttlMs, frameTime]` for the same target,
    * i.e. the commands that could still be overriding that frame (the
    * ST1 per-tick check `now < override_timeout`,
    * `src/transmitter/main.cpp:84-87`, as a relational join).
    *
    * Both sides carry event-time watermarks and the join condition is a
    * bounded time range on the watermarked columns, so Spark prunes
    * join state as the watermark advances — command state is dropped
    * once frames can no longer reach back to it, frame state once
    * commands can no longer arrive for it. State is bounded by
    * `ttlMs + delay` per key at any input rate.
    *
    * `joinType` "inner" emits pairs as they match; "leftOuter"
    * additionally emits unmatched frames (null command columns) once
    * the watermark proves no covering command can still arrive — the
    * relational form of "frames that ran uncovered", the complement
    * q37 counts in batch.
    */
  def frameCommandIntervalJoin(frames: Dataset[EngineEvent],
      commands: Dataset[EngineEvent], ttlMs: Long = 5000L,
      delay: String = "2 seconds", joinType: String = "inner"): DataFrame = {
    val f = frames.select(
      col("targetId").as("f_target"), col("seq").as("f_seq"),
      timestamp_millis(col("tsm")).as("f_time"), col("channels").as("f_ch"))
      .withWatermark("f_time", delay)
    val c = commands.select(
      col("targetId").as("c_target"), col("seq").as("c_seq"),
      timestamp_millis(col("tsm")).as("c_time"), col("channels").as("c_ch"))
      .withWatermark("c_time", delay)
    f.join(c,
      col("f_target") === col("c_target") &&
        col("c_time") <= col("f_time") &&
        col("c_time") > col("f_time") - expr(s"INTERVAL $ttlMs MILLISECONDS"),
      joinType)
      .select(col("f_target").as("targetId"), col("f_seq"), col("c_seq"),
        unix_millis(col("f_time")).as("frame_ms"),
        unix_millis(col("c_time")).as("cmd_ms"),
        col("f_ch"), col("c_ch"))
  }

  /** T1/S5 — writer for the engine output: 500 ms processing-time
    * trigger (the reference's 2 Hz loop, `src/transmitter/main.cpp:23-25`)
    * and one-line JSON rows (the serial println sink, `:112-117`). */
  def jsonWriter(out: Dataset[EngineOutput], checkpointDir: String): DataStreamWriter[org.apache.spark.sql.Row] =
    out
      .select(to_json(struct(col("*"))).as("value"))
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .option("checkpointLocation", checkpointDir)

  /** Reinterpret the batch frame/command DataFrames (graft.operators
    * .Channels) as one unioned engine-event stream — the streaming twin
    * of q17's inputs, used by the batch-vs-streaming consistency test. */
  def eventsFromChannels(frames: DataFrame, commands: DataFrame): Dataset[EngineEvent] = {
    import frames.sparkSession.implicits._
    val f = frames.select(
      col("target_id"), lit("frame").as("kind"), col("event_id").as("seq"),
      col("tsm"),
      array_repeat(col("ch"), ChannelCount).as("channels"),
      lit(0L).as("durationMs"))
    val c = commands.select(
      col("target_id"), lit("command").as("kind"), col("event_id").as("seq"),
      col("tsm"),
      array_repeat(col("ovr"), ChannelCount).as("channels"),
      col("duration_ms").cast("long").as("durationMs"))
    f.unionByName(c)
      .withColumnRenamed("target_id", "targetId")
      .as[EngineEvent]
  }
}
