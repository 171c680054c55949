package graft.streaming

import graft.operators.Router
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** S1/S2 — streaming-native input adapters for the engine.
  *
  * The engine consumes any `Dataset[EngineEvent]`; these adapters
  * produce that envelope from live sources:
  *  - [[syntheticFrames]]: a rate-source PPM generator (the S1 sensor
  *    scan's streaming twin — deterministic channel values derived
  *    from the row counter, `src/transmitter/main.cpp:89-95`);
  *  - [[commandsFromJsonLines]]: line-framed JSON commands from any
  *    string stream (socket/file/MemoryStream) with the reference's
  *    framing semantics — trim, drop empties
  *    (`src/transmitter/main.cpp:301-313`) — the batch router's parse
  *    and response classes, and a dead-letter split for unparseable
  *    lines (the `parse_json` error path, `:229-240`).
  *
  * Everything is per-row projection — no state, no shuffle; the keyed
  * work happens downstream in [[Engine.effectiveStates]].
  *
  * ==The connector seam==
  *
  * The adapters are deliberately SOURCE-AGNOSTIC: each takes a plain
  * `DataFrame` — batch or streaming, from ANY connector — and demands
  * only a column contract, never a format or a source:
  *
  *  - [[framesFromPackets]]: `targetId INT, seq LONG, tsm LONG,
  *    payload BINARY`;
  *  - [[commandsFromJsonLines]]: `value STRING` (+ optional
  *    `seq LONG` for line-order-stable tie-breaking).
  *
  * That is the cloud-stream integration point: a managed shard-stream
  * connector (Kinesis-style `spark.readStream.format(...)` — exactly
  * what [[linesFromShards]] does with the in-repo [[ShardStream]]
  * source), Kafka (`selectExpr("CAST(value AS STRING)")`), a socket,
  * a file directory, or a MemoryStream all plug in by projecting to
  * the contract columns; nothing downstream knows which one it was.
  * The adapters preserve `isStreaming`, so the same call sites serve
  * batch replay (parquet of archived lines) and live ingestion — the
  * contract SourcesSpec's "connector seam" test pins.
  */
object Sources {

  /** S3 streaming twin: decode a raw radio-packet stream into frame
    * events. Input shape: `targetId INT, seq LONG, tsm LONG,
    * payload BINARY` (the ESP-NOW receive callback's arguments,
    * `src/receiver/main.cpp:27-44`). Payloads are decoded by the
    * codegen'd [[graft.expressions.UnpackFrame]] expression; packets
    * failing the 16-byte length guard (`:30-35`) decode to NULL and
    * route to the dead-letter relation — the reference rejects and
    * logs them before its memcpy.
    */
  def framesFromPackets(packets: DataFrame): (Dataset[EngineEvent], DataFrame) = {
    import packets.sparkSession.implicits._
    val decoded = packets.withColumn("channels",
      graft.expressions.FrameFunctions.unpackFrame(col("payload")))
    val frames = decoded.filter(col("channels").isNotNull)
      .select(col("targetId"), lit("frame").as("kind"), col("seq"),
        col("tsm"), col("channels"), lit(0L).as("durationMs"))
      .as[EngineEvent]
    val deadLetter = decoded.filter(col("channels").isNull)
      .select(col("targetId"), col("seq"), col("tsm"), col("payload"))
    (frames, deadLetter)
  }

  /** S1 streaming twin: synthetic 8-channel frames at `rowsPerSecond`,
    * cycling over `numTargets`. Channel values sweep 1000–2000
    * deterministically from the rate counter. */
  def syntheticFrames(spark: SparkSession, numTargets: Int,
      rowsPerSecond: Int): Dataset[EngineEvent] = {
    import spark.implicits._
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toLong).load()
      .select(
        pmod(col("value"), lit(numTargets)).cast("int").as("targetId"),
        lit("frame").as("kind"),
        col("value").as("seq"),
        unix_millis(col("timestamp")).as("tsm"),
        array_repeat((lit(1000) + pmod(col("value") * 37, lit(1001))).cast("int"),
          Engine.ChannelCount).as("channels"),
        lit(0L).as("durationMs"))
      .as[EngineEvent]
  }

  /** Kinesis-analog ingestion adapter: [[ShardStream]] records → the
    * line envelope [[commandsFromJsonLines]] consumes, completing the
    * connector-backed form of the ingestion chain
    * (shard-stream → commandsFromJsonLines → Engine.effectiveStates →
    * Sinks.telemetryWriter).
    *
    * The projected `seq` packs (shard-hash << 32 | per-shard seq):
    * within a shard — the only scope where the source (like Kinesis)
    * guarantees order — it's strictly increasing, so same-ms command
    * conflicts from one shard resolve in arrival order; across shards
    * it's just a stable tie-break, matching the source's no-cross-shard-
    * order contract. (Streaming-only path, so non-portable xxhash64 is
    * fine here — no DuckDB twin.)
    *
    * @param maxRecordsPerTrigger Kinesis-style per-batch admission cap
    * @param startingPosition     "trim_horizon" (default) | "latest"
    */
  def linesFromShards(spark: SparkSession, dir: String,
      maxRecordsPerTrigger: Option[Long] = None,
      startingPosition: String = "trim_horizon"): DataFrame = {
    val reader = spark.readStream.format(ShardStream.ShortName)
      .option("startingPosition", startingPosition)
    maxRecordsPerTrigger.foreach(n =>
      reader.option("maxRecordsPerTrigger", n.toString))
    reader.load(dir)
      .select(col("value"),
        (shiftleft(xxhash64(col("shard")), 32) + col("seq")).as("seq"))
  }

  /** Parsed serial-line stream split three ways, mirroring every
    * pre-dispatch outcome of the reference's serial loop:
    *
    *  - `commands`: envelope-complete `override_channels` lines with an
    *    integer target id, as engine events (deeper validation —
    *    count/duration/non-integer value/range — happens inside the
    *    engine, which emits its own responses);
    *  - `responses`: the verbatim error envelopes the reference prints
    *    for lines that never reach the handler's later checks —
    *    malformed JSON (`src/transmitter/main.cpp:235-239`), missing
    *    `"command"` (`:243-247`), unknown command (`:269-273`),
    *    `override_channels` with missing fields (`:151-156`), and a
    *    target id that is not an integer (`:163-169`);
    *  - `deadLetter`: the raw text of lines that are not JSON, for
    *    replay.
    */
  case class ParsedLines(commands: Dataset[EngineEvent], responses: DataFrame,
      deadLetter: DataFrame)

  /** S2 streaming twin: parse a stream of raw serial lines into
    * command events, a verbatim response relation, and a dead-letter
    * relation, through the batch router's own parse stage
    * (`graft.operators.Router.parse`). Every line gets the same
    * response as from `Router.classify`, the pre-dispatch responses
    * here and the rest from [[Engine.effectiveStates]], with one
    * exception: the stream has no registry, so a command for an
    * integer target id the registry lacks reaches the engine instead
    * of "Target not found".
    *
    * @param lines  column `value: String` (socket/text-file/memory
    *               stream shape). If a `seq: Long` column is present
    *               (e.g. a source offset or line number), it becomes
    *               the event's tie-break seq — line-order-stable, so
    *               same-batch conflicting commands for one target
    *               resolve deterministically in input order. Without
    *               it, the fallback is a hash of (line content,
    *               arrival tsm) — deterministic and
    *               replay/restart-stable (legal on streaming
    *               relations, unlike `monotonically_increasing_id`),
    *               and because the arrival time participates, a
    *               legitimately RE-SENT identical command line gets a
    *               distinct seq and survives
    *               [[Engine.deduplicated]]'s (targetId, kind, seq)
    *               key — re-arming the override TTL exactly like the
    *               reference, which re-arms on every valid command
    *               (`src/transmitter/main.cpp:216-217`). Only
    *               identical lines landing in the same millisecond
    *               collapse, and for those the merged state is
    *               identical anyway. The fallback remains arbitrary
    *               as an ORDER: give the source an explicit ordinal
    *               whenever same-ms command conflicts must replay the
    *               exact serial arrival order.
    * @param nowMs  event-time assignment for arriving commands
    *               (defaults to wall clock; tests pin a literal)
    */
  def commandsFromJsonLines(lines: DataFrame,
      nowMs: Column = unix_millis(current_timestamp())): ParsedLines = {
    import lines.sparkSession.implicits._
    val seqCol =
      if (lines.columns.contains("seq")) col("seq")
      else xxhash64(col("value"), nowMs)
    val parsed = Router.parse(lines.withColumn("__seq", seqCol), "value")
    val commands = parsed
      .filter(Router.dispatched)
      .select(col("targetId"), lit("command").as("kind"), col("__seq").as("seq"),
        nowMs.as("tsm"), col("channels"), col("durationMs"))
      .as[EngineEvent]
    // the registry check's one part that needs no registry
    val responses = parsed
      .withColumn("r", coalesce(col("rejected"),
        when(col("targetId").isNull, Router.targetNotFound)))
      .filter(col("r").isNotNull)
      .select(col("r.*"), col("value"))
    val deadLetter = parsed.filter(Router.malformed).select(col("value"))
    ParsedLines(commands, responses, deadLetter)
  }
}
