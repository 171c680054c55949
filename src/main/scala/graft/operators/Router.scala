package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** R1/P5/F1 — the COMPLETE command lifecycle over raw JSON lines
  * (`src/transmitter/main.cpp:229-313`): line framing with empty-line
  * drop, real `from_json` parsing with a dead-letter split, envelope
  * check, registry dispatch with the unknown-command route, and the full
  * handler validation cascade with the reference's verbatim messages —
  * every response class the reference can emit:
  *
  *  1. empty line            → silently dropped (`:308`)
  *  2. malformed JSON        → error envelope "JSON parsing error: …" (`:235-239`)
  *  3. missing "command"     → error envelope "Missing 'command' field in JSON" (`:243-247`)
  *  4. unknown command       → response "Unknown command: …" (`:269-273`)
  *  5. missing fields        → "Missing required fields: target_id, channels, and/or duration" (`:151-156`)
  *  6. unregistered target   → "Target not found with ID: …" (`:163-169`)
  *  7. bad channel count     → "Invalid channel count. Expected 1-8, got …" (`:172-179`)
  *  8. bad duration          → "Duration must be at least 1ms" (`:182-187`)
  *  9. non-integer value     → "Channel values must be integers" (`:192-197`)
  * 10. out-of-range value    → "Channel values must be between 1000-2000 or -1 to skip" (`:205-210`)
  * 11. valid                 → "Channels updated for target T with Dms timeout" (`:219-221`)
  *
  * This object is the command path's one copy of that cascade: the
  * [[parse]] stage (classes 1–5 and the typed fields), the column
  * [[cascade]] (classes 7–11) and the verbatim messages. [[classify]]
  * adds the registry join (class 6); `Reference.q13` runs the cascade
  * over synthesized columns; `graft.streaming.Sources` splits the parse
  * into engine events, responses and dead letters, and
  * `graft.streaming.Engine.validate` is the cascade's Scala twin inside
  * the state function, worded from the same constants.
  *
  * Deviations (documented): the parse-error detail is the constant
  * "InvalidInput" (ArduinoJson's error strings are library-specific);
  * the parse is string-typed, so a scalar reads as its text whatever
  * its JSON type (a numeric "command" is an unknown command,
  * `"target_id":"3"` is target 3); a field holds an integer when its
  * text is an optional minus and digits that fit (INT ids and values,
  * BIGINT durations), so a fraction, an exponent or an overflow fails
  * that field's check in its cascade position; a value of the wrong
  * JSON shape for its slot (a string where the array goes) makes the
  * line malformed; mixed per-value violations report non-integer
  * before out-of-range regardless of element order (the corpus keeps
  * violations isolated, so results are identical to the reference's
  * first-failure order).
  *
  * Scale posture: one scan → map-side line synthesis/parse/validation
  * → broadcast registry join → partial-aggregated rollup. The only
  * shuffle is the final small groupBy.
  */
object Router {

  /** The reference's verbatim responses, sourced in the list above;
    * `%s` marks the values a response quotes (`String.format` /
    * `format_string`). */
  val ParseError = "JSON parsing error: InvalidInput"
  val MissingCommand = "Missing 'command' field in JSON"
  val UnknownCommand = "Unknown command: %s"
  val MissingFields = "Missing required fields: target_id, channels, and/or duration"
  val TargetNotFound = "Target not found with ID: %s"
  val BadCount = "Invalid channel count. Expected 1-8, got %s"
  val BadDuration = "Duration must be at least 1ms"
  val NonInteger = "Channel values must be integers"
  val OutOfRange = "Channel values must be between 1000-2000 or -1 to skip"
  val Updated = "Channels updated for target %s with %sms timeout"

  /** Typed channel value that stands for a JSON value which is not an
    * integer (`null`, text, a fraction, a number outside INT), so the
    * cascade reports it in the reference's position (`main.cpp:192-197`,
    * after count and duration) without widening the channel array. A
    * literal `-2147483648` is out of range either way: [[parse]] turns
    * it into 0, so this value never stands for a genuine integer. */
  val NotAnInteger: Int = Int.MinValue

  private val Command = "override_channels"

  private val Schema = StructType.fromDDL("command STRING, target_id STRING, " +
    "channels ARRAY<STRING>, duration STRING, _corrupt_record STRING")

  /** `text` as a `sqlType` integer when it is one — an optional minus
    * and digits that fit the type — else NULL. Never throws. */
  private def integer(text: Column, sqlType: String): Column =
    regexp_extract(text, "^-?[0-9]+$", 0).try_cast(sqlType) // "" on no match

  private def response(rtype: String, status: String, message: Column): Column =
    struct(lit(rtype).as("rtype"), lit(status).as("status"), message.as("message"))

  private def error(message: Column): Column = response("response", "error", message)

  /** A parsed line that is not JSON: its text is the dead letter. */
  private[graft] val malformed: Column = col("p._corrupt_record").isNotNull

  /** The response to a line that never reaches the handler, in the
    * reference's order (`main.cpp:229-276`, `:151-156`); NULL for the
    * rest. */
  private val rejected: Column =
    when(malformed, response("error", "", lit(ParseError)))
      .when(col("p.command").isNull, response("error", "", lit(MissingCommand)))
      .when(col("p.command") =!= Command, error(format_string(UnknownCommand, col("p.command"))))
      .when(col("p.target_id").isNull || col("p.channels").isNull || col("p.duration").isNull,
        error(lit(MissingFields)))

  /** A [[parse]]d line reaches the handler with an integer `targetId`.
    * One test per field: predicate pushdown copies the parse into a
    * filter once per reference. */
  private[graft] val dispatched: Column = !malformed && col("p.command") === Command &&
    col("p.channels").isNotNull && col("p.duration").isNotNull && col("targetId").isNotNull

  /** Class 6 for the line's own `target_id` text. */
  private[graft] val targetNotFound: Column =
    error(format_string(TargetNotFound, col("p.target_id")))

  /** The one parse stage over the `text` column of `lines`: trim and
    * empty-line drop (`:301-313`), one string-typed `from_json` (`p`),
    * then
    *  - `rejected`: the pre-dispatch response (classes 2–5), NULL for
    *    a line that reaches the handler;
    *  - `targetId` INT (NULL when the id is not an integer),
    *    `durationMs` BIGINT (0 when not an integer: too short either
    *    way) and `channels` ARRAY<INT> (each value, or [[NotAnInteger]]).
    */
  private[graft] def parse(lines: DataFrame, text: String): DataFrame =
    lines.filter(length(trim(col(text))) > 0)
      .withColumn("p", from_json(trim(col(text)), Schema,
        Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
      .select(col("*"), rejected.as("rejected"),
        integer(col("p.target_id"), "int").as("targetId"),
        coalesce(integer(col("p.duration"), "bigint"), lit(0L)).as("durationMs"),
        transform(col("p.channels"), c => {
          val v = integer(c, "int")
          when(v === NotAnInteger, lit(0)).otherwise(coalesce(v, lit(NotAnInteger)))
        }).as("channels"))

  /** The handler's checks after dispatch, in the reference's order:
    * count → duration → non-integer value → range → success
    * (`main.cpp:172-221`). `channels` holds typed values with
    * [[NotAnInteger]] for the others; `count` is usually its size.
    * Returns the response struct `(rtype, status, message)`. */
  private[graft] def cascade(count: Column, durationMs: Column, channels: Column,
      targetId: Column): Column =
    when(count < 1 || count > 8, error(format_string(BadCount, count)))
      .when(durationMs < 1, error(lit(BadDuration)))
      .when(array_contains(channels, NotAnInteger), error(lit(NonInteger)))
      .when(exists(channels, v => v =!= -1 && (v < 1000 || v > 2000)), error(lit(OutOfRange)))
      .otherwise(response("response", "success", format_string(Updated, targetId, durationMs)))

  /** Deterministic raw command-line corpus: 13 construction classes
    * covering every lifecycle outcome, derived from the events table. */
  private def rawLines(spark: SparkSession, dir: String): DataFrame = {
    val t = (col("user_id") % 8 + 1).cast("string")
    val d = (lit(1) + col("event_id") % 5000).cast("string")
    val chv = (lit(1000) + floor(col("value") * 10).cast("int") % 1001).cast("string")
    val cls = col("event_id") % 13
    val line =
      when(cls === 0, lit("  "))
        .when(cls === 1, lit("""{"command": "override_channels", "target_id": """))
        .when(cls === 2, lit("""{"target_id": 3}"""))
        .when(cls === 3, lit("""{"command": "set_speed"}"""))
        .when(cls === 4, lit("""{"command": "override_channels"}"""))
        .when(cls === 5, lit("""{"command": "override_channels", "target_id": 99, "channels": [1500], "duration": 1000}"""))
        .when(cls === 6, concat(lit("""{"command": "override_channels", "target_id": """), t,
          lit(""", "channels": [1500, "x"], "duration": 1000}""")))
        .when(cls === 7, concat(lit("""{"command": "override_channels", "target_id": """), t,
          lit(""", "channels": [], "duration": """), d, lit("}")))
        .when(cls === 8, concat(lit("""{"command": "override_channels", "target_id": """), t,
          lit(""", "channels": [1500,1500,1500,1500,1500,1500,1500,1500,1500], "duration": """), d, lit("}")))
        .when(cls === 9, concat(lit("""{"command": "override_channels", "target_id": """), t,
          lit(""", "channels": ["""), chv, lit("""], "duration": 0}""")))
        .when(cls === 10, concat(lit("""{"command": "override_channels", "target_id": """), t,
          lit(""", "channels": [2500], "duration": """), d, lit("}")))
        .when(cls === 11, concat(lit("""{"command": "override_channels", "target_id": """), t,
          lit(""", "channels": [-1, """), chv, lit("""], "duration": """), d, lit("}")))
        .otherwise(concat(lit("""{"command": "override_channels", "target_id": """), t,
          lit(""", "channels": ["""), chv, lit("""], "duration": """), d, lit("}")))
    // spread: from_json + the validation cascade are per-row parse work —
    // don't let a single-file scan serialize them on one core.
    Tables.spread(Tables.events(spark, dir)).select(col("event_id"), line.as("line"))
  }

  /** The full router as an oracle-checkable rollup: every response class
    * with its verbatim message, counted. */
  def q32CommandRouter(spark: SparkSession, dir: String): DataFrame =
    classify(rawLines(spark, dir))
      .groupBy(col("rtype"), col("status"), col("message"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("rtype"), col("status"), col("message"))

  /** The handler's response to every non-empty command line of
    * `lines` (a `line` column) against the 8-target registry: one row
    * `(line, rtype, status, message)` per line — [[parse]], the
    * registry join, then [[cascade]]. */
  private[operators] def classify(lines: DataFrame): DataFrame = {
    val registry = lines.sparkSession.range(1, 9).select(col("id").as("reg_id"))
    parse(lines, "line")
      .join(broadcast(registry), col("targetId") === col("reg_id"), "left")
      .select(col("line"), coalesce(col("rejected"),
        when(col("reg_id").isNull, targetNotFound),
        cascade(size(col("channels")), col("durationMs"), col("channels"),
          col("targetId"))).as("c"))
      .select(col("line"), col("c.*"))
  }

  /** DuckDB twin — identical corpus synthesis and classification via the
    * json extension, with [[parse]]'s integer rule (optional minus and
    * digits that fit: INT ids and values, BIGINT durations) and typed
    * values in the success message. */
  val oracleSql: String = {
    val t = "CAST(user_id % 8 + 1 AS VARCHAR)"
    val d = "CAST(1 + event_id % 5000 AS VARCHAR)"
    val chv = "CAST(1000 + CAST(floor(value * 10) AS INT) % 1001 AS VARCHAR)"
    s"""WITH lines AS (
       |  SELECT event_id, CASE event_id % 13
       |    WHEN 0 THEN '  '
       |    WHEN 1 THEN '{"command": "override_channels", "target_id": '
       |    WHEN 2 THEN '{"target_id": 3}'
       |    WHEN 3 THEN '{"command": "set_speed"}'
       |    WHEN 4 THEN '{"command": "override_channels"}'
       |    WHEN 5 THEN '{"command": "override_channels", "target_id": 99, "channels": [1500], "duration": 1000}'
       |    WHEN 6 THEN '{"command": "override_channels", "target_id": ' || $t || ', "channels": [1500, "x"], "duration": 1000}'
       |    WHEN 7 THEN '{"command": "override_channels", "target_id": ' || $t || ', "channels": [], "duration": ' || $d || '}'
       |    WHEN 8 THEN '{"command": "override_channels", "target_id": ' || $t || ', "channels": [1500,1500,1500,1500,1500,1500,1500,1500,1500], "duration": ' || $d || '}'
       |    WHEN 9 THEN '{"command": "override_channels", "target_id": ' || $t || ', "channels": [' || $chv || '], "duration": 0}'
       |    WHEN 10 THEN '{"command": "override_channels", "target_id": ' || $t || ', "channels": [2500], "duration": ' || $d || '}'
       |    WHEN 11 THEN '{"command": "override_channels", "target_id": ' || $t || ', "channels": [-1, ' || $chv || '], "duration": ' || $d || '}'
       |    ELSE '{"command": "override_channels", "target_id": ' || $t || ', "channels": [' || $chv || '], "duration": ' || $d || '}'
       |  END AS line FROM events),
       |ne AS (SELECT * FROM lines WHERE length(trim(line)) > 0),
       |parsed AS (
       |  SELECT event_id, ok,
       |    CASE WHEN ok THEN json_extract_string(line, '$$.command') END AS command,
       |    CASE WHEN ok THEN json_extract_string(line, '$$.target_id') END AS target_id,
       |    CASE WHEN ok THEN json_extract(line, '$$.channels') END AS chj,
       |    CASE WHEN ok THEN json_extract_string(line, '$$.duration') END AS duration,
       |    line
       |  FROM (SELECT *, json_valid(line) AS ok FROM ne)),
       |ch AS (
       |  SELECT *,
       |    CASE WHEN regexp_full_match(target_id, '-?[0-9]+') THEN TRY_CAST(target_id AS INT) END AS tid,
       |    COALESCE(CASE WHEN regexp_full_match(duration, '-?[0-9]+')
       |      THEN TRY_CAST(duration AS BIGINT) END, 0) AS dur,
       |    CASE WHEN chj IS NULL THEN NULL
       |    ELSE list_transform(generate_series(0, CAST(json_array_length(chj) AS BIGINT) - 1),
       |      i -> json_extract_string(line, '$$.channels[' || i || ']')) END AS chans
       |  FROM parsed),
       |cls AS (
       |  SELECT CASE
       |    WHEN NOT ok THEN ('error', '', 'JSON parsing error: InvalidInput')
       |    WHEN command IS NULL THEN ('error', '', 'Missing ''command'' field in JSON')
       |    WHEN command <> 'override_channels' THEN ('response', 'error', 'Unknown command: ' || command)
       |    WHEN target_id IS NULL OR chj IS NULL OR duration IS NULL THEN
       |      ('response', 'error', 'Missing required fields: target_id, channels, and/or duration')
       |    WHEN tid IS NULL OR tid < 1 OR tid > 8 THEN
       |      ('response', 'error', 'Target not found with ID: ' || target_id)
       |    WHEN len(chans) = 0 OR len(chans) > 8 THEN
       |      ('response', 'error', 'Invalid channel count. Expected 1-8, got ' || CAST(len(chans) AS VARCHAR))
       |    WHEN dur < 1 THEN ('response', 'error', 'Duration must be at least 1ms')
       |    WHEN len(list_filter(chans, c -> c IS NULL OR NOT regexp_full_match(c, '-?[0-9]+')
       |      OR TRY_CAST(c AS INT) IS NULL)) > 0 THEN
       |      ('response', 'error', 'Channel values must be integers')
       |    WHEN len(list_filter(chans, c -> TRY_CAST(c AS INT) <> -1
       |      AND (TRY_CAST(c AS INT) < 1000 OR TRY_CAST(c AS INT) > 2000))) > 0 THEN
       |      ('response', 'error', 'Channel values must be between 1000-2000 or -1 to skip')
       |    ELSE ('response', 'success', 'Channels updated for target ' || CAST(tid AS VARCHAR)
       |      || ' with ' || CAST(dur AS VARCHAR) || 'ms timeout')
       |  END AS c FROM ch)
       |SELECT c[1] AS rtype, c[2] AS status, c[3] AS message, count(*) AS n
       |FROM cls GROUP BY rtype, status, message
       |ORDER BY rtype, status, message""".stripMargin
  }
}
