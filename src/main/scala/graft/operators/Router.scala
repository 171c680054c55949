package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * Deviations (documented): the parse-error detail is the constant
  * "InvalidInput" (ArduinoJson's error strings are library-specific);
  * a non-string "command" is reported as missing (Spark's JSON parser
  * coerces scalars to text, so the type distinction is unobservable);
  * mixed per-value violations report non-integer before out-of-range
  * regardless of element order (the corpus keeps violations isolated,
  * so results are identical to the reference's first-failure order).
  *
  * Scale posture: one scan → map-side line synthesis/parse/validation
  * (all codegen'd) → broadcast registry join → partial-aggregated
  * rollup. The only shuffle is the final small groupBy.
  */
object Router {

  /** Parse a string column as an integer only when it looks like one —
    * keeps ANSI mode from throwing on the genuinely non-numeric values
    * the validation cascade is there to catch. */
  private def toIntSafe(c: Column): Column =
    when(c.rlike("^-?[0-9]+$"), c.cast("int"))

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
    * `(line, rtype, status, message)` per line, in the reference's
    * cascade order. A `null` channel element is not an integer
    * (`main.cpp:192-197`), as in [[graft.streaming.Engine]]'s
    * validation. */
  private[operators] def classify(lines: DataFrame): DataFrame = {
    val spark = lines.sparkSession
    // PERMISSIVE from_json yields a struct of nulls for malformed input;
    // the corrupt-record column is the real dead-letter discriminator.
    val schema = "command STRING, target_id STRING, channels ARRAY<STRING>, " +
      "duration STRING, _corrupt_record STRING"
    val parsed = lines
      .filter(length(trim(col("line"))) > 0) // empty-line drop (:308)
      .withColumn("p", from_json(col("line"),
        org.apache.spark.sql.types.StructType.fromDDL(schema),
        Map("columnNameOfCorruptRecord" -> "_corrupt_record")))
    val registry = spark.range(1, 9).select(col("id").as("reg_id"))
    val joined = parsed
      .join(broadcast(registry),
        toIntSafe(col("p.target_id")).cast("long") === col("reg_id"), "left")
    val n = size(col("p.channels"))
    val dur = toIntSafe(col("p.duration"))
    // a null element is not an integer; without the explicit test the
    // predicate is NULL there and `exists` never yields true
    val nonInt = exists(col("p.channels"),
      c => c.isNull || !c.rlike("^-?[0-9]+$"))
    val outOfRange = exists(col("p.channels"),
      c => toIntSafe(c) =!= -1 && (toIntSafe(c) < 1000 || toIntSafe(c) > 2000))
    def out(rtype: String, status: String, message: Column): Column =
      struct(lit(rtype).as("rtype"), lit(status).as("status"), message.as("message"))
    val classified =
      when(col("p").isNull || col("p._corrupt_record").isNotNull,
        out("error", "", lit("JSON parsing error: InvalidInput")))
        .when(col("p.command").isNull,
          out("error", "", lit("Missing 'command' field in JSON")))
        .when(col("p.command") =!= "override_channels",
          out("response", "error", concat(lit("Unknown command: "), col("p.command"))))
        .when(col("p.target_id").isNull || col("p.channels").isNull || col("p.duration").isNull,
          out("response", "error",
            lit("Missing required fields: target_id, channels, and/or duration")))
        .when(col("reg_id").isNull,
          out("response", "error",
            concat(lit("Target not found with ID: "), col("p.target_id"))))
        .when(n === 0 || n > 8,
          out("response", "error",
            concat(lit("Invalid channel count. Expected 1-8, got "), n.cast("string"))))
        .when(dur.isNull || dur < 1,
          out("response", "error", lit("Duration must be at least 1ms")))
        .when(nonInt,
          out("response", "error", lit("Channel values must be integers")))
        .when(outOfRange,
          out("response", "error",
            lit("Channel values must be between 1000-2000 or -1 to skip")))
        .otherwise(
          out("response", "success",
            concat(lit("Channels updated for target "), col("p.target_id"),
              lit(" with "), col("p.duration"), lit("ms timeout"))))
    joined.select(col("line"), classified.as("c"))
      .select(col("line"), col("c.rtype").as("rtype"),
        col("c.status").as("status"), col("c.message").as("message"))
  }

  /** DuckDB twin — identical corpus synthesis and classification via the
    * json extension. */
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
       |  SELECT *, CASE WHEN chj IS NULL THEN NULL
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
       |    WHEN TRY_CAST(target_id AS BIGINT) IS NULL OR TRY_CAST(target_id AS BIGINT) < 1
       |      OR TRY_CAST(target_id AS BIGINT) > 8 THEN
       |      ('response', 'error', 'Target not found with ID: ' || target_id)
       |    WHEN len(chans) = 0 OR len(chans) > 8 THEN
       |      ('response', 'error', 'Invalid channel count. Expected 1-8, got ' || CAST(len(chans) AS VARCHAR))
       |    WHEN TRY_CAST(duration AS INT) IS NULL OR TRY_CAST(duration AS INT) < 1 THEN
       |      ('response', 'error', 'Duration must be at least 1ms')
       |    WHEN len(list_filter(chans, c -> c IS NULL OR NOT regexp_full_match(c, '-?[0-9]+'))) > 0 THEN
       |      ('response', 'error', 'Channel values must be integers')
       |    WHEN len(list_filter(chans, c -> TRY_CAST(c AS INT) <> -1
       |      AND (TRY_CAST(c AS INT) < 1000 OR TRY_CAST(c AS INT) > 2000))) > 0 THEN
       |      ('response', 'error', 'Channel values must be between 1000-2000 or -1 to skip')
       |    ELSE ('response', 'success', 'Channels updated for target ' || target_id
       |      || ' with ' || duration || 'ms timeout')
       |  END AS c FROM ch)
       |SELECT c[1] AS rtype, c[2] AS status, c[3] AS message, count(*) AS n
       |FROM cls GROUP BY rtype, status, message
       |ORDER BY rtype, status, message""".stripMargin
  }
}
