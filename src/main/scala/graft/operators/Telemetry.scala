package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** P4/S5 — JSON document serialization: the telemetry snapshot envelope
  * and the response/error envelopes, as `to_json` projections.
  *
  * Field names, order, and value rendering reproduce the reference's
  * hand-built documents:
  *  - per-target object: id, name, mac, channels[8], connection_state,
  *    last_successful_send, is_channels_overridden,
  *    override_timeout_remaining (`lib/TargetManager/TargetManager.h:145-182`);
  *  - snapshot envelope `{"type":"targets_update","targets":[...]}`
  *    (`src/transmitter/main.cpp:282-296`);
  *  - response envelope `{"type":"response","command":...,"status":...,
  *    "message":...}` (`src/transmitter/main.cpp:251-266`);
  *  - error envelope `{"type":"error","message":...[,"command":...]}`
  *    (`src/transmitter/main.cpp:125-140` — the command field is
  *    optional; `to_json` dropping null fields mirrors that exactly).
  *
  * Output is compact JSON (no spaces), matching ArduinoJson's
  * `serializeJson`. String formatting is not oracle-hashable; exact
  * parity is unit-tested against hand-built documents
  * (TelemetrySpec).
  */
object Telemetry {

  /** Per-target document struct in the reference's field order. Expects
    * columns: id, name, mac, channels (array<int>), connection_state
    * (boolean), last_successful_send (long), is_channels_overridden
    * (boolean), override_timeout_remaining (long). */
  def targetStruct: Column = struct(
    col("id"), col("name"), col("mac"), col("channels"),
    col("connection_state"), col("last_successful_send"),
    col("is_channels_overridden"), col("override_timeout_remaining"))

  /** The 2 Hz `targets_update` snapshot document around an aggregated
    * array of [[targetStruct]] values, e.g.
    * `snapshot.agg(targetsUpdate(collect_list(targetStruct)))`: all
    * targets in one array ordered by id (the registry's insertion order —
    * ids are auto-increment, `TargetManager.h:46,52`), wrapped in the
    * type envelope.
    *
    * `array_sort` sorts by the leading `id` field, making the document
    * deterministic under any partitioning. */
  def targetsUpdate(targets: Column): Column =
    to_json(struct(lit("targets_update").as("type"), array_sort(targets).as("targets")))

  /** Command response document. Expects columns: command, status,
    * message. */
  def responseJson(responses: DataFrame): DataFrame =
    responses.select(to_json(struct(
      lit("response").as("type"), col("command"), col("status"), col("message"))).as("json"))

  /** Error document (parse/envelope failures). Expects columns: message
    * and an optional nullable command — `to_json` omits null fields,
    * matching the reference's conditional `error_doc["command"]`. */
  def errorJson(errors: DataFrame): DataFrame =
    errors.select(to_json(struct(
      lit("error").as("type"), col("message"), col("command"))).as("json"))
}
