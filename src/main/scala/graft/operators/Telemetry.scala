package graft.operators

import com.fasterxml.jackson.core.JsonFactory
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** P4/S5 — JSON document serialization: the telemetry snapshot envelope,
  * rendered with Jackson from per-target entries, and the response/error
  * envelopes, as `to_json` projections.
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

  /** One per-target object of the `targets_update` document, in the
    * reference's field order. `None` fields are omitted from the
    * output, as `to_json` omits null fields. */
  final case class Target(
      id: Int,
      name: Option[String],
      mac: Option[String],
      channels: Seq[Int],
      connectionState: Option[Boolean],
      lastSuccessfulSend: Option[Long],
      isChannelsOverridden: Boolean,
      overrideTimeoutRemaining: Long)

  private val json = new JsonFactory()

  /** The 2 Hz `targets_update` snapshot document: all targets in one
    * array ordered by id (the registry's insertion order — ids are
    * auto-increment, `TargetManager.h:46,52`), wrapped in the type
    * envelope. Sorting here makes the document independent of the order
    * the targets arrive in. Byte-identical to Spark's `to_json` over
    * the same struct (same Jackson generator, compact, null fields
    * omitted), which TelemetrySpec pins. */
  def targetsUpdate(targets: Seq[Target]): String = {
    val out = new java.io.StringWriter()
    val g = json.createGenerator(out)
    g.writeStartObject()
    g.writeStringField("type", "targets_update")
    g.writeArrayFieldStart("targets")
    targets.sortBy(_.id).foreach { t =>
      g.writeStartObject()
      g.writeNumberField("id", t.id)
      t.name.foreach(g.writeStringField("name", _))
      t.mac.foreach(g.writeStringField("mac", _))
      g.writeArrayFieldStart("channels")
      t.channels.foreach(c => g.writeNumber(c))
      g.writeEndArray()
      t.connectionState.foreach(g.writeBooleanField("connection_state", _))
      t.lastSuccessfulSend.foreach(g.writeNumberField("last_successful_send", _))
      g.writeBooleanField("is_channels_overridden", t.isChannelsOverridden)
      g.writeNumberField("override_timeout_remaining", t.overrideTimeoutRemaining)
      g.writeEndObject()
    }
    g.writeEndArray()
    g.writeEndObject()
    g.close()
    out.toString
  }

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
