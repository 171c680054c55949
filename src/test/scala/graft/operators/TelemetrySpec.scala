package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** P4 exact-document parity: the envelopes match hand-built reference
  * documents (`TargetManager.h:145-198`, `src/transmitter/main.cpp:
  * 112-140,282-296`) byte for byte. */
class TelemetrySpec extends SparkSpec {
  import spark.implicits._

  private val snapshotDf = Seq(
    (2, "Drone_2", "00:00:9E:37:79:B1", Seq(1500, 1500, 1500, 1500, 1500, 1500, 1500, 1500),
      false, 123456L, false, 0L),
    (1, "Drone_1", "AA:BB:CC:DD:EE:01", Seq(1000, 1100, 1200, 1300, 1400, 1500, 1600, 2000),
      true, 99L, true, 4500L),
  ).toDF("id", "name", "mac", "channels", "connection_state",
    "last_successful_send", "is_channels_overridden", "override_timeout_remaining")

  test("targets_update envelope: exact document, targets ordered by id") {
    val got = snapshotDf.agg(Telemetry.targetsUpdate(collect_list(Telemetry.targetStruct)))
      .first().getString(0)
    val expected =
      """{"type":"targets_update","targets":[""" +
        """{"id":1,"name":"Drone_1","mac":"AA:BB:CC:DD:EE:01",""" +
        """"channels":[1000,1100,1200,1300,1400,1500,1600,2000],""" +
        """"connection_state":true,"last_successful_send":99,""" +
        """"is_channels_overridden":true,"override_timeout_remaining":4500},""" +
        """{"id":2,"name":"Drone_2","mac":"00:00:9E:37:79:B1",""" +
        """"channels":[1500,1500,1500,1500,1500,1500,1500,1500],""" +
        """"connection_state":false,"last_successful_send":123456,""" +
        """"is_channels_overridden":false,"override_timeout_remaining":0}]}"""
    assert(got == expected)
  }

  test("response envelope: exact document") {
    val got = Telemetry.responseJson(
      Seq(("override_channels", "success", "Channels updated for target 1 with 5000ms timeout"))
        .toDF("command", "status", "message")).first().getString(0)
    assert(got ==
      """{"type":"response","command":"override_channels","status":"success",""" +
        """"message":"Channels updated for target 1 with 5000ms timeout"}""")
  }

  test("error envelope: command field omitted when null") {
    val rows = Seq(
      ("JSON parsing error: InvalidInput", null),
      ("Missing 'command' field in JSON", "override_channels"),
    ).toDF("message", "command")
    val got = Telemetry.errorJson(rows).as[String].collect().toSet
    assert(got == Set(
      """{"type":"error","message":"JSON parsing error: InvalidInput"}""",
      """{"type":"error","message":"Missing 'command' field in JSON","command":"override_channels"}"""))
  }

  test("snapshot envelope over the q22 relation produces one document with all targets") {
    val snap = Reference.q22SnapshotDerived(spark, sfDir)
      .select(col("target_id").as("id"), col("name"), col("mac"),
        array_repeat(coalesce(col("effective_ch"), lit(0)), 8).as("channels"),
        coalesce(col("connection_state") === 1, lit(false)).as("connection_state"),
        coalesce(col("last_successful_send_ms"), lit(0L)).as("last_successful_send"),
        (col("is_overridden") === 1).as("is_channels_overridden"),
        coalesce(col("remaining_ms"), lit(0L)).as("override_timeout_remaining"))
    val doc = snap.agg(Telemetry.targetsUpdate(collect_list(Telemetry.targetStruct)))
      .first().getString(0)
    assert(doc.startsWith("""{"type":"targets_update","targets":[{"id":0,"""))
    assert(doc.split("\"id\":").length == 9) // 8 targets
  }
}
