package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** P4 exact-document parity: the envelopes match hand-built reference
  * documents (`TargetManager.h:145-198`, `src/transmitter/main.cpp:
  * 112-140,282-296`) byte for byte. */
class TelemetrySpec extends SparkSpec {
  import spark.implicits._

  private val targetColumns = Seq("id", "name", "mac", "channels", "connection_state",
    "last_successful_send", "is_channels_overridden", "override_timeout_remaining")

  private val snapshotDf = Seq(
    (2, "Drone_2", "00:00:9E:37:79:B1", Seq(1500, 1500, 1500, 1500, 1500, 1500, 1500, 1500),
      false, 123456L, false, 0L),
    (1, "Drone_1", "AA:BB:CC:DD:EE:01", Seq(1000, 1100, 1200, 1300, 1400, 1500, 1600, 2000),
      true, 99L, true, 4500L),
  ).toDF(targetColumns: _*)

  /** The renderer's entries for rows carrying [[targetColumns]]. */
  private def targets(df: DataFrame): Seq[Telemetry.Target] =
    df.select(targetColumns.map(col): _*)
      .as[(Int, Option[String], Option[String], Seq[Int], Option[Boolean], Option[Long],
        Boolean, Long)]
      .collect().toSeq.map(Telemetry.Target.tupled)

  /** The same document as Spark's `to_json` builds it over the same rows. */
  private def toJsonDocument(df: DataFrame): String =
    df.agg(to_json(struct(lit("targets_update").as("type"),
      array_sort(collect_list(struct(targetColumns.map(col): _*))).as("targets"))))
      .first().getString(0)

  test("targets_update envelope: exact document, targets ordered by id") {
    val got = Telemetry.targetsUpdate(targets(snapshotDf))
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
    val doc = Telemetry.targetsUpdate(targets(snap))
    assert(doc.startsWith("""{"type":"targets_update","targets":[{"id":0,"""))
    assert(doc.split("\"id\":").length == 9) // 8 targets
  }

  test("targets_update renderer equals to_json over the same rows") {
    val rows = Seq[(Int, String, String, Seq[Int], java.lang.Boolean, java.lang.Long, Boolean, Long)](
      (3, null, null, Seq(1000, 2000), null, null, false, 0L),
      (1, "Drone \"1\" \\ back\u0001slash\ttab\nline", "AA:BB:CC:DD:EE:01",
        Seq.fill(8)(1500), true, 99L, true, 4500L),
      (2, "Drohne_ü_é_中文_\uD83D\uDE81", "00:00:9E:37:79:B1", Seq.fill(8)(1000),
        false, Long.MaxValue, false, Long.MinValue),
    ).toDF(targetColumns: _*)
    val got = Telemetry.targetsUpdate(targets(rows))
    assert(got == toJsonDocument(rows))
    // null name/mac/connection_state/last_successful_send are omitted
    assert(got.contains("""{"id":3,"channels":[1000,2000],"is_channels_overridden":false,"""))
    // the escapes are JSON's, and non-ASCII text passes through unescaped
    assert(got.contains("Drone \\\"1\\\" \\\\ back\\u0001slash\\ttab\\nline"))
    assert(got.contains("Drohne_ü_é_中文_\uD83D\uDE81"))
    // field order is the reference's
    val second = got.split("""\{"id":2,""")(1).takeWhile(_ != '}')
    val keys = """"([a-z_]+)":""".r.findAllMatchIn(second).map(_.group(1)).toSeq
    assert(keys == targetColumns.tail)
    // no targets: an empty array, not an omitted field
    val empty = rows.where(lit(false))
    assert(Telemetry.targetsUpdate(Nil) == toJsonDocument(empty))
    assert(Telemetry.targetsUpdate(Nil) == """{"type":"targets_update","targets":[]}""")
  }
}
