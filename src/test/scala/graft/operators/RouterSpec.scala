package graft.operators

import graft.SparkSpec
import graft.streaming.{Engine, Sources}
import org.apache.spark.sql.functions._

/** The command router's classification, line by line. */
class RouterSpec extends SparkSpec {
  import spark.implicits._

  /** line → (rtype, status, message) from the batch router */
  private def routed(lines: String*): Map[String, (String, String, String)] =
    Router.classify(lines.toDF("line")).collect()
      .map(r => r.getAs[String]("line") -> (r.getAs[String]("rtype"),
        r.getAs[String]("status"), r.getAs[String]("message"))).toMap

  private def classified(lines: String*): Map[String, (String, String)] =
    routed(lines: _*).map { case (l, (_, status, message)) => l -> (status, message) }

  test("router: a null channel value is reported as a non-integer") {
    val withNull =
      """{"command":"override_channels","target_id":3,"channels":[1500,null],"duration":5000}"""
    val valid =
      """{"command":"override_channels","target_id":3,"channels":[1500,-1],"duration":5000}"""
    val got = classified(withNull, valid)
    assert(got(withNull) == ("error", "Channel values must be integers"))
    assert(got(valid) == ("success", "Channels updated for target 3 with 5000ms timeout"))
  }

  test("router: numbers that do not fit their field get their cascade response, never an exception") {
    val channel =
      """{"command":"override_channels","target_id":3,"channels":[99999999999],"duration":5000}"""
    val duration =
      """{"command":"override_channels","target_id":3,"channels":[1500],"duration":99999999999999999999}"""
    val target =
      """{"command":"override_channels","target_id":99999999999,"channels":[1500],"duration":5000}"""
    val got = classified(channel, duration, target)
    assert(got(channel) == ("error", "Channel values must be integers"))
    assert(got(duration) == ("error", "Duration must be at least 1ms"))
    assert(got(target) == ("error", "Target not found with ID: 99999999999"))
  }

  test("parity: the batch router and the streaming face answer every line alike") {
    def cmd(target: String, channels: String, duration: String) =
      s"""{"command": "override_channels", "target_id": $target, "channels": $channels, "duration": $duration}"""
    val unregistered = cmd("99", "[1500]", "1000")
    val lines = Seq(
      "  ",
      """{"command": "override_channels", "target_id": """,
      """{"target_id": 3}""",
      """{"command": "set_speed"}""",
      """{"command": "override_channels"}""",
      """{"command": "override_channels", "target_id": 2}""",
      unregistered,
      cmd("\"abc\"", "[1500]", "1000"),
      cmd("99999999999", "[1500]", "1000"),
      cmd("1", "[]", "1000"),
      cmd("1", "[1500,1500,1500,1500,1500,1500,1500,1500,1500]", "1000"),
      cmd("1", "[1500]", "0"),
      cmd("1", "[1500]", "\"abc\""),
      cmd("1", "[1500]", "99999999999999999999"),
      cmd("1", "[1500, \"x\"]", "1000"),
      cmd("1", "[1500.5]", "1000"),
      cmd("1", "[1500, null]", "1000"),
      cmd("1", "[99999999999]", "1000"),
      cmd("1", "[2500]", "1000"),
      cmd("1", "[-2147483648]", "1000"),
      cmd("\"3\"", "[1500, -1]", "1000"),
      cmd("8", "[1000, 2000, -1]", "5000"))
    val indexed = lines.zipWithIndex.map { case (l, i) => (i.toLong, l) }
    val lineAt = indexed.toMap

    val batch = routed(lines: _*)
    val parsed = Sources.commandsFromJsonLines(indexed.toDF("seq", "value"), nowMs = lit(1000L))
    val preDispatch = parsed.responses.collect()
      .map(r => r.getAs[String]("value") ->
        (r.getAs[String]("rtype"), r.getAs[String]("status"), r.getAs[String]("message")))
    val engine = Engine.effectiveStates(parsed.commands).collect()
      .filter(_.kind == "response")
      .map(o => lineAt(o.seq) -> ("response", o.status, o.message))
    val stream = (preDispatch ++ engine).toMap
    assert(preDispatch.length + engine.length == stream.size, "one response per line")

    // the empty line is dropped by both faces
    assert(!batch.contains("  ") && !stream.contains("  "))
    // the one exception: the stream has no registry
    assert(batch(unregistered) == ("response", "error", "Target not found with ID: 99"))
    assert(stream(unregistered) == ("response", "success", "Channels updated for target 99 with 1000ms timeout"))
    val compared = lines.filterNot(l => l == unregistered || l.trim.isEmpty)
    compared.foreach(l => assert(stream.get(l) == batch.get(l), l))
    assert(batch.size == compared.size + 1)
    // every response the reference can word is in the table
    Seq("JSON parsing error", "Missing 'command'", "Unknown command", "Missing required",
      "Target not found", "Invalid channel count", "Duration must", "Channel values must be integers",
      "Channel values must be between", "Channels updated").foreach { head =>
      assert(batch.values.exists(_._3.startsWith(head)), head)
    }
  }
}
