package graft.operators

import graft.SparkSpec

/** The command router's classification, line by line. */
class RouterSpec extends SparkSpec {
  import spark.implicits._

  test("router: a null channel value is reported as a non-integer") {
    val withNull =
      """{"command":"override_channels","target_id":3,"channels":[1500,null],"duration":5000}"""
    val valid =
      """{"command":"override_channels","target_id":3,"channels":[1500,-1],"duration":5000}"""
    val got = Router.classify(Seq(withNull, valid).toDF("line")).collect()
      .map(r => r.getAs[String]("line") ->
        (r.getAs[String]("status"), r.getAs[String]("message"))).toMap
    assert(got(withNull) == ("error", "Channel values must be integers"))
    assert(got(valid) == ("success", "Channels updated for target 3 with 5000ms timeout"))
  }
}
