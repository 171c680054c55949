package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate — one JVM-wide
  * session, never stopped so suites can run in any order). It runs on
  * the same `file:` file system as production sessions
  * (`Sessions.localFileSystemConf`), so every checkpoint, restart and
  * replay spec exercises it, and with the same codegen cache size
  * (`Sessions.codegenCacheConf`), so the compile-count specs see the
  * cache production sees. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Sessions.localFileSystemConf)
      .config(Sessions.codegenCacheConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Smallest driver-generated scale factor — CI-speed fixtures. */
  val sfDir = "/root/testdata/sf0.001"

  /** Wait until a streaming checkpoint's commit log has caught up with
    * its offsets log — i.e. no batch is in flight. foreachBatch runs
    * BEFORE the commit is durably written, so a restart test that
    * observes the sink and immediately stops can kill the query
    * mid-commit; the recovered incarnation then REPLAYS the batch
    * (standard at-least-once), and the test's exactly-once assertion
    * flakes. Quiescing on the commit log removes the race without
    * weakening what the test proves about recovered state. */
  def awaitCheckpointQuiesced(ckpt: String, timeoutMs: Long = 60000): Unit = {
    import scala.jdk.CollectionConverters._
    def maxBatch(dir: String): Option[Long] = {
      val p = java.nio.file.Paths.get(ckpt, dir)
      if (!java.nio.file.Files.exists(p)) None
      else {
        val s = java.nio.file.Files.list(p)
        try s.iterator().asScala
          .map(_.getFileName.toString)
          .filter(n => n.nonEmpty && n.forall(_.isDigit))
          .map(_.toLong).maxOption
        finally s.close()
      }
    }
    def quiet = maxBatch("offsets") match {
      case None => false // nothing processed yet — not quiesced
      case Some(o) => maxBatch("commits").contains(o)
    }
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!quiet && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(quiet, s"checkpoint $ckpt never quiesced " +
      s"(offsets ${maxBatch("offsets")}, commits ${maxBatch("commits")})")
  }
}
