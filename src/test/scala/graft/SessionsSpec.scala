package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The session rules: one builder, and no setting that restates a
  * Spark default. No session is built here — `getOrCreate` would
  * reconfigure the shared [[SparkSpec]] session for every later suite. */
class SessionsSpec extends AnyFunSuite {

  test("only Sessions builds a SparkSession under src/main") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val builders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          new String(Files.readAllBytes(p), UTF_8).contains("SparkSession.builder()"))
        .map(p => root.relativize(p).toString).toList.sorted
      finally walk.close()
    assert(builders == List("scala/graft/Sessions.scala"))
  }

  test("every spark.sql setting of the local session changes a Spark default") {
    val applied = Sessions.sqlConf("4")
    assert(applied.keys.forall(_.startsWith("spark.sql.")))
    // Spark's default session zone is the JVM's, so it varies by host;
    // the UTC pin is a change on every host that is not on UTC
    val hostDerived = Set(SQLConf.SESSION_LOCAL_TIMEZONE.key)
    val defaults = new SQLConf
    val noOps = applied.collect {
      case (k, v) if !hostDerived(k) && defaults.getConfString(k) == v => k
    }
    assert(noOps.isEmpty, s"settings equal to Spark's default: $noOps")
    // the join and coalescing behaviour the session resolves to
    val resolved = new SQLConf
    applied.foreach { case (k, v) => resolved.setConfString(k, v) }
    assert(resolved.preferSortMergeJoin)
    assert(resolved.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
    assert(resolved.getConf(
      SQLConf.ADAPTIVE_MAX_SHUFFLE_HASH_JOIN_LOCAL_MAP_THRESHOLD) == 64L << 20)
  }
}
