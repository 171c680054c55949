package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDirArg) = args
    // default to every core (the driver only passes sfDir/outDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    // r22: the shared graft.Sessions builder (same tmpfs scratch and
    // join/AQE defaults as Bench) — a correctness run exercises the
    // exact session the bench times
    val spark = Sessions.localBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the CC queries' checkpoint-release WARN suppression is scoped
    // inside Residents.checkpoint (see Bench.scala)
    // q59's by-design bounded single-partition window (see Bench.scala)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // SPARK_GRAFT_ONLY=q81,q100 restricts the dump (dev gate aid —
    // the driver passes no env, so its full-run contract is unchanged)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // A restricted dump goes to its OWN directory (ADVICE r14): with
    // SPARK_GRAFT_ONLY set, writing the subset oracle_sql.json into a
    // dir still holding a previous FULL run's parquet would make a
    // later comparison against that dir silently check the subset.
    val outDir = if (only.isEmpty) outDirArg
      else outDirArg + "_only_" + only.get.toSeq.sorted.mkString("_")
        .replaceAll("[^A-Za-z0-9_]", "_")
    if (only.nonEmpty && outDir != outDirArg)
      System.err.println(s"[verify] SPARK_GRAFT_ONLY set - writing to $outDir")
    new java.io.File(outDir).mkdirs()
    def selected(name: String): Boolean =
      only.forall(o => o.exists(name.startsWith))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
