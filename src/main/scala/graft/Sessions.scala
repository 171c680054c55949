package graft
import org.apache.spark.sql.SparkSession

/** The ONE local-mode session builder behind Bench, Verify and the
  * benchmark harness (`perfbench/`), so a correctness run and a
  * measurement exercise the exact session the bench times. It is also
  * the only place under `src/main` that builds a session (SessionsSpec).
  *
  * It applies only settings that change something; every `spark.sql.*`
  * value in [[sqlConf]] differs from Spark's default (SessionsSpec).
  * To A/B a setting, edit its constant in a scratch clone.
  *
  *  - `spark.local.dir` → tmpfs when /dev/shm exists (r21, guide §2.1:
  *    at bench scale shuffle-file METADATA dominates the bytes;
  *    `SPARK_GRAFT_LOCAL_DIR` overrides; cluster deploys set their own
  *    submit conf — this default only fires for the local-mode
  *    driver contract).
  *  - `spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold` →
  *    64 MB (r22, guide §3.1; Spark's default 0 never converts): AQE
  *    rewrites a sort-merge join to shuffled-hash AT RUNTIME only when
  *    every MEASURED post-shuffle partition of the build side fits
  *    under the threshold — the "bounded build side" scoping VERDICT
  *    r21 asked for, decided from real sizes instead of a session-wide
  *    estimate-blind default. 64 MB equals
  *    `advisoryPartitionSizeInBytes` (the conversion requires
  *    threshold ≥ advisory) and bounds the per-task build map at any
  *    corpus size.
  *  - Left at Spark's defaults on purpose (r22 A/Bs):
  *    `preferSortMergeJoin` TRUE — `false` session-wide made every join
  *    a shuffled-hash build, including the candidate-pair self-joins
  *    whose build side grows with the corpus; and
  *    `coalescePartitions.parallelismFirst` TRUE — bytes-first
  *    coalescing folded the CPU-heavy BM25/eval exchanges into one
  *    partition (normed 50.2 vs 35.7 over q133/q135/q136/q139/q140).
  *  - Hadoop's `file:` scheme → [[graft.io.SpawnFreeLocalFileSystem]]
  *    and [[graft.io.SpawnFreeLocalFs]], for both Hadoop APIs (see
  *    [[localFileSystemConf]]).
  */
object Sessions {
  /** The `file:` file system for Hadoop's `FileSystem` and `FileContext`
    * APIs: the stock checksummed local file system over a raw one that
    * starts no child processes ([[graft.io.SpawnFreeRawLocalFileSystem]]).
    *
    * Why: without the native `libhadoop`, Hadoop's raw local file
    * system runs a `chmod` process for every file it creates and a
    * `readlink` process for every `FileContext` rename. In one
    * `control_stream` run of the benchmark (`perfbench/`) on a 4-core
    * VM, `tools/spawn_watch.py` saw the JVM start 4 828 child processes
    * (2 767 `readlink`, 1 307 `chmod`, the rest caught before their
    * exec), all from streaming checkpoints: offset and commit logs,
    * state-store deltas, their `.crc` files and checkpoint checksum
    * files. With this setting it saw 6, none per micro-batch (`rm` of
    * temp directories, and one `bash` and one `getconf` probe at
    * start-up). Permission bits, `.crc` files and atomic renames are
    * unchanged.
    *
    * The shared test session applies the same map, so tests and
    * production run on one file system. */
  val localFileSystemConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.SpawnFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.io.SpawnFreeLocalFs].getName)

  /** The `spark.sql.*` settings of [[localBuilder]], one partition per
    * core. The session time zone pins timestamps to UTC whatever the
    * host's zone (Spark's default is the JVM's zone). */
  def sqlConf(cpus: String): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    // wide plans (q61's composed pipeline) trip the plan-string
    // truncation WARN mid-run otherwise — one more line in the
    // captured tail that breaks the driver's one-line JSON parse
    "spark.sql.debug.maxToStringFields" -> "2000",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m")

  def localBuilder(cpus: String): SparkSession.Builder = {
    val localDir = sys.env.get("SPARK_GRAFT_LOCAL_DIR").filter(_.nonEmpty)
      .orElse(Option("/dev/shm").filter(p => new java.io.File(p).isDirectory)
        .map(_ + "/graft-local"))
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(localFileSystemConf)
      .config(sqlConf(cpus))
      .config("spark.ui.enabled", "false")
    localDir.fold(b0)(d => b0.config("spark.local.dir", d))
  }
}
