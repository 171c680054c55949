package graft
import org.apache.spark.sql.SparkSession

/** The ONE local-mode session builder behind Bench, Verify and Profile
  * (r22: the three mains had drifted — Profile measured a session with
  * different join/scratch defaults than the one the bench times).
  *
  * Knobs, all env-overridable so an A/B never needs a recompile, with
  * defaults justified in OPTIMIZATION_r22.md:
  *
  *  - `spark.local.dir` → tmpfs when /dev/shm exists (r21, guide §2.1:
  *    at bench scale shuffle-file METADATA dominates the bytes;
  *    `SPARK_GRAFT_LOCAL_DIR` overrides; cluster deploys set their own
  *    submit conf — this default only fires for the local-mode
  *    driver contract).
  *  - `spark.sql.join.preferSortMergeJoin` → back to Spark's default
  *    TRUE (r22, VERDICT r21 §wrong-2: the r21 session-wide `false`
  *    applied shuffled-hash builds to every join including the
  *    candidate-pair self-joins whose build side grows with the
  *    corpus — an OOM posture at 100 TB and the round's GC bill at
  *    local[32]). `SPARK_GRAFT_PREFER_SMJ=false` restores the r21
  *    behavior for A/Bs.
  *  - `spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold` →
  *    64 MB (r22, guide §3.1): AQE rewrites a sort-merge join to
  *    shuffled-hash AT RUNTIME only when every MEASURED post-shuffle
  *    partition of the build side fits under the threshold — exactly
  *    the "bounded build side" scoping VERDICT r21 asked for, decided
  *    from real sizes instead of a session-wide estimate-blind
  *    default. 64 MB equals `advisoryPartitionSizeInBytes` (the
  *    conversion requires threshold ≥ advisory) and bounds the
  *    per-task build map at any corpus size.
  *  - `spark.sql.adaptive.coalescePartitions.parallelismFirst` →
  *    Spark's default TRUE, kept deliberately after a measured A/B
  *    (r22): bytes-first coalescing (false, the tuning doc's cluster
  *    posture) folded the CPU-heavy integer-scoring exchanges of the
  *    BM25/eval family into ONE 64 MB-advisory partition — profile
  *    evidence: a 1-task 2.6 s job inside q135's sparse leg — and the
  *    family's normed totals were 50.2 (false) vs 35.7 (true) over
  *    q133/q135/q136/q139/q140. The default already coalesces
  *    KB-sized exchanges to a single 1 MB-floor partition, so the
  *    fixed-cost win "false" promises is already in effect; it only
  *    removes parallelism where bytes understate CPU.
  *    `SPARK_GRAFT_PARALLELISM_FIRST=false` selects the bytes-first
  *    posture for cluster-sizing experiments.
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

  def localBuilder(cpus: String): SparkSession.Builder = {
    val localDir = sys.env.get("SPARK_GRAFT_LOCAL_DIR").filter(_.nonEmpty)
      .orElse(Option("/dev/shm").filter(p => new java.io.File(p).isDirectory)
        .map(_ + "/graft-local"))
    val b0 = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(localFileSystemConf)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // wide plans (q61's composed pipeline) trip the plan-string
      // truncation WARN mid-run otherwise — one more line in the
      // captured tail that breaks the driver's one-line JSON parse
      .config("spark.sql.debug.maxToStringFields", "2000")
      .config("spark.sql.join.preferSortMergeJoin",
        sys.env.getOrElse("SPARK_GRAFT_PREFER_SMJ", "true"))
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_LOCAL_THRESHOLD", "64m"))
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "true"))
    localDir.fold(b0)(d => b0.config("spark.local.dir", d))
  }
}
