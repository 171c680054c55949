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
  *  - `spark.sql.codegen.cache.maxEntries` → 1000 (Spark's default 100;
  *    see [[codegenCacheConf]]): the compiled-class cache holds the
  *    session's whole working set, so a warm call compiles nothing.
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

  /** Entries of Spark's generated-class cache (`CodeGenerator`), an LRU
    * keyed by (class loader, generated source).
    *
    * Why: the LLM-data operators of one long-lived session overflow
    * Spark's 100. In local mode a whole-stage class is compiled once
    * under the driver's loader and once under the executor's. At 100,
    * every warm pass of q24, q97, q85 and q118 (sf0.1, `local[4]`)
    * recompiled about 120 classes: 1.9–2.2 s of Janino, 1.3–1.5 s of
    * it q97's, on the driver's whole-stage check and inside tasks. At
    * 1000, q85 and q118 compile nothing from their second call, and q24
    * and q97 only AQE stage-id variants of classes they already
    * compiled (`GeneratedIteratorForCodegenStage<N>`, N in stage
    * materialization order) for their first few calls. An entry holds about
    * 20 KB of heap (its source and loader) and 7 KB of metaspace; the
    * benchmark's held heap after those four queries rose 2.7 MB.
    *
    * Caveat: a static conf, read once per JVM when `CodeGenerator` is
    * first used. A session built after other Spark SQL work in the same
    * JVM keeps whatever that work resolved (usually 100), and so does a
    * session handed to `SparkEntry.entry` by a caller.
    *
    * The shared test session applies the same map. */
  val codegenCacheMaxEntries: Int = 1000
  val codegenCacheConf: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> codegenCacheMaxEntries.toString)

  /** The `spark.sql.*` settings of [[localBuilder]], one partition per
    * core. The session time zone pins timestamps to UTC whatever the
    * host's zone (Spark's default is the JVM's zone). */
  def sqlConf(cpus: String): Map[String, String] = codegenCacheConf ++ Map(
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
