package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

import graft.{Sessions, SparkEntry}
import graft.streaming.{Engine, Sinks, Sources}

/** The JVM half of the benchmark. `run.py` starts it once per run with
  * the workload, the seed and a private run directory; it drives one
  * long-lived session through the workload, times its own calls into
  * each layer, and writes raw measurements to `--out`. Every metric is
  * derived from those files by `run.py`.
  *
  * Batch workloads (`--queries`): `--warmups` untimed passes in list
  * order (part of set-up: JIT, codegen and the banked-index builds),
  * then `--passes` timed passes, each in its own seeded order.
  * A query is three calls: build (`SparkEntry.queries(name)(spark,
  * dir)`), plan (`executedPlan`) and execute (`collect()`).
  *
  * Stream workload (`--shards`): the control bridge's dataflow
  * `Sources.linesFromShards` → `framesFromPackets` /
  * `commandsFromJsonLines` → `Engine.effectiveStates` →
  * `Sinks.telemetryWriter`, fed by the separate generator process
  * through the shard directory. An untimed query of the same dataflow
  * first drains the warm-up records (`--warm-shards`). Marker files in
  * the run directory coordinate the phases. */
object Harness {
  private val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def gcMillis(): Long = gcBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  private def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  private def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val runDir = Paths.get(opts("run-dir"))
    val cpus = Runtime.getRuntime.availableProcessors
    val trace = opts("trace") == "1"

    val sessionStart = System.nanoTime()
    val spark = Sessions.localBuilder(cpus.toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    val sessionS = (System.nanoTime() - sessionStart) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    // the same by-design single-partition window WARN graft.Bench silences
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

    val spans = new Spans(spark.sparkContext, trace)
    val recorder = new Recorder
    if (trace) spark.sparkContext.addSparkListener(recorder)
    val result = mutable.LinkedHashMap[String, Any](
      "jvm_start_ms" -> jvmStart, "session_s" -> sessionS, "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)

    if (opts.contains("queries"))
      batch(spark, opts, spans, result)
    else
      stream(spark, opts, spans, result, runDir)

    result("calib_s") = calibrate(spark, cpus)
    if (trace) {
      org.apache.spark.sql.PerfbenchAccess.drainListeners(spark.sparkContext)
      result("jobs") = recorder.jobsJson
      result("evicted_blocks") = recorder.evictedBlocks.get
      result("disk_blocks") = recorder.diskBlocks.get
    }
    result("spans") = spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start" -> s.start, "end" -> s.end))
    spark.stop()
    writeJson(Paths.get(opts("out")), result.toMap)
  }

  /** JVM heap still in use after a full collection: the memory the
    * long-lived session holds once a fixed amount of work is done. */
  private def heldMb(): Double = {
    // Spark's context cleaner frees the blocks of collected broadcasts
    // and shuffles on its own thread after a collection, so collect
    // until the heap stops shrinking
    def used(): Double = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used()
    var rounds = 1
    var settled = false
    while (!settled && rounds < 6) {
      Thread.sleep(300)
      val now = used()
      settled = now > last - 1.0
      last = math.min(last, now)
      rounds += 1
    }
    last
  }

  /** graft.Bench's frozen calibration anchor, unchanged: sort and
    * aggregate 50M generated rows (no IO, no catalog, no cache). One
    * untimed run compiles the plan; the second is timed. */
  private def calibrate(spark: SparkSession, cpus: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 50000000L, 1L, cpus)
        .selectExpr("id % 9973 AS k", "id AS v")
        .groupBy("k").agg(sum("v").as("sv"))
        .orderBy(col("sv").desc)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    once()
  }

  // ---------------------------------------------------------------- batch

  private def batch(spark: SparkSession, opts: Map[String, String], spans: Spans,
      result: mutable.Map[String, Any]): Unit = {
    val dir = opts("data")
    val rng = new scala.util.Random(opts("seed").toLong)
    val byShort = SparkEntry.queries.keys.map(k => k.takeWhile(_ != '_') -> k).toMap
    val names = opts("queries").split(",").toSeq.map(s =>
      byShort.getOrElse(s, throw new IllegalArgumentException(s"unknown query $s")))
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val lastRows = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]

    def runQuery(pass: Int, name: String): Unit = {
      var build, plan, exec = 0.0
      var rows = -1L
      var error: String = null
      val (_, wall) = spans.timed(s"query:${name.takeWhile(_ != '_')}") {
        try {
          val (df, b) = spans.timed("build")(SparkEntry.queries(name)(spark, dir))
          build = b
          plan = spans.timed("plan")(df.queryExecution.executedPlan)._2
          val (got, x) = spans.timed("execute")(df.collect())
          exec = x
          rows = got.length.toLong
          if (pass >= 0) lastRows(name) = (got, df.schema)
        } catch {
          case e: Throwable =>
            error = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(300)
        }
      }
      samples += Map("pass" -> pass, "query" -> name, "build_ms" -> build,
        "plan_ms" -> plan, "exec_ms" -> exec, "wall_ms" -> wall, "rows" -> rows,
        "error" -> error)
    }

    // set-up: untimed passes warm the JIT and pay the banked-index builds
    // that a long-lived session pays once; recorded as passes -1, -2, ...
    // (-1 first, so it holds the builds). They run in list order, so every
    // seed starts its timed passes from the same compiled code.
    spans.timed("warmup") {
      (1 to opts("warmups").toInt).foreach(w => names.foreach(n => runQuery(-w, n)))
    }
    val gc0 = gcMillis()
    resetHeapPeaks()
    val measureStart = spans.now()
    result("first_timed_ms") = measureStart
    val passes = (0 until opts("passes").toInt).map { p =>
      spans.timed("pass")(rng.shuffle(names).foreach(n => runQuery(p, n)))._2
    }
    result("gc_ms") = gcMillis() - gc0
    result("heap_peak_mb") = heapPeakMb()
    result("pass_ms") = passes
    result("samples") = samples.toSeq
    result("held_mb") = heldMb()

    // what the session still holds after the passes; clearCache() is
    // never called, as in a long-lived user session
    val sc = spark.sparkContext
    result("storage_mb") = sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0
    result("relations_left") = org.apache.spark.sql.PerfbenchAccess.cachedRelations(spark)
    result("rdds_left") = sc.getPersistentRDDs.size

    // outputs of the last timed pass, for the oracle check
    val outDir = Paths.get(opts("run-dir")).resolve("out")
    lastRows.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema)
        .write.mode("overwrite").parquet(outDir.resolve(name).toString)
    }
    result("oracle_sql") = names.distinct.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
  }

  // --------------------------------------------------------------- stream

  private def stream(spark: SparkSession, opts: Map[String, String], spans: Spans,
      result: mutable.Map[String, Any], runDir: Path): Unit = {
    val shardDir = opts("shards")
    val targets = opts("targets").toInt
    val seconds = opts("seconds").toDouble
    awaitFile(runDir.resolve("backlog.done"), 120000)
    val backlog = readText(runDir.resolve("backlog.done")).trim.toLong

    val registry = spark.range(1, targets + 1L).select(
      col("id").cast("int").as("id"),
      concat(lit("Drone_"), col("id").cast("string")).as("name"),
      format_string("B0:81:84:%02X:%02X:%02X", (col("id") / 65536).cast("int"),
        (col("id") / 256 % 256).cast("int"), (col("id") % 256).cast("int")).as("mac"),
      lit(true).as("connection_state"), lit(0L).as("last_successful_send"))

    // records: `F,<target>,<due ms>,<hex payload>` | `C,<due ms>,<json line>`;
    // the due time is each record's event time
    def pipeline(dir: String) = {
      val lines = Sources.linesFromShards(spark, dir,
        maxRecordsPerTrigger = Some(opts("cap").toLong))
      val packets = lines.filter(col("value").startsWith("F,"))
        .select(split(col("value"), ",", 4).as("p"), col("seq"))
        .select(col("p")(1).cast("int").as("targetId"), col("seq"),
          col("p")(2).cast("long").as("tsm"), unhex(col("p")(3)).as("payload"))
      val (frames, _) = Sources.framesFromPackets(packets)
      val commandLines = lines.filter(col("value").startsWith("C,"))
        .select(split(col("value"), ",", 3).as("p"), col("seq"))
        .select(col("p")(2).as("value"), col("seq"), col("p")(1).cast("long").as("due"))
      val commands = Sources.commandsFromJsonLines(commandLines, nowMs = col("due")).commands
      Engine.effectiveStates(frames.union(commands))
    }

    val docs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var admitted = 0L
    @volatile var warmAdmitted = 0L
    val sc = spark.sparkContext
    val emit = (doc: String) => {
      val at = spans.now()
      val batch = sc.getLocalProperty("streaming.sql.batchId")
      docs.add(s"""{"batch":$batch,"emit_ms":$at,"doc":$doc}""")
      ()
    }
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val total = p.sources.headOption.map(s => ShardOffsets.total(s.endOffset))
        if (p.name == "warmup") total.foreach(warmAdmitted = _)
        else {
          progress.add(s"""{"recv_ms":${spans.now()},"p":${p.json}}""")
          total.foreach(admitted = _)
        }
      }
    })

    val deadline = System.currentTimeMillis() + (seconds * 2 * 1000).toLong + 120000
    def check(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      q.exception.foreach(e => throw e)
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException("stream run did not finish before its deadline")
    }

    // set-up: an untimed query of the same dataflow drains the warm-up
    // records from shards of its own, with a checkpoint of its own, so
    // the timed query starts on compiled code and an empty state store
    val warmCount = readText(runDir.resolve("warm.done")).trim.toLong
    val warm = Sinks.telemetryWriter(pipeline(opts("warm-shards")),
      runDir.resolve("checkpoint-warm").toString, registry, _ => ())
      .queryName("warmup").start()
    try {
      spans.timed("warmup") { while (warmAdmitted < warmCount) { check(warm); Thread.sleep(5) } }
    } finally {
      warm.stop()
    }

    val ckpt = runDir.resolve("checkpoint").toString
    val query = Sinks.telemetryWriter(pipeline(shardDir), ckpt, registry, emit)
      .queryName("control").start()
    val gc0 = gcMillis()
    resetHeapPeaks()
    def alive(): Unit = check(query)
    try {
      while (admitted < backlog) { alive(); Thread.sleep(5) }
      Files.write(runDir.resolve("caught_up"), Array.emptyByteArray)
      val done = runDir.resolve("gen.done")
      while (!Files.exists(done)) { alive(); Thread.sleep(20) }
      val total = readText(done).trim.toLong
      while (admitted < total) { alive(); Thread.sleep(5) }
      // the batch that admitted the last record has committed, and its
      // document was emitted inside that batch; state is still loaded
      result("held_mb") = heldMb()
    } finally {
      query.stop()
    }
    result("stream_end_ms") = spans.now()
    result("gc_ms") = gcMillis() - gc0
    result("heap_peak_mb") = heapPeakMb()
    result("backlog") = backlog
    Files.write(runDir.resolve("progress.jsonl"), progress.asScala.mkString("\n").getBytes(UTF_8))
    Files.write(runDir.resolve("docs.jsonl"), docs.asScala.mkString("\n").getBytes(UTF_8))
  }

  private def awaitFile(p: Path, timeoutMs: Long): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!Files.exists(p)) {
      if (System.currentTimeMillis() > end) throw new IllegalStateException(s"no $p")
      Thread.sleep(10)
    }
  }

  private def readText(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  private def writeJson(p: Path, v: Map[String, Any]): Unit = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    Files.write(p, org.json4s.jackson.Serialization.write(v).getBytes(UTF_8))
  }
}

/** Reads the shard-stream source's offset JSON, `{shard: {seq, pos}}`. */
object ShardOffsets {
  def total(json: String): Long =
    if (json == null) 0L
    else {
      implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
      org.json4s.jackson.JsonMethods.parse(json)
        .extract[Map[String, Map[String, Long]]].values.map(_("seq")).sum
    }
}
