package graft.streaming

import graft.SparkSpec
import graft.operators.{Channels, Reference}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

object EngineSpec {
  /** Recorder for the checkpoint-recovery test — a companion-object
    * queue so executor-side foreachBatch closures in local mode append
    * to the same JVM-wide instance. */
  val restartSink = new java.util.concurrent.ConcurrentLinkedQueue[EngineOutput]()
}

/** ST1 streaming semantics: override → TTL expiry → revert, validation
  * responses, and batch/streaming consistency against the q17 as-of twin
  * (SURVEY.md §7.4.1). */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  private def frame(id: Int, seq: Long, tsm: Long, ch: Int) =
    EngineEvent(id, "frame", seq, tsm, Seq.fill(Engine.ChannelCount)(ch), 0L)
  private def command(id: Int, seq: Long, tsm: Long, ovr: Seq[Int], dur: Long) =
    EngineEvent(id, "command", seq, tsm, ovr, dur)

  test("step: valid override merges onto current frame and arms deadline") {
    val (s1, _) = Engine.step(1, Engine.initialState, frame(1, 1, 1000L, 1500))
    val (s2, out) = Engine.step(1, s1, command(1, 2, 2000L, Seq(1800, -1), 5000L))
    assert(s2.isOverridden && s2.deadlineMs == 7000L)
    assert(s2.ovr == Seq(1800, 1500, 1500, 1500, 1500, 1500, 1500, 1500))
    val resp = out.find(_.kind == "response").get
    assert(resp.status == "success")
    assert(resp.message == "Channels updated for target 1 with 5000ms timeout")
  }

  test("step: event past the deadline reverts to the live frame") {
    val (s1, _) = Engine.step(1, Engine.initialState, frame(1, 1, 1000L, 1500))
    val (s2, _) = Engine.step(1, s1, command(1, 2, 2000L, Seq(1800), 5000L))
    val (s3, out) = Engine.step(1, s2, frame(1, 3, 8000L, 1600))
    assert(!s3.isOverridden)
    assert(out.head.effective == Seq.fill(8)(1600))
  }

  test("step: invalid commands leave state untouched, verbatim messages") {
    val s = Engine.initialState.copy(live = Seq.fill(8)(1500))
    val cases = Seq(
      command(1, 1, 1000L, Nil, 5000L) ->
        "Invalid channel count. Expected 1-8, got 0",
      command(1, 2, 1000L, Seq.fill(9)(1500), 5000L) ->
        "Invalid channel count. Expected 1-8, got 9",
      command(1, 3, 1000L, Seq(1500), 0L) ->
        "Duration must be at least 1ms",
      command(1, 4, 1000L, Seq(999), 5000L) ->
        "Channel values must be between 1000-2000 or -1 to skip",
      command(1, 5, 1000L, Seq(2001), 5000L) ->
        "Channel values must be between 1000-2000 or -1 to skip")
    cases.foreach { case (cmd, expected) =>
      val (s1, out) = Engine.step(1, s, cmd)
      assert(s1 == s, s"state must not change for: $expected")
      val resp = out.find(_.kind == "response").get
      assert(resp.status == "error" && resp.message == expected)
    }
  }

  test("step: re-override merges onto the active override") {
    val (s1, _) = Engine.step(1, Engine.initialState, frame(1, 1, 1000L, 1500))
    val (s2, _) = Engine.step(1, s1, command(1, 2, 2000L, Seq(1800, 1900), 5000L))
    val (s3, _) = Engine.step(1, s2, command(1, 3, 3000L, Seq(-1, 1200), 5000L))
    assert(s3.ovr.take(2) == Seq(1800, 1200)) // ch0 kept from first override
    assert(s3.deadlineMs == 8000L)
  }

  test("stored state: TargetState -> stored form -> TargetState is the identity") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val channel = Gen.oneOf(Gen.const(-1), Gen.const(0), Gen.choose(1000, 2000),
      Gen.choose(65536, Int.MaxValue), Gen.const(Int.MinValue), Gen.const(Int.MaxValue),
      Gen.choose(Int.MinValue, Int.MaxValue))
    val channels = Gen.choose(0, 12).flatMap(Gen.listOfN(_, channel))
    val state = for {
      live <- channels; ovr <- channels; on <- Gen.oneOf(true, false)
      deadline <- Gen.long; last <- Gen.long; wall <- Gen.long
    } yield TargetState(live, ovr, on, deadline, last, wall)
    val edges = Seq(
      Engine.initialState,
      TargetState(Seq.fill(8)(-1), Seq.fill(8)(-1), isOverridden = true, -1L, -1L, -1L),
      TargetState(Seq(Int.MinValue, Int.MaxValue, 65535, 65536, -1, 0, 1000, 2000),
        Seq(70000, -1, Int.MaxValue, Int.MinValue, 1500, -2, 1, 131071),
        isOverridden = true, Long.MaxValue, Long.MinValue, 0L))
    val params = SCTest.Parameters.default.withMinSuccessfulTests(500)
    assert(SCTest.check(params, Prop.forAll(state)(s => Engine.restored(Engine.stored(s)) == s)).passed)
    edges.foreach(s => assert(Engine.restored(Engine.stored(s)) == s))
    // and through the state store's own row encoding: BINARY + scalars
    val viaRows = edges.map(Engine.stored).toDS().collect().map(Engine.restored)
    assert(viaRows.toSeq == edges)
    assert(Engine.stored(Engine.initialState).live.length == 4 * Engine.ChannelCount)
  }

  /** `processAllAvailable` never returns under ProcessingTimeTimeout
    * (the stateful operator keeps requesting no-data micro-batches to
    * check wall-clock timeouts), so streaming assertions poll the
    * memory sink until the expected rows land. */
  private def awaitRows(table: String, kind: String, n: Long): Unit = {
    val deadline = System.currentTimeMillis() + 60000
    while (spark.table(table).filter(col("kind") === kind).count() < n &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(spark.table(table).filter(col("kind") === kind).count() >= n,
      s"timed out waiting for $n '$kind' rows in $table")
  }

  test("streaming: engine runs on the RocksDB state store (scale posture for >heap state)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[EngineEvent]
    val query = StateStores.withRocksDB(spark) {
      Engine.effectiveStates(input.toDS())
        .writeStream.format("memory").queryName("engine_rocks")
        .outputMode("append").start()
    }
    try {
      input.addData(frame(1, 1, 1000L, 1500))
      awaitRows("engine_rocks", "snapshot", 1)
      input.addData(command(1, 2, 2000L, Seq(1800), 5000L))
      awaitRows("engine_rocks", "snapshot", 2)
      val snaps = spark.table("engine_rocks")
        .filter(col("kind") === "snapshot")
        .orderBy(col("tsm"), col("seq"))
        .as[EngineOutput].collect()
      assert(snaps.map(_.effective.head).toSeq == Seq(1500, 1800))
      // the query genuinely ran on RocksDB: provider-specific metrics
      // appear in the state operator's progress
      val metrics = Option(query.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq)
        .flatMap(_.customMetrics.keySet().asScala)
      assert(metrics.exists(_.toLowerCase.contains("rocksdb")),
        s"expected rocksdb state metrics, got: ${metrics.take(10)}")
    } finally query.stop()
  }

  test("streaming: override applies then reverts across micro-batches (MemoryStream)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[EngineEvent]
    val query = Engine.effectiveStates(input.toDS())
      .writeStream.format("memory").queryName("engine_mem")
      .outputMode("append").start()
    try {
      input.addData(frame(1, 1, 1000L, 1500))
      awaitRows("engine_mem", "snapshot", 1)
      input.addData(command(1, 2, 2000L, Seq(1800), 5000L))
      awaitRows("engine_mem", "snapshot", 2)
      input.addData(frame(1, 3, 8000L, 1600)) // past deadline 7000
      awaitRows("engine_mem", "snapshot", 3)
      val snaps = spark.table("engine_mem")
        .filter(col("kind") === "snapshot")
        .orderBy(col("tsm"), col("seq"))
        .as[EngineOutput].collect()
      assert(snaps.map(_.effective.head).toSeq == Seq(1500, 1800, 1600))
      assert(snaps.map(_.isOverridden).toSeq == Seq(false, true, false))
      val resp = spark.table("engine_mem").filter(col("kind") === "response")
        .as[EngineOutput].collect()
      assert(resp.length == 1 && resp.head.status == "success")
    } finally query.stop()
  }

  test("streaming: quiet stream — processing-time timeout reverts the override") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[EngineEvent]
    val query = Engine.effectiveStates(input.toDS())
      .writeStream.format("memory").queryName("engine_ttl")
      .outputMode("append").start()
    try {
      // Deadline 1s past the command's event time; with no further
      // events the wall-clock timeout must fire and emit the revert.
      input.addData(frame(1, 1, 1000L, 1500))
      input.addData(command(1, 2, 2000L, Seq(1800), 1000L))
      awaitRows("engine_ttl", "snapshot", 2)
      awaitRows("engine_ttl", "timeout", 1)
      val timeoutRow = spark.table("engine_ttl")
        .filter(col("kind") === "timeout").as[EngineOutput].head()
      assert(!timeoutRow.isOverridden)
      assert(timeoutRow.effective == Seq.fill(8)(1500))
    } finally query.stop()
  }

  test("streaming: hold mode re-emits the held frame on a quiet stream (T2 sample-and-hold)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[EngineEvent]
    val query = Engine.effectiveStates(input.toDS(), holdEmitMs = Some(200L))
      .writeStream.format("memory").queryName("engine_hold")
      .outputMode("append").start()
    try {
      input.addData(frame(1, 1, 1000L, 1500))
      // one input frame; the hold timer must keep re-emitting it
      awaitRows("engine_hold", "timeout", 3)
      val held = spark.table("engine_hold")
        .filter(col("kind") === "timeout").as[EngineOutput].collect()
      assert(held.forall(_.effective == Seq.fill(8)(1500)))
      assert(held.forall(!_.isOverridden))
    } finally query.stop()
  }

  test("streaming: hold mode still expires the TTL on wall clock") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[EngineEvent]
    val query = Engine.effectiveStates(input.toDS(), holdEmitMs = Some(200L))
      .writeStream.format("memory").queryName("engine_hold_ttl")
      .outputMode("append").start()
    try {
      input.addData(frame(1, 1, 1000L, 1500))
      input.addData(command(1, 2, 2000L, Seq(1800), 1500L)) // TTL 1.5s wall
      // the hold ticks at 200ms; after ~1.5s of wall quiet the override
      // must revert and subsequent holds emit the live frame again
      awaitRows("engine_hold_ttl", "timeout", 12)
      val held = spark.table("engine_hold_ttl")
        .filter(col("kind") === "timeout")
        .orderBy(col("tsm")).as[EngineOutput].collect()
      assert(held.exists(_.isOverridden), "early holds re-emit the override")
      val last = spark.table("engine_hold_ttl")
        .filter(col("kind") === "timeout")
        .as[EngineOutput].collect().last
      assert(!last.isOverridden, "TTL must expire on wall clock under hold mode")
      assert(last.effective == Seq.fill(8)(1500))
    } finally query.stop()
  }

  test("streaming: steady micro-batches compile no new code") {
    // The state codec must be compiled once per query, not once per
    // micro-batch. Progress is read from `lastProgress` only, so no
    // query of the test itself compiles anything inside the window.
    import org.apache.spark.metrics.source.CodegenMetrics
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[EngineEvent]
    val query = Engine.effectiveStates(input.toDS())
      .writeStream.format("memory").queryName("engine_codegen")
      .outputMode("append").start()
    def lastBatch: Long = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
    def awaitBatch(b: Long): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (lastBatch < b && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(lastBatch >= b, s"timed out waiting for batch $b, last $lastBatch")
    }
    try {
      // hour-long overrides: every target holds a pending timeout, so
      // each trigger runs a no-data batch through the state operator
      input.addData((1 to 4).flatMap(id => Seq(frame(id, id, 1000L, 1500),
        command(id, 10L + id, 2000L, Seq(1800), 3600000L))): _*)
      awaitBatch(3) // the data batch and the first no-data batches warm up
      val from = lastBatch
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      awaitBatch(from + 10)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      assert(compiles == 0, s"$compiles compiles over ${lastBatch - from} steady batches")
    } finally query.stop()
  }

  test("streaming state survives across batches (state store round-trip)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[EngineEvent]
    val query = Engine.effectiveStates(input.toDS())
      .writeStream.format("memory").queryName("engine_state")
      .outputMode("append").start()
    try {
      input.addData(frame(2, 1, 1000L, 1400))
      awaitRows("engine_state", "snapshot", 1)
      // Sparse frame in a later batch: -1 keeps the stored live value.
      input.addData(EngineEvent(2, "frame", 2, 2000L, Seq(1700) ++ Seq.fill(7)(-1), 0L))
      awaitRows("engine_state", "snapshot", 2)
      val last = spark.table("engine_state")
        .filter(col("kind") === "snapshot").orderBy(col("tsm").desc)
        .as[EngineOutput].head()
      assert(last.effective == Seq(1700, 1400, 1400, 1400, 1400, 1400, 1400, 1400))
    } finally query.stop()
  }

  test("watermark dedup: duplicate envelopes collapse before the state op") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[EngineEvent]
    val query = Engine.effectiveStates(Engine.deduplicated(input.toDS()))
      .writeStream.format("memory").queryName("engine_dedup")
      .outputMode("append").start()
    try {
      val f = frame(1, 1, 1000L, 1500)
      input.addData(f, f, f) // duplicated delivery of the same envelope
      awaitRows("engine_dedup", "snapshot", 1)
      Thread.sleep(500) // allow any (wrong) extra snapshots to surface
      assert(spark.table("engine_dedup")
        .filter(col("kind") === "snapshot").count() == 1)
    } finally query.stop()
  }

  test("windowed aggregation: watermark finalizes tumbling rate buckets in append mode") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[EngineEvent]
    val query = Engine.rateBuckets(input.toDS())
      .writeStream.format("memory").queryName("engine_rate")
      .outputMode("append").start()
    try {
      input.addData(
        frame(1, 1, 100L, 1500), frame(1, 2, 300L, 1510), // window [0, 500)
        frame(1, 3, 700L, 1520)) // window [500, 1000)
      query.processAllAvailable()
      // advance the watermark far past both windows to finalize them
      input.addData(frame(2, 4, 60000L, 1400))
      query.processAllAvailable()
      input.addData(frame(2, 5, 120000L, 1400))
      query.processAllAvailable()
      val rows = spark.table("engine_rate")
        .orderBy(col("window_start_ms"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3)))
      assert(rows.contains((0L, 1, 2L)))   // two frames in [0, 500)
      assert(rows.contains((500L, 1, 1L))) // one frame in [500, 1000)
    } finally query.stop()
  }

  test("session windows: gap closes a session, watermark finalizes it") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[EngineEvent]
    val query = Engine.sessionize(input.toDS(), gap = "5 seconds")
      .writeStream.format("memory").queryName("engine_sessions")
      .outputMode("append").start()
    try {
      // session 1: events at 1s, 3s (merge: gap < 5s); session 2 at 20s
      input.addData(frame(1, 1, 1000L, 1500), frame(1, 2, 3000L, 1510),
        frame(1, 3, 20000L, 1520))
      query.processAllAvailable()
      input.addData(frame(2, 4, 300000L, 1400)) // advance watermark
      query.processAllAvailable()
      val rows = spark.table("engine_sessions")
        .filter(col("targetId") === 1).orderBy(col("start_ms"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      assert(rows.toSeq == Seq(
        (1000L, 8000L, 2L),   // [1s, 3s+5s gap), two events merged
        (20000L, 25000L, 1L))) // singleton session
    } finally query.stop()
  }

  test("stream-stream interval join pairs frames with their covering commands") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val frames = MemoryStream[EngineEvent]
    val commands = MemoryStream[EngineEvent]
    val joined = Engine.frameCommandIntervalJoin(
      frames.toDS(), commands.toDS(), ttlMs = 5000L)
    val query = joined.writeStream.format("memory").queryName("engine_ssj")
      .outputMode("append").start()
    try {
      commands.addData(command(1, 10, 2000L, Seq(1800), 5000L))
      frames.addData(
        frame(1, 1, 1000L, 1500), // before the command -> no pair
        frame(1, 2, 3000L, 1500), // inside (2000, 7000] -> pairs
        frame(1, 3, 6900L, 1500), // still inside -> pairs
        frame(1, 4, 7100L, 1500), // past cmd_time + ttl -> no pair
        frame(2, 5, 3000L, 1500)) // other target -> no pair
      query.processAllAvailable()
      val rows = spark.table("engine_ssj")
        .select("targetId", "f_seq", "c_seq").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set((1, 2L, 10L), (1, 3L, 10L)))
    } finally query.stop()
  }

  test("stream-stream LEFT OUTER join emits uncovered frames after the watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val frames = MemoryStream[EngineEvent]
    val commands = MemoryStream[EngineEvent]
    val joined = Engine.frameCommandIntervalJoin(
      frames.toDS(), commands.toDS(), ttlMs = 5000L, joinType = "leftOuter")
    val query = joined.writeStream.format("memory").queryName("engine_ssj_lo")
      .outputMode("append").start()
    try {
      commands.addData(command(1, 10, 2000L, Seq(1800), 5000L))
      frames.addData(
        frame(1, 1, 1000L, 1500), // uncovered (before the command)
        frame(1, 2, 3000L, 1500)) // covered
      query.processAllAvailable()
      // advance BOTH watermarks so the uncovered frame's null row finalizes
      commands.addData(command(2, 11, 60000L, Seq(1500), 1000L))
      frames.addData(frame(2, 3, 60000L, 1500))
      query.processAllAvailable()
      frames.addData(frame(2, 4, 120000L, 1500))
      commands.addData(command(2, 12, 120000L, Seq(1500), 1000L))
      query.processAllAvailable()
      val rows = spark.table("engine_ssj_lo")
        .filter(col("targetId") === 1)
        .select("f_seq", "c_seq").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(rows.contains((2L, 10L)), "covered frame must pair")
      assert(rows.contains((1L, -1L)), "uncovered frame must emit with null command")
    } finally query.stop()
  }

  test("engine state survives a query restart (checkpoint recovery, file source)") {
    // memory sinks don't support checkpoint recovery — record through
    // foreachBatch (fault-tolerant) into a shared queue instead
    val root = java.nio.file.Files.createTempDirectory("graft-restart")
    val inDir = root.resolve("in"); java.nio.file.Files.createDirectories(inDir)
    val ckpt = root.resolve("ckpt").toString
    def addFile(name: String, line: String): Unit =
      java.nio.file.Files.write(inDir.resolve(name), (line + "\n").getBytes("UTF-8"))
    def startQuery() = {
      val lines = spark.readStream.text(inDir.toString)
      val cmds = Sources.commandsFromJsonLines(lines, nowMs = lit(1000L)).commands
      Engine.effectiveStates(cmds)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[EngineOutput], _: Long) =>
          batch.collect().foreach(EngineSpec.restartSink.add)
        }
        .start()
    }
    def awaitSink(n: Int): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (EngineSpec.restartSink.size < n && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(EngineSpec.restartSink.size >= n, s"timed out waiting for $n sink rows")
    }
    EngineSpec.restartSink.clear()
    // phase 1: an override on ch0, long TTL — becomes state-store state
    val q1 = startQuery()
    try {
      addFile("c1.json",
        """{"command": "override_channels", "target_id": 1, "channels": [1800], "duration": 3600000}""")
      awaitSink(2) // response + snapshot
    } finally q1.stop()
    // phase 2: restart from the checkpoint; a second command touches
    // ch1 only (-1 skips ch0) — the merge must see phase 1's 1800,
    // which can only come from recovered state
    val q2 = startQuery()
    try {
      addFile("c2.json",
        """{"command": "override_channels", "target_id": 1, "channels": [-1, 1900], "duration": 3600000}""")
      // phase 1's final batch may be replayed first (stop() can land
      // before the offset commit) — poll for the MERGED snapshot, which
      // can only exist if phase 1's override was rebuilt/recovered
      def merged() = EngineSpec.restartSink.asScala.toSeq.filter(_.kind == "snapshot")
        .find(s => s.isOverridden && s.effective.take(2) == Seq(1800, 1900))
      val deadline = System.currentTimeMillis() + 60000
      while (merged().isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(merged().nonEmpty,
        s"state lost across restart; snapshots seen: ${EngineSpec.restartSink.asScala.toSeq.filter(_.kind == "snapshot").map(_.effective.take(2))}")
    } finally q2.stop()
  }

  test("randomized differential: engine final state vs independent SQL latest-state") {
    // seeded random event soup -> fold through the engine (batch mode),
    // then recompute each target's final effective channel with plain
    // SQL aggregation (an independent implementation of the ST1 rules)
    val rnd = new scala.util.Random(20260812L)
    val events = (1 to 400).map { i =>
      val id = rnd.nextInt(5)
      val tsm = 1000L + rnd.nextInt(100000)
      if (rnd.nextBoolean()) frame(id, i.toLong, tsm, 1000 + rnd.nextInt(1001))
      else command(id, i.toLong, tsm,
        Seq.fill(rnd.nextInt(3) + 1)(if (rnd.nextInt(5) == 0) -1 else 1000 + rnd.nextInt(1001)),
        1L + rnd.nextInt(50000))
    }
    val ds = spark.createDataset(events)(
      org.apache.spark.sql.Encoders.product[EngineEvent])
    val out = Engine.effectiveStates(ds).filter(col("kind") === "snapshot")
    val finals = out.groupBy(col("targetId"))
      .agg(max_by(struct(col("effective"), col("isOverridden"), col("deadlineMs")),
        struct(col("tsm"), col("seq"))).as("s"))
      .select(col("targetId"), col("s.*")).collect()
      .map(r => r.getInt(0) -> (r.getSeq[Int](1), r.getBoolean(2), r.getLong(3))).toMap
    // independent model: per target, replay events in (tsm, cmd-first,
    // seq) order with a 10-line interpreter of the reference rules
    events.groupBy(_.targetId).foreach { case (id, evs) =>
      var live = Seq.fill(8)(0); var ovr = Seq.fill(8)(-1)
      var isOvr = false; var deadline = 0L
      evs.sortBy(e => (e.tsm, if (e.kind == "command") 0 else 1, e.seq)).foreach { e =>
        if (isOvr && e.tsm >= deadline) isOvr = false
        if (e.kind == "frame") live = Engine.merge(e.channels, live)
        else if (Engine.validate(e).isEmpty) {
          ovr = Engine.merge(e.channels, if (isOvr) ovr else live)
          isOvr = true; deadline = e.tsm + e.durationMs
        }
      }
      val (gotEff, gotOvr, gotDeadline) = finals(id)
      assert(gotOvr == isOvr, s"target $id override flag")
      assert(gotEff == (if (isOvr) ovr else live), s"target $id effective")
      if (isOvr) assert(gotDeadline == deadline, s"target $id deadline")
    }
  }

  test("batch/streaming consistency: engine final state matches q17 at T = max event time") {
    val frames = Channels.frames(spark, sfDir)
    val commands = Channels.commands(spark, sfDir)
    val events = Engine.eventsFromChannels(frames, commands)
    val out = Engine.effectiveStates(events) // batch-mode flatMapGroupsWithState
    val tmax = graft.Tables.events(spark, sfDir)
      .agg(max(unix_millis(col("ts")))).first().getLong(0)
    val finalStates = out.filter(col("kind") === "snapshot")
      .groupBy(col("targetId"))
      .agg(max_by(
        struct(col("live"), col("ovr"), col("isOverridden"), col("deadlineMs")),
        struct(col("tsm"), col("seq"))).as("s"))
      .select(col("targetId"), col("s.*"))
      .collect()
      .map(r => r.getInt(0) -> (
        r.getSeq[Int](1), r.getSeq[Int](2), r.getBoolean(3), r.getLong(4)))
      .toMap
    val q17 = Reference.q17EffectiveChannels(spark, sfDir).collect()
    assert(q17.nonEmpty)
    q17.foreach { row =>
      val id = row.getInt(row.fieldIndex("target_id"))
      val (live, ovr, isOvr, deadline) = finalStates(id)
      val active = isOvr && deadline > tmax
      val expectedEffective = row.getInt(row.fieldIndex("effective_ch"))
      val expectedOverridden = row.getInt(row.fieldIndex("is_overridden")) == 1
      assert(active == expectedOverridden, s"target $id override flag")
      assert((if (active) ovr.head else live.head) == expectedEffective,
        s"target $id effective channel")
      if (active)
        assert(math.max(0L, deadline - tmax) ==
          row.getLong(row.fieldIndex("remaining_ms")), s"target $id remaining")
    }
  }

  test("JSON writer: one to_json line per engine output row over a MemoryStream") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[EngineOutput]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-json-writer").toString
    val query = Engine.jsonWriter(input.toDS(), ckpt)
      .format("memory").queryName("engine_json_mem").start()
    try {
      input.addData(
        EngineOutput(3, "snapshot", 7, 1000L, Seq(1500, 1600), Seq(1500, 1500),
          Seq(-1, 1600), isOverridden = true, 4000L, 3000L, "", ""),
        EngineOutput(3, "response", 7, 1000L, Nil, Nil, Nil,
          isOverridden = false, 0L, 0L, "success", "ok"))
      query.processAllAvailable()
      assert(spark.table("engine_json_mem").collect().map(_.getString(0)).toSet == Set(
        """{"targetId":3,"kind":"snapshot","seq":7,"tsm":1000,""" +
          """"effective":[1500,1600],"live":[1500,1500],"ovr":[-1,1600],""" +
          """"isOverridden":true,"deadlineMs":4000,"remainingMs":3000,""" +
          """"status":"","message":""}""",
        """{"targetId":3,"kind":"response","seq":7,"tsm":1000,""" +
          """"effective":[],"live":[],"ovr":[],"isOverridden":false,""" +
          """"deadlineMs":0,"remainingMs":0,"status":"success","message":"ok"}"""))
    } finally query.stop()
  }
}
