package graft.streaming

import graft.SparkSpec
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** S4/S6 sink semantics: exact wire layout and the delivery path shared
  * by the streaming writers. */
object SinksSpec {
  // recorders live in a companion object so executor-side closures in
  // local mode append to the same JVM-wide queues
  val radio = new ConcurrentLinkedQueue[(String, Seq[Byte])]()
  val sbus = new ConcurrentLinkedQueue[(Int, Seq[Int])]()
  val serial = new ConcurrentLinkedQueue[String]()
  val store = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("packFrame: 8 x uint16 little-endian, 16 bytes, short frames zero-padded") {
    val b = Sinks.packFrame(Seq(1500, 1000, 2000))
    assert(b.length == 16)
    // 1500 = 0x05DC -> DC 05 little-endian
    assert((b(0) & 0xFF, b(1) & 0xFF) == (0xDC, 0x05))
    assert((b(2) & 0xFF, b(3) & 0xFF) == (0xE8, 0x03)) // 1000
    assert((b(4) & 0xFF, b(5) & 0xFF) == (0xD0, 0x07)) // 2000
    assert(b.drop(6).forall(_ == 0))
  }

  private def snapshotBatch = Seq(
    EngineOutput(1, "snapshot", 1, 1000L, Seq.fill(8)(1500), Seq.fill(8)(1500),
      Seq.fill(8)(-1), isOverridden = false, 0L, 0L, "", ""),
    EngineOutput(2, "snapshot", 2, 1000L, Seq.fill(8)(2000), Seq.fill(8)(2000),
      Seq.fill(8)(-1), isOverridden = false, 0L, 0L, "", ""),
    EngineOutput(1, "response", 3, 1000L, Nil, Nil, Nil, isOverridden = false,
      0L, 0L, "success", "ok"),
  ).toDF()

  test("fan-out delivers one packed frame per target MAC, responses excluded") {
    SinksSpec.radio.clear()
    Sinks.deliverFanOut(snapshotBatch, id => s"MAC_$id",
      (mac, bytes) => SinksSpec.radio.add((mac, bytes.toSeq)))
    val got = SinksSpec.radio.asScala.toMap
    assert(got.keySet == Set("MAC_1", "MAC_2"))
    assert(got("MAC_1") == Sinks.packFrame(Seq.fill(8)(1500)).toSeq)
    assert(got("MAC_2") == Sinks.packFrame(Seq.fill(8)(2000)).toSeq)
  }

  test("SBUS delivery rescales 1000-2000 to 172-1811 exactly") {
    SinksSpec.sbus.clear()
    Sinks.deliverSbus(snapshotBatch, (id, f) => SinksSpec.sbus.add((id, f)))
    val got = SinksSpec.sbus.asScala.toMap
    assert(got(1) == Seq.fill(8)(991)) // map(1500) = 991
    assert(got(2) == Seq.fill(8)(1811))
  }

  test("hold re-emissions (kind timeout) reach the wire, not just snapshots") {
    // the reference's sample-and-hold output IS the timeout re-emission:
    // a quiet stream must still drive the radio/SBUS at the hold rate
    val holdBatch = Seq(
      EngineOutput(4, "timeout", -1, 2000L, Seq.fill(8)(1600), Seq.fill(8)(1600),
        Seq.fill(8)(-1), isOverridden = false, 0L, 0L, "", "")).toDF()
    SinksSpec.radio.clear(); SinksSpec.sbus.clear()
    Sinks.deliverFanOut(holdBatch, id => s"MAC_$id",
      (mac, bytes) => SinksSpec.radio.add((mac, bytes.toSeq)))
    Sinks.deliverSbus(holdBatch, (id, f) => SinksSpec.sbus.add((id, f)))
    assert(SinksSpec.radio.asScala.toMap.apply("MAC_4") ==
      Sinks.packFrame(Seq.fill(8)(1600)).toSeq)
    assert(SinksSpec.sbus.asScala.toMap.apply(4) == Seq.fill(8)(1155)) // map(1600)
  }

  test("hold mode composes with the fan-out writer: quiet stream keeps the radio fed") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SinksSpec.radio.clear()
    val input = MemoryStream[EngineEvent]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-hold-fanout").toString
    val query = Sinks.fanOutWriter(
      Engine.effectiveStates(input.toDS(), holdEmitMs = Some(200L)), ckpt,
      id => s"MAC_$id", (mac, bytes) => SinksSpec.radio.add((mac, bytes.toSeq)))
      .start()
    try {
      input.addData(EngineEvent(5, "frame", 1, 1000L, Seq.fill(8)(1700), 0L))
      // one input frame, then silence: the hold timer must keep the
      // radio fed — expect >= 3 deliveries (1 snapshot + >= 2 holds)
      val deadline = System.currentTimeMillis() + 60000
      while (SinksSpec.radio.size < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val got = SinksSpec.radio.asScala.toSeq
      assert(got.size >= 3, "quiet stream stopped feeding the radio")
      assert(got.forall { case (mac, bytes) =>
        mac == "MAC_5" && bytes == Sinks.packFrame(Seq.fill(8)(1700)).toSeq })
    } finally query.stop()
  }

  test("deliverOnce: a replayed batchId is skipped, new ids deliver") {
    val dir = java.nio.file.Files.createTempDirectory("graft-once").toString
    var sends = 0
    assert(Sinks.deliverOnce(dir, 7L) { sends += 1 })
    assert(!Sinks.deliverOnce(dir, 7L) { sends += 1 }, "replay must be skipped")
    assert(Sinks.deliverOnce(dir, 8L) { sends += 1 })
    assert(sends == 2)
  }

  test("deliverOnce: markers older than the retention horizon are pruned") {
    val dir = java.nio.file.Files.createTempDirectory("graft-once-prune").toString
    (0L to 20L).foreach(id => Sinks.deliverOnce(dir, id) {})
    def markers = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".done")).toSeq.sorted
      finally s.close()
    }
    // only the last MarkerRetention+1 ids remain; the newest survives
    assert(markers.size == Sinks.MarkerRetention + 1, markers.mkString(","))
    assert(markers.contains("batch-20.done") && !markers.contains("batch-0.done"))
    // the retained horizon still dedups
    assert(!Sinks.deliverOnce(dir, 20L) { fail("must skip") })
  }

  test("deliverOnce: a failed delivery leaves no marker, so the retry runs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-once-fail").toString
    var sends = 0
    intercept[RuntimeException] {
      Sinks.deliverOnce(dir, 1L) { throw new RuntimeException("radio down") }
    }
    assert(Sinks.deliverOnce(dir, 1L) { sends += 1 }, "retry after failure must deliver")
    assert(sends == 1)
  }

  test("telemetry writer emits one exact targets_update document per batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SinksSpec.serial.clear()
    val registry = Seq((6, "Drone_7", "AA:BB:CC:00:00:07", true, 5000L))
      .toDF("id", "name", "mac", "connection_state", "last_successful_send")
    val input = MemoryStream[EngineEvent]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-telemetry").toString
    val query = Sinks.telemetryWriter(
      Engine.effectiveStates(input.toDS()), ckpt, registry,
      doc => SinksSpec.serial.add(doc))
      .start()
    try {
      input.addData(EngineEvent(6, "frame", 1, 1000L, Seq.fill(8)(1500), 0L))
      val deadline = System.currentTimeMillis() + 60000
      while (SinksSpec.serial.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val doc = SinksSpec.serial.asScala.head
      assert(doc ==
        """{"type":"targets_update","targets":[{"id":6,"name":"Drone_7",""" +
        """"mac":"AA:BB:CC:00:00:07","channels":[1500,1500,1500,1500,1500,1500,1500,1500],""" +
        """"connection_state":true,"last_successful_send":5000,""" +
        """"is_channels_overridden":false,"override_timeout_remaining":0}]}""")
    } finally query.stop()
  }

  test("telemetry writer: each micro-batch runs one Spark job; documents only for batches with rows") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sc = spark.sparkContext
    val registry = Seq((6, "Drone_7", "AA:BB:CC:00:00:07", true, 5000L))
      .toDF("id", "name", "mac", "connection_state", "last_successful_send")
    val input = MemoryStream[EngineEvent]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-telemetry-once").toString
    // (query id, batch id) -> ids of that batch's Spark jobs
    val jobs = new java.util.concurrent.ConcurrentHashMap[(String, Long), Set[Int]]()
    val marker = s"sinks-spec-marker-${System.nanoTime()}"
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(p => p.getProperty("spark.jobGroup.id") == marker)) markerSeen = true
        for (p <- props; q <- Option(p.getProperty("sql.streaming.queryId"));
             b <- Option(p.getProperty("streaming.sql.batchId")))
          jobs.merge((q, b.toLong), Set(e.jobId), (a: Set[Int], c: Set[Int]) => a ++ c)
      }
    }
    sc.addSparkListener(listener)
    // (batch id, document) as the writer emits them
    val emitted = new ConcurrentLinkedQueue[(Long, String)]()
    // the frame is there before the first trigger, so batch 0 carries it
    input.addData(EngineEvent(6, "frame", 1, 1000L, Seq.fill(8)(1500), 0L))
    val query = Sinks.telemetryWriter(Engine.effectiveStates(input.toDS()), ckpt, registry,
      doc => emitted.add((sc.getLocalProperty("streaming.sql.batchId").toLong, doc)))
      .start()
    try {
      // the processing-time timeout keeps the query running no-data
      // batches; wait for two of them after the batch with the frame
      // (progress without an addBatch step is an idle trigger, not a batch)
      def batches = query.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))
      val deadline = System.currentTimeMillis() + 60000
      while (batches.count(_.numInputRows == 0) < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      query.stop()
      val (withRows, noData) = batches.partition(_.numInputRows > 0)
      assert(withRows.map(_.batchId) == Seq(0L), batches.map(_.json).mkString("\n"))
      assert(noData.size >= 2, "the query ran no no-data batches")
      // a job from the same listener queue, started after the query
      // stopped: once the listener sees it, it has seen every batch's jobs
      sc.setJobGroup(marker, "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val barrier = System.currentTimeMillis() + 60000
      while (!markerSeen && System.currentTimeMillis() < barrier) Thread.sleep(20)
      assert(markerSeen, "the listener never saw the barrier job")
      val perBatch = jobs.asScala.collect {
        case ((q, b), ids) if q == query.id.toString => b -> ids.size
      }.toMap
      batches.foreach { p =>
        assert(perBatch.get(p.batchId).contains(1),
          s"batch ${p.batchId} ran ${perBatch.getOrElse(p.batchId, 0)} Spark jobs, want 1")
      }
      assert(emitted.asScala.map(_._1).toSeq == Seq(0L),
        s"documents by batch: ${emitted.asScala.map(_._1).mkString(",")}")
      assert(emitted.asScala.head._2.contains(""""id":6,"name":"Drone_7""""))
    } finally {
      query.stop()
      sc.removeSparkListener(listener)
    }
  }

  test("telemetry writer: each target's freshest state wins across partitions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SinksSpec.serial.clear()
    val registry = Seq(
      (1, "Drone_1", "AA:BB:CC:00:00:01", true, 10L),
      (2, "Drone_2", "AA:BB:CC:00:00:02", false, 20L),
      (3, "Drone_3", "AA:BB:CC:00:00:03", true, 30L),
    ).toDF("id", "name", "mac", "connection_state", "last_successful_send")
    def row(id: Int, kind: String, seq: Long, tsm: Long, ch: Int,
        overridden: Boolean = false, remaining: Long = 0L) =
      EngineOutput(id, kind, seq, tsm, Seq.fill(8)(ch), Seq.fill(8)(ch), Seq.fill(8)(-1),
        overridden, 0L, remaining, if (kind == "response") "success" else "", "")
    val input = MemoryStream[EngineOutput]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-telemetry-freshest").toString
    // round-robin over four partitions, so each target's rows are split
    val query = Sinks.telemetryWriter(input.toDS().repartition(4), ckpt, registry,
      doc => SinksSpec.serial.add(doc)).start()
    try {
      input.addData(
        row(1, "snapshot", 1, 1000L, 1100),
        row(2, "snapshot", 2, 1000L, 1200),
        row(1, "snapshot", 5, 1200L, 1150, overridden = true, remaining = 3000L), // freshest of 1
        row(1, "timeout", -1, 1200L, 1111), // same tsm, lower seq
        row(2, "timeout", -1, 1500L, 1250), // freshest of 2: a hold re-emission
        row(1, "response", 7, 2000L, 0), // newest, but a response is never state
        row(2, "snapshot", 9, 1400L, 1240), // larger seq, older tsm
        row(3, "response", 3, 1000L, 0), // registered, but no state this batch
        row(9, "snapshot", 10, 3000L, 1900), // not in the registry
        row(1, "snapshot", 6, 1100L, 1120),
        row(2, "snapshot", 4, 1300L, 1230),
        row(1, "timeout", -1, 900L, 1090),
        row(2, "snapshot", 8, 1450L, 1245))
      query.processAllAvailable()
      assert(SinksSpec.serial.asScala.toSeq == Seq(
        """{"type":"targets_update","targets":[""" +
        """{"id":1,"name":"Drone_1","mac":"AA:BB:CC:00:00:01",""" +
        """"channels":[1150,1150,1150,1150,1150,1150,1150,1150],""" +
        """"connection_state":true,"last_successful_send":10,""" +
        """"is_channels_overridden":true,"override_timeout_remaining":3000},""" +
        """{"id":2,"name":"Drone_2","mac":"AA:BB:CC:00:00:02",""" +
        """"channels":[1250,1250,1250,1250,1250,1250,1250,1250],""" +
        """"connection_state":false,"last_successful_send":20,""" +
        """"is_channels_overridden":false,"override_timeout_remaining":0}]}"""))
    } finally query.stop()
  }

  test("telemetry writer: a batch of responses only still emits one document") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SinksSpec.serial.clear()
    val registry = Seq((6, "Drone_7", "AA:BB:CC:00:00:07", true, 5000L))
      .toDF("id", "name", "mac", "connection_state", "last_successful_send")
    val input = MemoryStream[EngineOutput]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-telemetry-responses").toString
    val query = Sinks.telemetryWriter(input.toDS(), ckpt, registry,
      doc => SinksSpec.serial.add(doc)).start()
    try {
      input.addData(EngineOutput(6, "response", 3, 1000L, Nil, Nil, Nil,
        isOverridden = false, 0L, 0L, "success", "ok"))
      query.processAllAvailable()
      assert(SinksSpec.serial.asScala.toSeq ==
        Seq("""{"type":"targets_update","targets":[]}"""))
    } finally query.stop()
  }

  test("telemetry writer: an unregistered target's rows emit a document without it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SinksSpec.serial.clear()
    val registry = Seq((6, "Drone_7", "AA:BB:CC:00:00:07", true, 5000L))
      .toDF("id", "name", "mac", "connection_state", "last_successful_send")
    val input = MemoryStream[EngineOutput]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-telemetry-unregistered").toString
    val query = Sinks.telemetryWriter(input.toDS(), ckpt, registry,
      doc => SinksSpec.serial.add(doc)).start()
    try {
      // id 9 is not in the registry: its snapshot counts as a row, so
      // the batch emits, but it has no name or MAC to list
      input.addData(EngineOutput(9, "snapshot", 1, 1000L, Seq.fill(8)(1500),
        Seq.fill(8)(1500), Seq.fill(8)(-1), isOverridden = false, 0L, 0L, "", ""))
      query.processAllAvailable()
      assert(SinksSpec.serial.asScala.toSeq ==
        Seq("""{"type":"targets_update","targets":[]}"""))
    } finally query.stop()
  }

  test("update-mode upsert sink: the store converges to the latest counts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SinksSpec.store.clear()
    val input = MemoryStream[EngineEvent]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val query = Sinks.upsertCountsWriter(input.toDS(), ckpt,
      (id, n) => SinksSpec.store.put(id, n)).start()
    def await(id: Int, n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (SinksSpec.store.getOrDefault(id, -1L) != n &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(SinksSpec.store.get(id) == n, s"store($id) = ${SinksSpec.store.get(id)}, want $n")
    }
    try {
      input.addData(
        EngineEvent(1, "frame", 1, 1000L, Seq.fill(8)(1500), 0L),
        EngineEvent(1, "frame", 2, 1100L, Seq.fill(8)(1500), 0L),
        EngineEvent(2, "frame", 3, 1200L, Seq.fill(8)(1500), 0L))
      query.processAllAvailable()
      await(1, 2L); await(2, 1L)
      // a later batch updates ONLY target 1 — target 2 must keep its count
      input.addData(EngineEvent(1, "frame", 4, 2000L, Seq.fill(8)(1500), 0L))
      query.processAllAvailable()
      await(1, 3L); await(2, 1L)
    } finally query.stop()
  }

  test("fan-out writer: engine-to-radio end-to-end over a MemoryStream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SinksSpec.radio.clear()
    val input = MemoryStream[EngineEvent]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fanout").toString
    val query = Sinks.fanOutWriter(
      Engine.effectiveStates(input.toDS()), ckpt,
      id => s"MAC_$id", (mac, bytes) => SinksSpec.radio.add((mac, bytes.toSeq)))
      .start()
    try {
      input.addData(EngineEvent(3, "frame", 1, 1000L, Seq.fill(8)(1700), 0L))
      val deadline = System.currentTimeMillis() + 60000
      while (SinksSpec.radio.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val got = SinksSpec.radio.asScala.toMap
      assert(got.contains("MAC_3"))
      assert(got("MAC_3") == Sinks.packFrame(Seq.fill(8)(1700)).toSeq)
    } finally query.stop()
  }

  test("SBUS writer: engine output to the UART callback over a MemoryStream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    SinksSpec.sbus.clear()
    val input = MemoryStream[EngineOutput]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sbus").toString
    val query = Sinks.sbusWriter(input.toDS(), ckpt,
      (id, f) => SinksSpec.sbus.add((id, f))).start()
    try {
      input.addData(
        EngineOutput(1, "snapshot", 1, 1000L, Seq.fill(8)(1500), Seq.fill(8)(1500),
          Seq.fill(8)(-1), isOverridden = false, 0L, 0L, "", ""),
        EngineOutput(4, "timeout", -1, 2000L, Seq.fill(8)(1600), Seq.fill(8)(1600),
          Seq.fill(8)(-1), isOverridden = false, 0L, 0L, "", ""),
        EngineOutput(1, "response", 3, 1000L, Nil, Nil, Nil, isOverridden = false,
          0L, 0L, "success", "ok"))
      query.processAllAvailable()
      // one rescaled frame per snapshot or hold row; the response is not sent
      assert(SinksSpec.sbus.asScala.toSeq.sortBy(_._1) ==
        Seq(1 -> Seq.fill(8)(991), 4 -> Seq.fill(8)(1155)))
    } finally query.stop()
  }
}
