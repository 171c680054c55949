package graft.streaming

import graft.functions.ChannelFunctions.sbusRescale
import graft.operators.Telemetry
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.immutable.ArraySeq

/** S4/S6 — output sinks: the ESP-NOW per-target fan-out and the SBUS
  * re-emission, as `foreachBatch` writers over the engine's snapshot
  * stream. Both delivery paths accept kind "snapshot" AND "timeout":
  * on a quiet input the engine's hold timer re-emits held state as
  * "timeout" rows, and those must reach the wire — that re-emission IS
  * the reference's sample-and-hold output (30 Hz SBUS from a 2 Hz
  * input, `src/receiver/main.cpp:62-74`).
  *
  * The transport is pluggable (`send` callbacks) — production would
  * bind a radio/UART driver; tests bind recorders. The fan-out and
  * SBUS paths iterate partitions distributed-side and bring nothing
  * back to the driver. The telemetry writer does bring results back:
  * one small result per partition, at most one entry per target plus
  * a row count, which the driver merges into the one document. Its
  * driver-side cost is bounded by partitions × targets, not by the
  * input rate.
  */
object Sinks {

  /** 16-byte packed channel frame: 8 × uint16 little-endian — the
    * exact wire layout of the reference's `ChannelData` memcpy
    * (`src/transmitter/main.cpp:104`, `sizeof(ChannelData)` = 16). */
  def packFrame(channels: Seq[Int]): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    channels.padTo(8, 0).take(8).foreach(v => buf.putShort((v & 0xFFFF).toShort))
    buf.array()
  }

  /** One fan-out delivery pass over a snapshot micro-batch: send each
    * target's packed effective frame to its MAC
    * (`src/transmitter/main.cpp:100-106`). Exposed separately so batch
    * tests and the streaming writer share the exact code path. */
  def deliverFanOut(batch: DataFrame, macForId: Int => String,
      send: (String, Array[Byte]) => Unit): Unit =
    batch.filter(col("kind").isin("snapshot", "timeout"))
      .select(col("targetId"), col("effective"))
      .foreachPartition { rows: Iterator[Row] =>
        rows.foreach { r =>
          send(macForId(r.getInt(0)), packFrame(r.getSeq[Int](1)))
        }
      }

  /** Replay guard for `foreachBatch` side effects: Structured
    * Streaming re-runs a micro-batch after a failure/restart with the
    * SAME batchId; a delivery that already COMPLETED for that id is
    * skipped on replay. The marker is a committed file per batchId
    * next to the checkpoint (written atomically via rename, AFTER the
    * delivery pass returns) — the streaming analog of a transactional
    * sink's (queryId, batchId) dedup key.
    *
    * Semantics, precisely: fully-delivered batches are never replayed
    * (their marker exists), but a crash MID-delivery leaves no marker,
    * so the restart re-runs the whole pass — rows sent before the
    * crash duplicate. That window is at-least-once; true exactly-once
    * needs a transactional target (or per-row idempotence downstream).
    * Markers older than [[MarkerRetention]] batches are pruned on each
    * successful delivery — only the latest batch is replayable, so a
    * deep history serves nothing and would otherwise grow one file per
    * batch forever. */
  val MarkerRetention = 8

  def deliverOnce(markerDir: String, batchId: Long)(deliver: => Unit): Boolean = {
    val dir = java.nio.file.Paths.get(markerDir)
    java.nio.file.Files.createDirectories(dir)
    val marker = dir.resolve(s"batch-$batchId.done")
    if (java.nio.file.Files.exists(marker)) false
    else {
      deliver
      val tmp = dir.resolve(s".batch-$batchId.tmp")
      java.nio.file.Files.write(tmp, Array.emptyByteArray)
      java.nio.file.Files.move(tmp, marker,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val horizon = batchId - MarkerRetention
      if (horizon >= 0) {
        val stream = java.nio.file.Files.list(dir)
        try stream.forEach { p =>
          val n = p.getFileName.toString
          if (n.startsWith("batch-") && n.endsWith(".done")) {
            val id = n.stripPrefix("batch-").stripSuffix(".done")
            if (id.forall(_.isDigit) && id.toLong < horizon)
              java.nio.file.Files.deleteIfExists(p)
          }
        } finally stream.close()
      }
      true
    }
  }

  /** S4: the 2 Hz ESP-NOW fan-out writer (`RADIO_SEND_FREQ_HZ = 2`,
    * `src/transmitter/main.cpp:23-25`). Replays of FULLY-delivered
    * micro-batches are skipped via [[deliverOnce]]; a crash mid-pass
    * re-delivers that one batch on restart (see the deliverOnce
    * contract) — acceptable for the radio, whose receiver is
    * last-write-wins (`src/receiver/main.cpp:36`). */
  def fanOutWriter(out: Dataset[EngineOutput], checkpointDir: String,
      macForId: Int => String,
      send: (String, Array[Byte]) => Unit): DataStreamWriter[EngineOutput] =
    out.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[EngineOutput], batchId: Long) =>
        deliverOnce(s"$checkpointDir/delivered", batchId) {
          deliverFanOut(batch.toDF(), macForId, send)
        }
        ()
      }

  /** One SBUS emission pass: rescale each effective channel with the
    * exact truncating-integer map 1000–2000 → 172–1811 and hand the
    * frame to the UART callback (`src/receiver/main.cpp:62-74`). The
    * rescale runs as a column expression (codegen) before the sink. */
  def deliverSbus(batch: DataFrame, send: (Int, Seq[Int]) => Unit): Unit =
    batch.filter(col("kind").isin("snapshot", "timeout"))
      .select(col("targetId"),
        transform(col("effective"), c => sbusRescale(c)).as("sbus"))
      .foreachPartition { rows: Iterator[Row] =>
        rows.foreach(r => send(r.getInt(0), r.getSeq[Int](1)))
      }

  /** S5/P4 streaming — the 2 Hz `targets_update` telemetry: per
    * trigger, the micro-batch's freshest state per target (snapshot or
    * hold re-emission) meets the registry and becomes ONE envelope
    * document, exactly like the reference's per-tick
    * `send_targets_update` (`src/transmitter/main.cpp:282-296`).
    *
    * @param registry one row per target id, columns `id` (int), `name`,
    *                 `mac` (string), `connection_state` (boolean),
    *                 `last_successful_send` (long) — identity from the
    *                 bootstrap (R2), ack columns owned by the transport
    *                 layer (the radio callback updates them in the
    *                 reference, `:55-75`; here the fan-out `send`
    *                 callback's results feed them)
    *
    * The registry is resolved once per query: it is collected into a
    * driver-side map when the writer is built, so a changed registry
    * takes effect only after the query is restarted. No batch is ever
    * joined with it, so nothing is planned or shipped to the executors
    * for it per batch.
    *
    * One Spark job per micro-batch, one pass over the batch's rows:
    * a single `SparkContext.runJob` over the batch's own physical rows
    * (`queryExecution.toRdd`), so no second plan is analysed or
    * compiled to turn them into objects. Each partition reads the
    * columns it needs by ordinal, counts its engine rows (responses
    * included) and keeps each target's freshest snapshot or timeout
    * row, by largest `(tsm, seq)`, copying only the rows it keeps; the
    * driver merges the partitions' results by the same rule
    * ([[keepFreshest]]), drops ids the registry does not list and
    * renders the document. The document is emitted only when the count
    * is above zero — one document for a batch with at least one engine
    * row, none for an empty or no-data batch. Every batch, emitting or
    * not, runs the stateful plan once, which is what commits its state.
    * Emission goes through [[deliverOnce]]: a replayed batch whose
    * document was already emitted runs its job again but does not emit
    * (crash between emit and marker → one reprint). */
  def telemetryWriter(out: Dataset[EngineOutput], checkpointDir: String,
      registry: DataFrame, emit: String => Unit): DataStreamWriter[EngineOutput] = {
    import registry.sparkSession.implicits._
    val registered = registry
      .select("id", "name", "mac", "connection_state", "last_successful_send")
      .as[(Int, Option[String], Option[String], Option[Boolean], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    out.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime("500 milliseconds"))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[EngineOutput], batchId: Long) =>
        val Seq(idAt, kindAt, seqAt, tsmAt, effectiveAt, overriddenAt, remainingAt) =
          Seq("targetId", "kind", "seq", "tsm", "effective", "isOverridden", "remainingMs")
            .map(batch.schema.fieldIndex)
        // the (TaskContext, Iterator) form: for an Iterator-only function
        // runJob adds a wrapper lambda whose closure cleaning re-reads
        // SparkContext's class file every batch
        val parts = batch.sparkSession.sparkContext.runJob(batch.queryExecution.toRdd,
          (_: TaskContext, rows: Iterator[InternalRow]) => {
            var n = 0L
            val states = rows.foldLeft(Map.empty[Int, Freshest]) { (m, r) =>
              n += 1
              val kind = r.getUTF8String(kindAt)
              if (kind == SnapshotKind || kind == TimeoutKind) {
                val (id, tsm, seq) = (r.getInt(idAt), r.getLong(tsmAt), r.getLong(seqAt))
                keepFreshest(m, id, tsm, seq) {
                  Freshest(id, tsm, seq,
                    ArraySeq.unsafeWrapArray(r.getArray(effectiveAt).toIntArray()),
                    r.getBoolean(overriddenAt), r.getLong(remainingAt))
                }
              } else m
            }
            (n, states.values.toArray)
          })
        if (parts.map(_._1).sum > 0)
          deliverOnce(s"$checkpointDir/telemetry-delivered", batchId) {
            val states = parts.iterator.flatMap(_._2).foldLeft(Map.empty[Int, Freshest]) {
              (m, f) => keepFreshest(m, f.targetId, f.tsm, f.seq)(f)
            }
            emit(Telemetry.targetsUpdate(states.values.toSeq.flatMap { f =>
              registered.get(f.targetId).map { case (id, name, mac, connected, lastSend) =>
                Telemetry.Target(id, name, mac, f.effective, connected,
                  lastSend, f.isOverridden, f.remainingMs)
              }
            }))
          }
        ()
      }
  }

  private val SnapshotKind = UTF8String.fromString("snapshot")
  private val TimeoutKind = UTF8String.fromString("timeout")

  /** What the telemetry document keeps of a target's freshest
    * snapshot or timeout row. */
  private final case class Freshest(targetId: Int, tsm: Long, seq: Long,
      effective: Seq[Int], isOverridden: Boolean, remainingMs: Long)

  /** `states` with `entry` in place of target `id`'s entry when the
    * row at `(tsm, seq)` is fresher: a larger `(tsm, seq)`. `entry` is
    * built only then. */
  private def keepFreshest(states: Map[Int, Freshest], id: Int, tsm: Long, seq: Long)(
      entry: => Freshest): Map[Int, Freshest] =
    states.get(id) match {
      case Some(s) if s.tsm > tsm || (s.tsm == tsm && s.seq >= seq) => states
      case _ => states.updated(id, entry)
    }

  /** Update-mode streaming aggregation → keyed upsert sink: running
    * per-target event counts emitted as CHANGED ROWS each micro-batch
    * (`OutputMode.Update` — the complement of the append-mode windowed
    * aggregations, which only emit watermark-finalized rows) and
    * upserted by key into a serving store via `foreachBatch`. The
    * pattern for maintaining a live lookup table from a stream: the
    * store always holds the latest count per target, and replayed
    * batches re-upsert the same values (idempotent by construction —
    * upserts of identical (key, value) pairs converge). */
  def upsertCountsWriter(events: Dataset[EngineEvent], checkpointDir: String,
      upsert: (Int, Long) => Unit): DataStreamWriter[org.apache.spark.sql.Row] =
    // the aggregation key IS the upsert key: update mode ships only
    // changed rows, so any sink-side re-aggregation across a finer
    // grouping would see partial state
    events.toDF()
      .groupBy(col("targetId"))
      .agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.foreachPartition { rows: Iterator[Row] =>
          rows.foreach(r => upsert(r.getInt(0), r.getLong(1)))
        }
      }

  /** S6: the 30 Hz SBUS writer (`SBUS_SEND_HZ = 30`,
    * `src/receiver/main.cpp:20-22` — 33 ms period). */
  def sbusWriter(out: Dataset[EngineOutput], checkpointDir: String,
      send: (Int, Seq[Int]) => Unit): DataStreamWriter[EngineOutput] =
    out.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime("33 milliseconds"))
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[EngineOutput], _: Long) =>
        deliverSbus(batch.toDF(), send)
      }
}
