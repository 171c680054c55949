package graft.streaming

import graft.operators.Pipeline
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** STREAMING index maintenance (VERDICT r18 §next-3): the three batch
  * index appends — [[Pipeline.indexAppend]] (IVF membership),
  * [[Pipeline.pqIndexAppend]] (PQ codes + error stats),
  * [[Pipeline.invIndexAppend]] (postings + corpus stats) — bound to a
  * stream through one replay-guarded writer, shared with
  * [[Export.appendShardsWriter]] (foreachBatch + [[Sinks.deliverOnce]]
  * replay markers), so a
  * near-line corpus keeps its banked indexes WARM instead of serving
  * stale lookups until the nightly append.
  *
  * Semantics are exactly the batch appends' (ONE shared increment —
  * a two-installment stream equals the batch append sequence of the
  * same waves, spec-proven in IndexMaintainSpec): routing/codebooks
  * stay FROZEN at build time, appends land in the build's layout
  * (bucket specs validated by Spark on every append), and the drift
  * that freezing accumulates is surfaced PER BATCH through the
  * existing reports ([[Pipeline.indexOccupancyReport]]'s occupancy,
  * [[Pipeline.pqIndexDriftReport]]'s quantization error) via the
  * `onDrift` callback — the rebuild tripwire a deployment wires to
  * its alerting, evaluated on the one-row/≤64-row report relations,
  * never on the corpus.
  *
  * Delivery: at-least-once with replay markers, like the export
  * writer — a fully-delivered batch never re-appends across restarts
  * (spec-proven). The honest window is narrower than the export's:
  * a crash between the table append and the marker re-appends that
  * batch; for the IVF/PQ relations the duplicate rows are visible as
  * duplicate `vec_id`s (the occupancy/stats reports count them
  * toward drift, and a rebuild — the normal response to drift —
  * clears them); the inverted index tolerates replayed postings the
  * same way until its rebuild.
  *
  * Scale posture: ZERO stream-side state (assignment/encode are map
  * logic against plan-literal routing/codebooks; the indexes live at
  * rest) — source offsets and the marker dir are the whole recovery
  * story, and each micro-batch pays one bucketed append over ITS rows
  * only, never a corpus pass.
  *
  * Reader note: appends run through foreachBatch's cloned session,
  * which refreshes ITS relation cache — a long-lived reader session
  * polling the same table calls `spark.catalog.refreshTable` before
  * re-reading (standard Spark behavior for any cross-session append;
  * spec-demonstrated in IndexMaintainSpec). */
object IndexMaintain {

  /** The replay-guarded append writer behind every index writer here
    * and [[Export.appendShardsWriter]]: `deliver` runs once per
    * non-empty micro-batch under a [[Sinks.deliverOnce]] marker, then
    * `after` runs outside it. */
  private[streaming] def writer(rows: DataFrame, checkpointDir: String)(
      deliver: DataFrame => Unit)(
      after: DataFrame => Unit = _ => ()): DataStreamWriter[Row] =
    rows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the drift callback runs OUTSIDE deliverOnce, after the
        // marker: a throwing callback (alerting code) must not strand
        // a committed append unmarked — that retry would re-append a
        // batch the table already holds (review r19). A callback
        // failure retries ONLY the callback (the marker skips the
        // append), so the append stays exactly-once and the report is
        // at-least-once — the right asymmetry for a tripwire. The
        // callback fires on EVERY non-empty pass over the batch,
        // including a replay whose marker already exists (ADVICE r19:
        // gating it on the marker being fresh made the report
        // at-MOST-once — a callback crash after the marker write left
        // the replayed batch's report silently lost, because the
        // replay saw delivered=false and skipped `after` forever).
        // Re-fired reports are idempotent by construction: the drift
        // relations are snapshots of the index tables, not
        // accumulators, so a duplicate report carries the same rows.
        val empty = batch.isEmpty
        Sinks.deliverOnce(s"$checkpointDir/delivered",
          batchId) { if (!empty) deliver(batch) }
        if (!empty) after(batch)
        ()
      }

  /** Keep a banked IVF index warm from a vector stream `(vec_id, e)`:
    * each micro-batch routes through the STORED centroids/masks and
    * bucket-appends ([[Pipeline.indexAppend]]); `onDrift` sees the
    * occupancy report after every delivered batch. */
  def ivfAppendWriter(vectors: DataFrame, name: String,
      checkpointDir: String,
      onDrift: DataFrame => Unit = _ => ()): DataStreamWriter[Row] =
    writer(vectors, checkpointDir)(batch =>
      Pipeline.indexAppend(batch.sparkSession, name, batch))(batch =>
      onDrift(Pipeline.indexOccupancyReport(batch.sparkSession, name)))

  /** Keep a banked PQ index warm from a vector stream `(vec_id, e)`:
    * each micro-batch encodes through the STORED codebook and appends
    * codes + error stats ([[Pipeline.pqIndexAppend]]); `onDrift` sees
    * the quantization-error drift report after every delivered
    * batch. */
  def pqAppendWriter(vectors: DataFrame, name: String,
      checkpointDir: String,
      onDrift: DataFrame => Unit = _ => ()): DataStreamWriter[Row] =
    writer(vectors, checkpointDir)(batch =>
      Pipeline.pqIndexAppend(batch.sparkSession, name, batch))(batch =>
      onDrift(Pipeline.pqIndexDriftReport(batch.sparkSession, name)))

  /** Keep a banked inverted index warm from a document stream
    * `(doc_id, text)`: each micro-batch tokenizes through the build's
    * pipeline, bucket-appends postings, and merges the one-row corpus
    * stats ([[Pipeline.invIndexAppend]]) — a serve over the appended
    * index EQUALS a full rebuild's (the no-frozen-state property the
    * batch append proves), so there is no drift report to emit:
    * freshness is the whole story. */
  def invAppendWriter(docs: DataFrame, name: String,
      checkpointDir: String): DataStreamWriter[Row] =
    writer(docs, checkpointDir)(batch =>
      Pipeline.invIndexAppend(batch.sparkSession, name, batch))()
}
