package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** What one batch operator holds resident — persisted relations and
  * eager local checkpoints — and the one rule that frees it: whatever
  * is still held when the operator's scope ends is released, newest
  * first (so a dependent relation is never orphaned before its own
  * release runs), on success and on failure alike — [[Residents.apply]]
  * releases in `finally`.
  *
  * A resident leaves the scope early in two ways: [[release]] frees it
  * now (an iterative loop's superseded round), [[detach]] hands it to
  * the caller without freeing (an operator's lazily returned result;
  * its blocks are then reclaimed by the ContextCleaner when the result
  * is dropped). Both are idempotent: a second call for the same
  * relation does nothing. A result that must outlive the scope and is
  * bounded by construction is [[snapshot]]ted instead.
  *
  * Registration is thread-safe: the two branches of a
  * [[Pipeline.par2]] register in one scope at the same time. */
private[graft] final class Residents private () {
  private val held =
    scala.collection.mutable.ArrayBuffer.empty[(DataFrame, () => Unit)]

  /** `df` persisted at `level`, unpersisted when released. */
  def persist(df: DataFrame, level: StorageLevel): DataFrame =
    hold(df.persist(level), () => { df.unpersist(blocking = false); () })

  /** `df` EAGERLY local-checkpointed — materialized, with its logical
    * lineage truncated to one `LogicalRDD` leaf — and its blocks freed
    * when released. `localCheckpoint` alone frees them only when the
    * driver GCs the RDD reference, and checkpoint blocks bypass the
    * CacheManager (`clearCache()` cannot reclaim them), so an
    * iterative loop would otherwise pin O(rounds) superseded copies.
    * The RDD is taken from the returned plan itself, never by diffing
    * the global persisted-RDD set (racy under concurrent queries).
    *
    * CAUTION: releasing a checkpoint is LOSSY, not a recompute — once
    * its blocks are dropped, a plan still reading it FAILS rather than
    * re-deriving it. Release a round only after every consumer of it
    * has executed. */
  def checkpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    val rdds = cp.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
    hold(cp, () => {
      // Spark WARNs on every unpersist of a locally-checkpointed RDD
      // ("lineage has been truncated ..."). Here the release is the
      // whole point and safe (CAUTION above), so the logger is raised
      // to ERROR for exactly this call, not process-wide, which would
      // also hide a genuine block-loss WARN from an unrelated stage.
      // A concurrent query's WARN landing inside this window of a few
      // synchronous log calls is the accepted residual risk.
      val name = "org.apache.spark.rdd.MapPartitionsRDD"
      val prev = org.apache.logging.log4j.LogManager.getLogger(name).getLevel
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        name, org.apache.logging.log4j.Level.ERROR)
      try rdds.foreach(_.unpersist(blocking = false))
      finally org.apache.logging.log4j.core.config.Configurator.setLevel(name, prev)
    })
  }

  /** Collect a BOUNDED relation into a local DataFrame, so the result
    * outlives every resident it was computed from. Only for relations
    * bounded by construction (legK·|queries|, ≤|lang| reports, a
    * sweep's per-config rows). */
  def snapshot(bounded: DataFrame): DataFrame = {
    val rows = bounded.collect()
    bounded.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), bounded.schema)
  }

  /** Free `df` now; nothing if it is not (or no longer) held. */
  def release(df: DataFrame): Unit = take(df).foreach(_())

  /** Stop holding `df` WITHOUT freeing it: it now belongs to the caller. */
  def detach(df: DataFrame): Unit = { take(df); () }

  private def hold(df: DataFrame, free: () => Unit): DataFrame = {
    held.synchronized { held += df -> free }
    df
  }

  private def take(df: DataFrame): Option[() => Unit] = held.synchronized {
    val i = held.indexWhere(_._1 eq df)
    if (i < 0) None else Some(held.remove(i)._2)
  }

  private def releaseAll(): Unit = {
    val all = held.synchronized { val a = held.toList; held.clear(); a }
    all.reverseIterator.foreach(_._2())
  }
}

private[graft] object Residents {

  /** Run `body` with a fresh scope and release whatever it still holds
    * when `body` returns or throws. */
  private[graft] def apply[T](body: Residents => T): T = {
    val r = new Residents
    try body(r) finally r.releaseAll()
  }
}
