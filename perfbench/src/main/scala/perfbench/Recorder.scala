package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._

/** A benchmark span: one timed call into a layer, in epoch milliseconds.
  * `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)

/** Spans recorded from the benchmark's own code. They are kept in memory
  * and written out with the run's result. The id of the innermost open
  * span travels to Spark as the local property [[Spans.Property]], so
  * the jobs a call starts are attributed to it. */
final class Spans(sc: org.apache.spark.SparkContext, enabled: Boolean) {
  private val base = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var next = 0

  /** Wall clock in epoch ms with sub-millisecond resolution. */
  def now(): Double = base + (System.nanoTime() - nano0) / 1e6

  /** Time `body`; record it as a span when tracing is on. Returns the
    * body's value and its duration in ms. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val id = next
    next += 1
    val parent = open.headOption.getOrElse(-1)
    if (enabled) {
      open = id :: open
      sc.setLocalProperty(Spans.Property, id.toString)
    }
    val t0 = now()
    try {
      val v = body
      (v, now() - t0)
    } finally {
      val t1 = now()
      if (enabled) {
        done += Span(id, parent, name, t0, t1)
        open = open.tail
        sc.setLocalProperty(Spans.Property, open.headOption.map(_.toString).orNull)
      }
    }
  }

  def all: Seq[Span] = done.toSeq
}

object Spans {
  val Property = "perfbench.span"
}

/** Reads Spark's listener channel during a traced run: job and stage
  * lifecycles, per-task metrics folded per stage, and block updates. */
final class Recorder extends SparkListener {
  final class Job(val id: Int, val start: Long, val stageIds: Seq[Int],
      val span: String, val batch: String) {
    @volatile var end: Long = -1L
    @volatile var stagesRun: Int = 0
  }
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var shWrite = 0L; var shRead = 0L; var spill = 0L
    var inBytes = 0L; var inRecords = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  val evictedBlocks = new AtomicLong
  val diskBlocks = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).orNull
    jobs(e.jobId) = new Job(e.jobId, e.time, e.stageIds, prop(Spans.Property),
      prop("streaming.sql.batchId"))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stagesRun += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.shRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      a.spill += m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    if (e.blockUpdatedInfo.blockId.isRDD) {
      val lvl = e.blockUpdatedInfo.storageLevel
      if (!lvl.isValid) evictedBlocks.incrementAndGet()
      else if (lvl.useDisk && e.blockUpdatedInfo.diskSize > 0) diskBlocks.incrementAndGet()
    }

  /** Jobs with their stage count, the stages that actually ran, and the
    * task metrics of the stages each job owns. */
  def jobsJson: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map { j =>
      val aggs = j.stageIds.filter(s => stageJob.get(s).contains(j.id)).flatMap(stages.get)
      Map(
        "id" -> j.id, "start" -> j.start, "end" -> j.end, "span" -> j.span,
        "batch" -> j.batch,
        "stages" -> j.stageIds.size, "stages_run" -> j.stagesRun,
        "tasks" -> aggs.map(_.tasks).sum, "task_ms" -> aggs.map(_.runMs).sum,
        "cpu_ms" -> aggs.map(_.cpuNs).sum / 1e6,
        "shuffle_write_b" -> aggs.map(_.shWrite).sum,
        "shuffle_read_b" -> aggs.map(_.shRead).sum,
        "spill_b" -> aggs.map(_.spill).sum,
        "input_b" -> aggs.map(_.inBytes).sum,
        "input_records" -> aggs.map(_.inRecords).sum)
    }
  }
}
