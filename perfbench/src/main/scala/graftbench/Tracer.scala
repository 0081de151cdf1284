package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed phase of one step: `construct` is the call that returns the
 * DataFrame (eager operators run jobs here), `execute` runs it. Spans of one
 * pass share `pass`. Times are epoch milliseconds. */
final case class Span(pass: String, step: String, module: String, phase: String,
    startMs: Long, endMs: Long) {
  def id: String = s"$pass/$step/$phase"
  def wallS: Double = (endMs - startMs) / 1e3
}

/** Counters derived for one span from the Spark events it caused. */
final case class SpanStats(jobs: Int, tasks: Int, taskS: Double, idleS: Double,
    singleTaskS: Double, shuffleBytes: Long, spillBytes: Long, inputRecords: Long,
    outputBytes: Long)

/**
 * Bench-owned listener: attributes Spark jobs, stages and tasks to the span
 * whose call caused them, through the `graftbench.span` local property the
 * step runner sets around each phase (stream execution threads inherit it
 * when the query starts). Everything is kept in memory and read after the
 * pass; nothing is computed on the listener thread.
 */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobSpans = new ConcurrentLinkedQueue[(String, Int)]()
  private val stageSpans = new ConcurrentHashMap[Int, String]()
  private val stageTimes = new ConcurrentHashMap[Int, (Int, Long, Long)]()
  private val taskEnds = new ConcurrentLinkedQueue[TaskRec]()
  val progress = new ConcurrentLinkedQueue[(String, StreamingQueryListener.QueryProgressEvent)]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .foreach(s => jobSpans.add(s -> e.jobId))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .foreach(s => stageSpans.put(e.stageInfo.stageId, s))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stageTimes.put(i.stageId, (i.numTasks, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) taskEnds.add(TaskRec(e.stageId, e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
      m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten))
  }

  /** Streaming progress, tagged with the span that started the query. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(Option(currentSpan).getOrElse("") -> e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Span currently open on the client thread (for streaming progress). */
  @volatile var currentSpan: String = _

  /** Counters for `span`, from the events received so far. */
  def stats(span: Span): SpanStats = {
    val id = span.id
    val jobs = jobSpans.asScala.count(_._1 == id)
    val stages = stageSpans.asScala.collect { case (st, s) if s == id => st }.toSet
    val tasks = taskEnds.asScala.filter(t => stages.contains(t.stageId)).toSeq
    val busy = unionMs(tasks.map(t => (t.launchMs, t.finishMs)), span)
    val single = unionMs(stages.toSeq.flatMap(st => Option(stageTimes.get(st)))
      .collect { case (1, s, e) => (s, e) }, span)
    SpanStats(jobs, tasks.size, tasks.map(_.runMs).sum / 1e3,
      math.max(0L, span.endMs - span.startMs - busy) / 1e3, single / 1e3,
      tasks.map(_.shuffleBytes).sum, tasks.map(_.spillBytes).sum,
      tasks.map(_.inputRecords).sum, tasks.map(_.outputBytes).sum)
  }
}

object Tracer {
  val SpanKey = "graftbench.span"

  private final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
      shuffleBytes: Long, spillBytes: Long, inputRecords: Long, outputBytes: Long)

  /** Milliseconds of `span` covered by the union of `intervals`. */
  private def unionMs(intervals: Seq[(Long, Long)], span: Span): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, span.startMs), math.min(e, span.endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The ten generic counters of every module, summed over the module's
   * spans of one pass. `construct_*` and `execute_s`/`jobs` are per phase;
   * the task-level counters cover both phases, because eager operators run
   * their tasks while the DataFrame is being built. */
  def moduleMetrics(module: String, spans: Seq[(Span, SpanStats)]): Seq[(String, Double)] = {
    val mine = spans.filter(_._1.module == module)
    val cons = mine.filter(_._1.phase == "construct")
    val exec = mine.filter(_._1.phase == "execute")
    val wall = mine.map(_._1.wallS).sum
    val taskS = mine.map(_._2.taskS).sum
    Seq(
      "construct_s" -> cons.map(_._1.wallS).sum,
      "construct_jobs" -> cons.map(_._2.jobs).sum.toDouble,
      "execute_s" -> exec.map(_._1.wallS).sum,
      "jobs" -> exec.map(_._2.jobs).sum.toDouble,
      "tasks" -> mine.map(_._2.tasks).sum.toDouble,
      "parallelism" -> (if (wall > 0) taskS / wall else 0.0),
      "idle_s" -> mine.map(_._2.idleS).sum,
      "single_task_s" -> mine.map(_._2.singleTaskS).sum,
      "shuffle_bytes" -> mine.map(_._2.shuffleBytes).sum.toDouble,
      "spill_bytes" -> mine.map(_._2.spillBytes).sum.toDouble
    ).map { case (k, v) => s"$module.$k" -> v }
  }

  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  /** Per-pass kernel and outcome metrics: throughputs per core-second of
   * the steps tagged with each kernel, the scan rate (parquet MB of the
   * scanned tables per second of scan-step wall time), plus the streaming
   * progress digest. */
  def kernelMetrics(steps: Seq[Step], spans: Seq[(Span, SpanStats)], textMb: Double,
      scanMb: Double, inputRows: Map[String, Long],
      progress: Seq[StreamingQueryListener.QueryProgressEvent]): Map[String, Double] = {
    def tagged(k: String) = {
      val names = steps.filter(_.kernel.contains(k)).map(_.name).toSet
      spans.filter(s => names.contains(s._1.step))
    }
    def perCore(k: String, work: Seq[(Span, SpanStats)] => Double): Double = {
      val ss = tagged(k)
      val core = ss.map(_._2.taskS).sum
      if (core > 0) work(ss) / core else 0.0
    }
    def nSteps(ss: Seq[(Span, SpanStats)]) = ss.map(_._1.step).distinct.size
    val scans = tagged("scan")
    val scanWall = scans.map(_._1.wallS).sum
    val batches = progress.map(_.progress)
    def dur(b: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(b.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val finals = batches.groupBy(_.id).values.map(_.maxBy(_.batchId)).toSeq
    Map(
      "sources.input_splits" -> scans.map(_._2.tasks).sum.toDouble,
      "sources.scan_mb_per_s" -> (if (scanWall > 0) scanMb / scanWall else 0.0),
      "hll.update_rows_per_core_s" -> perCore("hll.update", _.map(_._2.inputRecords).sum.toDouble),
      "hll.merge_sketches_per_core_s" ->
        perCore("hll.merge", _.map(_._2.inputRecords).sum.toDouble),
      "hll.sketch_bytes" -> tagged("hll.update").map(_._2.outputBytes).sum.toDouble,
      "theta.update_rows_per_core_s" ->
        perCore("theta.update", _.map(_._2.inputRecords).sum.toDouble),
      "kll.update_rows_per_core_s" -> perCore("kll.update", _.map(_._2.inputRecords).sum.toDouble),
      "freq.update_rows_per_core_s" ->
        perCore("freq.update", _.map(_._2.inputRecords).sum.toDouble),
      "dedup.signature_mb_per_core_s" -> perCore("dedup.signature", ss => nSteps(ss) * textMb),
      "similarity.vectors_per_core_s" ->
        perCore("similarity.vectors", ss => nSteps(ss) * inputRows.getOrElse("embeddings", 0L).toDouble),
      "text.scrub_mb_per_core_s" -> perCore("text.scrub", ss => nSteps(ss) * textMb),
      "text.stats_mb_per_core_s" -> perCore("text.stats", ss => nSteps(ss) * textMb),
      "text.bpe_encode_mb_per_core_s" -> perCore("text.bpe_encode", ss => nSteps(ss) * textMb),
      "operators.pack_rows_per_core_s" ->
        perCore("operators.pack", ss => nSteps(ss) * inputRows.getOrElse("documents", 0L).toDouble),
      "streaming.batches" -> batches.size.toDouble,
      "streaming.batch_ms_p50" -> percentile(batches.map(_.batchDuration.toDouble), 0.5),
      "streaming.batch_ms_p90" -> percentile(batches.map(_.batchDuration.toDouble), 0.9),
      "streaming.add_batch_ms_p50" -> percentile(batches.map(dur(_, "addBatch")), 0.5),
      "streaming.wal_commit_ms_p50" -> percentile(batches.map(dur(_, "walCommit")), 0.5),
      "streaming.state_commit_ms_p50" ->
        percentile(batches.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble), 0.5),
      "streaming.state_rows" -> finals.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble,
      "streaming.state_memory_bytes" ->
        finals.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum.toDouble)
  }
}
