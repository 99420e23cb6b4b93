package e2ebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.IncrementalExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: wall-clock epoch milliseconds; `parent` and `req` are -1 when
  * the span cannot be attributed (concurrent clients). */
final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
    parent: Long, req: Long)

/** Work counted between two points of a run. */
final class Counters {
  val jobs, stages, tasks, jobMs, taskMs, inputRows, inputBytes, shuffleBytes,
    schedWaitMs, analysisMs, optimizationMs, planningMs = new LongAdder
}

/** Everything the traced run observes from outside the layers: Spark job,
  * stage and task events, Catalyst phase times, streaming progress and the
  * benchmark's own spans around its calls into each layer. Spans stay in
  * memory until [[writeSpans]]. */
final class Trace(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  /** Counters of the current phase; swapped by the run. Listeners stay
    * attached for the whole traced run and count only while `recording`. */
  @volatile var counters = new Counters
  @volatile var recording = false
  /** Request span that Spark work is attributed to while exactly one
    * request is in flight (-1 otherwise). */
  @volatile var current: Long = -1L
  @volatile private var currentReq: Long = -1L
  def attribute(spanId: Long, req: Long): Unit = { current = spanId; currentReq = req }

  def nextId(): Long = ids.incrementAndGet()
  def span(name: String, startMs: Double, endMs: Double, parent: Long,
      req: Long, id: Long = nextId()): Long = {
    spans.add(Span(id, name, startMs, endMs, parent, req)); id
  }
  def nowMs: Double = System.currentTimeMillis().toDouble

  /** Peak bytes of cached RDD blocks. */
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val cachedNow = new AtomicLong(0)
  val cachedPeak = new AtomicLong(0)

  // streaming side (live): per micro-batch of each query
  final class Stream { val batches, batchMs, rows = new LongAdder }
  val ingest = new Stream
  val subs = new Stream
  @volatile var ingestId: java.util.UUID = null
  /** Rows the ingest query has appended so far, and backlog samples (raw
    * files written but not yet ingested) taken at each ingest batch. */
  val ingestedRows = new AtomicLong(0)
  val backlog = new ConcurrentLinkedQueue[java.lang.Long]()
  @volatile var backlogNow: () => Long = () => 0L

  private val streamingStages = ConcurrentHashMap.newKeySet[Integer]()
  private val jobStart = new ConcurrentHashMap[Integer, (Double, Long, Long)]()
  private val stageSubmit = new ConcurrentHashMap[Integer, java.lang.Long]()

  private def isStreaming(p: java.util.Properties): Boolean =
    p != null && p.getProperty("sql.streaming.queryId") != null

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (isStreaming(e.properties)) e.stageIds.foreach(s => streamingStages.add(s))
      else if (recording) {
        jobStart.put(e.jobId, (e.time.toDouble, current, currentReq))
        counters.jobs.increment()
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStart.remove(e.jobId)
      if (s != null) {
        counters.jobMs.add(e.time - s._1.toLong)
        span("spark.job", s._1, e.time.toDouble, s._2, s._3)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (recording && !streamingStages.contains(e.stageInfo.stageId)) {
        counters.stages.increment()
        stageSubmit.put(e.stageInfo.stageId,
          Long.box(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (recording && stageSubmit.containsKey(e.stageId) && e.taskInfo != null) {
        val c = counters
        c.tasks.increment()
        c.taskMs.add(e.taskInfo.duration)
        val sub = stageSubmit.get(e.stageId)
        if (sub != null) c.schedWaitMs.add(math.max(0L, e.taskInfo.launchTime - sub))
        val m = e.taskMetrics
        if (m != null) {
          c.inputRows.add(m.inputMetrics.recordsRead)
          c.inputBytes.add(m.inputMetrics.bytesRead)
          c.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = b.memSize + b.diskSize
        val prev = if (size > 0) blocks.put(b.blockId.name, size)
          else blocks.remove(b.blockId.name)
        val now = cachedNow.addAndGet(size - (if (prev == null) 0L else prev.longValue))
        if (recording) cachedPeak.accumulateAndGet(now, math.max)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      if (recording && !fromStream(qe)) {
        val c = counters
        val (cur, req) = (current, currentReq)
        def phase(name: String, into: LongAdder): Unit =
          qe.tracker.phases.get(name).foreach { p =>
            into.add(p.durationMs)
            span(s"catalyst.$name", p.startTimeMs.toDouble, p.endTimeMs.toDouble, cur, req)
          }
        phase("analysis", c.analysisMs)
        phase("optimization", c.optimizationMs)
        phase("planning", c.planningMs)
      }
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Micro-batch plans and the frames a foreachBatch sink collects. */
  private def fromStream(qe: QueryExecution): Boolean =
    qe.isInstanceOf[IncrementalExecution] || qe.logical.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.id == ingestId) ingestedRows.addAndGet(p.numInputRows)
      if (recording && p.numInputRows > 0) {
        val s = if (p.id == ingestId) ingest else subs
        s.batches.increment()
        s.rows.add(p.numInputRows)
        s.batchMs.add(p.durationMs.getOrDefault("triggerExecution", 0L))
        if (p.id == ingestId) backlog.add(backlogNow())
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.E2eBridge.drain(spark.sparkContext)

  /** Per-layer self time: a span's duration minus the union of its
    * children's intervals, summed per span name (milliseconds). */
  def selfTimes: Map[String, Double] = {
    val all = spans.toArray(new Array[Span](0)).toSeq
    val kids = all.filter(_.parent >= 0).groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0.0, Double.MinValue)) { case ((tot, hi), (a, b)) =>
            if (b <= hi) (tot, hi) else (tot + b - math.max(a, hi), b)
          }._1
        s.endMs - s.startMs - covered
      }.sum
    }
  }

  def writeSpans(file: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(file)
    try spans.forEach { s =>
      w.write(f"""{"id":${s.id},"name":"${s.name}","start_ms":${s.startMs}%.3f,""" +
        f""""end_ms":${s.endMs}%.3f,"parent":${s.parent},"req":${s.req}}""")
      w.newLine()
    } finally w.close()
  }
}
