package perfbench

import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch microseconds with nanoTime resolution. Listener timestamps are
  * epoch milliseconds, so both land on one time axis. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def us(): Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** One traced interval. `parent` is -1 when the harness cannot know it
  * (jobs, stages and micro-batches): the loop is serial, so the report
  * attaches those by time window. */
final case class Span(kind: String, name: String, startUs: Long,
    endUs: Long, id: Long, parent: Long, sweep: Int, query: String,
    job: Int = -1)

/** One micro-batch progress event, reduced to what the report needs. */
final case class Batch(run: String, durations: Map[String, Long],
    inputRows: Long, stateRows: Long, stateUpdated: Long, stateRemoved: Long,
    stateMem: Long, stateCommitMs: Long)

/** Counters for one query execution. Listener threads write, the harness
  * reads after draining the bus. */
final class Ledger {
  private val m = mutable.LinkedHashMap.empty[String, Double]
  val jobStartsMs = mutable.ArrayBuffer.empty[Long]
  val batches = mutable.ArrayBuffer.empty[Batch]
  def add(k: String, v: Double): Unit = synchronized {
    m(k) = m.getOrElse(k, 0.0) + v
  }
  def jobStarted(ms: Long): Unit = synchronized { jobStartsMs += ms }
  def batch(b: Batch): Unit = synchronized { batches += b }
  def counters: Map[String, Double] = synchronized { m.toMap }
}

/** The traced run's listeners: scheduler, task metrics, Catalyst phases
  * and streaming progress, all attached from outside the engine. */
final class Tracer(spark: SparkSession) {
  @volatile var ledger: Ledger = new Ledger
  @volatile var sweep: Int = -1
  @volatile var query: String = ""
  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentHashMap[Int, (Long, Seq[Int])]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val submitted = ConcurrentHashMap.newKeySet[Int]()

  private def span(kind: String, name: String, s: Long, e: Long,
      job: Int = -1): Unit =
    spans.add(Span(kind, name, s, e, -1, -1, sweep, query, job))

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, (e.time, e.stageIds))
      e.stageIds.foreach(stageJob.put(_, e.jobId))
      ledger.jobStarted(e.time)
      ledger.add("scheduler.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.remove(e.jobId)).foreach { case (t0, stages) =>
        ledger.add("scheduler.stages_skipped",
          stages.count(id => !submitted.contains(id)))
        span("job", s"job ${e.jobId}", t0 * 1000L, e.time * 1000L, e.jobId)
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      submitted.add(e.stageInfo.stageId)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      ledger.add("scheduler.stages", 1)
      for (s <- i.submissionTime; c <- i.completionTime)
        span("stage", s"stage ${i.stageId}.${i.attemptNumber()}",
          s * 1000L, c * 1000L, stageJob.getOrDefault(i.stageId, -1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val l = ledger
      val info = e.taskInfo
      l.add("scheduler.tasks", 1)
      if (info != null && !info.successful) l.add("scheduler.failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val dur = if (info != null) info.finishTime - info.launchTime else 0L
        l.add("scheduler.delay_ms", math.max(0L, dur - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime).toDouble)
        l.add("executor.run_ms", m.executorRunTime.toDouble)
        l.add("executor.cpu_ms", m.executorCpuTime / 1e6)
        l.add("executor.gc_ms", m.jvmGCTime.toDouble)
        l.add("shuffle.read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
        l.add("shuffle.records_read", m.shuffleReadMetrics.recordsRead.toDouble)
        l.add("shuffle.write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        l.add("shuffle.write_ms", m.shuffleWriteMetrics.writeTime / 1e6)
        l.add("io.input_b", m.inputMetrics.bytesRead.toDouble)
        l.add("io.output_b", m.outputMetrics.bytesWritten.toDouble)
        l.add("io.spill_b", m.diskBytesSpilled.toDouble)
      }
    }
  }

  private val catalyst = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      for ((phase, key) <- Seq("analysis" -> "catalyst.analysis_ms",
          "optimization" -> "catalyst.optimization_ms",
          "planning" -> "catalyst.planning_ms"))
        p.get(phase).foreach(s => ledger.add(key, s.durationMs.toDouble))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = phases(qe)
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = mutable.Map.empty[String, Long]
      p.durationMs.forEach((k, v) => d(k) = v.longValue)
      val start = Instant.parse(p.timestamp).toEpochMilli
      val ops = p.stateOperators
      ledger.batch(Batch(p.runId.toString, d.toMap, p.numInputRows,
        ops.map(_.numRowsTotal).sum, ops.map(_.numRowsUpdated).sum,
        ops.map(_.numRowsRemoved).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum))
      span("batch", s"batch ${p.batchId}", start * 1000L,
        (start + d.getOrElse("triggerExecution", 0L)) * 1000L)
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(catalyst)
    spark.streams.addListener(streaming)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.Drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(catalyst)
    spark.streams.removeListener(streaming)
  }

  /** Start attributing events to a fresh ledger. */
  def open(sweepNo: Int, name: String): Ledger = {
    org.apache.spark.perfbench.Drain(spark.sparkContext)
    sweep = sweepNo; query = name; ledger = new Ledger; ledger
  }

  /** Wait until every event of the current query has been delivered. */
  def close(): Unit = org.apache.spark.perfbench.Drain(spark.sparkContext)

  def harnessSpan(kind: String, name: String, s: Long, e: Long, id: Long,
      parent: Long): Unit =
    spans.add(Span(kind, name, s, e, id, parent, sweep, query))
}
