package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are epoch milliseconds so
  * the benchmark's own clocks and Spark's listener timestamps share one
  * axis. `layer` names the repo module the interval belongs to. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    layer: String, startMs: Double, endMs: Double)

/** Counters of one op execution, filled by the listeners while the op
  * runs. */
final class OpCounters {
  val n = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  def add(key: String, v: Double): Unit = n(key) += v
  /** (launch, finish) epoch ms of every task the op ran */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** triggerExecution ms of every micro-batch */
  val batchMs = mutable.ArrayBuffer.empty[Long]
  /** last reported state size per streaming query */
  val stateRows = mutable.Map.empty[java.util.UUID, (Long, Long)]
}

/** In-memory span recorder plus the three listeners of the traced run:
  * Spark jobs/stages/tasks (linked to their op through the local
  * property `perfbench.span`), planner phases from `qe.tracker`, and
  * streaming micro-batches. Spans stay in memory until the run ends. */
final class Tracer {
  /** Epoch ms with microsecond digits, from the wall clock that Spark's
    * listener timestamps read, so the two never drift apart. */
  def now(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1e3 + t.getNano / 1e6
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  /** A fresh span id; the span itself is added once it has ended. */
  def reserve(): Int = synchronized { nextId += 1; nextId }
  def add(s: Span): Unit = synchronized { spans += s }

  /** Records `body` as a span and returns the body's value; the body gets
    * the span's id, so that it can parent other spans. */
  def span[T](parent: Int, kind: String, name: String, layer: String)(
      body: Int => T): T = {
    val id = reserve()
    val t0 = now()
    try body(id)
    finally add(Span(id, parent, kind, name, layer, t0, now()))
  }

  // the build or sink span now running and the counters of its op; set
  // by the benchmark thread, read by listener threads
  @volatile var current: Int = 0
  @volatile var counters: OpCounters = new OpCounters

  /** job id -> (span id, parent span id, start) of running jobs */
  private val jobSpan = mutable.Map.empty[Int, (Int, Int, Double)]
  /** stage id -> (span id of its job, counters of its op) */
  private val stageJob = mutable.Map.empty[Int, (Int, OpCounters)]

  // every listener callback holds the tracer's lock: the three listeners
  // run on different listener-bus threads and share the op's counters
  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        val parent = Option(e.properties)
          .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
          .map(_.toInt).getOrElse(current)
        val id = reserve()
        counters.add("exec.jobs", 1)
        jobSpan(e.jobId) = (id, parent, e.time.toDouble)
        e.stageIds.foreach(s => stageJob(s) = (id, counters))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobSpan.remove(e.jobId).foreach { case (id, parent, t0) =>
          add(Span(id, parent, "job", s"job ${e.jobId}", "exec", t0,
            e.time.toDouble))
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        for {
          (job, c) <- stageJob.get(info.stageId)
          t0 <- info.submissionTime
          t1 <- info.completionTime
        } {
          c.add("exec.stages", 1)
          add(Span(reserve(), job, "stage", s"stage ${info.stageId}", "exec",
            t0.toDouble, t1.toDouble))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        val c = stageJob.get(e.stageId).map(_._2).getOrElse(counters)
        c.add("exec.tasks", 1)
        c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        Option(e.taskMetrics).foreach { m =>
          c.add("exec.task_run_s", m.executorRunTime / 1e3)
          c.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
          c.add("exec.task_deser_s", m.executorDeserializeTime / 1e3)
          c.add("exec.gc_s", m.jvmGCTime / 1e3)
          c.add("sources.bytes_read", m.inputMetrics.bytesRead.toDouble)
          c.add("sources.rows_read", m.inputMetrics.recordsRead.toDouble)
          c.add("sources.bytes_written", m.outputMetrics.bytesWritten.toDouble)
          c.add("sources.rows_written",
            m.outputMetrics.recordsWritten.toDouble)
          val sw = m.shuffleWriteMetrics
          val sr = m.shuffleReadMetrics
          c.add("shuffle.bytes_written", sw.bytesWritten.toDouble)
          c.add("shuffle.records_written", sw.recordsWritten.toDouble)
          c.add("shuffle.write_s", sw.writeTime / 1e9)
          c.add("shuffle.bytes_read", sr.totalBytesRead.toDouble)
          c.add("shuffle.fetch_wait_s", sr.fetchWaitTime / 1e3)
          c.add("shuffle.spill_bytes",
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val c = counters
      c.add("planner.queries", 1)
      qe.tracker.phases.foreach { case (phase, p) =>
        c.add(s"planner.${phase}_s", p.durationMs / 1e3)
        add(Span(reserve(), current, "phase", phase, "planner",
          p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
      // a failed query may have no executed plan
      val files = scala.util.Try(qe.executedPlan.collect {
        case w: DataWritingCommandExec =>
          w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum).getOrElse(0L)
      c.add("sources.files_written", files.toDouble)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val c = counters
        def ms(k: String): Long =
          Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        c.add("streaming.batches", 1)
        if (p.numInputRows == 0) c.add("streaming.empty_batches", 1)
        c.add("streaming.rows_in", p.numInputRows.toDouble)
        c.add("streaming.add_batch_s", ms("addBatch") / 1e3)
        c.add("streaming.wal_commit_s", ms("walCommit") / 1e3)
        c.add("streaming.commit_offsets_s", ms("commitOffsets") / 1e3)
        c.add("streaming.query_planning_s", ms("queryPlanning") / 1e3)
        val trigger = ms("triggerExecution")
        c.batchMs += trigger
        c.stateRows(p.id) = (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        add(Span(reserve(), current, "batch", s"${p.name} #${p.batchId}",
          "streaming", t0, t0 + trigger))
      }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
