package perfbench

import java.util.Properties
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed span of the benchmark: a call into one layer. Times are
  * epoch nanoseconds; `parent` is -1 for an op's root span. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      start: Long, var end: Long = 0L)

/** One op of the closed loop: a sync cycle or a catalog query. */
final case class Op(id: Int, name: String, phase: String, traced: Boolean,
                    start: Long, end: Long, ok: Boolean, error: String)

/** Spans, kept in memory and written out when the run ends. Spans open
  * only while `on`; each open span is published as the client thread's
  * `perfbench.span` local property, so every Spark job it submits (and
  * every job of a thread it starts) is charged to the innermost span. */
final class Tracer {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)

  @volatile var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _

  def bind(spark: SparkSession): Unit = sc = spark.sparkContext

  def span[T](name: String, op: Int)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), op, now())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        s.end = now()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }
}

object Tracer { val Prop = "perfbench.span" }

/** Per-job engine counters, charged to the span that submitted the job. */
final class JobRec(val id: Int, val span: Int, val start: Long) {
  var end = 0L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
}

/** Spark-side counters for the traced ops: jobs, stages and tasks from a
  * [[SparkListener]], analysis/optimization/planning from each
  * [[QueryExecution]]'s tracker, micro-batch phases from a
  * [[StreamingQueryListener]]. Everything arrives on listener threads and
  * is read after [[Listeners.drain]]; jobs carry the span that submitted
  * them, planner phases and micro-batches carry their start time. */
final class Listeners(spark: SparkSession) extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byJob = mutable.HashMap.empty[Int, JobRec]
  private val byStage = mutable.HashMap.empty[Int, JobRec]
  /** (phase start epoch ms, analysis ms, optimization ms, planning ms) */
  val plans = mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
  /** (batch start epoch ms, input rows, trigger, addBatch, queryPlanning, walCommit ms) */
  val batches = mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long, Long)]

  private def spanOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Prop))).fold(-1)(_.toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    if (s >= 0) {
      val j = new JobRec(e.jobId, s, e.time)
      jobs += j
      byJob(e.jobId) = j
      e.stageIds.foreach(byStage(_) = j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byJob.remove(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    byStage.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    byStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).fold(0L)(_.durationMs)
      val start = if (ph.isEmpty) System.currentTimeMillis()
        else ph.values.map(_.startTimeMs).min
      Listeners.this.synchronized {
        plans += ((start, ms("analysis"), ms("optimization"), ms("planning")))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).fold(0L)(_.longValue)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      Listeners.this.synchronized {
        batches += ((start, p.numInputRows, ms("triggerExecution"), ms("addBatch"),
          ms("queryPlanning"), ms("walCommit")))
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every event already posted has been delivered, then stop
    * listening. */
  def detach(): Unit = {
    Listeners.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

object Listeners {
  def drain(sc: SparkContext): Unit = org.apache.spark.BusAccess.drain(sc)
}
