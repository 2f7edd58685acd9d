package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run.
  *
  * The benchmark opens workload, pass, set-up and operator spans around
  * its own calls into the engine; a `SparkListener` adds the job and
  * stage spans beneath them and a `QueryExecutionListener` records
  * Catalyst planning time. A job is parented to the span named by the
  * `perfbench.span` local property of the thread that submitted it, a
  * stage to the latest job that listed it. Times are epoch milliseconds,
  * the clock Spark stamps its events with.
  *
  * Attach only between drains: events still queued when a listener is
  * removed are lost, so [[detach]] waits for the listener bus first.
  */
final class Trace {
  import Trace.Span

  private var nextId = 0L
  private val spans = ArrayBuffer.empty[Span]
  private val jobSpan = mutable.HashMap.empty[Int, Span]
  private val stageJob = mutable.HashMap.empty[Int, Span]
  /** (start, duration) of each Catalyst planning run, epoch ms */
  private val planning = ArrayBuffer.empty[(Long, Long)]
  private var failedTasks = 0L

  def open(kind: String, name: String, parent: Long): Span = synchronized {
    nextId += 1
    val s = new Span(nextId, parent, kind, name, System.currentTimeMillis())
    spans += s
    s
  }

  def close(s: Span): Unit = synchronized { s.endMs = System.currentTimeMillis() }

  /** Runs `body` inside `s`: jobs it submits are parented to `s`. */
  def within[T](spark: SparkSession, s: Span)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Trace.Prop)
    sc.setLocalProperty(Trace.Prop, s.id.toString)
    try body finally { sc.setLocalProperty(Trace.Prop, prev); close(s) }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Prop)))
        .map(_.toLong).getOrElse(0L)
      nextId += 1
      val s = new Span(nextId, parent, "job", s"job ${e.jobId}", e.time)
      spans += s
      jobSpan(e.jobId) = s
      e.stageIds.foreach(stageJob(_) = s)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobSpan.remove(e.jobId).foreach(_.endMs = e.time)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      val parent = stageJob.get(i.stageId).map(_.id).getOrElse(0L)
      nextId += 1
      val start = i.submissionTime.getOrElse(0L)
      val s = new Span(nextId, parent, "stage", s"stage ${i.stageId}", start)
      s.endMs = i.completionTime.getOrElse(start)
      val m = i.taskMetrics
      if (m != null) {
        s.attrs ++= Seq(
          "tasks" -> i.numTasks.toDouble,
          "run_ms" -> m.executorRunTime.toDouble,
          "cpu_ns" -> m.executorCpuTime.toDouble,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
          "spill_bytes" -> m.diskBytesSpilled.toDouble,
          "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
          "input_records" -> m.inputMetrics.recordsRead.toDouble)
      }
      spans += s
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != Success) Trace.this.synchronized { failedTasks += 1 }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) Trace.this.synchronized {
        planning += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def detach(spark: SparkSession): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  def failedTaskCount: Long = synchronized(failedTasks)

  private def children(p: Span, kind: String): Seq[Span] =
    spans.iterator.filter(s => s.parent == p.id && s.kind == kind).toSeq

  def jobsOf(p: Span): Seq[Span] = synchronized(children(p, "job"))

  /** Sum of stage attribute `key` over the jobs of `p`. */
  def stageSum(p: Span, key: String): Double = synchronized {
    jobsOf(p).flatMap(children(_, "stage")).map(_.attrs.getOrElse(key, 0.0)).sum
  }

  def stageCount(p: Span): Int = synchronized { jobsOf(p).map(children(_, "stage").size).sum }

  /** Driver self time of `p`: its duration minus the part its jobs cover. */
  def selfMs(p: Span): Long = synchronized {
    val iv = jobsOf(p).map(j => (math.max(j.startMs, p.startMs), math.min(j.endMs, p.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    p.ms - covered
  }

  def planningMs(p: Span): Long = synchronized {
    planning.iterator.filter { case (t, _) => t >= p.startMs && t <= p.endMs }.map(_._2).sum
  }

  /** Every span as a record, for the traced run's `trace.json`. */
  def spanRecords: Seq[ListMap[String, Any]] = synchronized {
    spans.toSeq.map { s =>
      ListMap("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "attrs" -> s.attrs)
    }
  }
}

object Trace {
  val Prop = "perfbench.span"

  final class Span(val id: Long, val parent: Long, val kind: String,
      val name: String, val startMs: Long) {
    var endMs: Long = startMs
    val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
    def ms: Long = endMs - startMs
  }
}
