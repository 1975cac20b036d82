package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch microseconds; `parent` is 0 for a
  * root span. Kinds: "call" (a benchmark call into a public function),
  * "job" and "stage" (observed through the Spark listener).
  */
final case class SpanRec(id: Long, parent: Long, runId: String, name: String,
    kind: String, start: Long, end: Long, attrs: Map[String, Double]) {
  def dur: Long = end - start
  def json: String = Json.obj(Seq(
    "id" -> id.toString, "parent" -> parent.toString, "run_id" -> Json.str(runId),
    "name" -> Json.str(name), "kind" -> Json.str(kind),
    "start_us" -> start.toString, "end_us" -> end.toString,
    "attrs" -> Json.obj(attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
}

/** Per-task record kept by the listener. */
final case class TaskRec(stageId: Int, durationMs: Long, inputRecords: Long,
    shuffleReadRecords: Long)

/** Stage record with the metrics Spark reports on completion. */
final case class StageRec(stageId: Int, submit: Long, complete: Long,
    numTasks: Int, result: Boolean, inputRecords: Long,
    shuffleReadRecords: Long, shuffleWriteBytes: Long, outputRecords: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, spillBytes: Long)

final case class JobRec(jobId: Int, parent: Long, start: Long, end: Long,
    stageIds: Seq[Int])

/** Records benchmark call spans in memory, and Spark jobs, stages and tasks
  * through its own listener. Jobs are parented by the `perfbench.span`
  * local property, which `span` sets on the calling thread for the
  * duration of the call; stages are children of the job that ran them.
  * Nothing is written until `spans` is read at the end of the run.
  */
final class Tracer(val runId: String, sc: SparkContext) extends SparkListener {
  private val SpanProp = "perfbench.span"
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000

  private val calls = mutable.ArrayBuffer.empty[SpanRec]
  private var stack = List.empty[Long]
  private var nextId = 1L

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val stageResult = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()

  sc.addSparkListener(this)

  def stop(): Unit = sc.removeSparkListener(this)

  /** Attach or detach the listener (an untraced stretch inside a traced
    * run). Events already posted are delivered first, so a traced call
    * keeps its last jobs and an untraced one lends none.
    */
  def listen(on: Boolean): Unit = {
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    stop()
    if (on) sc.addSparkListener(this)
  }

  /** Run `f` inside a call span named `name`. */
  def span[A](name: String, attrs: => Map[String, Double] = Map.empty)(f: => A): A = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    sc.setLocalProperty(SpanProp, id.toString)
    val start = nowUs
    try f
    finally {
      val end = nowUs
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
      synchronized { calls += SpanRec(id, parent, runId, name, "call", start, end, attrs) }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, JobRec(e.jobId, parent, e.time * 1000, -1L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time * 1000))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    stageResult.put(e.stageId, e.taskType == "ResultTask")
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskRec(e.stageId, e.taskInfo.duration, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.recordsRead))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    if (m != null && s.submissionTime.isDefined && s.completionTime.isDefined)
      stages.put(s.stageId, StageRec(s.stageId, s.submissionTime.get * 1000,
        s.completionTime.get * 1000, s.numTasks,
        Option(stageResult.get(s.stageId)).exists(_.booleanValue),
        m.inputMetrics.recordsRead, m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.outputMetrics.recordsWritten, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Everything recorded so far, once the listener bus has caught up. */
  def snapshot(): Trace = {
    org.apache.spark.PerfbenchAccess.drainListeners(sc)
    val js = jobs.values.asScala.filter(_.end >= 0).toSeq.sortBy(_.jobId)
    val ss = stages.values.asScala.toSeq.sortBy(_.stageId)
    // a stage id can be listed by several jobs (reused shuffles); it
    // belongs to the job that was running when it was submitted
    val owner = ss.flatMap { s =>
      js.filter(j => j.stageIds.contains(s.stageId) && j.start <= s.submit + 1000)
        .sortBy(-_.start).headOption.map(j => s.stageId -> j.jobId)
    }.toMap
    val callSpans = synchronized(calls.toList)
    Trace(callSpans, js, ss, owner, tasks.asScala.toList)
  }
}

/** A frozen view of one run's spans, with the span tree built from it. */
final case class Trace(calls: Seq[SpanRec], jobs: Seq[JobRec], stages: Seq[StageRec],
    stageOwner: Map[Int, Int], tasks: Seq[TaskRec]) {

  def jobSpanId(jobId: Int): Long = 1000000000L + jobId
  def stageSpanId(stageId: Int): Long = 2000000000L + stageId

  def jobsUnder(callId: Long): Seq[JobRec] = jobs.filter(_.parent == callId)
  def stagesOf(jobId: Int): Seq[StageRec] =
    stages.filter(s => stageOwner.get(s.stageId).contains(jobId))

  /** Every span: calls, then jobs and stages as their children. */
  def allSpans(runId: String): Seq[SpanRec] = {
    val jobSpans = jobs.map { j =>
      SpanRec(jobSpanId(j.jobId), j.parent, runId, s"job ${j.jobId}", "job",
        j.start, j.end, Map("stages" -> stagesOf(j.jobId).length.toDouble))
    }
    val stageSpans = stages.flatMap { s =>
      stageOwner.get(s.stageId).map { jid =>
        SpanRec(stageSpanId(s.stageId), jobSpanId(jid), runId, s"stage ${s.stageId}",
          "stage", s.submit, s.complete, Map(
            "tasks" -> s.numTasks.toDouble, "result" -> (if (s.result) 1.0 else 0.0),
            "input_records" -> s.inputRecords.toDouble,
            "shuffle_read_records" -> s.shuffleReadRecords.toDouble,
            "shuffle_write_bytes" -> s.shuffleWriteBytes.toDouble,
            "output_records" -> s.outputRecords.toDouble))
      }
    }
    calls ++ jobSpans ++ stageSpans
  }
}

object Intervals {
  /** Total length covered by the union of [start, end) intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    xs.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of a span: its length minus what its children cover. */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) =>
      (math.max(s, span._1), math.min(e, span._2)) }
    (span._2 - span._1) - union(clipped)
  }
}
