package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** One span: a benchmark-side layer call, or a Spark job/stage/task child. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, var endMs: Long,
    attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty)

/** Task-level totals of one stage, filled from task-end events. */
final class StageRec(val id: Int) {
  var jobId: Int = -1
  var submitMs: Long = 0L
  var doneMs: Long = 0L
  var name: String = ""
  val taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  var runMs, outputBytes, shuffleRead, shuffleWrite, spill = 0L
  val taskSpans: mutable.ArrayBuffer[(Long, Long, Int)] = mutable.ArrayBuffer.empty
}

final class JobRec(val id: Int, val startMs: Long, val stageIds: Seq[Int], val execId: Long) {
  var endMs: Long = 0L
}

/** The benchmark's own SparkListener: records jobs, stages and tasks, and the
  * physical plan text of each SQL execution (to tell a sink write from a tail
  * job by its output path). Registered only by traced runs.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.LinkedHashMap[Int, StageRec]()
  val plans = mutable.HashMap[Long, String]()

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new JobRec(e.jobId, e.time, e.stageIds, exec)
    e.stageIds.foreach(s => stage(s).jobId = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
    s.doneMs = e.stageInfo.completionTime.getOrElse(0L)
    s.name = e.stageInfo.name
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stage(e.stageId)
      s.taskMs += m.executorRunTime
      s.runMs += m.executorRunTime
      s.outputBytes += m.outputMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime, e.taskInfo.index))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart =>
      synchronized { plans(x.executionId) = x.physicalPlanDescription }
    case _ =>
  }
}

/** Task-time totals over a set of stages. */
final case class Agg(wallS: Double, taskS: Double, shuffleWriteMb: Double, spillMb: Double,
    outputMb: Double, skew: Double)

/** Spans of one workload run. Disabled (untraced runs) it records nothing and
  * `span` only runs its body; the end-to-end timings never read it.
  */
final class Tracer(val runId: String, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _
  private val listeners = mutable.ArrayBuffer[JobListener]()
  private var current: JobListener = _

  /** Registers a fresh listener on the session's context (one per session). */
  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    current = new JobListener
    listeners += current
    context.addSparkListener(current)
  }

  /** Stops recording (for an untraced comparison op); what was recorded stays. */
  def detach(): Unit = if (enabled && current != null) {
    drain()
    sc.removeSparkListener(current)
    current = null
  }

  def drain(): Unit = if (enabled && sc != null && !sc.isStopped) org.apache.spark.PerfbenchBus.drain(sc)

  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, stack.headOption.map(_.id).getOrElse(-1), name,
        System.currentTimeMillis(), 0L)
      attrs.foreach { case (k, v) => s.attrs(k) = v }
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
      }
    }

  def find(name: String): Option[Span] = spans.findLast(_.name == name)

  /** `root` and every span under it. */
  def within(root: Span): Seq[Span] = { val ids = descendants(root); spans.filter(s => ids(s.id)).toSeq }

  private def descendants(root: Span): Set[Int] = {
    val ids = mutable.Set(root.id)
    spans.foreach(s => if (ids.contains(s.parent)) ids += s.id)
    ids.toSet
  }

  /** The innermost span open when a job started owns the job. */
  private def owner(j: JobRec): Int = {
    val open = spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
    if (open.isEmpty) -1 else open.maxBy(s => (s.startMs, s.id)).id
  }

  def jobsOf(root: Span): Seq[(JobListener, JobRec)] = {
    drain()
    val ids = descendants(root)
    for (l <- listeners.toSeq; j <- l.synchronized(l.jobs.values.toSeq) if ids(owner(j))) yield (l, j)
  }

  def stagesOf(root: Span): Seq[(JobListener, StageRec)] =
    jobsOf(root).flatMap { case (l, j) =>
      l.synchronized(j.stageIds.flatMap(l.stages.get).filter(_.taskMs.nonEmpty)).map(l -> _)
    }

  /** Totals of `stages`; skew is the worst max/median task time of any stage. */
  def agg(stages: Seq[StageRec], wallS: Double): Agg = {
    val skew = stages.map { s =>
      val t = s.taskMs.sorted
      if (t.isEmpty || t(t.length / 2) == 0) 1.0 else t.last.toDouble / t(t.length / 2)
    }.maxOption.getOrElse(0.0)
    Agg(wallS, stages.map(_.runMs).sum / 1e3, stages.map(_.shuffleWrite).sum / 1e6, stages.map(_.spill).sum / 1e6,
      stages.map(_.outputBytes).sum / 1e6, skew)
  }

  def aggOf(root: Span): Agg = agg(stagesOf(root).map(_._2), (root.endMs - root.startMs) / 1e3)

  /** Plan text of a job's SQL execution ("" when the job has none). */
  def planOf(l: JobListener, j: JobRec): String = l.synchronized(l.plans.getOrElse(j.execId, ""))

  /** All spans plus Spark jobs, stages and tasks as children, as one JSON document. */
  def toJson: String = {
    drain()
    val out = new StringBuilder
    var next = spans.length
    def emit(id: Int, parent: Int, name: String, start: Long, end: Long, attrs: Iterable[(String, Any)]): Unit = {
      if (out.nonEmpty) out.append(",\n")
      out.append(s"""{"id":$id,"parent":$parent,"run_id":${Json.str(runId)},"name":${Json.str(name)},""")
      out.append(s""""start_ms":$start,"end_ms":$end""")
      attrs.foreach { case (k, v) => out.append(",").append(Json.str(k)).append(":").append(Json.value(v)) }
      out.append("}")
    }
    spans.foreach(s => emit(s.id, s.parent, s.name, s.startMs, s.endMs, s.attrs))
    for (l <- listeners; j <- l.synchronized(l.jobs.values.toSeq)) {
      val jid = next; next += 1
      emit(jid, owner(j), s"spark.job.${j.id}", j.startMs, j.endMs,
        Seq("sql_execution" -> j.execId, "plan" -> planOf(l, j).take(300)))
      for (st <- l.synchronized(j.stageIds.flatMap(l.stages.get))) {
        val sid = next; next += 1
        emit(sid, jid, s"spark.stage.${st.id}", st.submitMs, st.doneMs, Seq("call_site" -> st.name,
          "task_s" -> st.runMs / 1e3, "shuffle_write_b" -> st.shuffleWrite, "output_b" -> st.outputBytes))
        st.taskSpans.foreach { case (a, b, idx) =>
          emit(next, sid, s"spark.task.$idx", a, b, Nil); next += 1
        }
      }
    }
    "{\"run_id\":" + Json.str(runId) + ",\"spans\":[\n" + out + "\n]}\n"
  }
}
